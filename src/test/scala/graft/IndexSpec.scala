package graft

import java.nio.file.Files
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.{Codec, IndexBuild, IndexConfig}
import graft.query.{Bm25, BruteScorer, Engine, Index}
import graft.query.Engine.{QuerySpec, Route}

class IndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(tag: String): String = tempDir(s"graft-$tag")

  lazy val corpus = Corpus.fromDocuments(spark, sfTiny).cache()
  lazy val docs: Seq[(Long, String)] =
    corpus.select($"doc_id", $"content").as[(Long, String)].collect().toSeq
  lazy val cfg = IndexConfig(segShift = 6, rangeSegsShift = 2) // 64-doc segments, 4/range
  lazy val indexDir: String = {
    val d = tmpDir("idx")
    IndexBuild.build(spark, corpus, d, cfg)
    d
  }
  lazy val engine = new Engine(new Index(spark, indexDir))
  /** The same docs and geometry with no filter keys: grouping and block
    * join take their docmeta fallbacks.
    */
  lazy val scanEngine: Engine = {
    val d = tmpDir("idx-nofilters")
    IndexBuild.build(spark, corpus, d, cfg.copy(filterColumns = Nil))
    new Engine(new Index(spark, d))
  }

  lazy val langRepo: Map[Long, (String, String)] =
    corpus.select($"doc_id", $"lang", $"repo").as[(Long, String, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  /** Facet counts by `key` over the brute scorer's match set of `terms`:
    * a count that shares no code with the engine's match passes.
    */
  private def bruteCounts[K](terms: Seq[(String, Double)], key: Long => K,
      keep: Long => Boolean = _ => true): Map[K, Long] =
    BruteScorer.topK(docs, terms, docs.size).map(_.docId).filter(keep)
      .groupBy(key).view.mapValues(_.size.toLong).toMap

  private def checkQuery(terms: Seq[(String, Double)], k: Int): Unit = {
    val got = engine.searchByTerms(terms, rows = k)
      .as[(Long, Long, Long)].collect().toSeq
    val exp = BruteScorer.topK(docs, terms, k)
    assert(got.size == exp.size, s"rows: got ${got.size} exp ${exp.size}")
    got.zip(exp).zipWithIndex.foreach { case (((rank, id, sq), e), i) =>
      assert(rank == i + 1)
      assert(id == e.docId, s"rank ${i + 1}: got doc $id exp ${e.docId}")
      assert(sq == e.scoreQ, s"rank ${i + 1} score_q: got $sq exp ${e.scoreQ}")
    }
  }

  test("fast-path partials == legacy brute force (ASCII, non-ASCII, growth, clamps)") {
    import graft.analyze.Tokenizer
    // every doc takes the one TokenScanner path: ASCII docs its byte scan,
    // the non-ASCII doc its tokenizeScala fallback; the brute force below
    // is the reference algorithm (tokenizeScala + shingleTerm), so equality
    // pins both and their seam. 700 distinct tokens force TokenTable to
    // grow; the repeated-token doc exercises multi-position runs.
    val wide = (0 until 700).map(i => s"tok$i parse$i").mkString(" ")
    val testDocs: Seq[(Long, String)] = Seq(
      1L -> "Merge Sort MERGE sort merge9 9sort",
      2L -> "one",
      3L -> "", // no tokens
      5L -> null, // null content
      64L -> wide, // second segment; table growth
      65L -> "naïve café schön ÄÖÜ merge sort", // non-ASCII -> tokenizeScala fallback
      66L -> "a b a b a c a", // dense repeats
      130L -> ("x " * 300).trim) // third segment; tf 300 on one token
    val cfg2 = IndexConfig(segShift = 6, rangeSegsShift = 2)
    val df = spark.createDataset(testDocs).toDF("doc_id", "content").repartition(1)
    val got = IndexBuild.partialPostings(spark, df, cfg2).collect()
      .map(r => (r._1, r._2) -> (r._3.toSeq, r._4.toSeq)).toMap
    // brute force, same doc order as the single partition emits
    val order = df.select($"doc_id", $"content").as[(Long, String)].collect().toSeq
    val packs = scala.collection.mutable.Map[(String, Long), List[Long]]()
    val poses = scala.collection.mutable.Map[(String, Long), List[Seq[Int]]]()
    order.foreach { case (id, c) =>
      val toks = Tokenizer.tokenizeScala(c)
      if (toks.nonEmpty) {
        val dl = 2 * toks.length - 1
        val seg = cfg2.segOf(id)
        val local = cfg2.localOf(id)
        toks.zipWithIndex.groupBy("w:" + _._1).foreach { case (t, xs) =>
          packs((t, seg)) = IndexBuild.pack(local, xs.length, dl) :: packs.getOrElse((t, seg), Nil)
          poses((t, seg)) = xs.map(_._2).toSeq :: poses.getOrElse((t, seg), Nil)
        }
        toks.sliding(2).filter(_.length == 2)
          .map(p => Tokenizer.shingleTerm(p(0), p(1))).toSeq
          .groupBy(identity).foreach { case (t, xs) =>
            packs((t, seg)) = IndexBuild.pack(local, xs.length, dl) :: packs.getOrElse((t, seg), Nil)
          }
      }
    }
    assert(got.keySet == packs.keySet)
    packs.foreach { case (key, ps) =>
      val expPacked = ps.reverse
      // per-doc emission order within a (term, seg) row is doc order; the
      // packed values themselves identify the doc, so compare as sets per
      // doc too — but doc order is deterministic here, compare directly
      assert(got(key)._1 == expPacked, s"packed for $key")
      if (key._1.startsWith("w:")) {
        val out = new graft.index.ByteBuf()
        poses(key).reverse.foreach { run =>
          Codec.writeVarInt(out, run.length)
          var prev = 0
          run.foreach { p => Codec.writeVarInt(out, p - prev); prev = p }
        }
        assert(got(key)._2 == out.toByteArray.toSeq, s"positions for $key")
      } else assert(got(key)._2.isEmpty, s"shingle term ${key._1} must carry no positions")
    }
    // the wide doc really grew the table: 1400 distinct tokens > 2x initial cap
    assert(Tokenizer.tokenizeScala(wide).distinct.length == 1400)
    // tf clamp sanity on the 300x doc: packed tf saturates only at MaxTf (no-op here)
    assert(got(("w:x", 2L))._1 == Seq(IndexBuild.pack(2, 300, 599)))
  }

  test("phase1Fused == phase1: identical rows, seg-cohesive partitions, (term_id, seg_id) order") {
    // real corpus slice across many segments + the multi-partition partials
    // it produces: the fused route must merge exactly what groupByKey merged
    val df = corpus.limit(400).repartition(7) // multiple map partitions per (term, seg)
    val c = IndexConfig(segShift = 5, rangeSegsShift = 3) // 32-doc segments
    val partials = IndexBuild.partialPostings(spark, df, c)
    def keyOf(r: graft.index.SegTermRow) = (r.seg_id, r.term_id, r.term)
    def rowOf(r: graft.index.SegTermRow) =
      (r.df, r.max_tf, r.min_dl, r.postings.toSeq,
        Option(r.positions).map(_.toSeq)) // null for shingle terms
    val ref = IndexBuild.phase1(spark, partials, c).collect()
      .map(r => keyOf(r) -> rowOf(r)).toMap
    for (parts <- Seq(1, 3, 8)) {
      val fused = IndexBuild.phase1Fused(spark, partials, parts)
      val perPart = fused.rdd.mapPartitionsWithIndex { (pid, it) =>
        Iterator.single(pid -> it.map(r => (keyOf(r), rowOf(r))).toVector)
      }.collect().toMap
      val got = perPart.values.flatten.toMap
      assert(got == ref, s"parts=$parts: fused rows differ from phase1")
      assert(perPart.values.map(_.size).sum == ref.size, s"parts=$parts: duplicate rows")
      // a segment never straddles partitions (one file per segment holds)
      val segHome = scala.collection.mutable.Map[Long, Int]()
      perPart.foreach { case (pid, rows) =>
        rows.foreach { case ((seg, _, _), _) =>
          assert(segHome.getOrElseUpdate(seg, pid) == pid, s"segment $seg straddles partitions")
        }
      }
      // physical order inside each partition = (term_id, seg_id) asc
      perPart.values.foreach { rows =>
        val keys = rows.map { case ((seg, tid, _), _) => (tid, seg) }
        assert(keys == keys.sorted, s"parts=$parts: rows not in (term_id, seg_id) order")
      }
    }
  }

  test("fuzzy gram-pruned route == vocabulary-scan twin; candidates << vocab; short terms fall back") {
    // driver Levenshtein must equal Spark's function exactly
    val rnd = new scala.util.Random(7)
    val alpha = "abcdz:"
    val pairs = Seq.fill(300)((
      Seq.fill(rnd.nextInt(12))(alpha(rnd.nextInt(alpha.length))).mkString,
      Seq.fill(rnd.nextInt(12))(alpha(rnd.nextInt(alpha.length))).mkString))
    val viaSpark = pairs.toDF("a", "b")
      .select(levenshtein($"a", $"b")).as[Int].collect().toSeq
    pairs.zip(viaSpark).foreach { case ((a, b), d) =>
      assert(graft.query.Engine.levenshteinScala(a, b) == d, s"('$a','$b')")
    }
    // the default engine's vocabulary sits under the driver-expansion cap
    assert(engine.expandViaDriver, "test vocab must admit the driver route")
    // long term: ALL THREE routes agree — driver map (the default
    // engine's), gram-pruned distributed, vocabulary scan
    for ((t, d) <- Seq(("w:custoner", 2), ("w:customer", 2), ("w:windoww", 1))) {
      val cands = engine.fuzzyCandidates(t, d)
      assert(cands.isDefined, s"'$t'~$d must route pruned when distributed")
      val viaScan = engine.fuzzyExpansionsScan(t, d, 8)
      assert(engine.fuzzyExpansionsDistributed(t, d, 8) == viaScan,
        s"'$t'~$d pruned expansion diverged from the scan")
      assert(engine.fuzzyExpansions(t, d, 8) == viaScan,
        s"'$t'~$d driver expansion diverged from the scan")
      // the pre-filter candidate set must be far below the vocabulary
      val vocab = engine.index.dictionary.count()
      assert(cands.get.size < vocab / 5,
        s"'$t'~$d: ${cands.get.size} candidates of $vocab vocab — not pruning")
    }
    assert(engine.fuzzyExpansions("w:custoner", 2, 8).nonEmpty, "non-vacuous")
    // short term: threshold <= 0 -> scan fallback (None) on the
    // distributed route (the driver route has no pigeonhole cliff)
    assert(engine.fuzzyCandidates("w:hach", 2).isEmpty)
    // spellcheck: driver route == pruned distributed route == scan
    // ordering/content (long term)
    val viaPruned = engine.spellcheckDistributed("w:custoner", 2, 10)
      .as[(String, Long)].collect().toSeq
    val viaDriver = engine.spellcheck("w:custoner", 2, 10)
      .as[(String, Long)].collect().toSeq
    val viaScan = engine.index.dictionary
      .where(levenshtein($"term", lit("w:custoner")) <= 2 && $"term" =!= "w:custoner")
      .select($"term", $"df").orderBy($"df".desc, $"term".asc).limit(10)
      .as[(String, Long)].collect().toSeq
    assert(viaPruned == viaScan)
    assert(viaDriver == viaScan)
  }

  test("over-cap dictionary route: dfViaScan pinned on, rank-identical across query shapes") {
    val big = new Engine(new Index(spark, indexDir, dictDriverMax = 16L))
    assert(big.index.dfViaScan, "low cap must force the distributed df route")
    assert(!engine.index.dfViaScan, "control engine must keep the driver map")
    // the expansion route flips with the same cap: the big engine's
    // rewrites run the distributed stores, the control engine's the map
    assert(!big.expandViaDriver && engine.expandViaDriver,
      "expansion routes must split across the cap")
    // term search (WAND), pruned accuracy, phrase (positional route: also
    // resolves dfs through the over-cap path), prefix expansion, and the
    // three rewrites whose distributed twins the big engine forces
    // (trigram-pruned fuzzy, rdict leading wildcard, dictionary range)
    for ((name, dfOf) <- Seq[(String, Engine => org.apache.spark.sql.DataFrame)](
        "wand" -> (_.searchByTerms(SparkEntry.FlagshipTerms, rows = 30)),
        "pruned" -> (_.searchByTerms(SparkEntry.FlagshipTerms, rows = 30, accuracy = 0.5)),
        "phrase" -> (e => e.searchPhrase(SparkEntry.PhraseBigram, rows = 30)),
        "prefix" -> (_.searchPrefix("w:s", rows = 30)),
        "fuzzy" -> (_.searchFuzzy(SparkEntry.FuzzyLongQ,
          maxEdits = SparkEntry.FuzzyMaxEdits, rows = 30,
          maxExpansions = SparkEntry.FuzzyMaxExpansions)),
        "wildcard_lead" -> (_.searchWildcard(SparkEntry.WildcardLeadQ,
          rows = 30, maxExpansions = SparkEntry.WildcardMaxExpansions)),
        "range" -> (_.searchRange(Some(SparkEntry.RangeLo),
          Some(SparkEntry.RangeHi), incLo = true, incHi = false, rows = 30,
          maxExpansions = SparkEntry.RangeMaxExpansions)))) {
      val a = dfOf(engine).collect().map(_.toSeq).toSeq
      val b = dfOf(big).collect().map(_.toSeq).toSeq
      assert(a == b, s"$name: over-cap route diverged from driver-map route")
      assert(a.nonEmpty, s"$name: route pin must be non-vacuous")
    }
  }

  test("segment postings decode back to the exact postings table") {
    val post = Bm25.postings(corpus)
      .select($"term", $"doc_id", $"tf".cast("int")).as[(String, Long, Int)]
      .collect().groupBy(_._1).view
      .mapValues(_.map(p => (p._2, p._3)).sortBy(_._1).toSeq).toMap
    val idx = new Index(spark, indexDir)
    val decoded = idx.segments
      .select($"seg_id", $"term", $"postings").as[(Long, String, Array[Byte])]
      .collect()
      .flatMap { case (seg, term, bytes) =>
        Codec.decodeAll(bytes).map(p => (term, cfg.globalOf(seg, p.local), p.tf))
      }
      .groupBy(_._1).view
      .mapValues(_.map(p => (p._2, p._3)).sortBy(_._1).toSeq).toMap
    val (keys, terms) = decoded.partition(_._1.contains("="))
    assert(terms.keySet == post.keySet)
    terms.foreach { case (t, ps) => assert(ps == post(t), s"term $t") }
    // the filter keys: tf 1 on every doc with tokens, per column value
    val withTokens = post.valuesIterator.flatMap(_.map(_._1)).toSet
    val expKeys = corpus.select($"doc_id", $"lang", $"repo").as[(Long, String, String)]
      .collect().filter(r => withTokens(r._1))
      .flatMap { case (d, lang, repo) => Seq(s"lang=$lang" -> d, s"repo=$repo" -> d) }
      .groupBy(_._1).view.mapValues(_.map(x => (x._2, 1)).sortBy(_._1).toSeq).toMap
    assert(keys == expKeys)
  }

  test("manifest stats equal corpus-derived stats") {
    val idx = new Index(spark, indexDir)
    val (n, avgdl) = idx.stats
    val dls = docs.map(d => graft.analyze.Tokenizer.termsScala(d._2).length).filter(_ > 0)
    assert(n == dls.size)
    assert(math.abs(avgdl - dls.sum.toDouble / dls.size) < 1e-12)
  }

  test("WAND top-k rank-identical to brute scorer (flagship/boosted/rare/hot)") {
    checkQuery(SparkEntry.FlagshipTerms, 60)
    checkQuery(SparkEntry.BoostedTerms, 60)
    checkQuery(Seq("w:dup" -> 1.0), 30)
    checkQuery(Seq("w:batch" -> 1.0, "w:the" -> 1.0), 60)
  }

  test("degenerate full-scan (accuracy>=0.9) matches WAND path") {
    val a = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 60, accuracy = 0.5)
      .as[(Long, Long, Long)].collect().toSeq
    val b = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 60, accuracy = 1.0)
      .as[(Long, Long, Long)].collect().toSeq
    // accuracy 0.5 keeps floor(6*0.5)=3 rarest terms — different result set,
    // but both must be internally consistent with brute forcing same terms
    val pruned = engine.prune(SparkEntry.FlagshipTerms, 0.5).map(t => (t._1, t._2))
    val expA = BruteScorer.topK(docs, pruned, 60)
    assert(a.map(_._2) == expA.map(_.docId))
    val expB = BruteScorer.topK(docs, SparkEntry.FlagshipTerms, 60)
    assert(b.map(_._2) == expB.map(_.docId))
    assert(b.map(_._3) == expB.map(_.scoreQ))
  }

  test("pruning rule: df-asc order, budget, df=0 dropped keeping >=3") {
    val terms = Seq("w:nosuch1" -> 1.0, "w:dup" -> 1.0, "w:batch" -> 1.0,
      "w:spark" -> 1.0, "w:nosuch2" -> 1.0, "w:the" -> 1.0)
    val kept = engine.prune(terms, 0.5) // budget = max(3, floor(6*0.5)) = 3
    assert(kept.size == 3)
    assert(kept.head._1 == "w:dup") // rarest first
    assert(!kept.exists(_._3 == 0L)) // zeros dropped
    val kept2 = engine.prune(Seq("w:nosuch1" -> 1.0, "w:nosuch2" -> 1.0, "w:nosuch3" -> 1.0, "w:nosuch4" -> 1.0), 1.0)
    assert(kept2.size == 3) // all zero-df: keep first 3 anyway
  }

  test("fq filter (docPred) rank-identical to brute scorer over filtered docs") {
    val enDocs = corpus.where($"lang" === "en")
      .select($"doc_id").as[Long].collect().toSet
    // brute: score all, keep en docs only (scores use GLOBAL stats — same as engine)
    val exp = BruteScorer.topK(docs, SparkEntry.FlagshipTerms, Int.MaxValue)
      .filter(s => enDocs.contains(s.docId)).take(40)
    val got = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 40,
      docPred = Some(col("lang") === "en")).as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._2) == exp.map(_.docId))
    assert(got.map(_._3) == exp.map(_.scoreQ))
  }

  test("checkpointed resume: uncommitted range is rebuilt, committed ranges skipped") {
    val d = tmpDir("resume")
    val r1 = IndexBuild.build(spark, corpus, d, cfg)
    assert(r1.rangesBuilt.nonEmpty && r1.rangesSkipped.isEmpty)
    // simulate a crash: delete one range's manifest _SUCCESS (its segments stay)
    val victim = r1.rangesBuilt.head
    val fs = new Path(d).getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new Path(s"${IndexBuild.manifestDir(d)}/range=$victim/_SUCCESS"), false)
    val r2 = IndexBuild.build(spark, corpus, d, cfg)
    assert(r2.rangesBuilt == Seq(victim), s"rebuilt ${r2.rangesBuilt}")
    assert(r2.rangesSkipped.toSet == r1.rangesBuilt.toSet - victim)
    // full rebuild is a no-op
    val r3 = IndexBuild.build(spark, corpus, d, cfg)
    assert(r3.rangesBuilt.isEmpty)
    // resumed index answers queries identically
    val eng2 = new Engine(new Index(spark, d))
    val a = eng2.searchByTerms(SparkEntry.FlagshipTerms, rows = 20).collect().map(_.toSeq)
    val b = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 20).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("share-nothing cluster build: disjoint rangeFilter workers == one full build") {
    // the bench's process-scaling protocol: N independent build() calls,
    // worker i owning ranges = i (mod N), all committing into ONE index
    // dir through the per-range manifest gate — must equal a single build
    val d = tmpDir("cluster")
    val ra = IndexBuild.build(spark, corpus, d, cfg, rangeFilter = r => r % 2 == 0)
    val rb = IndexBuild.build(spark, corpus, d, cfg, rangeFilter = r => r % 2 == 1)
    assert(ra.rangesBuilt.nonEmpty && rb.rangesBuilt.nonEmpty, "both shares must hold ranges")
    assert(ra.rangesBuilt.forall(_ % 2 == 0) && rb.rangesBuilt.forall(_ % 2 == 1))
    assert(ra.rangesBuilt.toSet.intersect(rb.rangesBuilt.toSet).isEmpty)
    // together the shares cover exactly the single build's range set, and a
    // full-filter rerun is a no-op (every range committed)
    val rc = IndexBuild.build(spark, corpus, d, cfg)
    assert(rc.rangesBuilt.isEmpty,
      s"cluster build left uncommitted ranges: ${rc.rangesBuilt}")
    assert((ra.rangesBuilt ++ rb.rangesBuilt).toSet == rc.rangesSkipped.toSet)
    // the assembled index answers identically to the single-build engine
    val eng2 = new Engine(new Index(spark, d))
    val a = eng2.searchByTerms(SparkEntry.FlagshipTerms, rows = 20).collect().map(_.toSeq)
    val b = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 20).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq)
    // stats derive from the union of both workers' docmeta
    assert(eng2.index.stats == engine.index.stats)
    // every unit of the split build carries the current layout
    assertCurrentLayout(d)
    val p1 = eng2.searchPhrase("big order", rows = 20).collect().map(_.toSeq)
    val p2 = engine.searchPhrase("big order", rows = 20).collect().map(_.toSeq)
    assert(p1.toSeq == p2.toSeq)
  }

  test("sha lineage: docmeta sha matches corpus snapshot (input_hint invariant)") {
    val idx = new Index(spark, indexDir)
    val mism = idx.docmeta.as("m")
      .join(corpus.as("c"), Seq("doc_id"))
      .where(col("m.sha") =!= col("c.sha")).count()
    assert(mism == 0)
    assert(idx.docmeta.count() == corpus.count())
  }

  test("batched multi-query search == per-query searches, rank-identical") {
    val batch = engine.searchManyByTerms(SparkEntry.MultiQueries, rows = 25)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    SparkEntry.MultiQueries.foreach { case (qid, terms) =>
      val single = engine.searchByTerms(terms, rows = 25)
        .as[(Long, Long, Long)].collect().map(r => (r._2, r._3)).toSeq
      assert(batch.getOrElse(qid, Seq.empty) == single, s"query $qid")
    }
  }

  test("batched dense queries: dense-array kernel, rank-identical") {
    val hotTerms = engine.index.dictionary
      .orderBy($"df".desc, $"term".asc).limit(3)
      .select($"term").as[String].collect().toSeq.map(_ -> 1.0)
    val mixed: Seq[(Long, Seq[(String, Double)])] = Seq(
      1L -> hotTerms, // dense: the dense-array kernel inside the pass
      2L -> SparkEntry.FlagshipTerms, // sparse: batched WAND
      3L -> (hotTerms.take(2) ++ Seq("w:dup" -> 1.0))) // hot+rare: stays WAND
    assert(engine.routesDense(hotTerms, rows = 20), "precondition: query 1 routes dense")
    val pass = engine.manyPass(mixed, rows = 20).plan
    val exec = pass.queryExecution.executedPlan.toString
    assert(!exec.contains("graft_postings"),
      s"a dense query in the batch must not engage the columnar pass:\n$exec")
    assert(segmentScans(pass, indexDir) == 1, s"the batch must scan the segments once:\n$exec")
    val df = engine.searchManyByTerms(mixed, rows = 20)
    val batch = df.as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    mixed.foreach { case (qid, terms) =>
      val single = engine.searchByTerms(terms, rows = 20)
        .as[(Long, Long, Long)].collect().map(r => (r._2, r._3)).toSeq
      assert(batch.getOrElse(qid, Seq.empty) == single, s"query $qid")
    }
  }

  test("batched dense queries on wide segments: one segment pass, rank-identical") {
    val d = tmpDir("wideseg")
    IndexBuild.build(spark, corpus, d, IndexConfig(segShift = 23, rangeSegsShift = 1))
    val wide = new Engine(new Index(spark, d))
    assert(wide.index.cfg.segShift > wide.DenseArraySegShiftMax)
    val hotTerms = wide.index.dictionary
      .orderBy($"df".desc, $"term".asc).limit(3)
      .select($"term").as[String].collect().toSeq.map(_ -> 1.0)
    assert(wide.routesDense(hotTerms, rows = 20), "precondition: query 1 routes dense")
    val mixed: Seq[(Long, Seq[(String, Double)])] = Seq(
      1L -> hotTerms, // dense on wide segments: the windowed dense kernel
      4L -> hotTerms.take(2), // a second dense query in the same pass
      2L -> SparkEntry.FlagshipTerms, // sparse: batched WAND
      3L -> (hotTerms.take(2) ++ Seq("w:dup" -> 1.0))) // hot+rare: stays WAND
    val pass = wide.manyPass(mixed, rows = 20).plan
    val p = pass.queryExecution.executedPlan.toString
    assert(!p.contains("graft_postings"), s"dense batch decodes postings in the plan:\n$p")
    assert(segmentScans(pass, d) == 1, s"the batch must scan the segments once:\n$p")
    val df = wide.searchManyByTerms(mixed, rows = 20)
    val batch = df.as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    mixed.foreach { case (qid, terms) =>
      val single = wide.searchByTerms(terms, rows = 20)
        .as[(Long, Long, Long)].collect().map(r => (r._2, r._3)).toSeq
      assert(single.nonEmpty, s"query $qid matches nothing")
      assert(batch.getOrElse(qid, Seq.empty) == single, s"query $qid")
    }
  }

  test("rows or candidates below 1 fail on the driver, naming the argument") {
    def message(call: => Any): String = intercept[IllegalArgumentException](call).getMessage
    assert(message(engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 0)).contains("rows"))
    assert(message(engine.searchByTerms(SparkEntry.FlagshipTerms, candidates = 0))
      .contains("candidates"))
    assert(message(engine.searchManyByTerms(SparkEntry.MultiQueries, rows = 0)).contains("rows"))
  }

  test("searchPage rejects a negative start and an overflowing start + rows, naming start") {
    def message(call: => Any): String = intercept[IllegalArgumentException](call).getMessage
    // a negative start once ran top-(start + rows) and kept ranks > start:
    // 55 rows for start -5, rows 60
    assert(message(engine.searchPage(SparkEntry.FlagshipTerms, start = -5, rows = 60))
      .contains("start"))
    // start + rows past Int.MaxValue once wrapped negative and failed naming rows
    assert(message(engine.searchPage(SparkEntry.FlagshipTerms, start = Int.MaxValue - 10,
      rows = 60)).contains("start"))
    val page = engine.searchPage(SparkEntry.FlagshipTerms, start = 5, rows = 10)
      .as[(Long, Long, Long)].collect().toSeq
    val top = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 15)
      .as[(Long, Long, Long)].collect().toSeq
    assert(page == top.drop(5))
  }

  test("batched search rejects a repeated query id, naming it") {
    val e = intercept[IllegalArgumentException](engine.searchManyByTerms(Seq(
      7L -> SparkEntry.FlagshipTerms, 8L -> Seq("w:dup" -> 1.0), 7L -> Seq("w:dup" -> 1.0))))
    assert(e.getMessage.contains("query_id 7"), e.getMessage)
  }

  test("all-zero-df query returns empty result") {
    val r = engine.searchByTerms(Seq("w:zzz1" -> 1.0, "w:zzz2" -> 1.0), rows = 10)
    assert(r.count() == 0)
    val rm = engine.searchManyByTerms(Seq(9L -> Seq("w:zzz1" -> 1.0)), rows = 10)
    assert(rm.count() == 0)
  }

  test("randomDocs is deterministic and seed-sensitive") {
    val a = engine.randomDocs("seed1", 10).select("doc_id").as[Long].collect().toSeq
    val b = engine.randomDocs("seed1", 10).select("doc_id").as[Long].collect().toSeq
    val c = engine.randomDocs("seed2", 10).select("doc_id").as[Long].collect().toSeq
    assert(a == b)
    assert(a != c)
    assert(a.distinct.size == 10)
  }

  test("dense-query route: dense-array scorer, rank-identical to scan/DAAT/brute") {
    // hottest 3 terms of the corpus: sum(df)/N certainly >= HotScanFraction
    val hotTerms = engine.index.dictionary
      .orderBy($"df".desc, $"term".asc).limit(3)
      .select($"term").as[String].collect().toSeq.map(_ -> 1.0)
    assert(engine.routesDense(hotTerms, rows = 30),
      "dense query must route to the dense-array plan")
    val api = engine.searchByTerms(hotTerms, rows = 30)
    // the dense-array route never decodes/explodes postings columnar-side
    val pass = engine.termsPass(hotTerms, rows = 30).plan.queryExecution.executedPlan.toString
    assert(pass.contains("segments") && !pass.contains("graft_postings"), pass)
    val got = api.as[(Long, Long, Long)].collect().toSeq
    val exp = BruteScorer.topK(docs, hotTerms, 30)
    assert(got.map(_._2) == exp.map(_.docId))
    assert(got.map(_._3) == exp.map(_.scoreQ))
    // rank identity across ALL routes, forced, with and w/o fq: the
    // brute top-25 over the docs passing the filter
    val dfs = engine.index.dfOf(hotTerms.map(_._1))
    val (n, _) = engine.index.stats
    val w = hotTerms.map { case (t, b) =>
      t -> b * Bm25.idf(dfs(t).toDouble, n.toDouble) }.toMap
    val langOf = corpus.select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    def bruteRows(keep: Long => Boolean): Seq[Seq[Any]] =
      BruteScorer.topK(docs, hotTerms, docs.size).filter(x => keep(x.docId)).take(25)
        .zipWithIndex.map { case (x, i) => Seq((i + 1).toLong, x.docId, x.scoreQ) }
    val enOnly = bruteRows(id => langOf(id) == "en")
    for ((p, s) <- Seq(None -> bruteRows(_ => true), Some(col("lang") === "en") -> enOnly)) {
      val d1 = specTopK(engine, Some(QuerySpec(0L, w, Route.Daat, useWand = true)), 25, 25,
        docPred = p).collect().map(_.toSeq).toSeq
      val d2 = specTopK(engine, Some(QuerySpec(0L, w, Route.Daat, useWand = false)), 25, 25,
        docPred = p).collect().map(_.toSeq).toSeq
      val d3 = specTopK(engine, Some(QuerySpec(0L, w, Route.DenseArray, useWand = false)), 25, 25,
        docPred = p).collect().map(_.toSeq).toSeq
      assert(s == d1, s"brute vs wand (pred=$p)")
      assert(s == d2, s"brute vs exhaustive (pred=$p)")
      assert(s == d3, s"brute vs dense-array (pred=$p)")
    }
    // dense-array under a covered fq too (the route reads the fq key)
    val fqApi = engine.searchByTerms(hotTerms, rows = 25, docFilter = Some(("lang", "en")))
      .collect().map(_.toSeq).toSeq
    assert(fqApi == enOnly, "dense-array bitmap fq diverges from the brute")
    // a rare query must keep the DAAT plan
    assert(!engine.routesDense(Seq("w:dup" -> 1.0), rows = 10))
  }

  test("hot+rare mix stays on WAND and is rank-identical across routes (r02 regression)") {
    // the round-2 regression shape: corpus-wide terms + rare terms. Σdf/N of
    // the WHOLE query is ≫ HotScanFraction, but the rare terms' high idf
    // dominates the weights, so WAND prunes — the router must NOT send this
    // to the decode-everything scan.
    val hotTerms = engine.index.dictionary
      .orderBy($"df".desc, $"term".asc).limit(2)
      .select($"term").as[String].collect().toSeq.map(_ -> 1.0)
    val mix = hotTerms ++ Seq("w:dup" -> 1.0, "s:75f" -> 1.0)
    assert(!engine.routesDense(mix, rows = 30),
      "hot+rare mix must stay on the DAAT/WAND route")
    val api = engine.searchByTerms(mix, rows = 30)
    // rank identity: API result == brute == forced dense-array kernel
    val got = api.as[(Long, Long, Long)].collect().toSeq
    val exp = BruteScorer.topK(docs, mix, 30)
    assert(got.map(_._2) == exp.map(_.docId))
    assert(got.map(_._3) == exp.map(_.scoreQ))
    val dfs = engine.index.dfOf(mix.map(_._1))
    val (n, _) = engine.index.stats
    val w = mix.map { case (t, b) => t -> b * Bm25.idf(dfs(t).toDouble, n.toDouble) }.toMap
    val s = specTopK(engine, Some(QuerySpec(0L, w, Route.DenseArray, useWand = false)), 30, 30)
      .collect().map(_.toSeq).toSeq
    assert(s == exp.zipWithIndex.map { case (x, i) => Seq((i + 1).toLong, x.docId, x.scoreQ) },
      "dense-array route must agree with the brute on the mix")
    // a boosted hot term that dominates the weights SHOULD route dense:
    // nothing prunable remains when the dense term drives the threshold
    val boostedHot = Seq(hotTerms.head._1 -> 1000.0, "w:dup" -> 1.0)
    assert(engine.routesDense(boostedHot, rows = 30),
      "a dominant dense term must still route to the dense plan")
    val got2 = engine.searchByTerms(boostedHot, rows = 30)
      .as[(Long, Long, Long)].collect().toSeq
    val exp2 = BruteScorer.topK(docs, boostedHot, 30)
    assert(got2.map(_._2) == exp2.map(_.docId))
    // dense + covered fq: the dense-array route reads the fq key too;
    // results == the DAAT route under the same key
    val api3 = engine.searchByTerms(hotTerms, rows = 30, docFilter = Some(("lang", "en")))
    val viaDaat = specTopK(engine, Some(QuerySpec(0L,
      hotTerms.map { case (t, b) =>
        t -> b * Bm25.idf(engine.index.dfOf(Seq(t))(t).toDouble, n.toDouble) }.toMap,
      Route.Daat, useWand = true)), 30, 30, fq = Some(("lang", "en")))
      .collect().map(_.toSeq).toSeq
    assert(api3.collect().map(_.toSeq).toSeq == viaDaat,
      "dense+fq route must equal the DAAT bitmap route")
  }

  test("two-phase searchRerank == oracle-shaped recompute (candidates bound honored)") {
    val emb = spark.read.parquet(s"$sfTiny/embeddings.parquet")
    val k = 15
    val cands = 50
    val got = engine.searchRerank(SparkEntry.FlagshipTerms, emb, 42L, rows = k, candidates = cands)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // recompute: phase-1 top-`cands` by BM25, then exact cosine re-rank
    val phase1 = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = cands)
      .as[(Long, Long, Long)].collect().map(r => r._2 -> r._3).toMap
    val vecs = emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().toMap
    val qv = vecs(42L).map(_.toDouble).toArray
    def cosQ(v: Seq[Float]): Long = {
      val a = v.map(_.toDouble).toArray
      var dot = 0.0; var na = 0.0; var nq = 0.0
      var i = 0
      while (i < a.length) { dot += qv(i) * a(i); na += a(i) * a(i); nq += qv(i) * qv(i); i += 1 }
      math.round(dot / (math.sqrt(nq) * math.sqrt(na)) * 1e4)
    }
    val expected = phase1.toSeq.flatMap { case (d, sq) =>
      vecs.get(d).map(v => (d, cosQ(v), sq)) }
      .sortBy { case (d, cq, _) => (-cq, d) }.take(k)
      .zipWithIndex.map { case ((d, cq, sq), i) => ((i + 1).toLong, d, cq, sq) }
    assert(got == expected)
  }

  test("persisted fq bitmaps: docFilter path == predicate path, no docmeta scan") {
    assert(engine.index.filterColsComplete == Set("lang", "repo"))
    val viaBitmap = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 30,
      docFilter = Some(("lang", "en")))
    val viaPred = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 30,
      docPred = Some(col("lang") === "en"))
    assert(viaBitmap.collect().map(_.toSeq).toSeq == viaPred.collect().map(_.toSeq).toSeq)
    val plan = engine.termsPass(SparkEntry.FlagshipTerms, rows = 30,
      docFilter = Some(("lang", "en"))).plan.queryExecution.executedPlan.toString
    assert(!plan.contains("docmeta"), "filter key path must not scan docmeta")
    // a column without a persisted bitmap falls back to the predicate path
    val path = corpus.select($"path").as[String].head()
    val f = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 30,
      docFilter = Some(("path", path))).collect().map(_.toSeq).toSeq
    val g = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 30,
      docPred = Some(col("path") === path)).collect().map(_.toSeq).toSeq
    assert(f == g)
  }

  test("a filter column whose name contains '=' is rejected") {
    val e = intercept[IllegalArgumentException](cfg.copy(filterColumns = Seq("lang", "a=b")))
    assert(e.getMessage.contains("a=b"), e.getMessage)
  }

  test("reserved filter keys stay out of every vocabulary surface") {
    // scanEngine's index holds no filter key at all: the vocabulary and the
    // results the verbs return before keys were indexed
    for (dictMax <- Seq(Index.DictDriverMaxDefault, 16L)) { // driver map, then the stores
      val withKeys = new Engine(new Index(spark, indexDir, dictMax))
      val noKeys = new Engine(new Index(spark, scanEngine.index.indexDir, dictMax))
      def same(name: String)(f: Engine => org.apache.spark.sql.DataFrame): Unit = {
        val got = f(withKeys).collect().map(_.toSeq).toSeq
        assert(!got.flatten.exists(_.toString.contains("=")), s"$name returned a filter key")
        assert(got == f(noKeys).collect().map(_.toSeq).toSeq, s"$name: $dictMax")
      }
      same("termsEnum")(_.termsEnum("", limit = 1000000))
      same("range")(_.searchRange(None, None, maxExpansions = 100000))
      same("wildcard")(_.searchWildcard("*", maxExpansions = 100000))
      same("fuzzy")(_.searchFuzzy("lang=ex"))
      same("spellcheck")(_.spellcheck("lang=ex", limit = 100))
      same("key as term")(_.searchByTerms(Seq("lang=en" -> 1.0)))
      same("key as pruned term")(_.searchByTerms(Seq("lang=en" -> 1.0, "w:dup" -> 1.0), accuracy = 0.5))
    }
  }

  test("oversized document: tf clamps at field max instead of failing the build") {
    import org.apache.spark.sql.functions.sha2
    val big = "dup " * 70000 + "unique" // tf(w:dup)=70000 > 2^16-1
    val df = Seq(
      (0L, "r", "p0", "c0", "en", big),
      (1L, "r", "p1", "c1", "en", "dup spark"),
      (2L, "r", "p2", "c2", "en", "spark only here"))
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
      .withColumn("sha", sha2($"content", 256))
    val d = tmpDir("clamp")
    IndexBuild.build(spark, df, d, cfg) // must not throw
    val eng = new Engine(new Index(spark, d))
    val got = eng.searchByTerms(Seq("w:dup" -> 1.0), rows = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(0L, 1L))
    // the stored tf is the clamp ceiling, not garbage
    val maxTf = eng.index.segments.where($"term" === "w:dup")
      .agg(org.apache.spark.sql.functions.max($"max_tf")).as[Int].head()
    assert(maxTf == (1 << 16) - 1)
    // the clamp is mirrored end to end: semantic Bm25 path and BruteScorer
    // score the pathological doc identically to the index path
    val idx = eng.searchByTerms(Seq("w:dup" -> 1.0, "w:spark" -> 1.0), rows = 10)
      .as[(Long, Long, Long)].collect().toSeq
    val sem = Bm25.scoreTopK(spark, df, Seq("w:dup" -> 1.0, "w:spark" -> 1.0), 10)
      .as[(Long, Long, Long)].collect().toSeq
    assert(idx == sem, "semantic path must apply the same MaxTf/MaxDl clamps")
    val brute = BruteScorer.topK(
      df.select($"doc_id", $"content").as[(Long, String)].collect().toSeq,
      Seq("w:dup" -> 1.0, "w:spark" -> 1.0), 10)
    assert(idx.map(_._2) == brute.map(_.docId))
    assert(idx.map(_._3) == brute.map(_.scoreQ))
  }

  test("dl agrees across docmeta and postings on U+0130: top-k == brute scorer") {
    import org.apache.spark.sql.functions.sha2
    // "aİb" lowers to "ai̇b" as a whole string: tokens "ai", "b" — every
    // path must count the same tokens, or sum_dl/avgdl disagree with the
    // postings' inlined dl
    val docs = Seq(1L -> "a\u0130b c", 2L -> "b c c", 3L -> "ai b",
      4L -> "c d e f", 5L -> "b", 6L -> "a\u0130b a\u0130b c d \u0130\u0130")
    val df = docs.map { case (id, c) => (id, "r", s"p$id", "c0", "en", c) }
      .toDF("doc_id", "repo", "path", "commit", "lang", "content")
      .withColumn("sha", sha2($"content", 256))
    val d = tmpDir("dotted-i")
    IndexBuild.build(spark, df, d, cfg)
    val eng = new Engine(new Index(spark, d))
    for (terms <- Seq(Seq("w:ai" -> 1.0, "w:b" -> 1.0, "w:c" -> 1.0), Seq("w:c" -> 1.0),
                      Seq("w:b" -> 2.0, "w:d" -> 1.0))) {
      val got = eng.searchByTerms(terms, rows = 10).as[(Long, Long, Long)].collect().toSeq
      val exp = BruteScorer.topK(docs, terms, 10)
      assert(got.map(r => (r._2, r._3)) == exp.map(e => (e.docId, e.scoreQ)), s"$terms")
    }
  }

  test("index metadata resolution: ONE directory listing per surface (counting FS)") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.countfs.impl", classOf[CountingFs].getName)
    val d = tmpDir("countfs")
    val cfgMany = IndexConfig(segShift = 5, rangeSegsShift = 1) // 64-doc ranges -> 8 units
    IndexBuild.build(spark, corpus, s"countfs:$d", cfgMany)
    assert(IndexBuild.committedUnits(spark, s"countfs:$d").size == 8)
    // committed-unit discovery: one glob = ONE listStatus of the manifest
    // dir (plus per-match status probes), never a listing per range
    CountingFs.listCalls.set(0)
    IndexBuild.committedUnits(spark, s"countfs:$d")
    assert(CountingFs.listCalls.get() == 1,
      s"committedUnits made ${CountingFs.listCalls.get()} listings for 8 units")
  }

  test("facet bitmap fast path == docmeta-scan path (covered field)") {
    assert(engine.index.filterColsComplete.contains("lang"))
    def m(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.as[(String, Long)].collect().toMap
    val fast = m(engine.facetBitmap(SparkEntry.FlagshipTerms, "lang"))
    val slow = m(engine.facetScan(SparkEntry.FlagshipTerms, "lang"))
    assert(fast == slow && fast.nonEmpty, s"facet paths diverge: $fast vs $slow")
    // single-term and rare-term match sets too
    val fast2 = m(engine.facetBitmap(Seq("w:dup" -> 1.0), "lang"))
    val slow2 = m(engine.facetScan(Seq("w:dup" -> 1.0), "lang"))
    assert(fast2 == slow2 && fast2.values.sum < fast.values.sum)
    assert(fast == bruteCounts(SparkEntry.FlagshipTerms, langRepo(_)._1), "facet != brute")
  }

  test("facet falls back to the scan path when a doc-holding unit lacks the field's bitmaps") {
    // a column ADDED to filterColumns after some units were built: range 0
    // carries no filter keys, range 1 does — serving fq, facet or grouping
    // from keys alone would silently drop range 0's docs
    val d = tmpDir("facetmixed")
    IndexBuild.build(spark, corpus, d, cfg.copy(filterColumns = Nil), rangeFilter = _ == 0L)
    IndexBuild.build(spark, corpus, d, cfg, rangeFilter = _ == 1L)
    def filterCols(): Map[Long, Set[String]] =
      IndexBuild.manifests(spark, d, IndexBuild.liveUnits(spark, d))
        .select($"range_id", $"filter_cols").as[(Long, Seq[String])].collect()
        .map { case (u, cs) => u -> cs.toSet }.toMap
    assert(filterCols() == Map(0L -> Set.empty[String], 1L -> Set("lang", "repo")))
    def m(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.as[(String, Long)].collect().toMap
    def check(step: String): Unit = {
      val e = new Engine(new Index(spark, d))
      assert(e.index.filterColsComplete.isEmpty, s"$step: coverage gap undetected")
      // every verb takes its docmeta path and equals the fully covered index
      assert(e.termsPass(SparkEntry.FlagshipTerms, rows = 60, docFilter = Some(("lang", "en")))
        .plan.queryExecution.executedPlan.toString.contains("docmeta"), s"$step: fq took the key path")
      val facet = m(e.facet(SparkEntry.FlagshipTerms, "lang"))
      assert(facet == m(engine.facet(SparkEntry.FlagshipTerms, "lang")) && facet.nonEmpty,
        s"$step: facet diverged on partial coverage")
      val viaFq = e.searchByTerms(SparkEntry.FlagshipTerms, rows = 60,
        docFilter = Some(("lang", "en"))).as[(Long, Long, Long)].collect().toSeq
      assert(viaFq == engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 60,
        docFilter = Some(("lang", "en"))).as[(Long, Long, Long)].collect().toSeq && viaFq.nonEmpty,
        s"$step: partial-coverage fq diverged")
      def grouped(x: Engine) = x.searchGrouped(SparkEntry.FlagshipTerms, "lang",
        groupLimit = 2, groups = 4).as[(Long, String, Long, Long, Long)].collect().toSeq
      val g = grouped(e)
      assert(g == grouped(engine) && g.nonEmpty, s"$step: partial-coverage grouping diverged")
    }
    check("mixed units")
    // the merged unit of a mixed pair covers the intersection: nothing
    val rep = IndexBuild.compact(spark, d)
    assert(rep.unitsCreated.size == 1)
    assert(filterCols() == Map(rep.unitsCreated.head -> Set.empty[String]))
    check("compacted")
  }

  test("facet composes with fq: bitmap path == scan path, fq constrains") {
    assert(engine.index.filterColsComplete.contains("repo"),
      "repo must be a fully-covered filter column (v5 default)")
    def m(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.as[(String, Long)].collect().toMap
    val fq = Some(("lang", "en"))
    val fast = m(engine.facetBitmap(SparkEntry.FlagshipTerms, "repo", fq))
    val slow = m(engine.facetScan(SparkEntry.FlagshipTerms, "repo", fq))
    assert(fast == slow && fast.nonEmpty, s"fq facet paths diverge: $fast vs $slow")
    assert(fast == bruteCounts(SparkEntry.FlagshipTerms, langRepo(_)._2, langRepo(_)._1 == "en"),
      "fq facet != brute")
    // the fq really intersects: totals shrink vs the unfiltered facet
    val all = m(engine.facet(SparkEntry.FlagshipTerms, "repo"))
    assert(fast.values.sum < all.values.sum, "fq did not constrain the match set")
    // degenerate self-fq leaves exactly the filtered value
    val self = m(engine.facet(SparkEntry.FlagshipTerms, "lang", Some(("lang", "en"))))
    assert(self.keySet == Set("en"))
  }

  test("facetTop: count-desc/value-asc cutoff with mincount, null group excluded") {
    val top = engine.facetTop(SparkEntry.FlagshipTerms, "repo", mincount = 2, limit = 3)
      .as[(String, Long)].collect().toSeq
    val expected = engine.facet(SparkEntry.FlagshipTerms, "repo")
      .as[(String, Long)].collect().toSeq
      .filter(r => r._1 != null && r._2 >= 2)
      .sortBy(r => (-r._2, r._1)).take(3)
    assert(top == expected && top.nonEmpty, s"facetTop diverged: $top vs $expected")
  }

  test("grouped search: bitmap path == scan path == brute-force grouping") {
    val full = BruteScorer.topK(docs, SparkEntry.FlagshipTerms, docs.size)
    val repoOf = corpus.select($"doc_id", $"repo").as[(Long, String)].collect().toMap
    val expected = full.groupBy(s => repoOf(s.docId)).toSeq
      .map { case (v, ds) => (v, ds.take(3)) }
      .sortBy { case (_, ds) => (-ds.head.scoreQ, ds.head.docId) }.take(8)
      .zipWithIndex.flatMap { case ((v, ds), gi) =>
        ds.zipWithIndex.map { case (s, i) =>
          ((gi + 1).toLong, v, (i + 1).toLong, s.docId, s.scoreQ)
        }
      }
    val got = engine.searchGrouped(SparkEntry.FlagshipTerms, "repo",
      groupLimit = 3, groups = 8)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got == expected, s"grouped diverged from brute:\n$got\nvs\n$expected")
    // the scan fallback: the same docs through an index with no filter keys
    val scan = scanEngine.searchGrouped(SparkEntry.FlagshipTerms, "repo",
      groupLimit = 3, groups = 8)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(scan == expected, "scan-path grouping diverged from brute")
    // q+fq+group: the fq bitmap intersects in-segment; brute = the same
    // grouping over only the docs passing the filter (scores unchanged —
    // BM25 does not depend on the filter)
    val langOf = corpus.select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val expectedFq = full.filter(s => langOf(s.docId) == "en")
      .groupBy(s => repoOf(s.docId)).toSeq
      .map { case (v, ds) => (v, ds.take(3)) }
      .sortBy { case (_, ds) => (-ds.head.scoreQ, ds.head.docId) }.take(8)
      .zipWithIndex.flatMap { case ((v, ds), gi) =>
        ds.zipWithIndex.map { case (s, i) =>
          ((gi + 1).toLong, v, (i + 1).toLong, s.docId, s.scoreQ)
        }
      }
    val gotFq = engine.searchGrouped(SparkEntry.FlagshipTerms, "repo",
      groupLimit = 3, groups = 8, docFilter = Some(("lang", "en")))
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(gotFq == expectedFq && gotFq.nonEmpty,
      s"fq-grouped diverged from brute:\n$gotFq\nvs\n$expectedFq")
    // the fq's docPred form takes the scan fallback
    val scanFq = engine.searchGrouped(SparkEntry.FlagshipTerms, "repo",
      groupLimit = 3, groups = 8, docPred = Some(col("lang") === "en"))
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(scanFq == expectedFq, "fq-grouped scan fallback diverged from brute")
  }

  test("pivot facet: bitmap path == docmeta-scan path; cells sum to the plain facet") {
    def m(df: org.apache.spark.sql.DataFrame): Map[(String, String), Long] =
      df.as[(String, String, Long)].collect().map(r => ((r._1, r._2), r._3)).toMap
    val fast = m(engine.facetPivotBitmap(SparkEntry.FlagshipTerms, "lang", "repo"))
    val slow = m(engine.facetPivotScan(SparkEntry.FlagshipTerms, "lang", "repo"))
    assert(fast == slow && fast.nonEmpty, s"pivot paths diverge: $fast vs $slow")
    assert(fast == bruteCounts(SparkEntry.FlagshipTerms, langRepo), "pivot != brute")
    // marginalizing the pivot level reproduces the single-field facet
    val marginal = fast.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val lang = engine.facet(SparkEntry.FlagshipTerms, "lang")
      .as[(String, Long)].collect().toMap
    assert(marginal == lang, "pivot cells do not sum to the lang facet")
  }

  test("range facet: integer buckets match brute over the match set") {
    import graft.analyze.Tokenizer
    val ms = BruteScorer.topK(docs, SparkEntry.FlagshipTerms, docs.size).map(_.docId).toSet
    val (start, end, gap) = (0L, 1L << 20, 64L)
    val expected = docs.collect { case (id, c) if ms.contains(id) =>
      math.min(Tokenizer.dlOf(Tokenizer.tokenCountScala(c)), IndexBuild.MaxDl).toLong
    }.filter(v => v >= start && v < end)
      .groupBy(v => v - ((v - start) % gap)).view.mapValues(_.size.toLong).toMap
    val got = engine.facetRange(SparkEntry.FlagshipTerms, "dl", start, end, gap)
      .as[(Long, Long)].collect().toMap
    assert(got == expected && got.nonEmpty, s"range facet diverged: $got vs $expected")
  }

  test("statsField(dl) matches brute stats over the match set") {
    import graft.analyze.Tokenizer
    val ms = BruteScorer.topK(docs, SparkEntry.FlagshipTerms, docs.size).map(_.docId).toSet
    val dls = docs.collect { case (id, c) if ms.contains(id) =>
      math.min(Tokenizer.dlOf(Tokenizer.tokenCountScala(c)), IndexBuild.MaxDl).toLong
    }
    val row = engine.statsField(SparkEntry.FlagshipTerms, "dl").collect().head
    assert(row.getLong(0) == dls.size && row.getLong(1) == dls.min &&
      row.getLong(2) == dls.max && row.getLong(3) == dls.sum)
    assert(row.getLong(4) == math.round(dls.sum.toDouble * 1e6 / dls.size))
  }

  test("grouped merge handles the null group key") {
    // the scan fallback groups by a docmeta value that CAN be null (Solr's
    // missing-value group) — pin that the keyed heap merge accepts it
    val ds = spark.createDataset(Seq(
      (null: String, graft.query.Scored(1L, 1.0)),
      ("a", graft.query.Scored(2L, 2.0)),
      (null: String, graft.query.Scored(3L, 3.0))))
    val m = ds.groupByKey(_._1)
      .agg(new graft.query.TopKAgg[(String, graft.query.Scored)](2, _._2).toColumn)
      .collect().toMap
    assert(m(null).map(_.docId) == Seq(3L, 1L) && m("a").map(_.docId) == Seq(2L))
  }

  test("cursor paging (search-after): walking pages reproduces the full ranking") {
    val full = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 100)
      .as[(Long, Long, Long)].collect().toSeq.map(r => (r._2, r._3))
    assert(full.size == 100, "test needs a >=100-doc match set")
    val pages = scala.collection.mutable.Buffer[(Long, Long)]()
    var cursor: Option[(Long, Long)] = None // (score_q, doc_id)
    while (pages.size < 100) {
      val page = (cursor match {
        case None => engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 25)
        case Some((cs, cd)) =>
          engine.searchAfter(SparkEntry.FlagshipTerms, cs, cd, rows = 25)
      }).as[(Long, Long, Long)].collect().toSeq
      assert(page.nonEmpty, s"ran dry at ${pages.size}")
      assert(page.map(_._1) == (1 to page.size).map(_.toLong), "page-relative ranks")
      pages ++= page.map(r => (r._2, r._3))
      cursor = Some((page.last._3, page.last._2))
    }
    assert(pages.toSeq == full, "cursor walk diverged from the full ranking")
  }

  /** The corpus' three highest-df terms at boost 1: a dense query. */
  private def hot3(eng: Engine): Seq[(String, Double)] =
    eng.index.dictionary.orderBy($"df".desc, $"term".asc).limit(3)
      .select($"term").as[String].collect().toSeq.map(_ -> 1.0)

  /** Walk `terms` by search-after pages of 25 up to 100 docs; assert the
    * walk equals the full top-100, (doc_id, score_q) rank by rank.
    */
  private def assertCursorWalk(eng: Engine, terms: Seq[(String, Double)]): Unit = {
    val full = eng.searchByTerms(terms, rows = 100)
      .as[(Long, Long, Long)].collect().toSeq.map(r => (r._2, r._3))
    assert(full.size == 100, "test needs a >=100-doc match set")
    val pages = scala.collection.mutable.Buffer[(Long, Long)]()
    var cursor = (Long.MaxValue, Long.MinValue) // (score_q, doc_id): admits every doc
    while (pages.size < 100) {
      val page = eng.searchAfter(terms, cursor._1, cursor._2, rows = 25)
        .as[(Long, Long, Long)].collect().toSeq
      assert(page.nonEmpty, s"ran dry at ${pages.size}")
      assert(page.map(_._1) == (1 to page.size).map(_.toLong), "page-relative ranks")
      pages ++= page.map(r => (r._2, r._3))
      cursor = (page.last._3, page.last._2)
    }
    assert(pages.toSeq == full, "cursor walk diverged from the full ranking")
  }

  test("cursor paging on the dense-array kernel reproduces the full ranking") {
    val hot = hot3(engine)
    assert(engine.index.cfg.segShift <= engine.DenseArraySegShiftMax)
    assert(engine.routesDense(hot, rows = 25) && engine.routesDense(hot, rows = 100),
      "precondition: the query routes dense")
    assertCursorWalk(engine, hot)
  }

  test("cursor paging on wide segments reproduces the full ranking") {
    val d = tmpDir("widecursor")
    IndexBuild.build(spark, corpus, d, IndexConfig(segShift = 23, rangeSegsShift = 1))
    val wide = new Engine(new Index(spark, d))
    val hot = hot3(wide)
    assert(wide.index.cfg.segShift > wide.DenseArraySegShiftMax)
    assert(wide.routesDense(hot, rows = 25) && wide.routesDense(hot, rows = 100),
      "precondition: the query routes dense")
    assertCursorWalk(wide, hot)
  }

  test("wide segments over several dense windows: == brute, batch, cursor walk, scan routes") {
    // doc_id · 2^20 at segShift 23: each segment holds 8 docs at local ids
    // (doc_id mod 8) · 2^20, on both sides of the 2^22 window boundary
    val spread = 1L << 20
    val c = IndexConfig(segShift = 23, rangeSegsShift = 4)
    val spreadCorpus = corpus.withColumn("doc_id", $"doc_id" * spread)
    val d = tmpDir("multiwindow")
    IndexBuild.build(spark, spreadCorpus, d, c)
    val dScan = tmpDir("multiwindow-nofilters")
    IndexBuild.build(spark, spreadCorpus, dScan, c.copy(filterColumns = Nil))
    val wide = new Engine(new Index(spark, d))
    val wideScan = new Engine(new Index(spark, dScan))
    val wShift = wide.DenseArraySegShiftMax
    assert(c.segShift > wShift)
    val wideDocs = docs.map { case (id, t) => (id * spread, t) }
    assert(wideDocs.groupBy(x => c.segOf(x._1)).values
      .exists(_.map(x => c.localOf(x._1) >> wShift).distinct.size > 1),
      "precondition: a segment holds docs in two windows")
    val hot = hot3(wide)
    assert(wide.routesDense(hot, rows = 30), "precondition: the query routes dense")
    val langOf = corpus.select($"doc_id", $"lang").as[(Long, String)].collect()
      .map { case (id, l) => (id * spread, l) }.toMap
    def brute(keep: Long => Boolean): Seq[(Long, Long)] =
      BruteScorer.topK(wideDocs, hot, wideDocs.size).filter(x => keep(x.docId)).take(30)
        .map(x => (x.docId, x.scoreQ))
    def top(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.as[(Long, Long, Long)].collect().toSeq.map(r => (r._2, r._3))
    val all = top(wide.searchByTerms(hot, rows = 30))
    assert(all == brute(_ => true))
    assert(all.exists(x => c.localOf(x._1) >> wShift > 0) &&
      all.exists(x => c.localOf(x._1) >> wShift == 0), "precondition: hits in both windows")
    assert(top(wide.searchByTerms(hot, rows = 30, docFilter = Some(("lang", "en")))) ==
      brute(id => langOf(id) == "en"))
    val batch = Seq(1L -> hot, 2L -> hot.take(2), 3L -> SparkEntry.FlagshipTerms)
    val many = wide.searchManyByTerms(batch, rows = 30).as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    batch.foreach { case (qid, q) =>
      assert(many.getOrElse(qid, Nil) == top(wide.searchByTerms(q, rows = 30)), s"query $qid")
    }
    assertCursorWalk(wide, hot)
    def same(what: String)(f: Engine => org.apache.spark.sql.DataFrame): Unit = {
      val a = f(wide).collect().toSeq
      assert(a.nonEmpty && a == f(wideScan).collect().toSeq, what)
    }
    same("grouped")(_.searchGrouped(hot, "repo", groupLimit = 3, groups = 8))
    same("grouped fq")(_.searchGrouped(hot, "repo", groupLimit = 3, groups = 8,
      docFilter = Some(("lang", "en"))))
    for (mode <- Seq("max", "total", "avg"))
      same(s"block join $mode")(_.blockJoinParents(hot, mode, rows = 1000))
  }

  test("dictionary store: per-unit artifact equals segment-derived dfs, survives compaction") {
    val idx = new Index(spark, indexDir)
    assertCurrentLayout(indexDir)
    // the filter keys are postings, not terms: the dictionary omits them
    def segDfs(i: Index): Map[String, Long] = i.segments.where(!$"term".contains("="))
      .groupBy($"term").agg(sum($"df").cast("long")).as[(String, Long)].collect().toMap
    assert(idx.dictionary.select($"term", $"df").as[(String, Long)].collect().toMap
      == segDfs(idx))
    // compaction merges the store like every other stat
    val d = tmpDir("dictcompact")
    IndexBuild.build(spark, corpus, d, IndexConfig(segShift = 5, rangeSegsShift = 1))
    IndexBuild.compact(spark, d)
    val cIdx = new Index(spark, d)
    assert(cIdx.ranges.forall(_ < 0), "expected fully compacted units")
    assertCurrentLayout(d)
    assert(cIdx.dictionary.select($"term", $"df").as[(String, Long)].collect().toMap
      == segDfs(cIdx))
  }

  test("dictionary init opens NO segment file (counting FS)") {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.countfs.impl", classOf[CountingFs].getName)
    val d = tmpDir("countdict")
    IndexBuild.build(spark, corpus, s"countfs:$d", IndexConfig(segShift = 5, rangeSegsShift = 1))
    val idx = new Index(spark, s"countfs:$d")
    CountingFs.opens.clear()
    assert(idx.dfOf(Seq("w:spark", "w:dup")).nonEmpty)
    val segOpens = CountingFs.opens.toArray.map(_.toString).filter(_.contains("/segments/"))
    assert(segOpens.isEmpty,
      s"df resolution touched the segment table: ${segOpens.take(3).mkString(", ")}")
    // sanity: the store itself WAS read (the counter is live)
    assert(CountingFs.opens.toArray.map(_.toString).exists(_.contains("/dictionary/")),
      "expected dictionary-store reads")
  }

  test("bounded segments-write await: a hung job is cancelled, nothing leaks") {
    // a genuinely hung write job (tasks sleeping 120 s) under its own job
    // group: the bounded await must throw the clean range failure AND the
    // cancellation must actually kill the job — not leak the sleep
    val g = s"graft-test-hang-${System.nanoTime()}"
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val hung = scala.concurrent.Future {
      spark.sparkContext.setJobGroup(g, "test hang", interruptOnCancel = true)
      try spark.sparkContext.parallelize(0 until 8, 8)
        .mapPartitions { it => Thread.sleep(120000); it }.count()
      finally spark.sparkContext.clearJobGroup()
    }
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException](
      IndexBuild.boundedAwait(spark, hung, g, 1L, "segments write for range=0"))
    assert(e.getMessage.contains("NOT committed"), s"wrong failure: ${e.getMessage}")
    val settled = scala.util.Try(scala.concurrent.Await.result(hung,
      scala.concurrent.duration.Duration(60, java.util.concurrent.TimeUnit.SECONDS)))
    assert(settled.isFailure, "cancelled job group must fail the hung job")
    assert((System.nanoTime() - t0) / 1e9 < 100,
      "cancellation leaked the tasks' full sleep")
    // zero-timeout build sanity: even if a race lets tiny ranges finish
    // before the await, a FAILED build never commits a manifest for the
    // timed-out ranges and a sane-timeout rerun resumes idempotently
    val d = tmpDir("timeout")
    val impatient = cfg.copy(segmentsWriteTimeoutSec = 0L)
    scala.util.Try(IndexBuild.build(spark, corpus, d, impatient))
    Thread.sleep(2000) // let any cancelled tasks die before the redo
    IndexBuild.build(spark, corpus, d, cfg)
    val eng2 = new Engine(new Index(spark, d))
    assert(eng2.searchByTerms(SparkEntry.FlagshipTerms, rows = 10).count() > 0)
  }

  test("docFilter combined with docPred applies BOTH conditions") {
    val both = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 30,
      docPred = Some(col("doc_id") < 250), docFilter = Some(("lang", "en")))
      .collect().map(_.toSeq).toSeq
    val ref = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 30,
      docPred = Some(col("lang") === "en" && col("doc_id") < 250))
      .collect().map(_.toSeq).toSeq
    assert(both == ref)
    // and it differs from the single-filter results (both conditions bite)
    val only = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 30,
      docFilter = Some(("lang", "en"))).collect().map(_.toSeq).toSeq
    assert(both != only)
  }
}

/** Local filesystem that counts directory listings — pins the one-listing
  * metadata contract of committedUnits (IndexSpec).
  */
class CountingFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "countfs"
  override def getUri: java.net.URI = java.net.URI.create("countfs:///")
  override def listStatus(p: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] = {
    CountingFs.listCalls.incrementAndGet()
    super.listStatus(p)
  }
  override def open(f: org.apache.hadoop.fs.Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    CountingFs.opens.add(f.toString)
    super.open(f, bufferSize)
  }
}

object CountingFs {
  val listCalls = new java.util.concurrent.atomic.AtomicInteger(0)
  val opens = new java.util.concurrent.ConcurrentLinkedQueue[String]()
}
