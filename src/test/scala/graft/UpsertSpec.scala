package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{Engine, Index}

/** Solr update semantics (uniqueKey replace / deleteById) over the
  * append-only index: tombstone write path, query-time exclusion on every
  * route, Lucene-faithful stale stats, and physical reclaim at compaction.
  *
  * Reference anchors: managed-schema `<uniqueKey>id</uniqueKey>` (re-adding
  * a doc with an existing id replaces it); Lucene deletes = liveDocs
  * tombstones, stats stale until segment merge reclaims them.
  */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  val cfg = IndexConfig(segShift = 5, rangeSegsShift = 1) // ranges of 64 docs
  val Lift = 1024L // range-aligned, beyond the 500-doc corpus

  def base: DataFrame = Corpus.fromDocuments(spark, sfTiny)

  /** Updated versions: every 17th doc, same path (the identity key), new
    * content, fresh doc_ids in uncommitted ranges.
    */
  def updates: DataFrame = base
    .where(col("doc_id") % 17 === 0)
    .withColumn("doc_id", col("doc_id") + Lift)
    .withColumn("content", concat(col("content"), lit(" zzupserted")))
    .withColumn("sha", sha2(col("content"), 256))
    .withColumn("content_len", length(col("content")).cast("long"))

  def deleteKeys: DataFrame = base
    .where(col("doc_id") % 31 === 5 && col("doc_id") % 17 =!= 0)
    .select("path")

  /** Old doc_ids that must be invisible after upsert+delete. */
  def deadIds: DataFrame = base
    .where(col("doc_id") % 17 === 0 || col("doc_id") % 31 === 5)
    .select("doc_id")

  /** Build base + upsert + delete into a fresh dir; returns it. */
  def upserted(c: IndexConfig = cfg): String = {
    val dir = tempDir("graft-upsert")
    IndexBuild.build(spark, base, dir, c)
    IndexBuild.upsert(spark, updates, dir, c, keyCols = Seq("path"))
    IndexBuild.deleteByKeys(spark, deleteKeys, dir, keyCols = Seq("path"))
    dir
  }

  /** Reference: a PLAIN index over base ∪ updates (all versions as normal
    * docs — same stale stats by construction) queried with a dead-doc
    * predicate. The tombstone machinery must reproduce it exactly.
    */
  def allVersionsDir(): String = {
    val dir = tempDir("graft-allv")
    IndexBuild.build(spark, base.unionByName(updates), dir, cfg)
    dir
  }

  def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  val dead: Set[Long] = {
    val d = deadIds.as[Long].collect().toSet
    assert(d.size > 30, s"test needs a meaningful dead set, got ${d.size}")
    d
  }
  val notDeadPred = !col("doc_id").isin(dead.toSeq: _*)

  lazy val upsertDir: String = upserted()
  lazy val allVDir: String = allVersionsDir()
  lazy val eng = new Engine(new Index(spark, upsertDir))
  lazy val engAllV = new Engine(new Index(spark, allVDir))

  test("deletes and compaction keep every unit on the current layout") {
    // the delete committed a tombstone-only unit: it must carry an empty
    // copy of every store and a current codec_ver, or the index stops opening
    assert(IndexBuild.liveUnits(spark, upsertDir).exists(_ < 0), "expected a delete unit")
    assertCurrentLayout(upsertDir)
    // and compaction of a build + delete mix keeps it
    val dir = tempDir("graft-delpos")
    IndexBuild.build(spark, base, dir, cfg)
    IndexBuild.deleteByKeys(spark, deleteKeys, dir, keyCols = Seq("path"))
    IndexBuild.compact(spark, dir)
    assert(IndexBuild.liveUnits(spark, dir).forall(_ < 0), "expected compacted units")
    assertCurrentLayout(dir)
  }

  test("stats stay stale until merge (Lucene deleted-docs semantics)") {
    val (n, avgdl) = eng.index.stats
    val (nAll, avgAll) = engAllV.index.stats
    assert(n == nAll && avgdl == avgAll,
      s"upserted index stats ($n, $avgdl) must equal all-versions stats ($nAll, $avgAll)")
    // and per-term dfs too (dictionary is segment-derived, also stale)
    val t = Seq("w:spark", "w:zzupserted")
    assert(eng.index.dfOf(t) == engAllV.index.dfOf(t))
  }

  test("WAND route excludes dead docs and matches the all-versions predicate reference") {
    val got = rows(eng.searchByTerms(SparkEntry.FlagshipTerms, rows = 60))
    val want = rows(engAllV.searchByTerms(SparkEntry.FlagshipTerms, rows = 60,
      docPred = Some(notDeadPred)))
    assert(got == want)
    got.foreach(r => assert(!dead.contains(r(1).asInstanceOf[Long]), s"dead doc in results: $r"))
  }

  test("a term only in updated content finds exactly the new versions") {
    val hits = eng.searchByContent("zzupserted", rows = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.nonEmpty && hits.forall(_ >= Lift), s"stale/old hits: $hits")
  }

  test("fq bitmap route composes with kills (allow ANDNOT kill in one cogroup)") {
    val got = rows(eng.searchByTerms(SparkEntry.FlagshipTerms, rows = 60,
      docFilter = Some(("lang", "en"))))
    val want = rows(engAllV.searchByTerms(SparkEntry.FlagshipTerms, rows = 60,
      docPred = Some(notDeadPred && col("lang") === "en")))
    assert(got == want)
  }

  test("parsed phrase query on a tombstoned index == brute over live docs") {
    import graft.analyze.Tokenizer
    import graft.query.Bm25
    // stats stay stale over every version the index holds (N, avgdl, df);
    // results come from the live docs only
    val all = base.select("doc_id", "content").unionByName(updates.select("doc_id", "content"))
      .as[(Long, String)].collect().toSeq
    val nonEmpty = all.filter(d => Tokenizer.tokenCountScala(d._2) > 0)
    val n = nonEmpty.size.toDouble
    val dls = nonEmpty.map { case (id, c) =>
      id -> math.min(Tokenizer.dlOf(Tokenizer.tokenCountScala(c)), IndexBuild.MaxDl).toDouble
    }.toMap
    val avgdl = dls.values.sum / n
    val terms = nonEmpty.map { case (id, c) => id -> Tokenizer.termsScala(c) }.toMap
    def idf(t: String): Double = Bm25.idf(terms.values.count(_.contains(t)).toDouble, n)
    val phraseIdf = idf("w:hash") + idf("w:join")
    // +w:the "hash join" -w:stream: the SHOULD phrase adds its score
    def matches(id: Long): Boolean = terms(id).contains("w:the") && !terms(id).contains("w:stream")
    val exp = nonEmpty.collect { case (id, c) if !dead(id) && matches(id) =>
      val tf = math.min(terms(id).count(_ == "w:the"), IndexBuild.MaxTf)
      val ts = Tokenizer.tokenizeScala(c)
      val pf = (0 until ts.length - 1).count(i => ts(i) == "hash" && ts(i + 1) == "join")
      val s = idf("w:the") * Bm25.tfNorm(tf.toDouble, dls(id), avgdl) +
        (if (pf > 0) phraseIdf * Bm25.tfNorm(pf.toDouble, dls(id), avgdl) else 0.0)
      (id, math.round(s * Bm25.Quant))
    }.sortBy { case (id, sq) => (-sq, id) }.take(60)
    assert(nonEmpty.exists { case (id, _) => dead(id) && matches(id) },
      "pin needs a dead doc that would match")
    val got = eng.searchParsed("+w:the \"hash join\" -w:stream", rows = 60)
      .as[(Long, Long, Long)].collect().toSeq
    assert(exp.nonEmpty, "pin needs a non-empty match set")
    assert(got.map(r => (r._2, r._3)) == exp, "parsed results diverge from the live-doc brute")
  }

  test("predicate route excludes via the tombstone-filtered docmeta") {
    val got = rows(eng.searchByTerms(SparkEntry.FlagshipTerms, rows = 60,
      docPred = Some(col("lang") === "en")))
    val want = rows(engAllV.searchByTerms(SparkEntry.FlagshipTerms, rows = 60,
      docPred = Some(notDeadPred && col("lang") === "en")))
    assert(got == want)
  }

  test("dense route on a tombstoned segShift-23 index == the WAND route") {
    val dir = tempDir("graft-wide-kills")
    IndexBuild.build(spark, base, dir, IndexConfig(segShift = 23, rangeSegsShift = 1))
    IndexBuild.deleteByKeys(spark, deleteKeys, dir, keyCols = Seq("path"))
    val wide = new Engine(new Index(spark, dir))
    assert(wide.index.hasTombstones && wide.index.cfg.segShift > wide.DenseArraySegShiftMax)
    val hot = wide.index.dictionary
      .orderBy($"df".desc, $"term".asc).limit(3)
      .select($"term").as[String].collect().toSeq
    val dfs = wide.index.dfOf(hot)
    val (n, _) = wide.index.stats
    val weights = hot.map(t => t -> graft.query.Bm25.idf(dfs(t).toDouble, n.toDouble)).toMap
    assert(wide.routesDense(hot.map(_ -> 1.0), rows = 1000), "precondition: the query routes dense")
    // rows cover every match, so each killed doc that holds a hot term
    // would show up
    val dense = rows(wide.searchByTerms(hot.map(_ -> 1.0), rows = 1000))
    val wand = rows(specTopK(wide, Some(graft.query.Engine.QuerySpec(0L, weights,
      graft.query.Engine.Route.Daat, useWand = true)), 1000, 1000))
    val killed = deleteKeys.join(base, Seq("path")).select("doc_id", "content")
      .as[(Long, String)].collect().toMap
    assert(killed.values.exists(c => graft.analyze.Tokenizer.termsScala(c).exists(hot.toSet)),
      "precondition: a killed doc holds a query term")
    assert(dense.nonEmpty && dense == wand)
    assert(!dense.exists(r => killed.contains(r(1).asInstanceOf[Long])), "a killed doc was scored")
  }

  test("batched search and docmeta consumers exclude dead docs") {
    val multi = eng.searchManyByTerms(SparkEntry.MultiQueries, rows = 20)
    val multiIds = multi.select("doc_id").as[Long].collect()
    multiIds.foreach(d => assert(!dead.contains(d)))
    val rand = eng.randomDocs("graft", 50).select("doc_id").as[Long].collect()
    rand.foreach(d => assert(!dead.contains(d)))
    // point lookup by identity key returns ONLY the new version
    val p = base.where(col("doc_id") === 0).select("path").as[String].head()
    val found = eng.index.docmeta.where(col("path") === p)
      .select("doc_id").as[Long].collect().toSeq
    assert(found == Seq(Lift), s"path $p resolved to $found, want Seq($Lift)")
  }

  test("batched dense, hot+rare and rare queries == single runs, no dead doc") {
    val hot = eng.index.dictionary
      .orderBy($"df".desc, $"term".asc).limit(3)
      .select($"term").as[String].collect().toSeq.map(_ -> 1.0)
    val mixed: Seq[(Long, Seq[(String, Double)])] = Seq(
      1L -> hot, // dense: the dense-array kernel under the kill allow set
      2L -> hot.take(2), // a second dense query in the same pass
      3L -> (hot.take(2) ++ Seq("w:zzupserted" -> 1.0)), // hot+rare: WAND
      4L -> Seq("w:dup" -> 1.0, "w:zzupserted" -> 1.0)) // rare: WAND
    assert(mixed.exists { case (_, ts) => eng.routesDense(ts, rows = 20) },
      "the batch must hold a dense query")
    val batch = eng.searchManyByTerms(mixed, rows = 20)
      .as[(Long, Long, Long, Long)].collect()
    batch.foreach(r => assert(!dead.contains(r._3), s"query ${r._1} returned dead doc ${r._3}"))
    val byQ = batch.groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    mixed.foreach { case (qid, terms) =>
      val single = eng.searchByTerms(terms, rows = 20)
        .as[(Long, Long, Long)].collect().map(r => (r._2, r._3)).toSeq
      assert(single.nonEmpty, s"query $qid matches nothing")
      assert(byQ.getOrElse(qid, Seq.empty) == single, s"query $qid")
    }
  }

  test("upsert and delete replays are no-ops") {
    val before = IndexBuild.tombstoneUnits(spark, upsertDir)
    val r = IndexBuild.upsert(spark, updates, upsertDir, cfg, keyCols = Seq("path"))
    assert(r.rangesBuilt.isEmpty, s"replayed upsert rebuilt ${r.rangesBuilt}")
    assert(IndexBuild.deleteByKeys(spark, deleteKeys, upsertDir, Seq("path")) == 0L)
    assert(IndexBuild.tombstoneUnits(spark, upsertDir) == before)
  }

  test("deleteByQuery: stored-field predicate deletes; idempotent; compaction reclaims") {
    val dir = tempDir("graft-delq")
    IndexBuild.build(spark, base, dir, cfg)
    val pred = col("lang") === "en" && col("doc_id") % 3 === 0
    val expect = base.where(pred).select("doc_id").as[Long].collect().toSet
    assert(expect.nonEmpty, "gate precondition: the predicate matches docs")
    val n = IndexBuild.deleteByQuery(spark, dir, pred)
    assert(n == expect.size.toLong)
    // every query surface excludes the deleted docs...
    val idx = new Index(spark, dir)
    val hits = new Engine(idx).searchByTerms(SparkEntry.FlagshipTerms, rows = 500)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.intersect(expect).isEmpty, "deleted docs must not rank")
    // ...and equals a ranking-only filter over the full index (stale stats)
    val full = new Engine(new Index(spark, tempDir("graft-delq-full") match {
      case d => IndexBuild.build(spark, base, d, cfg); d
    }))
    val filtered = full.searchByTerms(SparkEntry.FlagshipTerms, rows = 60,
      docPred = Some(!(col("lang") === "en" && col("doc_id") % 3 === 0)))
      .collect().map(_.toSeq).toSeq
    val got = new Engine(idx).searchByTerms(SparkEntry.FlagshipTerms, rows = 60)
      .collect().map(_.toSeq).toSeq
    assert(got == filtered, "tombstoned == predicate-filtered with stale stats")
    // replay: the matching docs are no longer live -> no-op
    assert(IndexBuild.deleteByQuery(spark, dir, pred) == 0L)
    // compaction physically reclaims them
    IndexBuild.compact(spark, dir)
    val total = base.count()
    val live = new Index(spark, dir).docmeta.select("doc_id").as[Long].collect().toSet
    assert(live.intersect(expect).isEmpty && live.size == total - expect.size)
  }

  test("compaction reclaims dead docs: result == fresh build over the effective corpus") {
    // run the mutation-dependent checks first on copies? no — this suite
    // orders compaction last over a dedicated dir
    val dir = upserted()
    val report = IndexBuild.compact(spark, dir)
    assert(report.unitsAfter.size <= 2, s"full compact left ${report.unitsAfter}")
    val idx = new Index(spark, dir)
    assert(!idx.hasTombstones, "reclaim must retire every applied tombstone")
    val effective = base.where(notDeadPred).unionByName(updates)
    val freshDir = tempDir("graft-eff")
    IndexBuild.build(spark, effective, freshDir, cfg)
    val freshIdx = new Index(spark, freshDir)
    // fresh stats (N, avgdl refresh at merge, like Lucene)
    assert(idx.stats == freshIdx.stats,
      s"compacted stats ${idx.stats} != effective-corpus stats ${freshIdx.stats}")
    // segment-level identity: same (term, df) everywhere
    val a = idx.segments.groupBy("term").agg(sum("df").as("df"))
      .as[(String, Long)].collect().toMap
    val b = freshIdx.segments.groupBy("term").agg(sum("df").as("df"))
      .as[(String, Long)].collect().toMap
    assert(a == b, "per-term dfs diverge after reclaim")
    // query identity on both routes
    val e1 = new Engine(idx)
    val e2 = new Engine(freshIdx)
    assert(rows(e1.searchByTerms(SparkEntry.FlagshipTerms, rows = 60)) ==
      rows(e2.searchByTerms(SparkEntry.FlagshipTerms, rows = 60)))
    assert(rows(e1.searchByTerms(SparkEntry.FlagshipTerms, rows = 60,
      docFilter = Some(("lang", "en")))) ==
      rows(e2.searchByTerms(SparkEntry.FlagshipTerms, rows = 60,
        docFilter = Some(("lang", "en")))))
    // ingest attestations survive verbatim (replay gate unchanged)
    val doneBefore = base.select(shiftrightunsigned(col("doc_id"), cfg.rangeShift))
      .distinct().as[Long].collect().toSet ++
      updates.select(shiftrightunsigned(col("doc_id"), cfg.rangeShift))
        .distinct().as[Long].collect().toSet
    assert(IndexBuild.doneRanges(spark, dir) == doneBefore)
    // idempotent redo
    val again = IndexBuild.compact(spark, dir)
    assert(again.unitsCreated.isEmpty, s"second compact re-merged ${again.unitsCreated}")
  }

  test("budgeted compact keeps kills visible across batch boundaries, then drains") {
    // owner unit (tombstones) and target units land in DIFFERENT merge
    // batches: the per-batch pessimistic carry must keep exclusion intact
    // even though the targets' batch applied the kills (a sibling commit
    // may not be assumed), and the existence-based drain must empty the
    // tombstone files within two runs instead of pinning hasTombstones
    val dir = upserted()
    IndexBuild.compact(spark, dir, maxUnitDocs = 300)
    val e1 = new Engine(new Index(spark, dir))
    assert(IndexBuild.liveUnits(spark, dir).size > 1, "budget too big for the scenario")
    val got = rows(e1.searchByTerms(SparkEntry.FlagshipTerms, rows = 60))
    got.foreach(r => assert(!dead.contains(r(1).asInstanceOf[Long]), s"dead doc: $r"))
    val p = base.where(col("doc_id") === 0).select("path").as[String].head()
    assert(e1.index.docmeta.where(col("path") === p)
      .select("doc_id").as[Long].collect().toSeq == Seq(Lift))
    // second compact: carried kills' targets are gone from the pre-run
    // snapshot now — tombstone files must drain
    IndexBuild.compact(spark, dir, maxUnitDocs = 300)
    val e2 = new Engine(new Index(spark, dir))
    assert(!e2.index.hasTombstones,
      s"tombstones failed to drain: ${IndexBuild.tombstoneUnits(spark, dir)}")
    // stats fresh post-reclaim, results unchanged
    assert(rows(e2.searchByTerms(SparkEntry.FlagshipTerms, rows = 60)).nonEmpty)
    e2.searchByTerms(SparkEntry.FlagshipTerms, rows = 60)
      .select("doc_id").as[Long].collect()
      .foreach(d => assert(!dead.contains(d)))
  }

  test("partially committed multi-range upsert never shows two versions of a doc") {
    // the kill shards are gated per replacing range: simulate a crash that
    // committed only SOME ranges of the batch by dropping one new range's
    // manifest — every key must resolve to exactly one version
    val dir = tempDir("graft-partial")
    IndexBuild.build(spark, base, dir, cfg)
    IndexBuild.upsert(spark, updates, dir, cfg, keyCols = Seq("path"))
    val newRanges = updates
      .select(shiftrightunsigned(col("doc_id"), cfg.rangeShift)).distinct()
      .as[Long].collect().sorted
    assert(newRanges.length >= 2, s"need a multi-range batch, got ${newRanges.toSeq}")
    val dropped = newRanges.last
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(
      s"${IndexBuild.manifestDir(dir)}/range=$dropped"), true)
    val idx = new Index(spark, dir)
    val byPath = idx.docmeta.select("path", "doc_id").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
    val updatedPaths = base.where(col("doc_id") % 17 === 0)
      .select("path", "doc_id").as[(String, Long)].collect()
    updatedPaths.foreach { case (path, oldId) =>
      val newId = oldId + Lift
      val want =
        if ((newId >> cfg.rangeShift) == dropped) Seq(oldId) // replacement lost → old stays
        else Seq(newId) // replacement committed → old killed
      assert(byPath.getOrElse(path, Seq.empty) == want,
        s"path $path: visible=${byPath.get(path)}, want $want")
    }
  }

  test("winner rule: replayed OLD versions can never kill the newer committed version") {
    // re-offering the original rows of already-updated keys (a replayed
    // old chunk) must be a harmless no-op: their ids are LOWER than the
    // live replacements, so they lose the max-doc_id race
    val dir = upserted()
    val replayOldVersions = base.where(col("doc_id") % 17 === 0)
    IndexBuild.upsert(spark, replayOldVersions, dir, cfg, keyCols = Seq("path"))
    val idx = new Index(spark, dir)
    val p = base.where(col("doc_id") === 0).select("path").as[String].head()
    assert(idx.docmeta.where(col("path") === p).select("doc_id").as[Long]
      .collect().toSeq == Seq(Lift),
      "replay of the old version displaced the newer one")
    // and the search surface is unchanged
    val e = new Engine(idx)
    val got = rows(e.searchByTerms(SparkEntry.FlagshipTerms, rows = 60))
    got.foreach(r => assert(!dead.contains(r(1).asInstanceOf[Long])))
  }

  test("winner rule: several versions of one key in ONE batch resolve to the max") {
    val dir = tempDir("graft-intra")
    IndexBuild.build(spark, base, dir, cfg)
    // two new versions of doc 3's key in the same upsert batch
    val v1 = base.where(col("doc_id") === 3)
      .withColumn("doc_id", col("doc_id") + Lift)
      .withColumn("content", concat(col("content"), lit(" v1")))
    val v2 = base.where(col("doc_id") === 3)
      .withColumn("doc_id", col("doc_id") + 2 * Lift)
      .withColumn("content", concat(col("content"), lit(" v2")))
    val batch = v1.unionByName(v2)
      .withColumn("sha", sha2(col("content"), 256))
      .withColumn("content_len", length(col("content")).cast("long"))
    IndexBuild.upsert(spark, batch, dir, cfg, keyCols = Seq("path"))
    val idx = new Index(spark, dir)
    val p = base.where(col("doc_id") === 3).select("path").as[String].head()
    assert(idx.docmeta.where(col("path") === p).select("doc_id").as[Long]
      .collect().toSeq == Seq(3L + 2 * Lift),
      "intra-batch duplicate keys must resolve to the highest doc_id")
  }

  test("facet over a tombstoned index == facet after physical reclaim") {
    // facet counts are score-free, so query-time exclusion and physical
    // removal must agree EXACTLY (stats staleness cannot leak in)
    val dir = upserted()
    val before = new Engine(new Index(spark, dir))
      .facet(SparkEntry.FlagshipTerms, "lang")
      .as[(String, Long)].collect().toMap
    IndexBuild.compact(spark, dir)
    val after = new Engine(new Index(spark, dir))
      .facet(SparkEntry.FlagshipTerms, "lang")
      .as[(String, Long)].collect().toMap
    assert(before == after && before.nonEmpty,
      s"facet diverged across reclaim: $before vs $after")
    // dead docs must not be counted: the all-versions index counts MORE
    val allV = engAllV.facet(SparkEntry.FlagshipTerms, "lang")
      .as[(String, Long)].collect().toMap
    assert(allV.values.sum > before.values.sum,
      s"exclusion had no effect: $allV vs $before")
  }

  test("fq-facet, pivot facet and grouped search exclude tombstoned docs on every bitmap path") {
    // the kill bitmaps ride the same cogroups in ALL the bitmap-served
    // surfaces. Two invariants, matching each surface's nature:
    //  - score-FREE surfaces (fq-facet, pivot): query-time exclusion ==
    //    physical removal, counts identical across reclaim;
    //  - score-CARRYING grouped search: == the all-versions index queried
    //    with a dead-doc predicate (SAME stale stats — reclaim refreshes
    //    dfs, so scores legitimately change across compaction, the Lucene
    //    df-refresh-at-merge semantics the search tests pin).
    val dir = upserted()
    val e0 = new Engine(new Index(spark, dir))
    val fqLang = e0.facet(SparkEntry.FlagshipTerms, "lang")
      .orderBy(col("n").desc, col("value").asc)
      .select("value").as[String].head()
    // grouped: tombstoned bitmap path vs all-versions + predicate
    val gotGrouped = e0.searchGrouped(SparkEntry.FlagshipTerms, "repo",
      groupLimit = 3, groups = 8)
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    val wantGrouped = engAllV.searchGrouped(SparkEntry.FlagshipTerms, "repo",
      groupLimit = 3, groups = 8, docPred = Some(notDeadPred))
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(gotGrouped == wantGrouped && gotGrouped.nonEmpty,
      s"grouped kill exclusion diverged:\n$gotGrouped\nvs\n$wantGrouped")
    def facets(e: Engine) =
      (e.facet(SparkEntry.FlagshipTerms, "repo", Some(("lang", fqLang)))
        .as[(String, Long)].collect().toMap,
        e.facetPivot(SparkEntry.FlagshipTerms, "lang", "repo")
          .as[(String, String, Long)].collect()
          .map(r => ((r._1, r._2), r._3)).toMap)
    val before = facets(e0)
    IndexBuild.compact(spark, dir)
    val after = facets(new Engine(new Index(spark, dir)))
    assert(before == after && before._1.nonEmpty && before._2.nonEmpty,
      s"score-free surfaces diverged across reclaim")
    // the kills actually mattered: the all-versions pivot counts MORE
    val allVPivot = engAllV.facetPivot(SparkEntry.FlagshipTerms, "lang", "repo")
      .as[(String, String, Long)].collect().map(_._3).sum
    assert(allVPivot > before._2.values.sum,
      "tombstone exclusion had no effect on the pivot facet")
  }

  test("positional phrase route excludes dead docs (== all-versions phrase set minus dead)") {
    // rows cover the whole match set, so ranks drop out: the tombstoned
    // result must be exactly the all-versions result with the dead removed
    def matches(e: Engine): Set[(Long, Long)] =
      e.searchPhrase(SparkEntry.PhraseBigram, rows = 100000)
        .select("doc_id", "score_q").as[(Long, Long)].collect().toSet
    val all = matches(engAllV)
    val got = matches(eng)
    assert(all.exists(r => dead.contains(r._1)), "pin needs a dead phrase match")
    assert(got.nonEmpty && got == all.filterNot(r => dead.contains(r._1)))
  }

  test("blockJoinParents bitmap route == join route under tombstones") {
    // the join twin: the same upsert fixture without a `repo` filter
    // bitmap, so blockJoinParents reads the parent key from docmeta
    val joinEng = new Engine(new Index(spark, upserted(cfg.copy(filterColumns = Seq("lang")))))
    assert(eng.index.filterColsComplete.contains("repo") &&
      !joinEng.index.filterColsComplete.contains("repo"), "precondition: one engine per route")
    for (mode <- Seq("max", "total", "avg")) {
      val a = eng.blockJoinParents(SparkEntry.FlagshipTerms, mode, rows = 1000)
      val b = joinEng.blockJoinParents(SparkEntry.FlagshipTerms, mode, rows = 1000)
      assert(a.collect().toSeq == b.collect().toSeq && !a.isEmpty, s"mode $mode")
    }
    // the kills mattered: the all-versions index counts more children
    def children(e: Engine): Long = e.blockJoinParents(SparkEntry.FlagshipTerms, rows = 1000)
      .agg(sum("n_children")).as[Long].head()
    assert(children(engAllV) > children(eng), "tombstones had no effect on the block join")
  }

  test("grouped search with a covered fq composes with kills") {
    val got = eng.searchGrouped(SparkEntry.FlagshipTerms, "repo",
      groupLimit = 3, groups = 8, docFilter = Some(("lang", "en")))
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    val want = engAllV.searchGrouped(SparkEntry.FlagshipTerms, "repo",
      groupLimit = 3, groups = 8, docPred = Some(notDeadPred && col("lang") === "en"))
      .as[(Long, String, Long, Long, Long)].collect().toSeq
    assert(got == want && got.nonEmpty, s"grouped fq+kill diverged:\n$got\nvs\n$want")
  }

  test("kill shard of a live loser lands on the OWNING unit after compaction (healing)") {
    // pre-existing duplicate versions of one key in two doc ranges, the
    // ranges compacted into ONE negative unit, then a replayed batch
    // version that LOSES the max-doc_id race: the stale live duplicate's
    // kill shard must be attributed to the owning live unit (ADVICE r03) —
    // under the retired raw range id it would never surface and the
    // duplicate would stay live forever
    val dir = tempDir("graft-owner")
    val dupPath = "repo/r/dup.txt"
    def mk(rows: Seq[(Long, String, String)]): DataFrame =
      rows.toDF("doc_id", "path", "content")
        .withColumn("repo", lit("r")).withColumn("commit", lit("c"))
        .withColumn("lang", lit("en"))
        .withColumn("sha", sha2(col("content"), 256))
    // rangeShift = 6: docs 5, 7 -> range 0; doc 200 -> range 3
    IndexBuild.build(spark, mk(Seq(
      (5L, dupPath, "alpha beta dupkey stale"),
      (7L, "repo/r/other.txt", "other words entirely"),
      (200L, dupPath, "alpha beta dupkey newer"))), dir, cfg)
    IndexBuild.compact(spark, dir) // ranges 0+3 -> one negative unit
    val live = IndexBuild.liveUnits(spark, dir)
    assert(live.size == 1 && live.head < 0, s"expected one compacted unit, got $live")
    // replayed batch version in a FRESH range (2) loses to live doc 200
    IndexBuild.upsert(spark, mk(Seq((130L, dupPath, "alpha beta dupkey replay"))),
      dir, cfg, keyCols = Seq("path"))
    // every kill shard sits on a COMMITTED unit — nothing orphaned
    val tu = IndexBuild.tombstoneUnits(spark, dir)
    val committed = IndexBuild.committedUnits(spark, dir).toSet
    assert(tu.nonEmpty && tu.forall(committed.contains),
      s"kill shard on uncommitted/retired id: $tu vs committed $committed")
    // the ONLY visible version of the key is the winner (200): the stale
    // live duplicate 5 is healed, the replayed 130 dead-on-arrival
    val idx = new Index(spark, dir)
    assert(idx.docmeta.where(col("path") === dupPath)
      .select("doc_id").as[Long].collect().toSeq.sorted == Seq(200L))
    // and reclaim drains it all
    IndexBuild.compact(spark, dir)
    val idx2 = new Index(spark, dir)
    assert(!idx2.hasTombstones)
    assert(idx2.docmeta.where(col("path") === dupPath)
      .select("doc_id").as[Long].collect().toSeq == Seq(200L))
  }

  test("GC sweep reclaims orphaned tombstone shards (crashed-upsert leftovers)") {
    val dir = upserted()
    // fake a crashed upsert: a kill shard under a range id that never
    // committed (matches neither the retired-unit deletion nor the old
    // negative-id-only sweep — ADVICE r03)
    val orphan = s"${IndexBuild.tombstonesDir(dir)}/range=777"
    Seq((0L, graft.index.Bitmaps.serialize(new org.roaringbitmap.RoaringBitmap())))
      .toDF("seg_id", "bitmap").write.parquet(orphan)
    assert(IndexBuild.tombstoneUnits(spark, dir).contains(777L))
    IndexBuild.compact(spark, dir)
    assert(!IndexBuild.tombstoneUnits(spark, dir).contains(777L),
      "orphaned tombstone shard leaked through the sweep")
    // the compacted index still answers and excludes dead docs
    val e = new Engine(new Index(spark, dir))
    e.searchByTerms(SparkEntry.FlagshipTerms, rows = 60)
      .select("doc_id").as[Long].collect()
      .foreach(d => assert(!dead.contains(d)))
  }

  test("reclaim re-attestation catches a tampered docmeta copy") {
    val dir = upserted()
    // corrupt one LIVE docmeta row before compaction: the Observation on
    // the rewritten copy must not reproduce the manifest checksum
    val live = IndexBuild.liveUnits(spark, dir)
    val unit = live.filter(_ >= 0).head
    val p = s"${IndexBuild.docmetaDir(dir)}/range=$unit"
    val meta = spark.read.parquet(p).collect()
    val schema = spark.read.parquet(p).schema
    val tampered = meta.zipWithIndex.map { case (r, i) =>
      if (i == 0) org.apache.spark.sql.Row.fromSeq(
        r.toSeq.updated(schema.fieldIndex("sha"), "deadbeef"))
      else r
    }
    spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](java.util.Arrays.asList(tampered: _*)),
      schema).coalesce(1).write.mode("overwrite").parquet(p)
    val e = intercept[Exception](IndexBuild.compact(spark, dir))
    assert(e.getMessage.contains("re-attestation") ||
      Option(e.getCause).exists(_.getMessage.contains("re-attestation")),
      s"wrong failure: ${e.getMessage}")
  }
}
