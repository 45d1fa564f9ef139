package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{BruteScorer, Engine, Index, Wand}

/** The segment-local query pass: every scan task scores the whole
  * segments it holds and the driver merges the tasks' heaps, in one job.
  * Pinned here: segments stay whole when Spark splits files, every write
  * keeps a segment in one file, the job counts, the side join giving
  * the same results broadcast or shuffled, and the engine's resident
  * segments table: built whole by its first call, read without parquet
  * by later ones, read again from parquet once dropped, and left out of
  * the passes with a side input.
  */
class SegmentPassSpec extends SparkSpec {
  import spark.implicits._

  // 64-doc segments, 32 per unit: 2000 docs make one unit of 32 segments
  // written to two files
  val cfg = IndexConfig(segShift = 6, rangeSegsShift = 5, buildPartitions = 2)
  val Files = 2000L

  def synth(s: SparkSession): DataFrame = Corpus.synthesize(s, Files, partitions = 4)

  lazy val defaultDir: String = {
    val d = tempDir("graft-segpass")
    IndexBuild.build(spark, synth(spark), d, cfg)
    d
  }
  lazy val engine = new Engine(new Index(spark, defaultDir))
  lazy val docs: Seq[(Long, String)] =
    synth(spark).select($"doc_id", $"content").as[(Long, String)].collect().toSeq

  /** Three hottest terms, three rare ones (df 2..20), and a mix. */
  lazy val queries: Seq[Seq[(String, Double)]] = {
    val byDf = engine.index.dictionary.where($"term".startsWith("w:"))
      .select($"term", $"df".cast("long")).as[(String, Long)].collect().sortBy(t => (-t._2, t._1))
    val hot = byDf.take(3).map(_._1).toSeq
    val rare = byDf.filter(t => t._2 >= 2 && t._2 <= 20).map(_._1).take(3).toSeq
    assert(rare.size == 3, "corpus too flat for a rare query")
    Seq(hot, rare, hot.take(2) ++ rare.take(2)).map(_.map(_ -> 1.0))
  }

  private def triples(df: DataFrame): Seq[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSeq

  /** Brute-force (doc_id, score_q) of `q` over every doc, top `k` of the
    * docs `keep` admits: the index's stats count every doc, also a
    * tombstoned one.
    */
  private def brute(q: Seq[(String, Double)], k: Int, keep: Long => Boolean = _ => true) =
    BruteScorer.topK(docs, q, docs.size).filter(s => keep(s.docId)).take(k)
      .map(s => (s.docId, s.scoreQ))

  private def pairs(df: DataFrame): Seq[(Long, Long)] = triples(df).map(t => (t._2, t._3))

  // the corpus in 64 KB row groups, its files split at 128 KB
  lazy val split: SparkSession = {
    val s = spark.newSession()
    s.conf.set("parquet.block.size", (64 * 1024).toString)
    s.conf.set("spark.sql.files.maxPartitionBytes", (128 * 1024).toString)
    s
  }
  lazy val splitDir: String = {
    val d = tempDir("graft-segsplit")
    IndexBuild.build(split, synth(split), d, cfg)
    d
  }

  test("segments stay whole under file splitting: top-k == brute scorer == default run") {
    val dir = splitDir
    def segsOverPartitions(df: DataFrame): Long =
      df.select(col("seg_id"), spark_partition_id().as("p")).distinct()
        .groupBy(col("seg_id")).count().where(col("count") > 1).count()
    // precondition: plain parquet splits the files and spreads segments
    assert(segsOverPartitions(split.read.parquet(IndexBuild.segmentsDir(dir))) > 0,
      "precondition: plain parquet keeps every segment in one partition")
    val eng = new Engine(new Index(split, dir))
    assert(segsOverPartitions(eng.index.segments) == 0, "a segment spans two scan partitions")
    queries.foreach { q =>
      val got = triples(eng.searchByTerms(q, rows = 30))
      val brute = BruteScorer.topK(docs, q, 30)
      assert(got.map(t => (t._2, t._3)) == brute.map(s => (s.docId, s.scoreQ)), s"brute $q")
      assert(got == triples(engine.searchByTerms(q, rows = 30)), s"default run $q")
      assert(triples(eng.searchByTerms(q, rows = 30, docFilter = Some("lang" -> "java"))) ==
        triples(engine.searchByTerms(q, rows = 30, docFilter = Some("lang" -> "java"))), s"fq $q")
    }
    val batch = queries.zipWithIndex.map { case (q, i) => i.toLong -> q }
    assert(eng.searchManyByTerms(batch, rows = 30).collect().toSeq ==
      engine.searchManyByTerms(batch, rows = 30).collect().toSeq)
  }

  test("every build, upsert and compaction unit keeps each seg_id in one file") {
    val c = IndexConfig(segShift = 5, rangeSegsShift = 3) // 8 segments per unit
    val base = Corpus.fromDocuments(spark, sfTiny)
    val dir = tempDir("graft-segfiles")
    def assertOneFilePerSegment(step: String): Unit =
      IndexBuild.liveUnits(spark, dir).foreach { u =>
        val spread = spark.read.parquet(s"${IndexBuild.segmentsDir(dir)}/range=$u")
          .select(col("seg_id"), input_file_name().as("f")).distinct()
          .groupBy(col("seg_id")).count().where(col("count") > 1)
          .as[(Long, Long)].collect()
        assert(spread.isEmpty, s"$step: unit $u spreads segments over files: ${spread.toSeq}")
      }
    IndexBuild.build(spark, base, dir, c)
    assertOneFilePerSegment("build")
    val updates = base.where(col("doc_id") % 17 === 0)
      .withColumn("doc_id", col("doc_id") + 1024L)
      .withColumn("content", concat(col("content"), lit(" zzupserted")))
    IndexBuild.upsert(spark, updates, dir, c, keyCols = Seq("path"))
    assertOneFilePerSegment("upsert")
    IndexBuild.compact(spark, dir)
    assert(IndexBuild.liveUnits(spark, dir).size == 1, "compaction left several units")
    assertOneFilePerSegment("compaction")
  }

  test("one job per query, per batch and per covered-fq query") {
    val terms = queries(2)
    val batch = queries.zipWithIndex.map { case (q, i) => i.toLong -> q }
    val fq = Some("lang" -> "java")
    // the same corpus at segShift 23: one segment wider than the dense
    // window, so the hot query runs the windowed dense kernel
    val wideDir = tempDir("graft-segpass-wide")
    IndexBuild.build(spark, synth(spark), wideDir, IndexConfig(segShift = 23, rangeSegsShift = 1))
    val wide = new Engine(new Index(spark, wideDir))
    assert(wide.index.cfg.segShift > wide.DenseArraySegShiftMax && wide.routesDense(queries(0)),
      "precondition: the hot query routes dense on wide segments")
    // first calls load the index's lazy state (manifest, stats, vocabulary)
    engine.searchByTerms(terms, rows = 30, docFilter = fq)
    engine.searchManyByTerms(batch, rows = 30)
    wide.searchByTerms(terms, rows = 30)
    for (e <- Seq(engine, wide); q <- queries) {
      val (_, n) = jobsOf(e.searchByTerms(q, rows = 30))
      assert(n == 1, s"$q ran $n jobs at segShift ${e.index.cfg.segShift}")
    }
    assert(jobsOf(engine.searchManyByTerms(batch, rows = 30))._2 == 1)
    val (_, nFq) = jobsOf(engine.searchByTerms(terms, rows = 30, docFilter = fq))
    assert(nFq == 1, s"covered fq ran $nFq jobs")
  }

  test("forced shuffle join: fq, kills, predicate, facets, grouping == the broadcast run") {
    val base = Corpus.fromDocuments(spark, sfTiny)
    val c = IndexConfig(segShift = 5, rangeSegsShift = 1)
    val dir = tempDir("graft-segshuffle")
    IndexBuild.build(spark, base, dir, c)
    IndexBuild.deleteByKeys(spark, base.where(col("doc_id") % 13 === 1).select("path"), dir)
    val shuffled = spark.newSession()
    shuffled.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bcast = new Engine(new Index(spark, dir))
    val shuf = new Engine(new Index(shuffled, dir))
    assert(bcast.index.hasTombstones, "precondition: the index holds kills")
    val terms = SparkEntry.FlagshipTerms
    def joinsOf(pass: Engine.Pass): String = {
      pass.plan.collect()
      pass.plan.queryExecution.executedPlan.toString
    }
    val pb = joinsOf(bcast.termsPass(terms, rows = 30, docFilter = Some("lang" -> "en")))
    val ps = joinsOf(shuf.termsPass(terms, rows = 30, docFilter = Some("lang" -> "en")))
    assert(pb.contains("BroadcastHashJoin"), s"precondition: side not broadcast\n$pb")
    assert(!ps.contains("BroadcastHashJoin") &&
      (ps.contains("SortMergeJoin") || ps.contains("ShuffledHashJoin")),
      s"precondition: side join not shuffled\n$ps")
    def same(name: String)(f: Engine => DataFrame): Unit = {
      val a = f(bcast).collect().map(_.toSeq).toSeq
      val b = f(shuf).collect().map(_.toSeq).toSeq
      assert(a.nonEmpty, s"$name: empty")
      assert(a.sortBy(_.toString) == b.sortBy(_.toString), s"$name differs")
    }
    same("fq")(_.searchByTerms(terms, rows = 30, docFilter = Some("lang" -> "en")))
    same("kills")(_.searchByTerms(terms, rows = 30))
    same("predicate")(_.searchByTerms(terms, rows = 30, docPred = Some(col("lang") === "en")))
    same("bool")(_.searchBool(terms, mustNot = Seq("w:dup"), rows = 30,
      docFilter = Some("lang" -> "en")))
    same("facet")(_.facet(terms, "lang"))
    same("facet fq")(_.facet(terms, "repo", docFilter = Some("lang" -> "en")))
    same("pivot")(_.facetPivot(terms, "lang", "repo"))
    same("grouped")(_.searchGrouped(terms, "repo", groupLimit = 2, groups = 5))
    same("grouped fq")(_.searchGrouped(terms, "repo", groupLimit = 2, groups = 5,
      docFilter = Some("lang" -> "en")))
    same("block join")(_.blockJoinParents(terms))
  }

  /** `body`'s value and the input records its jobs' tasks read (the rows
    * parquet delivered, or the cached elements), counted by a listener
    * once the bus has delivered every event of the call.
    */
  private def inputRowsOf[T](body: => T): (T, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) n.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val v = body
      org.apache.spark.TestBus.drain(sc)
      (v, n.get)
    } finally sc.removeSparkListener(listener)
  }

  test("calls with different terms reuse one planned scan and equal the brute scorer") {
    val first = engine.termsPass(queries(1), rows = 30)
    val scan = first.plan.queryExecution
    val scanRdd = first.rows.dependencies.map(_.rdd.id)
    assert(scanRdd == Seq(engine.resident.table.id), "precondition: the pass maps the resident table")
    for (q <- queries) {
      val pass = engine.termsPass(q, rows = 30)
      assert(pass.plan eq first.plan, s"$q: a new scan plan")
      assert(pass.plan.queryExecution eq scan, s"$q: a new QueryExecution")
      assert(pass.rows.dependencies.map(_.rdd.id) == scanRdd, s"$q: not the resident table")
      assert(pairs(Wand.topK(pass, 30)) == brute(q, 30), s"$q differs from brute")
    }
    // a batch and a Boolean query read the same table
    assert(engine.manyPass(queries.zipWithIndex.map { case (q, i) => i.toLong -> q }, rows = 30)
      .plan eq first.plan)
    assert(engine.boolPass(queries(0), mustNot = queries(1).map(_._1), rows = 30).plan eq first.plan)
  }

  test("concurrent calls with different terms each equal the brute scorer") {
    val qs = Seq(queries(1), queries(2), queries(0), queries(1).take(2))
    val expected = qs.map(brute(_, 30))
    engine.searchByTerms(qs.head, rows = 30) // fill the table once, before the threads
    val got = new java.util.concurrent.ConcurrentHashMap[Int, Seq[(Long, Long)]]()
    val threads = Seq(0, 1).map { t =>
      new Thread(() => (0 until 6).foreach { i =>
        val j = (i + t) % qs.size
        val r = pairs(engine.searchByTerms(qs(j), rows = 30))
        if (r != expected(j)) got.put(t * 100 + i, r)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(got.isEmpty, s"calls differing from brute: ${got.keySet}")
  }

  /** Whether the resident table of `eng` is cached whole. */
  private def cachedWhole(eng: Engine): Boolean =
    spark.sparkContext.getRDDStorageInfo.exists { i =>
      i.id == eng.resident.table.id && i.numCachedPartitions == i.numPartitions
    }

  test("a rare first call caches the whole table; later calls read no parquet row") {
    // on the 64 KB row groups a rare term's rows sit in a few of them
    val eng = new Engine(new Index(split, splitDir))
    val stored = eng.index.segments.count()
    eng.index.dfOf(queries.flatten.map(_._1)) // the index's lazy state reads other stores
    eng.index.stats
    eng.index.cfg
    val (got1, first) = inputRowsOf(pairs(eng.searchByTerms(queries(1), rows = 30)))
    assert(got1 == brute(queries(1), 30))
    assert(first == stored, s"the first call read $first of $stored rows")
    assert(cachedWhole(eng), "the first call left the table partly cached")
    // a cached read counts one input record per chunk it hands over
    val chunks = eng.resident.table.count()
    assert(chunks > 0 && chunks * 10 < stored, s"precondition: $chunks chunks of $stored rows")
    for (q <- queries) {
      val (got, read) = inputRowsOf(pairs(eng.searchByTerms(q, rows = 30)))
      assert(got == brute(q, 30), s"$q differs from brute")
      assert(read == chunks, s"$q read $read input records, the table holds $chunks chunks")
    }
  }

  test("a call after the table is unpersisted reads parquet again and equals brute") {
    val eng = new Engine(new Index(spark, defaultDir))
    assert(pairs(eng.searchByTerms(queries(2), rows = 30)) == brute(queries(2), 30))
    assert(cachedWhole(eng), "precondition: the table is cached")
    eng.resident.table.unpersist(blocking = true)
    val stored = eng.index.segments.count()
    for (q <- queries) {
      val (got, read) = inputRowsOf(pairs(eng.searchByTerms(q, rows = 30)))
      assert(read == stored, s"$q read $read input records of $stored stored rows")
      assert(got == brute(q, 30), s"$q differs from brute")
    }
  }

  test("a term-only row carries no positions; a phrase word's row carries them") {
    val terms = queries(2).map(_._1)
    val ids = terms.map(graft.index.TermHash.hash).distinct.sorted.toArray
    def positions(phraseWords: Set[String]) = engine.resident.table
      .flatMap(_.rows(ids, terms.toSet, phraseWords).map(r => (r.term, r.positions != null)))
      .collect().toSeq
    val termOnly = positions(Set.empty)
    assert(termOnly.map(_._1).toSet == terms.toSet, "precondition: every term has rows")
    assert(termOnly.forall(!_._2), "a term-only row carries positions")
    val phrase = positions(Set(terms.head))
    assert(phrase.forall { case (t, has) => has == (t == terms.head) },
      "positions are read for the phrase word's rows only")
  }

  test("a scan read row by row (no vectorized reader) binds the same: each call equals brute") {
    val rowReader = spark.newSession()
    rowReader.conf.set("spark.sql.parquet.enableVectorizedReader", "false")
    val eng = new Engine(new Index(rowReader, defaultDir))
    for (q <- queries) {
      val pass = eng.termsPass(q, rows = 30)
      assert(!pass.plan.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
        "precondition: the scan reads rows")
      assert(pairs(Wand.topK(pass, 30)) == brute(q, 30), s"$q differs from brute")
    }
  }

  test("files packed into one scan partition: a chunk spans two files, calls equal brute") {
    // with no open cost, both files of the unit fit one partition's bytes
    val packed = spark.newSession()
    packed.conf.set("spark.sql.files.openCostInBytes", "0")
    packed.conf.set("spark.sql.files.minPartitionNum", "1")
    val eng = new Engine(new Index(packed, defaultDir))
    val perFile = eng.index.segments.groupBy(input_file_name()).count().as[(String, Long)].collect()
    assert(eng.resident.table.getNumPartitions == 1 && perFile.length == 2 &&
      perFile.forall(_._2 % graft.query.SegChunk.MaxRows != 0),
      s"precondition: one partition whose chunks cross a file boundary, files ${perFile.toSeq}")
    for (q <- queries) assert(pairs(eng.searchByTerms(q, rows = 30)) == brute(q, 30), s"$q differs from brute")
    // a lookup of every term gives back every stored row, in scan order
    val stored = eng.index.segments.select($"seg_id", $"term", $"postings")
      .as[(Long, String, Array[Byte])].collect().toSeq
    val terms = stored.map(_._2).distinct
    val ids = terms.map(graft.index.TermHash.hash).distinct.sorted.toArray
    val looked = eng.resident.table
      .flatMap(_.rows(ids, terms.toSet, Set.empty).map(r => (r.seg_id, r.term, r.postings)))
      .collect().toSeq
    assert(looked.size == stored.size && looked.iterator.zip(stored.iterator).forall { case (a, b) =>
      a._1 == b._1 && a._2 == b._2 && java.util.Arrays.equals(a._3, b._3)
    }, s"a lookup of every term gave ${looked.size} rows, not the ${stored.size} stored in scan order")
  }

  /** Whether `pass` reads the resident table of `eng`: the table is in
    * the lineage of its rows.
    */
  private def readsTable(pass: Engine.Pass, eng: Engine): Boolean = {
    def lineage(r: org.apache.spark.rdd.RDD[_]): Iterator[Int] =
      Iterator(r.id) ++ r.dependencies.iterator.flatMap(d => lineage(d.rdd))
    lineage(pass.rows).contains(eng.resident.table.id)
  }

  test("tombstones and predicates: successive calls per call plan, each equal to brute") {
    val dir = tempDir("graft-segpass-kills")
    IndexBuild.build(spark, synth(spark), dir, cfg)
    IndexBuild.deleteByKeys(spark, synth(spark).where(col("doc_id") % 7 === 3).select("path"), dir)
    val killed = new Engine(new Index(spark, dir))
    assert(killed.index.hasTombstones, "precondition: the index holds kills")
    val langs = synth(spark).select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    for (q <- queries) {
      val pass = killed.termsPass(q, rows = 30)
      assert(!readsTable(pass, killed), s"$q: a tombstoned pass reads the resident table")
      assert(pairs(Wand.topK(pass, 30)) == brute(q, 30, _ % 7 != 3), s"kills $q")
      val pred = Some(col("lang") === "java")
      assert(!readsTable(engine.termsPass(q, rows = 30, docPred = pred), engine),
        s"$q: a predicate pass reads the resident table")
      assert(pairs(engine.searchByTerms(q, rows = 30, docPred = pred)) ==
        brute(q, 30, d => langs(d) == "java"), s"predicate $q")
    }
  }
}
