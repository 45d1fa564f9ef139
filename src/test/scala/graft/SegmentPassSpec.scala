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
  * the same results broadcast or shuffled, and the term binding of the
  * scan planned once: reused across calls, apart across threads, pushed
  * into parquet, never applied to an unrelated read.
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

  /** Input records the tasks of `body`'s jobs read (the rows parquet
    * delivered), counted by a listener once the bus has delivered every
    * event of the call.
    */
  private def inputRowsOf(body: => Any): Long = {
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
      body
      org.apache.spark.TestBus.drain(sc)
      n.get
    } finally sc.removeSparkListener(listener)
  }

  test("calls with different terms reuse one planned scan and equal the brute scorer") {
    val first = engine.termsPass(queries(1), rows = 30)
    val scan = first.plan.queryExecution
    val scanRdd = first.rows.dependencies.map(_.rdd.id)
    assert(scanRdd.size == 1, "precondition: the pass maps one scan RDD")
    for (q <- queries) {
      val pass = engine.termsPass(q, rows = 30)
      assert(pass.plan eq first.plan, s"$q: a new scan plan")
      assert(pass.plan.queryExecution eq scan, s"$q: a new QueryExecution")
      assert(pass.rows.dependencies.map(_.rdd.id) == scanRdd, s"$q: not the planned scan's RDD")
      assert(pass.binding.isDefined, s"$q: unbound")
      assert(pairs(Wand.topK(pass, 30)) == brute(q, 30), s"$q differs from brute")
    }
    // a batch and a Boolean query bind the same scan
    assert(engine.manyPass(queries.zipWithIndex.map { case (q, i) => i.toLong -> q }, rows = 30)
      .plan eq first.plan)
    assert(engine.boolPass(queries(0), mustNot = queries(1).map(_._1), rows = 30).plan eq first.plan)
  }

  test("concurrent calls with different terms each equal the brute scorer") {
    val qs = Seq(queries(1), queries(2), queries(0), queries(1).take(2))
    val expected = qs.map(brute(_, 30))
    engine.searchByTerms(qs.head, rows = 30) // plan the scan once, before the threads
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

  test("a thread started while a binding is set reads unbound segments") {
    val pass = engine.termsPass(queries(1), rows = 30)
    val (key, _) = pass.binding.getOrElse(fail("precondition: the pass is bound"))
    val rows = engine.index.segments.count()
    val exported = engine.exportMatches(queries(0)).collect().toSeq
    assert(exported.nonEmpty)
    val seen = pass.run { _ =>
      var r: (String, Long, Seq[org.apache.spark.sql.Row]) = null
      val t = new Thread(() => r = (spark.sparkContext.getLocalProperty(key),
        engine.index.segments.count(), engine.exportMatches(queries(0)).collect().toSeq))
      t.start()
      t.join()
      r
    }
    assert(seen._1 != null, "precondition: the thread inherits the binding")
    assert(seen._2 == rows, "an inherited binding filtered a segments read")
    assert(seen._3 == exported, "an inherited binding filtered exportMatches")
  }

  test("a bound call reads fewer input rows than the unbound scan: parquet prunes by term_id") {
    // the 64 KB row groups hold term_id ranges, so a rare query's ids
    // select a few of them; the input bytes do not show it, as the
    // unbound scan's column reads are not counted in the task's bytes
    val eng = new Engine(new Index(split, splitDir))
    val pass = eng.termsPass(queries(1), rows = 30)
    assert(pass.binding.isDefined, "precondition: the pass is bound")
    val bound = inputRowsOf(Wand.topK(pass, 30))
    val full = inputRowsOf(pass.rows.count()) // the same planned scan, no binding
    assert(bound > 0 && bound * 4 < full, s"bound call read $bound rows, the unbound scan $full")
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

  test("tombstones and predicates: successive calls per call plan, each equal to brute") {
    val dir = tempDir("graft-segpass-kills")
    IndexBuild.build(spark, synth(spark), dir, cfg)
    IndexBuild.deleteByKeys(spark, synth(spark).where(col("doc_id") % 7 === 3).select("path"), dir)
    val killed = new Engine(new Index(spark, dir))
    assert(killed.index.hasTombstones, "precondition: the index holds kills")
    val langs = synth(spark).select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    for (q <- queries) {
      val pass = killed.termsPass(q, rows = 30)
      assert(pass.binding.isEmpty, s"$q: a tombstoned pass bound a planned scan")
      assert(pairs(Wand.topK(pass, 30)) == brute(q, 30, _ % 7 != 3), s"kills $q")
      val pred = Some(col("lang") === "java")
      assert(engine.termsPass(q, rows = 30, docPred = pred).binding.isEmpty, s"$q: predicate bound")
      assert(pairs(engine.searchByTerms(q, rows = 30, docPred = pred)) ==
        brute(q, 30, d => langs(d) == "java"), s"predicate $q")
    }
  }
}
