package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{BruteScorer, Engine, Index, Wand}

/** The segment-local query pass: every task scores the whole segments
  * its partition of the engine's resident segments table holds, and the
  * driver merges the tasks' heaps, in one job. Pinned here: each segment
  * sits in one table partition when Spark splits files, every write keeps
  * a segment in one file, the job counts, and the table itself: built
  * whole by its first call, read without parquet by later ones, rebuilt
  * once dropped, and the one source of rows for tombstoned, predicate
  * and value passes too, whose kills and predicate matches are reserved
  * posting lists no caller can name.
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
  private def brute(q: Seq[(String, Double)], k: Int, keep: Long => Boolean = _ => true,
      corpus: Seq[(Long, String)] = docs) =
    BruteScorer.topK(corpus, q, corpus.size).filter(s => keep(s.docId)).take(k)
      .map(s => (s.docId, s.scoreQ))

  /** Every row of `eng`'s resident table, looked up by every stored
    * term, with the partition that holds it, in table order.
    */
  private def tableRows(eng: Engine): Seq[(Int, graft.query.SegRow)] = {
    val terms = eng.index.segments.select($"term").distinct().as[String].collect().toSet ++
      Set(Engine.KillKey)
    val ids = terms.toSeq.map(graft.index.TermHash.hash).distinct.sorted.toArray
    eng.resident.table.mapPartitionsWithIndex((p, cs) => cs.flatMap(_.rows(ids, terms, Set.empty)).map(p -> _))
      .collect().toSeq
  }

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
    val eng = new Engine(new Index(split, dir))
    // precondition: the segments scan splits the files and spreads segments
    val spread = eng.index.segments.select(col("seg_id"), spark_partition_id().as("p")).distinct()
      .groupBy(col("seg_id")).count().where(col("count") > 1).count()
    assert(spread > 0, "precondition: the scan keeps every segment in one partition")
    val parts = tableRows(eng).groupBy(_._2.seg_id).view.mapValues(_.map(_._1).distinct).toMap
    assert(parts.size == eng.index.segments.select($"seg_id").distinct().count(), "segments missing")
    assert(parts.forall(_._2.size == 1), "a segment spans two table partitions")
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

  /** `body`'s value and the Scala lambdas `SparkContext.clean` reported
    * cleaning on this thread while it ran (their impl method names), from
    * the closure cleaner's DEBUG log.
    */
  private def cleanedClosures[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val prefix = "Cleaning indylambda closure: "
    val thread = Thread.currentThread.getName
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("closures", null, null, true, Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (e.getThreadName == thread && m.startsWith(prefix)) seen.add(m.stripPrefix(prefix))
      }
    }
    appender.start()
    val logger = LogManager.getLogger("org.apache.spark.util.ClosureCleaner").asInstanceOf[Logger]
    val (level, additive) = (logger.getLevel, logger.isAdditive)
    logger.addAppender(appender)
    logger.setLevel(Level.DEBUG)
    logger.setAdditive(false)
    try (body, seen.toArray(Array.empty[String]).toSeq)
    finally {
      logger.setLevel(level)
      logger.setAdditive(additive)
      logger.removeAppender(appender)
      appender.stop()
    }
  }

  test("warm query, batch and predicate calls: one job each, no lambda of their own to clean") {
    val terms = queries(2)
    val batch = queries.zipWithIndex.map { case (q, i) => i.toLong -> q }
    val java = col("lang") === "java"
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "term" -> (() => engine.searchByTerms(terms, rows = 30)),
      "batch" -> (() => engine.searchManyByTerms(batch, rows = 30)),
      "predicate" -> (() => engine.searchByTerms(terms, rows = 30, docPred = Some(java))))
    calls.foreach(_._2()) // fill the table and load the index's lazy state
    // the predicate's own docmeta plan: the closures Spark SQL's operators
    // clean when it runs, which no pass can avoid
    val (_, sqlOwn) =
      cleanedClosures(engine.index.docmetaAll.where(java).select($"doc_id").queryExecution.toRdd)
    assert(sqlOwn.nonEmpty, "precondition: the cleaner's DEBUG lines are captured")
    calls.foreach { case (name, call) =>
      val ((df, n), cleaned) = cleanedClosures(jobsOf(call()))
      assert(df.count() > 0, s"$name: empty")
      assert(n == 1, s"$name ran $n jobs")
      assert(cleaned == (if (name == "predicate") sqlOwn else Nil), s"$name cleaned lambdas $cleaned")
    }
    // a query of no corpus-present term scores nothing: the empty pass
    val (none, cleaned) = cleanedClosures(engine.searchByTerms(Seq("zz-no-such-term" -> 1.0), rows = 30))
    assert(none.collect().isEmpty && cleaned.isEmpty, s"empty pass: ${none.collect().toSeq}, $cleaned")
    assert(none.schema == org.apache.spark.sql.types.StructType(Seq("rank", "doc_id", "score_q")
      .map(org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** `body`'s value and the SQL executions Spark started while it ran,
    * counted by a listener once the bus has delivered every event of the
    * call.
    */
  private def sqlExecutionsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => n.incrementAndGet()
        case _ =>
      }
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val v = body
      org.apache.spark.TestBus.drain(sc)
      (v, n.get)
    } finally sc.removeSparkListener(listener)
  }

  test("a search result's collect, collectAsList, take and head return its merged rows: no SQL execution") {
    import scala.jdk.CollectionConverters._
    val batch = queries.zipWithIndex.map { case (q, i) => i.toLong -> q }
    // each call and the columns its rows are ordered by
    val calls: Seq[(String, () => DataFrame, Seq[String])] = Seq(
      ("term", () => engine.searchByTerms(queries(2), rows = 30), Seq("rank")),
      ("page", () => engine.searchPage(queries(0), start = 5, rows = 10), Seq("rank")),
      ("batch", () => engine.searchManyByTerms(batch, rows = 30), Seq("query_id", "rank")))
    calls.foreach(_._2().collect()) // fill the table and load the index's lazy state
    for ((name, call, order) <- calls) {
      val df = call()
      val (planned, posted) = sqlExecutionsOf(df.toDF().collect())
      assert(posted == 1, s"precondition: $name's Catalyst collect posted $posted SQL executions")
      assert(planned.length > 5, s"$name: ${planned.length} rows")
      assert(df.orderBy(order.map(col): _*).collect().toSeq == planned.toSeq, s"$name: orderBy differs")
      val ((all, list, five, head, first), fast) =
        sqlExecutionsOf((df.collect(), df.collectAsList(), df.take(5), df.head(), df.first()))
      assert(fast == 0, s"$name: the fast actions posted $fast SQL executions")
      assert(all.toSeq == planned.toSeq, s"$name: collect differs")
      assert(list.asScala.toSeq == planned.toSeq, s"$name: collectAsList differs")
      assert(five.toSeq == planned.take(5).toSeq, s"$name: take(5) differs")
      assert(head == planned.head && first == planned.head, s"$name: head differs")
      assert(all.map(_.getAs[Long]("doc_id")).toSeq == planned.map(_.getAs[Long]("doc_id")).toSeq,
        s"$name: doc_id by name")
      all(0) = null
      list.set(1, null)
      assert(df.collect().toSeq == planned.toSeq, s"$name: a returned array aliases the result")
    }
    val (none, posted) = sqlExecutionsOf {
      val df = engine.searchByTerms(Seq("zz-no-such-term" -> 1.0), rows = 30)
      (df.collect(), df.take(5), df.schema)
    }
    assert(none._1.isEmpty && none._2.isEmpty && posted == 0, s"empty result: ${none._1.toSeq}, $posted")
    assert(none._3 == org.apache.spark.sql.types.StructType(Seq("rank", "doc_id", "score_q")
      .map(org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.LongType, nullable = false))))
  }

  test("docmeta routes broadcast the match set when its df bound fits the session's threshold") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
    val helper = new AdaptiveSparkPlanHelper {}
    // the join as first planned: AQE may turn a sort-merge join into a
    // broadcast only after both sides were shuffled
    def joins(df: DataFrame): Seq[String] = helper.collect(df.queryExecution.executedPlan) {
      case _: BroadcastHashJoinExec => "broadcast"
      case _: SortMergeJoinExec => "sort-merge"
    }
    val tight = spark.newSession()
    tight.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
    val small = new Engine(new Index(tight, defaultDir))
    val terms = queries(2)
    val verbs: Seq[(String, Engine => DataFrame)] = Seq(
      "statsField" -> (_.statsField(terms, "dl")),
      "facetRange" -> (_.facetRange(terms, "dl", 0L, 1L << 20, 64L)),
      "searchSortedBy" -> (_.searchSortedBy(terms, "dl", true, 30)),
      "facetScan" -> (_.facetScan(terms, "lang", None)))
    for ((name, verb) <- verbs) {
      val (a, b) = (verb(engine), verb(small))
      assert(joins(a) == Seq("broadcast"), s"$name: ${joins(a)}")
      assert(joins(b) == Seq("sort-merge"), s"$name under a 1-byte threshold: ${joins(b)}")
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
      assert(rows(a).nonEmpty && rows(a) == rows(b), s"$name differs between the two plans")
    }
  }

  test("forced shuffle join: fq, kills, predicate, facets, grouping == the broadcast run") {
    val base = Corpus.fromDocuments(spark, sfTiny)
    val c = IndexConfig(segShift = 5, rangeSegsShift = 1)
    def tombstoned(tag: String, conf: IndexConfig): String = {
      val dir = tempDir(tag)
      IndexBuild.build(spark, base, dir, conf)
      IndexBuild.deleteByKeys(spark, base.where(col("doc_id") % 13 === 1).select("path"), dir)
      dir
    }
    val dir = tombstoned("graft-segshuffle", c)
    val shuffled = spark.newSession()
    shuffled.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bcast = new Engine(new Index(spark, dir))
    val shuf = new Engine(new Index(shuffled, dir))
    // the same tombstoned index without filter keys: every verb takes its
    // docmeta route
    val scan = new Engine(new Index(spark, tombstoned("graft-segshuffle-scan", c.copy(filterColumns = Nil))))
    assert(bcast.index.hasTombstones && scan.index.hasTombstones, "precondition: the indexes hold kills")
    assert(scan.index.filterColsComplete.isEmpty, "precondition: the twin reads no filter key")
    val terms = SparkEntry.FlagshipTerms
    def rowsOf(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)
    def same(name: String)(f: Engine => DataFrame): Unit = {
      val a = rowsOf(f(bcast))
      assert(a.nonEmpty, s"$name: empty")
      assert(a == rowsOf(f(shuf)), s"$name differs under forced shuffle joins")
      assert(a == rowsOf(f(scan)), s"$name differs from its docmeta route")
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
    // and the scoring verbs equal brute over the live docs
    val tiny = base.select($"doc_id", $"content").as[(Long, String)].collect().toSeq
    val langs = base.select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val live = bcast.index.docmeta.select($"doc_id").as[Long].collect().toSet
    assert(live.size < tiny.size, "precondition: some docs are deleted")
    assert(pairs(bcast.searchByTerms(terms, rows = 30)) == brute(terms, 30, live, tiny), "kills != brute")
    assert(pairs(bcast.searchByTerms(terms, rows = 30, docPred = Some(col("lang") === "en"))) ==
      brute(terms, 30, d => live(d) && langs(d) == "en", tiny), "predicate != brute")
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

  test("an unpersisted table is rebuilt from the fill's shuffle: no parquet row read") {
    val eng = new Engine(new Index(spark, defaultDir))
    assert(pairs(eng.searchByTerms(queries(2), rows = 30)) == brute(queries(2), 30))
    assert(cachedWhole(eng), "precondition: the table is cached")
    eng.resident.table.unpersist(blocking = true)
    // the fill's shuffle output outlives the cached blocks: each call
    // builds the table's partitions from it and reads no parquet row
    for (q <- queries) {
      val (got, read) = inputRowsOf(pairs(eng.searchByTerms(q, rows = 30)))
      assert(read == 0, s"$q read $read input records")
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
    // a lookup of every term gives back every stored row, in term_id order
    def key(seg: Long, term: String, postings: Array[Byte]) =
      (graft.index.TermHash.hash(term), seg, term, postings.toSeq)
    val stored = eng.index.segments.select($"seg_id", $"term", $"postings")
      .as[(Long, String, Array[Byte])].collect().toSeq.map((key _).tupled)
    val looked = tableRows(eng).map { case (_, r) => key(r.seg_id, r.term, r.postings) }
    assert(looked.map(_._1) == looked.map(_._1).sorted, "the table is not in term_id order")
    assert(looked.sortBy(k => (k._1, k._2, k._3)) == stored.sortBy(k => (k._1, k._2, k._3)),
      s"a lookup of every term gave ${looked.size} rows, not the ${stored.size} stored")
  }

  /** The default index with the docs of doc_id % 7 == 3 deleted. */
  lazy val killed: Engine = {
    val dir = tempDir("graft-segpass-kills")
    IndexBuild.build(spark, synth(spark), dir, cfg)
    IndexBuild.deleteByKeys(spark, synth(spark).where(col("doc_id") % 7 === 3).select("path"), dir)
    new Engine(new Index(spark, dir))
  }
  private val live: Long => Boolean = _ % 7 != 3

  test("tombstoned and predicate calls: one job on the filled table, no segments read") {
    assert(killed.index.hasTombstones, "precondition: the index holds kills")
    val langs = synth(spark).select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val java = Some(col("lang") === "java")
    val isJava: Long => Boolean = d => langs(d) == "java"
    // a phrase of the first doc's first two words, and a parsed query with it
    val Array(w1, w2) = graft.analyze.Tokenizer.tokenizeScala(docs.head._2).take(2)
    val parsed = s"\"$w1 $w2\" ${queries(1).map(_._1).mkString(" ")}"
    val batch = queries.zipWithIndex.map { case (q, i) => i.toLong -> q }
    val terms = queries(2)
    val (all, k) = (docs.size, 30)
    /** `df`'s (doc_id, score_q) pairs, without their ranks. */
    def live30(df: DataFrame, keep: Long => Boolean): Seq[(Long, Long)] =
      pairs(df).filter(p => keep(p._1)).take(k)
    // each call, its expected result, and whether it reads docmeta
    val calls: Seq[(String, Engine, () => Any, () => Any, Boolean)] = Seq(
      ("term", killed, () => pairs(killed.searchByTerms(terms, rows = k)), () => brute(terms, k, live), false),
      ("bool", killed, () => pairs(killed.searchBool(queries(0), mustNot = queries(1).take(1).map(_._1), rows = k)),
        () => live30(engine.searchBool(queries(0), mustNot = queries(1).take(1).map(_._1), rows = all), live), false),
      ("parsed phrase", killed, () => pairs(killed.searchParsed(parsed, rows = k)),
        () => live30(engine.searchParsed(parsed, rows = all), live), false),
      ("batch", killed, () => killed.searchManyByTerms(batch, rows = k).collect().toSeq.map(_.toSeq),
        () => batch.flatMap { case (qid, q) =>
          brute(q, k, live).zipWithIndex.map { case ((d, s), i) => Seq(qid, (i + 1).toLong, d, s) }
        }, false),
      ("facet", killed, () => killed.facet(terms, "lang").collect().toSet,
        () => killed.facetScan(terms, "lang").collect().toSet, false),
      ("facet fq", killed, () => killed.facet(terms, "repo", Some("lang" -> "java")).collect().toSet,
        () => killed.facetScan(terms, "repo", Some("lang" -> "java")).collect().toSet, false),
      ("pivot", killed, () => killed.facetPivot(terms, "lang", "repo").collect().toSet,
        () => killed.facetPivotScan(terms, "lang", "repo").collect().toSet, false),
      ("grouped", killed, () => killed.searchGrouped(terms, "repo", 2, 5).collect().toSeq,
        () => killed.searchGrouped(terms, "repo", 2, 5, docPred = Some(lit(true))).collect().toSeq, false),
      ("block join", killed, () => killed.blockJoinParents(terms).collect().toSeq, () => {
        val children = brute(terms, all, live).toMap
        synth(spark).select($"doc_id", $"repo").as[(Long, String)].collect().toSeq
          .flatMap { case (d, r) => children.get(d).map(r -> _) }.groupBy(_._1).toSeq
          .map { case (r, g) => (r, g.map(_._2).max, g.size.toLong) }
          .sortBy(t => (-t._2, t._1)).take(10).zipWithIndex
          .map { case ((r, m, n), i) => org.apache.spark.sql.Row((i + 1).toLong, r, m, n) }
      }, false),
      ("predicate", engine, () => pairs(engine.searchByTerms(terms, rows = k, docPred = java)),
        () => brute(terms, k, isJava), true),
      ("bool predicate", engine, () => pairs(engine.searchBool(queries(0), rows = k, docPred = java)),
        () => pairs(engine.searchBool(queries(0), rows = k, docFilter = Some("lang" -> "java"))), true),
      ("killed predicate", killed, () => pairs(killed.searchByTerms(terms, rows = k, docPred = java)),
        () => brute(terms, k, d => live(d) && isJava(d)), true))
    // first calls fill the tables and load the indexes' lazy state
    calls.foreach(_._3())
    val docmetaRows = Seq(engine, killed).map { e =>
      e -> inputRowsOf(e.index.docmetaAll.where(java.get).select($"doc_id").as[Long].rdd.count())._2
    }.toMap
    calls.foreach { case (name, e, call, expected, readsDocmeta) =>
      val ((got, n), read) = inputRowsOf(jobsOf(call()))
      assert(got == expected(), s"$name: wrong result")
      assert(n == 1, s"$name ran $n jobs")
      val chunks = e.resident.table.count()
      assert(read == chunks + (if (readsDocmeta) docmetaRows(e) else 0L),
        s"$name read $read input records; the table holds $chunks chunks")
    }
  }

  test("reserved kill and predicate keys: no caller term or clause reads them") {
    val terms = queries(2)
    val want = pairs(killed.searchByTerms(terms, rows = 30))
    assert(want.nonEmpty && want == brute(terms, 30, live), "precondition: kills hold")
    for (key <- Seq(Engine.KillKey, Engine.PredKey)) {
      assert(killed.searchByTerms(Seq(key -> 1.0), rows = 30).count() == 0, s"$key scores as a term")
      assert(pairs(killed.searchByTerms(terms :+ (key -> 5.0), rows = 30)) == want, s"$key as a term")
      assert(pairs(killed.searchBool(terms, mustNot = Seq(key), rows = 30)) == want, s"$key as a MUST_NOT")
      assert(killed.searchBool(terms, must = Seq(key -> 1.0), rows = 30).count() == 0, s"$key as a MUST")
      assert(killed.searchParsed(s"$key ${terms.map(_._1).mkString(" ")}", rows = 30)
        .as[(Long, Long, Long)].collect().map(t => (t._2, t._3)).toSeq == want, s"$key parsed")
      // an fq's column is a docmeta column, and none is named "": the fq
      // fails analysis instead of reading the reserved rows
      val Array(c, v) = key.split("=", 2)
      intercept[org.apache.spark.sql.AnalysisException](
        killed.searchByTerms(terms, rows = 30, docFilter = Some(c -> v)))
    }
  }

  /** [[killed]]'s corpus and deletions at the same geometry with no filter
    * keys: grouping and block join take their docmeta routes.
    */
  lazy val killedNoKeys: Engine = {
    val dir = tempDir("graft-segpass-kills-nokeys")
    IndexBuild.build(spark, synth(spark), dir, cfg.copy(filterColumns = Nil))
    IndexBuild.deleteByKeys(spark, synth(spark).where(col("doc_id") % 7 === 3).select("path"), dir)
    new Engine(new Index(spark, dir))
  }

  test("match-set verbs on kills and a docPred: the table and docmeta only, == brute over live docs") {
    import graft.analyze.Tokenizer
    assert(killed.index.hasTombstones && killedNoKeys.index.hasTombstones, "precondition: kills")
    assert(killedNoKeys.index.filterColsComplete.isEmpty, "precondition: no filter key")
    val meta = synth(spark).select($"doc_id", $"lang", $"repo").as[(Long, String, String)].collect()
    val langOf = meta.map(m => m._1 -> m._2).toMap
    val repoOf = meta.map(m => m._1 -> m._3).toMap
    val dlOf = docs.map { case (d, c) =>
      d -> math.min(Tokenizer.dlOf(Tokenizer.tokenCountScala(c)), IndexBuild.MaxDl).toLong
    }.toMap
    val java = col("lang") === "java"
    val isJava: Long => Boolean = d => langOf(d) == "java"
    // the rare terms: kills and the match set both matter
    val terms = queries(1)
    val scored = BruteScorer.topK(docs, terms, docs.size).filter(s => live(s.docId))
    val matched = scored.map(_.docId)
    assert(BruteScorer.topK(docs, terms, docs.size).exists(s => !live(s.docId)) &&
      matched.size < docs.size * 6 / 7, "precondition: a killed match, and docs outside the match set")
    val (start, end, gap) = (0L, 1L << 20, 64L)
    def counts[K](key: Long => K, keep: Long => Boolean = _ => true): Map[K, Long] =
      matched.filter(keep).groupBy(key).view.mapValues(_.size.toLong).toMap
    /** Brute grouping of `scored` by `key`: (group_rank, value, rank, doc_id, score_q). */
    def grouped(key: Long => String, keep: Long => Boolean, limit: Int, groups: Int) =
      scored.filter(s => keep(s.docId)).groupBy(s => key(s.docId)).toSeq
        .map { case (v, ds) => (v, ds.take(limit)) }
        .sortBy { case (_, ds) => (-ds.head.scoreQ, ds.head.docId) }.take(groups)
        .zipWithIndex.flatMap { case ((v, ds), g) =>
          ds.zipWithIndex.map { case (s, i) => Seq((g + 1).toLong, v, (i + 1).toLong, s.docId, s.scoreQ) }
        }
    val dls = matched.map(dlOf)
    def rowsOf(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
    // each call, its brute result, and whether it reads docmeta as its
    // join side, its predicate, or both
    val calls: Seq[(String, Engine, () => Any, Any, Boolean, Option[org.apache.spark.sql.Column])] = Seq(
      ("export", killed, () => rowsOf(killed.exportMatches(terms)),
        scored.zipWithIndex.map { case (s, i) => Seq((i + 1).toLong, s.docId, s.scoreQ) }, false, None),
      ("stats", killed, () => rowsOf(killed.statsField(terms, "dl")),
        Seq(Seq(dls.size.toLong, dls.min, dls.max, dls.sum, math.round(dls.sum.toDouble * 1e6 / dls.size))),
        true, None),
      ("sort", killed, () => rowsOf(killed.searchSortedBy(terms, "dl", rows = 30)),
        matched.sortBy(d => (dlOf(d), d)).take(30).zipWithIndex
          .map { case (d, i) => Seq((i + 1).toLong, d, dlOf(d).toString) }, true, None),
      ("range facet", killed, () => killed.facetRange(terms, "dl", start, end, gap).as[(Long, Long)].collect().toMap,
        counts(d => dlOf(d) - ((dlOf(d) - start) % gap)), true, None),
      ("scan facet", killed, () => killed.facetScan(terms, "lang").as[(String, Long)].collect().toMap,
        counts(langOf), true, None),
      ("scan facet fq", killed, () => killed.facetScan(terms, "repo", Some("lang" -> "java"))
        .as[(String, Long)].collect().toMap, counts(repoOf, isJava), true, None),
      ("scan pivot", killed, () => killed.facetPivotScan(terms, "lang", "repo")
        .as[(String, String, Long)].collect().map(r => (r._1, r._2) -> r._3).toMap,
        counts(d => (langOf(d), repoOf(d))), true, None),
      ("docmeta grouping", killedNoKeys, () => rowsOf(killedNoKeys.searchGrouped(terms, "repo", 2, 5)),
        grouped(repoOf, _ => true, 2, 5), true, None),
      ("docmeta grouping fq", killedNoKeys, () => rowsOf(killedNoKeys.searchGrouped(terms, "repo", 2, 5,
        docFilter = Some("lang" -> "java"))), grouped(repoOf, isJava, 2, 5), true, Some(java)),
      // an uncovered field with a covered fq: the fq is the pass's key
      ("uncovered grouping, fq key", killed, () => rowsOf(killed.searchGrouped(terms, "dl", 2, 5,
        docFilter = Some("lang" -> "java"))), grouped(d => dlOf(d).toString, isJava, 2, 5), true, None),
      ("grouping docPred", killed, () => rowsOf(killed.searchGrouped(terms, "repo", 2, 5, docPred = Some(java))),
        grouped(repoOf, isJava, 2, 5), true, Some(java)),
      ("docmeta block join", killedNoKeys, () => rowsOf(killedNoKeys.blockJoinParents(terms, "total")),
        scored.groupBy(s => repoOf(s.docId)).toSeq
          .map { case (r, g) => (r, g.map(_.scoreQ).sum, g.size.toLong) }
          .sortBy(t => (-t._2, t._1)).take(10).zipWithIndex
          .map { case ((r, t, n), i) => Seq((i + 1).toLong, r, t, n) }, true, None))
    // first calls fill the tables and load the indexes' lazy state
    calls.foreach(_._3())
    /** The input records of `eng`'s docmeta reads: the join side, and the predicate's. */
    def docmetaRows(eng: Engine, pred: Option[org.apache.spark.sql.Column]): Long =
      inputRowsOf(eng.index.docmetaAll.select($"doc_id").as[Long].rdd.count())._2 +
        pred.fold(0L)(p => inputRowsOf(eng.index.docmetaAll.where(p).select($"doc_id").as[Long].rdd.count())._2)
    calls.foreach { case (name, e, call, expected, readsDocmeta, pred) =>
      val (got, read) = inputRowsOf(call())
      assert(got == expected, s"$name: wrong result\n$got\nvs\n$expected")
      val chunks = e.resident.table.count()
      // export's range sort samples its input: one more read of the table
      val tables = if (name == "export") 2 else 1
      val want = tables * chunks + (if (readsDocmeta) docmetaRows(e, pred) else 0L)
      assert(read == want, s"$name read $read input records, not $want: the table holds $chunks chunks")
    }
  }
}
