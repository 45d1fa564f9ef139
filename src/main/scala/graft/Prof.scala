package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.ml.Dedup

/** Throwaway profiling main (not part of the driver contract).
  * args: cores shufflePartitions nFiles [concurrentRanges]
  */
object Prof {
  /** Temp dir deleted at JVM exit (profiling indexes are GB-scale). */
  private def tempDir(tag: String): String = graft.util.Tmp.dir(tag)

  def main(args: Array[String]): Unit = {
    if (args(0) == "buildab") { profBuildAb(args.drop(1)); return }
    if (args(0) == "cluster") { profCluster(args.drop(1)); return }
    if (args(0) == "queries") { profQueries(args.drop(1)); return }
    if (args(0) == "parsed") { profParsed(); return }
    if (args(0) == "span") { profSpan(); return }
    if (args(0) == "smoke") { profSmoke(); return }
    if (args(0) == "curation") { profCuration(); return }
    if (args(0) == "unigram") { profUnigram(); return }
    val cores = args(0).toInt
    val sp = args(1).toInt
    val n = args(2).toLong
    val conc = if (args.length > 3) args(3).toInt else 4
    val filters = if (args.length > 4) args(4).toBoolean else true
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", sp.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[A](tag: String)(fn: => A): A = {
      val t0 = System.nanoTime(); val a = fn
      println(f"PROF $tag ${(System.nanoTime() - t0) / 1e9}%.2f s"); a
    }
    val dir = s"/tmp/prof-corpus-$n"
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      time("synth+write") {
        Corpus.synthesize(spark, n, 42L, 128).write.mode("overwrite").parquet(dir)
      }
    }
    val corpus = spark.read.parquet(dir)
    val rss = if (args.length > 5) args(5).toInt else 7
    val cfg = IndexConfig(segShift = 9, rangeSegsShift = rss, concurrentRanges = conc,
      filterColumns = if (filters) Seq("lang") else Seq.empty)
    // JIT warmup
    IndexBuild.build(spark, corpus.where(col("doc_id") < 2000),
      tempDir("prof-warm-"), cfg)
    // task-level accounting: executor CPU vs run time (the gap = blocked
    // IO/sched), GC time, task count — separates "more work at 8 cores"
    // from "idle cores at 8 cores" for the scaling-efficiency hunt
    val cpuNs = new java.util.concurrent.atomic.AtomicLong
    val runMs = new java.util.concurrent.atomic.AtomicLong
    val gcMs = new java.util.concurrent.atomic.AtomicLong
    val nTasks = new java.util.concurrent.atomic.AtomicLong
    val stageCpu = new java.util.concurrent.ConcurrentHashMap[Int, java.util.concurrent.atomic.AtomicLong]()
    val stageName = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageSubmitted(ss: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        stageName.put(ss.stageInfo.stageId,
          s"${ss.stageInfo.name.takeWhile(_ != '\n').take(60)} ntasks=${ss.stageInfo.numTasks}"): Unit
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          cpuNs.addAndGet(m.executorCpuTime)
          runMs.addAndGet(m.executorRunTime)
          gcMs.addAndGet(m.jvmGCTime)
          nTasks.incrementAndGet()
          stageCpu.computeIfAbsent(te.stageId,
            _ => new java.util.concurrent.atomic.AtomicLong).addAndGet(m.executorCpuTime): Unit
        }
      }
    })
    // slot-occupancy sampler: how much of the build's wall has k of the
    // task slots busy (k tracked 10x/sec) — locates packing loss in time
    val running = new java.util.concurrent.atomic.AtomicInteger
    val occupancy = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Int)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskStart(ts: org.apache.spark.scheduler.SparkListenerTaskStart): Unit =
        running.incrementAndGet(): Unit
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        running.decrementAndGet(): Unit
    })
    val sampler = new Thread(() => {
      while (!Thread.interrupted()) {
        occupancy.add((System.currentTimeMillis(), running.get()))
        try Thread.sleep(100) catch { case _: InterruptedException => return }
      }
    })
    val b0 = graft.util.ProcStat.busySec()
    sampler.setDaemon(true); sampler.start()
    time(s"full build cores=$cores sp=$sp n=$n conc=$conc") {
      IndexBuild.build(spark, corpus, tempDir("prof-idx-"), cfg)
    }
    sampler.interrupt()
    println(f"PROF build busy-cpu-sec ${graft.util.ProcStat.busySec() - b0}%.1f")
    println(f"PROF build task-cpu-sec ${cpuNs.get / 1e9}%.1f task-run-sec ${runMs.get / 1e3}%.1f gc-sec ${gcMs.get / 1e3}%.1f tasks ${nTasks.get}")
    locally {
      import scala.jdk.CollectionConverters._
      val samples = occupancy.asScala.toVector
      if (samples.nonEmpty) {
        val t0ms = samples.head._1
        val binned = samples.groupBy(s => (s._1 - t0ms) / 1000)
          .toSeq.sortBy(_._1)
          .map { case (sec, xs) => f"$sec:${xs.map(_._2).sum.toDouble / xs.size}%.1f" }
        println("PROF build running-tasks-per-sec " + binned.mkString(" "))
        val idleSlotSec = samples.sliding(2).collect {
          case Vector((ta, ka), (tb, _)) => math.max(0, cores - ka) * (tb - ta) / 1000.0
        }.sum
        println(f"PROF build idle-slot-sec $idleSlotSec%.1f (cores=$cores)")
      }
      // task-CPU by stage NAME (ranges repeat the same stages; sum them)
      val byName = stageCpu.asScala.toSeq
        .groupBy { case (sid, _) => stageName.getOrDefault(sid, s"stage-$sid") }
        .map { case (nm, xs) => nm -> xs.map(_._2.get).sum / 1e9 }
        .toSeq.sortBy(-_._2)
      byName.take(12).foreach { case (nm, s) => println(f"PROF stage-cpu $s%8.1f  $nm") }
    }
    // fingerprint: native Expression vs interpreted HOF composition.
    // agg(min(fp)) forces the fp column (count() would prune it away).
    val fpSample = corpus.limit(20000).repartition(cores * 2).cache()
    fpSample.count()
    time("fingerprint native (GraftFingerprint)") {
      graft.ml.TextStats.fingerprint(fpSample).agg(min(col("fp"))).collect()
    }
    time("fingerprint HOF (transform+md5, interpreted)") {
      graft.ml.TextStats.fingerprintHof(fpSample).agg(min(col("fp"))).collect()
    }
    spark.stop()
  }

  /** Probe of the bench's process-scaling pair: interleaved draws of
    * 1-worker vs 4-worker cluster builds (Bench.buildWorkers, bench
    * scaling geometry). args: [draws] [rangeSegsShift] [nDocs];
    * stages /tmp/prof-corpus-<nDocs> if absent.
    */
  def profCluster(args: Array[String]): Unit = {
    val draws = if (args.nonEmpty) args(0).toInt else 3
    val rss = if (args.length > 1) args(1).toInt else 5
    val n = if (args.length > 2) args(2).toLong else 600000L
    val dir = s"/tmp/prof-corpus-$n"
    if (!new java.io.File(s"$dir/_SUCCESS").exists()) {
      val spark = SparkSession.builder().master("local[32]")
        .config("spark.sql.shuffle.partitions", "64")
        .config("spark.ui.enabled", "false").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      Corpus.synthesize(spark, n, 42L, 128).write.mode("overwrite").parquet(dir)
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    }
    val cfg = IndexConfig(segShift = 9, rangeSegsShift = rss)
    val walls = scala.collection.mutable.Map[Int, List[Double]]().withDefaultValue(Nil)
    (1 to draws).foreach { i =>
      Seq(1, 4).foreach { w =>
        val (sec, nDocs, stealPct) = Bench.buildWorkers(dir, w, 2, cfg)
        walls(w) = sec :: walls(w)
        println(f"PROF cluster w=$w draw=$i wall=$sec%.2f nDocs=$nDocs steal%%=$stealPct%.1f")
      }
      val eff = (walls(1).min / walls(4).min) / 4.0
      println(f"PROF cluster eff-so-far=$eff%.3f")
    }
    println(f"PROF cluster w1-min=${walls(1).min}%.2f w4-min=${walls(4).min}%.2f eff=${(walls(1).min / walls(4).min) / 4.0}%.3f")
  }

  /** Interleaved A/B of two concurrentRanges settings on the SAME warm JVM
    * (noise-resistant: draw i of each arm runs back-to-back).
    * args: cores sp n concA concB [draws]
    */
  def profBuildAb(args: Array[String]): Unit = {
    val Array(cores, sp, n, concA, concB) = args.take(5).map(_.toInt)
    val draws = if (args.length > 5) args(5).toInt else 3
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", sp.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = s"/tmp/prof-corpus-$n"
    require(new java.io.File(s"$dir/_SUCCESS").exists(), s"stage the corpus first: Prof $cores $sp $n")
    val corpus = spark.read.parquet(dir)
    def cfgOf(conc: Int) = IndexConfig(segShift = 9, rangeSegsShift = 7,
      concurrentRanges = conc, filterColumns = Seq("lang"))
    IndexBuild.build(spark, corpus.where(col("doc_id") < 2000), tempDir("prof-warm-"), cfgOf(concA))
    val walls = scala.collection.mutable.Map[Int, List[Double]]().withDefaultValue(Nil)
    (1 to draws).foreach { i =>
      Seq(concA, concB).foreach { conc =>
        val (_, sec, steal) = graft.util.ProcStat.timedWithSteal(
          IndexBuild.build(spark, corpus, tempDir(s"prof-ab-$conc-$i-"), cfgOf(conc)))
        walls(conc) = sec :: walls(conc)
        println(f"PROF ab conc=$conc draw=$i wall=$sec%.2f steal=$steal%.1f")
      }
    }
    Seq(concA, concB).foreach(c =>
      println(f"PROF ab conc=$c min=${walls(c).min}%.2f all=${walls(c).reverse.map(w => f"$w%.1f").mkString(",")}"))
    spark.stop()
  }

  /** Query-path latency probe over the Bench-shaped corpus/index:
    * args: [cores]. Times the bench's WAND/scan routing headliners.
    */
  def profQueries(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 32
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = 600000L
    val dir = s"/tmp/prof-corpus-$n"
    if (!new java.io.File(s"$dir/_SUCCESS").exists())
      Corpus.synthesize(spark, n, 42L, 128).write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val idxDir = s"/tmp/prof-qidx-$n"
    val cfg = IndexConfig(segShift = 9, rangeSegsShift = 7)
    IndexBuild.build(spark, corpus, idxDir, cfg)
    val engine = new graft.query.Engine(new graft.query.Index(spark, idxDir))
    engine.index.stats
    val hotRare = Seq("w:license" -> 1.0, "w:apache" -> 1.0, "w:hashimpl" -> 1.0,
      "w:mergefactory" -> 1.0, "w:scanptr" -> 1.0, "w:sortz" -> 1.0)
    val allHot = Seq("w:license" -> 1.0, "w:copyright" -> 1.0, "w:version" -> 1.0)
    def bench(tag: String)(fn: => Long): Unit = {
      fn // warm
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9 }
      println(f"PROF $tag min=${secs.min}%.3f s runs=${secs.map(s => f"$s%.3f").mkString(",")}")
    }
    bench("wand_hot_rare")(engine.searchByTerms(hotRare, rows = 60).count())
    bench("wand_all_hot")(engine.searchByTerms(allHot, rows = 60).count())
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    bench("dedup_minhash")(Dedup.minhashPairs(Dedup.minhashBands(
      Dedup.minhashSignatures(Dedup.withDups(Corpus.fromDocuments(spark, sfDir))))).count())
    spark.stop()
  }

  /** Folded parsed-path decomposition at bench scale: where the mixed
    * query's time goes — expansion wall, folded scan, phrase graft join.
    */
  def profParsed(): Unit = {
    val cores = 32
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = 600000L
    val dir = s"/tmp/prof-corpus-$n"
    if (!new java.io.File(s"$dir/_SUCCESS").exists())
      Corpus.synthesize(spark, n, 42L, 128).write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val idxDir = s"/tmp/prof-qidx-$n"
    val cfg = IndexConfig(segShift = 9, rangeSegsShift = 7)
    IndexBuild.build(spark, corpus, idxDir, cfg)
    val engine = new graft.query.Engine(new graft.query.Index(spark, idxDir))
    engine.index.stats
    def bench(tag: String)(fn: => Long): Unit = {
      fn // warm
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9 }
      println(f"PROF $tag min=${secs.min}%.3f s runs=${secs.map(s => f"$s%.3f").mkString(",")}")
    }
    // no-expansion variants isolate the folded scan + phrase graft from
    // the dictionary expansion jobs the full mixed query also pays
    bench("folded_noexp")(engine.searchParsed(corpus,
      "+w:license w:scanptr^2 -w:stream", rows = 60).count())
    bench("folded_phrase_noexp")(engine.searchParsed(corpus,
      "+w:license \"get geter\" w:scanptr^2 -w:stream", rows = 60).count())
    bench("phrase_only")(engine.searchPhrase(corpus, "get geter", rows = 60).count())
    bench("parsed_mixed")(engine.searchParsed(corpus,
      "+w:license \"get geter\" w:scanptr^2 -w:stream w:merge*^0.5 w:hach~1",
      rows = 60).count())
    val q = engine.searchParsed(corpus,
      "+w:license \"get geter\" w:scanptr^2 -w:stream", rows = 60)
    q.collect() // finalize the adaptive plan on THIS instance
    println("PROF folded_phrase FINAL plan:\n" +
      q.queryExecution.executedPlan.toString.take(9000))
    spark.stop()
  }

  /** spanDups at bench scale (same corpus + params as the Bench
    * span_dup section): INTERLEAVED A/B of the occurrence-grouping stage
    * — the shipped two-pass count+semi-join+collect_list shape vs a
    * one-pass bounded typed Aggregator — so a VM-noise burst hits both
    * arms. Measured 2026-08-19 (inside a multi-percent-steal window):
    * two_pass mins 29.0 s (29.0/74.0/35.6) vs one_pass 28.3 s
    * (64.8/28.6/28.3) — a WASH. The one-pass arm shingles once and
    * shuffles once but groupByKey + kryo-buffered ObjectHashAggregate
    * runs outside whole-stage codegen and pays per-row typed ser/deser,
    * cancelling the saved count pass (codegen'd, map-side-combined,
    * ships only (hash, partial-count) rows). This probe is why
    * [[graft.ml.Dedup.spanDups]] keeps the simpler two-pass shape the
    * DuckDB oracle mirrors.
    */
  def profSpan(): Unit = {
    val cores = 32
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val n = 600000L
    val dir = s"/tmp/prof-corpus-$n"
    if (!new java.io.File(s"$dir/_SUCCESS").exists())
      Corpus.synthesize(spark, n, 42L, 128).write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val (width, maxOcc) = (12, 64)
    val wins = corpus
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.graft_shingle_hashes(col("content"), width)))
      .select(col("col").as("whash"), col("doc_id"), (col("pos") + 1).as("pos"))
    // arm A: the pre-rewrite grouping (count pass + semi-join + collect)
    def twoPass(): Long = {
      val keep = wins.groupBy(col("whash"))
        .agg(count(lit(1)).as("nocc"))
        .where(col("nocc").between(2, maxOcc))
        .select(col("whash"))
      wins.join(keep, Seq("whash"), "left_semi")
        .groupBy(col("whash"))
        .agg(collect_list(struct(col("doc_id"), col("pos"))).as("occ"))
        .count()
    }
    // arm B: one-pass bounded typed aggregator (the rejected shape —
    // kept here so the probe stays reproducible; see scaladoc above)
    def onePass(): Long = {
      import org.apache.spark.sql.{Encoder, Encoders}
      import org.apache.spark.sql.expressions.Aggregator
      final class BoundedOcc(cap: Int) extends Serializable {
        var over = false
        var items = new scala.collection.mutable.ArrayBuffer[(Long, Int)](8)
        def add(d: Long, p: Int): this.type = {
          if (!over) { if (items.length >= cap) { over = true; items = null } else items += ((d, p)) }
          this
        }
        def mergeIn(o: BoundedOcc): this.type = {
          if (!over) {
            if (o.over || items.length + o.items.length > cap) { over = true; items = null }
            else items ++= o.items
          }
          this
        }
        def result: Seq[(Long, Int)] = if (over) Nil else items.toSeq
      }
      val agg = new Aggregator[(String, Long, Int), BoundedOcc, Seq[(Long, Int)]] {
        def zero = new BoundedOcc(maxOcc)
        def reduce(b: BoundedOcc, a: (String, Long, Int)) = b.add(a._2, a._3)
        def merge(b1: BoundedOcc, b2: BoundedOcc) = b1.mergeIn(b2)
        def finish(r: BoundedOcc): Seq[(Long, Int)] = r.result
        def bufferEncoder: Encoder[BoundedOcc] = Encoders.kryo[BoundedOcc]
        def outputEncoder: Encoder[Seq[(Long, Int)]] = implicitly[Encoder[Seq[(Long, Int)]]]
      }
      wins.as[(String, Long, Int)]
        .groupByKey(_._1)
        .agg(agg.toColumn)
        .filter(_._2.size >= 2)
        .count()
    }
    twoPass(); onePass() // warm both
    val (a, b) = (Array.fill(3)(0.0), Array.fill(3)(0.0))
    for (i <- 0 until 3) {
      var t0 = System.nanoTime(); twoPass(); a(i) = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime(); onePass(); b(i) = (System.nanoTime() - t0) / 1e9
    }
    println(f"PROF span_two_pass_group min=${a.min}%.3f s runs=${a.map(s => f"$s%.3f").mkString(",")}")
    println(f"PROF span_one_pass_group min=${b.min}%.3f s runs=${b.map(s => f"$s%.3f").mkString(",")}")
    spark.stop()
  }

  /** Broadcast vs join route of the unigram-LM score at bench scale. */
  def profUnigram(): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "128")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = 600000L
    val dir = s"/tmp/prof-corpus-$n"
    if (!new java.io.File(s"$dir/_SUCCESS").exists())
      Corpus.synthesize(spark, n, 42L, 128).write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    println("PROF vocab=" + corpus.select(explode(
      graft.analyze.Tokenizer.tokens(col("content")))).distinct().count())
    def bench(tag: String)(fn: => Any): Unit = {
      fn // warm
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9 }
      println(f"PROF $tag min=${secs.min}%.3f s runs=${secs.map(s => f"$s%.3f").mkString(",")}")
    }
    bench("unigram_broadcast")(graft.ml.TextStats.unigramLogProb(corpus)
      .agg(sum("mean_lp_q"), sum("n_toks")).collect())
    bench("unigram_join")(graft.ml.TextStats.unigramLogProb(corpus, maxBroadcastVocab = 0)
      .agg(sum("mean_lp_q"), sum("n_toks")).collect())
    // route equality at scale (the MlSpec pin, on the real corpus)
    val a = graft.ml.TextStats.unigramLogProb(corpus)
      .agg(sum("mean_lp_q"), sum("n_toks"), count(lit(1))).collect()(0).toSeq
    val b = graft.ml.TextStats.unigramLogProb(corpus, maxBroadcastVocab = 0)
      .agg(sum("mean_lp_q"), sum("n_toks"), count(lit(1))).collect()(0).toSeq
    println(s"PROF route_equal=${a == b} a=$a b=$b")
    spark.stop()
  }

  /** Bench-corpus-scale (600k docs) probe of the heavy curation sections
    * (contamination / gopher / pii / parsed query) — min of 3 draws each,
    * the shape the full bench times.
    */
  def profCuration(): Unit = {
    val cores = 32
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", (cores * 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val n = 600000L
    val dir = s"/tmp/prof-corpus-$n"
    if (!new java.io.File(s"$dir/_SUCCESS").exists())
      Corpus.synthesize(spark, n, 42L, 128).write.mode("overwrite").parquet(dir)
    val corpus = spark.read.parquet(dir)
    val idxDir = s"/tmp/prof-qidx-$n"
    val cfg = IndexConfig(segShift = 9, rangeSegsShift = 7)
    if (!new java.io.File(s"$idxDir/manifests").exists())
      IndexBuild.build(spark, corpus, idxDir, cfg)
    val engine = new graft.query.Engine(new graft.query.Index(spark, idxDir))
    engine.index.stats
    def bench(tag: String)(fn: => Long): Unit = {
      fn // warm
      val secs = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); fn; (System.nanoTime() - t0) / 1e9 }
      println(f"PROF $tag min=${secs.min}%.3f s runs=${secs.map(s => f"$s%.3f").mkString(",")}")
    }
    bench("contamination")(Dedup.contamination(corpus,
      corpus.where(col("doc_id") % 997 === 0)).count())
    // sub-steps: corpus-side shingle explode+md5 alone, then without md5
    bench("contam_sub_explode_md5")(corpus
      .select(col("doc_id"), explode(Dedup.shingleSetW(col("content"), 13)).as("sh"))
      .select(col("doc_id"), md5(col("sh")).as("shh"))
      .agg(count(col("shh"))).collect().length.toLong)
    bench("contam_sub_explode")(corpus
      .select(col("doc_id"), explode(Dedup.shingleSetW(col("content"), 13)).as("sh"))
      .agg(count(col("sh"))).collect().length.toLong)
    bench("contam_sub_shingle")(corpus
      .select(col("doc_id"), Dedup.shingleSetW(col("content"), 13).as("sh"))
      .agg(sum(size(col("sh")))).collect().length.toLong)
    val contamDf = Dedup.contamination(corpus,
      corpus.where(col("doc_id") % 997 === 0))
    contamDf.count()
    println("PROF contam plan:\n" + contamDf.queryExecution.executedPlan.toString.take(4000))
    bench("gopher_rules")(graft.ml.TextStats.gopherRules(corpus)
      .agg(sum("keep"), min("mean_wlen_q")).collect().length.toLong)
    bench("pii_redact")(graft.ml.TextStats.redactPii(corpus)
      .agg(min("redacted_sha"), sum("n_emails"), sum("n_ips")).collect().length.toLong)
    bench("parsed_mixed")(engine.searchParsed(corpus,
      "+w:license \"get geter\" w:scanptr^2 -w:stream w:merge*^0.5 w:hach~1",
      rows = 60).count())
    bench("parsed_noPhrase")(engine.searchParsed(corpus,
      "+w:license w:scanptr^2 -w:stream w:merge*^0.5 w:hach~1", rows = 60).count())
    bench("parsed_noFuzzy")(engine.searchParsed(corpus,
      "+w:license \"get geter\" w:scanptr^2 -w:stream w:merge*^0.5", rows = 60).count())
    bench("parsed_noWild")(engine.searchParsed(corpus,
      "+w:license \"get geter\" w:scanptr^2 -w:stream w:hach~1", rows = 60).count())
    bench("phrase_only")(engine.searchPhrase(corpus, "get geter", rows = 60).count())
    val phraseTerms = Seq("w:get", "w:geter",
      graft.analyze.Tokenizer.shingleTerm("get", "geter"))
    bench("phrase_sub_conj")(engine.conjunctiveDocs(phraseTerms).count())
    bench("phrase_sub_scores")(engine.phraseScores(
      Array("get", "geter"), 1.0).count())
    bench("fuzzy_only")(engine.searchFuzzy("w:hach", rows = 60).count())
    bench("wildcard_trailing")(engine.searchWildcard("w:merge*", rows = 60).count())
    bench("wildcard_leading")(engine.searchWildcard("*factory", rows = 60,
      maxExpansions = 8).count())
    spark.stop()
  }

  /** One-shot dry run of each round-4 Bench query section on a tiny
    * corpus/index — catches a section that throws (wrong column name,
    * bad signature) without paying the ~40 min full bench.
    */
  def profSmoke(): Unit = {
    val spark = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val corpus = Corpus.synthesize(spark, 5000L, 42L, 16).cache()
    corpus.count()
    val idxDir = tempDir("prof-smoke-idx-")
    IndexBuild.build(spark, corpus, idxDir, IndexConfig(segShift = 9, rangeSegsShift = 7))
    val engine = new graft.query.Engine(new graft.query.Index(spark, idxDir))
    // over-cap twin, same route asserts as the Bench sections it smokes
    val overCapEngine = {
      val e = new graft.query.Engine(
        new graft.query.Index(spark, idxDir, dictDriverMax = 16L))
      require(e.index.dfViaScan && !e.expandViaDriver,
        "over-cap smoke engine must take the distributed expansion routes")
      require(e.fuzzyCandidates("w:mergefactori", 2).isDefined,
        "fuzzy_pruned smoke query must route through the trigram store")
      e
    }
    require(engine.expandViaDriver,
      "default smoke engine must take driver-map expansions")
    val sections = Seq[(String, () => Long)](
      "wildcard_leading" -> (() => engine.searchWildcard("*factory", rows = 60,
        maxExpansions = 8).count()),
      "wildcard_leading_rdict" -> (() => overCapEngine.searchWildcard("*factory",
        rows = 60, maxExpansions = 8).count()),
      "range_search" -> (() => engine.searchRange(Some("w:sa"), Some("w:sp"),
        incLo = true, incHi = false, rows = 60, maxExpansions = 8).count()),
      "parsed_mixed" -> (() => engine.searchParsed(corpus,
        "+w:license \"get geter\" w:scanptr^2 -w:stream w:merge*^0.5 w:hach~1",
        rows = 60).count()),
      "parsed_group" -> (() => engine.searchParsed(corpus,
        "+w:merge*^0.5 w:license -w:stream", rows = 60).count()),
      "gopher_rules" -> (() => graft.ml.TextStats.gopherRules(corpus)
        .agg(sum("keep"), min("mean_wlen_q")).collect().length.toLong),
      "pii_redact" -> (() => graft.ml.TextStats.redactPii(corpus)
        .agg(min("redacted_sha"), sum("n_emails"),
          sum("n_ips")).collect().length.toLong),
      "repetition" -> (() => graft.ml.TextStats.repetition(corpus)
        .agg(sum("top2_q"), sum("dup_line_q")).collect().length.toLong),
      "stratified_sample" -> (() => graft.ml.Sample.stratified(corpus, "lang", 1000L).count()),
      "span_dup" -> (() => Dedup.spanDups(corpus, width = 12, maxOcc = 64).count()),
      "block_join" -> (() => engine.blockJoinParents(
        Seq("w:license" -> 1.0, "w:scanptr" -> 2.0), "max", rows = 10).count()),
      "unigram_lp" -> (() => graft.ml.TextStats.unigramLogProb(corpus)
        .agg(sum("mean_lp_q"), sum("n_toks")).collect().length.toLong),
      "contamination" -> (() => Dedup.contamination(corpus,
        corpus.where(col("doc_id") % 997 === 0)).count()),
      "fuzzy_pruned" -> (() => overCapEngine.searchFuzzy("w:mergefactori",
        maxEdits = 2, rows = 60, maxExpansions = 8).count()),
      "phrase_exact" -> (() => engine.searchPhrase(corpus, "get geter",
        rows = 60).count()),
      "phrase_slop" -> (() => engine.searchPhrase(corpus, "get geter",
        rows = 60, slop = 2).count()),
      "all_hot_wideseg_fallback" -> {
        val wideIdx = tempDir("prof-smoke-wideseg-")
        IndexBuild.build(spark, corpus, wideIdx,
          IndexConfig(segShift = 23, rangeSegsShift = 1))
        val wide = new graft.query.Engine(new graft.query.Index(spark, wideIdx))
        val allHot = Seq("w:license" -> 1.0, "w:copyright" -> 1.0, "w:version" -> 1.0)
        // same route preconditions as the Bench section — a smoke pass
        // that measured a different code path would defeat its purpose
        require(wide.index.cfg.segShift > wide.DenseArraySegShiftMax,
          "smoke wideseg index must exceed the dense-array shift guard")
        require(wide.routesDense(allHot, rows = 60),
          "smoke wideseg query must route dense (scan fallback)")
        () => wide.searchByTerms(allHot, rows = 60).count()
      })
    sections.foreach { case (tag, fn) =>
      val times = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); fn(); (System.nanoTime() - t0) / 1e9
      }
      println(f"SMOKE $tag n=${fn()} cold=${times(0)}%.2f s warm=${times(1)}%.2f s")
    }
    // parsed-path sub-step breakdown (warm)
    def t(tag: String)(f: => Any): Unit = {
      f // warm
      val t0 = System.nanoTime(); f
      println(f"SMOKE sub:$tag ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    t("wildcard_exp")(engine.wildcardExpansions("w:merge*", 50))
    t("parsed_noPhrase")(engine.searchParsed(corpus,
      "+w:license w:scanptr^2 -w:stream w:merge*^0.5 w:hach~1", rows = 60).count())
    t("phrase_only")(engine.searchPhrase(corpus, "get geter", rows = 60).count())
    t("parsed_phrase_only")(engine.searchParsed(corpus, "\"get geter\"", rows = 60).count())
    t("dfOf")(engine.index.dfOf(Seq("w:get", "w:geter")))
    t("conjunctive")(engine.conjunctiveDocs(Seq("w:get", "w:geter",
      graft.analyze.Tokenizer.shingleTerm("get", "geter"))).count())
    t("phraseScores")(engine.phraseScores(
      Array("get", "geter"), 1.0).count())
    locally {
      val cand = engine.conjunctiveDocs(Seq("w:get", "w:geter",
        graft.analyze.Tokenizer.shingleTerm("get", "geter"))).toDF("doc_id")
      t("semi_join")(corpus.join(cand, Seq("doc_id"), "left_semi").count())
      t("semi_join_toks")(corpus.join(cand, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), graft.analyze.Tokenizer.tokens(col("content")).as("ts"))
        .agg(sum(size(col("ts")))).collect())
      val ts = col("ts")
      val k = 2
      val toksArr = Array("get", "geter")
      val pf = when(size(ts) >= lit(k),
        size(filter(sequence(lit(1), size(ts) - lit(k - 1)),
          i => toksArr.toSeq.zipWithIndex.map { case (w, j) =>
            element_at(ts, i + lit(j)) === lit(w)
          }.reduce(_ && _))))
        .otherwise(lit(0))
      t("semi_join_pf")(corpus.join(cand, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), graft.analyze.Tokenizer.tokens(col("content")).as("ts"))
        .select(col("doc_id"), pf.as("pf"))
        .agg(sum(col("pf"))).collect())
    }
    spark.stop()
  }
}
