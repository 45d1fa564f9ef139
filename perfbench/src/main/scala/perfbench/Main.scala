package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.IndexConfig
import graft.util.ProcStat

/** Benchmark entry point: one workload, one seed, one timed window.
  *
  * {{{
  *   perfbench.Main --workload <batch|search> --seed <n> --seconds <s>
  *                  --trace <0|1> --work <scratch dir>
  * }}}
  *
  * Prints `perfbench <metric> = <value> <unit>` detail lines, then, as the
  * last stdout line, one JSON object {correct, attempted, failed, metrics}.
  * With `--trace 0` the metrics are the end-to-end set, with `--trace 1`
  * the per-layer set ([[Metrics]]).
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: String)

  def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"))
  }

  def main(argv: Array[String]): Unit = {
    val opts = parse(argv)
    val workload: Workload = opts.workload match {
      case "batch" => new BatchWorkload
      case "search" => new SearchWorkload
      case w => sys.error(s"unknown workload $w")
    }
    val run = new Run(opts)
    try {
      val out = run.execute(workload)
      Console.out.println(out)
      Console.out.flush()
    } finally run.close()
  }
}

/** Samples of one timed window: seconds per operation, by operation kind. */
final class Samples {
  val byKind = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  def add(kind: String, sec: Double): Unit = byKind.getOrElseUpdate(kind, ArrayBuffer.empty) += sec
  def of(kind: String): Seq[Double] = byKind.getOrElse(kind, ArrayBuffer.empty).toSeq
  def median(kind: String): Double = Stats.median(of(kind))
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.length - 1, math.max(0, math.ceil(p / 100.0 * s.length).toInt - 1)))
  }
}

/** One workload: set-up outside the timed window, a timed window of
  * operations, untimed correctness gates, and its share of the metrics.
  */
trait Workload {
  /** Everything before the timed window: corpus staging, index build, warm-up. */
  def setup(r: Run): Unit
  /** Operations until `seconds` have elapsed (at least one full cycle). */
  def window(r: Run, seconds: Double, s: Samples): Unit
  /** The operation kinds whose medians make one cycle, and how often each
    * kind occurs in a cycle. */
  def cycle: Seq[(String, Int)]
  /** Kinds whose samples are single operations, for the `op_p50_ms` detail. */
  def opKinds(s: Samples): Seq[String]
  /** Untimed correctness gates after the window. */
  def checks(r: Run): Unit
  /** Workload-specific named results (printed as detail lines). */
  def details(r: Run, s: Samples): Seq[(String, Double, String)]
  /** Per-layer metrics from the traced window and extra traced passes. */
  def layers(r: Run, s: Samples): Map[String, Double]
}

/** State of one benchmark process. */
final class Run(val opts: Main.Opts) {
  val Cores = 4
  /** Bench's geometry: 512-doc segments, 64k-doc checkpoint ranges. */
  val Cfg = IndexConfig(segShift = 9, rangeSegsShift = 7)
  val ShufflePartitions = 8

  /** Off until the traced window: set-up and the untraced window run with
    * no listener registered. */
  val tracer = new Tracer(false)
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L
  var stageS = 0.0
  /** Width of the open session. */
  var cores = 0
  val work: String = new java.io.File(opts.work).getAbsolutePath

  def open(cores: Int): SparkSession = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${opts.workload}-$cores")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    this.cores = cores
    tracer.attach(spark.sparkContext)
    spark
  }

  def close(): Unit = if (spark != null) spark.stop()

  def dir(name: String): String = s"$work/$name"

  def rm(path: String): Unit = graft.util.Tmp.rmTree(new java.io.File(path))

  def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** A correctness gate: one attempted operation, failed when `ok` is false
    * or throws. */
  def gate(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Exception => System.err.println(s"perfbench gate $name threw: $e"); false
    }
    if (!pass) {
      failed += 1
      System.err.println(s"perfbench gate FAILED: $name")
    }
  }

  /** Count a timed operation as attempted. */
  def attempt(): Unit = attempted += 1

  /** Synthesize `n` files from the seed and stage them as parquet; returns
    * the staged table and its UTF-8 content bytes. */
  def stageCorpus(n: Long): (DataFrame, Long) = {
    val path = dir("corpus")
    val t0 = System.nanoTime()
    Corpus.synthesize(spark, n, seed = opts.seed, partitions = ShufflePartitions)
      .write.mode("overwrite").parquet(path)
    val corpus = spark.read.parquet(path)
    val bytes = corpus.agg(sum(octet_length(col("content"))).cast("long")).head().getLong(0)
    stageS = (System.nanoTime() - t0) / 1e9
    (corpus, bytes)
  }

  def corpus: DataFrame = spark.read.parquet(dir("corpus"))

  /** Bytes under `path`, by top-level sub-directory. */
  def bytesByStore(path: String): Map[String, Long] = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L) else f.length()
    Option(new java.io.File(path).listFiles()).toSeq.flatten
      .map(f => f.getName -> walk(f)).toMap
  }

  /** Order-independent fingerprint of a result: (rows, xor of row hashes).
    * Evaluates every output column, so no projection is pruned away. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val cols = df.columns.map(c => s"`$c`").mkString(",")
    val r = df.agg(count(lit(1)), expr(s"coalesce(bit_xor(xxhash64($cols)), 0L)")).head()
    (r.getLong(0), r.getLong(1))
  }

  def execute(w: Workload): String = {
    val t0 = System.nanoTime()
    open(Cores)
    w.setup(this)
    val setupS = (System.nanoTime() - t0) / 1e9
    val steal0 = ProcStat.stealSec()

    val base = new Samples
    val (_, baseWall) = time(w.window(this, opts.seconds, base))
    val traced = new Samples
    val windowSpan =
      if (!opts.trace) None
      else {
        tracer.on = true
        tracer.attach(spark.sparkContext)
        tracer.span("window", "bench")(w.window(this, opts.seconds, traced))
        tracer.named("window").headOption
      }
    val steal = ProcStat.stealSec() - steal0
    w.checks(this)

    def cycleS(s: Samples) = w.cycle.map { case (k, n) => s.median(k) * n }.sum
    val detail = Seq(
      ("setup_s", setupS, "s"),
      ("window_s", baseWall, "s"),
      ("host_steal_s", steal, "s"),
      ("op_p50_ms", Stats.median(w.opKinds(base).flatMap(base.of)) * 1e3, "ms")) ++
      w.details(this, base)
    detail.foreach { case (k, v, u) => println(s"perfbench $k = ${Metrics.num(v)} $u") }

    val metrics: Seq[(String, Double, String)] =
      if (!opts.trace) Seq(("setup_s", setupS, "s"), ("cycle_s", cycleS(base), "s"))
      else {
        tracer.drain()
        val layer = w.layers(this, traced)
        val win = windowSpan.get
        val self = tracer.selfByLayer(win)
        val all = tracer.cost(Seq(win))
        val generic = Map(
          "corpus.stage_s" -> stageS,
          "index.self_s" -> self.getOrElse("index", 0.0),
          "query.self_s" -> self.getOrElse("query", 0.0),
          "ml.self_s" -> self.getOrElse("ml", 0.0),
          "driver.jobs" -> all.jobs.toDouble,
          "driver.tasks" -> all.tasks.toDouble,
          "driver.gap_s" -> all.gapS,
          "trace.overhead_pct" -> (cycleS(traced) / cycleS(base) - 1.0) * 100.0,
          "trace.span_coverage_pct" -> tracer.coverage(win) * 100.0,
          "host.steal_s" -> steal)
        tracer.write(java.nio.file.Paths.get(work).getParent
          .resolve(s"traces/${opts.workload}-seed${opts.seed}.jsonl"))
        Metrics.perLayer.map { case (k, u) =>
          (k, generic.getOrElse(k, layer.getOrElse(k, 0.0)), u) }
      }
    Metrics.json(failed == 0, attempted, failed, metrics)
  }
}

object Metrics {
  /** The per-layer metric set, reported by every traced run; a layer a
    * workload leaves idle reads 0. */
  val perLayer: Seq[(String, String)] = {
    val build = Seq("wall_s" -> "s", "exec_cpu_s" -> "s", "gc_s" -> "s", "jobs" -> "count",
      "stages" -> "count", "tasks" -> "count", "shuffle_write_bytes" -> "B",
      "input_bytes" -> "B", "output_bytes" -> "B", "cpu_util" -> "ratio",
      "driver_gap_s" -> "s", "task_skew" -> "ratio").map { case (k, u) => s"index.build.$k" -> u }
    val classes = Seq("rare", "mixed", "dense", "filtered", "deep").flatMap { c =>
      Seq(s"query.$c.exec_cpu_ms_per_query" -> "ms", s"query.$c.input_bytes_per_query" -> "B",
        s"query.$c.shuffle_bytes_per_query" -> "B")
    }
    val ml = Seq("span_dup", "contamination", "unigram_lp").flatMap { op =>
      Seq("exec_cpu_s" -> "s", "gc_s" -> "s", "jobs" -> "count", "shuffle_write_bytes" -> "B",
        "driver_gap_s" -> "s").map { case (k, u) => s"ml.$op.$k" -> u }
    }
    Seq("corpus.stage_s" -> "s", "index.self_s" -> "s", "query.self_s" -> "s", "ml.self_s" -> "s",
      "driver.jobs" -> "count", "driver.tasks" -> "count", "driver.gap_s" -> "s") ++
      build ++
      Seq("index.build1.wall_s" -> "s", "index.build1.exec_cpu_s" -> "s",
        "index.build.cpu_inflation" -> "ratio", "index.build.scaling_eff" -> "ratio", "index.tokenize_s" -> "s", "index.merge_s" -> "s",
        "index.segments_bytes" -> "B", "index.docmeta_bytes" -> "B", "index.aux_bytes" -> "B",
        "codec.bytes_per_posting" -> "B",
        "query.plan_p50_ms" -> "ms", "query.exec_p50_ms" -> "ms", "query.dict_lookup_ms" -> "ms",
        "query.mixed_p50_ms" -> "ms",
        "driver.jobs_per_query" -> "count", "driver.tasks_per_query" -> "count",
        "driver.gap_ms_per_query" -> "ms") ++
      classes ++
      Seq("query.batch.exec_cpu_s" -> "s", "query.batch.input_bytes" -> "B",
        "query.batch.jobs" -> "count") ++
      ml ++
      Seq("trace.overhead_pct" -> "%", "trace.span_coverage_pct" -> "%", "host.steal_s" -> "s")
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(correct: Boolean, attempted: Long, failed: Long,
           metrics: Seq[(String, Double, String)]): String = {
    val m = metrics.map { case (k, v, u) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":${m.mkString("{", ",", "}")}}"""
  }

  /** Index size metrics of a built index directory. */
  def indexSizes(r: Run, indexDir: String, sumDf: Long): Map[String, Double] = {
    val by = r.bytesByStore(indexDir)
    val seg = by.getOrElse("segments", 0L)
    val meta = by.getOrElse("docmeta", 0L)
    Map("index.segments_bytes" -> seg.toDouble, "index.docmeta_bytes" -> meta.toDouble,
      "index.aux_bytes" -> (by.values.sum - seg - meta).toDouble,
      "codec.bytes_per_posting" -> seg.toDouble / math.max(1L, sumDf))
  }
}
