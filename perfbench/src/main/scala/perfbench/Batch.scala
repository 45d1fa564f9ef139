package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.index.IndexBuild
import graft.ml.{Dedup, TextStats}
import graft.query.Index

/** `batch`: the corpus-wide jobs over one staged corpus: index builds and
  * the three curation passes (span dedup, contamination screen, unigram
  * log-probability) at local[4], after an untimed warm-up of each. The
  * index and ml layers do all the work; the query layer is idle. Every
  * file carries the synthesizer's 8 hot terms, so the build's skew path
  * runs. The traced run also builds at local[1] in the same process, for
  * the scaling efficiency and the CPU inflation between the two widths.
  */
final class BatchWorkload extends Workload {
  val Files = 6000L
  /** A contamination benchmark suite of about Files / BenchEvery files,
    * drawn from the corpus. */
  val BenchEvery = 499
  val Ops = Seq("span_dup", "contamination", "unigram_lp")

  private var inputBytes = 0L
  private var benchDocs = 0L
  private var expected: Set[(Long, Long, Long)] = Set.empty
  private var sizes: Map[String, Double] = Map.empty
  /** Index directories built in the windows, checked after them. */
  private val built = ArrayBuffer.empty[(String, Long)]
  private var seq = 0
  /** Result fingerprints of every curation pass, by op. */
  private val prints = scala.collection.mutable.Map.empty[String, ArrayBuffer[(Long, Long)]]

  def setup(r: Run): Unit = {
    val (corpus, bytes) = r.stageCorpus(Files)
    inputBytes = bytes
    // the per-range attestation a build must reproduce: row count and
    // xor of xxhash64(doc_id|sha) per checkpoint range
    expected = corpus
      .groupBy(shiftrightunsigned(col("doc_id"), r.Cfg.rangeShift).as("range_id"))
      .agg(count(lit(1)), expr("bit_xor(xxhash64(concat_ws('|', doc_id, sha)))"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    benchDocs = bench(r).count()
    build(r, "index.build")
    val warm = build(r, "index.build")
    val sumDf = new Index(r.spark, warm).segments.agg(sum(col("df")).cast("long")).head().getLong(0)
    sizes = Metrics.indexSizes(r, warm, sumDf)
    curate(r, null)
  }

  private def build(r: Run, span: String): String = {
    seq += 1
    val d = r.dir(s"index-$seq")
    val rep = r.tracer.span(span, "index")(IndexBuild.build(r.spark, r.corpus, d, r.Cfg))
    built += d -> rep.nDocs
    d
  }

  private def bench(r: Run): DataFrame =
    r.corpus.where(col("doc_id") % BenchEvery === r.opts.seed % BenchEvery)

  private def op(r: Run, name: String): DataFrame = {
    val corpus = r.corpus
    name match {
      // the synthesizer's files share no 12-token span beyond the header
      // every file has (dropped as boilerplate), so the dedup pass runs
      // over the corpus plus Dedup.withDups' re-posted copies
      case "span_dup" => Dedup.spanDups(Dedup.withDups(corpus), width = 12, maxOcc = 64)
      case "contamination" => Dedup.contamination(corpus, bench(r))
      case "unigram_lp" => TextStats.unigramLogProb(corpus)
    }
  }

  /** One pass of every curation op; each result is fingerprinted, which
    * evaluates all of its columns. */
  private def curate(r: Run, s: Samples): Unit = Ops.foreach { name =>
    val (fp, sec) = r.time(r.tracer.span(s"ml.$name", "ml")(r.fingerprint(op(r, name))))
    prints.getOrElseUpdate(name, ArrayBuffer.empty) += fp
    if (s != null) {
      r.attempt()
      s.add(name, sec)
    }
  }

  def window(r: Run, seconds: Double, s: Samples): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    do {
      r.attempt()
      s.add("build4", r.time(build(r, "index.build"))._2)
    } while (s.of("build4").size < 3 || elapsed < 0.5 * seconds)
    do curate(r, s) while (elapsed < seconds)
  }

  def cycle: Seq[(String, Int)] = ("build4" -> 1) +: Ops.map(_ -> 1)

  def opKinds(s: Samples): Seq[String] = Seq("build4")

  def checks(r: Run): Unit = {
    checkBuilds(r)
    Ops.foreach { name =>
      val fps = prints.getOrElse(name, ArrayBuffer.empty)
      r.gate(s"$name identical across repetitions")(fps.nonEmpty && fps.forall(_ == fps.head))
    }
    r.gate("span_dup finds spans")(prints("span_dup").head._1 > 0)
    // every benchmark file is in the corpus, so each one is contaminated
    r.gate("contamination flags the benchmark files")(
      benchDocs > 0 && prints("contamination").head._1 >= benchDocs)
    r.gate("unigram_lp scores every file")(prints("unigram_lp").head._1 == Files)
  }

  /** Gate and delete every index built since the last call. */
  private def checkBuilds(r: Run): Unit = {
    built.foreach { case (d, nDocs) =>
      r.gate(s"build doc count $d")(nDocs == Files)
      r.gate(s"build range checksums $d") {
        IndexBuild.docRangeStats(r.spark, d).collect()
          .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet == expected
      }
      r.rm(d)
    }
    built.clear()
  }

  def details(r: Run, s: Samples): Seq[(String, Double, String)] = Seq(
    ("build_files_per_s", Files / s.median("build4"), "files/s"),
    ("index_bytes_per_input_byte",
      Seq("index.segments_bytes", "index.docmeta_bytes", "index.aux_bytes").map(sizes).sum / inputBytes,
      "ratio")) ++
    Ops.map(o => (s"${o}_s", s.median(o), "s")) ++ Seq(
      ("corpus_files", Files.toDouble, "count"),
      ("corpus_bytes", inputBytes.toDouble, "B"),
      ("contamination_bench_files", benchDocs.toDouble, "count"))

  def layers(r: Run, s: Samples): Map[String, Double] = {
    val t = r.tracer
    val b4 = t.named("index.build")
    val c4 = t.cost(b4)
    val n4 = b4.size.toDouble
    val ml = Ops.flatMap { name =>
      val spans = t.named(s"ml.$name")
      val c = t.cost(spans)
      val n = math.max(1, spans.size).toDouble
      Seq(s"ml.$name.exec_cpu_s" -> c.cpuS / n, s"ml.$name.gc_s" -> c.gcS / n,
        s"ml.$name.jobs" -> c.jobs / n, s"ml.$name.shuffle_write_bytes" -> c.shWrite / n,
        s"ml.$name.driver_gap_s" -> c.gapS / n)
    }
    // standalone tokenize and merge passes over the same corpus, after
    // the window: the two halves of the build's phase 1
    val partials = IndexBuild.partialPostings(r.spark, r.corpus, r.Cfg).cache()
    val (_, tokS) = r.time(t.span("index.tokenize", "index")(partials.count()))
    val parts = math.min(1 << r.Cfg.rangeSegsShift, r.spark.sparkContext.defaultParallelism)
    val (_, mergeS) = r.time(t.span("index.merge", "index")(
      IndexBuild.phase1Fused(r.spark, partials, parts).count()))
    partials.unpersist()
    // the 1-core point: same corpus, same process, warm JIT
    r.open(1)
    val b1 = (1 to 2).map(_ => build(r, "index.build1"))
    t.drain()
    val c1 = t.cost(t.named("index.build1"))
    val n1 = b1.size.toDouble
    checkBuilds(r)
    sizes ++ ml ++ Map(
      "index.build.wall_s" -> c4.wallS / n4,
      "index.build.exec_cpu_s" -> c4.cpuS / n4,
      "index.build.gc_s" -> c4.gcS / n4,
      "index.build.jobs" -> c4.jobs / n4,
      "index.build.stages" -> c4.stages / n4,
      "index.build.tasks" -> c4.tasks / n4,
      "index.build.shuffle_write_bytes" -> c4.shWrite / n4,
      "index.build.input_bytes" -> c4.inBytes / n4,
      "index.build.output_bytes" -> c4.outBytes / n4,
      "index.build.cpu_util" -> c4.cpuUtil(r.Cores),
      "index.build.driver_gap_s" -> c4.gapS / n4,
      "index.build.task_skew" -> c4.skew,
      "index.build1.wall_s" -> c1.wallS / n1,
      "index.build1.exec_cpu_s" -> c1.cpuS / n1,
      "index.build.cpu_inflation" -> (c4.cpuS / n4) / (c1.cpuS / n1),
      "index.build.scaling_eff" -> (c1.wallS / n1) / (r.Cores * c4.wallS / n4),
      "index.tokenize_s" -> tokS,
      "index.merge_s" -> mergeS)
  }
}
