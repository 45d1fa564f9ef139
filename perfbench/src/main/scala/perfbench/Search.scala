package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.index.IndexBuild
import graft.query.{Bm25, Engine, Index}

/** One query of the search stream. */
final case class Query(kind: String, terms: Seq[(String, Double)],
                       lang: Option[String] = None, start: Int = 0)

/** `search`: one client in a closed loop over a prebuilt index. A seeded
  * stream cycles through five classes (rare, mixed, dense, filtered,
  * deep), then a batched `searchManyByTerms` phase follows. The query
  * layer does all the work; the build is idle.
  */
final class SearchWorkload extends Workload {
  val Files = 6000L
  val Rows = 60
  val DeepStart = 1000
  val BatchSize = 50
  /** Stream cycles (five queries each) before the window. */
  val WarmCycles = 10
  val Classes = Seq("rare", "mixed", "dense", "filtered", "deep")
  val Langs = Seq("scala", "java", "py", "c")

  private var engine: Engine = _
  private var rng: scala.util.Random = _
  private var hot: IndexedSeq[String] = _
  private var rare: IndexedSeq[String] = _
  private var inputBytes = 0L
  private var sizes: Map[String, Double] = Map.empty
  private var batch: Seq[(Long, Seq[(String, Double)])] = Nil
  /** Results of the timed queries, checked after the window. */
  private val results = ArrayBuffer.empty[(Query, Array[Row])]
  private val batchResults = ArrayBuffer.empty[Array[Row]]

  def setup(r: Run): Unit = {
    val (corpus, bytes) = r.stageCorpus(Files)
    inputBytes = bytes
    val dir = r.dir("index")
    IndexBuild.build(r.spark, corpus, dir, r.Cfg)
    engine = new Engine(new Index(r.spark, dir))
    val n = engine.index.stats._1
    // word-term vocabulary with global df, from the index itself
    val vocab = engine.index.segments
      .where(col("term").startsWith("w:"))
      .groupBy(col("term")).agg(sum(col("df")).cast("long").as("df"))
      .collect().map(x => (x.getString(0), x.getLong(1))).sortBy(_._1)
    sizes = Metrics.indexSizes(r, dir, engine.index.segments.agg(sum(col("df")).cast("long")).head().getLong(0))
    hot = vocab.filter(_._2 == n).map(_._1).toIndexedSeq
    // Zipf tail: terms in at most 1% of the files
    rare = vocab.filter(v => v._2 >= 2 && v._2 <= math.max(2L, n / 100)).map(_._1).toIndexedSeq
    require(hot.size >= 3 && rare.size >= 10, s"vocabulary too flat: ${hot.size} hot, ${rare.size} rare")
    rng = new scala.util.Random(r.opts.seed)
    batch = (0 until BatchSize).map { i =>
      val q = next(Seq("rare", "mixed", "dense")(i % 3))
      (i.toLong, q.terms)
    }
    (0 until WarmCycles).foreach(_ => cycleOnce(r, null))
    (0 until 2).foreach(_ => runBatch(r, null))
  }

  private def pick(from: IndexedSeq[String], k: Int): Seq[String] =
    rng.shuffle(from.indices.toList).take(k).map(from)

  private def next(kind: String): Query = {
    def w(ts: Seq[String]) = ts.map(_ -> 1.0)
    def mixed = w(pick(hot, 2) ++ pick(rare, 2))
    kind match {
      case "rare" => Query(kind, w(pick(rare, 3)))
      case "mixed" => Query(kind, mixed)
      case "dense" => Query(kind, w(pick(hot, 3)))
      case "filtered" => Query(kind, mixed, lang = Some(Langs(rng.nextInt(Langs.size))))
      case "deep" => Query(kind, mixed, start = DeepStart)
    }
  }

  /** Plan (the engine call) and execution (collect) of one query. */
  private def plan(q: Query): DataFrame = q.kind match {
    // accuracy below 0.9 turns block-max WAND pruning on; with three
    // terms the pruning budget still keeps all of them
    case "rare" => engine.searchByTerms(q.terms, rows = Rows, accuracy = 0.5)
    case "filtered" => engine.searchByTerms(q.terms, rows = Rows, docFilter = q.lang.map("lang" -> _))
    case "deep" => engine.searchPage(q.terms, start = q.start, rows = Rows)
    case _ => engine.searchByTerms(q.terms, rows = Rows)
  }

  private def runQuery(r: Run, q: Query, s: Samples): Unit = {
    val t = r.tracer
    t.span(s"query.${q.kind}", "query") {
      val (_, dictS) = r.time(t.span("query.dict", "query")(engine.index.dfOf(q.terms.map(_._1))))
      val (df, planS) = r.time(t.span("query.plan", "query")(plan(q)))
      val (rows, execS) = r.time(t.span("query.exec", "query")(df.collect()))
      if (s != null) {
        r.attempt()
        s.add(s"q.${q.kind}", planS + execS)
        s.add("plan", planS)
        s.add("exec", execS)
        s.add("dict", dictS)
        results += q -> rows
      }
    }
  }

  private def cycleOnce(r: Run, s: Samples): Unit =
    rng.shuffle(Classes).foreach(k => runQuery(r, next(k), s))

  private def runBatch(r: Run, s: Samples): Unit = {
    val (rows, sec) = r.time(r.tracer.span("query.batch", "query")(
      engine.searchManyByTerms(batch, rows = Rows).collect()))
    if (s != null) {
      r.attempt()
      s.add("batch", sec)
      batchResults += rows
    }
  }

  def window(r: Run, seconds: Double, s: Samples): Unit = {
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    do cycleOnce(r, s) while (elapsed < 0.7 * seconds)
    do runBatch(r, s) while (elapsed < seconds || s.of("batch").size < 2)
  }

  def cycle: Seq[(String, Int)] = Classes.map(c => s"q.$c" -> 1) :+ ("batch" -> 1)

  def opKinds(s: Samples): Seq[String] = Classes.map(c => s"q.$c")

  /** (rank, doc_id, score_q) of a result row. */
  private def triple(x: Row): (Long, Long, Long) =
    (x.getAs[Number]("rank").longValue, x.getAs[Number]("doc_id").longValue,
      x.getAs[Number]("score_q").longValue)

  /** Ranks contiguous from `start + 1`, ordered by (score_q desc, doc_id asc). */
  private def ordered(rows: Seq[(Long, Long, Long)], start: Int): Boolean = {
    val s = rows.sortBy(_._1)
    s.nonEmpty && s.map(_._1) == (start + 1 to start + s.size).map(_.toLong) &&
      s.sliding(2).forall {
        case Seq(a, b) => a._3 > b._3 || (a._3 == b._3 && a._2 < b._2)
        case _ => true
      }
  }

  def checks(r: Run): Unit = {
    results.foreach { case (q, rows) =>
      r.gate(s"ranks ordered ${q.kind} ${q.terms}")(ordered(rows.map(triple).toSeq, q.start))
    }
    batchResults.foreach { rows =>
      val byQ = rows.groupBy(_.getAs[Number]("query_id").longValue)
      r.gate("batch ranks ordered")(byQ.size == batch.size &&
        byQ.values.forall(rs => ordered(rs.map(triple).toSeq, 0)))
    }
    // exact reference for one seeded query of every class
    val sample = Classes.map { k =>
      val of = results.filter(_._1.kind == k)
      of(rng.nextInt(of.size))
    }
    val ref = new Reference(r, sample.flatMap(_._1.terms.map(_._1)).distinct)
    sample.foreach { case (q, rows) =>
      r.gate(s"reference top-k ${q.kind} ${q.terms}") {
        ref.topK(q.terms, q.start + Rows, q.lang).filter(_._1 > q.start) ==
          rows.map(triple).toSeq.sortBy(_._1)
      }
    }
    // a batched query answers exactly as the same query run alone
    batchResults.lastOption.foreach { rows =>
      val byQ = rows.groupBy(_.getAs[Number]("query_id").longValue)
      Seq(0L, 1L, 2L).foreach { qid =>
        r.gate(s"batch equals single $qid") {
          val single = engine.searchByTerms(batch(qid.toInt)._2, rows = Rows).collect().map(triple)
          single.toSeq.sortBy(_._1) == byQ.getOrElse(qid, Array.empty[Row]).map(triple).toSeq.sortBy(_._1)
        }
      }
    }
    results.clear()
    batchResults.clear()
  }

  def details(r: Run, s: Samples): Seq[(String, Double, String)] = {
    val single = Classes.flatMap(c => s.of(s"q.$c"))
    // the highest percentile that leaves ten samples above it
    val tailP = math.floor(100.0 * (single.size - 10) / single.size)
    Classes.filter(_ != "mixed").map(c => (s"${c}_p50_ms", s.median(s"q.$c") * 1e3, "ms")) ++ Seq(
      ("query_samples", single.size.toDouble, "count"),
      ("query_tail_pct", math.max(0.0, tailP), "%"),
      ("query_tail_ms", if (tailP > 0) Stats.pct(single, tailP) * 1e3 else 0.0, "ms"),
      ("batch_qps", BatchSize / s.median("batch"), "1/s"),
      ("corpus_files", Files.toDouble, "count"),
      ("corpus_bytes", inputBytes.toDouble, "B"),
      ("index_bytes", Seq("index.segments_bytes", "index.docmeta_bytes", "index.aux_bytes").map(sizes).sum, "B"))
  }

  def layers(r: Run, s: Samples): Map[String, Double] = {
    val t = r.tracer
    r.tracer.drain()
    val perClass = Classes.flatMap { c =>
      val spans = t.named(s"query.$c")
      val cost = t.cost(spans)
      val n = math.max(1, spans.size).toDouble
      Seq(s"query.$c.exec_cpu_ms_per_query" -> cost.cpuS * 1e3 / n,
        s"query.$c.input_bytes_per_query" -> cost.inBytes / n,
        s"query.$c.shuffle_bytes_per_query" -> cost.shRead / n)
    }
    val all = t.cost(Classes.flatMap(c => t.named(s"query.$c")))
    val nq = Classes.map(c => s.of(s"q.$c").size).sum.toDouble
    val batches = t.named("query.batch")
    val bc = t.cost(batches)
    val nb = batches.size.toDouble
    sizes ++ perClass ++ Map(
      "query.plan_p50_ms" -> s.median("plan") * 1e3,
      "query.exec_p50_ms" -> s.median("exec") * 1e3,
      "query.dict_lookup_ms" -> s.median("dict") * 1e3,
      "query.mixed_p50_ms" -> s.median("q.mixed") * 1e3,
      "driver.jobs_per_query" -> all.jobs / nq,
      "driver.tasks_per_query" -> all.tasks / nq,
      "driver.gap_ms_per_query" -> all.gapS * 1e3 / nq,
      "query.batch.exec_cpu_s" -> bc.cpuS / nb,
      "query.batch.input_bytes" -> bc.inBytes / nb,
      "query.batch.jobs" -> bc.jobs / nb)
  }
}

/** Exact BM25 top-k straight from the corpus, with no index: the
  * [[graft.query.BruteScorer]] rule (scores summed in query-term order,
  * ranked by (score_q desc, doc_id asc)) over postings and document
  * lengths from [[Bm25.postings]] and [[Bm25.docLens]]. The postings of
  * `terms` are collected once, so each query costs no Spark job.
  */
final class Reference(r: Run, terms: Seq[String]) {
  private val corpus = r.corpus
  private val dl: Map[Long, Double] = Bm25.docLens(corpus).collect()
    .map(x => x.getLong(0) -> x.getLong(1).toDouble).toMap
  private val n = dl.size.toDouble
  private val avgdl = dl.values.sum / n
  private val lang: Map[Long, String] = corpus.select("doc_id", "lang").collect()
    .map(x => x.getLong(0) -> x.getString(1)).toMap
  /** term -> (doc_id -> tf) */
  private val post: Map[String, Map[Long, Long]] = Bm25.postings(corpus)
    .where(col("term").isin(terms: _*)).collect()
    .groupBy(_.getString(1))
    .map { case (t, rs) => t -> rs.map(x => x.getLong(0) -> x.getLong(2)).toMap }

  def topK(q: Seq[(String, Double)], k: Int, onlyLang: Option[String]): Seq[(Long, Long, Long)] = {
    val docs = q.flatMap { case (t, _) => post.getOrElse(t, Map.empty[Long, Long]).keys }.distinct
      .filter(d => onlyLang.forall(lang(d) == _))
    val scored = docs.map { d =>
      var s = 0.0
      q.foreach { case (t, boost) =>
        val pt = post.getOrElse(t, Map.empty[Long, Long])
        pt.get(d).foreach { tf =>
          s += boost * Bm25.idf(pt.size.toDouble, n) * Bm25.tfNorm(tf.toDouble, dl(d), avgdl)
        }
      }
      (d, math.round(s * Bm25.Quant))
    }
    scored.sortBy { case (d, sq) => (-sq, d) }.take(k).zipWithIndex
      .map { case ((d, sq), i) => (i + 1L, d, sq) }
  }
}

