// Physical plan of the scoring pass, Spark jobs per call, result digest and
// in-process p50 of perfbench-shaped `rare`, `filtered` and `deep` queries,
// for pass_{before,after}.txt. Works on trees before and after the scan
// planned once (termsPass returns a Dataset before, an Engine.Pass after).
// Run from a checkout whose classes are compiled (`sbt compile`):
//   GRAFT_IDX=/tmp/pf-idx spark-shell --master local[4] --driver-memory 2g \
//     --conf spark.sql.shuffle.partitions=8 --conf spark.ui.enabled=false \
//     --driver-class-path target/scala-2.13/classes -I plans/pr13/pass_plans.scala
// The index is perfbench's: Corpus.synthesize(6000 files, seed 1) at
// IndexConfig(segShift = 9, rangeSegsShift = 7), built on the first run
// into GRAFT_IDX.
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{Engine, Index}
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

val idxDir = sys.env("GRAFT_IDX")
if (!new java.io.File(idxDir).exists)
  IndexBuild.build(spark, Corpus.synthesize(spark, 6000, seed = 1, partitions = 8), idxDir,
    IndexConfig(segShift = 9, rangeSegsShift = 7))
val engine = new Engine(new Index(spark, idxDir))
val n = engine.index.stats._1
// perfbench's term pools: hot = in every file, rare = in 2 .. n/100 files
val vocab = {
  engine.index.segments.where(col("term").startsWith("w:"))
    .groupBy(col("term")).agg(sum(col("df")).cast("long").as("df"))
    .collect().map(x => (x.getString(0), x.getLong(1))).sortBy(_._1)
}
val hot = vocab.filter(_._2 == n).map(_._1).toIndexedSeq
val rare = vocab.filter(v => v._2 >= 2 && v._2 <= math.max(2L, n / 100)).map(_._1).toIndexedSeq
val rng = new scala.util.Random(1)
def pick(from: IndexedSeq[String], k: Int): Seq[String] = rng.shuffle(from.indices.toList).take(k).map(from)
val rareTerms = pick(rare, 3).map(_ -> 1.0)
val mixedTerms = (pick(hot, 2) ++ pick(rare, 2)).map(_ -> 1.0)

// the scoring pass before the driver merge: termsPass is private to the
// graft package, so call it reflectively; (plan, binding property)
def pass(terms: Seq[(String, Double)], docFilter: Option[(String, String)])
    : (org.apache.spark.sql.Dataset[_], Option[Any]) = {
  val m = engine.getClass.getMethods.find(_.getName == "termsPass").get
  val args: Seq[AnyRef] = Seq(terms, Int.box(60), Double.box(1.0), Int.box(10000), None, docFilter, None)
  m.invoke(engine, args: _*) match {
    case d: org.apache.spark.sql.Dataset[_] => d.collect(); (d, None) // finalize adaptive plans
    case p => (p.getClass.getMethod("plan").invoke(p).asInstanceOf[org.apache.spark.sql.Dataset[_]],
      Some(p.getClass.getMethod("binding").invoke(p)))
  }
}

val jobs = new java.util.concurrent.atomic.AtomicInteger()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
})
val out = new StringBuilder
val fq = Some("lang" -> "java")
val cases: Seq[(String, Seq[(String, Double)], Option[(String, String)], () => Array[org.apache.spark.sql.Row])] = Seq(
  ("rare", rareTerms, None, () => engine.searchByTerms(rareTerms, rows = 60, accuracy = 0.5).collect()),
  ("filtered", mixedTerms, fq, () => engine.searchByTerms(mixedTerms, rows = 60, docFilter = fq).collect()),
  ("deep", mixedTerms, None, () => engine.searchPage(mixedTerms, start = 1000, rows = 60).collect()))
for ((name, terms, docFilter, call) <- cases) {
  (1 to 3).foreach(_ => call()) // warm-up: lazy index state, codegen, the planned scan
  Thread.sleep(500); jobs.set(0)
  val res = call()
  Thread.sleep(500)
  val nJobs = jobs.get
  val digest = java.security.MessageDigest.getInstance("MD5")
    .digest(res.map(_.toSeq.mkString(",")).sorted.mkString("\n").getBytes("UTF-8"))
    .map("%02x".format(_)).mkString
  val times = (1 to 15).map { _ =>
    val t0 = System.nanoTime(); call(); (System.nanoTime() - t0) / 1e6
  }.sorted
  val (plan, binding) = pass(terms, docFilter)
  out ++= s"== $name: ${terms.map(_._1).mkString(" ")}${docFilter.fold("")(f => s" fq ${f._1}:${f._2}")}\n"
  out ++= f"jobs per call: $nJobs; result: ${res.length} rows, md5 $digest; p50 ${times(7)}%.1f ms (15 calls)\n"
  binding.foreach(b => out ++= s"binding (job-local property -> term ids): $b\n")
  out ++= "executed plan (the segments plan of the scoring pass):\n"
  out ++= plan.queryExecution.executedPlan.toString + "\n\n"
}
println("PLANS-BEGIN\n" + out + "PLANS-END")
System.exit(0)
