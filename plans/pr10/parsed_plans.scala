// Executed plans, Spark jobs per call, result digests and in-process p50
// of the parsed-query gates on one index, for parsed_{before,after}.txt.
// Run from a checkout whose jar is built (`sbt package`):
//   GRAFT_SF=/path/to/sf0.01 spark-shell --master local[4] --driver-memory 4g \
//     --conf spark.sql.shuffle.partitions=8 --conf spark.ui.enabled=false \
//     --jars target/scala-2.13/liresolrspark_2.13-0.1.0.jar -I plans/pr10/parsed_plans.scala
// The index is Engine.forDir's (segShift 7, built on the first run).
import graft.SparkEntry
import graft.corpus.Corpus
import graft.query.Engine
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

val sfDir = sys.env("GRAFT_SF")
val engine = Engine.forDir(spark, sfDir)
val corpus = Corpus.fromDocuments(spark, sfDir)
val queries = Seq(
  "ParsedMixedQuery" -> (SparkEntry.ParsedMixedQuery, 50),
  "ParsedMixedReqQuery" -> (SparkEntry.ParsedMixedReqQuery, 50),
  "ParsedGroupQuery" -> (SparkEntry.ParsedGroupQuery, SparkEntry.ParsedGroupMaxExpansions),
  "slop-2 parsed phrase" -> ("\"" + SparkEntry.PhraseBigram + "\"~2", 50),
  "Bench parsed_mixed" -> (
    "+w:license \"get geter\" w:scanptr^2 -w:stream w:merge*^0.5 w:hach~1", 50))

// the scoring pass before the driver merge: parsedPass is private to the
// graft package, so call it reflectively (its parameters differ across
// trees: (corpus, q, rows, maxExpansions) or (q, rows, maxExpansions))
def pass(q: String, maxExp: Int): org.apache.spark.sql.Dataset[_] = {
  val m = engine.getClass.getMethods.find(_.getName == "parsedPass").get
  val args: Seq[AnyRef] =
    if (m.getParameterCount == 4) Seq(corpus, q, Int.box(60), Int.box(maxExp))
    else Seq(q, Int.box(60), Int.box(maxExp))
  m.invoke(engine, args: _*).asInstanceOf[org.apache.spark.sql.Dataset[_]]
}

val jobs = new java.util.concurrent.atomic.AtomicInteger()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
})
def call(q: String, maxExp: Int): Array[org.apache.spark.sql.Row] =
  engine.searchParsed(corpus, q, rows = 60, maxExpansions = maxExp).collect()

val out = new StringBuilder
queries.foreach { case (name, (q, maxExp)) =>
  (1 to 3).foreach(_ => call(q, maxExp)) // warm-up: lazy index state, codegen
  Thread.sleep(500); jobs.set(0)
  val res = call(q, maxExp)
  Thread.sleep(500)
  val nJobs = jobs.get
  val digest = java.security.MessageDigest.getInstance("MD5")
    .digest(res.map(_.toSeq.mkString(",")).sorted.mkString("\n").getBytes("UTF-8"))
    .map("%02x".format(_)).mkString
  val times = (1 to 15).map { _ =>
    val t0 = System.nanoTime(); call(q, maxExp); (System.nanoTime() - t0) / 1e6
  }.sorted
  val p = pass(q, maxExp)
  p.collect() // finalize adaptive plans
  out ++= s"== $name: $q\n"
  out ++= f"jobs per call: $nJobs; result: ${res.length} rows, md5 $digest; p50 ${times(7)}%.1f ms (15 calls)\n"
  out ++= "executed plan (the scoring pass before the driver merge):\n"
  out ++= p.queryExecution.executedPlan.toString + "\n"
}
println("PLANS-BEGIN\n" + out + "PLANS-END")
System.exit(0)
