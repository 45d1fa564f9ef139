// Executed plan, Spark jobs per call, result digest and in-process p50 of a
// dense query on a segShift-23 index, for wide_{before,after}.txt.
// Run from a checkout whose jar is built (`sbt package`):
//   GRAFT_SF=/path/to/sf0.01 GRAFT_IDX=/tmp/wide-idx spark-shell --master local[4] \
//     --driver-memory 4g --conf spark.sql.shuffle.partitions=8 --conf spark.ui.enabled=false \
//     --jars target/scala-2.13/liresolrspark_2.13-0.1.0.jar -I plans/pr11/wide_plans.scala
// The index is Bench's wide-segment index: the corpus's docs with
// doc_id < 2^17 at IndexConfig(segShift = 23, rangeSegsShift = 1), built
// on the first run into GRAFT_IDX.
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{Engine, Index}
import org.apache.spark.sql.functions.col
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

val sfDir = sys.env("GRAFT_SF")
val idxDir = sys.env("GRAFT_IDX")
IndexBuild.build(spark, Corpus.fromDocuments(spark, sfDir).where(col("doc_id") < (1L << 17)), idxDir, IndexConfig(segShift = 23, rangeSegsShift = 1))
val engine = new Engine(new Index(spark, idxDir))
// the three hottest terms (Bench's all_hot terms are absent from sf0.01);
// their summed df is several times N, so the query routes dense
val allHot = {
  engine.index.dictionary.orderBy(col("df").desc, col("term").asc).limit(3)
    .select(col("term")).collect().toSeq.map(r => r.getString(0) -> 1.0)
}

// the scoring pass before the driver merge: termsPass is private to the
// graft package, so call it reflectively
def pass(): org.apache.spark.sql.Dataset[_] = {
  val m = engine.getClass.getMethods.find(_.getName == "termsPass").get
  val args: Seq[AnyRef] = Seq(allHot, Int.box(60), Double.box(1.0), Int.box(10000), None, None, None)
  m.invoke(engine, args: _*).asInstanceOf[org.apache.spark.sql.Dataset[_]]
}

val jobs = new java.util.concurrent.atomic.AtomicInteger()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
})
def call(): Array[org.apache.spark.sql.Row] = engine.searchByTerms(allHot, rows = 60).collect()

(1 to 3).foreach(_ => call()) // warm-up: lazy index state, codegen
Thread.sleep(500); jobs.set(0)
val res = call()
Thread.sleep(500)
val nJobs = jobs.get
val digest = {
  java.security.MessageDigest.getInstance("MD5")
    .digest(res.map(_.toSeq.mkString(",")).sorted.mkString("\n").getBytes("UTF-8"))
    .map("%02x".format(_)).mkString
}
val times = {
  (1 to 15).map { _ =>
    val t0 = System.nanoTime(); call(); (System.nanoTime() - t0) / 1e6
  }.sorted
}
val p = pass()
p.collect() // finalize adaptive plans
val out = new StringBuilder
out ++= s"== dense query ${allHot.map(_._1).mkString(" ")} on segShift ${engine.index.cfg.segShift}\n"
out ++= f"jobs per call: $nJobs; result: ${res.length} rows, md5 $digest; p50 ${times(7)}%.1f ms (15 calls)\n"
out ++= "executed plan (the scoring pass before the driver merge):\n"
out ++= p.queryExecution.executedPlan.toString + "\n"
println("PLANS-BEGIN\n" + out + "PLANS-END")
System.exit(0)
