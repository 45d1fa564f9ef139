// Executed plans, RDD lineage and Spark jobs, tasks and input records per
// call of a tombstoned query, a docPred query and a covered facet on a
// tombstoned index, for side_{before,after}.txt. Works on trees before and
// after the passes moved onto the resident table (termsPass is called
// reflectively: it is private to the graft package).
// Run from a checkout whose classes are compiled (`sbt compile`):
//   GRAFT_IDX=/tmp/pr15-idx spark-shell --master local[4] --driver-memory 2g \
//     --conf spark.sql.shuffle.partitions=4 --conf spark.ui.enabled=false \
//     --driver-class-path target/scala-2.13/classes -I plans/pr15/side_plans.scala
// The index is SegmentPassSpec's tombstoned one: Corpus.synthesize(2000
// files, 4 partitions) at IndexConfig(segShift = 6, rangeSegsShift = 5,
// buildPartitions = 2), then the docs of doc_id % 7 == 3 deleted by path;
// built on the first run into GRAFT_IDX.
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{Engine, Index}
import org.apache.spark.sql.functions.col
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

val idxDir = sys.env("GRAFT_IDX")
if (!new java.io.File(idxDir).exists) {
  val corpus = Corpus.synthesize(spark, 2000, partitions = 4)
  IndexBuild.build(spark, corpus, idxDir, IndexConfig(segShift = 6, rangeSegsShift = 5, buildPartitions = 2))
  IndexBuild.deleteByKeys(spark, corpus.where(col("doc_id") % 7 === 3).select("path"), idxDir)
}
val engine = new Engine(new Index(spark, idxDir))
require(engine.index.hasTombstones, "the index must hold kills")
// two of the hottest word terms and two rare ones (df 2..20)
val terms = {
  val byDf = engine.index.dictionary.where(col("term").startsWith("w:"))
    .select(col("term"), col("df").cast("long")).collect()
    .map(r => (r.getString(0), r.getLong(1))).sortBy(t => (-t._2, t._1))
  (byDf.take(2).map(_._1) ++ byDf.filter(t => t._2 >= 2 && t._2 <= 20).take(2).map(_._1))
    .toSeq.map(_ -> 1.0)
}
val langJava = Some(col("lang") === "java")

def termsPassOf(docPred: Option[org.apache.spark.sql.Column]): (org.apache.spark.sql.Dataset[_], org.apache.spark.rdd.RDD[_]) = {
  val m = engine.getClass.getMethods.find(_.getName == "termsPass").get
  val args: Seq[AnyRef] = Seq(terms, Int.box(30), Double.box(1.0), Int.box(10000), docPred, None, None)
  val p = m.invoke(engine, args: _*)
  (p.getClass.getMethod("plan").invoke(p).asInstanceOf[org.apache.spark.sql.Dataset[_]],
    p.getClass.getMethod("rows").invoke(p).asInstanceOf[org.apache.spark.rdd.RDD[_]])
}

val jobs, tasks, records = new java.util.concurrent.atomic.AtomicLong()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskMetrics != null) records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
  }
})
val out = new StringBuilder
out ++= s"terms: ${terms.map(_._1).mkString(" ")}\n\n"
val cases: Seq[(String, () => org.apache.spark.sql.DataFrame, Option[Option[org.apache.spark.sql.Column]])] = Seq(
  ("tombstoned query", () => engine.searchByTerms(terms, rows = 30), Some(None)),
  ("docPred query (lang = java)", () => engine.searchByTerms(terms, rows = 30, docPred = langJava), Some(langJava)),
  ("covered facet (lang)", () => engine.facet(terms, "lang"), None))
for ((name, call, passOf) <- cases) {
  (1 to 3).foreach(_ => call().collect()) // warm-up: lazy index state, codegen, the resident table
  Thread.sleep(500); jobs.set(0); tasks.set(0); records.set(0)
  val df = call()
  val res = df.collect()
  Thread.sleep(500)
  val digest = java.security.MessageDigest.getInstance("MD5")
    .digest(res.map(_.toSeq.mkString(",")).sorted.mkString("\n").getBytes("UTF-8"))
    .map("%02x".format(_)).mkString
  out ++= s"== $name\n"
  out ++= s"per call: ${jobs.get} jobs, ${tasks.get} tasks, ${records.get} input records; " +
    s"result: ${res.length} rows, md5 $digest\n"
  passOf match {
    case Some(pred) =>
      val tp = termsPassOf(pred)
      tp._1.collect() // finalize adaptive plans
      out ++= "the scoring pass's plan:\n" + tp._1.queryExecution.executedPlan + "\n"
      out ++= "the scoring pass's rows (RDD lineage):\n" + tp._2.toDebugString + "\n\n"
    case None =>
      out ++= "executed plan:\n" + df.queryExecution.executedPlan + "\n"
      out ++= "RDD lineage:\n" + df.queryExecution.toRdd.toDebugString + "\n\n"
  }
}
println("PLANS-BEGIN\n" + out + "PLANS-END")
System.exit(0)
