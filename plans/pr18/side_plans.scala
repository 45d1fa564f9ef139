// Executed plans, Spark jobs, tasks and input records per warm call of
// the verbs that read the query's full match set: exportMatches,
// statsField, facetRange, searchSortedBy and facetScan (the route a facet
// on an uncovered field takes), for side_{before,after}.txt. Works on trees
// before and after those verbs moved onto the resident table
// (exportScored and facetScan are private to the graft package and are
// called reflectively).
// Run from a checkout whose classes are compiled (`sbt compile`):
//   GRAFT_IDX=/tmp/pf-idx spark-shell --master local[4] --driver-memory 2g \
//     --conf spark.sql.shuffle.partitions=8 --conf spark.ui.enabled=false \
//     --driver-class-path target/scala-2.13/classes -I plans/pr18/side_plans.scala
// The index is perfbench's: Corpus.synthesize(6000 files, seed 1) at
// IndexConfig(segShift = 9, rangeSegsShift = 7), built on the first run
// into GRAFT_IDX. The terms are two of the hottest word terms (in every
// file) and two rare ones (df 2..60).
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{Engine, Index}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

val idxDir = sys.env("GRAFT_IDX")
if (!new java.io.File(idxDir).exists)
  IndexBuild.build(spark, Corpus.synthesize(spark, 6000, seed = 1, partitions = 8), idxDir,
    IndexConfig(segShift = 9, rangeSegsShift = 7))
val engine = new Engine(new Index(spark, idxDir))
val terms = {
  val byDf = engine.index.dictionary.where(col("term").startsWith("w:"))
    .select(col("term"), col("df").cast("long")).collect()
    .map(r => (r.getString(0), r.getLong(1))).sortBy(t => (-t._2, t._1))
  (byDf.take(2).map(_._1) ++ byDf.filter(t => t._2 >= 2 && t._2 <= 60).take(2).map(_._1))
    .toSeq.map(_ -> 1.0)
}
def priv(name: String, args: AnyRef*): DataFrame = {
  val m = engine.getClass.getMethods.find(_.getName == name).get
  m.invoke(engine, args: _*) match {
    case o: Option[_] => o.get.asInstanceOf[DataFrame]
    case d => d.asInstanceOf[DataFrame]
  }
}

val jobs, tasks, records, shuffled = new java.util.concurrent.atomic.AtomicLong()
spark.sparkContext.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.taskMetrics != null) {
      records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
  }
})
val out = new StringBuilder
out ++= s"terms: ${terms.map(_._1).mkString(" ")}\n\n"
// each verb, and the plan to print: export's is its sort before the
// zipWithIndex (the RDD hop severs the lineage)
val cases: Seq[(String, () => DataFrame, () => DataFrame)] = Seq(
  ("exportMatches", () => engine.exportMatches(terms), () => priv("exportScored", terms)),
  ("statsField (dl)", () => engine.statsField(terms, "dl"), null),
  ("facetRange (dl, 0..2^20 by 64)", () => engine.facetRange(terms, "dl", 0L, 1L << 20, 64L), null),
  ("searchSortedBy (dl asc, 60 rows)", () => engine.searchSortedBy(terms, "dl", true, 60), null),
  ("facetScan (lang)", () => priv("facetScan", terms, "lang", None), null))
for ((name, call, planOf) <- cases) {
  (1 to 3).foreach(_ => call().collect()) // warm-up: lazy index state, codegen, the resident table
  Thread.sleep(500); jobs.set(0); tasks.set(0); records.set(0); shuffled.set(0)
  val t0 = System.nanoTime()
  val df = call()
  val res = df.collect()
  val ms = (System.nanoTime() - t0) / 1e6
  Thread.sleep(500)
  val digest = java.security.MessageDigest.getInstance("MD5")
    .digest(res.map(_.toSeq.mkString(",")).sorted.mkString("\n").getBytes("UTF-8"))
    .map("%02x".format(_)).mkString
  out ++= s"== $name\n"
  out ++= s"per call: ${jobs.get} jobs, ${tasks.get} tasks, ${records.get} input records, " +
    s"${shuffled.get} shuffle bytes written, ${"%.0f".format(ms)} ms (one draw); " +
    s"result: ${res.length} rows, md5 $digest\n"
  val shown = if (planOf == null) df else { val p = planOf(); p.collect(); p }
  out ++= "executed plan:\n" + shown.queryExecution.executedPlan + "\n\n"
}
println("PLANS-BEGIN\n" + out + "PLANS-END")
System.exit(0)
