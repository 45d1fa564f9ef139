package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sfTiny = "/root/testdata/sf0.001"

  /** A temp directory deleted when the test JVM exits. Every suite MUST
    * use this instead of a bare Files.createTempDirectory: suites build
    * indexes/corpora into their temp dirs and a bare one outlives the
    * run — measured ~50 MB leaked per `sbt test` across four rounds of
    * runs (tens of GB of /tmp). Deletion at JVM exit (not afterAll) so
    * cross-test lazy vals (e.g. UpsertSpec's shared index dirs) stay
    * valid for the whole run.
    */
  def tempDir(tag: String): String = graft.util.Tmp.dir(tag)

  /** Parquet scans of `indexDir`'s segments store in `df`'s physical plan
    * (descending into adaptive plans): how many times a query reads the
    * postings.
    */
  def segmentScans(df: org.apache.spark.sql.Dataset[_], indexDir: String): Int = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val segDir = new org.apache.hadoop.fs.Path(graft.index.IndexBuild.segmentsDir(indexDir))
      .toUri.getPath
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collect(df.queryExecution.executedPlan) {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.forall(_.toUri.getPath.startsWith(segDir)) => s
    }.size
  }

  /** One query spec's top-`rows` (rank, doc_id, score_q) through the
    * engine's scoring pass and merge, on the spec's own route: the route
    * pins force routes the engine's rule would not pick. None scores
    * nothing.
    */
  def specTopK(engine: graft.query.Engine, spec: Option[graft.query.Engine.QuerySpec],
               rows: Int, candidates: Int,
               bitmapFq: Option[(String, String)] = None,
               docPred: Option[org.apache.spark.sql.Column] = None): org.apache.spark.sql.DataFrame =
    graft.query.Wand.topK(engine.scorePass(spec.toSeq, rows, candidates, bitmapFq, docPred),
      rows)(_._2)

  /** `body`'s result and the number of Spark jobs it started, counted by
    * a listener once the bus has delivered every event of the call.
    */
  def jobsOf[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    org.apache.spark.TestBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val r = body
      org.apache.spark.TestBus.drain(sc)
      (r, n.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Every live unit of `indexDir` holds each always-written store and a
    * manifest stamped with the current codec_ver. `filters` (only with
    * filterColumns) and `tombstones` (only with kills) are optional.
    */
  def assertCurrentLayout(indexDir: String): Unit = {
    import graft.index.IndexBuild
    val live = IndexBuild.liveUnits(spark, indexDir)
    assert(live.nonEmpty, s"no live units under $indexDir")
    val optional = Set(IndexBuild.filtersDir(indexDir), IndexBuild.tombstonesDir(indexDir))
    IndexBuild.unitStoreDirs(indexDir).filterNot(optional).foreach { d =>
      val missing = live.filterNot(IndexBuild.unitsIn(spark, d))
      assert(missing.isEmpty, s"$d lacks units $missing")
    }
    val vers = IndexBuild.manifests(spark, indexDir, live)
      .selectExpr("range_id", "codec_ver").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(vers == live.map(_ -> IndexBuild.CodecVer).toMap,
      s"codec_ver per unit: $vers")
  }
}
