// A warm search call split into its driver spans, next to Spark's trivial
// job run two ways, on perfbench's index:
//   - pass build: `Engine.termsPass` (spec, term lookup, the pass RDD);
//   - scoring job: `Wand.heaps`, the one Spark job and the heap merge;
//   - result build: `Wand.local` over the merged top-60;
//   - collect: the caller's `collect` of that local DataFrame;
//   - call: a whole `searchByTerms(...).collect()`;
//   - trivial job: a cached 3-partition RDD's `count()` (a Scala lambda
//     the closure cleaner reads class files for) and the same job through
//     `sc.runJob` with a named function class (the cleaner's early return).
// It also counts the closures the cleaner reports (`Cleaning indylambda
// closure` at DEBUG) during one warm term call, batch, docPred call, facet
// and grouped search.
// The private spans are reached by reflection, so the probe runs against
// any checkout whose classes are compiled (`sbt compile`):
//   GRAFT_IDX=/tmp/pf-idx spark-shell --master local[4] --driver-memory 2g \
//     --conf spark.sql.shuffle.partitions=8 --conf spark.ui.enabled=false \
//     --driver-class-path target/scala-2.13/classes -I plans/pr16/driver_probe.scala
// The index is perfbench's: Corpus.synthesize(6000 files, seed 1) at
// IndexConfig(segShift = 9, rangeSegsShift = 7), built on the first run
// into GRAFT_IDX. Queries are perfbench's mixed class (two terms in every
// file, two in at most 1% of them), 200 warm-up calls, then 300 measured.
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{BoundedTopK, Engine, Index, Scored, Wand}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, sum}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

val idxDir = sys.env("GRAFT_IDX")
if (!new java.io.File(idxDir).exists)
  IndexBuild.build(spark, Corpus.synthesize(spark, 6000, seed = 1, partitions = 8), idxDir,
    IndexConfig(segShift = 9, rangeSegsShift = 7))
val engine = new Engine(new Index(spark, idxDir))
val nDocs = engine.index.stats._1
val vocab = {
  engine.index.segments.where(col("term").startsWith("w:"))
    .groupBy(col("term")).agg(sum(col("df")).cast("long"))
    .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
}
val hot = vocab.filter(_._2 == nDocs).map(_._1).toIndexedSeq
val rare = vocab.filter(v => v._2 >= 2 && v._2 <= math.max(2L, nDocs / 100)).map(_._1).toIndexedSeq
val rng = new scala.util.Random(1)
def pick(from: IndexedSeq[String], k: Int) = rng.shuffle(from.indices.toList).take(k).map(from)
def mixed(): Seq[(String, Double)] = (pick(hot, 2) ++ pick(rare, 2)).map(_ -> 1.0)

// the private spans, by name (their bytecode is public or made accessible)
val termsPassM = classOf[Engine].getMethods.find(_.getName == "termsPass").get
val heapsM = Wand.getClass.getDeclaredMethods.find(_.getName.endsWith("heaps")).get
val localM = Wand.getClass.getDeclaredMethods.find(_.getName.endsWith("local")).get
Seq(heapsM, localM).foreach(_.setAccessible(true))
// a checkout that builds the result from InternalRows has the bridge's factory
val internalRows = org.apache.spark.sql.classic.GraftBridge.getClass.getMethods.exists(_.getName == "localDf")
val ranked = StructType(Seq("rank", "doc_id", "score_q").map(StructField(_, LongType, nullable = false)))
def termsPass(q: Seq[(String, Double)]): AnyRef =
  termsPassM.invoke(engine, q, Int.box(60), Double.box(1.0), Int.box(10000), None, None, None)
def heaps(p: AnyRef): scala.collection.mutable.LongMap[BoundedTopK] =
  heapsM.invoke(Wand, p, Int.box(60)).asInstanceOf[scala.collection.mutable.LongMap[BoundedTopK]]
def local(p: AnyRef, top: Array[Scored]): DataFrame = {
  val rows = top.iterator.zipWithIndex.map { case (s, i) =>
    if (internalRows) InternalRow((i + 1).toLong, s.docId, s.scoreQ) else Row((i + 1).toLong, s.docId, s.scoreQ)
  }
  localM.invoke(Wand, p, ranked, rows).asInstanceOf[DataFrame]
}

def ms[T](body: => T): (T, Double) = { val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e6) }
def p50(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

val firstMs = ms(engine.searchByTerms(mixed(), rows = 60).collect())._2
(0 until 200).foreach(_ => engine.searchByTerms(mixed(), rows = 60).collect())
val spans = (0 until 300).map { _ =>
  val q = mixed()
  val (pass, tPass) = ms(termsPass(q))
  val (hs, tJob) = ms(heaps(pass))
  val top = hs.get(0L).fold(Array.empty[Scored])(_.sortedBestFirst)
  val (df, tLocal) = ms(local(pass, top))
  val (_, tCollect) = ms(df.collect())
  val (_, tCall) = ms(engine.searchByTerms(mixed(), rows = 60).collect())
  Seq(tPass, tJob, tLocal, tCollect, tCall)
}
val Seq(passP, jobP, localP, collectP, callP) = spans.transpose.map(xs => p50(xs))

final class CountRows extends ((TaskContext, Iterator[Int]) => Long) with Serializable {
  def apply(ctx: TaskContext, it: Iterator[Int]): Long = it.size.toLong
}
val tiny = sc.parallelize(1 to 3, 3).cache()
tiny.count()
val countFn = new CountRows
def runJobCount(): Long = {
  var n = 0L
  sc.runJob(tiny, countFn, 0 until 3, (_: Int, c: Long) => n += c)
  n
}
(0 until 100).foreach { _ => tiny.count(); runJobCount() }
val countP = p50((0 until 300).map(_ => ms(tiny.count())._2))
val runJobP = p50((0 until 300).map(_ => ms(runJobCount())._2))

// the closures the cleaner reports during one call
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
final class Lines extends AbstractAppender("probe-closures", null, null, true, Property.EMPTY_ARRAY) {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
}
def cleaned(body: => Any): Seq[String] = {
  val logger = LogManager.getLogger("org.apache.spark.util.ClosureCleaner").asInstanceOf[CoreLogger]
  val lines = new Lines
  lines.start()
  val (level, additive) = (logger.getLevel, logger.isAdditive)
  logger.addAppender(lines)
  logger.setLevel(Level.DEBUG)
  logger.setAdditive(false)
  try body finally {
    logger.setLevel(level)
    logger.setAdditive(additive)
    logger.removeAppender(lines)
  }
  import scala.jdk.CollectionConverters._
  lines.seen.asScala.toSeq.filter(_.startsWith("Cleaning indylambda closure")).map(_.stripPrefix("Cleaning indylambda closure: "))
}
val batch = (0 until 50).map(i => i.toLong -> mixed())
val java = Some(col("lang") === "java")
engine.searchManyByTerms(batch, rows = 60).collect()
engine.searchByTerms(mixed(), rows = 60, docPred = java).collect()
val termClosures = cleaned(engine.searchByTerms(mixed(), rows = 60))
val batchClosures = cleaned(engine.searchManyByTerms(batch, rows = 60))
val predClosures = cleaned(engine.searchByTerms(mixed(), rows = 60, docPred = java))
engine.facet(mixed(), "lang").collect()
engine.searchGrouped(mixed(), "repo", 2, 5).collect()
val facetClosures = cleaned(engine.facet(mixed(), "lang").collect())
val groupedClosures = cleaned(engine.searchGrouped(mixed(), "repo", 2, 5).collect())

println(f"first call (fills the table) $firstMs%.1f ms; warm mixed calls, p50 over 300:")
println(f"  pass build $passP%.2f ms | scoring job $jobP%.2f ms | result build $localP%.2f ms | collect $collectP%.2f ms")
println(f"  searchByTerms(...).collect() $callP%.2f ms")
println(f"trivial 3-task job, p50 over 300: rdd.count() $countP%.2f ms | sc.runJob, named function $runJobP%.2f ms")
println(s"closures cleaned per warm call: term ${termClosures.size} ${termClosures.mkString("[", ", ", "]")}")
println(s"  batch ${batchClosures.size} ${batchClosures.mkString("[", ", ", "]")}")
println(s"  docPred ${predClosures.size} ${predClosures.mkString("[", ", ", "]")}")
println(s"  facet ${facetClosures.size} ${facetClosures.mkString("[", ", ", "]")}")
println(s"  grouped ${groupedClosures.size} ${groupedClosures.mkString("[", ", ", "]")}")
System.exit(0)
