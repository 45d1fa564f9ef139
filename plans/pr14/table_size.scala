// Size of an engine's resident segments table (sc.getRDDStorageInfo)
// against the parquet store it copies, and the first (table-filling) call
// against warm calls of rare terms (df 2..60, as perfbench picks them), on
// perfbench's index.
// Run from a checkout whose classes are compiled (`sbt compile`):
//   GRAFT_IDX=/tmp/pf-idx spark-shell --master local[4] --driver-memory 2g \
//     --conf spark.sql.shuffle.partitions=8 --conf spark.ui.enabled=false \
//     --driver-class-path target/scala-2.13/classes -I plans/pr14/table_size.scala
// The index is perfbench's: Corpus.synthesize(6000 files, seed 1) at
// IndexConfig(segShift = 9, rangeSegsShift = 7), built on the first run
// into GRAFT_IDX.
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{Engine, Index}
import org.apache.spark.sql.functions.col

val idxDir = sys.env("GRAFT_IDX")
if (!new java.io.File(idxDir).exists)
  IndexBuild.build(spark, Corpus.synthesize(spark, 6000, seed = 1, partitions = 8), idxDir,
    IndexConfig(segShift = 9, rangeSegsShift = 7))
val engine = new Engine(new Index(spark, idxDir))
def parquetBytes(f: java.io.File): Long = {
  if (f.isDirectory) f.listFiles.map(parquetBytes).sum
  else if (f.getName.endsWith(".parquet")) f.length else 0L
}
val stored = engine.index.segments.count()
val rare = {
  engine.index.dictionary.where(col("term").startsWith("w:") && col("df").between(2, 60))
    .select("term").collect().map(_.getString(0)).take(60).toSeq
}
def ms[T](body: => T): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6 }
val fillMs = ms(engine.searchByTerms(rare.take(3).map(_ -> 1.0), rows = 60).collect())
// the table is private to the engine: find it by its RDD name
val table = spark.sparkContext.getPersistentRDDs.values.find(_.name.startsWith("resident segments")).get
val info = spark.sparkContext.getRDDStorageInfo.find(_.id == table.id).get
println(f"table: ${info.memSize}%,d B in memory, ${info.diskSize}%,d B on disk, ${info.numCachedPartitions}/${info.numPartitions} partitions cached, ${table.count()} chunks")
println(f"store: ${parquetBytes(new java.io.File(IndexBuild.segmentsDir(idxDir)))}%,d B of parquet, $stored%,d rows")
val warm = rare.grouped(3).toSeq.map(q => ms(engine.searchByTerms(q.map(_ -> 1.0), rows = 60).collect())).sorted
println(f"first call (fills the table) $fillMs%.1f ms; warm rare calls p50 ${warm(warm.size / 2)}%.1f ms over ${warm.size}")
