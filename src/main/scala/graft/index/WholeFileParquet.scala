package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat

/** Parquet that never splits a file across scan partitions. Every build,
  * compaction and upsert writes each segment to exactly one file, so a
  * scan through this format keeps every segment whole inside one task:
  * the query pass groups its hit rows by segment in the scan task
  * ([[graft.query.Index.segments]]). Plain parquet splits a file past
  * `spark.sql.files.maxPartitionBytes` at row-group boundaries, which
  * would hand one segment's rows to two tasks. Filter pushdown, column
  * pruning and the vectorized reader are parquet's own.
  */
final class WholeFileParquet extends ParquetFileFormat {
  override def isSplitable(sparkSession: SparkSession, options: Map[String, String],
                           path: Path): Boolean = false
}
