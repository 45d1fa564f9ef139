package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types.StructType

/** Parquet that never splits a file across scan partitions. Every build,
  * compaction and upsert writes each segment to exactly one file, so a
  * scan through this format keeps every segment whole inside one task:
  * the query pass groups its hit rows by segment in the scan task
  * ([[graft.query.Index.segments]]). Plain parquet splits a file past
  * `spark.sql.files.maxPartitionBytes` at row-group boundaries, which
  * would hand one segment's rows to two tasks. Filter pushdown, column
  * pruning and the vectorized reader are parquet's own.
  *
  * A scan whose relation carries a [[WholeFileParquet.BindingOption]] key
  * also takes a term binding per job: when the job's local property
  * [[WholeFileParquet.bindingProperty]] of that key holds term ids, every
  * file the task opens is read with `In(term_id, ids)` added to the
  * pushed filters, so parquet skips the row groups holding none of them.
  * Parquet converts its filter list in the task, once per file, which is
  * what lets a scan planned once prune by each call's terms. The binding
  * prunes row groups only; the reader of the rows keeps only the bound
  * terms' rows ([[graft.query.Index.termRows]] does the same on a
  * per-call plan). A scan without the option, or a job without the
  * property, reads every row group.
  */
final class WholeFileParquet extends ParquetFileFormat {
  override def isSplitable(sparkSession: SparkSession, options: Map[String, String],
                           path: Path): Boolean = false

  override def buildReaderWithPartitionValues(sparkSession: SparkSession, dataSchema: StructType,
      partitionSchema: StructType, requiredSchema: StructType, filters: Seq[Filter],
      options: Map[String, String], hadoopConf: Configuration)
      : PartitionedFile => Iterator[InternalRow] = {
    val bound = options.collectFirst {
      case (k, key) if k.equalsIgnoreCase(WholeFileParquet.BindingOption) =>
        new WholeFileParquet.BoundFilters(filters, key)
    }
    super.buildReaderWithPartitionValues(sparkSession, dataSchema, partitionSchema,
      requiredSchema, bound.getOrElse(filters), options, hadoopConf)
  }
}

object WholeFileParquet {
  /** Relation option naming the binding key of a scan planned once. */
  val BindingOption = "graft.binding"

  /** The job-local property that binds the scan keyed `key` to term ids. */
  def bindingProperty(key: String): String = s"graft.binding.$key"

  /** A binding's property value: the term ids, comma-separated. */
  def encodeIds(ids: Iterable[Long]): String = ids.mkString(",")

  private def decodeIds(s: String): Array[Any] =
    s.split(',').map(x => java.lang.Long.valueOf(x): Any)

  /** The scan's pushed `base` filters, plus `In(term_id, ids)` while the
    * running task's job binds `key` to ids. Read when parquet iterates the
    * list: on the driver there is no task and the list is `base`.
    */
  private final class BoundFilters(base: Seq[Filter], key: String)
      extends scala.collection.immutable.AbstractSeq[Filter] with Serializable {
    private def now: Seq[Filter] =
      Option(TaskContext.get()).flatMap(t => Option(t.getLocalProperty(bindingProperty(key)))) match {
        case Some(ids) if ids.nonEmpty => base :+ In("term_id", decodeIds(ids))
        case _ => base
      }
    def apply(i: Int): Filter = now(i)
    def length: Int = now.length
    def iterator: Iterator[Filter] = now.iterator
  }
}
