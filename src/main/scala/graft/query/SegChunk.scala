package graft.query

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.catalyst.InternalRow

/** One chunk of an [[Engine]]'s resident segments table: at most
  * [[SegChunk.MaxRows]] consecutive rows of one scan partition, in scan
  * (file) order, copied out of the reader into one array per column. A
  * variable-width column is one byte blob with each row's end offset
  * ([[SegChunk.Blobs]]). `order` lists the rows by term_id, or is null
  * when they already are (a chunk inside one file: the store is written
  * in (term_id, seg_id) order), so a lookup binary-searches term_ids.
  */
private[graft] final class SegChunk(
    segIds: Array[Long], termIds: Array[Long], df: Array[Int], maxTf: Array[Int],
    minDl: Array[Int], terms: SegChunk.Blobs, postings: SegChunk.Blobs,
    positions: SegChunk.Blobs, order: Array[Int]) extends Serializable {

  private def idAt(k: Int): Long = termIds(if (order == null) k else order(k))

  /** The rows of the `bound` terms, in scan order: term_id in `ids`
    * (sorted), then the term string in `bound` (the hash-collision
    * guard). Each row owns copies of its blobs; its positions are read
    * only for a `phraseWords` term, as the scan read them.
    */
  def rows(ids: Array[Long], bound: Set[String], phraseWords: Set[String]): Iterator[SegRow] = {
    val hit = scala.collection.mutable.ArrayBuilder.make[Int]
    ids.foreach { id =>
      var lo = 0
      var hi = termIds.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (idAt(mid) < id) lo = mid + 1 else hi = mid
      }
      while (lo < termIds.length && idAt(lo) == id) {
        hit += (if (order == null) lo else order(lo))
        lo += 1
      }
    }
    val at = hit.result()
    if (order != null) java.util.Arrays.sort(at)
    at.iterator.flatMap { i =>
      val term = terms.string(i)
      if (!bound(term)) None
      else Some(SegRow(segIds(i), term, df(i), maxTf(i), minDl(i), postings(i),
        if (phraseWords(term)) positions(i) else null))
    }
  }
}

private[graft] object SegChunk {
  /** Rows per chunk: one vectorized parquet reader batch. Spark unrolls a
    * cached partition element by element, so a bounded element lets it
    * refuse a partition that does not fit instead of running out of heap.
    */
  val MaxRows = 4096

  /** One variable-width column: row i's bytes are `bytes[end(i-1), end(i))`;
    * a null value is a row of `nulls`.
    */
  final class Blobs(bytes: Array[Byte], end: Array[Int], nulls: java.util.BitSet)
      extends Serializable {
    private def start(i: Int): Int = if (i == 0) 0 else end(i - 1)
    def apply(i: Int): Array[Byte] =
      if (nulls.get(i)) null else java.util.Arrays.copyOfRange(bytes, start(i), end(i))
    def string(i: Int): String = new String(bytes, start(i), end(i) - start(i), UTF_8)
  }

  private final class BlobsBuilder {
    private val out = new java.io.ByteArrayOutputStream()
    private val end = new Array[Int](MaxRows)
    private val nulls = new java.util.BitSet()
    def add(i: Int, b: Array[Byte]): Unit = {
      if (b == null) nulls.set(i) else out.write(b)
      end(i) = out.size()
    }
    def result(n: Int): Blobs = new Blobs(out.toByteArray, end.take(n), nulls)
  }

  /** A scan partition's rows as chunks, each row's values copied (the
    * reader's rows are views over its reused buffers). `ord` holds the
    * ordinals of seg_id, term_id, term, df, max_tf, min_dl, postings and
    * positions.
    */
  def chunks(rows: Iterator[InternalRow], ord: Seq[Int]): Iterator[SegChunk] = {
    val Seq(segI, idI, termI, dfI, maxTfI, minDlI, postingsI, positionsI) = ord
    new Iterator[SegChunk] {
      def hasNext: Boolean = rows.hasNext
      def next(): SegChunk = {
        val seg, id = new Array[Long](MaxRows)
        val df, maxTf, minDl = new Array[Int](MaxRows)
        val terms, postings, positions = new BlobsBuilder
        var n = 0
        while (n < MaxRows && rows.hasNext) {
          val r = rows.next()
          seg(n) = r.getLong(segI)
          id(n) = r.getLong(idI)
          df(n) = r.getInt(dfI)
          maxTf(n) = r.getInt(maxTfI)
          minDl(n) = r.getInt(minDlI)
          terms.add(n, r.getUTF8String(termI).getBytes)
          postings.add(n, r.getBinary(postingsI))
          positions.add(n, r.getBinary(positionsI))
          n += 1
        }
        val ids = id.take(n)
        val sorted = (1 until n).forall(i => ids(i - 1) <= ids(i))
        new SegChunk(seg.take(n), ids, df.take(n), maxTf.take(n), minDl.take(n),
          terms.result(n), postings.result(n), positions.result(n),
          if (sorted) null else (0 until n).sortBy(ids(_)).toArray)
      }
    }
  }
}
