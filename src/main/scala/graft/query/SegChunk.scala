package graft.query

import java.nio.charset.StandardCharsets.UTF_8

/** One chunk of an [[Engine]]'s resident segments table: at most
  * [[SegChunk.MaxRows]] consecutive rows of one table partition, which
  * holds its rows in term_id order, copied into one array per column. A
  * variable-width column is one byte blob with each row's end offset
  * ([[SegChunk.Blobs]]). A lookup binary-searches the term_ids.
  */
private[graft] final class SegChunk(
    segIds: Array[Long], termIds: Array[Long], df: Array[Int], maxTf: Array[Int],
    minDl: Array[Int], terms: SegChunk.Blobs, postings: SegChunk.Blobs,
    positions: SegChunk.Blobs) extends Serializable {

  /** The rows of the `bound` terms, in table order: term_id in `ids`
    * (sorted), then the term string `bound` (the hash-collision guard).
    * Each row owns copies of its blobs; its positions are read only for a
    * `phraseWords` term.
    */
  def rows(ids: Array[Long], bound: String => Boolean, phraseWords: Set[String]): Iterator[SegRow] =
    ids.iterator.flatMap { id =>
      var lo = 0
      var hi = termIds.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (termIds(mid) < id) lo = mid + 1 else hi = mid
      }
      Iterator.from(lo).takeWhile(i => i < termIds.length && termIds(i) == id)
    }.flatMap { i =>
      val term = terms.string(i)
      if (!bound(term)) None
      else Some(SegRow(segIds(i), term, df(i), maxTf(i), minDl(i), postings(i),
        if (phraseWords(term)) positions(i) else null))
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

  /** A table partition's ((term_id, seg_id), row) pairs, in term_id
    * order, as chunks.
    */
  def chunks(rows: Iterator[((Long, Long), SegRow)]): Iterator[SegChunk] =
    new Iterator[SegChunk] {
      def hasNext: Boolean = rows.hasNext
      def next(): SegChunk = {
        val seg, id = new Array[Long](MaxRows)
        val df, maxTf, minDl = new Array[Int](MaxRows)
        val terms, postings, positions = new BlobsBuilder
        var n = 0
        while (n < MaxRows && rows.hasNext) {
          val ((termId, _), r) = rows.next()
          seg(n) = r.seg_id
          id(n) = termId
          df(n) = r.df
          maxTf(n) = r.max_tf
          minDl(n) = r.min_dl
          terms.add(n, r.term.getBytes(UTF_8))
          postings.add(n, r.postings)
          positions.add(n, r.positions)
          n += 1
        }
        new SegChunk(seg.take(n), id.take(n), df.take(n), maxTf.take(n), minDl.take(n),
          terms.result(n), postings.result(n), positions.result(n))
      }
    }
}
