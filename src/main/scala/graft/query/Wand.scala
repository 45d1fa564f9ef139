package graft.query

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.roaringbitmap.RoaringBitmap
import graft.index.{Codec, IndexConfig, TermHash}

/** One segment-local posting-list hit for a query term. */
final case class SegHit(seg_id: Long, term: String, df: Int,
                        max_tf: Int, min_dl: Int, postings: Array[Byte])

/** A scored doc (raw double kept; ordering/output always quantized). */
final case class Scored(docId: Long, score: Double) {
  def scoreQ: Long = math.round(score * Bm25.Quant)
}

/** Bounded top-k heap ordered by (score_q DESC, docId ASC) — the one
  * genuinely custom aggregate (SURVEY.md §2.9/U4; reference analog: the
  * TreeSet capped at `rows`, LireRequestHandler.java:631-668, tie rule
  * CachingSimpleResult.java:12-24). Worst entry at the root; quantized
  * comparison keeps eviction deterministic across summation orders.
  */
final class BoundedTopK(val k: Int) extends Serializable {
  var size: Int = 0
  var docIds: Array[Long] = new Array[Long](math.min(k, 1024))
  var scores: Array[Double] = new Array[Double](math.min(k, 1024))

  @inline private def q(s: Double): Long = math.round(s * Bm25.Quant)
  /** is entry (d1,s1) worse than (d2,s2)? */
  @inline private def worse(d1: Long, s1: Double, d2: Long, s2: Double): Boolean = {
    val q1 = q(s1); val q2 = q(s2)
    q1 < q2 || (q1 == q2 && d1 > d2)
  }
  def full: Boolean = size >= k
  def worstScore: Double = scores(0)

  private def grow(): Unit = {
    val n = math.min(k, math.max(docIds.length * 2, 16))
    docIds = java.util.Arrays.copyOf(docIds, n)
    scores = java.util.Arrays.copyOf(scores, n)
  }
  private def swap(i: Int, j: Int): Unit = {
    val d = docIds(i); docIds(i) = docIds(j); docIds(j) = d
    val s = scores(i); scores(i) = scores(j); scores(j) = s
  }
  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) >> 1
      if (worse(docIds(i), scores(i), docIds(p), scores(p))) { swap(i, p); i = p }
      else return
    }
  }
  private def siftDown(i0: Int): Unit = {
    var i = i0
    while (true) {
      val l = 2 * i + 1; val r = l + 1
      var w = i
      if (l < size && worse(docIds(l), scores(l), docIds(w), scores(w))) w = l
      if (r < size && worse(docIds(r), scores(r), docIds(w), scores(w))) w = r
      if (w == i) return
      swap(i, w); i = w
    }
  }
  def offer(docId: Long, score: Double): Unit = {
    if (size < k) {
      if (size == docIds.length) grow()
      docIds(size) = docId; scores(size) = score; size += 1
      siftUp(size - 1)
    } else if (worse(docIds(0), scores(0), docId, score)) {
      docIds(0) = docId; scores(0) = score
      siftDown(0)
    }
  }
  def merge(o: BoundedTopK): BoundedTopK = {
    var i = 0
    while (i < o.size) { offer(o.docIds(i), o.scores(i)); i += 1 }
    this
  }
  /** best-first: (score_q desc, docId asc). */
  def sortedBestFirst: Array[Scored] = {
    val out = Array.tabulate(size)(i => Scored(docIds(i), scores(i)))
    out.sortBy(s => (-s.scoreQ, s.docId))
  }
}

/** One [[BoundedTopK]] per query id — a task's partial of the scoring
  * pass merge ([[Wand.topKPerQuery]]).
  */
final class QueryHeaps(val k: Int) extends Serializable {
  val byQuery = scala.collection.mutable.LongMap.empty[BoundedTopK]
  def offer(qid: Long, s: Scored): QueryHeaps = {
    byQuery.getOrElseUpdate(qid, new BoundedTopK(k)).offer(s.docId, s.score)
    this
  }
  def merge(o: QueryHeaps): QueryHeaps = {
    o.byQuery.foreach { case (qid, h) =>
      byQuery.get(qid) match {
        case Some(mine) => mine.merge(h)
        case None => byQuery.update(qid, h)
      }
    }
    this
  }
}

/** A task's fold of a scoring pass's (query id, candidate) rows into one
  * [[QueryHeaps]], the task side of every scoring pass's merge (the heaps
  * behind [[Wand.topK]] and [[Wand.topKPerQuery]]): a named function, not
  * a lambda, so `SparkContext.clean` returns at once instead of reading
  * the class file that declares a lambda.
  */
private[graft] final class HeapFold(k: Int)
    extends ((TaskContext, Iterator[(Long, Scored)]) => QueryHeaps) with Serializable {
  def apply(ctx: TaskContext, rows: Iterator[(Long, Scored)]): QueryHeaps = {
    val heaps = new QueryHeaps(k)
    rows.foreach(x => heaps.offer(x._1, x._2))
    heaps
  }
}

/** Typed bounded-heap top-k Aggregator — Spark runs it as partial
  * aggregation per partition + merge (the treeAggregate shape of the
  * north_rule) via ObjectHashAggregate. For the merges that stay inside
  * a lazy plan (the ANN top-k); a scoring pass merges through
  * [[Wand.topK]] instead, and grouped search through keyed heaps. `scoredOf`
  * projects an input row to its [[Scored]], so keyed callers (per group
  * value, per query) aggregate `groupByKey(_._1)` rows with `_._2`
  * directly, without a `mapValues` object round trip per row.
  */
final class TopKAgg[IN](k: Int, scoredOf: IN => Scored)(implicit outEnc: Encoder[Seq[Scored]])
    extends Aggregator[IN, BoundedTopK, Seq[Scored]] {
  def zero: BoundedTopK = new BoundedTopK(k)
  def reduce(b: BoundedTopK, a: IN): BoundedTopK = {
    val s = scoredOf(a)
    b.offer(s.docId, s.score)
    b
  }
  def merge(b1: BoundedTopK, b2: BoundedTopK): BoundedTopK = b1.merge(b2)
  def finish(r: BoundedTopK): Seq[Scored] = r.sortedBestFirst.toSeq
  def bufferEncoder: Encoder[BoundedTopK] = Encoders.kryo[BoundedTopK]
  def outputEncoder: Encoder[Seq[Scored]] = outEnc
}

/** Block-max WAND top-k over segment files (SURVEY.md §7.5).
  *
  * Per segment (the parallel unit): document-at-a-time traversal of the
  * query terms' posting lists with two pruning levels —
  *   - pivot selection on list-level upper bounds (weight ·
  *     tfNorm(max_tf, min_dl)): docs that cannot beat the current
  *     threshold are never visited;
  *   - block-level refinement on the pivot's block metadata before
  *     scoring.
  * Both bounds are valid because tfNorm is monotone increasing in tf and
  * decreasing in dl. Skipping uses the quantized-tie rule, so results stay
  * EXACTLY rank-identical to exhaustive scoring (tested property-wise).
  *
  * The reference's phase-1/phase-2 split (approximate top-10⁴ then exact
  * re-rank, LireRequestHandler.java:554-668) maps to: WAND keeps a
  * per-segment bounded heap of size `candidates` of EXACT scores, the
  * driver-side merge takes `rows`.
  *
  * The Engine's one scoring pass calls the top-k kernels per query per
  * segment in the task that holds it — a single query is a batch of one,
  * merged by [[topK]]; a batch's queries by [[topKPerQuery]], the same
  * per-task heaps keyed by query id.
  */
object Wand {

  /** Search-after acceptance: strictly after the cursor in the total order
    * (score_q DESC, docId ASC) — THE one definition of the cursor rule,
    * shared by every scorer (a per-scorer copy could silently diverge on a
    * tie-rule change).
    */
  @inline def cursorAccepts(afterScoreQ: Long, afterDocId: Long,
                            docId: Long, score: Double): Boolean = {
    val sq = math.round(score * Bm25.Quant)
    sq < afterScoreQ || (sq == afterScoreQ && docId > afterDocId)
  }

  /** weight = boost · idf (global stats folded in by the Engine). */
  final case class QueryList(iter: Codec.Iter, weight: Double, listUB: Double,
                             var cur: Int)

  def tfNormUB(maxTf: Int, minDl: Int, avgdl: Double): Double =
    Bm25.tfNorm(maxTf.toDouble, minDl.toDouble, avgdl)

  /** Score one segment. `allowed`: local-id bitmap (fq filter) or null.
    * `useWand=false` = exhaustive DAAT (the accuracy≥0.9 degenerate plan,
    * SURVEY.md O2).
    *
    * Filter skip (VERDICT r03 "What's wrong" #4): a pivot outside `allowed`
    * is advanced past WITHOUT computing its per-list BM25 contributions —
    * under a highly selective fq nearly every pivot is disallowed, and the
    * old offer-time check paid the full scoring loop for each of them.
    * Rank-identical by construction (the skipped docs never entered the
    * heap anyway); pinned by WandPropertySpec's random-bitmap property.
    *
    * Cursor (`afterScoreQ`/`afterDocId`): search-after paging — only docs
    * STRICTLY after the cursor in the total order (score_q DESC, docId
    * ASC) enter the heap, so the heap stays `candidates` deep at any page
    * depth (Solr cursorMark semantics; defaults admit everything). The
    * check needs the score, so it stays at offer time.
    */
  def scoreSegment(
      segId: Long,
      hits: Iterator[SegHit],
      weights: Map[String, Double],
      avgdl: Double,
      candidates: Int,
      cfg: IndexConfig,
      allowed: RoaringBitmap,
      useWand: Boolean,
      afterScoreQ: Long = Long.MaxValue,
      afterDocId: Long = Long.MinValue): Iterator[Scored] = {
    @inline def afterCursor(docId: Long, score: Double): Boolean =
      cursorAccepts(afterScoreQ, afterDocId, docId, score)
    val lists = hits.flatMap { h =>
      weights.get(h.term).map { w =>
        val it = new Codec.Iter(h.postings)
        QueryList(it, w, w * tfNormUB(h.max_tf, h.min_dl, avgdl), if (it.exhausted) -1 else it.curLocal)
      }
    }.filter(_.cur >= 0).toArray
    if (lists.isEmpty) return Iterator.empty
    val heap = new BoundedTopK(candidates)

    var nLists = lists.length
    // insertion sort of the live prefix [0, nLists) by cur
    def sortLists(): Unit = {
      var i = 1
      while (i < nLists) {
        val x = lists(i)
        var j = i - 1
        while (j >= 0 && lists(j).cur > x.cur) { lists(j + 1) = lists(j); j -= 1 }
        lists(j + 1) = x
        i += 1
      }
    }
    def dropExhausted(): Unit = {
      var i = 0
      var m = 0
      while (i < nLists) {
        if (lists(i).cur >= 0) { lists(m) = lists(i); m += 1 }
        i += 1
      }
      nLists = m
    }

    sortLists()
    var done = false
    while (!done && nLists > 0) {
      // threshold: only active once heap is full
      val threshold = if (heap.full) heap.worstScore else Double.NegativeInfinity
      if (!useWand || !heap.full) {
        // exhaustive DAAT on the smallest current doc; a disallowed pivot
        // advances its lists without paying the scoring arithmetic
        val pivotDoc = lists(0).cur
        val ok = allowed == null || allowed.contains(pivotDoc)
        var score = 0.0
        var i = 0
        while (i < nLists && lists(i).cur == pivotDoc) {
          val l = lists(i)
          if (ok)
            score += l.weight * Bm25.tfNorm(l.iter.curTf.toDouble, l.iter.curDl.toDouble, avgdl)
          l.cur = if (l.iter.next()) l.iter.curLocal else -1
          i += 1
        }
        if (ok && afterCursor(cfg.globalOf(segId, pivotDoc), score))
          heap.offer(cfg.globalOf(segId, pivotDoc), score)
        dropExhausted(); sortLists()
      } else {
        // WAND pivot selection on list-level UBs
        var acc = 0.0
        var p = -1
        var i = 0
        while (i < nLists && p == -1) {
          acc += lists(i).listUB
          if (acc > threshold) p = i
          i += 1
        }
        if (p == -1) done = true // nothing can beat threshold
        else {
          val pivotDoc = lists(p).cur
          if (lists(0).cur == pivotDoc) {
            // a disallowed pivot advances past without block refinement or
            // scoring (the selective-fq fast path this bitmap exists for)
            val ok = allowed == null || allowed.contains(pivotDoc)
            // block-max refinement over lists parked at pivotDoc
            var bub = 0.0
            var j = 0
            while (j < nLists && lists(j).cur == pivotDoc) {
              val l = lists(j)
              if (ok)
                bub += l.weight * tfNormUB(l.iter.blockMaxTf, l.iter.blockMinDl, avgdl)
              j += 1
            }
            if (!ok || bub <= threshold) {
              // cannot beat (or disallowed): move every list past pivotDoc
              var m = 0
              while (m < j) {
                val l = lists(m)
                l.cur = if (l.iter.next()) l.iter.curLocal else -1
                m += 1
              }
            } else {
              var score = 0.0
              var m = 0
              while (m < j) {
                val l = lists(m)
                score += l.weight * Bm25.tfNorm(l.iter.curTf.toDouble, l.iter.curDl.toDouble, avgdl)
                l.cur = if (l.iter.next()) l.iter.curLocal else -1
                m += 1
              }
              if (afterCursor(cfg.globalOf(segId, pivotDoc), score))
                heap.offer(cfg.globalOf(segId, pivotDoc), score)
            }
            dropExhausted(); sortLists()
          } else {
            // advance the lowest list up to the pivot
            val l = lists(0)
            l.cur = if (l.iter.advanceTo(pivotDoc)) l.iter.curLocal else -1
            dropExhausted(); sortLists()
          }
        }
      }
    }
    heap.sortedBestFirst.iterator
  }

  /** Width of the dense fill's score window, as a shift: the dense-array
    * kernels hold 2^min(segShift, this) doubles (32 MB at 22) whatever
    * the segment width, and score a wider segment window by window.
    */
  val DenseArraySegShiftMax = 22

  /** The dense fill shared by the dense-array kernels (Lucene's
    * BooleanScorer bucket window): every posting of every weighted list
    * folds into ONE primitive score array indexed by local id − `base`,
    * over windows of 2^min(segShift, [[DenseArraySegShiftMax]]) local ids.
    * Each list's iterator lives across windows and adds its postings below
    * the window's end; then `sweep(base, scores, docs)` gets the window's
    * touched ids ∩ `allow` (null = every doc) as local ids, if any, and the
    * touched entries are zeroed for the next window. The next window is the
    * one holding the smallest unread local id, so empty windows cost
    * nothing; a segment of shift ≤ 22 is exactly one window. A doc's
    * partial scores add in list order in every geometry.
    *
    * The score array is the task thread's own, grown on demand (1 MB at
    * the default segShift 17, 32 MB at the widest window) and reused
    * across segments and queries: every window zeroes its touched entries
    * when it ends, the last one and one a failed sweep left included, so
    * the array is all zeros between fills.
    */
  private def denseFill(hits: Iterator[SegHit], weights: Map[String, Double],
      avgdl: Double, cfg: IndexConfig, allow: RoaringBitmap)(
      sweep: (Int, Array[Double], RoaringBitmap) => Unit): Unit = {
    val lists = hits.flatMap(h => weights.get(h.term).map(w => (new Codec.Iter(h.postings), w)))
      .filterNot(_._1.exhausted).toArray
    if (lists.isEmpty) return
    val wShift = math.min(cfg.segShift, DenseArraySegShiftMax)
    var scores = denseScores.get()
    if (scores.length < (1 << wShift)) { scores = new Array[Double](1 << wShift); denseScores.set(scores) }
    val touched = new RoaringBitmap()
    var next = lists.iterator.map(_._1.curLocal).min
    while (next >= 0) {
      val base = next >>> wShift << wShift
      val end = base + (1 << wShift)
      next = -1
      try {
        lists.foreach { case (it, w) =>
          var more = !it.exhausted
          while (more && it.curLocal < end) {
            val local = it.curLocal
            scores(local - base) += w * Bm25.tfNorm(it.curTf.toDouble, it.curDl.toDouble, avgdl)
            touched.add(local)
            more = it.next()
          }
          if (more && (next < 0 || it.curLocal < next)) next = it.curLocal
        }
        val docs = if (allow == null) touched else RoaringBitmap.and(touched, allow)
        if (!docs.isEmpty) sweep(base, scores, docs)
      } finally {
        val ti = touched.getIntIterator
        while (ti.hasNext) scores(ti.next() - base) = 0.0
        touched.clear()
      }
    }
  }

  private val denseScores = ThreadLocal.withInitial[Array[Double]](() => Array.emptyDoubleArray)

  /** The value sweep: `set` split by value bitmaps into (value, set ∩
    * bitmap) for each non-empty intersection, then (null, rest) for the
    * docs under NO value bitmap — the missing-value group, exactly as a
    * docmeta scan groups a null column. `set` is not modified.
    */
  def valueSlices(set: RoaringBitmap,
      values: Array[(String, RoaringBitmap)]): Array[(String, RoaringBitmap)] = {
    val rest = set.clone()
    val out = Array.newBuilder[(String, RoaringBitmap)]
    values.foreach { case (value, vb) =>
      val slice = RoaringBitmap.and(set, vb)
      rest.andNot(vb)
      if (!slice.isEmpty) out += ((value, slice))
    }
    if (!rest.isEmpty) out += ((null, rest))
    out.result()
  }

  /** Dense-query segment scorer: the [[denseFill]], then each window's
    * sweep offers (doc, score) to ONE bounded heap. For a corpus-blanketing
    * query this is O(postings + touched) with NO per-doc list sorting (the
    * scalar DAAT loop's cost) and NO doc-keyed shuffle — scores never leave
    * the segment task, at any segment width. Exact: same tfNorm terms,
    * quantized tie rule at the heap; `allowed` (fq/kill) intersects the
    * touched set BEFORE the sweep; cursor semantics as in [[scoreSegment]].
    */
  def scoreSegmentDense(
      segId: Long,
      hits: Iterator[SegHit],
      weights: Map[String, Double],
      avgdl: Double,
      candidates: Int,
      cfg: IndexConfig,
      allowed: RoaringBitmap,
      afterScoreQ: Long = Long.MaxValue,
      afterDocId: Long = Long.MinValue): Iterator[Scored] = {
    val heap = new BoundedTopK(candidates)
    denseFill(hits, weights, avgdl, cfg, allowed) { (base, scores, docs) =>
      val bi = docs.getIntIterator
      while (bi.hasNext) {
        val local = bi.next()
        val gid = cfg.globalOf(segId, local)
        val s = scores(local - base)
        if (cursorAccepts(afterScoreQ, afterDocId, gid, s)) heap.offer(gid, s)
      }
    }
    heap.sortedBestFirst.iterator
  }

  /** Every doc of the segment's match set under `allow` (null = every
    * doc) with its exact score: the [[denseFill]], swept whole, with no
    * heap. The scored rows of export and of the docmeta routes of grouping
    * and block join, scored as the dense kernel scores a search.
    */
  def scoreSegmentAll(
      segId: Long,
      hits: Iterator[SegHit],
      allow: RoaringBitmap,
      weights: Map[String, Double],
      avgdl: Double,
      cfg: IndexConfig): Iterator[Scored] = {
    val out = Array.newBuilder[Scored]
    denseFill(hits, weights, avgdl, cfg, allow) { (base, scores, docs) =>
      val bi = docs.getIntIterator
      while (bi.hasNext) { val l = bi.next(); out += Scored(cfg.globalOf(segId, l), scores(l - base)) }
    }
    out.result().iterator
  }

  /** Segment-local grouped top-k (Solr result grouping): the
    * [[denseFill]] under `allow` (fq/kill, null = every doc), then each
    * window's [[valueSlices]] slices sweep into bounded heaps of
    * `groupLimit` — only (value, top-doc) rows, bounded by windows ×
    * values-in-segment × groupLimit, ever leave the segment task (the
    * caller's per-value merge takes a window's rows like a segment's).
    * The null slice is Solr's missing-value group.
    */
  def scoreSegmentGrouped(
      segId: Long,
      hits: Iterator[SegHit],
      valueBms: Array[(String, RoaringBitmap)],
      allow: RoaringBitmap,
      weights: Map[String, Double],
      avgdl: Double,
      groupLimit: Int,
      cfg: IndexConfig): Iterator[(String, Scored)] = {
    val out = Array.newBuilder[(String, Scored)]
    denseFill(hits, weights, avgdl, cfg, allow) { (base, scores, docs) =>
      valueSlices(docs, valueBms).foreach { case (value, slice) =>
        val h = new BoundedTopK(groupLimit)
        val bi = slice.getIntIterator
        while (bi.hasNext) { val l = bi.next(); h.offer(cfg.globalOf(segId, l), scores(l - base)) }
        out ++= h.sortedBestFirst.iterator.map(s => (value, s))
      }
    }
    out.result().iterator
  }

  /** Segment-local per-value score aggregation (the block-join to-parent
    * fold): the [[denseFill]] under `allow`, quantized per doc (children
    * quantize BEFORE aggregation — integer Σ/max are partition-order
    * invariant), then each window's [[valueSlices]] slice folds into
    * (value, Σ score_q, max score_q, n docs) — ONE row per value per
    * window ever leaves the task, vs a full match-set shuffle through a
    * docmeta join. The null slice is the docmeta route's null parent group.
    */
  def scoreSegmentValueAgg(
      segId: Long,
      hits: Iterator[SegHit],
      valueBms: Array[(String, RoaringBitmap)],
      allow: RoaringBitmap,
      weights: Map[String, Double],
      avgdl: Double,
      cfg: IndexConfig): Iterator[(String, Long, Long, Long)] = {
    val out = Array.newBuilder[(String, Long, Long, Long)]
    denseFill(hits, weights, avgdl, cfg, allow) { (base, scores, docs) =>
      valueSlices(docs, valueBms).foreach { case (value, slice) =>
        var sum = 0L
        var max = Long.MinValue
        val bi = slice.getIntIterator
        while (bi.hasNext) {
          val q = math.round(scores(bi.next() - base) * Bm25.Quant)
          sum += q
          if (q > max) max = q
        }
        out += ((value, sum, max, slice.getLongCardinality))
      }
    }
    out.result().iterator
  }

  /** The merge of a single query's candidates: (rank, doc_id, score_q)
    * over [[topKPerQuery]]'s heaps, ranks `drop + 1` to `k` (a page past
    * `drop` ranks). `k` is checked on the driver here and in
    * [[topKPerQuery]], where every search verb ends: a zero-capacity heap
    * would fail inside a task.
    */
  def topK(pass: Engine.Pass, k: Int, drop: Int = 0): DataFrame = {
    val top = heaps(pass, k).get(0L).fold(Array.empty[Scored])(_.sortedBestFirst)
    local(pass, rankedSchema, top.iterator.zipWithIndex.drop(drop).map { case (s, i) =>
      InternalRow((i + 1).toLong, s.docId, s.scoreQ)
    })
  }

  /** Per-query merge for batched search:
    * a pass's (query_id, Scored) rows -> (query_id, rank, doc_id, score_q).
    */
  def topKPerQuery(pass: Engine.Pass, k: Int): DataFrame =
    local(pass, keyedRankedSchema, heaps(pass, k).toSeq.sortBy(_._1).iterator.flatMap { case (qid, h) =>
      h.sortedBestFirst.iterator.zipWithIndex.map { case (s, i) =>
        InternalRow(qid, (i + 1).toLong, s.docId, s.scoreQ)
      }
    })

  /** THE merge of every scoring pass: each task folds its rows into one
    * `k`-bounded heap per query id ([[HeapFold]], fed by the per-segment
    * heaps), and `SparkContext.runJob`'s result handler merges each task's
    * heaps into one driver heap per query as the task finishes — one job
    * and no exchange after the pass's own, and the driver holds at most
    * two heaps per query, bounded by `k`, not by corpus size. The verbs'
    * results are local rows, materialized at call time as a Solr response
    * is. Rank-identical to a bounded-heap aggregate: the heap's (score_q
    * DESC, docId ASC) order is total, so merge order is free.
    */
  private def heaps(pass: Engine.Pass, k: Int): scala.collection.mutable.LongMap[BoundedTopK] = {
    requireRows(k)
    val merged = new QueryHeaps(k)
    val rows = pass.rows
    rows.sparkContext.runJob(rows, new HeapFold(k), rows.partitions.indices,
      (_: Int, h: QueryHeaps) => merged.merge(h))
    merged.byQuery
  }

  /** The merged rows as a local DataFrame of the fixed `schema`, whose
    * `collect`, `collectAsList`, `head`, `take` and `first` return them as
    * they are, with no SQL execution ([[GraftBridge.localDf]]).
    */
  private def local(pass: Engine.Pass, schema: StructType, rows: Iterator[InternalRow]): DataFrame =
    GraftBridge.localDf(pass.plan.sparkSession, schema, rows.toSeq)

  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))
  private val rankedSchema = longs("rank", "doc_id", "score_q")
  private val keyedRankedSchema = longs("query_id", "rank", "doc_id", "score_q")

  private def requireRows(k: Int): Unit =
    require(k >= 1, s"rows (the top-k size) must be >= 1, got $k")
}
