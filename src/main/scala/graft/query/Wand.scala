package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
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

/** Typed bounded-heap top-k Aggregator — Spark runs it as partial
  * aggregation per partition + merge (the treeAggregate shape of the
  * north_rule) via ObjectHashAggregate. For the merges that stay inside
  * a lazy plan (grouped search's per-value and group-rank heaps, the ANN
  * top-k); a scoring pass merges through [[Wand.topK]] instead. `scoredOf`
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
  * segment inside the scan task — a single query is a batch of one,
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

  /** The dense fill shared by the dense-array kernels: every posting of
    * every weighted list folds into ONE primitive score array indexed by
    * segment-local id (width = 2^segShift — the caller guards the shift),
    * touched ids tracked in a bitmap, then intersected with `allow`
    * (null = every doc). None when no query list has postings here.
    */
  private def denseFill(hits: Iterator[SegHit], weights: Map[String, Double],
      avgdl: Double, cfg: IndexConfig,
      allow: RoaringBitmap): Option[(Array[Double], RoaringBitmap)] = {
    var scores: Array[Double] = null // allocated on the first matching list
    val touched = new RoaringBitmap()
    hits.foreach { h =>
      weights.get(h.term).foreach { w =>
        val it = new Codec.Iter(h.postings)
        if (!it.exhausted) {
          if (scores == null) scores = new Array[Double](1 << cfg.segShift)
          var more = true
          while (more) {
            val local = it.curLocal
            scores(local) += w * Bm25.tfNorm(it.curTf.toDouble, it.curDl.toDouble, avgdl)
            touched.add(local)
            more = it.next()
          }
        }
      }
    }
    if (scores == null) None
    else {
      if (allow != null) touched.and(allow)
      Some((scores, touched))
    }
  }

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

  /** Dense-query segment scorer: the [[denseFill]], then one sweep offers
    * (doc, score) to the bounded heap. For a corpus-blanketing query this
    * is O(postings + touched) with NO per-doc list sorting (the scalar
    * DAAT loop's cost) and NO doc-keyed shuffle (the columnar hash-agg
    * plan's cost) — scores never leave the segment task. Exact: same
    * tfNorm terms, quantized tie rule at the heap; `allowed` (fq/kill)
    * intersects the touched set BEFORE the sweep; cursor semantics as in
    * [[scoreSegment]].
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
      afterDocId: Long = Long.MinValue): Iterator[Scored] =
    denseFill(hits, weights, avgdl, cfg, allowed) match {
      case None => Iterator.empty
      case Some((scores, touched)) =>
        val heap = new BoundedTopK(candidates)
        val bi = touched.getIntIterator
        while (bi.hasNext) {
          val local = bi.next()
          val gid = cfg.globalOf(segId, local)
          val s = scores(local)
          if (cursorAccepts(afterScoreQ, afterDocId, gid, s)) heap.offer(gid, s)
        }
        heap.sortedBestFirst.iterator
    }

  /** Segment-local grouped top-k (Solr result grouping): the
    * [[denseFill]] under `allow` (fq/kill, null = every doc), then each
    * [[valueSlices]] slice sweeps into a bounded heap of `groupLimit` —
    * only (value, top-doc) rows, bounded by values-in-segment ×
    * groupLimit, ever leave the segment task. The null slice is Solr's
    * missing-value group.
    */
  def scoreSegmentGrouped(
      segId: Long,
      hits: Iterator[SegHit],
      valueBms: Array[(String, RoaringBitmap)],
      allow: RoaringBitmap,
      weights: Map[String, Double],
      avgdl: Double,
      groupLimit: Int,
      cfg: IndexConfig): Iterator[(String, Scored)] =
    denseFill(hits, weights, avgdl, cfg, allow) match {
      case None => Iterator.empty
      case Some((scores, touched)) =>
        valueSlices(touched, valueBms).iterator.flatMap { case (value, slice) =>
          val h = new BoundedTopK(groupLimit)
          val bi = slice.getIntIterator
          while (bi.hasNext) { val l = bi.next(); h.offer(cfg.globalOf(segId, l), scores(l)) }
          h.sortedBestFirst.iterator.map(s => (value, s))
        }
    }

  /** Segment-local per-value score aggregation (the block-join to-parent
    * fold): the [[denseFill]] under `allow`, quantized per doc (children
    * quantize BEFORE aggregation — integer Σ/max are partition-order
    * invariant), then each [[valueSlices]] slice folds into (value,
    * Σ score_q, max score_q, n docs) — ONE row per value per segment
    * ever leaves the task, vs a full match-set shuffle through a docmeta
    * join. The null slice is the docmeta route's null parent group.
    */
  def scoreSegmentValueAgg(
      segId: Long,
      hits: Iterator[SegHit],
      valueBms: Array[(String, RoaringBitmap)],
      allow: RoaringBitmap,
      weights: Map[String, Double],
      avgdl: Double,
      cfg: IndexConfig): Iterator[(String, Long, Long, Long)] =
    denseFill(hits, weights, avgdl, cfg, allow) match {
      case None => Iterator.empty
      case Some((scores, touched)) =>
        valueSlices(touched, valueBms).iterator.map { case (value, slice) =>
          var sum = 0L
          var max = Long.MinValue
          val bi = slice.getIntIterator
          while (bi.hasNext) {
            val q = math.round(scores(bi.next()) * Bm25.Quant)
            sum += q
            if (q > max) max = q
          }
          (value, sum, max, slice.getLongCardinality)
        }
    }

  /** The merge of a single query's candidates: (rank, doc_id, score_q)
    * over [[topKPerQuery]]'s heaps, with `scoredOf` projecting a row to
    * its [[Scored]] (a scoring pass's `(query_id, Scored)` rows take
    * `_._2`). `k` is checked on the driver here and in [[topKPerQuery]],
    * where every search verb ends: a zero-capacity heap would fail inside
    * a task.
    */
  def topK[T](scored: Dataset[T], k: Int)(scoredOf: T => Scored): DataFrame = {
    val top = heaps(scored, k)(_ => 0L, scoredOf).get(0L).fold(Array.empty[Scored])(_.sortedBestFirst)
    scored.sparkSession.createDataset(top.toSeq.zipWithIndex.map { case (s, i) =>
      ((i + 1).toLong, s.docId, s.scoreQ)
    })(rankedEnc).toDF("rank", "doc_id", "score_q")
  }

  /** Per-query merge for batched search:
    * Dataset[(query_id, Scored)] -> (query_id, rank, doc_id, score_q).
    */
  def topKPerQuery(scored: Dataset[(Long, Scored)], k: Int): DataFrame = {
    val byQuery = heaps(scored, k)(_._1, _._2)
    scored.sparkSession.createDataset(byQuery.toSeq.sortBy(_._1).flatMap { case (qid, h) =>
      h.sortedBestFirst.toSeq.zipWithIndex.map { case (s, i) => (qid, (i + 1).toLong, s.docId, s.scoreQ) }
    })(keyedRankedEnc).toDF("query_id", "rank", "doc_id", "score_q")
  }

  /** THE merge of every scoring pass: each task folds its rows into one
    * `k`-bounded heap per query id (fed by the per-segment heaps), and
    * `RDD.aggregate` merges the tasks' heaps on the driver as they finish
    * — one job and no exchange after the pass's own, and the driver holds
    * at most two heaps per query, bounded by `k`, not by corpus size. The
    * verbs' results are local rows, materialized at call time as a Solr
    * response is. Rank-identical to a bounded-heap aggregate: the heap's
    * (score_q DESC, docId ASC) order is total, so merge order is free.
    */
  private def heaps[T](scored: Dataset[T], k: Int)(qidOf: T => Long,
      scoredOf: T => Scored): scala.collection.mutable.LongMap[BoundedTopK] = {
    requireRows(k)
    scored.rdd.aggregate(new QueryHeaps(k))((h, x) => h.offer(qidOf(x), scoredOf(x)), _ merge _).byQuery
  }

  // the merged rows' encoders, derived once: deriving one reflects over
  // its type, a share of every query's plan time
  private val rankedEnc: Encoder[(Long, Long, Long)] = Encoders.product[(Long, Long, Long)]
  private val keyedRankedEnc: Encoder[(Long, Long, Long, Long)] =
    Encoders.product[(Long, Long, Long, Long)]

  private def requireRows(k: Int): Unit =
    require(k >= 1, s"rows (the top-k size) must be >= 1, got $k")
}
