package graft.query

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.roaringbitmap.RoaringBitmap
import graft.index.{Bitmaps, Codec, IndexBuild, IndexConfig, TermHash, WholeFileParquet}
import graft.corpus.Corpus

/** Read-side view of a built index (segments + docmeta + manifest). Only
  * manifest-committed ranges are visible — a crashed build's partial range
  * directories are invisible until their manifest row lands (lineage gate).
  */
final class Index(val spark: SparkSession, val indexDir: String,
                  /** vocabulary-size cap for the driver-resident term→df
                    * map; above it [[dfOf]] serves misses from a
                    * term_id-pruned scan of the cached dictionary table.
                    * Parameterized so the over-cap route (the path a 100×
                    * vocabulary actually takes) is driver-gated at test
                    * vocabulary sizes (VERDICT r04 next #3). */
                  val dictDriverMax: Long = Index.DictDriverMaxDefault) {
  import spark.implicits._

  /** Live unit ids (build ranges + compacted units, retired ones shadowed).
    * One globStatus listing + one manifest read per Index init — never a
    * per-range filesystem probe (VERDICT r02 next #9).
    */
  lazy val ranges: Seq[Long] =
    IndexBuild.liveUnits(spark, indexDir).sorted

  lazy val manifest: DataFrame = {
    require(ranges.nonEmpty, s"no committed ranges under $indexDir")
    spark.read
      .option("basePath", IndexBuild.manifestDir(indexDir))
      .parquet(ranges.map(r => s"${IndexBuild.manifestDir(indexDir)}/range=$r"): _*)
  }

  lazy val cfg: IndexConfig = {
    val (s, rs) = manifest.select("seg_shift", "range_segs_shift").as[(Int, Int)].head()
    IndexConfig(segShift = s, rangeSegsShift = rs)
  }

  /** (N, avgdl): pure sums over per-range manifest rows — no global build
    * pass exists anywhere (SURVEY.md O4; stats are associative).
    *
    * Lucene-faithful staleness contract: docs tombstoned by an upsert /
    * delete still count here (and in per-term dfs) until a compaction
    * physically reclaims them — exactly how Lucene's deleted docs keep
    * contributing to docFreq/norms until segment merge. Pinned in
    * UpsertSpec; the q_upsert oracle mirrors it (stats over ALL versions,
    * results over live docs only).
    */
  lazy val stats: (Long, Double) = {
    // the layout check rides the same aggregation: a unit written before
    // the current layout (missing/null/older codec_ver) fails the index
    val ver =
      if (manifest.columns.contains("codec_ver")) coalesce(col("codec_ver"), lit(0))
      else lit(0)
    val (n, sdl, minVer) = manifest
      .agg(sum("n_docs").cast("long"), sum("sum_dl").cast("long"), min(ver).cast("int"))
      .as[(Long, Long, Int)].head()
    if (minVer < IndexBuild.CodecVer)
      throw new IllegalStateException(s"index $indexDir holds a unit with " +
        (if (minVer == 0) "no codec_ver" else s"codec_ver $minVer") +
        s", but only codec_ver ${IndexBuild.CodecVer} is readable: rebuild the index")
    (n, if (n == 0) 1.0 else sdl.toDouble / n.toDouble)
  }

  /** Postings rows of every live unit, read through [[WholeFileParquet]]:
    * a segment lives in exactly one file and a file in exactly one scan
    * partition, so each scan task holds whole segments and the query pass
    * scores them in place (no exchange keyed on seg_id).
    */
  lazy val segments: DataFrame = spark.read
    .format(classOf[WholeFileParquet].getName)
    .option("basePath", IndexBuild.segmentsDir(indexDir))
    .load(ranges.map(r => s"${IndexBuild.segmentsDir(indexDir)}/range=$r"): _*)

  /** Persisted per-segment fq bitmaps (seg_id, fcol, value, bitmap) in
    * every live unit? Absent when the index was built with
    * `filterColumns = Nil`. ONE globStatus listing, not a per-range probe.
    */
  lazy val hasFilters: Boolean = {
    val present = IndexBuild.unitsIn(spark, IndexBuild.filtersDir(indexDir))
    ranges.nonEmpty && ranges.forall(present.contains)
  }

  lazy val filters: DataFrame = spark.read
    .option("basePath", IndexBuild.filtersDir(indexDir))
    .parquet(ranges.map(r => s"${IndexBuild.filtersDir(indexDir)}/range=$r"): _*)

  /** Columns covered by the filter side-index. */
  lazy val filterCols: Set[String] =
    if (!hasFilters) Set.empty
    else filters.select(col("fcol")).distinct().as[String].collect().toSet

  /** Filter columns covered in EVERY live unit that holds docs — the set
    * fq and facet may be served from bitmaps ALONE. A column added to
    * `filterColumns` after some units were built is in [[filterCols]] but
    * NOT here: serving fq or facet counts for it from bitmaps would
    * silently drop/zero the uncovered units' docs (a segment with no
    * bitmap row contributes nothing), so such columns route through the
    * docmeta predicate/scan paths instead. Doc-free units (delete
    * markers) are exempt.
    */
  lazy val filterColsComplete: Set[String] =
    if (!hasFilters) Set.empty
    else {
      val docUnits = manifest.where(col("n_docs") > 0)
        .select(col("range_id").cast("long")).as[Long].collect().toSet
      if (docUnits.isEmpty) filterCols
      else {
        val byCol = filters
          .select(col("fcol"), col("range").cast("long")).distinct()
          .as[(String, Long)].collect()
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        filterCols.filter(c => docUnits.subsetOf(byCol.getOrElse(c, Set.empty)))
      }
    }

  /** Live units carrying a tombstone side-file (Solr-update kills) — ONE
    * globStatus listing, same contract as [[hasFilters]].
    */
  lazy val tombstoneRanges: Seq[Long] =
    ranges.filter(IndexBuild.tombstoneUnits(spark, indexDir).contains)

  lazy val hasTombstones: Boolean = tombstoneRanges.nonEmpty

  /** (seg_id, bitmap) kill bitmaps across live units; a segment may appear
    * once per killing unit — consumers OR them.
    */
  lazy val killBitmaps: DataFrame = spark.read
    .option("basePath", IndexBuild.tombstonesDir(indexDir))
    .parquet(tombstoneRanges.map(r =>
      s"${IndexBuild.tombstonesDir(indexDir)}/range=$r"): _*)
    .select(col("seg_id"), col("bitmap"))

  /** Kill bitmaps as a typed dataset, None when the index is tombstone-free
    * (the common case — callers keep their exact pre-upsert plans).
    */
  def killBitmapsOpt: Option[org.apache.spark.sql.Dataset[(Long, Array[Byte])]] =
    if (hasTombstones) Some(killBitmaps.as[(Long, Array[Byte])]) else None

  /** Distinct killed global doc_ids (scan-path / docmeta exclusion side). */
  lazy val killedDocIds: DataFrame = {
    val c = cfg
    killBitmaps.as[(Long, Array[Byte])]
      .flatMap { case (seg, bytes) =>
        graft.index.Bitmaps.deserialize(bytes).toArray.iterator
          .map(c.globalOf(seg, _))
      }
      .distinct().toDF("doc_id")
  }

  /** Doc metadata of LIVE docs only: Solr-update tombstones are excluded
    * here, so every docmeta consumer (point lookup, random sample, fq
    * predicates, field projection) sees post-update reality. Tombstone-free
    * indexes (the common case) skip the anti-join entirely.
    */
  lazy val docmeta: DataFrame = {
    val raw = spark.read
      .option("basePath", IndexBuild.docmetaDir(indexDir))
      .parquet(ranges.map(r => s"${IndexBuild.docmetaDir(indexDir)}/range=$r"): _*)
    if (hasTombstones) raw.join(killedDocIds, Seq("doc_id"), "left_anti") else raw
  }

  /** Cached term dictionary (term, term_id, df) — the query-time analog of
    * the reference's HashTermStatistics singleton
    * (HashTermStatistics.java:16-27 / SURVEY.md O4), which walks Lucene's
    * PERSISTED terms dictionary once per field instead of re-deriving it.
    *
    * It sums the per-unit dictionary store rows (vocab × live units — a
    * build/compaction artifact, exactly like the manifest stats; VERDICT
    * r03 "What's wrong" #3). Engine init therefore performs NO aggregation
    * over the segment table (pinned by IndexSpec's counting FS: no
    * segments/ file is ever opened for df resolution). Global df =
    * Σ per-unit df (associative, tombstone-stale by design — Lucene's
    * deleted-docs df semantics; refreshed at compaction like every stat).
    */
  lazy val dictionary: DataFrame = spark.read
    .option("basePath", IndexBuild.dictionaryDir(indexDir))
    .parquet(ranges.map(r => s"${IndexBuild.dictionaryDir(indexDir)}/range=$r"): _*)
    .groupBy(col("term"), col("term_id"))
    .agg(sum("df").cast("long").as("df"))
    .cache()

  /** Per-unit reversed-term rows (rterm, term, df) — deliberately NOT
    * pre-aggregated or cached: a reversed-routed wildcard filters by rterm
    * prefix FIRST (parquet StringStartsWith pushdown against the
    * rterm-sorted row groups — [[IndexBuild]].writeDictionary), then sums
    * df over only the matching rows. Caching a second vocabulary-sized
    * table would defeat the point at 100× vocab.
    */
  def rdictStore: DataFrame = spark.read
    .option("basePath", IndexBuild.rdictionaryDir(indexDir))
    .parquet(ranges.map(r => s"${IndexBuild.rdictionaryDir(indexDir)}/range=$r"): _*)

  /** Driver-resident dictionary map when the vocabulary is small enough —
    * the reference's HashTermStatistics in-memory term→df map verbatim.
    * Above the threshold, per-query df lookups fall back to a filtered
    * (term_id-pruned) scan of the cached dictionary table.
    */
  private lazy val dictMap: Option[Map[String, Long]] = {
    val n = dictionary.count()
    if (n <= dictDriverMax)
      Some(dictionary.select(col("term"), col("df")).as[(String, Long)].collect().toMap)
    else None
  }

  /** True when df lookups run the over-cap distributed route (no driver
    * map) — exposed so the driver gate can pin the route, not just the
    * (route-invariant) results.
    */
  def dfViaScan: Boolean = dictMap.isEmpty

  /** The driver-resident (term → df) map, when the vocabulary is under
    * [[dictDriverMax]] — multi-term rewrites enumerate it in memory
    * instead of running a Spark job per clause (see
    * [[Engine.DriverExpandMaxVocab]]).
    */
  private[query] def driverTerms: Option[Map[String, Long]] = dictMap

  /** Per-unit (gram, term) trigram rows — deliberately NOT cached: a fuzzy
    * expansion filters by the query's grams FIRST (parquet In pushdown
    * against the gram-sorted row groups — [[IndexBuild]].writeDictionary),
    * reading only those row groups; caching a third vocabulary-sized table
    * would defeat the point at 100× vocab (the rdict rationale).
    */
  def ngramStore: DataFrame = spark.read
    .option("basePath", IndexBuild.ngramsDir(indexDir))
    .parquet(ranges.map(r => s"${IndexBuild.ngramsDir(indexDir)}/range=$r"): _*)

  /** Rows of `terms` in `from` (the segments, or the dictionary): the
    * term_id pushdown plus the term-string hash-collision guard, projected
    * to the caller's own `cols` (only those columns are read). Both are
    * `InSet`s, which parquet receives as the same `In` pushdown: an `In`
    * inlines its long literals into the generated scan code, so every
    * new query compiled its own stage (~40 ms a query at perfbench
    * scale); an `InSet` reads its values as a reference, so queries with
    * the same term count share one compiled stage.
    */
  private[graft] def termRows(terms: Seq[String], from: DataFrame = segments)(
      cols: Column*): DataFrame = {
    def inSet(c: String, values: Seq[Any]): Column =
      GraftBridge.column(InSet(GraftBridge.expression(col(c)), values.toSet))
    from.where(inSet("term_id", terms.map(TermHash.hash)) &&
        inSet("term", terms.map(UTF8String.fromString)))
      .select(cols: _*)
  }

  /** Global df per query term (term string checked: hash-collision guard). */
  def dfOf(terms: Seq[String]): Map[String, Long] = dictMap match {
    case Some(m) => terms.iterator.flatMap(t => m.get(t).map(t -> _)).toMap
    case None =>
      termRows(terms, dictionary)(col("term"), col("df")).as[(String, Long)].collect().toMap
  }
}

object Index {
  /** 2M terms ≈ tens of MB driver-side — comfortably resident; a 100×
    * source-code vocabulary exceeds it and takes the distributed route.
    */
  val DictDriverMaxDefault = 2000000L
}

/** One side partition's bitmap rows of one segment ([[Engine]]'s
  * per-segment filter path): parallel arrays of tag (0 = allow, 1 = kill,
  * 2 + i = the i-th value field), value and serialized bitmap. `part` is
  * the side partition, so a task that meets the same segment's side rows
  * once per hit keeps each partition's rows once.
  */
private[query] final case class SegSide(seg_id: Long, part: Int, tags: Array[Int],
                                        values: Array[String], bitmaps: Array[Array[Byte]])

/** Query facade — the reference's request-handler verbs re-expressed
  * (SURVEY.md §2.11): searchByTerms / searchByContent / searchById /
  * randomDocs, plus the df-ordered accuracy pruning (T1/T2) and the
  * accuracy≥0.9 degenerate full-scan switch (O2).
  */
final class Engine(val index: Index) {
  import index.spark
  import spark.implicits._
  // the scoring pass's row encoders, derived once per engine: deriving a
  // product encoder reflects over its type, a share of every plan's time
  private implicit val scoredEnc: Encoder[Scored] = Encoders.product[Scored]
  private implicit val keyedEnc: Encoder[(Long, Scored)] = Encoders.product[(Long, Scored)]
  private implicit val segHitEnc: Encoder[SegHit] = Encoders.product[SegHit]
  private implicit val sideRowEnc: Encoder[(Long, Int, String, Array[Byte])] =
    Encoders.product[(Long, Int, String, Array[Byte])]
  private implicit val segSideEnc: Encoder[SegSide] = Encoders.product[SegSide]

  /** T1/T2 pruning, mirrored 1:1 in the SQL oracle (Oracle.pruneSql):
    *   sorted   = query terms by (df asc, term asc)   — rarest-first
    *   nonzero  = sorted minus df==0 terms
    *   base     = nonzero if |nonzero| >= 3 else first 3 of sorted
    *   kept     = first max(3, floor(n·accuracy)) of base
    * (reference: LireRequestHandler.java:697-740 — df-asc ordering, drop
    * df==0 keeping >=3, budget = numHashes·accuracy clamped >=3)
    */
  def prune(terms: Seq[(String, Double)], accuracy: Double): Seq[(String, Double, Long)] = {
    val dfs = index.dfOf(terms.map(_._1).distinct)
    val withDf = terms.map { case (t, b) => (t, b, dfs.getOrElse(t, 0L)) }
    val sorted = withDf.sortBy { case (t, _, df) => (df, t) }
    val nonzero = sorted.filter(_._3 > 0)
    val base = if (nonzero.size >= 3) nonzero else sorted.take(3)
    val budget = math.max(3, math.floor(terms.size * accuracy).toInt)
    base.take(budget)
  }

  /** Instance copy of [[Engine.PhraseBroadcastMaxCand]] — a test knob so
    * PlanSpec can force the phrase graft's fail-open (non-broadcast) join
    * at test scale and pin its exchange shape (VERDICT r05 next #9);
    * production engines never change it.
    */
  private[graft] var phraseBroadcastMax: Long = Engine.PhraseBroadcastMaxCand

  /** Dense-query threshold: when the DOMINANT-WEIGHT terms' Σdf/N exceeds
    * this, the query blankets the corpus (every code file contains
    * "license"), WAND upper bounds never prune, and the scalar DAAT loop
    * degenerates to an exhaustive per-posting walk with insertion sorts.
    * The dense-array kernel ([[Wand.scoreSegmentDense]]) wins there: one
    * primitive score array per segment, no per-doc list handling
    * ([[specOf]] picks it, or the columnar plan on wide segments).
    *
    * "Dominant" matters (round-2 regression, VERDICT r02 "What's wrong"
    * #1): a hot+rare mix (selective identifier + ubiquitous header terms —
    * the most common real query shape) has Σdf/N ≫ 1 from the hot terms
    * alone, yet WAND prunes it extremely well because the rare terms' high
    * idf sets a threshold the hot lists' upper bounds can't reach. Density
    * is therefore measured only over terms whose weight (boost·idf) is
    * within [[DominantWeightFraction]] of the max weight: if the terms
    * that can actually establish/beat the threshold are themselves
    * corpus-wide, nothing prunes and the scan wins; if any prunable rare
    * mass dominates, DAAT keeps the query. (SURVEY.md O2 second half;
    * reference analog: the accuracy≥0.9 MatchAllDocsQuery switch,
    * LireRequestHandler.java:218-221 — a degenerate switch, not a default.)
    */
  val HotScanFraction = 0.5
  val DominantWeightFraction = 0.5

  /** Global doc id from exploded-posting (seg_id, local) columns — the ONE
    * definition of the packing (IndexConfig.globalOf as a Column); every
    * exploded-postings plan ([[scanScoreBase]], [[columnarPass]]) must
    * use it.
    */
  private def packedDocId(seg: Column, local: Column): Column =
    shiftleft(seg, index.cfg.segShift).bitwiseOR(local.cast("long"))

  /** Query terms surviving the accuracy rule, with dfs (ONE definition —
    * searchByTerms and the [[routesDense]] probe must never diverge).
    */
  private def keptTerms(terms: Seq[(String, Double)],
                        accuracy: Double): Seq[(String, Double, Long)] =
    if (accuracy >= 0.9) { // degenerate plan: no pruning, exhaustive scoring
      val dfs = index.dfOf(terms.map(_._1).distinct)
      terms.map { case (t, b) => (t, b, dfs.getOrElse(t, 0L)) }.filter(_._3 > 0)
    } else prune(terms, accuracy)

  /** weight(term) = Σ boost·idf over duplicate query terms (OR-clause). */
  private def weightsOf(kept: Seq[(String, Double, Long)], n: Long): Map[String, Double] =
    kept.groupBy(_._1).map { case (t, g) =>
      t -> g.map(x => x._2 * Bm25.idf(x._3.toDouble, n.toDouble)).sum
    }

  /** THE routing decision searchByTerms will take for these arguments —
    * exposed so route pins test the decision itself (the executed dense
    * and WAND plans are both segment-local passes and not distinguishable by
    * plan text). Same spec as searchByTerms ([[termSpec]]): cannot diverge.
    */
  private[graft] def routesDense(terms: Seq[(String, Double)], rows: Int = 60,
                                 accuracy: Double = 1.0,
                                 candidates: Int = 10000): Boolean =
    termSpec(terms, rows, accuracy, candidates).exists(_.route != Engine.Route.Daat)

  /** Above this segment shift the dense-array scorer's per-task score
    * array (2^shift doubles, 32 MB at 22) stops being free — wider
    * geometries fall back to the columnar scan-score plan.
    */
  val DenseArraySegShiftMax = 22

  /** Whether this index's segments are narrow enough for a segment-local
    * score array ([[DenseArraySegShiftMax]]) — the ONE place the shift
    * guard is written.
    */
  private def denseArrayFits: Boolean = index.cfg.segShift <= DenseArraySegShiftMax

  /** One query's [[Engine.QuerySpec]] from its kept (term, boost, df)
    * triples, with THE route rule — one definition, so single and batched
    * routing can never diverge (the round-2 regression came from a routing
    * rule applied to the wrong term set). A dense query
    * ([[HotScanFraction]], and `candidates` not below `rows`) scores on
    * the dense-array kernel while [[denseArrayFits]], on the columnar plan
    * above it; every other query takes per-segment DAAT.
    */
  private def specOf(qid: Long, kept: Seq[(String, Double, Long)], n: Long,
                     rows: Int, candidates: Int, useWand: Boolean): Engine.QuerySpec = {
    val weights = weightsOf(kept, n)
    val dfs = kept.iterator.map { case (t, _, df) => t -> df }.toMap
    val dense = weights.nonEmpty && candidates >= rows && n > 0 && {
      val maxW = weights.values.max
      val domDf = weights.iterator
        .filter { case (_, w) => w >= DominantWeightFraction * maxW }
        .map { case (t, _) => dfs(t) }.sum
      domDf.toDouble / n.toDouble >= HotScanFraction
    }
    Engine.QuerySpec(qid, weights,
      if (!dense) Engine.Route.Daat
      else if (denseArrayFits) Engine.Route.DenseArray
      else Engine.Route.Columnar, useWand)
  }

  /** The spec [[searchByTerms]] scores (None: no corpus-present term). */
  private def termSpec(terms: Seq[(String, Double)], rows: Int, accuracy: Double,
                       candidates: Int): Option[Engine.QuerySpec] = {
    val kept = keptTerms(terms, accuracy)
    if (kept.isEmpty) None
    else Some(specOf(0L, kept, index.stats._1, rows, candidates, useWand = accuracy < 0.9))
  }

  /** Segment hit rows of `terms` in the [[SegHit]] projection. */
  private def segHits(terms: Seq[String]): Dataset[SegHit] =
    index.termRows(terms)(
      Seq("seg_id", "term", "df", "max_tf", "min_dl", "postings").map(col): _*).as[SegHit]

  /** THE per-segment filter path — liresolr's collector-side filtering
    * (each fq an accepted-docs set intersecting every scorer, deleted docs
    * liveDocs tombstones applied the same way; SURVEY P2). Every segment
    * that has hits reaches `kernel` as `(seg, hits, allow, values)`:
    *   - `allow`: the ONE resolved local-id bitmap, null = every doc.
    *     allow = OR(fq) ANDNOT OR(kill); with kills only, allow =
    *     ¬OR(kill) over the segment's local-id capacity; with neither,
    *     null. A docmeta predicate (`docPred`) resolves to the segment's
    *     matching docs instead — kill-free by construction, as
    *     [[Index.docmeta]] excludes tombstoned docs.
    *   - `values`: per `valueFields` entry, the segment's (value, bitmap)
    *     rows from the filter side-index.
    * A segment drops when a covered fq has no bitmap row there (no doc
    * carries the value), when its allow set is empty, and when it has no
    * hits.
    *
    * The kernel runs in the task that holds the hits: `hits` (a scan of
    * [[Index.segments]] with its `seg_id` column; `segOf` reads it back)
    * keeps every segment whole in one scan partition, and each task
    * groups its rows by segment — no exchange keyed on seg_id. Side rows
    * (fq, kill and value bitmaps; the predicate's matching docs, packed
    * per side partition into per-segment bitmaps) are packed into one
    * [[SegSide]] per segment and side partition and join the hits on
    * seg_id with no strategy hint: a small side broadcasts and the hits
    * stay in their scan partitions; a large one makes Spark shuffle both
    * sides by seg_id, which keeps whole segments per partition too (AQE's
    * skew-join split divides a partition by map task, and a segment's
    * hits all come from the one scan task that read its file). The
    * join pairs each hit with each of its segment's side rows; the
    * grouping keeps one copy of each. A pass with no side input (no fq,
    * predicate, kills or values) reads no side store at all. `fq` and
    * `docPred` are alternatives ([[fqSplit]] never sets both).
    */
  private def perSegment[H, R: Encoder](hits: Dataset[H],
      fq: Option[(String, String)] = None, docPred: Option[Column] = None,
      valueFields: Seq[String] = Nil)(segOf: H => Long)(
      kernel: (Long, Iterator[H], RoaringBitmap, Array[Array[(String, RoaringBitmap)]]) => Iterator[R]
  ): Dataset[R] = {
    require(docPred.isEmpty || (fq.isEmpty && valueFields.isEmpty),
      "a docmeta predicate is a pass's only side input")
    val cfg = index.cfg
    // side rows (seg_id, tag, value, bitmap): 0 = allow (fq bitmap or the
    // predicate's matching docs), 1 = kill, 2 + i = valueFields(i)
    def tagged(rows: DataFrame, tag: Int, value: Column): Dataset[(Long, Int, String, Array[Byte])] =
      rows.select(col("seg_id"), lit(tag).as("tag"), value.as("value"), col("bitmap"))
        .as[(Long, Int, String, Array[Byte])]
    val noValue = lit(null).cast("string")
    val sideRows =
      fq.toSeq.map { case (c, v) =>
        tagged(index.filters.where(col("fcol") === lit(c) && col("value") === lit(v)), 0, noValue)
      } ++
      docPred.toSeq.map { pred =>
        index.docmeta.where(pred).select(col("doc_id")).as[Long].mapPartitions { ids =>
          val bySeg = scala.collection.mutable.LongMap.empty[RoaringBitmap]
          ids.foreach(d => bySeg.getOrElseUpdate(cfg.segOf(d), new RoaringBitmap()).add(cfg.localOf(d)))
          bySeg.iterator.map { case (seg, bm) => (seg, 0, null: String, Bitmaps.serialize(bm)) }
        }
      } ++
      (if (docPred.isDefined) Nil
       else index.killBitmapsOpt.toSeq.map(k => tagged(k.toDF("seg_id", "bitmap"), 1, noValue))) ++
      valueFields.zipWithIndex.map { case (f, i) =>
        tagged(index.filters.where(col("fcol") === lit(f)), 2 + i, col("value"))
      }
    val hasAllow = fq.isDefined || docPred.isDefined
    val nFields = valueFields.length
    val segShift = cfg.segShift
    def scoreSegments(rows: Iterator[(H, SegSide)]): Iterator[R] =
      Engine.groupBySegment(rows, segOf).flatMap { case (seg, segHits, sides) =>
        def rowsOf(tag: Int): Array[(String, Array[Byte])] = sides.flatMap { s =>
          s.tags.indices.iterator.filter(s.tags(_) == tag).map(i => (s.values(i), s.bitmaps(i)))
        }
        val allowBs = rowsOf(0).map(_._2)
        if (hasAllow && allowBs.isEmpty) Iterator.empty
        else {
          val killBs = rowsOf(1).map(_._2)
          val allow =
            if (allowBs.isEmpty) Engine.flipAllow(killBs.toSeq, segShift)
            else {
              val a = Engine.orAll(allowBs)
              if (killBs.nonEmpty) a.andNot(Engine.orAll(killBs))
              a
            }
          if (allow != null && allow.isEmpty) Iterator.empty
          else kernel(seg, segHits.iterator, allow, Array.tabulate(nFields)(i =>
            rowsOf(2 + i).map { case (v, b) => (v, Bitmaps.deserialize(b)) }))
        }
      }
    if (sideRows.isEmpty) hits.mapPartitions(it => scoreSegments(it.map(h => (h, null))))
    else {
      val side = sideRows.reduce(_ unionAll _).mapPartitions { rows =>
        val part = org.apache.spark.TaskContext.getPartitionId()
        rows.toArray.groupBy(_._1).iterator.map { case (seg, rs) =>
          SegSide(seg, part, rs.map(_._2), rs.map(_._3), rs.map(_._4))
        }
      }
      hits.joinWith(side, hits("seg_id") === side("seg_id"), "left_outer")
        .mapPartitions(scoreSegments)
    }
  }

  /** Split the caller's doc filters into (bitmap-served fq, predicate).
    * An equality fq on a filter-indexed column takes the persisted
    * per-segment bitmap path (no docmeta scan) — but ONLY when it is the
    * sole filter (a docFilter combined with an arbitrary docPred routes
    * through the predicate path with both conditions ANDed — the bitmap
    * path would silently drop the predicate otherwise) and the column's
    * bitmaps cover EVERY doc-holding unit (a partially-covered column —
    * added to filterColumns after some units were built — would silently
    * drop the uncovered units' matches: a segment with no fq bitmap row
    * scores nothing).
    */
  private def fqSplit(docPred: Option[Column],
      docFilter: Option[(String, String)]): (Option[(String, String)], Option[Column]) =
    docFilter match {
      case Some((c, _)) if docPred.isEmpty && index.filterColsComplete.contains(c) =>
        (docFilter, None)
      case Some((c, v)) =>
        (None, Some(docPred.map(_ && col(c) === lit(v)).getOrElse(col(c) === lit(v))))
      case None => (None, docPred)
    }

  /** Primary programmatic API (reference `hashes` verb, SURVEY.md §3.2).
    * Returns (rank, doc_id, score_q), k=`rows`, as local rows: the query
    * runs at call time, one Spark job without a doc filter
    * ([[Wand.topK]]).
    *
    * A batch of one through [[scorePass]] on its [[specOf]] route:
    * rare/mixed terms -> per-segment DAAT (block-max WAND when `accuracy`
    * < 0.9); dense queries -> the segment-local dense-array scorer
    * (columnar fallback above [[DenseArraySegShiftMax]]). All routes are
    * exact; rank-identity across the switch is pinned in IndexSpec
    * (including the hot+rare mix, which must stay on WAND).
    */
  def searchByTerms(
      terms: Seq[(String, Double)],
      rows: Int = 60,
      accuracy: Double = 1.0,
      candidates: Int = 10000,
      docPred: Option[Column] = None,
      docFilter: Option[(String, String)] = None,
      after: Option[(Long, Long)] = None): DataFrame =
    Wand.topK(termsPass(terms, rows, accuracy, candidates, docPred, docFilter, after), rows)(_._2)

  /** [[searchByTerms]]'s scoring pass before the merge: the plan its
    * (local) result no longer shows, pinned in PlanSpec.
    */
  private[graft] def termsPass(
      terms: Seq[(String, Double)],
      rows: Int = 60,
      accuracy: Double = 1.0,
      candidates: Int = 10000,
      docPred: Option[Column] = None,
      docFilter: Option[(String, String)] = None,
      after: Option[(Long, Long)] = None): Dataset[(Long, Scored)] = {
    val (bitmapFq, pred) = fqSplit(docPred, docFilter)
    val spec = termSpec(terms, rows, accuracy, candidates)
      .map(s => after.fold(s)(a => s.copy(after = a)))
    scorePass(spec.toSeq, rows, candidates, bitmapFq, pred)
  }

  /** Search-after cursor paging (Solr cursorMark semantics — the deep-page
    * answer [[searchPage]]'s own scaladoc points at): return the top-`rows`
    * docs STRICTLY AFTER `(afterScoreQ, afterDocId)` in the total order
    * (score_q DESC, doc_id ASC). Unlike start/rows, the per-segment heap
    * stays `rows` deep at ANY page depth — an export-style walk of 10⁶
    * ranks costs 10⁶/rows pages of constant memory, not one
    * start+rows-sized heap. Walking pages by cursor reproduces the full
    * ranking exactly (pinned in IndexSpec); ranks are page-relative
    * (1..rows), as with Solr's cursorMark.
    */
  def searchAfter(terms: Seq[(String, Double)], afterScoreQ: Long,
                  afterDocId: Long, rows: Int = 60, accuracy: Double = 1.0,
                  candidates: Int = 10000,
                  docPred: Option[Column] = None,
                  docFilter: Option[(String, String)] = None): DataFrame =
    searchByTerms(terms, rows, accuracy, candidates, docPred, docFilter,
      after = Some((afterScoreQ, afterDocId)))

  /** Doc ids containing ALL `terms` (Lucene's ConjunctionDISI) — the
    * phrase-query phase-1 candidate generator. Per segment, a leapfrog
    * intersection over the block-skipping posting iterators: the rarest
    * list leads, hot lists `advanceTo`-skip whole blocks (one header read
    * per skipped block), tombstones excluded at emission. Only candidate
    * doc ids ever leave the segment task.
    */
  private[graft] def conjunctiveDocs(terms: Seq[String]): Dataset[Long] = {
    val names = terms.distinct
    val cfg = index.cfg
    val nTerms = names.size
    perSegment(segHits(names))(_.seg_id) { (seg, it, allow, _) =>
      Engine.conjunction(seg, it.toArray, nTerms, cfg, allow)
    }
  }

  /** Lucene PhraseQuery over the word-term field (the Solr host's
    * `"exact phrase"` query form), answered from positional postings alone
    * ([[phraseScoresPositional]]); `corpus` is not read.
    *
    * Scoring is Lucene's PhraseQuery under BM25: tf = phrase frequency,
    * weight = Σ idf(term_i) over phrase POSITIONS (duplicates counted, as
    * BM25Similarity.idfExplain sums over the query's terms array), the
    * same tfNorm and quantized tie order as every other route, dl from
    * the postings' inlined dl.
    */
  def searchPhrase(corpus: DataFrame, phrase: String, rows: Int = 60,
                   slop: Int = 0): DataFrame = {
    val toks = graft.analyze.Tokenizer.tokenizeScala(phrase)
    require(toks.nonEmpty, "empty phrase")
    if (toks.length == 1) // Lucene parses a one-word phrase as a TermQuery
      return searchByTerms(Seq(("w:" + toks(0)) -> 1.0), rows)
    Wand.topK(phraseScores(toks, 1.0, slop), rows)(identity)
  }

  /** All (docId, score) phrase contributions, pre-top-k — the scoring
    * pipeline of [[searchPhrase]], reused by the parsed-query score
    * composition. Empty when a phrase word is unindexed.
    *
    * `slop > 0` = sloppy PhraseQuery: an anchor position `p` of the first
    * word matches when EVERY word `j` has a position within `slop` of its
    * expected slot `p + j`; pf = the anchor count, scored exactly like the
    * exact route (tf = pf). slop 0 degenerates to the exact rule. For a
    * two-word phrase this is Lucene's match set (`|q − (p+1)| ≤ slop` —
    * reversed adjacent order matches at slop 2, as in Lucene); the
    * DELIBERATE deviations, same pattern as the fuzzy boost's 1/(1+d):
    * each match weighs 1 where Lucene's SloppyPhraseScorer accumulates
    * 1/(1+matchLength) (a float rule that cannot be mirrored exactly in
    * integer-quantized cross-engine scoring), and ≥3-word phrases bound
    * each word's displacement independently where Lucene bounds the SUM.
    */
  private[graft] def phraseScores(toks: Array[String],
      boost: Double, slop: Int = 0): org.apache.spark.sql.Dataset[Scored] = {
    require(slop >= 0, s"negative slop: $slop")
    val words = toks.toSeq.map("w:" + _)
    val dfs = index.dfOf(words.distinct)
    if (words.exists(w => dfs.getOrElse(w, 0L) == 0L)) // a phrase term absent from the corpus
      return spark.emptyDataset[Scored]
    val (n, avgdl) = index.stats
    val idfSum = words.map(w => Bm25.idf(dfs(w).toDouble, n.toDouble)).sum
    phraseScoresPositional(toks, boost * idfSum, avgdl, slop)
  }

  /** Positional PhraseQuery: per segment, ONE leapfrog conjunction over
    * the phrase words' posting iterators WITH their position blobs ([[Codec.IterPos]]); at each
    * conjunction match the exact phrase frequency comes from position
    * intersection ([[Engine.phraseMatches]]). No stored-field access at
    * all — the stored-field verify's scale-killer (a corpus-hot phrase
    * degraded to a content-shuffling sort-merge join, VERDICT r04 #2) is
    * structurally gone: only the phrase words' posting+position rows are
    * read (positions of blocks the leapfrog skips are skipped bytes), and
    * only (doc_id, score) rows leave the segment task. Scoring identical
    * to the stored route: tf = pf, weight = boost·Σ idf over phrase
    * positions, dl from the postings' inlined dl (pinned equal to
    * [[phraseScoresStored]] in BoolPhraseSpec).
    */
  private def phraseScoresPositional(toks: Array[String], weight: Double,
      avgdl: Double, slop: Int = 0): Dataset[Scored] = {
    val words = toks.map("w:" + _)
    val names = words.distinct.toSeq
    val hits = index.termRows(names)(col("seg_id"), col("term"), col("postings"), col("positions"))
      .as[(Long, String, Array[Byte], Array[Byte])]
    val cfg = index.cfg
    val nDistinct = names.size
    perSegment(hits)(_._1) { (seg, it, allow, _) =>
      Engine.phraseMatches(seg, it.toArray, words, nDistinct, cfg, allow, weight, avgdl, slop)
    }
  }

  /** Stored-field phrase verify: shingle-assisted candidate conjunction +
    * content re-tokenization. Never selected at run time — it is the
    * positional route's correctness reference (BoolPhraseSpec, PlanSpec).
    */
  private[graft] def phraseScoresStored(corpus: DataFrame, toks: Array[String],
      boost: Double, idfSum: Double,
      avgdl: Double, slop: Int = 0): org.apache.spark.sql.Dataset[Scored] = {
    val words = toks.toSeq.map("w:" + _)
    // adjacency shingles narrow candidates only for the EXACT phrase; a
    // sloppy match need not contain any adjacent pair, so slop > 0 falls
    // back to the plain word conjunction
    val shingles = if (slop > 0) Nil
      else (0 until toks.length - 1)
        .map(i => graft.analyze.Tokenizer.shingleTerm(toks(i), toks(i + 1)))
    val dfs = index.dfOf(words.distinct)
    val cand = conjunctiveDocs(words ++ shingles).toDF("doc_id")
    // native verify: tokenize + sliding phrase count + dl in ONE eval per
    // candidate row ([[graft.functions.GraftPhrasePfDl]]); the built-in
    // composition it replaced is kept as [[Engine.phrasePfDlHof]] for the
    // equivalence pin
    val pfDl = graft.functions.GraftFunctions.graft_phrase_pfdl(
      col("content"), toks.toSeq, IndexBuild.MaxDl, slop)
    // explicit broadcast, SIZE-GATED on a bound already in hand: cand
    // comes out of a groupByKey/flatMapGroups, so the planner has no
    // size estimate and falls back to a sort-merge join that shuffles
    // the WHOLE stored-field corpus (content included — the broadcast +
    // the native verify took this phrase 3.7 s -> 2.0 s at the 600k-doc
    // bench corpus; the remaining floor is the one corpus scan a
    // stored-field verify cannot avoid without positional postings, the
    // disclosed design trade). |cand| <= min df over the phrase's words
    // (known from the dictionary, zero extra jobs), so the hint applies
    // exactly when the candidate id list provably fits a broadcast — a
    // corpus-hot phrase at 100x degrades to the shuffle join instead of
    // an 8 GB-limit broadcast failure.
    val candSide =
      if (dfs.values.min <= phraseBroadcastMax) broadcast(cand) else cand
    corpus
      .join(candSide, Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("docId"), pfDl.as("pd"))
      .select(col("docId"), col("pd.pf").as("pf"),
        col("pd.dl").cast("double").as("dl"))
      .where(col("pf") > 0)
      .select(col("docId"),
        (lit(boost * idfSum) * Bm25.tfNormCol(col("pf").cast("double"), col("dl"),
          lit(avgdl))).as("score"))
      .as[Scored]
  }

  /** Lucene PrefixQuery (`pref*`) under the top-terms scoring-Boolean
    * rewrite (TopTermsScoringBooleanQueryRewrite): expand to the top
    * `maxExpansions` indexed terms with the prefix — highest-df first
    * (df DESC, term ASC — [[termsEnum]]'s deterministic total order, the
    * popularity rule Lucene's capped rewrite keeps) — then OR-search them
    * at the clause boost. Expansion reads the persisted dictionary only
    * (vocabulary-sized, postings untouched); `accuracy = 1.0` in the
    * search keeps every expanded term (no T1/T2 pruning of a rewrite).
    */
  def searchPrefix(prefix: String, rows: Int = 60, maxExpansions: Int = 50,
                   boost: Double = 1.0): DataFrame = {
    val exp = prefixExpansions(prefix, maxExpansions)
    searchByTerms(exp.map(_ -> boost), rows, accuracy = 1.0)
  }

  /** Terms of a prefix clause, (df DESC, term ASC) capped — the
    * [[termsEnum]] rewrite, off the driver map when the vocabulary is
    * under the expansion cap.
    */
  private[graft] def prefixExpansions(prefix: String,
      maxExpansions: Int): Seq[String] = driverVocab match {
    case Some(m) =>
      m.iterator.filter { case (t, _) => t.startsWith(prefix) }
        .toSeq.sortBy { case (t, df) => (-df, t) }
        .take(maxExpansions).map(_._1)
    case None =>
      termsEnum(prefix, maxExpansions)
        .select(col("term")).as[String].collect().toSeq
  }

  /** Lucene FuzzyQuery (`term~N`): expand to indexed terms within
    * `maxEdits` Levenshtein distance (the exact term included at distance
    * 0), each boosted `boost/(1+dist)` — a deterministic integer-ratio
    * analog of Lucene's distance-decayed boost (FuzzyTermsEnum's
    * `1 - dist/len` depends on unicode term length; the 1/(1+d) form keeps
    * the cross-engine mirror exact). Expansion capped at `maxExpansions`
    * by (dist ASC, df DESC, term ASC) — closest first, then most popular,
    * Lucene's order. Same vocabulary-sized dictionary scan as
    * [[spellcheck]] (the n-gram pre-filter is the documented upgrade if a
    * 100× vocabulary makes it hot).
    */
  def searchFuzzy(term: String, maxEdits: Int = 2, rows: Int = 60,
                  maxExpansions: Int = 50, boost: Double = 1.0): DataFrame = {
    val exp = fuzzyExpansions(term, maxEdits, maxExpansions)
    searchByTerms(exp.map { case (t, d) => t -> boost / (1 + d) }, rows, accuracy = 1.0)
  }

  /** Lucene WildcardQuery (`?` = one char, `*` = any run, whole-term
    * anchored) under the same top-terms scoring-Boolean rewrite as
    * [[searchPrefix]]: the top `maxExpansions` matching indexed terms by
    * (df DESC, term ASC), OR-searched at the clause boost. Expansion
    * pushes a LIKE predicate into the persisted dictionary — the
    * translation `*`→`%`, `?`→`_` is collision-free because the term
    * alphabet is [a-z0-9:] ([[graft.analyze.Tokenizer.SplitRe]]), no LIKE
    * metachars. A leading-wildcard pattern degrades to a vocabulary scan —
    * Lucene's documented cost cliff for leading wildcards (the
    * reversed-term side dictionary is the documented upgrade); the scan is
    * still vocabulary-sized and never touches postings.
    */
  def searchWildcard(pattern: String, rows: Int = 60, maxExpansions: Int = 50,
                     boost: Double = 1.0): DataFrame = {
    val exp = wildcardExpansions(pattern, maxExpansions)
    searchByTerms(exp.map(_ -> boost), rows, accuracy = 1.0)
  }

  /** Lucene TermRangeQuery (`[lo TO hi]` / `{lo TO hi}`, `*` = open bound)
    * under the same top-terms scoring-Boolean rewrite as [[searchPrefix]]:
    * the top `maxExpansions` indexed terms inside the range by (df DESC,
    * term ASC), OR-searched at the clause boost. Bounds compare on the
    * raw term bytes — the term alphabet is ASCII ([a-z0-9:]), so Spark's
    * UTF8String order and the oracle's binary collation agree. The
    * expansion filters the cached in-memory dictionary (vocabulary-sized,
    * the same cost class as prefix/wildcard — no parquet pushdown
    * happens above the dictionary's aggregation+cache); postings are
    * never touched by the expansion.
    */
  def searchRange(lo: Option[String], hi: Option[String],
                  incLo: Boolean = true, incHi: Boolean = true,
                  rows: Int = 60, maxExpansions: Int = 50,
                  boost: Double = 1.0): DataFrame = {
    val exp = rangeExpansions(lo, hi, incLo, incHi, maxExpansions)
    searchByTerms(exp.map(_ -> boost), rows, accuracy = 1.0)
  }

  /** The in-memory dictionary when BOTH caps admit it — the expansion
    * fast path ([[Engine.DriverExpandMaxVocab]]). The term alphabet is
    * ASCII ([a-z0-9:] + pads), so Java String order below ≡ the binary
    * UTF8String order the distributed routes sort by.
    */
  private def driverVocab: Option[Map[String, Long]] =
    index.driverTerms.filter(_.size <= Engine.DriverExpandMaxVocab)

  /** True when multi-term rewrites take the driver-map route — exposed so
    * gates/bench sections can pin which route they measure.
    */
  def expandViaDriver: Boolean = driverVocab.isDefined

  /** Terms of a range clause, (df DESC, term ASC) capped — see
    * [[searchRange]]. `None` = open bound.
    */
  private[graft] def rangeExpansions(lo: Option[String], hi: Option[String],
      incLo: Boolean, incHi: Boolean, maxExpansions: Int): Seq[String] =
    driverVocab match {
      case Some(m) =>
        m.iterator.filter { case (t, _) =>
          lo.forall(l => if (incLo) t >= l else t > l) &&
            hi.forall(h => if (incHi) t <= h else t < h)
        }.toSeq.sortBy { case (t, df) => (-df, t) }
          .take(maxExpansions).map(_._1)
      case None =>
        var d = index.dictionary
        lo.foreach(l => d = d.where(if (incLo) col("term") >= lit(l) else col("term") > lit(l)))
        hi.foreach(h => d = d.where(if (incHi) col("term") <= lit(h) else col("term") < lit(h)))
        d.orderBy(col("df").desc, col("term").asc)
          .limit(maxExpansions)
          .select(col("term")).as[String].collect().toSeq
    }

  /** Matching terms of a wildcard clause, (df DESC, term ASC) capped.
    * Leading-wildcard patterns with a literal tail route to the reversed
    * dictionary ([[Engine.shouldReverse]]): the reversed pattern's literal
    * head becomes a StartsWith pushdown on the rterm-sorted store, so
    * `*suffix` prunes row groups instead of scanning the vocabulary —
    * Solr's ReversedWildcardFilterFactory semantics. Both routes produce
    * the same (term, df) rows (per-unit dfs sum to the dictionary's), so
    * the (df DESC, term ASC) cap is route-invariant (pinned in
    * ParsedQuerySpec).
    */
  private[graft] def wildcardExpansions(pattern: String, maxExpansions: Int,
      forceForward: Boolean = false): Seq[String] = driverVocab match {
    case Some(m) =>
      // driver route: one anchored-regex pass over the in-memory
      // dictionary — leading wildcards cost the same pass as trailing
      // ones here (Lucene's cost cliff is a disk-seek artifact), so the
      // reversed store only matters on the over-cap routes below
      val re = Engine.wildcardToRegex(pattern)
      m.iterator.filter { case (t, _) => re.matcher(t).matches() }
        .toSeq.sortBy { case (t, df) => (-df, t) }
        .take(maxExpansions).map(_._1)
    case None =>
      val matched =
        if (!forceForward && Engine.shouldReverse(pattern))
          index.rdictStore
            .where(col("rterm").like(Engine.wildcardToLike(pattern.reverse)))
            .groupBy(col("term")).agg(sum("df").cast("long").as("df"))
        else index.dictionary.where(col("term").like(Engine.wildcardToLike(pattern)))
      matched
        .orderBy(col("df").desc, col("term").asc)
        .limit(maxExpansions)
        .select(col("term")).as[String].collect().toSeq
  }

  /** (term, editDistance) expansions of a fuzzy clause — see [[searchFuzzy]].
    *
    * Primary route (trigram store + usable pigeonhole threshold): q-gram
    * count filtering (Gravano et al.) — a term within `maxEdits` edits of
    * the query shares ≥ |G(q)| − 3·maxEdits of the query's distinct padded
    * trigrams (one edit destroys ≤ 3 distinct grams), so candidates come
    * from the gram-sorted store via an In(gram) parquet pushdown over the
    * query's ~|term| grams ONLY (row groups without them prune away — the
    * sub-linear property), then exact Levenshtein on the tiny candidate
    * set driver-side. Short terms (threshold ≤ 0: every edit budget can
    * erase all grams) take the vocabulary scan, which stays the route's
    * correctness twin (pinned equal in IndexSpec).
    */
  private[graft] def fuzzyExpansions(term: String, maxEdits: Int,
      maxExpansions: Int): Seq[(String, Int)] = driverVocab match {
    case Some(m) =>
      // driver route: length band (d edits change |t| by ≤ d), then exact
      // Levenshtein in memory — the same verify the distributed routes end
      // in, over the whole (≤2^17-term) vocabulary instead of a pre-pruned
      // candidate set
      m.iterator
        .filter { case (t, _) => math.abs(t.length - term.length) <= maxEdits }
        .map { case (t, df) => (t, Engine.levenshteinScala(t, term), df) }
        .filter(_._2 <= maxEdits)
        .toSeq
        .sortBy { case (t, d, df) => (d, -df, t) }
        .take(maxExpansions)
        .map { case (t, d, _) => (t, d) }
    case None => fuzzyExpansionsDistributed(term, maxEdits, maxExpansions)
  }

  /** Over-cap fuzzy expansion: trigram-pruned when the pigeonhole
    * threshold allows, vocabulary scan otherwise — see [[fuzzyExpansions]].
    */
  private[graft] def fuzzyExpansionsDistributed(term: String, maxEdits: Int,
      maxExpansions: Int): Seq[(String, Int)] =
    fuzzyCandidates(term, maxEdits) match {
      case Some(cands) =>
        val dfs = index.dfOf(cands.map(_._1))
        cands.iterator
          .map { case (t, d) => (t, d, dfs.getOrElse(t, 0L)) }
          .filter(_._3 > 0)
          .toSeq
          .sortBy { case (t, d, df) => (d, -df, t) }
          .take(maxExpansions)
          .map { case (t, d, _) => (t, d) }
      case None =>
        fuzzyExpansionsScan(term, maxEdits, maxExpansions)
    }

  /** Vocabulary-scan twin of [[fuzzyExpansions]] (short terms + spec pin). */
  private[graft] def fuzzyExpansionsScan(term: String, maxEdits: Int,
      maxExpansions: Int): Seq[(String, Int)] =
    index.dictionary
      .select(col("term"), col("df"), levenshtein(col("term"), lit(term)).as("dist"))
      .where(col("dist") <= lit(maxEdits))
      .orderBy(col("dist").asc, col("df").desc, col("term").asc)
      .limit(maxExpansions)
      .select(col("term"), col("dist")).as[(String, Int)].collect().toSeq

  /** Gram-filtered fuzzy candidates as (term, dist ≤ maxEdits), or None
    * when the pruned route is unavailable (threshold ≤ 0).
    * The exact-verify step makes the pre-filter completeness-critical
    * only: a too-loose bound costs candidates, never correctness.
    *
    * The collect is CAPPED like every other expansion (VERDICT r05
    * "What's wrong" #4): deterministic (shared desc, term asc) order,
    * [[Engine.FuzzyCandidatesMax]] rows — the pigeonhole threshold bounds
    * the set far below the cap for real terms, so the cap only bites on
    * an adversarial short-term/huge-vocabulary combination, where it
    * keeps the candidates sharing the MOST query grams (the ones that
    * can be within distance) instead of collecting unboundedly.
    */
  private[graft] def fuzzyCandidates(term: String, maxEdits: Int,
      cap: Int = Engine.FuzzyCandidatesMax): Option[Seq[(String, Int)]] = {
    val qGrams = Engine.fuzzyGrams(term)
    val threshold = qGrams.size - 3 * maxEdits
    if (threshold <= 0) return None
    val cands = index.ngramStore
      .where(col("gram").isin(qGrams: _*))
      // length band: d edits change length by ≤ d (cheap post-prune)
      .where(length(col("term"))
        .between(term.length - maxEdits, term.length + maxEdits))
      .groupBy(col("term"))
      .agg(countDistinct(col("gram")).as("shared"))
      .where(col("shared") >= lit(threshold.toLong))
      .orderBy(col("shared").desc, col("term").asc)
      .limit(cap)
      .select(col("term")).as[String].collect()
    Some(cands.iterator
      .map(t => (t, Engine.levenshteinScala(t, term)))
      .filter(_._2 <= maxEdits)
      .toSeq)
  }

  /** Execute a full Lucene query string ([[Engine.parseLucene]] grammar):
    * term / phrase / prefix / wildcard / fuzzy clauses with `+` / `-` /
    * `^boost`.
    *
    * Dispatch: multi-term clauses resolve to weighted term lists off the
    * persisted dictionary (driver-side, vocabulary-sized); a query without
    * phrase clauses runs as one [[searchBool]] (everything in-segment). A
    * query MIXING phrases with other clauses composes scores the way
    * Lucene's BooleanQuery sums its subscorers:
    *
    *   score(doc) = Σ term-clause BM25 (the exploded-postings exact-score
    *                plan, [[scanScoreAll]])
    *              + Σ phrase-clause scores ([[phraseScores]])
    *
    * summed by one hash aggregation over the unioned contribution tables,
    * then MUST clauses intersect, MUST_NOT clauses exclude, and the
    * bounded heap ranks. No global sort, no driver-side scoring.
    *
    * A MUST multi-term clause (`+pre*`, `+term~`, `+[a TO b]`) is Lucene's
    * required rewrite: an OR-required GROUP — the doc must hold at least
    * one expanded term; all matching expansions score. Groups fold into
    * the same per-segment allow bitmap as MUST terms (the group's postings
    * union ANDs in — [[Engine.boolAllow]]), and are exempt from accuracy
    * pruning like every required clause.
    *
    * On the phrase-mixed path, when any required term/group clause is
    * present, term-side membership (MUST / groups / MUST_NOT) rides the
    * scoring scan itself as a per-term bitmask ([[scanScoreMembership]]) —
    * no membership join touches postings a second time — and the phrase
    * contributions graft on with one doc_id left_outer join. Without a
    * required clause (a phrase-only doc can then match), the general
    * shape unions all contribution tables, aggregates, and applies the
    * membership joins ([[conjunctiveDocs]] / [[matchSet]]), every table
    * doc_id-keyed so AQE plans the final joins.
    */
  def searchParsed(corpus: DataFrame, q: String, rows: Int = 60,
                   maxExpansions: Int = 50): DataFrame =
    Wand.topK(parsedPass(corpus, q, rows, maxExpansions), rows)(identity)

  /** [[searchParsed]]'s (doc_id, score) rows before the merge (see
    * [[termsPass]]).
    */
  private[graft] def parsedPass(corpus: DataFrame, q: String, rows: Int = 60,
                                maxExpansions: Int = 50): Dataset[Scored] = {
    import Engine.{FuzzyClause, Occur, PhraseClause, PrefixClause, TermClause, WildcardClause}
    val should = Seq.newBuilder[(String, Double)]
    val must = Seq.newBuilder[(String, Double)]
    val mustNot = Seq.newBuilder[String]
    val groups = Seq.newBuilder[Seq[(String, Double)]]
    val phrases = Seq.newBuilder[(Array[String], Double, Engine.Occur, Int)]
    val clauses = Engine.parseLucene(q)
    // under the expansion cap each rewrite is an in-memory dictionary
    // pass (cheap); over it each is its own blocking driver-side
    // dictionary job, and a mixed query with several rewrites would pay
    // them back-to-back. Launch them concurrently (independent read-only
    // actions on the shared session) and fold results in clause order —
    // the composition below is byte-identical to the sequential form.
    // (term, editDistance) is the common shape; non-fuzzy rewrites carry 0.
    val expanded: Seq[Option[Seq[(String, Int)]]] = {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      clauses.map {
        case PrefixClause(p, _, _) =>
          Some(Future(prefixExpansions(p, maxExpansions).map(_ -> 0)))
        case FuzzyClause(t, e, _, _) =>
          Some(Future(fuzzyExpansions(t, e, maxExpansions)))
        case WildcardClause(p, _, _) =>
          Some(Future(wildcardExpansions(p, maxExpansions).map(_ -> 0)))
        case Engine.RangeClause(lo, hi, il, ih, _, _) =>
          Some(Future(rangeExpansions(lo, hi, il, ih, maxExpansions).map(_ -> 0)))
        case _ => None
      }.map(_.map(Await.result(_, Duration.Inf)))
    }
    clauses.zip(expanded).foreach {
      case (TermClause(t, b, Occur.Should), _) => should += (t -> b)
      case (TermClause(t, b, Occur.Must), _) => must += (t -> b)
      case (TermClause(t, _, Occur.MustNot), _) => mustNot += t
      case (PrefixClause(_, b, Occur.Should), Some(exp)) =>
        should ++= exp.map(_._1 -> b)
      case (PrefixClause(_, b, Occur.Must), Some(exp)) =>
        groups += exp.map(_._1 -> b)
      case (PrefixClause(_, _, Occur.MustNot), Some(exp)) =>
        mustNot ++= exp.map(_._1)
      case (FuzzyClause(_, _, b, Occur.Should), Some(exp)) =>
        should ++= exp.map { case (x, d) => x -> (b / (1 + d)) }
      case (FuzzyClause(_, _, b, Occur.Must), Some(exp)) =>
        groups += exp.map { case (x, d) => x -> (b / (1 + d)) }
      case (FuzzyClause(_, _, _, Occur.MustNot), Some(exp)) =>
        mustNot ++= exp.map(_._1)
      case (WildcardClause(_, b, Occur.Should), Some(exp)) =>
        should ++= exp.map(_._1 -> b)
      case (WildcardClause(_, b, Occur.Must), Some(exp)) =>
        groups += exp.map(_._1 -> b)
      case (WildcardClause(_, _, Occur.MustNot), Some(exp)) =>
        mustNot ++= exp.map(_._1)
      case (Engine.RangeClause(_, _, _, _, b, Occur.Should), Some(exp)) =>
        should ++= exp.map(_._1 -> b)
      case (Engine.RangeClause(_, _, _, _, b, Occur.Must), Some(exp)) =>
        groups += exp.map(_._1 -> b)
      case (Engine.RangeClause(_, _, _, _, _, Occur.MustNot), Some(exp)) =>
        mustNot ++= exp.map(_._1)
      case (PhraseClause(toks, b, occ, _), _) if toks.length == 1 => // Lucene: a one-word phrase IS a TermQuery (slop is meaningless)
        occ match {
          case Occur.Should => should += (("w:" + toks.head) -> b)
          case Occur.Must => must += (("w:" + toks.head) -> b)
          case Occur.MustNot => mustNot += ("w:" + toks.head)
        }
      case (PhraseClause(toks, b, occ, slop), _) =>
        phrases += ((toks.toArray, b, occ, slop))
      case (c, None) =>
        throw new IllegalStateException(s"clause $c missing its expansion")
    }
    val shouldSeq = should.result()
    val mustSeq = must.result()
    val notSeq = mustNot.result().distinct
    val groupSeq = groups.result()
    val phraseSeq = phrases.result()
    if (phraseSeq.isEmpty)
      return boolPass(shouldSeq, mustSeq, notSeq, rows, mustGroups = groupSeq).map(_._2)
    val notSet = notSeq.toSet
    if (mustSeq.exists(t => notSet(t._1))) // +t -t: unsatisfiable
      return spark.emptyDataset[Scored]
    // ONE df lookup for every clause kind (group filtering + scoring —
    // on a vocabulary too large for the driver dictMap each dfOf is its
    // own dictionary-scan job, so they must not repeat per clause)
    val dfs = index.dfOf((shouldSeq.map(_._1) ++ mustSeq.map(_._1) ++
      groupSeq.flatten.map(_._1)).distinct)
    // required groups next to phrases: prohibited members drop (their docs
    // are excluded anyway); a group left with no corpus-present member
    // empties the result, as a df=0 MUST term does
    val groupsKept = groupSeq.map(g => g.filterNot(t => notSet(t._1))
      .filter(t => dfs.getOrElse(t._1, 0L) > 0L))
    if (groupSeq.nonEmpty && groupsKept.exists(_.isEmpty))
      return spark.emptyDataset[Scored]
    val scoringTerms =
      shouldSeq.filterNot(t => notSet(t._1)) ++ mustSeq ++ groupsKept.flatten
    if (mustSeq.exists(t => dfs.getOrElse(t._1, 0L) == 0L)) // required term absent
      return spark.emptyDataset[Scored]
    val kept = scoringTerms.map { case (t, b) => (t, b, dfs.getOrElse(t, 0L)) }
      .filter(_._3 > 0)
    val (n, avgdl) = index.stats
    val weights = weightsOf(kept, n)
    // build each phrase's contribution ONCE and reuse the same DataFrame
    // for both the score union and the MUST/MUST_NOT membership join —
    // identical canonical subtrees let Catalyst/AQE reuse the exchange,
    // where the previous shape (a second phraseScores call at boost 1.0)
    // guaranteed two full postings + verify passes per required phrase
    val phraseDfs =
      phraseSeq.map { case p @ (toks, b, occ, slop) =>
        val boost = if (occ == Occur.MustNot) 1.0 else b
        // |phrase hits| <= min df over the phrase's words — the same
        // dictionary-known bound that gates the stored-verify broadcast;
        // an unindexed word bounds the (empty) contribution at 0
        val words = toks.map("w:" + _).distinct.toSeq
        val d = index.dfOf(words)
        val bound = if (d.size < words.size) 0L else d.values.min
        (p, phraseScores(toks, boost, slop).toDF("doc_id", "score"), bound)
      }
    val scoringDfs = phraseDfs.collect {
      case ((_, _, occ, _), df0, bound) if occ != Occur.MustNot => (df0, bound)
    }
    // Required term/group clauses present: every result doc holds a
    // required — and therefore scoring — term, so the membership-folded
    // scan ([[scanScoreMembership]]) is complete on its own: phrase
    // contributions graft on with ONE left_outer join, replacing the
    // union+agg+semi/anti-join cascade whose membership joins each
    // re-shuffled postings against the aggregate (the prohibited-term
    // anti-join folds into the same scan). The rare mask-overflow query
    // (≥63 required clauses) and the required-clause-free shape — where
    // a phrase-only doc can match, so the scan alone is NOT complete —
    // keep the general union shape.
    val folded = (mustSeq.nonEmpty || groupsKept.nonEmpty) &&
      mustSeq.length + groupsKept.length < 63
    var res =
      if (folded) {
        val base = scanScoreMembership(weights, avgdl, mustSeq.map(_._1),
          groupsKept.map(_.map(_._1)), notSeq)
        if (scoringDfs.isEmpty) base
        else {
          // +0.0 on phrase-free docs is exact, so folded scores are
          // bit-identical to the union shape's for single-phrase queries.
          // ONE scoring phrase (the common mixed-query shape): its
          // per-segment leapfrog/verify emits each doc at most once (a doc
          // lives in exactly one segment), so the doc_id re-aggregation is
          // a no-op shuffle — rename and graft directly. Phrases can share
          // docs across clauses, so >=2 keep the union+sum.
          val pAgg = scoringDfs match {
            case Seq((one, _)) => one.withColumnRenamed("score", "pscore")
            case many => many.map(_._1).reduce(_ unionAll _)
              .groupBy(col("doc_id")).agg(sum(col("score")).as("pscore"))
          }
          // explicit broadcast under the dictionary-known bound (the
          // stored-verify gate's rule): the graft join then builds on the
          // phrase side with no shuffle or sort of the scoring aggregate.
          // A corpus-hot phrase fails open to a sort-merge join of two
          // doc_id-keyed aggregates — (doc_id, score) rows only, never
          // content (the r04 scale-killer shape is structurally gone).
          val pSide =
            if (scoringDfs.map(_._2).sum <= phraseBroadcastMax)
              broadcast(pAgg)
            else pAgg
          base.join(pSide, Seq("doc_id"), "left_outer")
            .select(col("doc_id"),
              (col("score") + coalesce(col("pscore"), lit(0.0))).as("score"))
        }
      } else {
        val parts: Seq[DataFrame] =
          (if (weights.isEmpty) Nil
           else Seq(scanScoreAll(weights, avgdl))) ++ scoringDfs.map(_._1)
        if (parts.isEmpty) // purely negative query matches nothing, as in Lucene
          return spark.emptyDataset[Scored]
        var r = parts.reduce(_ unionAll _)
          .groupBy(col("doc_id")).agg(sum(col("score")).as("score"))
        if (mustSeq.nonEmpty)
          r = r.join(conjunctiveDocs(mustSeq.map(_._1)).toDF("doc_id"),
            Seq("doc_id"), "left_semi")
        groupsKept.foreach { g => // ≥1 member per required group
          r = r.join(matchSet(g), Seq("doc_id"), "left_semi")
        }
        if (notSeq.nonEmpty)
          r = r.join(matchSet(notSeq.map(_ -> 1.0)), Seq("doc_id"), "left_anti")
        r
      }
    phraseDfs.foreach { case ((_, _, occ, _), df0, bound) =>
      // same dictionary-known bound gates the membership side: a required
      // (or prohibited) phrase's doc set broadcasts when it provably fits
      val side =
        if (bound <= phraseBroadcastMax) broadcast(df0.select("doc_id"))
        else df0.select("doc_id")
      occ match {
        case Occur.Must =>
          res = res.join(side, Seq("doc_id"), "left_semi")
        case Occur.MustNot =>
          res = res.join(side, Seq("doc_id"), "left_anti")
        case Occur.Should => ()
      }
    }
    res.select(col("doc_id").as("docId"), col("score")).as[Scored]
  }

  /** Lucene BooleanQuery semantics — the QueryParser `a +b -c` surface the
    * reference's Solr host exposes on every text field: a result doc must
    * contain every `must` term and no `mustNot` term; score = the usual
    * Σ boost·idf·tfNorm over should ∪ must matches (a MUST clause both
    * filters and scores, as in Lucene; MUST_NOT never scores;
    * BooleanWeight's required/prohibited scorer split). The boolean algebra
    * runs inside the segment task as postings-derived bitmaps folded into
    * the SAME allow bitmap the fq/kill paths feed the scorer
    * ([[Engine.boolAllow]]) — doc ids never shuffle for it, and it composes
    * with fq bitmaps, arbitrary predicates and upsert tombstones.
    *
    * Accuracy pruning (T1/T2) applies to the SHOULD terms only — a
    * required or prohibited clause is never pruned away (pruning one would
    * change the match SET, not just the score detail; the reference's
    * accuracy budget likewise only thins its OR-of-hash-terms list,
    * LireRequestHandler.java:697-740). A MUST term with df=0 empties the
    * result, as in Lucene. A batch of one through [[scorePass]], like
    * [[searchByTerms]]; dense routing applies unchanged, but a query the
    * columnar plan would take (dense on wide segments) takes exhaustive
    * DAAT instead (the boolean bitmaps live in the segment-local pass —
    * rare geometry, documented trade).
    */
  def searchBool(should: Seq[(String, Double)],
                 must: Seq[(String, Double)] = Nil,
                 mustNot: Seq[String] = Nil,
                 rows: Int = 60, accuracy: Double = 1.0,
                 candidates: Int = 10000,
                 docPred: Option[Column] = None,
                 docFilter: Option[(String, String)] = None,
                 mustGroups: Seq[Seq[(String, Double)]] = Nil): DataFrame =
    Wand.topK(boolPass(should, must, mustNot, rows, accuracy, candidates, docPred, docFilter,
      mustGroups), rows)(_._2)

  /** [[searchBool]]'s scoring pass before the merge (see [[termsPass]]). */
  private[graft] def boolPass(should: Seq[(String, Double)],
                              must: Seq[(String, Double)] = Nil,
                              mustNot: Seq[String] = Nil,
                              rows: Int = 60, accuracy: Double = 1.0,
                              candidates: Int = 10000,
                              docPred: Option[Column] = None,
                              docFilter: Option[(String, String)] = None,
                              mustGroups: Seq[Seq[(String, Double)]] = Nil)
      : Dataset[(Long, Scored)] = {
    val notSet = mustNot.toSet
    // +t -t is unsatisfiable (Lucene: required AND prohibited -> no doc)
    if (must.exists(t => notSet(t._1)))
      return scorePass(Nil, rows, candidates, None, None)
    // a SHOULD term that is also prohibited can never contribute (every
    // doc holding it is excluded) — drop it from the scoring set up front
    val shouldKept = keptTerms(should.filterNot(t => notSet(t._1)), accuracy)
    // ONE df lookup for all required clauses (each dfOf can be its own
    // dictionary-scan job on a vocabulary too large for the driver map)
    val reqDfs = index.dfOf(
      (must.map(_._1) ++ mustGroups.flatten.map(_._1)).distinct)
    if (must.exists(t => reqDfs.getOrElse(t._1, 0L) == 0L))
      return scorePass(Nil, rows, candidates, None, None) // required term absent from the corpus
    val mustKept = must.map { case (t, b) => (t, b, reqDfs.getOrElse(t, 0L)) }
    // OR-required groups (Lucene's required multi-term rewrite, `+pre*`):
    // members score like SHOULD terms but are exempt from accuracy
    // pruning (dropping one would change the match SET); a prohibited
    // member is dropped (every doc holding it is excluded anyway, so the
    // group bitmap is unchanged on surviving docs); a group with no
    // corpus-present member empties the result, as a df=0 MUST does
    val groupsKept: Seq[Seq[(String, Double, Long)]] = mustGroups.map(g =>
      g.filterNot(t => notSet(t._1))
        .map { case (t, b) => (t, b, reqDfs.getOrElse(t, 0L)) }
        .filter(_._3 > 0))
    if (mustGroups.nonEmpty && groupsKept.exists(_.isEmpty))
      return scorePass(Nil, rows, candidates, None, None)
    val kept = shouldKept ++ mustKept ++ groupsKept.flatten
    val (bitmapFq, pred) = fqSplit(docPred, docFilter)
    val spec = if (kept.isEmpty) None else {
      val routed = specOf(0L, kept, index.stats._1, rows, candidates, useWand = accuracy < 0.9)
      val local =
        if (routed.route == Engine.Route.Columnar)
          routed.copy(route = Engine.Route.Daat, useWand = false)
        else routed
      Some(local.copy(must = must.map(_._1).toSet, mustNot = notSet,
        mustGroups = groupsKept.map(_.iterator.map(_._1).toSet)))
    }
    scorePass(spec.toSeq, rows, candidates, bitmapFq, pred)
  }

  /** THE scoring pass of 1..N term queries — [[searchByTerms]] (so
    * [[searchAfter]], [[searchPage]]), [[searchBool]] and
    * [[searchManyByTerms]] only build [[Engine.QuerySpec]]s and call it.
    * Segment-local specs share ONE [[segmentPass]], columnar specs ONE
    * [[columnarPass]]; the caller's merge ([[Wand.topK]],
    * [[Wand.topKPerQuery]]) folds their (query id, candidate) rows into
    * one heap per query per task and merges the tasks' heaps on the
    * driver. The doc filter is one per pass: a covered `bitmapFq` takes
    * its result-identical predicate form on the columnar side.
    */
  private[graft] def scorePass(specs: Seq[Engine.QuerySpec], rows: Int, candidates: Int,
      bitmapFq: Option[(String, String)],
      docPred: Option[Column]): Dataset[(Long, Scored)] = {
    require(candidates >= 1, s"candidates must be >= 1, got $candidates")
    if (specs.isEmpty) return spark.emptyDataset[(Long, Scored)]
    val (_, avgdl) = index.stats
    val (columnar, local) = specs.partition(_.route == Engine.Route.Columnar)
    val heapSize = math.min(candidates, rows)
    val scanPred = bitmapFq.map { case (c, v) => col(c) === lit(v) }.orElse(docPred)
    (Option.when(local.nonEmpty)(segmentPass(local, heapSize, avgdl, bitmapFq, docPred)) ++
      Option.when(columnar.nonEmpty)(columnarPass(columnar, avgdl, scanPred))).reduce(_ unionAll _)
  }

  /** The segment-local side of [[scorePass]]: ONE scan of the specs'
    * terms plus their MUST_NOT terms, scored in the scan task by
    * [[perSegment]] — fq, predicate and tombstones resolve to the allow
    * bitmap BEFORE any heap (a covered fq joins the persisted per-segment
    * bitmaps, no docmeta scan). Each segment's rows materialize once and
    * every spec scores them ([[Engine.QuerySpec.scoreSegment]]) into a
    * `heapSize` heap: the exact top-`rows` needs per-segment top-`rows`;
    * a smaller `candidates` is the reference's approximate phase-1
    * budget. Without side inputs the pass has no exchange: the scan, the
    * kernels and the task's heaps are one stage.
    */
  private def segmentPass(specs: Seq[Engine.QuerySpec], heapSize: Int, avgdl: Double,
      bitmapFq: Option[(String, String)],
      docPred: Option[Column]): Dataset[(Long, Scored)] = {
    val names = specs.flatMap(s => s.weights.keys ++ s.mustNot).distinct
    val cfg = index.cfg
    val specsB = spark.sparkContext.broadcast(specs.toArray)
    perSegment(segHits(names), bitmapFq, docPred)(_.seg_id) { (seg, it, allow, _) =>
      val segRows = it.toArray // shared once, re-traversed per spec (≤|q| rows)
      specsB.value.iterator.flatMap { s =>
        s.scoreSegment(seg, segRows, allow, heapSize, avgdl, cfg).map(x => (s.qid, x))
      }
    }
  }

  /** All matching docs with exact raw scores — no top-k, no quantization:
    * (doc_id, score). The exploded-postings hash-agg plan (map-side
    * partial sums per segment file), tombstones excluded before anything
    * downstream.
    */
  private[graft] def scanScoreAll(
      weights: Map[String, Double], avgdl: Double,
      docPred: Option[Column] = None): DataFrame =
    scanScoreBase(weights, avgdl, docPred, membership = None)

  /** Shared builder behind [[scanScoreAll]] and [[scanScoreMembership]] —
    * ONE copy of the exploded-postings scan (term_id+term collision
    * guard, broadcast weight join, BM25 part, [[liveScores]] exclusion)
    * so the two routes cannot drift. `membership = None` keeps the plan byte-
    * identical to the historical scanScoreAll (no mask column anywhere).
    */
  private def scanScoreBase(
      weights: Map[String, Double], avgdl: Double,
      docPred: Option[Column],
      membership: Option[(Seq[String], Seq[Seq[String]], Seq[String])]): DataFrame = {
    // (term, weight, membership bitmask) rows; prohibited terms ride the
    // scan at weight 0 (zero score contribution by construction)
    val wRows: Seq[(String, Double, Long)] = membership match {
      case None => weights.toSeq.map { case (t, w) => (t, w, 0L) }
      case Some((must, groups, mustNot)) =>
        val notBit = 1L << (must.length + groups.length)
        def maskOf(t: String): Long = {
          var m = 0L
          var i = 0
          while (i < must.length) { if (must(i) == t) m |= 1L << i; i += 1 }
          var j = 0
          while (j < groups.length) {
            if (groups(j).contains(t)) m |= 1L << (must.length + j); j += 1
          }
          m
        }
        weights.toSeq.map { case (t, w) => (t, w, maskOf(t)) } ++
          mustNot.map(t => (t, 0.0, notBit))
    }
    val names = wRows.map(_._1)
    val wDf = membership match {
      case None => wRows.map { case (t, w, _) => (t, w) }.toDF("term", "w")
      case Some(_) => wRows.toDF("term", "w", "mask")
    }
    val maskCols = if (membership.isDefined) Seq(col("mask")) else Nil
    val exploded = index.termRows(names)(col("seg_id"), col("term"), col("postings"))
      .join(broadcast(wDf), Seq("term"))
      .select(Seq(col("seg_id"), col("w")) ++ maskCols :+
        explode(graft.functions.GraftFunctions.graft_postings(col("postings"))).as("p"): _*)
      .select(Seq(
        packedDocId(col("seg_id"), col("p.local")).as("doc_id"),
        (col("w") * Bm25.tfNormCol(col("p.tf").cast("double"),
          col("p.dl").cast("double"), lit(avgdl))).as("part")) ++ maskCols: _*)
    liveScores(exploded, docPred) { base =>
      membership match {
        case None =>
          base.groupBy(col("doc_id")).agg(sum(col("part")).as("score"))
        case Some((must, groups, _)) =>
          val notBit = 1L << (must.length + groups.length)
          val requiredMask = notBit - 1 // all must+group bits
          base.groupBy(col("doc_id"))
            .agg(sum(col("part")).as("score"),
              org.apache.spark.sql.functions.bit_or(col("mask")).as("mask"))
            .where(col("mask").bitwiseAND(lit(requiredMask)) === lit(requiredMask) &&
              col("mask").bitwiseAND(lit(notBit)) === lit(0L))
            .select(col("doc_id"), col("score"))
      }
    }
  }

  /** THE live-doc rule of the exploded-postings plans ([[scanScoreBase]],
    * [[columnarPass]]); `agg` folds posting rows into per-doc scores. A
    * docmeta predicate semi-joins the posting rows ([[Index.docmeta]]
    * excludes tombstoned docs, so it is also the kill filter); otherwise
    * tombstones anti-join the aggregate before any top-k (no join when
    * none exist; no strategy hint — AQE sizes the kill set at runtime).
    */
  private def liveScores(exploded: DataFrame, docPred: Option[Column])(
      agg: DataFrame => DataFrame): DataFrame = docPred match {
    case Some(pred) =>
      agg(exploded.join(index.docmeta.where(pred).select("doc_id"), Seq("doc_id"), "left_semi"))
    case None if index.hasTombstones =>
      agg(exploded).join(index.killedDocIds, Seq("doc_id"), "left_anti")
    case None => agg(exploded)
  }

  /** [[scanScoreAll]] with Boolean membership folded into the SAME scan
    * and aggregation — the phrase-mixed path's required/prohibited
    * algebra without any extra postings pass or join shuffle.
    *
    * Every required clause's terms are already scoring terms, so their
    * presence per doc is knowable from the rows the scoring scan reads
    * anyway; prohibited terms ride the same scan at weight 0 (zero score
    * contribution by construction). Each term carries a driver-computed
    * bitmask — bit i = MUST term i, bit |must|+j = member of group j,
    * top bit = prohibited — broadcast with the weights, and ONE extra
    * `bit_or` next to the score sum replaces what was previously a
    * [[conjunctiveDocs]] semi-join, one [[matchSet]] semi-join per
    * group, and a [[matchSet]] anti-join: at corpus scale those each
    * re-shuffled a hot term's full postings against the aggregate.
    * Returns (doc_id, score) already membership-filtered; score values
    * are bit-identical to the scanScoreAll + joins shape (same
    * contributions, same sum order class). Caller guarantees
    * |must| + |groups| < 63 and weights ∩ mustNot = ∅.
    */
  private[graft] def scanScoreMembership(
      weights: Map[String, Double], avgdl: Double,
      must: Seq[String], groups: Seq[Seq[String]],
      mustNot: Seq[String]): DataFrame =
    scanScoreBase(weights, avgdl, docPred = None,
      membership = Some((must, groups, mustNot)))

  /** The columnar side of [[scorePass]] (dense queries on segments wider
    * than [[DenseArraySegShiftMax]]): the postings of the specs' terms
    * decode ONCE (explode before the join), the broadcast (query_id,
    * term, w) table fans each posting out to its queries, a codegen'd
    * hash agg sums per (query_id, doc_id) with map-side partials, then
    * [[liveScores]] and each spec's cursor ([[Wand.cursorAccepts]]).
    */
  private def columnarPass(specs: Seq[Engine.QuerySpec], avgdl: Double,
      docPred: Option[Column]): Dataset[(Long, Scored)] = {
    val wRows = specs.flatMap(s => s.weights.map { case (t, w) => (s.qid, t, w) })
    val cursors = specs.iterator.map(s => s.qid -> s.after).toMap
    val exploded = index.termRows(wRows.map(_._2).distinct)(col("seg_id"), col("term"),
        explode(graft.functions.GraftFunctions.graft_postings(col("postings"))).as("p"))
      .join(broadcast(wRows.toDF("query_id", "term", "w")), Seq("term"))
      .select(col("query_id"),
        packedDocId(col("seg_id"), col("p.local")).as("doc_id"),
        (col("w") * Bm25.tfNormCol(col("p.tf").cast("double"),
          col("p.dl").cast("double"), lit(avgdl))).as("part"))
    liveScores(exploded, docPred)(
      _.groupBy(col("query_id"), col("doc_id")).agg(sum(col("part")).as("score")))
      .select(col("query_id"), col("doc_id"), col("score"))
      .as[(Long, Long, Double)]
      .map { case (q, d, sc) => (q, Scored(d, sc)) }
      .filter { case (q, s) => Wand.cursorAccepts(cursors(q)._1, cursors(q)._2, s.docId, s.score) }
  }

  /** Two-phase retrieve-then-re-rank by a SECOND exact metric — the
    * reference's defining end-to-end semantic (getReRankedResults,
    * LireRequestHandler.java:631-668: hash-term candidates re-scored by
    * `queryFeature.getDistance(tmpFeature)` from the DocValues side-store
    * into a bounded TreeSet; the one-query composite form
    * `q=f_ha:(h1 h2…)&sort=lirefunc(f,"hist") asc`, README.md:136-138).
    *
    * Phase 1: WAND top-`candidates` by BM25 over the index — `candidates`
    * carries its true reference semantics here: it bounds the approximate
    * phase-1 set and CAN change the final result set.
    * Phase 2: the tiny candidate set broadcast-joins the embedding
    * side-store (the analog of the reference's per-doc feature DocValues),
    * exact cosine to `queryVecId`'s embedding, top-`rows` by
    * (cos_q desc, doc_id asc).
    *
    * Plan shape at scale: one WAND pass (segment-parallel) + one broadcast
    * hash join against an embeddings scan filtered to candidate ids — the
    * big side is never shuffled.
    * Output: (rank, doc_id, cos_q, score_q) — rank by the SECOND metric,
    * score_q = the phase-1 BM25 score retained for transparency.
    */
  def searchRerank(terms: Seq[(String, Double)], embeddings: DataFrame,
                   queryVecId: Long, rows: Int = 60,
                   candidates: Int = 1000,
                   metric: String = "cosine"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cands = searchByTerms(terms, rows = candidates)
      .select(col("doc_id"), col("score_q"))
    val qv = embeddings.where(col("vec_id") === lit(queryVecId))
      .select(col("embedding").as("q_emb"))
    // Missing-feature semantics (LireValueSource.java:274-276: a doc
    // without the stored feature gets maxDistance — it ranks LAST but
    // still appears): a phase-1 candidate with no embedding row must not
    // vanish, so its cos_q is the sentinel below every real value
    // (cos_q ∈ [-10^4, 10^4]). Plan shape at scale: the big embeddings
    // table is touched ONCE by a broadcast semi-join (build side = the
    // tiny candidate set); the preserved-side left join then runs
    // tiny ⋈ tiny — the big side is never the probe side of an outer join.
    val embCand = embeddings
      .join(broadcast(cands.select(col("doc_id"))),
        col("vec_id") === col("doc_id"), "left_semi")
      .select(col("vec_id"), col("embedding"))
    val joined = cands
      .join(broadcast(embCand), col("doc_id") === col("vec_id"), "left")
      .crossJoin(broadcast(qv))
    // phase-2 metric is polymorphic per the reference's per-feature
    // getDistance (LireRequestHandler.java:651, MetricsUtils distL1/
    // distL2 next to cosine — VERDICT r04 "What's missing" #2): cosine is
    // a SIMILARITY (rank desc), l1/l2 are DISTANCES (rank asc, missing →
    // the over-max sentinel so absent features still rank last)
    metric match {
      case "cosine" =>
        joined
          .select(col("doc_id"), col("score_q"),
            coalesce(
              round(graft.ml.Ann.cosine(col("q_emb"), col("embedding")) * lit(1e4))
                .cast("long"),
              lit(Engine.MissingFeatureCosQ)).as("cos_q"))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("cos_q").desc, col("doc_id").asc)).cast("long"))
          .where(col("rank") <= rows)
          .select("rank", "doc_id", "cos_q", "score_q")
      case "l1" | "l2" | "tanimoto" =>
        val dist = metric match {
          case "l1" =>
            graft.functions.GraftFunctions.graft_l1(col("q_emb"), col("embedding"))
          case "l2" =>
            graft.functions.GraftFunctions.graft_l2(col("q_emb"), col("embedding"))
          case _ =>
            graft.functions.GraftFunctions.graft_tanimoto(col("q_emb"), col("embedding"))
        }
        joined
          .select(col("doc_id"), col("score_q"),
            coalesce(round(dist * lit(1e4)).cast("long"),
              lit(Engine.MissingFeatureDistQ)).as("dist_q"))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("dist_q").asc, col("doc_id").asc)).cast("long"))
          .where(col("rank") <= rows)
          .select("rank", "doc_id", "dist_q", "score_q")
      case other =>
        throw new IllegalArgumentException(
          s"searchRerank metric must be cosine|l1|l2|tanimoto, got $other")
    }
  }

  /** Search + stored-field projection: top-k hits broadcast-joined back to
    * docmeta for the requested fields (reference J3: `searcher.doc(docId)`
    * per surviving hit + P1 fl projection, LireRequestHandler.java:653,
    * 581-617 — k is tiny, so the join side is always broadcast).
    */
  def searchWithFields(terms: Seq[(String, Double)], fields: Seq[String],
                       rows: Int = 60): DataFrame = {
    val hits = searchByTerms(terms, rows)
    index.docmeta.join(broadcast(hits), Seq("doc_id"))
      .select((Seq("rank", "doc_id", "score_q") ++ fields).map(col): _*)
      .orderBy(col("rank"))
  }

  /** Batched multi-query search: score MANY queries in ONE pass over the
    * segment files — the Spark-native answer to per-request engines: job
    * scheduling and the segment scan amortize across the whole batch, so
    * sustained throughput is bounded by Σ df(terms) instead of per-query
    * job latency. No pruning/accuracy here: callers pre-prune with
    * [[prune]] if wanted. Query ids must be distinct.
    *
    * The same [[scorePass]] as [[searchByTerms]] — one spec per query,
    * one df lookup for the batch, each query on its own [[specOf]] route
    * (sparse queries on block-max WAND) — so each query's results are
    * rank-identical to its single run; the merge is the per-query heap
    * ([[Wand.topKPerQuery]]), and the whole batch is one Spark job run at
    * call time. Output: (query_id, rank, doc_id, score_q), local rows.
    */
  def searchManyByTerms(
      queries: Seq[(Long, Seq[(String, Double)])],
      rows: Int = 60,
      candidates: Int = 10000): DataFrame =
    Wand.topKPerQuery(manyPass(queries, rows, candidates), rows)

  /** [[searchManyByTerms]]'s scoring pass before the merge (see
    * [[termsPass]]).
    */
  private[graft] def manyPass(
      queries: Seq[(Long, Seq[(String, Double)])],
      rows: Int = 60,
      candidates: Int = 10000): Dataset[(Long, Scored)] = {
    val ids = queries.map(_._1)
    val repeated = ids.diff(ids.distinct)
    require(repeated.isEmpty, s"query ids must be distinct: query_id ${repeated.head} repeats")
    val dfs = index.dfOf(queries.flatMap(_._2.map(_._1)).distinct)
    val (n, _) = index.stats
    // zero-df terms drop out; a query left with none scores nothing
    val specs = queries.flatMap { case (qid, ts) =>
      val kept = ts.flatMap { case (t, b) => dfs.get(t).filter(_ > 0).map(df => (t, b, df)) }
      if (kept.isEmpty) None else Some(specOf(qid, kept, n, rows, candidates, useWand = true))
    }
    scorePass(specs, rows, candidates, None, None)
  }

  /** Paged search — Solr's `start` offset (every Solr handler takes
    * start/rows; the reference's README queries page with it). Computes
    * the exact top-(start+rows) and returns ranks (start, start+rows] with
    * their GLOBAL rank, exactly Solr's result-window semantics. The heap
    * budget grows by the offset — deep paging costs what it costs
    * everywhere (Solr's cursorMark exists for that reason; same trade
    * here).
    */
  def searchPage(terms: Seq[(String, Double)], start: Int, rows: Int = 60,
                 accuracy: Double = 1.0, candidates: Int = 10000): DataFrame = {
    // Solr rejects a negative start; start + rows is the heap size, so it
    // must fit an Int
    require(start >= 0, s"start must be >= 0, got $start")
    require(start.toLong + rows <= Int.MaxValue,
      s"start + rows must be <= ${Int.MaxValue}, got start $start + rows $rows")
    searchByTerms(terms, rows = start + rows, accuracy = accuracy,
      candidates = math.max(candidates, start + rows))
      .where(col("rank") > start)
  }

  /** Solr `/export` handler analog: the FULL sorted match set — every
    * matching doc with its exact BM25 score and global rank, no top-k
    * window (the export-for-analytics shape; Solr streams it sorted by
    * docValues for the same reason). Plan shape at scale: the exact
    * exploded-postings score plan ([[scanScoreAll]], kill-excluded),
    * then a RANGE-PARTITIONED orderBy + zipWithIndex rank offsets — no
    * single-partition rank window (the fullSort rule, Ann.scala), so the
    * sort parallelizes across executors at any match-set size. Use
    * [[searchAfter]] when the consumer pages instead of dumping.
    */
  def exportMatches(terms: Seq[(String, Double)]): DataFrame = {
    import spark.implicits._
    exportScored(terms) match {
      case None =>
        spark.emptyDataset[(Long, Long, Long)].toDF("rank", "doc_id", "score_q")
      case Some(sorted) =>
        sorted.as[(Long, Long)]
          .rdd.zipWithIndex()
          .map { case ((d, s), i) => (i + 1, d, s) }
          .toDF("rank", "doc_id", "score_q")
    }
  }

  /** The sorted (doc_id, score_q) match set [[exportMatches]] ranks —
    * exposed pre-zipWithIndex because the RDD hop severs the Catalyst
    * lineage: THIS is the plan the no-single-partition-window pin must
    * inspect (the post-hop plan is always just an ExternalRDDScan).
    * None = no corpus-present term.
    */
  private[graft] def exportScored(terms: Seq[(String, Double)]): Option[DataFrame] = {
    val kept = keptTerms(terms, accuracy = 1.0) // ONE kept-term rule with the search paths
    if (kept.isEmpty) return None
    val (n, avgdl) = index.stats
    Some(scanScoreAll(weightsOf(kept, n), avgdl)
      .select(col("doc_id"),
        round(col("score") * lit(Bm25.Quant)).cast("long").as("score_q"))
      .orderBy(col("score_q").desc, col("doc_id").asc))
  }

  /** Facet counts over the query's FULL match set (docs containing any
    * query term — Boolean-OR match semantics, not the top-k window):
    * Solr's `facet=true&facet.field=<f>` on the same request.
    *
    * Fast path (field covered by the persisted filter side-index): the
    * match set never leaves its segment — per segment, the query terms'
    * postings OR into one local bitmap, which meets the per-(value)
    * filter bitmaps (and the kill bitmaps, through the same side join as
    * P2's fq path) in the scan task; each facet count is a popcount of
    * `match AND value [ANDNOT kill]`, and only (value, count) rows — a
    * handful per segment — reach the final tiny aggregation. The slow
    * path's per-query shuffle of EVERY matching doc_id (distinct +
    * semi-join into docmeta) disappears; that path remains for uncovered
    * fields and is pinned count-identical in IndexSpec/UpsertSpec.
    */
  def facet(terms: Seq[(String, Double)], field: String,
            docFilter: Option[(String, String)] = None): DataFrame =
    if (index.hasFilters && index.filterColsComplete.contains(field) &&
        docFilter.forall(f => index.filterColsComplete.contains(f._1)))
      facetBitmap(terms, field, docFilter)
    else facetScan(terms, field, docFilter)

  /** Solr `facet.sort=count` + `facet.limit` + `facet.mincount`: the
    * top-`limit` facet values by count desc (value asc tie — a total
    * order, so the cutoff is deterministic), counts below `mincount`
    * dropped. The missing-value (null) group is excluded, as with Solr's
    * default `facet.missing=false`.
    */
  def facetTop(terms: Seq[(String, Double)], field: String,
               docFilter: Option[(String, String)] = None,
               mincount: Long = 1, limit: Int = 100): DataFrame =
    facet(terms, field, docFilter)
      .where(col("value").isNotNull && col("n") >= lit(mincount))
      .orderBy(col("n").desc, col("value").asc)
      .limit(limit)

  private[graft] def facetBitmap(terms: Seq[(String, Double)], field: String,
                                 docFilter: Option[(String, String)] = None): DataFrame = {
    import spark.implicits._
    val hits = index.termRows(terms.map(_._1).distinct)(col("seg_id"), col("postings"))
      .as[(Long, Array[Byte])]
    perSegment(hits, fq = docFilter, valueFields = Seq(field))(_._1) {
      (_, it, allow, values) =>
        // matching docs under NO value bitmap (a null `field`) count into
        // the null group, as facetScan's docmeta grouping counts them
        Wand.valueSlices(Engine.matchBitmap(it.map(_._2), allow), values(0))
          .iterator.map { case (value, slice) => (value, slice.getLongCardinality) }
    }
      .toDF("value", "n0")
      .groupBy(col("value"))
      .agg(sum(col("n0")).as("n"))
  }

  /** Distinct doc ids of the Boolean-OR match set (docs containing any of
    * the terms) — one postings scan, no scoring. Tombstoned docs are NOT
    * excluded here; consumers joining [[Index.docmeta]] inherit its
    * exclusion.
    */
  private def matchSet(terms: Seq[(String, Double)]): DataFrame = {
    index.termRows(terms.map(_._1).distinct)(col("seg_id"),
        explode(graft.functions.GraftFunctions.graft_postings(col("postings"))).as("p"))
      .select(packedDocId(col("seg_id"), col("p.local")).as("doc_id"))
      .distinct()
  }

  /** Uncovered-field facet: one match-set semi-join into docmeta, one
    * count per value. `value` is string-cast so both dispatch paths emit
    * ONE schema (the filter store keys bitmaps by the string form); the
    * fq compares the string form for the same reason.
    */
  private[graft] def facetScan(terms: Seq[(String, Double)], field: String,
                               docFilter: Option[(String, String)] = None): DataFrame = {
    val base = index.docmeta.join(matchSet(terms), Seq("doc_id"), "left_semi")
    val filtered = docFilter match {
      case Some((c, v)) => base.where(col(c).cast("string") === lit(v))
      case None => base
    }
    filtered
      .groupBy(col(field).cast("string").as("value"))
      .agg(count(lit(1)).as("n"))
  }

  /** Solr highlighting (`hl=true&hl.fl=content`, snippet form): for each
    * top-`rows` hit, `width` chars of lower(content) starting 30 chars
    * before the FIRST occurrence of any whole-word query token.
    * Shingle-hash terms have no stored-text form, so a doc matched only
    * through them snippets from the field head — Solr's
    * `hl.alternateField` fallback. Positions via codegen'd instr/least —
    * no tokenizer round trip, exactly mirrorable in SQL. Plan: the tiny
    * hit list broadcasts into ONE pass over the doc store (`corpus` —
    * content is a stored field of the corpus, not the index, as with
    * [[searchById]]).
    */
  def highlight(corpus: DataFrame, terms: Seq[(String, Double)],
                rows: Int = 20, width: Int = 80): DataFrame = {
    val hits = searchByTerms(terms, rows).select(col("rank"), col("doc_id"))
    val toks = terms.map(_._1).distinct.collect {
      case t if t.startsWith("w:") =>
        t.substring(2).toLowerCase(java.util.Locale.ROOT)
    }
    val lc = lower(col("content"))
    val posOf = toks.map(t => when(instr(lc, t) > 0, instr(lc, t)))
    val firstPos: Column = posOf match {
      case Seq() => lit(1)
      case Seq(one) => coalesce(one, lit(1))
      case many => coalesce(least(many: _*), lit(1))
    }
    corpus.join(broadcast(hits), Seq("doc_id"))
      .select(col("rank"), col("doc_id"),
        substr(lc, greatest(lit(1), firstPos - lit(30)), lit(width))
          .as("snippet"))
      .orderBy(col("rank"))
  }

  /** Solr SpellCheck component (`spellcheck.q=<t>&spellcheck.count=<k>`):
    * indexed terms within `maxEdits` Levenshtein distance of the input,
    * most-frequent first (df DESC, term ASC total order) — Solr's
    * popularity-ranked suggestions. Served from the persisted dictionary
    * (vocabulary-sized scan; codegen'd levenshtein — the n-gram
    * pre-filter Solr's FST suggester uses is the documented upgrade if a
    * 100×-vocabulary ever makes the scan hot).
    */
  def spellcheck(term: String, maxEdits: Int = 2, limit: Int = 10): DataFrame =
    driverVocab match {
      case Some(m) =>
        // driver route (vocabulary under the expansion cap): length band +
        // exact Levenshtein over the in-memory dictionary; same
        // driver-local result relation as the gram-pruned route below
        val rows = m.iterator
          .filter { case (t, _) =>
            t != term && math.abs(t.length - term.length) <= maxEdits }
          .filter { case (t, _) => Engine.levenshteinScala(t, term) <= maxEdits }
          .filter(_._2 > 0)
          .toSeq
          .sortBy { case (t, df) => (-df, t) }
          .take(limit)
        spark.createDataset(rows).toDF("term", "df")
      case None => spellcheckDistributed(term, maxEdits, limit)
    }

  /** Over-cap spellcheck: gram-pruned when available, dictionary scan
    * otherwise — see [[spellcheck]].
    */
  private[graft] def spellcheckDistributed(term: String, maxEdits: Int = 2,
      limit: Int = 10): DataFrame =
    fuzzyCandidates(term, maxEdits) match {
      case Some(cands) =>
        // gram-pruned route: suggestions already in hand (tiny), the df
        // resolve + order runs driver-side; result-identical to the scan
        // (pinned in IndexSpec)
        val dfs = index.dfOf(cands.map(_._1))
        val rows = cands.iterator
          .filter(_._1 != term)
          .map { case (t, _) => (t, dfs.getOrElse(t, 0L)) }
          .filter(_._2 > 0)
          .toSeq
          .sortBy { case (t, df) => (-df, t) }
          .take(limit)
        spark.createDataset(rows).toDF("term", "df")
      case None =>
        index.dictionary
          .where(levenshtein(col("term"), lit(term)) <= lit(maxEdits) &&
            col("term") =!= lit(term))
          .select(col("term"), col("df"))
          .orderBy(col("df").desc, col("term").asc)
          .limit(limit)
    }

  /** Solr sort param (`sort=<f> asc|desc`): the match set ordered by a
    * stored docmeta field instead of relevance, doc_id-asc tie (a total
    * order — deterministic cutoff). Output (rank, doc_id, sort_value);
    * sort_value is string-cast for one schema across field types, the
    * ORDER itself runs on the raw column. Plan: match-set semi-join +
    * TakeOrderedAndProject — per-partition bounded heaps, never a global
    * sort ([[Wand.topK]]'s shape for score-free orderings).
    */
  def searchSortedBy(terms: Seq[(String, Double)], field: String,
                     ascending: Boolean = true, rows: Int = 60): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val key = if (ascending) col(field).asc else col(field).desc
    index.docmeta.join(matchSet(terms), Seq("doc_id"), "left_semi")
      .orderBy(key, col("doc_id").asc)
      .limit(rows)
      .withColumn("rank", row_number().over(
        Window.orderBy(key, col("doc_id").asc)).cast("long"))
      .select(col("rank"), col("doc_id"),
        col(field).cast("string").as("sort_value"))
  }

  /** Solr Terms component (`/terms?terms.prefix=<p>&terms.limit=<k>`,
    * default `terms.sort=count`): indexed terms with the given prefix,
    * ordered (df DESC, term ASC — a total order, deterministic cutoff).
    * Served entirely from the persisted per-unit dictionary store
    * ([[Index.dictionary]]) — vocabulary-sized, postings never touched.
    * Note Lucene terms stats: df counts every version of a doc until
    * compaction reclaims tombstones (stale-until-merge, as everywhere).
    */
  def termsEnum(prefix: String, limit: Int = 10): DataFrame =
    index.dictionary
      .where(col("term").startsWith(prefix))
      .select(col("term"), col("df"))
      .orderBy(col("df").desc, col("term").asc)
      .limit(limit)

  /** Solr range faceting (`facet.range=<f>` with start/end/gap) over the
    * query's full match set: one row per non-empty bucket
    * (bucket_start, n), buckets [start + i·gap, start + (i+1)·gap), docs
    * outside [start, end) excluded (Solr's before/after counts compose
    * from the same scan). Bucket assignment is INTEGER arithmetic
    * (v − ((v − start) % gap)) — a float floor-divide could flip a
    * boundary bucket between engines. Same plan as [[facetScan]]: one
    * match-set semi-join, one codegen'd aggregation.
    */
  def facetRange(terms: Seq[(String, Double)], field: String,
                 start: Long, end: Long, gap: Long): DataFrame = {
    require(gap > 0 && end > start, "facetRange needs gap > 0 and end > start")
    index.docmeta.join(matchSet(terms), Seq("doc_id"), "left_semi")
      .where(col(field) >= lit(start) && col(field) < lit(end))
      .groupBy((col(field) - ((col(field) - lit(start)) % lit(gap)))
        .cast("long").as("bucket_start"))
      .agg(count(lit(1)).as("n"))
  }

  /** Solr pivot faceting (`facet.pivot=<f1>,<f2>`): nested counts over
    * the full match set, flattened to (value, pivot, n) rows — value =
    * f1's value, pivot = f2's. Fast path (BOTH columns covered by the
    * filter side-index in every unit): per segment the match bitmap
    * intersects each f1 value bitmap once, and each non-empty
    * intersection popcounts against the f2 value bitmaps — emission is
    * bounded by values-present(f1) × values-present(f2) per segment
    * (filter columns are low-cardinality by contract) and no doc id ever
    * leaves its segment. Docs missing either column count into that
    * level's NULL group, exactly as the docmeta-scan fallback groups
    * them.
    */
  def facetPivot(terms: Seq[(String, Double)], field: String,
                 pivotField: String): DataFrame =
    if (index.hasFilters && index.filterColsComplete.contains(field) &&
        index.filterColsComplete.contains(pivotField))
      facetPivotBitmap(terms, field, pivotField)
    else facetPivotScan(terms, field, pivotField)

  private[graft] def facetPivotScan(terms: Seq[(String, Double)],
                                    field: String,
                                    pivotField: String): DataFrame =
    index.docmeta.join(matchSet(terms), Seq("doc_id"), "left_semi")
      .groupBy(col(field).cast("string").as("value"),
        col(pivotField).cast("string").as("pivot"))
      .agg(count(lit(1)).as("n"))

  private[graft] def facetPivotBitmap(terms: Seq[(String, Double)],
                                      field: String,
                                      pivotField: String): DataFrame = {
    import spark.implicits._
    val hits = index.termRows(terms.map(_._1).distinct)(col("seg_id"), col("postings"))
      .as[(Long, Array[Byte])]
    perSegment(hits, valueFields = Seq(field, pivotField))(_._1) {
      (_, it, allow, values) =>
        // one f1 slice = the docs of one (value) cell; each slice then
        // splits by the f2 bitmaps — both levels keep their null group
        Wand.valueSlices(Engine.matchBitmap(it.map(_._2), allow), values(0))
          .iterator.flatMap { case (v1, slice) =>
            Wand.valueSlices(slice, values(1)).iterator
              .map { case (v2, cell) => (v1, v2, cell.getLongCardinality) }
          }
    }
      .toDF("value", "pivot", "n0")
      .groupBy(col("value"), col("pivot"))
      .agg(sum(col("n0")).as("n"))
  }

  /** Solr StatsComponent (`stats=true&stats.field=<f>`) over the query's
    * full Boolean-OR match set: one row (n, min_v, max_v, sum_v, mean_q)
    * of a numeric docmeta field — the Solr core statistics; mean is
    * quantized (×10⁶) like every cross-engine double. Plan: the match-set
    * postings scan semi-joins docmeta once, then a single codegen'd
    * partial-agg — no doc rows reach the driver, tombstones excluded via
    * [[Index.docmeta]].
    */
  def statsField(terms: Seq[(String, Double)], field: String): DataFrame =
    index.docmeta.join(matchSet(terms), Seq("doc_id"), "left_semi")
      .agg(count(lit(1)).as("n"),
        min(col(field)).cast("long").as("min_v"),
        max(col(field)).cast("long").as("max_v"),
        sum(col(field)).cast("long").as("sum_v"),
        // mean from the exact integer sum with one double division — the
        // oracle mirrors the op order so rounding cannot diverge
        round(sum(col(field)).cast("double") * lit(1e6) / count(lit(1)))
          .cast("long").as("mean_q"))

  /** Lucene/Solr block join, to-parent direction (`{!parent
    * which=type:parent}childQuery` / ToParentBlockJoinQuery — the
    * reference tree's one unconsumed data shape, nesteddocs.xml:2-6:
    * a parent_b doc wrapping child docs): rank PARENTS by their matching
    * CHILDREN's BM25 scores. Parent/child here is the corpus's real
    * nesting — files (children) under a repo (parent) — with the parent
    * key materialized as the child's `repo` column rather than Lucene's
    * doc-id block adjacency (our doc ids are range-structured; the
    * docmeta key plays the parent BitSet's role).
    *
    * `scoreMode` is Lucene's ScoreMode over the child block:
    *   max   — parent score = best child (ToParentBlockJoinQuery default
    *           scoring choice in Solr's score=max)
    *   total — Σ child scores
    *   avg   — total div n (INTEGER division on the quantized scores —
    *           float division could flip a rank between engines)
    * Children are quantized BEFORE aggregation (Σ/max of longs is
    * partition-order invariant; a double sum would not be). Output
    * (rank, parent, score_q, n_children), rank by (score_q DESC, parent
    * ASC).
    *
    * Scale shape: exact all-match scoring ([[scanScoreAll]] — exploded
    * postings of the query terms only), one doc-keyed join to docmeta
    * for the parent key (the facetScan analog, match-set-sized), then a
    * map-side-partial aggregation on the parent key and a bounded top-k.
    * No cartesian, no window over the corpus, no driver loop.
    */
  def blockJoinParents(childTerms: Seq[(String, Double)],
                       scoreMode: String = "max",
                       rows: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val kept = keptTerms(childTerms, 1.0)
    if (kept.isEmpty)
      return spark.emptyDataset[(Long, String, Long, Long)]
        .toDF("rank", "parent", "score_q", "n_children")
    val (n, avgdl) = index.stats
    val weights = weightsOf(kept, n)
    // Covered parent key + narrow segments: segment-local per-value fold
    // ([[Wand.scoreSegmentValueAgg]]) — postings fold into the dense
    // score array once, children quantize per doc, and each repo bitmap
    // sweeps its intersection into (parent, Σq, max q, n); ONE row per
    // (segment, parent) leaves the task. The previous shape shuffled the
    // full match set (exploded postings → doc-keyed hash agg → SMJ with
    // docmeta → parent agg): 3 exchanges carrying the whole child set,
    // vs 1 tiny value-row exchange here (measured 2.2 s → 0.7 s at the
    // 600k-doc bench corpus). Integer Σ/max per parent are partition-
    // order invariant, so output is identical to the join route (the
    // fallback below, kept for uncovered keys / wide segments and pinned
    // equal in PlanSpec).
    val viaBitmap = index.hasFilters && index.filterColsComplete.contains("repo") &&
      denseArrayFits
    val agg: DataFrame =
      if (viaBitmap) {
        val wB = spark.sparkContext.broadcast(weights)
        val cfg = index.cfg
        perSegment(segHits(weights.keys.toSeq), valueFields = Seq("repo"))(_.seg_id) {
          (seg, it, allow, values) =>
            Wand.scoreSegmentValueAgg(seg, it, values(0), allow, wB.value, avgdl, cfg)
        }
          .toDF("parent", "sum_q", "max_q", "nc")
          .groupBy(col("parent"))
          .agg(sum(col("sum_q")).cast("long").as("total_q"),
            max(col("max_q")).cast("long").as("max_q"),
            sum(col("nc")).cast("long").as("n_children"))
      } else {
        val children = scanScoreAll(weights, avgdl, None)
          .withColumn("score_q", round(col("score") * lit(Bm25.Quant)).cast("long"))
          .select(col("doc_id"), col("score_q"))
        index.docmeta
          .select(col("doc_id"), col("repo").cast("string").as("parent"))
          .join(children, Seq("doc_id"))
          .groupBy(col("parent"))
          .agg(sum(col("score_q")).cast("long").as("total_q"),
            max(col("score_q")).cast("long").as("max_q"),
            count(lit(1)).cast("long").as("n_children"))
      }
    val score = scoreMode match {
      case "max" => col("max_q")
      case "total" => col("total_q")
      case "avg" => expr("total_q div n_children")
      case other =>
        throw new IllegalArgumentException(
          s"blockJoinParents scoreMode must be max|total|avg, got $other")
    }
    agg.select(col("parent"), score.as("score_q"), col("n_children"))
      .orderBy(col("score_q").desc, col("parent").asc)
      .limit(rows)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_q").desc, col("parent").asc)).cast("long"))
      .select("rank", "parent", "score_q", "n_children")
  }

  /** Solr result grouping / field collapsing
    * (`group=true&group.field=f&group.limit=m&rows=g`): the top-`groups`
    * groups ordered by their best doc (score_q DESC, doc_id ASC — a
    * group's best doc is unique to it, so the order is total), each
    * carrying its own top-`groupLimit` docs. Output: (group_rank, value,
    * rank, doc_id, score_q); `rank` is group-relative (1..groupLimit);
    * docs with no value in the field form the null group, as in Solr.
    *
    * Plan: covered field + narrow segments -> segment-local grouped
    * scorer ([[Wand.scoreSegmentGrouped]]): postings fold into the dense
    * score array ONCE, each group-value bitmap sweeps its intersection
    * into a bounded heap of `groupLimit`, and only (value, top-doc) rows
    * — bounded by values-in-segment × groupLimit — leave the segment
    * task. The global merge is a keyed bounded heap (map-side partials),
    * and groups then rank through the SAME TopKAgg over each group's
    * best doc — no unpartitioned window, no driver-side loop anywhere.
    * Uncovered fields score-all + join docmeta for the value (one
    * shuffle of the match set — the facetScan analog, documented cost);
    * an arbitrary `docPred` (Solr q+fq+group) takes the same fallback,
    * with the predicate applied as [[scanScoreAll]]'s docmeta semi-join.
    *
    * EAGER: unlike every other Engine API, this runs the full scoring
    * jobs at call time — the tiny merged group table is localCheckpoint'd
    * so the group-rank self-join can't recompute the heavy lineage twice
    * (see [[searchGroupedVia]]). The checkpointed blocks are not fault
    * tolerant: an executor loss after return fails downstream actions of
    * the RETURNED DataFrame instead of recomputing (re-call to recover);
    * acceptable because the checkpointed table is ≤ field-cardinality
    * rows and the window between call and consumption is one query.
    */
  def searchGrouped(terms: Seq[(String, Double)], field: String,
                    groupLimit: Int = 10, groups: Int = 10,
                    accuracy: Double = 1.0,
                    docPred: Option[Column] = None,
                    docFilter: Option[(String, String)] = None): DataFrame =
    searchGroupedVia(terms, field, groupLimit, groups, accuracy,
      forceScan = false, docPred, docFilter)

  /** Solr CollapsingQParserPlugin (`fq={!collapse field=f}`): the normal
    * FLAT ranked result list, but at most one doc — each value's best by
    * (score_q DESC, doc_id ASC) — per field value; docs with no value
    * collapse into the null group, as the plugin's nullPolicy=collapse.
    * Exactly [[searchGrouped]] at `groupLimit = 1` reshaped flat, so it
    * inherits the segment-local grouped scorer, its plan pins AND its
    * eager-evaluation/checkpoint caveat (see [[searchGrouped]]); output
    * (rank, value, doc_id, score_q).
    */
  def searchCollapsed(terms: Seq[(String, Double)], field: String,
                      rows: Int = 60, accuracy: Double = 1.0,
                      docPred: Option[Column] = None,
                      docFilter: Option[(String, String)] = None): DataFrame =
    searchGrouped(terms, field, groupLimit = 1, groups = rows, accuracy,
      docPred, docFilter)
      .select(col("group_rank").as("rank"), col("value"),
        col("doc_id"), col("score_q"))

  private[graft] def searchGroupedVia(
      terms: Seq[(String, Double)], field: String, groupLimit: Int,
      groups: Int, accuracy: Double, forceScan: Boolean,
      docPred: Option[Column] = None,
      docFilter: Option[(String, String)] = None): DataFrame = {
    import spark.implicits._
    val kept = keptTerms(terms, accuracy)
    if (kept.isEmpty)
      return spark.emptyDataset[(Long, String, Long, Long, Long)]
        .toDF("group_rank", "value", "rank", "doc_id", "score_q")
    val (n, avgdl) = index.stats
    val weights = weightsOf(kept, n)
    val cfg = index.cfg
    // fq resolution is the ONE rule shared with searchByTerms/searchBool
    // ([[fqSplit]]): a sole equality fq on a fully covered column rides
    // the bitmap side join; anything else — an arbitrary docPred (Solr
    // q+fq+group), a combined pred+fq, or an uncovered column — becomes a
    // predicate on the scan fallback (silently ignoring it would be the
    // P2 bug class all over again)
    val (bitmapFq, pred0) = fqSplit(docPred, docFilter)
    val viaBitmap = !forceScan && pred0.isEmpty && index.hasFilters &&
      index.filterColsComplete.contains(field) && denseArrayFits
    val perVal: org.apache.spark.sql.Dataset[(String, Scored)] =
      if (viaBitmap) {
        // a sole covered equality fq rides the same side join as the value
        // bitmaps (as in searchByTerms) and intersects the touched set
        // inside the segment
        val wB = spark.sparkContext.broadcast(weights)
        val gl = groupLimit
        perSegment(segHits(weights.keys.toSeq), fq = bitmapFq,
          valueFields = Seq(field))(_.seg_id) { (seg, it, allow, values) =>
          Wand.scoreSegmentGrouped(seg, it, values(0), allow, wB.value, avgdl, gl, cfg)
        }
      } else
        scanScoreAll(weights, avgdl,
          bitmapFq match {
            // scan fallback with a covered fq (forceScan / wide segments):
            // the result-identical predicate form
            case Some((c, v)) => Some(col(c) === lit(v))
            case None => pred0
          })
          .join(index.docmeta.select(col("doc_id"),
            col(field).cast("string").as("gval")), Seq("doc_id"))
          .select(col("gval"), col("doc_id"), col("score"))
          .as[(String, Long, Double)]
          .map { case (v, d, s) => (v, Scored(d, s)) }
    // per-group global top-groupLimit, best-first within each group.
    // localCheckpoint: the tiny merged table (≤ field cardinality rows)
    // feeds BOTH the group-ranking aggregate and the final explode — the
    // checkpoint stops Spark re-running the whole scoring pass twice
    // (fault-tolerance trade as in Curation: a lost block fails the query
    // instead of recomputing — acceptable for an interactive result set)
    val merged = perVal.groupByKey(_._1)
      .agg(new TopKAgg[(String, Scored)](groupLimit, _._2).toColumn.name("docs"))
      .localCheckpoint()
    // group order = TopKAgg over each group's best doc (its head): the
    // heap's (score_q DESC, docId ASC) IS Solr's group sort by top doc
    val topBests = merged.map(_._2.head)
      .select(new TopKAgg[Scored](groups, identity).toColumn)
      .flatMap(_.zipWithIndex.map { case (s, i) => ((i + 1).toLong, s.docId) })
      .toDF("group_rank", "bdoc")
    val exploded = merged.flatMap { case (v, docs) =>
      val bd = docs.head.docId
      docs.zipWithIndex.map { case (s, i) =>
        (bd, v, (i + 1).toLong, s.docId, s.scoreQ)
      }
    }.toDF("bdoc", "value", "rank", "doc_id", "score_q")
    exploded.join(broadcast(topBests), Seq("bdoc"))
      .select(col("group_rank"), col("value"), col("rank"), col("doc_id"),
        col("score_q"))
      .orderBy(col("group_rank"), col("rank"))
  }

  /** Textual query front-end: parse the reference's `hashes`-verb string
    * form and search. Grammar (the WhitespaceAnalyzer + QueryParser surface
    * of LireRequestHandler.java:494-506, boosted MetricSpaces terms
    * `R%06d^%1.2f`): whitespace-separated terms, each with an optional
    * `^boost` suffix (default 1.0).
    */
  def searchByQueryString(q: String, rows: Int = 60, accuracy: Double = 1.0,
                          candidates: Int = 10000): DataFrame =
    searchByTerms(Engine.parseQuery(q), rows, accuracy, candidates)

  /** Free-content search: tokenize the query content with the SAME
    * analyzer as indexing (index/query symmetry, SURVEY.md §3.3), distinct
    * terms, boost 1 (Boolean-OR semantics: query tf ignored, as in the
    * reference's OR-of-TermQuerys).
    */
  def searchByContent(content: String, rows: Int = 60, accuracy: Double = 1.0,
                      candidates: Int = 10000): DataFrame = {
    val terms = graft.analyze.Tokenizer.termsScala(content).distinct.toSeq.map(_ -> 1.0)
    searchByTerms(terms, rows, accuracy, candidates)
  }

  /** More-like-this by doc id (reference `id` verb, §3.1): fetch the doc's
    * content from the corpus table (point lookup), query by its terms.
    */
  def searchById(corpus: DataFrame, docId: Long, rows: Int = 60,
                 accuracy: Double = 1.0, candidates: Int = 10000): DataFrame = {
    val content = corpus.where(col("doc_id") === docId)
      .select(col("content")).as[String].head()
    searchByContent(content, rows, accuracy, candidates)
  }

  /** The `extract` verb (reference §3.3, LireRequestHandler.java:384-439):
    * tokenize content with the index analyzer, return every distinct term
    * with its global df, df-asc list rank (bs_list analog) and whether the
    * accuracy budget keeps it (bs_query analog). Pure metadata — no search.
    * Output: (term, df, list_rank, kept 0/1).
    */
  def extract(content: String, accuracy: Double): DataFrame = {
    import index.spark
    val terms = graft.analyze.Tokenizer.termsScala(content).distinct.toSeq
    val dfs = index.dfOf(terms)
    val sorted = terms.map(t => (t, dfs.getOrElse(t, 0L)))
      .sortBy { case (t, df) => (df, t) }
      .zipWithIndex.map { case ((t, df), i) => (t, df, (i + 1).toLong) }
    val nonzero = sorted.filter(_._2 > 0)
    val base = if (nonzero.size >= 3) nonzero else sorted.take(3)
    val budget = math.max(3, math.floor(terms.size * accuracy).toInt)
    val kept = base.take(budget).map(_._1).toSet
    spark.createDataFrame(sorted.map { case (t, df, r) =>
      (t, df, r, if (kept(t)) 1L else 0L)
    }).toDF("term", "df", "list_rank", "kept")
  }

  /** Deterministic "random" sample (reference T6 made seeded): order by
    * md5(seed || doc_id) — reproducible in SQL, unlike rand().
    */
  def randomDocs(seed: String, rows: Int): DataFrame =
    index.docmeta
      .select(col("doc_id"), md5(concat(lit(seed), lit(":"), col("doc_id"))).as("rkey"))
      .orderBy(col("rkey").asc, col("doc_id").asc)
      .limit(rows)
}

object Engine {
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, Engine]()

  /** Where a query's scoring runs, as the engine's `specOf` picks it:
    * per-segment DAAT, the segment-local dense-array kernel, or the
    * columnar exploded-postings plan.
    */
  private[graft] sealed trait Route
  private[graft] object Route {
    case object Daat extends Route
    case object DenseArray extends Route
    case object Columnar extends Route
  }

  /** One term query of the engine's scoring pass: `weights` (boost·idf)
    * and `route` as the engine's `specOf` gives them, `useWand` (block-max
    * pruning on the DAAT route), the search-after cursor `after` (score_q,
    * doc_id; the default admits every doc), and BooleanQuery clauses
    * ([[boolAllow]]).
    */
  private[graft] final case class QuerySpec(
      qid: Long, weights: Map[String, Double], route: Route, useWand: Boolean,
      after: (Long, Long) = (Long.MaxValue, Long.MinValue),
      must: Set[String] = Set.empty, mustNot: Set[String] = Set.empty,
      mustGroups: Seq[Set[String]] = Nil) {

    /** This query's top-`heapSize` of one segment, after the cursor and
      * under `allow0` (fq/kill, null = every doc) narrowed by its clauses;
      * the kernels skip rows of terms it does not weight.
      */
    def scoreSegment(seg: Long, rows: Array[SegHit], allow0: RoaringBitmap,
        heapSize: Int, avgdl: Double, cfg: IndexConfig): Iterator[Scored] = {
      val allow =
        if (must.isEmpty && mustNot.isEmpty && mustGroups.isEmpty) allow0
        else boolAllow(rows, must, mustNot, allow0, cfg.segShift, mustGroups)
      val (aScore, aDoc) = after
      if (allow != null && allow.isEmpty) Iterator.empty
      else if (route == Route.DenseArray)
        Wand.scoreSegmentDense(seg, rows.iterator, weights, avgdl, heapSize, cfg, allow, aScore, aDoc)
      else
        Wand.scoreSegment(seg, rows.iterator, weights, avgdl, heapSize, cfg, allow, useWand, aScore, aDoc)
    }
  }

  /** Re-rank sentinel for a candidate with no stored feature vector: ranks
    * below every real quantized cosine (∈ [-10^4, 10^4]) but stays in the
    * result set — the reference's missing-value → maxDistance rule
    * (LireValueSource.java:274-276). Mirrored in OracleMl.rerankSql.
    */
  val MissingFeatureCosQ: Long = -10001L

  /** Distance-metric missing-feature sentinel (l1/l2 re-rank): ranks AFTER
    * every real quantized distance (dist ASC order) but stays in the
    * result set — the same maxDistance rule in distance space. Any real
    * dist_q = round(dist·10⁴) of test/bench-scale vectors sits far below.
    * Mirrored in OracleMl.rerankSql.
    */
  val MissingFeatureDistQ: Long = 10000000001L

  /** Phrase-candidate broadcast gate: ids are 8 B + row overhead, so 2M
    * candidates ≈ 16-30 MB broadcast — comfortably inside executor
    * memory while covering every realistic phrase (a rarer-than-1-in-300
    * word at the 600M-doc scale). Above it the semi-join falls back to
    * the planner's shuffle strategy.
    */
  val PhraseBroadcastMaxCand: Long = 2000000L

  /** Driver-side cap on the gram-filtered fuzzy candidate collect
    * ([[Engine.fuzzyCandidates]]): 64k (term, shared) survivors is orders
    * of magnitude above what the q-gram pigeonhole admits for any real
    * term, yet bounds the one previously-uncapped expansion collect.
    */
  val FuzzyCandidatesMax: Int = 1 << 16

  /** Driver-side expansion cap: multi-term rewrites (prefix / wildcard /
    * fuzzy / range) enumerate the already-resident driver dictionary when
    * the vocabulary is at most this size — a linear pass over ≤2^17 short
    * ASCII strings is sub-millisecond, strictly cheaper than any Spark
    * job (Lucene's own rewrites walk an in-memory FST the same way).
    * Above it — or over the [[Index.dictDriverMax]] cap entirely — the
    * distributed stores do the pruning: trigram In-pushdown for fuzzy,
    * reversed-dictionary StartsWith for leading wildcards, dictionary
    * scans otherwise (the 100×-vocabulary paths, kept driver-gated and
    * benched through an over-cap engine). Routes are result-identical
    * (pinned in IndexSpec).
    */
  val DriverExpandMaxVocab: Long = 1L << 17

  /** Anchored regex equivalent of [[wildcardToLike]]'s LIKE translation
    * (`*` → `.*`, `?` → `.`, everything else literal) — the driver-side
    * wildcard route. Literal chars are quoted, so the equivalence holds
    * even for terms outside the [a-z0-9:] alphabet.
    */
  private[graft] def wildcardToRegex(pattern: String): java.util.regex.Pattern = {
    val sb = new StringBuilder
    pattern.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c => sb.append(java.util.regex.Pattern.quote(c.toString))
    }
    java.util.regex.Pattern.compile(sb.toString)
  }

  /** Built-in-composed specification twin of the native
    * [[graft.functions.GraftPhrasePfDl]] phrase verify (pinned equal in
    * FunctionsSpec, not on any hot path): struct(pf, dl) with pf = exact
    * sliding-window phrase count over the analyzer tokens, dl = clamped
    * 2n−1. bindOnce keeps the tokenization at one eval even here — the
    * occurrence-count lambda reads the token array k times per position,
    * and a pushed-down pf > 0 predicate re-inlines the projection into
    * the filter (measured ~30x without it).
    */
  private[graft] def phrasePfDlHof(content: Column, toks: Array[String],
      maxDl: Int, slop: Int = 0): Column = {
    val k = toks.length
    graft.analyze.Tokenizer.bindOnce(
        graft.analyze.Tokenizer.tokens(content)) { ts =>
      // slop 0: per-anchor k-way consecutive conjunction; slop > 0: per
      // word an EXISTS over its [i+j-slop, i+j+slop] window (the
      // independent-window sloppy rule of [[phraseScores]]) — the anchor
      // sequence then spans every position of the first word, not just
      // those with k-1 following slots
      val anchors =
        if (slop == 0) sequence(lit(1), greatest(size(ts) - lit(k - 1), lit(0)))
        else sequence(lit(1), size(ts))
      def wordOk(i: Column, w: String, j: Int): Column =
        if (slop == 0 || j == 0) element_at(ts, i + lit(j)) === lit(w)
        else exists(
          sequence(greatest(i + lit(j - slop), lit(1)),
            least(i + lit(j + slop), size(ts))),
          q => element_at(ts, q) === lit(w))
      struct(
        when(size(ts) >= lit(if (slop == 0) k else 1),
          size(filter(anchors,
            i => toks.toSeq.zipWithIndex.map { case (w, j) =>
              wordOk(i, w, j)
            }.reduce(_ && _))))
          .otherwise(lit(0)).as("pf"),
        least(lit(2) * size(ts) - lit(1), lit(maxDl)).as("dl"))
    }
  }

  /** Distinct padded character trigrams of a term — the Scala twin of the
    * build-side gram derivation (IndexBuild.gramsCol; '^'/'$' pads are
    * outside the [a-z0-9:] term alphabet). |G(t)| = |t| for |t| ≥ 1.
    */
  def fuzzyGrams(term: String): Seq[String] = {
    val padded = "^" + term + "$"
    (0 to padded.length - 3).iterator.map(i => padded.substring(i, i + 3))
      .toSeq.distinct
  }

  /** Driver-side Levenshtein, equal to Spark's `levenshtein` function BY
    * CONSTRUCTION: it delegates to the same UTF8String implementation the
    * SQL function evaluates (no re-implemented DP to keep in sync; the
    * IndexSpec property pin stays as a regression tripwire). Runs on
    * gram-pruned candidate sets only.
    */
  def levenshteinScala(a: String, b: String): Int =
    org.apache.spark.unsafe.types.UTF8String.fromString(a)
      .levenshteinDistance(org.apache.spark.unsafe.types.UTF8String.fromString(b))

  /** OR-merge serialized bitmaps; callers guarantee nonEmpty. */
  /** One task's (hit, side) join rows grouped by segment: each segment
    * once, with its hits once and its side rows once per side partition.
    * The join pairs every hit with every side row of its segment, so the
    * hits paired with the first side partition seen are all of them; a
    * null side (no side input, or none for the segment) is one partition.
    */
  private[query] def groupBySegment[H](rows: Iterator[(H, SegSide)],
      segOf: H => Long): Iterator[(Long, Seq[H], Array[SegSide])] = {
    final class Acc(val part: Int) {
      val hits = scala.collection.mutable.ArrayBuffer.empty[H]
      val sides = scala.collection.mutable.ArrayBuffer.empty[SegSide]
    }
    val bySeg = scala.collection.mutable.LongMap.empty[Acc]
    rows.foreach { case (h, side) =>
      val part = if (side == null) -1 else side.part
      val acc = bySeg.getOrElseUpdate(segOf(h), new Acc(part))
      if (part == acc.part) acc.hits += h
      if (side != null && !acc.sides.exists(_.part == part)) acc.sides += side
    }
    bySeg.iterator.map { case (seg, acc) => (seg, acc.hits.toSeq, acc.sides.toArray) }
  }

  private[query] def orAll(bs: Iterable[Array[Byte]]): RoaringBitmap = {
    val it = bs.iterator
    val bm = graft.index.Bitmaps.deserialize(it.next())
    while (it.hasNext) bm.or(graft.index.Bitmaps.deserialize(it.next()))
    bm
  }

  /** allow = ¬(OR of kill bitmaps) over the segment's local-id capacity —
    * flip compresses the dense complement to runs; docs that never existed
    * simply never appear in postings. Null (= no filter) when no kills.
    */
  private[query] def flipAllow(bs: Seq[Array[Byte]], segShift: Int): RoaringBitmap =
    if (bs.isEmpty) null
    else RoaringBitmap.flip(orAll(bs), 0L, 1L << segShift)

  /** Set every local id of a posting list into `bm` (full decode — the
    * boolean-clause lists are walked end to end, as Lucene walks the
    * prohibited/required iterators).
    */
  private[query] def addPostings(bm: RoaringBitmap, postings: Array[Byte]): Unit = {
    val it = new Codec.Iter(postings)
    while (!it.exhausted) { bm.add(it.curLocal); it.next() }
  }

  /** Local ids of a segment's Boolean-OR match set (the union of its
    * posting lists) ∩ `allow` (null = every doc).
    */
  private[query] def matchBitmap(postings: Iterator[Array[Byte]],
      allow: RoaringBitmap): RoaringBitmap = {
    val m = new RoaringBitmap()
    postings.foreach(addPostings(m, _))
    if (allow != null) m.and(allow)
    m
  }

  /** Segment-local leapfrog intersection (Lucene ConjunctionDISI): all
    * `nTerms` lists positioned at a common doc or advanced past it; the
    * rarest list leads so hot lists skip whole blocks via `advanceTo`.
    * Emits global doc ids, tombstone/allow-filtered. Empty when any term
    * is absent from the segment.
    */
  private[query] def conjunction(seg: Long, rows: Array[SegHit], nTerms: Int,
      cfg: IndexConfig, allow: RoaringBitmap): Iterator[Long] = {
    val byTerm = rows.groupBy(_.term)
    if (byTerm.size < nTerms) return Iterator.empty
    val its: Array[Codec.Iter] = byTerm.valuesIterator.map { rs =>
      if (rs.length == 1) new Codec.Iter(rs(0).postings)
      else {
        // defensive: no build path writes two rows for one (segment, term),
        // but an OR-merge keeps the leapfrog uniform if one ever appears
        val bm = new RoaringBitmap()
        rs.foreach(r => addPostings(bm, r.postings))
        new Codec.Iter(Codec.encode(bm.toArray.map(l => Codec.Posting(l, 1, 1))))
      }
    }.toArray.sortBy(_.numEntries)
    if (its.exists(_.numEntries == 0)) return Iterator.empty
    val out = Array.newBuilder[Long]
    var live = true
    while (live) {
      var target = its(0).curLocal
      var settled = false
      while (!settled && live) {
        settled = true
        var i = 0
        while (i < its.length && live) {
          if (!its(i).advanceTo(target)) live = false
          else if (its(i).curLocal > target) { target = its(i).curLocal; settled = false }
          i += 1
        }
      }
      if (live) {
        if (allow == null || allow.contains(target)) out += cfg.globalOf(seg, target)
        if (!its(0).next()) live = false
      }
    }
    out.result().iterator
  }

  /** Segment-local positional PhraseQuery kernel: leapfrog conjunction
    * over the phrase's DISTINCT word iterators (rarest leads, hot lists
    * block-skip — position payloads of skipped blocks are skipped bytes),
    * and at each doc where all words co-occur, the exact phrase frequency
    * by ordered position intersection: pf = |{p ∈ pos(w₀) : p+j ∈ pos(wⱼ)
    * ∀j}|. Within a doc the per-slot pointers only move forward (targets
    * p+j are monotone in p), so the intersection is linear in Σ|positions|.
    * Duplicate phrase words share one iterator/position array. Emits
    * Scored(globalDocId, weight·tfNorm(pf, dl)) for pf > 0 matches;
    * tombstone/allow-filtered. Reference anchor: Lucene
    * ExactPhraseMatcher over positional postings (the host's `q="a b"`
    * surface, lire.html:83).
    */
  private[query] def phraseMatches(seg: Long,
      rows: Array[(Long, String, Array[Byte], Array[Byte])],
      words: Array[String], nDistinct: Int, cfg: IndexConfig,
      allow: RoaringBitmap, weight: Double, avgdl: Double,
      slop: Int = 0): Iterator[Scored] = {
    val byTerm = new java.util.HashMap[String, Codec.IterPos]()
    rows.foreach { r =>
      // no build path writes two rows per (segment, term) (compaction units
      // hold disjoint doc ranges); a duplicate here is index corruption —
      // fail loudly rather than silently misrank
      require(byTerm.put(r._2, {
        require(r._4 != null,
          s"positional phrase route on positionless row (term ${r._2}, seg $seg)")
        new Codec.IterPos(r._3, r._4)
      }) == null, s"duplicate (segment, term) row for ${r._2} in seg $seg")
    }
    if (byTerm.size < nDistinct) return Iterator.empty
    val its: Array[Codec.IterPos] =
      words.distinct.map(byTerm.get).sortBy(_.numEntries)
    if (its.exists(_.numEntries == 0)) return Iterator.empty
    val slots: Array[Codec.IterPos] = words.map(byTerm.get) // dups share one iter
    val ptrs = new Array[Int](words.length)
    val out = Array.newBuilder[Scored]
    var live = true
    while (live) {
      var target = its(0).curLocal
      var settled = false
      while (!settled && live) {
        settled = true
        var i = 0
        while (i < its.length && live) {
          if (!its(i).advanceTo(target)) live = false
          else if (its(i).curLocal > target) { target = its(i).curLocal; settled = false }
          i += 1
        }
      }
      if (live) {
        if (allow == null || allow.contains(target)) {
          val p0 = slots(0).curPositions
          java.util.Arrays.fill(ptrs, 0)
          var pf = 0
          var a = 0
          while (a < p0.length) {
            val p = p0(a)
            var ok = true
            var j = 1
            while (ok && j < slots.length) {
              // word j accepted anywhere in [p+j-slop, p+j+slop]; anchors
              // ascend, so the window's lower bound ascends and each slot
              // pointer only moves forward — linear in Σ|positions| at any
              // slop (slop 0 = the exact conjunction)
              val lj = slots(j).curPositions
              var q = ptrs(j)
              val lo = p + j - slop
              while (q < lj.length && lj(q) < lo) q += 1
              ptrs(j) = q
              ok = q < lj.length && lj(q) <= p + j + slop
              j += 1
            }
            if (ok) pf += 1
            a += 1
          }
          if (pf > 0)
            out += Scored(cfg.globalOf(seg, target),
              weight * Bm25.tfNorm(pf.toDouble, slots(0).curDl.toDouble, avgdl))
        }
        if (!its(0).next()) live = false
      }
    }
    out.result().iterator
  }

  /** Fold Lucene BooleanQuery clauses into a segment's allow bitmap:
    * required = AND over the MUST terms' postings (a MUST term absent from
    * the segment empties it — every doc there lacks the term), exclusion =
    * OR over the MUST_NOT postings. Composes with the incoming fq/kill
    * `allow0` (null = unconstrained), which is NOT modified: every query
    * of a pass reads the same segment bitmap. Returns null only when
    * unconstrained.
    */
  private[graft] def boolAllow(rows: Array[SegHit], must: Set[String],
      mustNot: Set[String], allow0: RoaringBitmap, segShift: Int,
      mustGroups: Seq[Set[String]] = Nil): RoaringBitmap = {
    var allow = if (allow0 == null) null else allow0.clone()
    if (must.nonEmpty) {
      val mustRows = rows.filter(r => must(r.term))
      if (mustRows.iterator.map(_.term).toSet.size < must.size)
        return new RoaringBitmap() // a required term has no postings here
      must.foreach { t =>
        val bm = new RoaringBitmap()
        mustRows.iterator.filter(_.term == t).foreach(r => addPostings(bm, r.postings))
        if (allow == null) allow = bm else allow.and(bm)
      }
    }
    // OR-required groups (Lucene's required multi-term rewrite, `+pre*`):
    // a doc must hold AT LEAST ONE of each group's terms — the group's
    // postings union ANDs into the allow bitmap like a single MUST term
    mustGroups.foreach { g =>
      val bm = new RoaringBitmap()
      rows.iterator.filter(r => g(r.term)).foreach(r => addPostings(bm, r.postings))
      if (bm.isEmpty)
        return new RoaringBitmap() // no group member has postings here
      if (allow == null) allow = bm else allow.and(bm)
    }
    if (mustNot.nonEmpty) {
      val excl = new RoaringBitmap()
      rows.iterator.filter(r => mustNot(r.term)).foreach(r => addPostings(excl, r.postings))
      if (!excl.isEmpty) {
        if (allow == null) allow = RoaringBitmap.flip(excl, 0L, 1L << segShift)
        else allow.andNot(excl)
      }
    }
    allow
  }

  /** Occurrence flag of a parsed clause (Lucene BooleanClause.Occur). */
  sealed trait Occur
  object Occur {
    case object Should extends Occur
    case object Must extends Occur
    case object MustNot extends Occur
  }

  /** One parsed query clause (the Lucene QueryParser single-field surface). */
  sealed trait QClause { def occur: Occur; def boost: Double }
  final case class TermClause(term: String, boost: Double, occur: Occur) extends QClause
  final case class PrefixClause(prefix: String, boost: Double, occur: Occur) extends QClause
  final case class FuzzyClause(term: String, maxEdits: Int, boost: Double, occur: Occur) extends QClause
  final case class WildcardClause(pattern: String, boost: Double, occur: Occur) extends QClause
  /** `"w1 w2 …"` (slop 0) or `"w1 w2 …"~N` — Lucene PhraseQuery with slop
    * (QueryParser `PhraseSlop` suffix, the host's `q="d e"~2` surface).
    */
  final case class PhraseClause(toks: Seq[String], boost: Double, occur: Occur,
                                slop: Int = 0) extends QClause
  /** TermRangeQuery: `[lo TO hi]` inclusive / `{lo TO hi}` exclusive per
    * bracket (mixable, as in Lucene), `None` bound = `*` (open).
    */
  final case class RangeClause(lo: Option[String], hi: Option[String],
                               incLo: Boolean, incHi: Boolean,
                               boost: Double, occur: Occur) extends QClause

  /** Lucene rejects non-positive boosts (`setBoost` requires > 0); letting
    * one through would also expose the one seam where the WAND cursor's
    * math.round and the scan route's Spark round diverge (negative .5
    * boundaries — ADVICE r04). One shared guard for every parse site.
    */
  private def requirePositiveBoost(b: Double): Double = {
    require(b > 0, s"boost must be positive (Lucene setBoost contract), got $b")
    b
  }

  private val QuotedRe = """([+-]?)"([^"]*)"(?:~(\d+))?(?:\^(\S+))?""".r
  // bound bodies exclude brackets/whitespace so the greedy token can't
  // swallow the closing bracket; `TO` is Lucene's literal keyword
  private val RangeRe = """([+-]?)([\[{])([^\s\[\]{}]+)\s+TO\s+([^\s\[\]{}]+)([\]}])(?:\^(\S+))?""".r

  /** Full Lucene QueryParser grammar over one field:
    *
    *   clause := [+|-] body [^boost]
    *   body   := "phrase words"[~slop] | [lo TO hi] | {lo TO hi} | prefix*
    *           | wild?car*d | term~[N] | term
    *
    * `+` = MUST, `-` = MUST_NOT, bare = SHOULD; `^boost` scales the
    * clause; a bare `~` means fuzzy with Lucene's default 2 edits. Boost
    * leniency matches [[parseQuery]]: an unparseable `^suffix` is part of
    * the term. Phrase words are analyzer-tokenized ([[graft.analyze.Tokenizer]]),
    * so `"Hash-JOIN"` and `"hash join"` parse identically.
    */
  def parseLucene(q: String): Seq[QClause] = {
    val out = Seq.newBuilder[QClause]
    // quoted phrases first (they may contain whitespace), remainder = terms
    var rest = q
    var m = QuotedRe.findFirstMatchIn(rest)
    while (m.isDefined) {
      val mm = m.get
      val occ = occurOf(mm.group(1))
      val slop = Option(mm.group(3)).map(_.toInt).getOrElse(0)
      val boost = requirePositiveBoost(
        Option(mm.group(4)).flatMap(b => b.toDoubleOption).getOrElse(1.0))
      val toks = graft.analyze.Tokenizer.tokenizeScala(mm.group(2))
      if (toks.nonEmpty) out += PhraseClause(toks.toSeq, boost, occ, slop)
      rest = rest.substring(0, mm.start) + " " + rest.substring(mm.end)
      m = QuotedRe.findFirstMatchIn(rest)
    }
    // range clauses next (they too contain whitespace: `[a TO b]`)
    var mr = RangeRe.findFirstMatchIn(rest)
    while (mr.isDefined) {
      val mm = mr.get
      val occ = occurOf(mm.group(1))
      val boost = requirePositiveBoost(
        Option(mm.group(6)).flatMap(b => b.toDoubleOption).getOrElse(1.0))
      val lo = Option(mm.group(3)).filter(_ != "*")
      val hi = Option(mm.group(4)).filter(_ != "*")
      out += RangeClause(lo, hi, mm.group(2) == "[", mm.group(5) == "]", boost, occ)
      rest = rest.substring(0, mm.start) + " " + rest.substring(mm.end)
      mr = RangeRe.findFirstMatchIn(rest)
    }
    rest.trim.split("\\s+").iterator.filter(_.nonEmpty).foreach { tok0 =>
      val (occ, tok1) =
        if (tok0.startsWith("+")) (Occur.Must: Occur, tok0.substring(1))
        else if (tok0.startsWith("-")) (Occur.MustNot: Occur, tok0.substring(1))
        else (Occur.Should: Occur, tok0)
      if (tok1.nonEmpty) {
        // trailing ^boost (lenient), then the multi-term markers
        val (body, boost) = tok1.lastIndexOf('^') match {
          case -1 | 0 => (tok1, 1.0)
          case i => tok1.substring(i + 1).toDoubleOption match {
            case Some(b) => (tok1.substring(0, i), requirePositiveBoost(b))
            case None => (tok1, 1.0)
          }
        }
        val tilde = body.lastIndexOf('~')
        if (body.length > 1 && body.endsWith("*") &&
            !body.dropRight(1).exists(c => c == '*' || c == '?'))
          out += PrefixClause(body.dropRight(1), boost, occ)
        else if (body.length > 1 && body.exists(c => c == '*' || c == '?'))
          out += WildcardClause(body, boost, occ)
        else if (tilde > 0 &&
            (tilde == body.length - 1 || body.substring(tilde + 1).forall(_.isDigit))) {
          val edits = if (tilde == body.length - 1) 2 else body.substring(tilde + 1).toInt
          out += FuzzyClause(body.substring(0, tilde), edits, boost, occ)
        } else out += TermClause(body, boost, occ)
      }
    }
    out.result()
  }

  /** Wildcard pattern -> LIKE pattern (`*`→`%`, `?`→`_`); literal `%`,
    * `_` and `\` in the PATTERN are backslash-escaped so they stay
    * literal (Lucene wildcard semantics: only `*`/`?` are special). The
    * indexed term alphabet [a-z0-9:] holds none of them, so such a
    * pattern simply matches nothing — but it must not silently act as an
    * extra wildcard. Spark's LIKE escape char is `\` by default; the
    * DuckDB oracle says ESCAPE '\' explicitly.
    */
  def wildcardToLike(pattern: String): String =
    pattern.flatMap {
      case '*' => "%"
      case '?' => "_"
      case c @ ('%' | '_' | '\\') => "\\" + c
      case c => c.toString
    }

  /** Route a wildcard pattern to the reversed-term dictionary ONLY for
    * `*<pure-literal>` (Solr ReversedWildcardFilterFactory's query-side
    * rule, restricted to where reversal actually pays): reversing turns
    * `*suffix` into `xiffus%` — a shape LikeSimplification rewrites to
    * StartsWith, which prunes rdictionary row groups by rterm stats. Any
    * other leading-wildcard form (`?` anywhere, an interior `*`) reverses
    * into a generic LIKE (`?ab` → `ba_`) that gets NO pushdown, so the
    * reversed route would pay the uncached vocabulary-sized rdictionary
    * scan plus its groupBy/sum for nothing — the cached pre-aggregated
    * forward dictionary is strictly better there and keeps the route.
    */
  def shouldReverse(pattern: String): Boolean =
    pattern.length >= 2 && pattern.head == '*' &&
      pattern.tail.forall(c => c != '*' && c != '?')

  private def occurOf(s: String): Occur = s match {
    case "+" => Occur.Must
    case "-" => Occur.MustNot
    case _ => Occur.Should
  }

  /** "t1 t2^0.83" -> Seq(("t1", 1.0), ("t2", 0.83)). A trailing `^boost`
    * must parse as a double; otherwise the token is taken verbatim with
    * boost 1 (terms themselves may contain '^' only before a valid boost —
    * same leniency as Lucene's QueryParser on unparseable boosts).
    */
  def parseQuery(q: String): Seq[(String, Double)] =
    q.trim.split("\\s+").toSeq.filter(_.nonEmpty).map { tok =>
      tok.lastIndexOf('^') match {
        case -1 | 0 => tok -> 1.0
        case i =>
          try tok.substring(0, i) -> tok.substring(i + 1).toDouble
          catch { case _: NumberFormatException => tok -> 1.0 }
      }
    }

  def indexRoot: String =
    sys.env.getOrElse("GRAFT_INDEX_DIR",
      new java.io.File("target/graft-index").getAbsolutePath)

  /** Build-once-per-JVM engine over the documents-derived corpus of an
    * sf dir. Small segments (2^7 docs) so even the 500-doc corpora
    * exercise multi-segment traversal + merge.
    */
  def forDir(spark: SparkSession, sfDir: String): Engine =
    cache.computeIfAbsent(sfDir, { _ =>
      new Engine(new Index(spark, builtDir(spark, sfDir)))
    })

  /** The SAME built index read through an Index whose driver-dictionary
    * cap is below the test vocabulary — every df lookup takes the over-cap
    * distributed route (term_id-pruned dictionary scan), the path a 100×
    * vocabulary takes in production. Driver-gated by q_wand_bigvocab
    * (route pinned + rank-identical to the driver-map engine; VERDICT r04
    * next #3, the unigram-cap at/under/over pattern).
    */
  def forDirBigVocab(spark: SparkSession, sfDir: String): Engine =
    cache.computeIfAbsent(sfDir + "#bigvocab", { _ =>
      val e = new Engine(new Index(spark, builtDir(spark, sfDir), dictDriverMax = 16L))
      require(e.index.dfViaScan, "bigvocab engine must take the over-cap df route")
      e
    })

  private def builtDir(spark: SparkSession, sfDir: String): String = {
    val key = sfDir.replaceAll("[^a-zA-Z0-9.]+", "_")
    val dir = s"$indexRoot/v8-$key" // bump on index-format changes (v8: positional postings + trigram store)
    val cfg = IndexConfig(segShift = 7, rangeSegsShift = 2)
    val corpus = Corpus.fromDocuments(spark, sfDir)
    IndexBuild.build(spark, corpus, dir, cfg) // resumes/no-ops if committed
    dir
  }
}
