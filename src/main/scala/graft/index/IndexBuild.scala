package graft.index

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.analyze.{TokenScanner, TokenTable, Tokenizer}

/** 64-bit FNV-1a term hash — the compact query-filter key stored next to
  * the term string. Collisions are tolerated: group/merge keys always use
  * the term STRING; term_id exists only to give parquet row-group pruning a
  * cheap fixed-width column (SURVEY.md §7.4 / O11).
  *
  * A reserved filter key `<fcol>=<value>` ([[IndexBuild.partialPostings]])
  * hashes as its `<fcol>=` prefix: every key of a column shares one
  * term_id, so one pushdown reads all of a column's value rows, and the
  * term string still tells the keys apart.
  */
object TermHash {
  def hash(term: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = term.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val eq = bytes.indexOf('='.toByte) // UTF-8 never uses 0x3d inside another char
    val n = if (eq >= 0) eq + 1 else bytes.length
    var i = 0
    while (i < n) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}

/** One (term, segment) posting sub-list — the unit phase 1 emits.
  * `positions` is the positional side-blob ([[Codec.encodePositions]]) for
  * word terms (null for hash-shingle terms, whose positions no query
  * reads); it lives in its own parquet column so non-phrase queries never
  * deserialize a byte of it (column pruning).
  */
final case class SegTermRow(
    seg_id: Long, term_id: Long, term: String,
    df: Int, max_tf: Int, min_dl: Int, postings: Array[Byte],
    positions: Array[Byte] = null)

final case class IndexConfig(
    /** segment width = 1 << segShift docs; a segment is the salt unit of
      * the two-phase build AND the parallel unit of query traversal. */
    segShift: Int = 17,
    /** segments per checkpoint range: rangeShift = segShift + rangeSegsShift. */
    rangeSegsShift: Int = 6,
    /** shuffle width hint for the phase-1 groupByKey (0 = session default). */
    buildPartitions: Int = 0,
    /** ranges built concurrently (driver-side job overlap; each range is
      * still an independent, idempotent checkpoint unit). */
    concurrentRanges: Int = 4,
    /** docmeta columns indexed as reserved filter keys: each doc with
      * tokens gets one posting under `<column>=<value>` per non-null value
      * (Lucene's keyword-field term), so an fq is one more posting list of
      * the query's segment scan. Only low-cardinality columns belong here;
      * facets, pivots, grouping and block join read the same keys when
      * the column is covered in every unit. A name must not contain `=`. */
    filterColumns: Seq[String] = Seq("lang", "repo"),
    /** Bounded await on the async per-range segments write: a hung write
      * job otherwise blocks a range slot of the driver pool forever. On
      * timeout the job group is cancelled and the range fails cleanly
      * (manifest never written — the standard idempotent-redo path).
      * Generous by default; a production run sizes it to its slowest
      * expected range. */
    segmentsWriteTimeoutSec: Long = 21600L) {
  require(segShift <= 27, "segShift > 27 breaks packed-long sign ordering")
  filterColumns.foreach(c =>
    require(!c.contains('='), s"filter column '$c' contains '=', the filter key separator"))
  def rangeShift: Int = segShift + rangeSegsShift
  def segOf(docId: Long): Long = docId >>> segShift
  def rangeOf(docId: Long): Long = docId >>> rangeShift
  def localOf(docId: Long): Int = (docId & ((1L << segShift) - 1)).toInt
  def globalOf(segId: Long, local: Int): Long = (segId << segShift) | local.toLong
}

final case class BuildReport(
    rangesBuilt: Seq[Long], rangesSkipped: Seq[Long],
    nDocs: Long, sumDl: Long, buildMs: Long)

/** Per-original-doc-range attestation kept through compaction: the unit a
  * doc range lives in may change (merge), but its row count and
  * order-independent content checksum must survive verbatim so streamed
  * replays can still be verified range by range.
  */
final case class DocRangeStat(range_id: Long, n_rows: Long, checksum: Long)

final case class CompactReport(
    unitsBefore: Seq[Long], unitsAfter: Seq[Long], unitsCreated: Seq[Long])

/** Inverted-index build: tokenize -> salted two-phase typed-Dataset
  * groupByKey -> delta-gap+varint segments -> per-range manifest with
  * lineage + checkpointed resume.
  *
  * Replaces the reference's ParallelSolrIndexer + Lucene segment build
  * (`/root/reference/.../indexing/ParallelSolrIndexer.java:312-359`):
  * its thread pool becomes task parallelism, its bounded queue the shuffle,
  * its Solr `<commit/>` the per-range manifest write (SURVEY.md §3.4).
  *
  * Layout under `indexDir` (one `range=<unit>` dir per store and unit —
  * [[IndexBuild.unitStoreDirs]]):
  *   segments/    (seg_id, term_id, term, df, max_tf, min_dl, postings,
  *                 positions) — terms plus the reserved filter keys
  *                 `<fcol>=<value>`
  *   docmeta/     (doc_id, repo, path, commit, lang, sha, dl)
  *   dictionary/  (term, term_id, df)
  *   rdictionary/ (rterm, term, df)
  *   ngrams/      (gram, term)
  *   tombstones/  (seg_id, bitmap) — only on units that carry kills
  *   manifest/    (range_id, n_docs, sum_dl, n_rows, checksum, seg_shift,
  *                 range_segs_shift, build_ms, doc_ranges, retires,
  *                 codec_ver, filter_cols) — written last
  * The dictionary, rdictionary and ngrams stores list terms only, never a
  * filter key.
  *
  * Scale notes (the design constraints, not local behavior):
  *  - phase-1 group key is (term, seg): a hot term ("license") splits into
  *    one group per segment — group size is bounded by the segment width
  *    regardless of df, which is the skew guarantee (O9);
  *  - phase-2 re-ranges by seg_id so each output file is a contiguous
  *    doc-range segment, rows sorted by term_id inside for row-group
  *    pruning at query time;
  *  - ranges are the resume unit: manifest/range=r is written LAST, so its
  *    _SUCCESS implies segments+docmeta of that range are complete; redo is
  *    idempotent (overwrite). Global stats (N, avgdl, df) are SUMS of
  *    per-range/per-segment values — no global pass, build is
  *    embarrassingly parallel across ranges;
  *  - per-row sha256 recorded in docmeta + an order-independent xor
  *    checksum in the manifest (input_hint invariant).
  */
object IndexBuild {

  /** Index layout version recorded in every unit manifest: word terms
    * carry the positional side-blob, every unit carries the dictionary,
    * rdictionary and ngrams stores, filter columns are reserved-key
    * postings and the manifest lists them in `filter_cols`. The only
    * layout the read side accepts ([[graft.query.Index.stats]] rejects any
    * other).
    */
  val CodecVer = 3

  def segmentsDir(indexDir: String) = s"$indexDir/segments"
  def docmetaDir(indexDir: String) = s"$indexDir/docmeta"
  def manifestDir(indexDir: String) = s"$indexDir/manifest"
  def tombstonesDir(indexDir: String) = s"$indexDir/tombstones"
  def dictionaryDir(indexDir: String) = s"$indexDir/dictionary"
  def rdictionaryDir(indexDir: String) = s"$indexDir/rdictionary"
  def ngramsDir(indexDir: String) = s"$indexDir/ngrams"

  /** The reserved term of docs whose filter column `fcol` holds `value`:
    * `=` is outside the term alphabet [a-z0-9:], so no word or shingle
    * term can take it.
    */
  def filterKey(fcol: String, value: String): String = s"$fcol=$value"

  /** Is `term` a reserved filter key ([[filterKey]])? */
  def isFilterKey(term: String): Boolean = term.indexOf('=') >= 0

  /** Rows whose `term` column is not a filter key: [[isFilterKey]] as a
    * predicate. */
  def notFilterKey: org.apache.spark.sql.Column = !col("term").contains("=")

  /** Every per-unit store, manifest LAST: deleting a unit in this order
    * keeps it committed (and so re-sweepable) until its data dirs are gone.
    */
  def unitStoreDirs(indexDir: String): Seq[String] = Seq(
    segmentsDir(indexDir), docmetaDir(indexDir), dictionaryDir(indexDir),
    rdictionaryDir(indexDir), ngramsDir(indexDir), tombstonesDir(indexDir),
    manifestDir(indexDir))

  /** Unit ids with a `range=<id>` dir under `storeDir` — ONE globStatus
    * listing, never a per-unit exists probe.
    */
  def unitsIn(spark: SparkSession, storeDir: String): Set[Long] = {
    val fs = new Path(storeDir).getFileSystem(spark.sessionState.newHadoopConf())
    Option(fs.globStatus(new Path(s"$storeDir/range=*")))
      .getOrElse(Array.empty)
      .flatMap(_.getPath.getName.stripPrefix("range=").toLongOption)
      .toSet
  }

  /** Write the per-unit term dictionary (term, term_id, df) for `unit`
    * from its just-written segments: ONE metadata-column aggregation per
    * unit at BUILD time so query-time Index init never aggregates the
    * segment table again (VERDICT r03 "What's wrong" #3 — the reference's
    * analog is Lucene's persisted terms dictionary walked once per field,
    * HashTermStatistics.java:23-39). Reads only (term, term_id, df) —
    * parquet column pruning never touches the postings bytes. Rows are
    * term_id-sorted so dfOf's fallback (driver map too big) serves misses
    * via row-group pruning. Written BEFORE the manifest, so the unit's
    * commit gate covers it. Filter keys are left out of all three stores,
    * so no multi-term rewrite, spellcheck or terms listing ever sees one.
    */
  private def writeDictionary(spark: SparkSession, indexDir: String, unit: Long,
      timeoutSec: Long = 21600L): Unit = {
    import org.apache.spark.sql.functions.{col, reverse, sum}
    // ONE segments read feeds all three stores: the vocab-sized aggregate
    // is cached, the derived stores are written from the cache in parallel
    // futures. The previous shape (write dict -> re-read it twice, three
    // sequential single-task write jobs) put ~3 serial job latencies per
    // unit on the build's critical path — fixed cost that dilutes the
    // 2->8-core scaling ratio at bench scale (ADVICE/VERDICT r04 scaling
    // record; 10 units x 3 sequential writes is pure Amdahl-S).
    val dict = spark.read.parquet(s"${segmentsDir(indexDir)}/range=$unit")
      .where(notFilterKey)
      .groupBy(col("term"), col("term_id"))
      .agg(sum(col("df")).cast("long").as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // a dedicated 3-thread pool, not ExecutionContext.global: the global
    // pool also carries each concurrent range's segments-write future (and
    // query-side expansion futures), so on a small-core box these three
    // "parallel" writes would queue behind multi-minute builds instead of
    // overlapping — exactly the serialization this method exists to remove
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      // materialize once BEFORE the concurrent writes: three actions racing
      // an unfilled cache would each recompute the aggregation
      dict.count(): Unit
      // ONE shared job group + bounded await (the segments-write hang
      // lesson, boundedAwait scaladoc): a wedged store write must fail the
      // unit (manifest never committed, rerun resumes) — not pin the
      // range's driver-pool slot forever. Group membership is thread-local,
      // so it is set inside each future body; one group covers all three
      // writes so a timeout cancels them together.
      val jobGroup = s"graft-dict-$unit-${System.nanoTime()}"
      val cancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
      def write(what: String)(body: => Unit): scala.concurrent.Future[Unit] =
        scala.concurrent.Future {
          spark.sparkContext.setJobGroup(jobGroup,
            s"graft $what store write range=$unit", interruptOnCancel = true)
          try {
            // a timeout that fired before this body ran must not start the
            // write (cancelJobGroup only kills already-submitted jobs)
            if (cancelled.get())
              throw new IllegalStateException(
                s"$what store write for range=$unit cancelled before start")
            body
          } finally spark.sparkContext.clearJobGroup()
        }
      // one file per unit: the dictionary is vocab-sized (≪ postings); the
      // repartition keeps the aggregation itself parallel, unlike coalesce
      val dictF = write("dictionary") {
        dict
          .repartition(1)
          .sortWithinPartitions(col("term_id"))
          .write.mode("overwrite").parquet(s"${dictionaryDir(indexDir)}/range=$unit")
      }
      // reversed-term side store (Solr's ReversedWildcardFilterFactory
      // analog): (rterm, term, df) sorted by rterm so a leading-wildcard
      // query becomes a StartsWith pushdown against tight row-group stats
      // instead of a full-vocabulary LIKE scan (Engine.shouldReverse).
      val rdictF = write("rdictionary") {
        dict
          .select(reverse(col("term")).as("rterm"), col("term"), col("df"))
          .repartition(1)
          .sortWithinPartitions(col("rterm"))
          .write.mode("overwrite").parquet(s"${rdictionaryDir(indexDir)}/range=$unit")
      }
      // character-trigram side store (gram, term), gram-sorted — the
      // FuzzyQuery/SpellCheck expansion pre-filter (Lucene's Levenshtein
      // automaton over the FST terms dict, re-expressed as q-gram count
      // filtering with parquet row-group pruning: a fuzzy expansion reads
      // only the row groups holding the query's ~|term| grams instead of
      // scanning the vocabulary — VERDICT r04 "What's missing" #4 /
      // SURVEY item 55's documented upgrade). Grams are padded ('^'/'$'
      // are outside the term alphabet), distinct per term; vocab-sized ×
      // ~|term| rows, same per-unit derivation as the stores above.
      val ngramsF = write("ngrams") {
        dict
          .select(explode(gramsCol(col("term"))).as("gram"), col("term"))
          .repartition(1)
          .sortWithinPartitions(col("gram"))
          .write.mode("overwrite").parquet(s"${ngramsDir(indexDir)}/range=$unit")
      }
      boundedAwait(spark,
        scala.concurrent.Future.sequence(Seq(dictF, rdictF, ngramsF)),
        jobGroup, timeoutSec, s"dictionary store writes for range=$unit",
        Some(cancelled)): Unit
    } finally {
      dict.unpersist(blocking = false)
      pool.shutdown()
    }
  }

  /** Distinct padded character trigrams of a term, as a column expression
    * (build-time only). Scala twin: [[graft.query.Engine.fuzzyGrams]] —
    * the two MUST agree or the q-gram count filter loses candidates.
    */
  private def gramsCol(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    // native expression, ONE eval per term: the HOF composition
    // (array_distinct(transform(sequence, substr))) ran each gram as an
    // interpreted Substring eval — ~26% of the 2-core bench build's task
    // CPU (JFR), all inside the dictionary-store writes on the range
    // critical path. The composition survives as the spec twin
    // (FunctionsSpec pins equality), as does the query-side Scala twin
    // Engine.fuzzyGrams.
    graft.functions.GraftFunctions.graft_grams(term)

  /** Pack (local, tf, dl) into one long — the shuffle row stays (String,
    * Long, Long), primitive-heavy, to keep the 49M-rows/200k-docs build
    * allocation-light. Layout: local:28 | tf:16 | dl:20.
    *
    * tf/dl saturate at their field maxima instead of failing: one ~500k-token
    * generated/minified file must not kill a range build. BM25's tfNorm is
    * already saturating in tf, and clamping dl only loosens WAND bounds
    * conservatively (documented deviation, SURVEY.md §8).
    */
  val MaxTf: Int = (1 << 16) - 1
  val MaxDl: Int = (1 << 20) - 1
  def pack(local: Int, tf: Int, dl: Int): Long = {
    require(local >= 0 && local < (1 << 27), s"local $local out of range")
    require(tf > 0 && dl > 0, s"tf/dl must be positive, got tf=$tf dl=$dl")
    (local.toLong << 36) | (math.min(tf, MaxTf).toLong << 20) | math.min(dl, MaxDl).toLong
  }
  def unpackLocal(p: Long): Int = (p >>> 36).toInt
  def unpackTf(p: Long): Int = ((p >>> 20) & 0xffff).toInt
  def unpackDl(p: Long): Int = (p & 0xfffff).toInt

  /** Map-side combine: tokenize a partition and pre-merge postings per
    * (term, seg) into packed-long arrays BEFORE the shuffle. Because the
    * corpus is doc-range partitioned, a (term, segment) group's postings
    * live in ~1 input partition — this collapses the shuffle from one row
    * per (doc, term) (~250/doc) to one row per (term, seg, partition),
    * ~20x fewer row objects for the same payload bytes. The per-partition
    * map is bounded: distinct (term, seg) of ONE partition's docs.
    *
    * Word terms additionally carry their token positions (the positional
    * index feeding native PhraseQuery): the 4th tuple element is a varint
    * stream of per-entry position runs ALIGNED with the packed array —
    * entry i owns the i-th (count, positions…) run (count varint, then
    * count position varints: first absolute, rest gaps). Shingle terms
    * ship an empty blob — no query reads hash-term positions, so their
    * bytes are never paid for.
    *
    * Each doc with tokens also gets one posting (tf 1, the doc's dl) under
    * the filter key ([[filterKey]]) of each non-null value of the
    * corpus's [[filterColumns]]; dl counts the doc's tokens only.
    */
  def partialPostings(spark: SparkSession, corpus: DataFrame,
                      cfg: IndexConfig): Dataset[(String, Long, Array[Long], Array[Byte])] = {
    import spark.implicits._
    val fcols = filterColumns(corpus, cfg)
    val values =
      if (fcols.isEmpty) typedLit(Seq.empty[String])
      else array(fcols.map(c => col(c).cast("string")): _*)
    val prefixes = fcols.map(filterKey(_, "")).toArray
    corpus.select(col("doc_id"), col("content"), values).as[(Long, String, Seq[String])]
      .mapPartitions { docs =>
        val acc = new java.util.HashMap[String, java.util.HashMap[Long, PartialBuf]]()
        // one TokenScanner + token table per task (FastDocTokens): no String
        // per occurrence, no regex, shingle counts keyed by their 12-bit
        // bucket. The earlier shape (regex split + per-token "w:"+tok
        // HashMap + md5-hex-substring per shingle) was ~40% of build task
        // CPU in a JFR profile, and its allocation churn is what inflated
        // per-core CPU 2.2x from 2 to 8 threads.
        val doc = new FastDocTokens

        def partial(term: String, segId: Long): PartialBuf =
          acc.computeIfAbsent(term, _ => new java.util.HashMap[Long, PartialBuf]())
            .computeIfAbsent(segId, _ => new PartialBuf)

        docs.foreach { case (docId, content, vals) =>
          doc.process(content)
          if (doc.nTokens > 0) {
            val segId = cfg.segOf(docId)
            val local = cfg.localOf(docId)
            val dl = 2 * doc.nTokens - 1 // words + shingles, = termsScala(content).length
            doc.drainWords { (term, ps) =>
              val pb = partial(term, segId)
              pb.packed.add(pack(local, ps.length, dl))
              // self-counting run: ALL positions, count varint first — the
              // pack() MaxTf saturation must not truncate phrase positions
              // (pf is exact even past the clamp; only BM25's tf saturates)
              val out = pb.posOut
              Codec.writeVarInt(out, ps.length)
              var k = 0
              var prev = 0
              while (k < ps.length) {
                val p = ps(k)
                Codec.writeVarInt(out, p - prev)
                prev = p
                k += 1
              }
            }
            doc.drainShingles((term, c) => partial(term, segId).packed.add(pack(local, c, dl)))
            var k = 0
            while (k < prefixes.length) {
              val v = vals(k)
              if (v != null) partial(prefixes(k) + v, segId).packed.add(pack(local, 1, dl))
              k += 1
            }
          }
        }
        val out = Iterator.newBuilder[(String, Long, Array[Long], Array[Byte])]
        val ti = acc.entrySet().iterator()
        while (ti.hasNext) {
          val te = ti.next()
          val si = te.getValue.entrySet().iterator()
          while (si.hasNext) {
            val se = si.next()
            val pb = se.getValue
            out += ((te.getKey, se.getKey, pb.packed.toArray, pb.posBytes))
          }
        }
        out.result()
      }
  }

  /** The corpus's columns among `cfg.filterColumns`: the filter columns
    * a build of it covers, recorded in its manifest row's `filter_cols`.
    */
  def filterColumns(corpus: DataFrame, cfg: IndexConfig): Seq[String] =
    cfg.filterColumns.filter(corpus.columns.contains)

  /** Phase 1: salted groupByKey((term, seg)) over the map-side partials ->
    * merged, sorted, block-compressed sub-list per (term, segment); word
    * terms get the aligned positional side-blob next to it.
    *
    * Kept as the spillable reference path (sort-based grouping handles
    * groups larger than memory); [[phase1Fused]] is the production route —
    * [[phase1FusedSpec identical rows]], half the shuffle volume.
    */
  def phase1(spark: SparkSession, partials: Dataset[(String, Long, Array[Long], Array[Byte])],
             cfg: IndexConfig): Dataset[SegTermRow] = {
    import spark.implicits._
    partials
      .groupByKey(p => (p._1, p._2))
      .mapGroups { (key: (String, Long), it: Iterator[(String, Long, Array[Long], Array[Byte])]) =>
        mergeSegTerm(key._1, key._2, it)
      }
  }

  /** Merge every map-side partial of one (term, segment) into its final
    * posting row — the ONE copy of the phase-1 merge semantics, shared by
    * the spillable [[phase1]] and the fused [[phase1Fused]]. Order of
    * `it` is irrelevant: locals are unique per (term, seg) — a doc lives
    * in exactly one map partition — so the packed-long sort is total.
    */
  private def mergeSegTerm(term: String, segId: Long,
                           it: Iterator[(String, Long, Array[Long], Array[Byte])]): SegTermRow = {
        if (!term.startsWith("w:")) {
          // positionless terms (hash shingles): the packed-long fast path
          val buf = new LongBuf
          it.foreach(p => buf.addAll(p._3))
          val packed = buf.toArray
          java.util.Arrays.sort(packed) // local is the high bits: sorts by local
          val arr = new Array[Codec.Posting](packed.length)
          var maxTf = 0
          var minDl = Int.MaxValue
          var i = 0
          while (i < packed.length) {
            val p = packed(i)
            val tf = unpackTf(p)
            val dl = unpackDl(p)
            arr(i) = Codec.Posting(unpackLocal(p), tf, dl)
            if (tf > maxTf) maxTf = tf
            if (dl < minDl) minDl = dl
            i += 1
          }
          SegTermRow(segId, TermHash.hash(term), term, packed.length, maxTf, minDl,
            Codec.encode(arr))
        } else {
          // word terms: keep each entry's position run aligned through the
          // merge-sort (partials are per-partition; the concatenation is
          // sorted by packed long = by local id, positions follow by index)
          val entries = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Int])]
          it.foreach { p =>
            val packed = p._3
            val r = new Codec.Reader(p._4)
            var i = 0
            while (i < packed.length) {
              val cnt = r.readVarInt()
              val ps = new Array[Int](cnt)
              var pos = 0
              var k = 0
              while (k < cnt) { pos += r.readVarInt(); ps(k) = pos; k += 1 }
              entries += ((packed(i), ps))
              i += 1
            }
          }
          val sorted = entries.sortBy(_._1).toArray
          val arr = new Array[Codec.Posting](sorted.length)
          val poss = new Array[Array[Int]](sorted.length)
          var maxTf = 0
          var minDl = Int.MaxValue
          var i = 0
          while (i < sorted.length) {
            val p = sorted(i)._1
            val tf = unpackTf(p)
            val dl = unpackDl(p)
            arr(i) = Codec.Posting(unpackLocal(p), tf, dl)
            poss(i) = sorted(i)._2
            if (tf > maxTf) maxTf = tf
            if (dl < minDl) minDl = dl
            i += 1
          }
          SegTermRow(segId, TermHash.hash(term), term, sorted.length, maxTf, minDl,
            Codec.encode(arr), Codec.encodePositions(arr, poss))
        }
  }

  /** Fused phase 1 + segment-file layout: ONE shuffle of the map-side
    * partials keyed by seg_id, then an in-task hash-merge per (term, seg)
    * and an in-task (term_id, seg_id) sort — emitting rows already in the
    * segment files' physical order.
    *
    * Replaces the groupByKey((term, seg)) + repartition(seg_id) +
    * sortWithinPartitions chain: the postings payload used to cross TWO
    * shuffles (grouping, then layout) and a sort-based aggregation; here it
    * crosses one, and the merge/sort run on plain arrays inside the task.
    * At 100 TB the shuffle is the build's dominant data movement — halving
    * it is the scale win; on the bench box it also removes the 8-thread
    * memory-bandwidth pressure that inflated per-core CPU ~12% from 2 to
    * 8 cores (BASELINE.md round-5 profiling).
    *
    * Memory contract: a task holds the merged postings of range/parts
    * segments (no spill path — [[phase1]] is the spillable fallback).
    * Bounded by rangeSegsShift (segments per range) and `parts`; the bench
    * shape (64k-doc ranges) is ~25 MB/task at parts=2. Operators size
    * `buildPartitions` so a task's share fits the executor.
    *
    * Rows are identical to [[phase1]]'s (pinned by IndexSpec): same
    * hash-partitioning expression (seg_id into `parts`), same merge, same
    * (term_id, seg_id) order within each partition.
    */
  def phase1Fused(spark: SparkSession,
                  partials: Dataset[(String, Long, Array[Long], Array[Byte])],
                  parts: Int): Dataset[SegTermRow] = {
    import spark.implicits._
    partials
      .repartition(parts, col("_2"))
      .mapPartitions { it =>
        val acc = new java.util.HashMap[(String, Long),
          scala.collection.mutable.ArrayBuffer[(String, Long, Array[Long], Array[Byte])]]()
        it.foreach { p =>
          acc.computeIfAbsent((p._1, p._2),
            _ => scala.collection.mutable.ArrayBuffer.empty).append(p)
        }
        val rows = new Array[SegTermRow](acc.size)
        val ei = acc.entrySet().iterator()
        var i = 0
        while (ei.hasNext) {
          val e = ei.next()
          rows(i) = mergeSegTerm(e.getKey._1, e.getKey._2, e.getValue.iterator)
          ei.remove() // release the raw partials before the next merge
          i += 1
        }
        java.util.Arrays.sort(rows, (a: SegTermRow, b: SegTermRow) => {
          val c = java.lang.Long.compare(a.term_id, b.term_id)
          if (c != 0) c else java.lang.Long.compare(a.seg_id, b.seg_id)
        })
        rows.iterator
      }
  }

  /** Committed unit ids: ONE globStatus listing of the manifest _SUCCESS
    * markers (not a listStatus + per-range exists probe — at many-range
    * scale the metadata round trips per query/build would dominate;
    * VERDICT r02 next #9). A "unit" is one committed directory set
    * (segments/docmeta/…/manifest under range=<id>): build units
    * carry their doc-range id (≥0), compacted units a negative id.
    */
  def committedUnits(spark: SparkSession, indexDir: String): Seq[Long] = {
    val fs = new Path(indexDir).getFileSystem(spark.sessionState.newHadoopConf())
    Option(fs.globStatus(new Path(s"${manifestDir(indexDir)}/range=*/_SUCCESS")))
      .getOrElse(Array.empty)
      .map(_.getPath.getParent.getName.stripPrefix("range=").toLong)
      .toSeq
  }

  /** Manifest rows of the given units ([[writeManifest]]'s schema). */
  def manifests(spark: SparkSession, indexDir: String, units: Seq[Long]): DataFrame = {
    require(units.nonEmpty, s"no committed units under $indexDir")
    spark.read
      .option("basePath", manifestDir(indexDir))
      .parquet(units.map(u => s"${manifestDir(indexDir)}/range=$u"): _*)
  }

  /** Commit `unit`: its one manifest row, stamped with [[CodecVer]] and
    * the filter columns whose keys every doc of the unit carries
    * (`filter_cols`) — written LAST, after every other store of the unit
    * (the `_SUCCESS` marker is the commit gate).
    */
  private def writeManifest(spark: SparkSession, indexDir: String, unit: Long,
      nDocs: Long, sumDl: Long, nRows: Long, checksum: Long, cfg: IndexConfig,
      buildMs: Long, docRanges: Seq[DocRangeStat], retires: Seq[Long],
      coveredCols: Seq[String]): Unit = {
    import spark.implicits._
    Seq((unit, nDocs, sumDl, nRows, checksum, cfg.segShift, cfg.rangeSegsShift,
      buildMs, docRanges, retires, CodecVer, coveredCols))
      .toDF("range_id", "n_docs", "sum_dl", "n_rows", "checksum",
        "seg_shift", "range_segs_shift", "build_ms", "doc_ranges", "retires",
        "codec_ver", "filter_cols")
      .coalesce(1).write.mode("overwrite").parquet(s"${manifestDir(indexDir)}/range=$unit")
  }

  /** (live unit ids, their manifest rows) resolved with ONE listing (the
    * committedUnits glob) and ONE manifest read (the DataFrame's file index
    * is built once; both downstream actions reuse it). The retire is
    * atomic: a compacted unit's manifest row (written LAST) lists the
    * units it supersedes, so before that commit the old units are visible
    * and after it they are shadowed — deleting their directories afterwards
    * is garbage collection, not correctness.
    */
  private def unitState(spark: SparkSession, indexDir: String): (Seq[Long], Option[DataFrame]) = {
    import spark.implicits._
    val committed = committedUnits(spark, indexDir)
    if (committed.isEmpty) (Seq.empty, None)
    else {
      val m = manifests(spark, indexDir, committed)
      val retired = m.select(explode(col("retires")).as("u")).as[Long].collect().toSet
      val live = committed.filterNot(retired)
      (live, Some(m.where(col("range_id").isin(live: _*))))
    }
  }

  /** Live units = committed minus every unit retired by a committed
    * compaction.
    */
  def liveUnits(spark: SparkSession, indexDir: String): Seq[Long] =
    unitState(spark, indexDir)._1

  /** Per-original-doc-range (range_id, n_rows, checksum) attestations from
    * the live units — survives compaction (see [[DocRangeStat]]).
    */
  def docRangeStats(spark: SparkSession, indexDir: String): DataFrame = {
    val (_, m) = unitState(spark, indexDir)
    require(m.nonEmpty, s"no committed units under $indexDir")
    m.get
      .select(explode(col("doc_ranges")).as("dr"))
      .select(col("dr.range_id"), col("dr.n_rows"), col("dr.checksum"))
  }

  /** Doc-range ids already committed (directly or inside a compacted unit). */
  def doneRanges(spark: SparkSession, indexDir: String): Set[Long] = {
    import spark.implicits._
    unitState(spark, indexDir) match {
      case (_, Some(m)) =>
        m.select(explode(col("doc_ranges")).as("dr"))
          .select(col("dr.range_id")).as[Long].collect().toSet
      case _ => Set.empty
    }
  }

  /** Manifest row as compaction sees it. NOT private: Spark's generated
    * SpecificSafeProjection must instantiate the class from codegen'd
    * bytecode — a private nested case class compiles but throws
    * CompileException at runtime and falls back to interpreted eval,
    * spraying ERROR stacks into every compact/upsert log (VERDICT r03
    * "What's wrong" #1).
    */
  final case class UnitRow(id: Long, nDocs: Long, sumDl: Long,
      nRows: Long, checksum: Long, segShift: Int, rangeSegsShift: Int,
      docRanges: Seq[DocRangeStat], coveredCols: Seq[String])

  /** Compact committed units: merge groups of small units into single
    * units so `Index` metadata and per-query file listings stay bounded on
    * a continuously-fed corpus — the analog of the Lucene segment merging
    * the reference rides on via Solr's `<commit/>`
    * (`/root/reference/README.md:273-277`), which had no counterpart here
    * (VERDICT r02 "What's missing" #1). Without it, StreamIndexer's
    * one-range-per-batch ingest grows `Index.ranges` forever and every
    * query fans its readers over per-range directory lists.
    *
    * Mechanics: live units are greedily grouped (ascending id) into batches
    * whose summed doc count stays ≤ `maxUnitDocs`; each batch of ≥2 units
    * is rewritten into ONE new unit. Units cover disjoint doc-id ranges, so
    * seg_ids never collide across them — the merge is a file consolidation
    * (repartition by seg_id, term-sorted within for row-group pruning),
    * not a posting-list merge. The new unit's manifest row
    *   - carries the SUM/XOR of the constituents' stats (all associative),
    *   - keeps every constituent's per-doc-range attestation verbatim
    *     ([[DocRangeStat]]) so streamed replays still verify range by range,
    *   - lists the constituents in `retires` and is written LAST — the
    *     swap commits atomically under the same manifest gate as the build;
    *   - the docmeta rewrite is re-attested: an Observation on the write
    *     must reproduce the constituents' summed row count and xor
    *     checksum, so a corrupted copy fails instead of committing.
    * New unit ids are negative (doc-range ids are ≥0 by construction),
    * assigned below the current minimum live id. Crash safety does not
    * depend on id reuse: a rerun first SWEEPS dead partials — any
    * negative-id directory without a committed manifest is a crashed
    * compaction's invisible output — then merges fresh (idempotent redo).
    * Retired unit directories are deleted AFTER the commit — pure GC; a
    * crash between commit and delete leaves shadowed dirs the sweep
    * reclaims on the next run.
    *
    * `gc = false` defers the directory deletions entirely (both the sweep
    * and this run's retirees): an `Index` opened BEFORE the compaction
    * holds the old unit paths and would hit vanished files if GC ran under
    * it — a long-query deployment compacts with gc=false and sweeps later
    * (any subsequent compact(gc=true) reclaims everything shadowed).
    */
  def compact(spark: SparkSession, indexDir: String,
              maxUnitDocs: Long = Long.MaxValue,
              gc: Boolean = true): CompactReport = {
    import spark.implicits._
    val committed = committedUnits(spark, indexDir)
    val live = (if (committed.isEmpty) Seq.empty[Long]
                else liveUnits(spark, indexDir)).sorted
    // self-healing GC sweep: a compaction that crashed between its manifest
    // commit and its delete loop leaves retired-but-undeleted unit dirs
    // (shadowed, so harmless — but an unbounded leak if never reclaimed)
    val fs = new Path(indexDir).getFileSystem(spark.sessionState.newHadoopConf())
    val stores = unitStoreDirs(indexDir)
    def deleteUnit(u: Long): Unit =
      stores.foreach(d => fs.delete(new Path(s"$d/range=$u"), true))
    if (gc) {
      val committedSet = committed.toSet
      (committedSet -- live).foreach(deleteUnit)
      // dead-partial sweep: NEGATIVE unit ids are written only by
      // compaction, so a negative dir without a committed manifest is a
      // crashed run's partial output (invisible, but disk it holds never
      // reclaims itself — out-of-order parallel commits mean a rerun may
      // merge under different ids and never overwrite it). Safe under the
      // design's standing assumption of one compaction at a time.
      //
      // The TOMBSTONES store sweeps on a broader rule (ADVICE r03): ANY
      // shard whose id is not a committed unit is an orphan — upsert
      // writes kill shards BEFORE its build commits, so a crashed upsert
      // can leave non-negative-id shards for ranges that never committed.
      // They match no manifest (harmless to queries) but pollute every
      // tombstoneUnits glob forever on a long-running CDC stream. By the
      // one-maintenance-op-at-a-time assumption, no upsert is mid-flight
      // here, so every legitimate shard's unit id IS committed; a swept
      // shard is regenerated deterministically if its upsert replays.
      stores.foreach { d =>
        val orphan: Long => Boolean =
          if (d == tombstonesDir(indexDir)) id => !committedSet.contains(id)
          else id => id < 0 && !committedSet.contains(id)
        unitsIn(spark, d).filter(orphan)
          .foreach(id => fs.delete(new Path(s"$d/range=$id"), true))
      }
    }
    if (live.isEmpty) return CompactReport(live, live, Seq.empty)
    // Solr-update tombstones: reclaim pass. Which doc ranges have pending
    // kills? (a kill bitmap row is per seg_id; seg >> rangeSegsShift is the
    // doc range it targets — one driver-side distinct over a tiny table)
    val tombUnits = live.filter(tombstoneUnits(spark, indexDir).contains)
    val killTargetRanges: Set[Long] =
      if (tombUnits.isEmpty) Set.empty
      else {
        import spark.implicits._
        val rs = cfgOfIndex(spark, indexDir, live).rangeSegsShift
        spark.read.parquet(tombUnits.map(u => s"${tombstonesDir(indexDir)}/range=$u"): _*)
          .select(shiftrightunsigned(col("seg_id"), rs).as("r"))
          .distinct().as[Long].collect().toSet
      }
    if (live.size <= 1 && killTargetRanges.isEmpty)
      return CompactReport(live, live, Seq.empty)
    val rows = manifests(spark, indexDir, live)
      .select(col("range_id").as("id"), col("n_docs").cast("long").as("nDocs"),
        col("sum_dl").cast("long").as("sumDl"), col("n_rows").cast("long").as("nRows"),
        col("checksum"), col("seg_shift").cast("int").as("segShift"),
        col("range_segs_shift").cast("int").as("rangeSegsShift"),
        col("doc_ranges").as("docRanges"), col("filter_cols").as("coveredCols"))
      .as[UnitRow].collect().sortBy(_.id)
    require(rows.map(r => (r.segShift, r.rangeSegsShift)).distinct.length == 1,
      "compact requires a uniform segment geometry across units")
    // greedy batches of ascending unit id, bounded by maxUnitDocs
    val batches = scala.collection.mutable.ListBuffer[Vector[UnitRow]]()
    var cur = Vector.empty[UnitRow]
    var curDocs = 0L
    rows.foreach { r =>
      if (cur.nonEmpty && curDocs + r.nDocs > maxUnitDocs) {
        batches += cur; cur = Vector.empty; curDocs = 0L
      }
      cur :+= r; curDocs += r.nDocs
    }
    if (cur.nonEmpty) batches += cur
    // ids assigned by batch order before the (parallel) merges; a crashed
    // run's uncommitted partials are reclaimed by the dead-partial sweep
    // above, so rerun correctness does not depend on id reuse
    val firstId = math.min(-1L, live.min - 1)
    // a batch is rewritten when it consolidates (≥2 units), when pending
    // kills target its doc ranges (reclaim — the Lucene merge that drops
    // deleted docs even from a lone segment), or when a unit in it carries
    // a tombstone file (so applied/duplicate kill entries drain instead of
    // keeping hasTombstones true forever)
    def targeted(b: Vector[UnitRow]): Boolean =
      b.exists(_.docRanges.exists(dr => killTargetRanges.contains(dr.range_id)))
    val toMerge = batches.toSeq
      .filter(b => b.size >= 2 || targeted(b) || b.exists(u => tombUnits.contains(u.id)))
      .zipWithIndex
      .map { case (b, i) => (b, firstId - i) }
    // which live unit owns each doc range (for the carry-forward drain
    // check: a carried kill survives only while its target doc still
    // exists in the PRE-RUN snapshot of the owning unit)
    val rangeOwner: Map[Long, Long] =
      rows.flatMap(u => u.docRanges.map(dr => dr.range_id -> u.id)).toMap
    // batches are independent jobs (disjoint inputs, disjoint outputs,
    // each manifest-gated on its own) — overlap them on the driver exactly
    // like the build's range pool so a many-batch maintenance pass uses
    // the whole cluster instead of serializing per batch
    if (toMerge.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(4, toMerge.size))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val futures = toMerge.map { case (batch, newId) =>
        scala.concurrent.Future {
          mergeUnits(spark, indexDir, batch, newId,
            tombUnits = tombUnits, rangeOwner = rangeOwner)
          batch
        }
      }
      // wait for EVERY future to settle before propagating the first
      // failure: throwing early would leave sibling merge jobs running
      // detached, and a caller's retry (e.g. Structured Streaming's batch
      // redo) would then race two overwrite writers on the same target dirs
      val settled =
        try futures.map(f => scala.util.Try(
          scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)))
        finally pool.shutdown()
      // GC only after EVERY batch settled: a sibling batch may read kill
      // bitmaps that live in THIS batch's retired units (tombstones target
      // docs across batch boundaries) — deleting mid-run would race it
      if (gc) settled.foreach {
        case scala.util.Success(batch) => batch.foreach(u => deleteUnit(u.id))
        case _ => ()
      }
      settled.collectFirst { case scala.util.Failure(e) => throw e }
    }
    CompactReport(live, liveUnits(spark, indexDir).sorted, toMerge.map(_._2))
  }

  /** Rewrite one batch of units into unit `newId`; manifest written last.
    *
    * Reclaim (Lucene merge semantics): when kill bitmaps target this
    * batch's doc ranges, the rewrite drops killed docs physically —
    * postings decoded, filtered, re-encoded (df/max_tf/min_dl refreshed,
    * empty terms dropped — filter keys too), docmeta rows removed — and
    * the new manifest's stats reflect LIVE docs only, so (N, avgdl,
    * df) refresh at merge exactly as Lucene's do. Attestation algebra:
    * checksums are order-independent XORs, so removing the killed rows'
    * hashes from the constituents' combined checksum gives the exact
    * expected live checksum — the Observation on the rewritten docmeta
    * must reproduce it (end-to-end copy attestation preserved under
    * reclaim). `doc_ranges` INGEST attestations stay verbatim: they gate
    * streamed replays, which re-offer the original batch content. The new
    * unit covers the filter columns every doc-holding member covers.
    */
  private def mergeUnits(spark: SparkSession, indexDir: String,
                         batch: Seq[UnitRow], newId: Long,
                         tombUnits: Seq[Long] = Seq.empty,
                         rangeOwner: Map[Long, Long] = Map.empty): Unit = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val ids = batch.map(_.id)
    val rs = batch.head.rangeSegsShift
    val cfg0 = IndexConfig(segShift = batch.head.segShift, rangeSegsShift = rs)
    def paths(dir: String): Seq[String] = ids.map(u => s"$dir/range=$u")
    // no basePath: these reads must NOT infer a range partition column —
    // the rewrite would bake it into the data files and clash with the
    // partition column the query-side basePath readers derive
    val segParts = math.max(1, spark.sparkContext.defaultParallelism)

    // kill bitmaps (from EVERY live tombstone-carrying unit — kills cross
    // batch boundaries) restricted to this batch's doc ranges, OR-merged
    // per segment
    val batchRanges: Seq[Long] = batch.flatMap(_.docRanges.map(_.range_id)).distinct
    val kills: Option[DataFrame] =
      if (tombUnits.isEmpty || batchRanges.isEmpty) None
      else {
        val kb = spark.read
          .parquet(tombUnits.map(u => s"${tombstonesDir(indexDir)}/range=$u"): _*)
          .where(shiftrightunsigned(col("seg_id"), rs).isin(batchRanges: _*))
          .select(col("seg_id"), col("bitmap")).as[(Long, Array[Byte])]
          .groupByKey(_._1)
          .mapGroups { (seg, it) =>
            val bm = Bitmaps.deserialize(it.next()._2)
            it.foreach(r => bm.or(Bitmaps.deserialize(r._2)))
            (seg, Bitmaps.serialize(bm))
          }
          .toDF("seg_id", "kill")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        if (kb.limit(1).isEmpty) { kb.unpersist(blocking = false); None } else Some(kb)
      }

    val segSrc = spark.read.parquet(paths(segmentsDir(indexDir)): _*)
    val segOut = kills match {
      case None => segSrc
      case Some(kb) =>
        segSrc.join(kb, Seq("seg_id"), "left")
          .select(col("seg_id"), col("term_id"), col("term"), col("df"),
            col("max_tf"), col("min_dl"), col("postings"), col("positions"), col("kill"))
          .as[(Long, Long, String, Int, Int, Int, Array[Byte], Array[Byte], Array[Byte])]
          .mapPartitions { it =>
            // one deserialized kill bitmap per segment, cached across the
            // partition's (term) rows
            val cache = new java.util.HashMap[Long, org.roaringbitmap.RoaringBitmap]()
            it.flatMap { case (seg, tid, term, df, mtf, mdl, post, posBlob, killBytes) =>
              if (killBytes == null)
                Iterator.single(SegTermRow(seg, tid, term, df, mtf, mdl, post, posBlob))
              else {
                val bm = cache.computeIfAbsent(seg, _ => Bitmaps.deserialize(killBytes))
                // pass-through probe (VERDICT r05 next #2): most term lists
                // in a kill-carrying segment hold NO killed doc (kills are
                // ~1% of docs), so probe the list with the block-skipping
                // iterator against the kill set first and keep the ORIGINAL
                // postings+positions blobs byte-identically when nothing
                // changes — the decode → filter → re-encode (and the
                // positions decode in lockstep) is paid only by lists that
                // actually lose an entry. Output is byte-identical either
                // way (the codec re-encode is canonical — CodecSpec pin);
                // pass-through just skips proving it per list.
                val ki = bm.getIntIterator
                val probe = new Codec.Iter(post)
                var live = !probe.exhausted
                var touched = false
                while (!touched && live && ki.hasNext) {
                  val k = ki.next()
                  if (!probe.advanceTo(k)) live = false
                  else if (probe.curLocal == k) touched = true
                }
                if (!touched)
                  Iterator.single(SegTermRow(seg, tid, term, df, mtf, mdl, post, posBlob))
                else {
                val all = Codec.decodeAll(post)
                // positions filtered in lockstep (same surviving indices)
                val allPos = if (posBlob == null) null
                  else Codec.decodeAllPositions(post, posBlob)
                val keepIdx = Array.range(0, all.length).filterNot(i => bm.contains(all(i).local))
                if (keepIdx.isEmpty) Iterator.empty
                else {
                  val kept = keepIdx.map(all)
                  var maxTf = 0
                  var minDl = Int.MaxValue
                  kept.foreach { p =>
                    if (p.tf > maxTf) maxTf = p.tf
                    if (p.dl < minDl) minDl = p.dl
                  }
                  val keptPos = if (allPos == null) null
                    else Codec.encodePositions(kept, keepIdx.map(allPos))
                  Iterator.single(SegTermRow(seg, tid, term, kept.length,
                    maxTf, minDl, Codec.encode(kept), keptPos))
                }
                }
              }
            }
          }.toDF()
    }
    segOut
      .repartition(segParts, col("seg_id"))
      .sortWithinPartitions(col("term_id"), col("seg_id"))
      .write.mode("overwrite").parquet(s"${segmentsDir(indexDir)}/range=$newId")
    // merged dictionary from the rewritten segments: correct under reclaim
    // too (dfs refreshed from the surviving postings — exactly Lucene's
    // df-refresh-at-merge), one metadata-column pass, no postings read
    writeDictionary(spark, indexDir, newId)

    // killed-row aggregates for the attestation/stat patch (independent of
    // the copy: ids come from the bitmaps, values from a separate source
    // read — a corrupted copy still fails the Observation check below)
    val killedIds: Option[DataFrame] = kills.map { kb =>
      kb.select(col("seg_id"), col("kill")).as[(Long, Array[Byte])]
        .flatMap { case (seg, bytes) =>
          Bitmaps.deserialize(bytes).toArray.iterator.map(cfg0.globalOf(seg, _))
        }.toDF("doc_id")
    }
    val metaSrc = spark.read.parquet(paths(docmetaDir(indexDir)): _*)
    val (killedRows, killedDocs, killedSumDl, killedCk) = killedIds match {
      case None => (0L, 0L, 0L, 0L)
      case Some(k) =>
        val r = metaSrc.join(k, Seq("doc_id"), "left_semi")
          .agg(count(lit(1)).cast("long"),
            coalesce(sum(when(col("dl") > 0, 1L).otherwise(0L)), lit(0L)).cast("long"),
            coalesce(sum(when(col("dl") > 0, col("dl").cast("long")).otherwise(0L)), lit(0L)),
            coalesce(expr("bit_xor(xxhash64(concat_ws('|', doc_id, sha)))"), lit(0L)))
          .as[(Long, Long, Long, Long)].head()
        r
    }
    val expN = batch.map(_.nRows).sum - killedRows
    val expCk = batch.map(_.checksum).reduce(_ ^ _) ^ killedCk
    val liveMeta = killedIds match {
      case Some(k) => metaSrc.join(k, Seq("doc_id"), "left_anti")
      case None => metaSrc
    }
    val obs = org.apache.spark.sql.Observation(s"graft-compact-$newId-${System.nanoTime()}")
    liveMeta
      .observe(obs,
        count(lit(1)).as("n_rows"),
        coalesce(expr("bit_xor(xxhash64(concat_ws('|', doc_id, sha)))"), lit(0L)).as("checksum"))
      .write.mode("overwrite").parquet(s"${docmetaDir(indexDir)}/range=$newId")
    val om = obs.get
    require(om("n_rows") == expN && om("checksum") == expCk,
      s"compaction re-attestation failed for unit $newId: wrote " +
        s"(${om("n_rows")}, ${om("checksum")}), manifests say ($expN, $expCk)")
    // Carry forward kills CREATED by this batch's units that target doc
    // ranges OUTSIDE this batch. Deliberately pessimistic per batch (a
    // sibling batch that would apply a kill may fail after we commit, so
    // we may not assume it): duplicates are harmless — doc_ids never
    // recycle and exclusion of a gone id is a no-op. Drain instead comes
    // from the existence check below: a carried kill whose target doc is
    // already gone from the PRE-RUN snapshot of its owning unit (applied
    // in an earlier run) is dropped, so tombstone files empty out within
    // a couple of compactions instead of pinning hasTombstones forever.
    val batchTombUnits = ids.filter(tombUnits.contains)
    if (batchTombUnits.nonEmpty) {
      val carried0 = spark.read
        .parquet(batchTombUnits.map(u => s"${tombstonesDir(indexDir)}/range=$u"): _*)
        .where(!shiftrightunsigned(col("seg_id"), rs).isin(batchRanges: _*))
        .select(col("seg_id"), col("bitmap"))
      val carriedIds = carried0.as[(Long, Array[Byte])]
        .flatMap { case (seg, bytes) =>
          Bitmaps.deserialize(bytes).toArray.iterator.map(cfg0.globalOf(seg, _))
        }.toDF("doc_id").distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val targetRanges = carriedIds
          .select(shiftrightunsigned(col("doc_id"), cfg0.rangeShift).as("r"))
          .distinct().as[Long].collect()
        val ownerUnits = targetRanges.flatMap(rangeOwner.get).distinct.toSeq
        val surviving =
          if (ownerUnits.isEmpty) carriedIds.limit(0)
          else carriedIds.join(
            spark.read.parquet(ownerUnits.map(u => s"${docmetaDir(indexDir)}/range=$u"): _*)
              .select(col("doc_id")),
            Seq("doc_id"), "left_semi")
        val carryBms = surviving.select(col("doc_id")).as[Long]
          .groupByKey(cfg0.segOf)
          .mapGroups { (seg, it) =>
            val bm = new org.roaringbitmap.RoaringBitmap()
            it.foreach(d => bm.add(cfg0.localOf(d)))
            (seg, Bitmaps.serialize(bm))
          }
          .toDF("seg_id", "bitmap")
        if (!carryBms.limit(1).isEmpty)
          carryBms.write.mode("overwrite")
            .parquet(s"${tombstonesDir(indexDir)}/range=$newId")
      } finally carriedIds.unpersist(blocking = false)
    }
    kills.foreach(_.unpersist(blocking = false))
    writeManifest(spark, indexDir, newId, batch.map(_.nDocs).sum - killedDocs,
      batch.map(_.sumDl).sum - killedSumDl, expN, expCk, cfg0,
      (System.nanoTime() - t0) / 1000000L, batch.flatMap(_.docRanges), ids,
      batch.filter(_.nDocs > 0).map(_.coveredCols).reduceOption(_ intersect _).getOrElse(Nil))
  }

  /** Build (or resume) the index for `corpus`; returns a report. */
  /** `rangeFilter` restricts this invocation to a subset of the corpus's
    * checkpoint ranges — the share-nothing distribution unit: several
    * driver processes (cluster nodes) can build DISJOINT range classes of
    * one index concurrently, each committing its ranges through the same
    * per-range manifest gate (Bench's process-scaling measurement runs
    * 4 such workers; a real deployment shards ranges across jobs the
    * same way). Default: every range.
    */
  def build(spark: SparkSession, corpus: DataFrame, indexDir: String,
            cfg: IndexConfig = IndexConfig(),
            rangeFilter: Long => Boolean = _ => true): BuildReport = {
    import spark.implicits._
    val t0 = System.nanoTime()
    // integer range derivation (NOT double division: for doc_id near 2^53
    // the double rounding could assign boundary docs to the wrong range,
    // silently never indexing them) — matches IndexConfig.rangeOf exactly
    val ranges = corpus
      .select(shiftrightunsigned(col("doc_id"), cfg.rangeShift).as("r"))
      .distinct().as[Long].collect().sorted.filter(rangeFilter)
    val done = doneRanges(spark, indexDir)
    val (skip, todo) = ranges.partition(done.contains)
    // ranges overlap on the driver (bounded pool): each range stays an
    // independent idempotent checkpoint unit, but their Spark jobs
    // interleave so fixed scheduling latency doesn't serialize the build
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(cfg.concurrentRanges, todo.length)))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val futures = todo.map { r => scala.concurrent.Future { buildRange(spark, corpus, indexDir, cfg, r) } }
    val results =
      try futures.map(f => scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf))
      finally pool.shutdown()
    BuildReport(todo.toSeq, skip.toSeq,
      results.map(_._1).sum, results.map(_._2).sum, (System.nanoTime() - t0) / 1000000L)
  }

  // ---- Solr update semantics: upsert / delete via tombstones ------------
  //
  // The reference rides on Solr's uniqueKey replace (managed-schema
  // `<uniqueKey>id</uniqueKey>`: re-adding a doc with an existing id
  // replaces it) which Lucene implements as a tombstone in the segment's
  // liveDocs bitset, reclaimed physically at segment merge. The analog
  // here: a per-segment RoaringBitmap kill-bitmap side-file under
  // tombstones/range=<unit>, committed atomically by the unit's manifest
  // gate; every query path excludes killed docs; compaction reclaims them
  // physically and refreshes stats. Until then corpus stats (N, avgdl) and
  // term dfs stay STALE — exactly Lucene's deleted-docs behavior
  // (deleted docs count toward docFreq/norms until merge).

  /** Units that carry a tombstone side-file — ONE globStatus listing. */
  def tombstoneUnits(spark: SparkSession, indexDir: String): Set[Long] =
    unitsIn(spark, tombstonesDir(indexDir))

  /** (seg_id, bitmap) kill bitmaps of the given units (None if tombstone-free). */
  def killBitmaps(spark: SparkSession, indexDir: String,
                  units: Seq[Long]): Option[DataFrame] = {
    val present = units.filter(tombstoneUnits(spark, indexDir).contains)
    if (present.isEmpty) None
    else Some(spark.read
      .option("basePath", tombstonesDir(indexDir))
      .parquet(present.map(u => s"${tombstonesDir(indexDir)}/range=$u"): _*)
      .select(col("seg_id"), col("bitmap")))
  }

  /** Distinct killed global doc_ids of the given units. */
  def killDocIds(spark: SparkSession, indexDir: String, units: Seq[Long],
                 cfg: IndexConfig): Option[DataFrame] = {
    import spark.implicits._
    killBitmaps(spark, indexDir, units).map { bms =>
      bms.as[(Long, Array[Byte])]
        .flatMap { case (seg, bytes) =>
          Bitmaps.deserialize(bytes).toArray.iterator.map(cfg.globalOf(seg, _))
        }
        .distinct().toDF("doc_id")
    }
  }

  /** Docmeta of the given units minus already-killed docs (the LIVE view
    * kill resolution runs against — makes upsert/delete replay-idempotent).
    */
  private def liveDocmeta(spark: SparkSession, indexDir: String,
                          units: Seq[Long], cfg: IndexConfig): DataFrame = {
    val meta = spark.read.parquet(units.map(u => s"${docmetaDir(indexDir)}/range=$u"): _*)
    // no join-strategy hint: kill sets are usually broadcast-small but a
    // backlogged index could hold billions — AQE picks at runtime
    killDocIds(spark, indexDir, units, cfg) match {
      case Some(k) => meta.join(k, Seq("doc_id"), "left_anti")
      case None => meta
    }
  }

  private def cfgOfIndex(spark: SparkSession, indexDir: String, live: Seq[Long]): IndexConfig = {
    import spark.implicits._
    val (s, rs) = manifests(spark, indexDir, live)
      .select(col("seg_shift").cast("int"), col("range_segs_shift").cast("int"))
      .as[(Int, Int)].head()
    IndexConfig(segShift = s, rangeSegsShift = rs)
  }

  /** Aggregate killed doc_ids into per-segment kill bitmaps and write them
    * under tombstones/range=`unit` (overwrite-idempotent).
    */
  private def writeTombstones(spark: SparkSession, indexDir: String, unit: Long,
                              kills: DataFrame, cfg: IndexConfig): Unit = {
    import spark.implicits._
    kills.select(col("doc_id")).as[Long]
      .groupByKey(cfg.segOf)
      .mapGroups { (seg, it) =>
        val bm = new org.roaringbitmap.RoaringBitmap()
        it.foreach(d => bm.add(cfg.localOf(d)))
        (seg, Bitmaps.serialize(bm))
      }
      .toDF("seg_id", "bitmap")
      .write.mode("overwrite").parquet(s"${tombstonesDir(indexDir)}/range=$unit")
  }

  /** Index `batch` (fresh doc_ids in uncommitted ranges) as new committed
    * units with Solr uniqueKey-replace semantics: per key, THE HIGHEST
    * doc_id among (live versions ∪ batch rows) survives; every other
    * version is tombstoned. doc_id is the version order — ingest allocates
    * monotonically increasing ranges, so arrival order and id order agree —
    * which makes the rule safe under ANY delivery order and ANY replay:
    *  - a replayed old chunk can never kill a newer committed version
    *    (its ids are lower — it loses and is tombstoned dead-on-arrival,
    *    which it already was);
    *  - several versions of one key inside one batch resolve to the max
    *    (losers are indexed then excluded, like a same-segment Lucene
    *    update);
    *  - out-of-order chunk delivery leaves the max alive whichever chunk
    *    lands first, and even heals pre-existing duplicate versions.
    *
    * Kill files are written BEFORE the build, sharded so atomicity holds
    * per range: a killed BATCH doc commits with its OWN range
    * (dead-on-arrival), a killed LIVE doc with the surviving batch doc's
    * range — a crash that commits only some ranges of a multi-range batch
    * never shows two versions of a key. A shard attributed to an
    * already-committed unit merges with that unit's existing kills
    * (overwrite would silently resurrect them).
    */
  def upsert(spark: SparkSession, batch: DataFrame, indexDir: String,
             cfg: IndexConfig = IndexConfig(),
             keyCols: Seq[String] = Seq("path")): BuildReport = {
    import spark.implicits._
    val batchRanges = batch
      .select(shiftrightunsigned(col("doc_id"), cfg.rangeShift).as("r"))
      .distinct().as[Long].collect().toSet
    require(batchRanges.nonEmpty, "upsert batch is empty")
    val live = committedUnits(spark, indexDir) match {
      case c if c.nonEmpty => liveUnits(spark, indexDir)
      case _ => Seq.empty[Long]
    }
    val keyColsC = keyCols.map(col)
    val liveVers =
      if (live.isEmpty) None
      else {
        val idxCfg = cfgOfIndex(spark, indexDir, live)
        require(idxCfg.segShift == cfg.segShift && idxCfg.rangeSegsShift == cfg.rangeSegsShift,
          s"upsert cfg $cfg does not match index geometry $idxCfg")
        // live versions of the batch's keys OUTSIDE the batch's ranges — a
        // replayed batch's own committed docs enter via the batch side
        Some(liveDocmeta(spark, indexDir, live, cfg)
          .join(batch.select(keyColsC: _*).distinct(), keyCols, "left_semi")
          .where(!shiftrightunsigned(col("doc_id"), cfg.rangeShift)
            .isin(batchRanges.toSeq: _*))
          .select(keyColsC :+ col("doc_id").as("vid"): _*)
          .withColumn("from_batch", lit(false)))
      }
    val batchVers = batch.select(keyColsC :+ col("doc_id").as("vid"): _*)
      .withColumn("from_batch", lit(true))
    val all = liveVers.fold(batchVers)(batchVers.unionByName(_))
    val wins = all.groupBy(keyColsC: _*).agg(max(col("vid")).as("win"))
    // Shard attribution resolves the target DOC RANGE to its OWNING LIVE
    // UNIT (ADVICE r03): after a compaction merged range X into unit -k,
    // a shard written under range=X would sit on a retired id no
    // tombstoneUnits/Index scan ever surfaces — the killed doc would stay
    // live forever. The owner map comes from the live manifests'
    // doc_ranges (bounded: one row per ingested range); a range with no
    // owner yet (this batch's own uncommitted ranges) keeps its raw id —
    // this build commits it.
    val ownerDf: DataFrame =
      if (live.isEmpty) Seq.empty[(Long, Long)].toDF("tr", "owner_unit")
      else manifests(spark, indexDir, live)
        .select(col("range_id").as("owner_unit"), explode(col("doc_ranges")).as("dr"))
        .select(col("dr.range_id").as("tr"), col("owner_unit"))
    val kills = all.join(wins, keyCols)
      .where(col("vid") =!= col("win"))
      .withColumn("tr",
        when(col("from_batch"), shiftrightunsigned(col("vid"), cfg.rangeShift))
          .otherwise(shiftrightunsigned(col("win"), cfg.rangeShift)))
      .join(broadcast(ownerDf), Seq("tr"), "left")
      .select(col("vid").as("doc_id"),
        coalesce(col("owner_unit"), col("tr")).as("target_unit"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val units = kills.select(col("target_unit")).distinct().as[Long].collect()
      val committedTomb =
        if (units.isEmpty) Set.empty[Long]
        else live.toSet.intersect(tombstoneUnits(spark, indexDir)).intersect(units.toSet)
      units.foreach { u =>
        val mine = kills.where(col("target_unit") === u).select("doc_id")
        val merged =
          if (committedTomb.contains(u))
            // committed unit with an existing kill shard: MERGE — those
            // kills are active, overwriting would resurrect their targets.
            // localCheckpoint materializes the union BEFORE the overwrite
            // of the very files the existing-kills read plan points at.
            mine.unionByName(
              killDocIds(spark, indexDir, Seq(u), cfg).get).distinct()
              .localCheckpoint()
          else mine // fresh or crashed-partial shard: deterministic recompute
        writeTombstones(spark, indexDir, u, merged, cfg)
      }
    } finally kills.unpersist(blocking = false)
    build(spark, batch, indexDir, cfg)
  }

  /** Delete live docs matching `keys` on `keyCols` (Solr deleteById):
    * derives the kill set by a left-semi join of the live docmeta view
    * against the keys and commits it via [[deleteDocs]]. Returns the
    * number of docs deleted (0 = no-op, nothing written — which also
    * makes replays idempotent).
    */
  def deleteByKeys(spark: SparkSession, keys: DataFrame, indexDir: String,
                   keyCols: Seq[String] = Seq("path")): Long = {
    val live = liveUnits(spark, indexDir)
    require(live.nonEmpty, s"no committed units under $indexDir")
    val cfg = cfgOfIndex(spark, indexDir, live)
    deleteDocs(spark, indexDir, live, cfg,
      liveDocmeta(spark, indexDir, live, cfg)
        .join(keys.select(keyCols.map(col): _*).distinct(), keyCols, "left_semi")
        .select(col("doc_id")))
  }

  /** Solr `<delete><query>…</query></delete>`: tombstone every LIVE doc
    * whose docmeta row satisfies `pred` (stored-field predicates — the
    * form deleteByQuery takes in practice: `lang:java`, a path prefix,
    * numeric ranges on dl). ONE metadata-scale filter derives the kill
    * set (no key shuffle, no second docmeta read); the commit is the
    * same tombstone-only unit as [[deleteByKeys]] (manifest-atomic,
    * idempotent: a replay finds no live match and no-ops). Stats/dfs
    * stay stale until compaction reclaims — Lucene's deleted-docs
    * semantics, same as every tombstone path.
    */
  def deleteByQuery(spark: SparkSession, indexDir: String,
                    pred: org.apache.spark.sql.Column): Long = {
    val live = liveUnits(spark, indexDir)
    require(live.nonEmpty, s"no committed units under $indexDir")
    val cfg = cfgOfIndex(spark, indexDir, live)
    deleteDocs(spark, indexDir, live, cfg,
      liveDocmeta(spark, indexDir, live, cfg).where(pred).select(col("doc_id")))
  }

  /** Commit a kill set as a tombstone-only unit — kill bitmaps + an empty
    * copy of every other store (so every per-unit read finds its path)
    * under a fresh negative id, covering no filter column, manifest
    * written last (same atomic gate; a crashed run's partials are
    * invisible and swept by the next compaction). Returns the number of
    * docs deleted (0 = no-op, nothing written).
    */
  private def deleteDocs(spark: SparkSession, indexDir: String,
                         live: Seq[Long], cfg: IndexConfig,
                         killIds: DataFrame): Long = {
    import spark.implicits._
    val committed = committedUnits(spark, indexDir)
    require(committed.nonEmpty, s"no committed units under $indexDir")
    val kills = killIds
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = kills.count()
      if (n == 0L) return 0L
      val unit = math.min(-1L, committed.min - 1)
      writeTombstones(spark, indexDir, unit, kills, cfg)
      // schema-correct empty stores so every reader's per-unit path exists
      val tmpl = live.head
      unitStoreDirs(indexDir)
        .filterNot(Set(tombstonesDir(indexDir), manifestDir(indexDir)))
        .foreach(d => spark.read.parquet(s"$d/range=$tmpl").limit(0)
          .write.mode("overwrite").parquet(s"$d/range=$unit"))
      writeManifest(spark, indexDir, unit, 0L, 0L, 0L, 0L, cfg, 0L,
        Seq.empty, Seq.empty, Seq.empty)
      n
    } finally kills.unpersist(blocking = false)
  }

  /** Await an async write future at most `timeoutSec`; on timeout cancel
    * its job group and throw — the range fails CLEANLY (its manifest is
    * written only after this returns, so nothing partial ever commits).
    * Factored out so the cancel path is directly testable with a hung job.
    *
    * All-settle-before-throw (the same rule compact's parallel merges
    * follow): after the cancel, wait a bounded grace for the write future
    * to actually DIE before throwing — a caller's immediate retry (e.g. a
    * Structured Streaming batch redo) must never race a zombie writer on
    * the same overwrite target. `cancelFlag` closes the
    * not-yet-submitted window: the write body checks it first, so a job
    * that had not reached Spark when the cancel fired never starts.
    */
  private[graft] def boundedAwait[A](spark: SparkSession,
      f: scala.concurrent.Future[A], jobGroup: String,
      timeoutSec: Long, what: String,
      cancelFlag: Option[java.util.concurrent.atomic.AtomicBoolean] = None): A =
    try scala.concurrent.Await.result(f,
      scala.concurrent.duration.Duration(timeoutSec,
        java.util.concurrent.TimeUnit.SECONDS))
    catch {
      case e: java.util.concurrent.TimeoutException =>
        cancelFlag.foreach(_.set(true))
        spark.sparkContext.cancelJobGroup(jobGroup)
        val settled = scala.util.Try(scala.concurrent.Await.ready(f,
          scala.concurrent.duration.Duration(60, java.util.concurrent.TimeUnit.SECONDS)))
        throw new IllegalStateException(
          s"$what exceeded ${timeoutSec}s; job cancelled" +
            (if (settled.isFailure)
              " (WARNING: write tasks did not settle within the 60s grace" +
                " — do not retry into the same directory until they die)"
            else "") +
            ", range NOT committed (rerun resumes it)", e)
    }

  /** Build one checkpoint range; returns (n_docs, sum_dl). */
  private def buildRange(spark: SparkSession, corpus: DataFrame, indexDir: String,
                          cfg: IndexConfig, r: Long): (Long, Long) = {
    import spark.implicits._
    {
      val rt0 = System.nanoTime()
      val lo = r << cfg.rangeShift
      val hi = (r + 1) << cfg.rangeShift
      // the slice is consumed by two passes (postings, docmeta): cache it
      // so the source is read once per range. A range is the bounded unit
      // (2^rangeShift docs), so the cache footprint is bounded too;
      // MEMORY_AND_DISK spills instead of evicting under pressure.
      val slice = corpus.where(col("doc_id") >= lo && col("doc_id") < hi)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      val posts = partialPostings(spark, slice, cfg)
      // phase 2: partition-local segment files, term-sorted for row-group
      // pruning. Write width = min(segments in range, cluster parallelism):
      // hash partitioning on seg_id keeps each segment in one file while
      // using every core (a fixed small width would serialize the write).
      val segParts = math.max(1, math.min(
        1 << cfg.rangeSegsShift,
        if (cfg.buildPartitions > 0) cfg.buildPartitions
        else spark.sparkContext.defaultParallelism))
      // segments and docmeta are independent jobs — launch the segments
      // write async so the two overlap inside the range (shortens the
      // per-range critical path; ranges already overlap across the pool)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.global
      // The write runs under its own job group so the bounded await below
      // can CANCEL it on timeout — job-group membership is thread-local to
      // the submitting thread, hence set/cleared inside the future body.
      val segJobGroup = s"graft-segments-$r-${System.nanoTime()}"
      val segCancelled = new java.util.concurrent.atomic.AtomicBoolean(false)
      val segF = scala.concurrent.Future {
        spark.sparkContext.setJobGroup(segJobGroup,
          s"graft segments write range=$r", interruptOnCancel = true)
        try {
          // a timeout that fired before this body ran must not start the
          // write at all (cancelJobGroup only kills ALREADY-submitted jobs)
          if (segCancelled.get())
            throw new IllegalStateException(s"segments write for range=$r cancelled before start")
          // fused merge+layout: one seg_id-keyed shuffle, rows emitted
          // already in (term_id, seg_id) order (see phase1Fused)
          phase1Fused(spark, posts, segParts).toDF()
            .write.mode("overwrite").parquet(s"${segmentsDir(indexDir)}/range=$r")
        } finally spark.sparkContext.clearJobGroup()
      }
      // docmeta (norms/identity side-store); dl = 2n-1 from the same
      // TokenScanner count the postings use — no token materialization,
      // no shingle md5s
      val meta = slice
        .select(col("doc_id"), col("repo"), col("path"), col("commit"),
          col("lang"), col("sha"), col("content"))
        .as[(Long, String, String, String, String, String, String)]
        .mapPartitions { rows =>
          val core = new TokenScanner
          rows.map { case (id, repo, path, commit, lang, sha, content) =>
            core.tokenize(content)
            // same MaxDl clamp as pack(): docmeta dl, manifest sum_dl and
            // the postings' inlined dl must agree for oversized docs
            (id, repo, path, commit, lang, sha, math.min(Tokenizer.dlOf(core.nToks), MaxDl))
          }
        }
        .toDF("doc_id", "repo", "path", "commit", "lang", "sha", "dl")
      // stats + checksum observed DURING the write job (one job, not two):
      // the observed rows are exactly the rows that flowed into the files,
      // so the manifest still attests the written data
      val obs = org.apache.spark.sql.Observation(s"graft-range-$r")
      meta.observe(obs,
        sum(when(col("dl") > 0, 1L).otherwise(0L)).as("n_docs"),
        coalesce(sum(when(col("dl") > 0, col("dl").cast("long")).otherwise(0L)), lit(0L)).as("sum_dl"),
        count(lit(1)).as("n_rows"),
        coalesce(expr("bit_xor(xxhash64(concat_ws('|', doc_id, sha)))"), lit(0L)).as("checksum"))
        .write.mode("overwrite").parquet(s"${docmetaDir(indexDir)}/range=$r")
      // manifest last: _SUCCESS == range committed (segments write must be
      // done before the manifest row lands — await the async job here).
      // BOUNDED await: a hung segments job would otherwise pin this range's
      // driver-pool slot forever; on timeout the job group is cancelled and
      // the range throws WITHOUT committing a manifest (clean idempotent
      // redo — partials are invisible behind the manifest gate).
      boundedAwait(spark, segF, segJobGroup, cfg.segmentsWriteTimeoutSec,
        s"segments write for range=$r", Some(segCancelled))
      // per-unit term dictionary from the attested segments (see
      // writeDictionary): part of the unit, covered by the manifest gate
      writeDictionary(spark, indexDir, r, cfg.segmentsWriteTimeoutSec)
      val om = obs.get
      val (nd, sdl, nRows, checksum) =
        (om("n_docs").asInstanceOf[Long], om("sum_dl").asInstanceOf[Long],
          om("n_rows").asInstanceOf[Long], om("checksum").asInstanceOf[Long])
      writeManifest(spark, indexDir, r, nd, sdl, nRows, checksum, cfg,
        (System.nanoTime() - rt0) / 1000000L, Seq(DocRangeStat(r, nRows, checksum)),
        Seq.empty, filterColumns(slice, cfg))
      (nd, sdl)
      } finally slice.unpersist(blocking = false)
    }
  }
}

/** RoaringBitmap <-> bytes for the kill bitmaps and the per-segment
  * matches of a docmeta predicate.
  */
object Bitmaps {
  def serialize(bm: org.roaringbitmap.RoaringBitmap): Array[Byte] = {
    bm.runOptimize()
    val buf = new Array[Byte](bm.serializedSizeInBytes())
    bm.serialize(java.nio.ByteBuffer.wrap(buf))
    buf
  }
  def deserialize(bytes: Array[Byte]): org.roaringbitmap.RoaringBitmap = {
    val bm = new org.roaringbitmap.RoaringBitmap()
    bm.deserialize(java.nio.ByteBuffer.wrap(bytes))
    bm
  }
}

/** Growable primitive long buffer (allocation-light build hot path). */
private[index] final class LongBuf {
  private var a = new Array[Long](8)
  private var n = 0
  def add(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def addAll(vs: Array[Long]): Unit = {
    if (n + vs.length > a.length)
      a = java.util.Arrays.copyOf(a, math.max(n + vs.length, a.length * 2))
    System.arraycopy(vs, 0, a, n, vs.length); n += vs.length
  }
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, n)
}

/** Growable primitive int buffer (per-doc token positions, build hot path). */
private[index] final class IntBuf {
  private var a = new Array[Int](8)
  private var n = 0
  def add(v: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def length: Int = n
  def apply(i: Int): Int = a(i)
  /** Reuse across docs (capacity kept): FastDocTokens clears a word's
    * buffer when its id is handed out again instead of reallocating. */
  def clear(): Unit = n = 0
}

/** One (term, seg) map-side partial: packed postings + (word terms only)
  * the aligned position varint stream. The position stream is lazily
  * allocated so shingle terms never pay for it.
  */
private[index] final class PartialBuf {
  val packed = new LongBuf
  private var pos: ByteBuf = null
  def posOut: ByteBuf = {
    if (pos == null) pos = new ByteBuf(32)
    pos
  }
  def posBytes: Array[Byte] =
    if (pos == null) Array.emptyByteArray else pos.toByteArray
}

/** Per-task, per-doc term accumulator of the build: one [[TokenScanner]]
  * tokenizes the doc; its distinct words go through one [[TokenTable]]
  * (ids in first-occurrence order) with their positions in an [[IntBuf]]
  * per id, so a term String materializes ONCE per distinct token per doc,
  * at drain. A shingle's term is "s:" + first 3 md5 hex digits of "a b",
  * i.e. the digest's first 12 bits — counted in an int[4096] keyed by that
  * bucket (no hex string, no substring, no HashMap), against an interned
  * 4096-entry term-string table.
  *
  * Output is pinned equal to the tokenizeScala + shingleTerm brute force
  * (IndexSpec).
  */
private[index] final class FastDocTokens {
  private val core = new TokenScanner
  private val words = new TokenTable
  private var poss = new Array[IntBuf](256)
  private val shCounts = new Array[Int](4096)
  private val shTouched = new Array[Int](4096)
  private var nSh = 0

  /** Token count of the last processed doc. */
  def nTokens: Int = core.nToks

  /** Tokenize `content` and collect its words and shingle buckets. */
  def process(content: String): Unit = {
    words.clear()
    var u = 0
    while (u < nSh) { shCounts(shTouched(u)) = 0; u += 1 }
    nSh = 0
    core.tokenize(content)
    var i = 0
    while (i < core.nToks) {
      val fresh = words.size
      val id = words.add(core.bytes, core.start(i), core.length(i))
      if (id == fresh) {
        if (id == poss.length) poss = java.util.Arrays.copyOf(poss, 2 * id)
        if (poss(id) == null) poss(id) = new IntBuf else poss(id).clear()
      }
      poss(id).add(i)
      if (i > 0) {
        core.hashWindowTo(i - 1, 2)
        val bucket = (core.lastH1 >>> 52).toInt
        if (shCounts(bucket) == 0) { shTouched(nSh) = bucket; nSh += 1 }
        shCounts(bucket) += 1
      }
      i += 1
    }
  }

  /** Visit each distinct word term ("w:"-prefixed) with its positions,
    * first-occurrence order. Valid until the next process() call. */
  def drainWords(f: (String, IntBuf) => Unit): Unit = {
    var id = 0
    while (id < words.size) {
      val word = new String(words.keyBytes, words.offset(id), words.length(id),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      f("w:" + word, poss(id))
      id += 1
    }
  }

  /** Visit each touched shingle term with its count, first-occurrence order. */
  def drainShingles(f: (String, Int) => Unit): Unit = {
    var u = 0
    while (u < nSh) {
      val b = shTouched(u)
      f(FastDocTokens.shingleTermOf(b), shCounts(b))
      u += 1
    }
  }
}

private[index] object FastDocTokens {
  /** The 4096 possible shingle terms, interned once: "s:000".."s:fff". */
  val shingleTermOf: Array[String] = Array.tabulate(4096)(i => f"s:$i%03x")
}
