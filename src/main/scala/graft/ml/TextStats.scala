package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.analyze.Tokenizer

/** Text-analysis operators for a training-data pipeline: language-ID
  * (stopword-profile heuristic), quality scoring, token counting
  * (whitespace + BPE-ish regex), and min-hash document fingerprinting.
  * All per-row column expressions (no shuffle), mirrored in SQL by
  * [[graft.sql.OracleMl]].
  */
object TextStats {

  /** Language profiles: (name, stopword list). Single source of truth for
    * engine + oracle.
    */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "los", "y"),
    "fr" -> Seq("le", "la", "les", "des", "et"))

  /** Whitespace char-set body for cross-engine regexes, single source of
    * truth for engine + oracle. `\s` itself is NOT cross-engine safe:
    * Java's includes \x0B where RE2's (DuckDB) does not, so any `\s` in a
    * mirrored pattern is a latent hash-gate divergence on a doc containing
    * a vertical tab. Likewise `$` is avoided in mirrored patterns — Java's
    * matches before a final \r\n line terminator, RE2's only at absolute
    * end — `\z` (identical in both) marks end-of-text instead.
    */
  val WsChars = " \\t\\n\\f\\r"
  /** `[ \t\n\f\r]` — cross-engine whitespace class (see [[WsChars]]). */
  val WsClass = s"[$WsChars]"
  /** `[^ \t\n\f\r]` — cross-engine non-whitespace class. */
  val NonWsClass = s"[^$WsChars]"

  /** Vocabulary-entry cap for [[unigramLogProb]]'s broadcast route: 4M
    * entries ≈ 300 MB of HashMap (string + box + table overhead) — well
    * inside a typical executor's broadcast budget, far under the 8 GB
    * TorrentBroadcast limit. Over the cap the operator falls back to the
    * shuffle-join route (the collect probe is bounded; only the already-
    * aggregated map stage is paid twice on fallback).
    */
  val DefaultMaxBroadcastVocab: Int = 4 << 20

  /** BPE-ish token regex: letter runs, digit runs, single symbols. */
  val BpeRe = s"[a-z]+|[0-9]+|[^a-z0-9$WsChars]"
  /** Punctuation class for quality scoring. */
  val PunctRe = "[.,;:!?]"
  /** Stopwords for the quality ratio. */
  val QualityStops: Seq[String] = Seq("the", "a")

  private def hitsFor(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words: _*)))

  /** (doc_id, pred_lang, best_hits): argmax of stopword hits per profile,
    * ties -> lexicographically first profile name, zero hits -> 'und'.
    */
  def langId(corpus: DataFrame): DataFrame = {
    val toks = Tokenizer.tokens(col("content"))
    val hitCols = LangProfiles.map { case (name, words) =>
      struct(hitsFor(toks, words).as("hits"), lit(name).as("lang"))
    }
    // argmax with (hits desc, lang asc): sort structs desc on (hits, negated-name)
    // simpler: array_max over (hits, reversed-rank) — use a fold instead
    val best = hitCols.reduce { (a, b) =>
      when(b.getField("hits") > a.getField("hits"), b).otherwise(a)
    } // left-to-right fold: first profile wins ties (names pre-sorted)
    corpus.select(
      col("doc_id"),
      when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und")).as("pred_lang"),
      best.getField("hits").cast("long").as("best_hits"))
  }

  /** Quality features + a composite score (quantized):
    *   n_chars, n_tokens, punct_q (punct chars / chars), stop_q
    *   (stopword tokens / tokens), mean_tok_len_q, quality_q =
    *   round(1e6·(0.5·min(1, n_tokens/40) + 0.3·(1−punct_ratio) +
    *   0.2·min(1, 10·stop_ratio))).
    */
  def quality(corpus: DataFrame): DataFrame = {
    val toks = Tokenizer.tokens(col("content"))
    val nChars = length(col("content")).cast("double")
    val nToks = size(toks).cast("double")
    val nPunct = (length(col("content")) -
      length(regexp_replace(col("content"), PunctRe, ""))).cast("double")
    val nStop = hitsFor(toks, QualityStops).cast("double")
    val punctRatio = when(nChars > 0, nPunct / nChars).otherwise(lit(0.0))
    val stopRatio = when(nToks > 0, nStop / nToks).otherwise(lit(0.0))
    val meanTokLen = when(nToks > 0,
      aggregate(toks, lit(0L), (acc, t) => acc + length(t)).cast("double") / nToks)
      .otherwise(lit(0.0))
    val q = lit(0.5) * least(lit(1.0), nToks / lit(40.0)) +
      lit(0.3) * (lit(1.0) - punctRatio) +
      lit(0.2) * least(lit(1.0), lit(10.0) * stopRatio)
    corpus.select(
      col("doc_id"),
      nChars.cast("long").as("n_chars"),
      nToks.cast("long").as("n_tokens"),
      round(punctRatio * 1e6).cast("long").as("punct_q"),
      round(stopRatio * 1e6).cast("long").as("stop_q"),
      round(meanTokLen * 1e6).cast("long").as("mean_tok_len_q"),
      round(q * 1e6).cast("long").as("quality_q"))
  }

  /** Token counts: whitespace tokens vs BPE-ish regex tokens vs chars. */
  def tokenCounts(corpus: DataFrame): DataFrame =
    corpus.select(
      col("doc_id"),
      size(filter(split(col("content"), WsClass + "+"), t => length(t) > 0))
        .cast("long").as("ws_tokens"),
      regexp_count(lower(col("content")), lit(BpeRe)).cast("long").as("bpe_tokens"),
      length(col("content")).cast("long").as("n_chars"))

  /** Unigram-LM quality score (the CCNet/KenLM-style filter signal,
    * Wenzek et al. 2020 — "perplexity of a language model" as the third
    * standard curation axis next to rules and dedup): per doc the mean
    * token log-probability under the corpus's OWN unigram distribution,
    * mean_lp_q = round(Σ lp_q(tok) / n_toks) with
    * lp_q(tok) = round(1e6 · ln(count(tok)/total_tokens)). Low (very
    * negative) = rare-token-heavy documents (gibberish, dumps); high =
    * common-language text. Perplexity = exp(−mean_lp_q/1e6).
    *
    * Determinism contract: ln is evaluated ONCE per DISTINCT token and
    * quantized to an integer BEFORE the per-doc sum, so the document
    * aggregate is an exact integer sum — associative under any partition
    * order (a raw double Σ ln would hash-differ run to run). The only
    * double ops are one ln + one division per vocab entry and one final
    * division per doc, the same cross-engine surface the BM25 idf gates
    * already pin. Mirror: [[graft.sql.OracleMl.unigramSql]].
    *
    * Scale shape, two routes on one vocabulary-size gate:
    *
    *  - **broadcast route** (vocab ≤ `maxBroadcastVocab` entries): the
    *    vocab counts collect to the driver (bounded — `toLocalIterator`
    *    stops at the cap, one agg pass either way), lp_q is computed by a
    *    LOCAL Spark job over the collected rows (the SAME round/log/÷
    *    expressions as the join route — no reimplemented arithmetic to
    *    drift), and scoring is ONE `mapPartitions` pass over the corpus
    *    with a broadcast token→lp_q map. The pass consumes the SAME
    *    [[Tokenizer.tokens]] column expression the vocab was counted
    *    from, so a vocab miss is impossible on a deterministic corpus —
    *    and is therefore a loud error, not a silent score skew: no second
    *    explode, no 100M-row string join, no per-doc re-aggregation
    *    shuffle. Per-doc sums are exact integer sums, so output is
    *    partition-order invariant and identical to the join route
    *    (pinned in MlSpec, route shape pinned by plan).
    *  - **join route** (a 100× vocabulary over the cap): one vocab-sized
    *    count aggregation, one token→lp_q equi-join, one per-doc
    *    integer-sum aggregation. No driver-side vocabulary.
    *
    * Contract: `doc_id` is unique (the library-wide corpus contract).
    * On a corpus violating it the routes legitimately differ — the join
    * route merges a duplicate id's tokens into one (repeated) row, the
    * broadcast route scores each row independently.
    */
  def unigramLogProb(corpus: DataFrame,
                     maxBroadcastVocab: Int = DefaultMaxBroadcastVocab): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // native tokens (GraftTokens — pinned equal to Tokenizer.tokens):
    // the count pass (fused, below), the join route's explode and the
    // scoring pass all consume the ONE TokenScanner tokenizer core, so
    // the no-drift contract below is unchanged; the regex split+filter
    // composition was the dominant per-row cost of the count pass
    val tokCol = graft.functions.GraftFunctions.graft_tokens(col("content"))
    val toks = corpus.select(col("doc_id"), explode(tokCol).as("tok"))
    // fused vocab count: one mapPartitions pass tallying token byte
    // ranges in a TokenTable (no per-token UTF8String, no Generate
    // fan-out of 60M+ token rows), emitting per-partition (tok, c)
    // partials into the final vocab-sized aggregation — identical counts
    // to explode(tokCol).groupBy(tok).count (the shape the over-cap join
    // route and the oracle mirror; pinned in MlSpec)
    val counts = vocabCounts(corpus)
    val collected = // bounded probe-and-collect: ≤ cap+1 rows ever held.
      // limit(cap+1).collect() instead of toLocalIterator: identical
      // bound on driver memory (≤ cap+1 rows either way; ≤ cap rows IS
      // the whole vocabulary) but ONE job — toLocalIterator launched a
      // job per output partition back-to-back (measured ~1.9 s of
      // per-job overhead on the 128-partition bench agg alone).
      if (maxBroadcastVocab <= 0) None
      else {
        val rows = counts.as[(String, Long)].limit(maxBroadcastVocab + 1).collect()
        if (rows.length <= maxBroadcastVocab) Some(rows.toSeq) else None
      }
    collected match {
      case Some(vocab) =>
        val t = vocab.iterator.map(_._2).sum // exact integer total
        // lp_q via a local Spark job — bit-identical expressions to the
        // join route (Spark's round is BigDecimal HALF_UP; never
        // reimplement it driver-side)
        val lp = spark.createDataset(vocab).select(col("_1").as("tok"),
          round(lit(1e6) * log(col("_2").cast("double") / lit(t).cast("double")))
            .cast("long").as("lp_q")).as[(String, Long)].collect()
        // token -> lp_q keyed by UTF8String: the scoring pass below reads
        // tokens straight out of the UnsafeRow (no per-token String), so
        // the map keys match without conversion
        val m = new java.util.HashMap[org.apache.spark.unsafe.types.UTF8String,
          java.lang.Long](lp.length * 2)
        lp.foreach { case (tok, q) =>
          m.put(org.apache.spark.unsafe.types.UTF8String.fromString(tok), q) }
        val bc = spark.sparkContext.broadcast(m)
        // tokenize with the SAME column expression the vocab was counted
        // from (not the tokenizeScala twin): the token streams cannot
        // drift (e.g. locale-sensitive lowercasing of non-ASCII content),
        // so a miss means a non-deterministic corpus re-evaluation — fail
        // loudly rather than skew the score. The pass consumes
        // queryExecution.toRdd directly (guide §4: keep the hot loop off
        // the encoder): the previous typed mapPartitions deserialized
        // every token array into Scala Seq[String] — ~40% of the
        // operator's wall time at the bench corpus — where the UnsafeRow
        // walk reads the same UTF8String bytes in place.
        val sel = corpus.select(col("doc_id"),
          // null content explodes to zero rows on the join route —
          // mirror that as an empty token array here
          coalesce(tokCol, lit(Array.empty[String])).as("ts"))
        val outRdd = sel.queryExecution.toRdd.mapPartitions { rows =>
          val map = bc.value
          rows.map { row =>
            val id = row.getLong(0)
            val arr = row.getArray(1)
            val n = arr.numElements()
            var sum = 0L
            var i = 0
            while (i < n) {
              val t = arr.getUTF8String(i)
              val v = map.get(t)
              if (v eq null) throw new IllegalStateException(
                s"unigramLogProb: token '$t' of doc $id missing from the " +
                  "corpus-derived vocabulary - the corpus re-evaluated " +
                  "non-deterministically between the count and scoring passes")
              sum += v.longValue()
              i += 1
            }
            new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
              Array[Any](id, n.toLong, sum)): org.apache.spark.sql.catalyst.InternalRow
          }
        }
        // the mean stays a Catalyst round() (BigDecimal HALF_UP) — the
        // exact expression the join route and the oracle share; never
        // reimplement the rounding in Scala (math.rint is half-even)
        org.apache.spark.sql.classic.GraftBridge.internalDf(spark, outRdd,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("doc_id",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("n_toks",
              org.apache.spark.sql.types.LongType, nullable = false),
            org.apache.spark.sql.types.StructField("sum_lp",
              org.apache.spark.sql.types.LongType, nullable = false))))
          .select(col("doc_id"), col("n_toks"),
            when(col("n_toks") === 0, lit(0L)).otherwise(
              round(col("sum_lp").cast("double") / col("n_toks").cast("double"))
                .cast("long")).as("mean_lp_q"))
      case None =>
        // one-row total crossJoined in (the oracle's own `FROM cnt, tot`
        // shape) — keeps the whole operator one LAZY plan instead of an
        // eager collect-the-total job at construction time
        val tot = counts.agg(coalesce(sum(col("c")), lit(0L)).as("t"))
        val lpq = counts.crossJoin(broadcast(tot)).select(col("tok"),
          round(lit(1e6) * log(col("c").cast("double") / col("t").cast("double")))
            .cast("long").as("lp_q"))
        val perDoc = toks.join(lpq, Seq("tok"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_toks"), sum(col("lp_q")).as("sum_lp"))
          .select(col("doc_id"), col("n_toks"),
            round(col("sum_lp").cast("double") / col("n_toks").cast("double"))
              .cast("long").as("mean_lp_q"))
        // token-free docs: n_toks 0, mean 0 (no LM evidence either way)
        corpus.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("n_toks"), lit(0L)).as("n_toks"),
            coalesce(col("mean_lp_q"), lit(0L)).as("mean_lp_q"))
    }
  }

  /** Corpus token counts (tok, c) — the unigram-LM vocabulary pass as a
    * fused mapPartitions loop: one [[graft.analyze.TokenScanner]] per task
    * tokenizes each row and one [[graft.analyze.TokenTable]] maps its
    * token byte ranges to ids with a count per id (no per-token
    * String/UTF8String, no 60M-row Generate), then per-partition partials
    * sum in a vocab-sized aggregation. Counts are identical to
    * `explode(graft_tokens(content)).groupBy(tok).count` — the same core,
    * pinned equal to Tokenizer.tokens in FunctionsSpec.
    */
  private[graft] def vocabCounts(corpus: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val sel = corpus.select(col("content"))
    val outRdd = sel.queryExecution.toRdd.mapPartitions { it =>
      val core = new graft.analyze.TokenScanner
      val vocab = new graft.analyze.TokenTable
      var cnts = new Array[Long](1024)
      while (it.hasNext) {
        val row = it.next()
        if (!row.isNullAt(0)) {
          core.tokenize(row.getUTF8String(0))
          var t = 0
          while (t < core.nToks) {
            val id = vocab.add(core.bytes, core.start(t), core.length(t))
            if (id == cnts.length) cnts = java.util.Arrays.copyOf(cnts, 2 * id)
            cnts(id) += 1L
            t += 1
          }
        }
      }
      Iterator.tabulate(vocab.size) { id =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](org.apache.spark.unsafe.types.UTF8String.fromBytes(
            vocab.keyBytes, vocab.offset(id), vocab.length(id)), cnts(id))):
          org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.classic.GraftBridge.internalDf(corpus.sparkSession, outRdd,
      StructType(Seq(StructField("tok", StringType, nullable = false),
        StructField("c", LongType, nullable = false))))
      .groupBy(col("tok")).agg(sum(col("c")).as("c"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1) for quality
    * filtering: per doc,
    *   dup_line_q  — duplicate-line fraction (occurrences beyond a line's
    *                 first, over all lines),
    *   dup_char_q  — characters inside those duplicate occurrences, over
    *                 all line characters,
    *   top2_q      — the most frequent token 2-gram's share of all 2-grams;
    * all quantized round(1e6·x), 0 when the denominator is 0. Tallies come
    * from ONE [[graft.functions.GraftRepStats]] eval per row (per-row,
    * shuffle-free at any corpus size — see its scaladoc for why built-ins
    * can't express the per-row hash maps); the fraction arithmetic here is
    * mirrored by the DuckDB oracle over the same integer tallies. The
    * two-projection shape keeps the expression evaluated once
    * (CollapseProject does not duplicate non-cheap expressions; pinned in
    * PlanSpec).
    */
  def repetition(corpus: DataFrame): DataFrame = {
    val withR = corpus.select(col("doc_id"),
      graft.functions.GraftFunctions.graft_rep_stats(col("content")).as("r"))
    withR.select(
      col("doc_id"),
      col("r.n_lines").cast("long").as("n_lines"),
      quantFrac(col("r.n_dup_lines"), col("r.n_lines")).as("dup_line_q"),
      quantFrac(col("r.dup_line_chars"), col("r.line_chars")).as("dup_char_q"),
      quantFrac(col("r.top2"), col("r.total2")).as("top2_q"))
  }

  /** round(1e6·num/den) as BIGINT, 0 when den = 0 — THE quantized-fraction
    * form for every cross-engine signal. The op order (1e6·num)/den
    * mirrors the oracle's `1000000.0 * num / den` exactly
    * ([[graft.sql.OracleMl]]'s single fracSql twin) — a different
    * association produces different doubles that can round across a .5
    * boundary, so keep exactly one copy per engine.
    */
  private[graft] def quantFrac(num: Column, den: Column): Column =
    round(when(den > 0, (lit(1e6) * num.cast("double")) / den.cast("double"))
      .otherwise(lit(0.0))).cast("long")

  /** PII pattern set — single source of truth for engine + oracle. Both
    * regexes restrict to constructs with identical semantics in Java regex
    * (Spark) and RE2 (DuckDB): character classes, bounded/unbounded
    * repetition, no backrefs or lookaround.
    */
  val EmailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
  val Ipv4Re = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** Deterministic PII injection for gates/tests — the synthetic corpus
    * contains no natural addresses, so the redaction gate would otherwise
    * pass vacuously. Every doc_id ≡ 0 (mod 7) gains two emails; every
    * doc_id ≡ 3 (mod 11) gains an IPv4. Mirrored CTE:
    * [[graft.sql.OracleMl.piiCtes]].
    */
  def withPii(corpus: DataFrame): DataFrame = {
    val id = col("doc_id")
    corpus.withColumn("content",
      when(id % 7 === 0,
        concat(col("content"), lit(" contact user"), id.cast("string"),
          lit("@example.com or admin@test"), (id % 10).cast("string"), lit(".org")))
      .when(id % 11 === 3,
        concat(col("content"), lit(" from 10."), (id % 200).cast("string"),
          lit(".0."), (id % 250).cast("string")))
      .otherwise(col("content")))
  }

  /** PII scrub — the standard pre-training redaction pass: emails →
    * `<EMAIL>`, IPv4s → `<IP>` (emails first: an address can contain an
    * IP-shaped substring, never the reverse once emails are gone).
    * Returns (doc_id, n_emails, n_ips, redacted_sha) — the sha256 of the
    * redacted content attests the rewrite byte-for-byte without shipping
    * it. One [[graft.functions.GraftPiiStats]] eval per row (one lower +
    * one pass per pattern, counts riding the replace loop) — the
    * built-in composition it replaced ran lower twice and four regex
    * passes per row (~2.4 s of the 2.8 s bench section); it is the
    * oracle's shape, and MlSpec pins the two equal.
    * The two-projection shape keeps the expression at ONE eval
    * (CollapseProject does not duplicate non-cheap expressions — the
    * [[repetition]] pattern). Per-row, no shuffle at any corpus size.
    */
  def redactPii(corpus: DataFrame): DataFrame =
    corpus.select(col("doc_id"),
        graft.functions.GraftFunctions.graft_pii_stats(
          col("content"), EmailRe, Ipv4Re).as("p"))
      .select(
        col("doc_id"),
        col("p.n_emails").as("n_emails"),
        col("p.n_ips").as("n_ips"),
        sha2(col("p.redacted"), 256).as("redacted_sha"))

  /** Gopher quality-rule constants (Rae et al. 2021 §A1.1, Table A1) —
    * single source of truth for engine + oracle. Ratio thresholds are the
    * quantized (×1e6) integers the keep rule compares, so the decision is
    * integer-exact across engines.
    */
  val RequiredWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")
  val GopherMinWords = 50L
  val GopherMaxWords = 100000L
  val GopherMinWlenQ = 3000000L // mean word length in [3, 10]
  val GopherMaxWlenQ = 10000000L
  val GopherMaxSymbolQ = 100000L // symbol-to-word ratio <= 0.1
  val GopherMaxBulletQ = 900000L // <= 90% of lines bullet-started
  val GopherMaxEllipsisQ = 300000L // <= 30% of lines ellipsis-ended
  val GopherMinAlphaQ = 800000L // >= 80% of words contain a letter
  val GopherMinRequired = 2L // >= 2 of the 8 required words

  /** Deterministic structure injection for the Gopher-rule gate — the
    * synthetic corpus is single-line, punctuation-free lowercase prose, so
    * the line-level and symbol rules would otherwise never fire (same
    * non-vacuity reasoning as [[withPii]]). Composable appended fragments,
    * one per rule exercised; mirrored CTE:
    * [[graft.sql.OracleMl.structureCtes]].
    */
  def withStructure(corpus: DataFrame): DataFrame = {
    val id = col("doc_id")
    def frag(cond: Column, s: String): Column =
      when(cond, lit(s)).otherwise(lit(""))
    corpus.withColumn("content", concat(
      col("content"),
      // required words: only these docs can clear GopherMinRequired (the
      // synthetic vocabulary carries just "the" of the eight)
      frag(id % 3 === 1, " and that of have"),
      // benign bullets: 2 of 3 lines (0.667 <= 0.9) — exercises the
      // arithmetic on docs that still keep
      frag(id % 10 === 1, "\n- one\n- two"),
      // bullet wall: 10 of 11 lines (0.909 > 0.9) -> drop
      frag(id % 10 === 4, Seq.fill(10)("\n- item").mkString),
      // ellipsis ends: 3 of 4 lines (0.75 > 0.3) -> drop
      frag(id % 10 === 7, "\nwait...\nmore...\nhmm..."),
      // symbol flood: 12 '#' words -> ratio > 0.1 for any doc under 120
      // words (the corpus caps at ~103) -> drop
      frag(id % 10 === 9, " " + Seq.fill(12)("#").mkString(" ")),
      // numeric flood: 30 digit-words -> alpha fraction < 0.8 for any doc
      // under 120 words -> drop
      frag(id % 10 === 3, (" " + (0 to 9).mkString(" ")) * 3)))
  }

  /** Gopher quality rules (Rae et al. 2021 §A1.1): per doc the quantized
    * rule inputs and the composite keep decision —
    *   n_words        whitespace words,
    *   mean_wlen_q    non-space chars / words,
    *   symbol_q       ('#' + '...') occurrences / words,
    *   bullet_q       bullet-started lines / lines,
    *   ellipsis_q     ellipsis-ended lines / lines,
    *   alpha_q        words containing a letter / words,
    *   n_required     how many of the 8 required words appear,
    *   keep           1 iff every rule passes (thresholds above).
    * All ratios round(1e6·x), 0 when the denominator is 0; keep compares
    * the quantized integers so no float boundary can flip across engines.
    * One [[graft.functions.GraftGopherStats]] eval per row computes every
    * integer tally in a single content pass (the ~10-regex-pass built-in
    * composition, the oracle's shape, is kept as a test twin pinned equal
    * in MlSpec's "GraftGopherStats fused pass == regex composition" — it
    * was ~9.4 s at the 600k-doc bench corpus vs ~1 s fused); per-row, no
    * shuffle at any corpus size.
    * Pattern semantics are the cross-engine-safe set: whitespace via the
    * explicit [[WsClass]] (never `\s`) and end-of-text via `\z` (never
    * `$`) — see [[WsChars]] for why either shorthand is a latent
    * cross-engine divergence. Mirror: [[graft.sql.OracleMl.gopherSql]].
    */
  def gopherRules(corpus: DataFrame): DataFrame =
    gopherSignals(corpus.select(col("doc_id"),
      graft.functions.GraftFunctions.graft_gopher_stats(
        col("content"), RequiredWords).as("g")))

  /** Shared tail of both gopher forms (the fused one and its test twin):
    * quantized fractions + the keep decision over the integer-tally
    * struct `g`.
    */
  private[graft] def gopherSignals(withG: DataFrame): DataFrame = {
    val sig = withG.select(
      col("doc_id"),
      col("g.n_words").as("n_words"),
      quantFrac(col("g.non_space"), col("g.n_words")).as("mean_wlen_q"),
      quantFrac(col("g.n_symbols"), col("g.n_words")).as("symbol_q"),
      quantFrac(col("g.n_bullet"), col("g.n_lines")).as("bullet_q"),
      quantFrac(col("g.n_ell_end"), col("g.n_lines")).as("ellipsis_q"),
      quantFrac(col("g.n_alpha"), col("g.n_words")).as("alpha_q"),
      col("g.n_required").as("n_required"))
    sig.withColumn("keep",
      (col("n_words").between(GopherMinWords, GopherMaxWords) &&
        col("mean_wlen_q").between(GopherMinWlenQ, GopherMaxWlenQ) &&
        col("symbol_q") <= GopherMaxSymbolQ &&
        col("bullet_q") <= GopherMaxBulletQ &&
        col("ellipsis_q") <= GopherMaxEllipsisQ &&
        col("alpha_q") >= GopherMinAlphaQ &&
        col("n_required") >= GopherMinRequired).cast("long"))
  }

  /** Min-hash fingerprint over character 8-grams (winnowing-lite): the
    * lexical min of md5 over all 8-char windows; null for content < 8
    * chars. A content-defined identity robust to doc reordering at corpus
    * level. Evaluated by the native [[graft.functions.GraftFingerprint]]
    * expression (one eval per row); FunctionsSpec pins it equal to the
    * HOF composition it replaced.
    */
  def fingerprint(corpus: DataFrame): DataFrame =
    corpus.select(
      col("doc_id"),
      graft.functions.GraftFunctions.graft_fingerprint(col("content")).as("fp"))
}
