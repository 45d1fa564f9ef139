package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.ml.{Ann, Dedup, TextStats}
import graft.multimodal.Binary
import graft.query.{Bm25, Engine}
import graft.sql.{Oracle, OracleMl}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every entry returns columns named identically to its `oracleSql` twin;
  * doubles are never emitted raw (quantized `*_q` BIGINT instead).
  */
object SparkEntry {

  /** Flagship multi-term query: hot words + 12-bit shingle hash terms +
    * one rare word ("dup", df≈25/500) — mirrors the reference's default
    * OR-of-hash-terms search (LireRequestHandler.java:559).
    */
  val FlagshipTerms: Seq[(String, Double)] =
    Seq("w:spark", "w:join", "w:hash", "w:dup", "s:75f", "s:420").map(_ -> 1.0)

  /** Boosted-term query, descending boosts — MetricSpaces-style T7
    * (`R%06d^%1.2f` boosts, SURVEY.md §2.6/T7).
    */
  val BoostedTerms: Seq[(String, Double)] =
    Seq("w:dup" -> 1.0, "s:7e3" -> 0.83, "w:window" -> 0.67,
      "s:89d" -> 0.5, "w:stream" -> 0.33, "w:merge" -> 0.17)

  /** The same query in the reference's textual form (QueryParser surface);
    * q_query_string must equal q_wand_boosted given this string.
    */
  val BoostedQueryString =
    "w:dup s:7e3^0.83 w:window^0.67 s:89d^0.5 w:stream^0.33 w:merge^0.17"

  /** Pruning showcase: zero-df terms + rare + hot mix (T1/T2). */
  val PruneTerms: Seq[(String, Double)] =
    Seq("w:nosucha" -> 1.0, "w:dup" -> 1.0, "w:batch" -> 1.0,
      "w:spark" -> 1.0, "w:nosuchb" -> 1.0, "s:75f" -> 1.0)

  /** Fixed ANN query vectors (vec_ids present at every sf). */
  val AnnQueryIds: Seq[Long] = Seq(0L, 17L, 42L)

  /** Two-phase re-rank parameters: flagship terms retrieve `RerankCands`
    * BM25 candidates, exact cosine to doc 42's embedding re-ranks them.
    */
  val RerankVecId = 42L
  val RerankCands = 200
  val RerankRows = 30

  /** Missing-embedding re-rank gate: the embedding side-store is thinned
    * to vec_id % 25 == 17 (keeps the query vector 42 — 42 % 25 = 17 — but
    * only ~8 of the 200 candidates), so the top-30 MUST contain sentinel
    * rows (cos_q = -10001, doc_id-asc ordered) for the gate to hash-match:
    * the reference's missing-feature → maxDistance rule end to end.
    */
  val RerankMissingPred = 17L

  /** Cursor-paging gate offset: the flagship match set is ≥ 483 docs at
    * every SF, so page (100, 130] always exists.
    */
  val CursorStart = 100

  /** BooleanQuery gate clauses (Lucene `a +b -c` surface): a scoring MUST,
    * a MUST_NOT exclusion, and a mixed form over the boosted query.
    */
  val BoolMustTerms: Seq[(String, Double)] = Seq("w:window" -> 1.0)
  val BoolNotTerms: Seq[String] = Seq("w:stream")
  val BoolMixedMust: Seq[(String, Double)] = Seq("w:join" -> 0.5)

  /** PhraseQuery gates: a bigram phrase (~24 matching docs at sf0.001) and
    * a trigram — chosen NON-VACUOUS at every driver SF (9/3/10 matches at
    * sf0.001/0.01/0.1; the previous "key order sort" matched 0 docs at the
    * driver's sf0.01, proving only that both engines agree on emptiness —
    * VERDICT r04 "What's wrong" #4).
    */
  val PhraseBigram = "hash join"
  val PhraseTrigram = "big order scan"
  // sloppy-phrase gate slops: 1 = one-word gap; 2 = Lucene's reversed-
  // adjacent-order distance. Both non-vacuous AND strictly wider than the
  // exact q_phrase at sf0.001/0.01/0.1 (24→49→93 / 27→55→96 / 278→516→903
  // matching docs at slop 0→1→2)
  val PhraseSlop1 = 1
  val PhraseSlop2 = 2

  /** PrefixQuery gate: "w:s" matches many word terms — the cap (10 of
    * them) exercises the deterministic top-terms rewrite order. FuzzyQuery
    * gate: "w:hach" sits at distance 1-2 from several indexed words.
    */
  val PrefixQ = "w:s"
  val PrefixMaxExpansions = 10
  val FuzzyQ = "w:hach"
  val FuzzyMaxEdits = 2
  val FuzzyMaxExpansions = 8
  /** Span dedup gate params: 12-token windows, 64-occurrence boilerplate
    * cap (see Dedup.spanDups).
    */
  val SpanDupWidth = 12
  val SpanDupMaxOcc = 64

  /** Long fuzzy query: 10 padded trigrams − 3·2 edits = threshold 4 > 0,
    * so it takes the trigram-store pruned route ("customer" is the
    * corpus's long vocab word; one substitution away).
    */
  val FuzzyLongQ = "w:custoner"

  /** WildcardQuery gate: "w:s?a*" matches 3 word terms (scan/small/spark)
    * at every SF; the cap (2) exercises the df-ordered capped rewrite.
    */
  val WildcardQ = "w:s?a*"
  val WildcardMaxExpansions = 2

  /** Leading-wildcard gate: "*ark" routes to the reversed-term dictionary
    * (rterm LIKE 'kra%', a StartsWith pushdown); the oracle runs the
    * equivalent forward LIKE '%ark' — route-invariance IS the check.
    */
  val WildcardLeadQ = "*ark"

  /** Stratified-sample gate: expected survivors per language stratum —
    * below the per-lang count at every SF, so the keep rule binds.
    */
  val SampleTarget = 60L

  /** TermRangeQuery gate: `[w:sa TO w:sp}` — half-open on purpose (both
    * bracket semantics exercised): matches the scan/small family but
    * excludes spark at every SF; the cap keeps the df-ordered rewrite
    * binding.
    */
  val RangeLo = "w:sa"
  val RangeHi = "w:sp"
  val RangeMaxExpansions = 8

  /** Full-parser gate: MUST phrase + boosted SHOULD term + MUST_NOT +
    * prefix rewrite + fuzzy rewrite in ONE query string.
    */
  val ParsedMixedQuery = "+\"hash join\" w:window^2 -w:stream w:sm*^0.5 w:hach~1"

  /** Folded-membership gate: same mix plus a REQUIRED TERM (`+w:license`),
    * which routes the phrase-mixed composition through
    * [[graft.query.Engine.scanScoreMembership]] — term-side MUST/NOT ride
    * the scoring scan as a bitmask instead of membership joins.
    */
  val ParsedMixedReqQuery =
    "+w:the +\"hash join\" w:window^2 -w:stream w:sm*^0.5 w:hach~1"

  /** Required-group gate: `+w:sm*` is Lucene's required multi-term
    * rewrite — an OR-required group (≥1 expanded term per result doc,
    * matching expansions score at the clause boost).
    */
  val ParsedGroupQuery = "+w:sm*^0.5 w:license -w:stream"
  val ParsedGroupMaxExpansions = 8

  /** /export gate: the FULL sorted match set of a boosted two-term OR —
    * every matching doc, exact scores, global ranks, no top-k window.
    */
  val ExportTerms: Seq[(String, Double)] = Seq("w:license" -> 1.0, "w:window" -> 2.0)

  /** Contamination-screen benchmark selector: every 13th doc (shifted by
    * 3) of the base corpus plays the benchmark table; the dup-injected
    * corpus is screened against it with 13-token shingles.
    */
  val ContaminationWidth = 13

  /** Batched multi-query set (flagship / boosted / rare / shingle-only). */
  val MultiQueries: Seq[(Long, Seq[(String, Double)])] = Seq(
    1L -> FlagshipTerms,
    2L -> BoostedTerms,
    3L -> Seq("w:dup" -> 1.0, "w:vector" -> 0.5),
    4L -> Seq("s:75f" -> 1.0, "s:420" -> 1.0, "s:7e3" -> 1.0, "s:nosuch" -> 1.0))

  /** Extract-verb showcase content (mixed case + a zero-df token). */
  val ExtractContent = "Spark hash-JOIN dup merge stream zzznope window"
  val ExtractAccuracy = 0.33
  def extractBudget: Int = {
    val n = graft.analyze.Tokenizer.termsScala(ExtractContent).distinct.length
    math.max(3, math.floor(n * ExtractAccuracy).toInt)
  }

  /** Upsert gate parameters: every 17th doc is re-posted with appended
    * content under a lifted doc_id (same `path` identity key — the Solr
    * uniqueKey replace), every (31k+5)th non-updated doc is deleted. The
    * lift is range-aligned for every geometry in use and beyond any test
    * corpus' id space, so the oracle can reproduce the id assignment as a
    * pure column function.
    */
  val UpsertLift = 8388608L // 1 << 23

  /** Build an index copy and deleteByQuery a stored-field predicate over
    * it (Solr `<delete><query>lang:en AND …</query></delete>`): the gate
    * then searches it with stale stats, mirrored by the oracle's
    * ranking-only doc filter over the full corpus.
    */
  private def deleteQuerySetup(s: SparkSession, dir: String): String = {
    import graft.index.{IndexBuild, IndexConfig}
    val key = dir.replaceAll("[^a-zA-Z0-9.]+", "_")
    val d = s"${Engine.indexRoot}/v4-delq-$key"
    val cfg = IndexConfig(segShift = 5, rangeSegsShift = 1)
    IndexBuild.build(s, Corpus.fromDocuments(s, dir), d, cfg)
    IndexBuild.deleteByQuery(s, d,
      col("lang") === "en" && col("doc_id") % 3 === 0)
    d
  }

  private def upsertSetup(s: SparkSession, dir: String, compacted: Boolean): String = {
    import graft.index.{IndexBuild, IndexConfig}
    val key = dir.replaceAll("[^a-zA-Z0-9.]+", "_")
    val d = s"${Engine.indexRoot}/v4-upsert${if (compacted) "c" else ""}-$key"
    val cfg = IndexConfig(segShift = 5, rangeSegsShift = 1)
    val base = Corpus.fromDocuments(s, dir)
    IndexBuild.build(s, base, d, cfg)
    val updates = base.where(col("doc_id") % 17 === 0)
      .withColumn("doc_id", col("doc_id") + UpsertLift)
      .withColumn("content", concat(col("content"), lit(" zzupserted")))
      .withColumn("sha", sha2(col("content"), 256))
      .withColumn("content_len", length(col("content")).cast("long"))
    IndexBuild.upsert(s, updates, d, cfg, keyCols = Seq("path"))
    IndexBuild.deleteByKeys(s,
      base.where(col("doc_id") % 31 === 5 && col("doc_id") % 17 =!= 0).select("path"),
      d, keyCols = Seq("path"))
    if (compacted) IndexBuild.compact(s, d)
    d
  }

  /** Oracle corpus CTE chain for the upsert gates: corpus0 = the standard
    * derivation, updates = the re-posted versions, corpus = all versions
    * (stale-stats form) or live docs only (post-compaction form).
    */
  private def upsertCorpusCtes(liveOnly: Boolean): String = {
    val filter = if (liveOnly) " WHERE doc_id % 17 <> 0 AND doc_id % 31 <> 5" else ""
    s"""corpus0 AS (
       |${Oracle.corpusBody}),
       |updates AS (
       |  SELECT doc_id + $UpsertLift AS doc_id, repo, path, "commit", lang,
       |         content || ' zzupserted' AS content
       |  FROM corpus0 WHERE doc_id % 17 = 0),
       |corpus AS (
       |  SELECT * FROM corpus0$filter
       |  UNION ALL SELECT * FROM updates)""".stripMargin
  }

  /** Live-doc predicate for the stale-stats upsert gate (over the
    * all-versions corpus): new versions plus untouched originals.
    */
  private def upsertLivePred: String =
    s"doc_id >= $UpsertLift OR (doc_id % 17 <> 0 AND doc_id % 31 <> 5)"

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Bm25.scoreTopK(spark, Corpus.fromDocuments(spark, "/root/testdata/sf0.001"),
      FlagshipTerms, 60)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1/F12: corpus source derivation + per-row sha256 invariant
    "q_corpus" -> ((s, dir) =>
      Corpus.fromDocuments(s, dir)
        .select("doc_id", "repo", "path", "commit", "lang", "content", "sha", "content_len")),
    // F1/F2/A5 analog: tokenize + shingle -> (doc_id, term, tf)
    "q_postings" -> ((s, dir) =>
      Bm25.postings(Corpus.fromDocuments(s, dir))),
    // A1: term dictionary (df, total_tf)
    "q_dictionary" -> ((s, dir) =>
      Bm25.dictionary(Bm25.postings(Corpus.fromDocuments(s, dir)))),
    // doc lengths (norms side-store analog of *_hi DocValues)
    "q_doclens" -> ((s, dir) =>
      Bm25.docLens(Corpus.fromDocuments(s, dir))),
    // A2/A3/T3-T5: flagship BM25 top-k with tie-break
    "q_bm25_topk" -> ((s, dir) =>
      Bm25.scoreTopK(s, Corpus.fromDocuments(s, dir), FlagshipTerms, 60)),
    // T7: boosted-term BM25
    "q_bm25_boosted" -> ((s, dir) =>
      Bm25.scoreTopK(s, Corpus.fromDocuments(s, dir), BoostedTerms, 60)),
    // P2: fq filter-query intersection (lang = 'en')
    "q_bm25_filtered" -> ((s, dir) =>
      Bm25.scoreTopK(s, Corpus.fromDocuments(s, dir), FlagshipTerms, 60,
        docFilter = Some(col("lang") === lit("en")))),

    // ---- fast path: built index + block-max WAND engine -----------------
    // same oracle SQL as the semantic queries => the index/WAND pipeline is
    // DuckDB-checked end to end
    "q_wand_topk" -> ((s, dir) =>
      Engine.forDir(s, dir).searchByTerms(FlagshipTerms, rows = 60)),
    // the over-cap dictionary route: same index, df lookups forced through
    // the distributed term_id-pruned dictionary scan (driver map disabled
    // by a low cap) — must stay rank-identical to q_wand_topk's driver-map
    // route at every SF (VERDICT r04 next #3)
    "q_wand_bigvocab" -> ((s, dir) =>
      Engine.forDirBigVocab(s, dir).searchByTerms(FlagshipTerms, rows = 60)),
    "q_wand_boosted" -> ((s, dir) =>
      Engine.forDir(s, dir).searchByTerms(BoostedTerms, rows = 60)),
    // textual query form ("term^boost ..."), parsed then searched —
    // must hash-match q_wand_boosted's oracle
    "q_query_string" -> ((s, dir) =>
      Engine.forDir(s, dir).searchByQueryString(BoostedQueryString, rows = 60)),
    // Solr `start` offset: page 2 of the flagship query — global ranks
    // (20, 50], exact result-window semantics
    "q_wand_paged" -> ((s, dir) =>
      Engine.forDir(s, dir).searchPage(FlagshipTerms, start = 20, rows = 30)),
    // Solr facet.field over the query's FULL match set (Boolean-OR match,
    // not the top-k window)
    "q_facet_lang" -> ((s, dir) =>
      Engine.forDir(s, dir).facet(FlagshipTerms, "lang")),
    // Solr facet + fq: counts computed over q AND fq (both the facet field
    // and the fq column served from the persisted bitmaps — the match set
    // never leaves its segment)
    "q_facet_filtered" -> ((s, dir) =>
      Engine.forDir(s, dir).facet(FlagshipTerms, "repo",
        docFilter = Some(("lang", "en")))),
    // Solr facet.sort=count + facet.limit + facet.mincount: deterministic
    // top-10 facet values (count desc, value asc tie)
    "q_facet_top" -> ((s, dir) =>
      Engine.forDir(s, dir).facetTop(FlagshipTerms, "repo",
        mincount = 2, limit = 10)),
    // Solr result grouping (group.field/group.limit): top-8 groups by
    // their best doc, top-3 docs each — segment-local grouped scorer over
    // the persisted repo bitmaps
    "q_grouped" -> ((s, dir) =>
      Engine.forDir(s, dir).searchGrouped(FlagshipTerms, "repo",
        groupLimit = 3, groups = 8)),
    // Solr field collapsing ({!collapse field=repo}): flat ranking, one
    // best doc per value — searchGrouped at groupLimit=1 reshaped flat
    "q_collapsed" -> ((s, dir) =>
      Engine.forDir(s, dir).searchCollapsed(FlagshipTerms, "repo", rows = 10)),
    // block join to-parent (nesteddocs.xml analog: repos are the parents
    // wrapping file children): ScoreMode max and total, both driver-gated
    "q_block_join" -> ((s, dir) =>
      Engine.forDir(s, dir).blockJoinParents(FlagshipTerms, scoreMode = "max", rows = 10)),
    "q_block_join_total" -> ((s, dir) =>
      Engine.forDir(s, dir).blockJoinParents(FlagshipTerms, scoreMode = "total", rows = 10)),
    // Solr q+fq+group: the fq bitmap intersects the dense score array's
    // touched set inside the segment (same side join)
    "q_grouped_filtered" -> ((s, dir) =>
      Engine.forDir(s, dir).searchGrouped(FlagshipTerms, "repo",
        groupLimit = 3, groups = 8, docFilter = Some(("lang", "en")))),
    // Solr StatsComponent (stats.field=dl): count/min/max/sum/mean over
    // the full match set
    "q_stats_dl" -> ((s, dir) =>
      Engine.forDir(s, dir).statsField(FlagshipTerms, "dl")),
    // Solr range facet (facet.range=dl, start/end/gap): integer bucket
    // arithmetic over the match set
    "q_facet_range" -> ((s, dir) =>
      Engine.forDir(s, dir).facetRange(FlagshipTerms, "dl",
        start = 0L, end = 1L << 20, gap = 128L)),
    // Solr pivot facet (facet.pivot=lang,repo): nested counts, both
    // levels served from the persisted bitmaps in-segment
    "q_facet_pivot" -> ((s, dir) =>
      Engine.forDir(s, dir).facetPivot(FlagshipTerms, "lang", "repo")),
    // Solr Terms component (terms.prefix / terms.sort=count): served from
    // the persisted dictionary store, postings untouched
    "q_terms_enum" -> ((s, dir) =>
      Engine.forDir(s, dir).termsEnum("w:s", limit = 20)),
    // Solr sort param (sort=dl asc): match set ordered by a stored field
    // instead of relevance — TakeOrdered, never a global sort
    "q_sort_by_dl" -> ((s, dir) =>
      Engine.forDir(s, dir).searchSortedBy(FlagshipTerms, "dl",
        ascending = true, rows = 60)),
    // Solr SpellCheck (spellcheck.q): popularity-ranked suggestions
    // within edit distance 2, off the persisted dictionary
    "q_spellcheck" -> ((s, dir) =>
      Engine.forDir(s, dir).spellcheck("w:hach", maxEdits = 2, limit = 10)),
    // Solr highlighting (hl.fl=content): snippet around the first
    // whole-word token match, field-head fallback for shingle-only hits
    "q_highlight" -> ((s, dir) =>
      Engine.forDir(s, dir).highlight(Corpus.fromDocuments(s, dir),
        FlagshipTerms, rows = 20, width = 80)),
    // fq via the PERSISTED per-segment bitmap side-index (built at index
    // time; no docmeta scan per query)
    "q_wand_filtered" -> ((s, dir) =>
      Engine.forDir(s, dir).searchByTerms(FlagshipTerms, rows = 60,
        docFilter = Some(("lang", "en")))),
    // fq via an arbitrary predicate (docmeta-scan bitmap side join fallback)
    "q_wand_filtered_pred" -> ((s, dir) =>
      Engine.forDir(s, dir).searchByTerms(FlagshipTerms, rows = 60,
        docPred = Some(col("lang") === lit("en")))),
    // T1/T2 pruning active (budget=3 of 6) + candidates=100 < segment
    // width so the WAND threshold actually prunes blocks
    "q_wand_pruned" -> ((s, dir) =>
      Engine.forDir(s, dir).searchByTerms(FlagshipTerms, rows = 60,
        accuracy = 0.5, candidates = 100)),
    // T1/T2 as a standalone relation
    "q_prune" -> ((s, dir) => {
      import s.implicits._
      Engine.forDir(s, dir).prune(PruneTerms, 0.5)
        .zipWithIndex
        .map { case ((t, _, df), i) => (t, df, (i + 1).toLong) }
        .toDF("term", "df", "kept_rank")
    }),
    // §2.11 MoreLikeThis: query = doc 42's own terms
    "q_mlt" -> ((s, dir) =>
      Engine.forDir(s, dir).searchById(Corpus.fromDocuments(s, dir), 42L, rows = 30)),
    // A1 from the built index: global df = sum of per-segment dfs
    "q_dictionary_idx" -> ((s, dir) =>
      Engine.forDir(s, dir).index.segments
        .groupBy(col("term"))
        .agg(sum(col("df")).cast("long").as("df"))),
    // lineage/stats: N and sum(dl) from the per-range manifest alone
    "q_manifest_stats" -> ((s, dir) =>
      Engine.forDir(s, dir).index.manifest
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("sum_dl")).cast("long").as("sum_dl"))),
    // compaction invariant, DuckDB-gated: a many-range index fully
    // compacted must attest the SAME stats as the source corpus (built
    // fresh with small ranges, merged to one unit, then read back from
    // the compacted manifest alone; idempotent across reruns)
    "q_compact_stats" -> ((s, dir) => {
      import graft.index.{IndexBuild, IndexConfig}
      import graft.query.Index
      val key = dir.replaceAll("[^a-zA-Z0-9.]+", "_")
      val d = s"${Engine.indexRoot}/v4-compacted-$key"
      IndexBuild.build(s, Corpus.fromDocuments(s, dir), d,
        IndexConfig(segShift = 5, rangeSegsShift = 1))
      IndexBuild.compact(s, d)
      new Index(s, d).manifest
        .agg(sum(col("n_docs")).cast("long").as("n_docs"),
          sum(col("sum_dl")).cast("long").as("sum_dl"))
    }),
    // T6: seeded deterministic sampling
    "q_random_sample" -> ((s, dir) =>
      Engine.forDir(s, dir).randomDocs("graft", 25)),
    // P4: point lookup by id
    "q_point_lookup" -> ((s, dir) =>
      Corpus.fromDocuments(s, dir)
        .where(col("doc_id") === lit(123L))
        .select("doc_id", "repo", "path", "commit", "lang", "sha")),
    // P5: suffix-match lookup
    "q_point_suffix" -> ((s, dir) =>
      Corpus.fromDocuments(s, dir)
        .where(col("path").endsWith("7.txt"))
        .select("doc_id", "path")),
    // J4: tags side-file left join — search hits enriched from a sparse
    // side table (reference: the id->tags side file joined onto results)
    "q_tags_join" -> ((s, dir) => {
      val hits = Engine.forDir(s, dir).searchByTerms(FlagshipTerms, rows = 30)
      val tags = Corpus.fromDocuments(s, dir)
        .where(col("doc_id") % 3 === 0)
        .select(col("doc_id"), concat(lit("t"), col("doc_id") % 7).as("tag"))
      hits.join(broadcast(tags), Seq("doc_id"), "left")
        .select(col("rank"), col("doc_id"), col("score_q"),
          coalesce(col("tag"), lit("")).as("tag"))
    }),
    // P6: one-field projection to list (per-lang ordered field dump)
    "q_field_list" -> ((s, dir) =>
      Corpus.fromDocuments(s, dir)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"),
          concat_ws(",", array_sort(collect_list(col("path")))).as("paths_csv"))),
    // J1: XmlMerge-style broadcast hash join by id (corpus ⋈ embeddings)
    "q_join_merge" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Corpus.fromDocuments(s, dir)
        .join(broadcast(emb), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("label"))
    }),

    // ---- training-pipeline operators ------------------------------------
    // exact dedup: hash-groupBy over corpus with injected dups
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactDups(Dedup.withDups(Corpus.fromDocuments(s, dir)))),
    // substring-level exact dedup (Lee et al. 2021 bounded analog):
    // maximal cross-doc duplicated token spans — 27/24/246 runs at
    // sf0.001/0.01/0.1, non-vacuous at every driver SF
    "q_span_dup" -> ((s, dir) =>
      Dedup.spanDups(Corpus.fromDocuments(s, dir), width = SpanDupWidth,
        maxOcc = SpanDupMaxOcc)),
    // MinHash+LSH: shingle -> 12 minhashes -> 4 bands -> bucket join
    "q_dedup_minhash" -> ((s, dir) =>
      Dedup.minhashPairs(Dedup.minhashBands(
        Dedup.minhashSignatures(Dedup.withDups(Corpus.fromDocuments(s, dir)))))),
    // pairs -> clusters: connected components by min-label propagation
    // (the step that turns candidate pairs into dedup decisions)
    "q_dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(Dedup.minhashPairs(Dedup.minhashBands(
        Dedup.minhashSignatures(Dedup.withDups(Corpus.fromDocuments(s, dir))))))),
    // same components via alternating large-star/small-star — the
    // O(log diameter)-round variant for long-chain graphs at 100x
    "q_dedup_clusters_stars" -> ((s, dir) =>
      Dedup.connectedComponentsStars(Dedup.minhashPairs(Dedup.minhashBands(
        Dedup.minhashSignatures(Dedup.withDups(Corpus.fromDocuments(s, dir))))))),
    // full per-doc decision table: cluster + keep(min-of-cluster)/drop
    "q_dedup_decisions" -> ((s, dir) => {
      val c = Dedup.withDups(Corpus.fromDocuments(s, dir))
      Dedup.dedupDecisions(c,
        Dedup.minhashPairs(Dedup.minhashBands(Dedup.minhashSignatures(c))))
    }),
    // THE composed pipeline: quality gate -> near-dup clustering among
    // survivors -> one decision row per doc (stage order is the contract)
    "q_curation" -> ((s, dir) =>
      ml.Curation.curate(Dedup.withDups(Corpus.fromDocuments(s, dir)))),
    // exact n-gram Jaccard verification over the LSH candidates
    "q_dedup_jaccard" -> ((s, dir) => {
      val c = Dedup.withDups(Corpus.fromDocuments(s, dir))
      Dedup.jaccardPairs(c,
        Dedup.minhashPairs(Dedup.minhashBands(Dedup.minhashSignatures(c))))
    }),
    // SimHash signatures (64-bit) + near-dup pairs (hamming <= 2).
    // The GATED pairs query is the scale path (8x8-bit band pigeonhole,
    // per-band equi-join — no cartesian); the all-pairs variant is kept as
    // an oracle-scale cross-check against the SAME oracle SQL.
    "q_dedup_simhash" -> ((s, dir) =>
      Dedup.simhash(Corpus.fromDocuments(s, dir))),
    "q_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashBandedPairs(
        Dedup.simhash(Corpus.fromDocuments(s, dir)), 2)),
    "q_simhash_allpairs" -> ((s, dir) =>
      Dedup.simhashPairs(
        Dedup.simhash(Corpus.fromDocuments(s, dir)), 2)),
    // second parameterization of the SAME semantics: the pre-r4 8-band
    // narrow-bucket banding (the DEFAULT is now the derived maximal-width
    // rule above) — must hash-match the all-pairs oracle exactly like the
    // derived banding does (output is banding-invariant)
    "q_simhash_pairs_8band" -> ((s, dir) =>
      Dedup.simhashBandedPairs(
        Dedup.simhash(Corpus.fromDocuments(s, dir)), 2, Dedup.SimhashBands)),
    // embedding-cosine near-dup pairs (cos_q >= 0.4 quantized): gated =
    // sign-LSH bucketed with the bucket width DERIVED from count(*) via
    // lshBitsFor (3 bits at the 500-vec SFs, 5 bits at sf0.1 — the scale
    // rule itself is what's gated, at all three SFs); all-pairs kept as
    // the oracle-scale cross-check of the unbucketed semantics
    "q_dedup_embcos" -> ((s, dir) =>
      Dedup.embCosBucketedPairsDerived(
        s.read.parquet(s"$dir/embeddings.parquet"), 4000L, targetBucket = 64L)),
    // wider bucket space (the log2(N/bucketTarget) scaling knob) — the
    // candidate set depends on bits, so the oracle carries the same width.
    // bits=6: strictly wider than every derived width the default gate
    // takes (3/3/5 bits) yet non-vacuous at every driver SF (5/3/64 pairs
    // at sf0.001/0.01/0.1; bits=10 matched 0 pairs at sf≤0.01 — VERDICT
    // r04 "What's wrong" #4)
    "q_dedup_embcos_wide" -> ((s, dir) =>
      Dedup.embCosBucketedPairs(s.read.parquet(s"$dir/embeddings.parquet"), 4000L, bits = 6)),
    "q_embcos_allpairs" -> ((s, dir) =>
      Dedup.embCosPairs(s.read.parquet(s"$dir/embeddings.parquet"), 4000L)),
    // ANN: brute-force cosine top-10 for 3 query vectors
    "q_ann_brute" -> ((s, dir) =>
      Ann.bruteTopK(s.read.parquet(s"$dir/embeddings.parquet"), AnnQueryIds, 10)),
    // ANN scale path: sign-LSH bucket join + exact re-rank in bucket
    "q_ann_lsh" -> ((s, dir) =>
      Ann.lshTopK(s.read.parquet(s"$dir/embeddings.parquet"), AnnQueryIds, 10)),
    // ANN recall lift: probe the bucket + every Hamming-1 neighbor
    "q_ann_multiprobe" -> ((s, dir) =>
      Ann.lshTopKMultiProbe(s.read.parquet(s"$dir/embeddings.parquet"), AnnQueryIds, 10)),
    // lirefunc full-scan exact sort (sort=lirefunc(...) over *:*)
    "q_ann_fullsort" -> ((s, dir) =>
      Ann.fullSort(s.read.parquet(s"$dir/embeddings.parquet"), RerankVecId)),
    // F3: MetricSpaces reference-point encoding (k nearest of R fixed
    // reference vectors -> boosted index terms)
    "q_metricspaces" -> ((s, dir) =>
      Ann.metricSpacesTerms(s.read.parquet(s"$dir/embeddings.parquet"), 32, 8)),
    // IVF ANN: coarse metric-space cells + probe-P exact re-rank
    "q_ann_ivf" -> ((s, dir) =>
      Ann.ivfTopK(s.read.parquet(s"$dir/embeddings.parquet"), AnnQueryIds, 10)),
    // feature-vector encoding (reference's CSV/text-file ingestion family):
    // top-N class-weight cutoff with significance floor -> index terms
    "q_topn_features" -> ((s, dir) =>
      ml.Features.topNFeatures(s.read.parquet(s"$dir/embeddings.parquet"), 8, 0.5)),
    // per-row min-max normalization (Utilities.java:43-52 analog)
    "q_minmax_norm" -> ((s, dir) =>
      ml.Features.minMaxNormalize(s.read.parquet(s"$dir/embeddings.parquet"))),
    // symmetric int8 embedding quantization (training-pipeline storage op)
    "q_quantize_int8" -> ((s, dir) =>
      ml.Features.quantizeInt8(s.read.parquet(s"$dir/embeddings.parquet"))),
    // text analysis
    "q_lang_id" -> ((s, dir) => TextStats.langId(Corpus.fromDocuments(s, dir))),
    "q_quality" -> ((s, dir) => TextStats.quality(Corpus.fromDocuments(s, dir))),
    "q_token_count" -> ((s, dir) => TextStats.tokenCounts(Corpus.fromDocuments(s, dir))),
    "q_fingerprint" -> ((s, dir) => TextStats.fingerprint(Corpus.fromDocuments(s, dir))),
    // Gopher repetition signals (dup-line / dup-char / top-2-gram share)
    "q_repetition" -> ((s, dir) => TextStats.repetition(Corpus.fromDocuments(s, dir))),
    "q_unigram_lp" -> ((s, dir) => TextStats.unigramLogProb(Corpus.fromDocuments(s, dir))),
    // PII redaction counts + redacted-content sha over the PII-injected corpus
    "q_pii_redact" -> ((s, dir) =>
      TextStats.redactPii(TextStats.withPii(Corpus.fromDocuments(s, dir)))),
    // deterministic stratified sampler: ~SampleTarget docs per language
    "q_stratified_sample" -> ((s, dir) =>
      ml.Sample.stratified(Corpus.fromDocuments(s, dir), "lang", SampleTarget)),
    // full Gopher rule set (signals + keep) over the structure-injected corpus
    "q_gopher_rules" -> ((s, dir) =>
      TextStats.gopherRules(TextStats.withStructure(Corpus.fromDocuments(s, dir)))),
    // multimodal: opaque binary payload + typed metadata
    "q_binary_meta" -> ((s, dir) =>
      Binary.asBinaryTable(Corpus.fromDocuments(s, dir))
        .select("doc_id", "byte_len", "sha", "head_hex")),
    // multimodal frame sampling: 32-char frames, every 2nd frame
    "q_frame_sample" -> ((s, dir) =>
      Binary.frameSample(Corpus.fromDocuments(s, dir), 32, 2)),
    // J3/P1: top-k hits broadcast-joined to stored fields
    "q_search_fields" -> ((s, dir) =>
      Engine.forDir(s, dir).searchWithFields(FlagshipTerms,
        Seq("repo", "path", "lang"), rows = 30)),
    // F10/§3.1 stage 7: two-phase retrieve (WAND BM25 candidates) then
    // re-rank by the SECOND exact metric (embedding cosine) — the
    // reference's getReRankedResults lifecycle end to end
    "q_search_rerank" -> ((s, dir) =>
      Engine.forDir(s, dir).searchRerank(FlagshipTerms,
        s.read.parquet(s"$dir/embeddings.parquet"),
        RerankVecId, rows = RerankRows, candidates = RerankCands)),
    // polymorphic phase-2 distance (the reference's per-feature
    // getDistance is L1/L2/cosine by feature class — MetricsUtils;
    // VERDICT r04 "What's missing" #2): same two-phase plan, rank by
    // quantized DISTANCE asc, missing feature -> over-max sentinel
    "q_search_rerank_l1" -> ((s, dir) =>
      Engine.forDir(s, dir).searchRerank(FlagshipTerms,
        s.read.parquet(s"$dir/embeddings.parquet"),
        RerankVecId, rows = RerankRows, candidates = RerankCands, metric = "l1")),
    "q_search_rerank_l2" -> ((s, dir) =>
      Engine.forDir(s, dir).searchRerank(FlagshipTerms,
        s.read.parquet(s"$dir/embeddings.parquet"),
        RerankVecId, rows = RerankRows, candidates = RerankCands, metric = "l2")),
    "q_search_rerank_tanimoto" -> ((s, dir) =>
      Engine.forDir(s, dir).searchRerank(FlagshipTerms,
        s.read.parquet(s"$dir/embeddings.parquet"),
        RerankVecId, rows = RerankRows, candidates = RerankCands, metric = "tanimoto")),
    // missing-feature semantics (LireValueSource.java:274-276): embedding
    // store thinned so most candidates LACK a vector — they must keep
    // their slots at cos_q = -10001 and rank last, not vanish
    "q_search_rerank_missing" -> ((s, dir) =>
      Engine.forDir(s, dir).searchRerank(FlagshipTerms,
        s.read.parquet(s"$dir/embeddings.parquet")
          .where(col("vec_id") % 25 === RerankMissingPred),
        RerankVecId, rows = RerankRows, candidates = RerankCands)),
    // search-after cursor paging: the cursor is the (score_q, doc_id) of
    // the CursorStart-th hit; the page after it must equal the oracle's
    // global rank window (CursorStart, CursorStart+30] — constant heap
    // memory at any depth, unlike start/rows
    "q_wand_cursor" -> ((s, dir) => {
      import s.implicits._
      val e = Engine.forDir(s, dir)
      val (lastScore, lastDoc) = e.searchByTerms(FlagshipTerms, rows = CursorStart)
        .where(col("rank") === CursorStart)
        .select(col("score_q"), col("doc_id")).as[(Long, Long)].head()
      e.searchAfter(FlagshipTerms, lastScore, lastDoc, rows = 30)
        .select((col("rank") + CursorStart).as("rank"), col("doc_id"), col("score_q"))
    }),
    // Lucene BooleanQuery MUST: required term filters AND scores; the
    // boolean bitmap algebra runs inside the segment-local pass
    "q_bool_must" -> ((s, dir) =>
      Engine.forDir(s, dir).searchBool(FlagshipTerms,
        must = BoolMustTerms, rows = 60)),
    // BooleanQuery MUST_NOT: prohibited term's postings exclude in-segment
    "q_bool_not" -> ((s, dir) =>
      Engine.forDir(s, dir).searchBool(FlagshipTerms,
        mustNot = BoolNotTerms, rows = 60)),
    // BooleanQuery mixed: boosted SHOULD + scoring MUST + MUST_NOT
    "q_bool_mixed" -> ((s, dir) =>
      Engine.forDir(s, dir).searchBool(BoostedTerms,
        must = BoolMixedMust, mustNot = BoolNotTerms, rows = 60)),
    // Lucene PrefixQuery (pref*): top-terms scoring-Boolean rewrite off
    // the persisted dictionary, capped + deterministic, then OR search
    "q_prefix_search" -> ((s, dir) =>
      Engine.forDir(s, dir).searchPrefix(PrefixQ,
        rows = 60, maxExpansions = PrefixMaxExpansions)),
    // Lucene FuzzyQuery (term~2): distance-decayed boosts 1/(1+d),
    // (dist, df desc, term) capped expansion, then OR search
    "q_fuzzy_search" -> ((s, dir) =>
      Engine.forDir(s, dir).searchFuzzy(FuzzyQ, maxEdits = FuzzyMaxEdits,
        rows = 60, maxExpansions = FuzzyMaxExpansions)),
    // long-term fuzzy THROUGH THE OVER-CAP ENGINE: |grams| − 3·maxEdits > 0
    // and no driver dictionary, so this runs the trigram-store
    // q-gram-pruned expansion (the sub-linear route a 100× vocabulary
    // takes — the default engine's vocabulary sits under the driver-
    // expansion cap and rewrites in memory); the short FuzzyQ above takes
    // the driver route — both gated, both must match the same oracle shape
    "q_fuzzy_pruned" -> ((s, dir) =>
      Engine.forDirBigVocab(s, dir).searchFuzzy(FuzzyLongQ, maxEdits = FuzzyMaxEdits,
        rows = 60, maxExpansions = FuzzyMaxExpansions)),
    // Lucene WildcardQuery (w:s?a*): LIKE-translated dictionary rewrite,
    // capped + df-ordered, then OR search
    "q_wildcard_search" -> ((s, dir) =>
      Engine.forDir(s, dir).searchWildcard(WildcardQ,
        rows = 60, maxExpansions = WildcardMaxExpansions)),
    // leading wildcard THROUGH THE OVER-CAP ENGINE: served off the
    // reversed-term dictionary (StartsWith pushdown — the 100×-vocabulary
    // route; the default engine rewrites off the driver map, gated by
    // q_wildcard_search), oracle scans forward — identical by construction
    "q_wildcard_leading" -> ((s, dir) =>
      Engine.forDirBigVocab(s, dir).searchWildcard(WildcardLeadQ,
        rows = 60, maxExpansions = WildcardMaxExpansions)),
    // Lucene TermRangeQuery ([lo TO hi}): bound-filtered dictionary
    // rewrite, capped + df-ordered, then OR search
    "q_range_search" -> ((s, dir) =>
      Engine.forDir(s, dir).searchRange(Some(RangeLo), Some(RangeHi),
        incLo = true, incHi = false, rows = 60,
        maxExpansions = RangeMaxExpansions)),
    // the full Lucene QueryParser surface in one string: MUST phrase +
    // boosted term + MUST_NOT + prefix rewrite + fuzzy rewrite, scores
    // composed the way BooleanQuery sums subscorers
    "q_parsed_mixed" -> ((s, dir) =>
      Engine.forDir(s, dir).searchParsed(Corpus.fromDocuments(s, dir),
        ParsedMixedQuery, rows = 60)),
    // required-term variant: MUST/NOT membership folds into the scoring
    // scan (scanScoreMembership bitmask route) instead of joins
    "q_parsed_mixed_req" -> ((s, dir) =>
      Engine.forDir(s, dir).searchParsed(Corpus.fromDocuments(s, dir),
        ParsedMixedReqQuery, rows = 60)),
    // Solr /export: full sorted match set, exact scores, global ranks —
    // range-partitioned sort + zipWithIndex, no single-partition window
    "q_export" -> ((s, dir) => Engine.forDir(s, dir).exportMatches(ExportTerms)),
    // MUST multi-term rewrite = OR-required group: doc must hold >=1 of
    // the prefix expansion; all matching expansions score at the boost
    "q_parsed_group" -> ((s, dir) =>
      Engine.forDir(s, dir).searchParsed(Corpus.fromDocuments(s, dir),
        ParsedGroupQuery, rows = 60, maxExpansions = ParsedGroupMaxExpansions)),
    // Lucene PhraseQuery: shingle-index candidates (conjunction leapfrog)
    // + stored-content verify; tf = phrase frequency, weight = Σ idf
    "q_phrase" -> ((s, dir) =>
      Engine.forDir(s, dir).searchPhrase(Corpus.fromDocuments(s, dir),
        PhraseBigram, rows = 60)),
    // trigram phrase: two shingle terms + three word terms intersected
    "q_phrase3" -> ((s, dir) =>
      Engine.forDir(s, dir).searchPhrase(Corpus.fromDocuments(s, dir),
        PhraseTrigram, rows = 60)),
    // sloppy PhraseQuery ("hash join"~1): positions within ±slop of the
    // expected slot — strictly wider than q_phrase at every SF
    "q_phrase_slop" -> ((s, dir) =>
      Engine.forDir(s, dir).searchPhrase(Corpus.fromDocuments(s, dir),
        PhraseBigram, rows = 60, slop = PhraseSlop1)),
    // slop 2 admits the REVERSED adjacent bigram (Lucene's transposition
    // distance), exercised through the full parser (`"hash join"~2`)
    "q_phrase_slop2" -> ((s, dir) =>
      Engine.forDir(s, dir).searchParsed(Corpus.fromDocuments(s, dir),
        "\"" + PhraseBigram + "\"~" + PhraseSlop2, rows = 60)),
    // benchmark-contamination screen: dup-injected corpus vs a benchmark
    // table (every 13th base doc), flagged on any shared 13-token shingle
    "q_contamination" -> ((s, dir) => {
      val c = Corpus.fromDocuments(s, dir)
      Dedup.contamination(Dedup.withDups(c),
        c.where(col("doc_id") % 13 === 3), ContaminationWidth)
    }),
    // batched multi-query search: N queries in ONE segment pass
    "q_multi_search" -> ((s, dir) =>
      Engine.forDir(s, dir).searchManyByTerms(MultiQueries, rows = 20)),
    // §3.3 extract verb: analyzer-as-a-service (bs_list/bs_query analog)
    "q_extract" -> ((s, dir) =>
      Engine.forDir(s, dir).extract(ExtractContent, ExtractAccuracy)),
    // input_hint invariant: index docmeta sha == source snapshot sha, all rows
    "q_sha_invariant" -> ((s, dir) => {
      val e = Engine.forDir(s, dir)
      val c = Corpus.fromDocuments(s, dir).select(col("doc_id"), col("sha").as("src_sha"))
      e.index.docmeta.join(c, Seq("doc_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("sha") =!= col("src_sha"), 1L).otherwise(0L)).as("n_mismatch"))
    }),
    // streaming-capable tumbling-window aggregation (batch-mode twin of
    // StreamIndexer.eventCounts; the watermarked streaming run is tested
    // in StreamingSpec against this same plan)
    "q_event_window" -> ((s, dir) =>
      graft.streaming.StreamIndexer.eventCounts(
        s.read.parquet(s"$dir/events.parquet"), withWatermark = false)
        .select(
          date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"), col("sum_value_q"))),
    // gap-based sessionization (batch twin of the flatMapGroupsWithState
    // stateful streaming operator; streamed==batch pinned in StreamingSpec)
    "q_event_sessions" -> ((s, dir) =>
      graft.streaming.StreamIndexer.sessionize(s.read.parquet(s"$dir/events.parquet"))),
    // Solr update semantics end to end, PRE-compaction: upsert + delete via
    // tombstones; results exclude dead docs while stats/dfs stay STALE
    // (Lucene deleted-docs behavior) — the oracle scores over ALL versions
    // and filters dead ids from the ranking only
    "q_upsert" -> ((s, dir) => {
      import graft.query.Index
      new Engine(new Index(s, upsertSetup(s, dir, compacted = false)))
        .searchByTerms(FlagshipTerms, rows = 60)
    }),
    // Solr deleteByQuery: stored-field predicate -> tombstone-only unit;
    // ranking excludes the deleted docs while stats stay stale
    "q_delete_query" -> ((s, dir) => {
      import graft.query.Index
      new Engine(new Index(s, deleteQuerySetup(s, dir)))
        .searchByTerms(FlagshipTerms, rows = 60)
    }),
    // POST-compaction: the merge physically reclaims dead docs and
    // refreshes stats — the same search must now match a fresh oracle over
    // the effective (live-only) corpus
    "q_upsert_compact" -> ((s, dir) => {
      import graft.query.Index
      new Engine(new Index(s, upsertSetup(s, dir, compacted = true)))
        .searchByTerms(FlagshipTerms, rows = 60)
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = Map(
    "q_corpus" -> Oracle.withPrelude(
      """SELECT c.doc_id, c.repo, c.path, c."commit", c.lang, c.content,
        |       sha256(c.content) AS sha, length(c.content)::BIGINT AS content_len
        |FROM corpus c""".stripMargin),
    "q_postings" -> Oracle.withPrelude("SELECT doc_id, term, tf FROM post"),
    "q_dictionary" -> Oracle.withPrelude("SELECT term, df, total_tf FROM dict"),
    "q_doclens" -> Oracle.withPrelude("SELECT doc_id, dl FROM dl"),
    "q_bm25_topk" -> Oracle.bm25TopK(FlagshipTerms, 60),
    "q_bm25_boosted" -> Oracle.bm25TopK(BoostedTerms, 60),
    "q_bm25_filtered" -> Oracle.bm25TopK(FlagshipTerms, 60, Some("lang = 'en'")),
    "q_wand_topk" -> Oracle.bm25TopK(FlagshipTerms, 60),
    "q_wand_bigvocab" -> Oracle.bm25TopK(FlagshipTerms, 60),
    "q_wand_paged" -> Oracle.bm25Page(FlagshipTerms, 20, 30),
    "q_facet_lang" -> Oracle.facetSql(FlagshipTerms, "lang"),
    "q_facet_filtered" -> Oracle.facetSql(FlagshipTerms, "repo", Some(("lang", "en"))),
    "q_facet_top" -> Oracle.facetTopSql(FlagshipTerms, "repo", mincount = 2, limit = 10),
    "q_grouped" -> Oracle.groupedSql(FlagshipTerms, "repo", groupLimit = 3, groups = 8),
    "q_collapsed" -> Oracle.collapsedSql(FlagshipTerms, "repo", rows = 10),
    "q_block_join" -> Oracle.blockJoinSql(FlagshipTerms, "max", rows = 10),
    "q_block_join_total" -> Oracle.blockJoinSql(FlagshipTerms, "total", rows = 10),
    "q_grouped_filtered" -> Oracle.groupedSql(FlagshipTerms, "repo",
      groupLimit = 3, groups = 8, docPred = Some("lang = 'en'")),
    "q_stats_dl" -> Oracle.statsDlSql(FlagshipTerms),
    "q_facet_range" -> Oracle.facetRangeDlSql(FlagshipTerms, 0L, 1L << 20, 128L),
    "q_facet_pivot" -> Oracle.facetPivotSql(FlagshipTerms, "lang", "repo"),
    "q_terms_enum" -> Oracle.termsEnumSql("w:s", limit = 20),
    "q_sort_by_dl" -> Oracle.sortByDlSql(FlagshipTerms, ascending = true, rows = 60),
    "q_spellcheck" -> Oracle.spellcheckSql("w:hach", maxEdits = 2, limit = 10),
    "q_highlight" -> Oracle.highlightSql(FlagshipTerms, rows = 20, width = 80),
    "q_wand_boosted" -> Oracle.bm25TopK(BoostedTerms, 60),
    "q_query_string" -> Oracle.bm25TopK(BoostedTerms, 60),
    "q_wand_filtered" -> Oracle.bm25TopK(FlagshipTerms, 60, Some("lang = 'en'")),
    "q_wand_filtered_pred" -> Oracle.bm25TopK(FlagshipTerms, 60, Some("lang = 'en'")),
    "q_wand_pruned" -> Oracle.bm25TopKPruned(FlagshipTerms, 3, 60),
    "q_prune" -> Oracle.pruneSql(PruneTerms, 3),
    "q_mlt" -> Oracle.bm25Mlt(42L, 30),
    "q_dictionary_idx" -> Oracle.withPrelude("SELECT term, df FROM dict"),
    "q_manifest_stats" -> Oracle.withPrelude(
      "SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl"),
    "q_compact_stats" -> Oracle.withPrelude(
      "SELECT count(*)::BIGINT AS n_docs, sum(dl)::BIGINT AS sum_dl FROM dl"),
    "q_random_sample" -> Oracle.withPrelude(
      """SELECT doc_id, md5('graft:' || doc_id) AS rkey FROM corpus
        |ORDER BY rkey ASC, doc_id ASC LIMIT 25""".stripMargin),
    "q_point_lookup" -> Oracle.withPrelude(
      """SELECT doc_id, repo, path, "commit", lang, sha256(content) AS sha
        |FROM corpus WHERE doc_id = 123""".stripMargin),
    "q_point_suffix" -> Oracle.withPrelude(
      "SELECT doc_id, path FROM corpus WHERE path LIKE '%7.txt'"),
    "q_tags_join" -> Oracle.withPrelude(
      s"""     , ${Oracle.qFromValues(FlagshipTerms)},
         |${Oracle.bm25Body(None)},
         |tags AS (
         |  SELECT doc_id, 't' || (doc_id % 7) AS tag FROM corpus WHERE doc_id % 3 = 0)
         |SELECT r.rank, r.doc_id, r.score_q, coalesce(t.tag, '') AS tag
         |FROM ranked r LEFT JOIN tags t ON t.doc_id = r.doc_id
         |WHERE r.rank <= 30 ORDER BY r.rank""".stripMargin),
    "q_field_list" -> Oracle.withPrelude(
      """SELECT lang, count(*)::BIGINT AS n,
        |       coalesce(string_agg(path, ',' ORDER BY path), '') AS paths_csv
        |FROM corpus GROUP BY lang""".stripMargin),
    "q_join_merge" -> Oracle.withPrelude(
      """SELECT c.doc_id, c.lang, e.label
        |FROM corpus c JOIN embeddings e ON e.vec_id = c.doc_id""".stripMargin),
    "q_dedup_exact" -> OracleMl.exactDupsSql,
    "q_span_dup" -> OracleMl.spanDupsSql(SpanDupWidth, SpanDupMaxOcc),
    "q_dedup_minhash" -> OracleMl.minhashPairsSql,
    "q_dedup_clusters" -> OracleMl.dedupClustersSql,
    "q_dedup_clusters_stars" -> OracleMl.dedupClustersSql,
    "q_curation" -> OracleMl.curationSql,
    "q_dedup_decisions" -> OracleMl.dedupDecisionsSql,
    "q_dedup_jaccard" -> OracleMl.jaccardPairsSql,
    "q_dedup_simhash" -> OracleMl.simhashSql,
    "q_simhash_pairs" -> OracleMl.simhashPairsSql(2),
    "q_simhash_allpairs" -> OracleMl.simhashPairsSql(2),
    "q_simhash_pairs_8band" -> OracleMl.simhashPairsSql(2),
    "q_dedup_embcos" -> OracleMl.embCosBucketedDerivedSql(4000L, target = 64L),
    "q_dedup_embcos_wide" -> OracleMl.embCosBucketedSql(4000L, bits = 6),
    "q_contamination" -> OracleMl.contaminationSql("doc_id % 13 = 3", ContaminationWidth),
    "q_embcos_allpairs" -> OracleMl.embCosPairsSql(4000L),
    "q_ann_brute" -> OracleMl.annBruteSql(AnnQueryIds, 10),
    "q_ann_lsh" -> OracleMl.annLshSql(AnnQueryIds, 10),
    "q_ann_multiprobe" -> OracleMl.annMultiProbeSql(AnnQueryIds, 10),
    "q_ann_fullsort" -> OracleMl.annFullSortSql(RerankVecId),
    "q_metricspaces" -> OracleMl.metricSpacesSql(32, 8),
    "q_ann_ivf" -> OracleMl.annIvfSql(AnnQueryIds, 10, 32, 4),
    "q_topn_features" -> OracleMl.topNFeaturesSql(8, 0.5),
    "q_minmax_norm" -> OracleMl.minMaxSql,
    "q_quantize_int8" -> OracleMl.quantizeInt8Sql,
    "q_lang_id" -> OracleMl.langIdSql,
    "q_quality" -> OracleMl.qualitySql,
    "q_token_count" -> OracleMl.tokenCountsSql,
    "q_fingerprint" -> OracleMl.fingerprintSql,
    "q_repetition" -> OracleMl.repetitionSql,
    "q_unigram_lp" -> OracleMl.unigramSql,
    "q_pii_redact" -> OracleMl.piiSql,
    "q_stratified_sample" -> OracleMl.stratifiedSampleSql("lang", SampleTarget, "samp"),
    "q_gopher_rules" -> OracleMl.gopherSql,
    "q_binary_meta" -> OracleMl.binaryMetaSql,
    "q_frame_sample" -> OracleMl.frameSampleSql(32, 2),
    "q_search_fields" -> Oracle.withPrelude(
      s"""     , ${Oracle.qFromValues(FlagshipTerms)},
         |${Oracle.bm25Body(None)}
         |SELECT r.rank, r.doc_id, r.score_q, c.repo, c.path, c.lang
         |FROM ranked r JOIN corpus c ON c.doc_id = r.doc_id
         |WHERE r.rank <= 30 ORDER BY r.rank""".stripMargin),
    "q_multi_search" -> Oracle.bm25Multi(MultiQueries, 20),
    "q_search_rerank" -> OracleMl.rerankSql(FlagshipTerms, RerankVecId, RerankCands, RerankRows),
    "q_search_rerank_l1" -> OracleMl.rerankSql(FlagshipTerms, RerankVecId,
      RerankCands, RerankRows, metric = "l1"),
    "q_search_rerank_l2" -> OracleMl.rerankSql(FlagshipTerms, RerankVecId,
      RerankCands, RerankRows, metric = "l2"),
    "q_search_rerank_tanimoto" -> OracleMl.rerankSql(FlagshipTerms, RerankVecId,
      RerankCands, RerankRows, metric = "tanimoto"),
    "q_search_rerank_missing" -> OracleMl.rerankSql(FlagshipTerms, RerankVecId,
      RerankCands, RerankRows, embPred = Some(s"vec_id % 25 = $RerankMissingPred")),
    "q_wand_cursor" -> Oracle.bm25Page(FlagshipTerms, CursorStart, 30),
    "q_bool_must" -> Oracle.bm25BoolTopK(FlagshipTerms, BoolMustTerms, Nil, 60),
    "q_bool_not" -> Oracle.bm25BoolTopK(FlagshipTerms, Nil, BoolNotTerms, 60),
    "q_bool_mixed" -> Oracle.bm25BoolTopK(BoostedTerms, BoolMixedMust, BoolNotTerms, 60),
    "q_phrase" -> Oracle.phraseSql(PhraseBigram, 60),
    "q_phrase3" -> Oracle.phraseSql(PhraseTrigram, 60),
    "q_phrase_slop" -> Oracle.phraseSql(PhraseBigram, 60, slop = PhraseSlop1),
    "q_phrase_slop2" -> Oracle.phraseSql(PhraseBigram, 60, slop = PhraseSlop2),
    "q_prefix_search" -> Oracle.prefixSql(PrefixQ, PrefixMaxExpansions, 60),
    "q_fuzzy_search" -> Oracle.fuzzySql(FuzzyQ, FuzzyMaxEdits, FuzzyMaxExpansions, 60),
    "q_fuzzy_pruned" -> Oracle.fuzzySql(FuzzyLongQ, FuzzyMaxEdits, FuzzyMaxExpansions, 60),
    "q_wildcard_search" -> Oracle.wildcardSql(WildcardQ, WildcardMaxExpansions, 60),
    "q_range_search" -> Oracle.rangeSql(Some(RangeLo), Some(RangeHi),
      incLo = true, incHi = false, RangeMaxExpansions, 60),
    "q_parsed_group" -> Oracle.parsedGroupSql(Seq("w:license" -> 1.0),
      "w:sm", 0.5, ParsedGroupMaxExpansions, Seq("w:stream"), 60),
    "q_export" -> Oracle.withPrelude(
      s"""     , ${Oracle.qFromValues(ExportTerms)},
         |${Oracle.bm25Body(None)}
         |SELECT rank, doc_id, score_q FROM ranked ORDER BY rank""".stripMargin),
    "q_wildcard_leading" -> Oracle.wildcardSql(WildcardLeadQ, WildcardMaxExpansions, 60),
    "q_parsed_mixed" -> Oracle.parsedMixedSql("hash join",
      Seq("w:window" -> 2.0), "w:sm", 0.5, "w:hach", 1, 1.0,
      50, Seq("w:stream"), 60),
    "q_parsed_mixed_req" -> Oracle.parsedMixedSql("hash join",
      Seq("w:window" -> 2.0), "w:sm", 0.5, "w:hach", 1, 1.0,
      50, Seq("w:stream"), 60, mustTerms = Seq("w:the" -> 1.0)),
    "q_extract" -> Oracle.extractSql(ExtractContent, extractBudget),
    "q_sha_invariant" -> Oracle.withPrelude(
      "SELECT count(*)::BIGINT AS n_docs, 0::BIGINT AS n_mismatch FROM corpus"),
    "q_event_window" ->
      """SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS w_start,
        |       event_type, count(*)::BIGINT AS n,
        |       CAST(round(sum(value) * 100) AS BIGINT) AS sum_value_q
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_event_sessions" ->
      """WITH l AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events),
        |s AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 28800000000 THEN 1 ELSE 0 END AS ns FROM l),
        |i AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY us, event_id
        |                              ROWS UNBOUNDED PRECEDING) AS sid FROM s)
        |SELECT user_id, min(us)::BIGINT AS session_start_us, count(*)::BIGINT AS n,
        |       CAST(round(sum(value) * 100) AS BIGINT) AS sum_value_q
        |FROM i GROUP BY user_id, sid""".stripMargin,
    "q_upsert" -> Oracle.bm25TopKOver(upsertCorpusCtes(liveOnly = false),
      FlagshipTerms, 60, Some(upsertLivePred)),
    "q_delete_query" -> Oracle.bm25TopK(FlagshipTerms, 60,
      Some("NOT (lang = 'en' AND doc_id % 3 = 0)")),
    "q_upsert_compact" -> Oracle.bm25TopKOver(upsertCorpusCtes(liveOnly = true),
      FlagshipTerms, 60),
  )
}
