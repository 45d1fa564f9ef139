package graft.sql

/** DuckDB oracle SQL builder.
  *
  * Mirrors the corpus derivation ([[graft.corpus.Corpus.fromDocuments]]),
  * the tokenizer ([[graft.analyze.Tokenizer]]), the BM25 closed form
  * ([[graft.query.Bm25]]) and the T1/T2 pruning rule
  * ([[graft.query.Engine.prune]]) in SQL that DuckDB runs directly on the
  * same parquet tables. Keeping every definition in one repo-local place is
  * the rank-identity contract (SURVEY.md §5.2-3).
  *
  * Cross-engine gotchas encoded here:
  *  - DuckDB `sum(BIGINT)` returns HUGEINT -> always `::BIGINT` casts;
  *  - doubles never compared raw: `score_q = CAST(round(score*1e6) AS BIGINT)`;
  *  - ordering always (score_q DESC, doc_id ASC) — quantization-stable
  *    version of the reference tie-break (CachingSimpleResult.java:12-24).
  */
object Oracle {

  /** CTE prelude: corpus -> toks -> terms -> post -> dl -> stats -> dict.
    *
    * Clamp mirror (IndexBuild.MaxTf/MaxDl): `post` carries tf saturated at
    * 65535 and `dl` the RAW term-count sum saturated at 1048575 — exactly
    * what the engine's packed postings and docmeta store, so parity holds
    * even for a pathological generated/minified doc instead of relying on
    * gated corpora never containing one. `post0` (raw tf) exists for
    * consumers that mirror raw-count semantics (simhash weights).
    */
  /** The standard corpus derivation (mirrors Corpus.fromDocuments). */
  val corpusBody: String =
    """  SELECT doc_id,
      |         source AS repo,
      |         'repo/' || source || '/doc_' || doc_id || '.txt' AS path,
      |         substr(md5(source || ':' || doc_id), 1, 12) AS "commit",
      |         lang,
      |         coalesce(text, '') AS content
      |  FROM documents""".stripMargin

  /** Everything downstream of corpus(doc_id, repo, path, "commit", lang,
    * content) — reusable over a caller-supplied corpus CTE chain (the
    * upsert gates feed an all-versions / live-only corpus here).
    */
  val preludeTail: String =
    """toks AS (
      |  SELECT doc_id, lang,
      |         list_filter(regexp_split_to_array(lower(content), '[^a-z0-9]+'), x -> x <> '') AS ts
      |  FROM corpus),
      |terms AS (
      |  SELECT doc_id, 'w:' || unnest(ts) AS term FROM toks
      |  UNION ALL
      |  SELECT doc_id, 's:' || substr(md5(ts[i] || ' ' || ts[i + 1]), 1, 3) AS term
      |  FROM toks, unnest(generate_series(1, len(ts) - 1)) AS g(i)),
      |post0 AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM terms GROUP BY 1, 2),
      |post AS (SELECT doc_id, term, least(tf, 65535)::BIGINT AS tf FROM post0),
      |dl AS (SELECT doc_id, least(sum(tf), 1048575)::BIGINT AS dl FROM post0 GROUP BY 1),
      |stats AS (SELECT count(*)::DOUBLE AS n, avg(dl)::DOUBLE AS avgdl FROM dl),
      |dict AS (SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS total_tf FROM post GROUP BY 1)""".stripMargin

  val prelude: String = s"corpus AS (\n$corpusBody),\n$preludeTail"

  def withPrelude(body: String): String = s"WITH $prelude\n$body"

  /** Prelude over a caller-supplied corpus CTE chain — `corpusCtes` must
    * end by defining corpus(doc_id, repo, path, "commit", lang, content).
    */
  def withCorpusCtes(corpusCtes: String, body: String): String =
    s"WITH $corpusCtes,\n$preludeTail\n$body"

  /** Full top-k over a caller-supplied corpus CTE chain. */
  def bm25TopKOver(corpusCtes: String, terms: Seq[(String, Double)], k: Int,
                   docPred: Option[String] = None): String =
    withCorpusCtes(corpusCtes,
      s"""     , ${qFromValues(terms)},
         |${bm25Body(docPred)}
         |${topKSelect(k)}""".stripMargin)

  /** VALUES list for a weighted term list. */
  def termValues(terms: Seq[(String, Double)]): String =
    terms.map { case (t, b) => s"('$t', $b::DOUBLE)" }.mkString(", ")

  /** q(term, boost) from literal values. */
  def qFromValues(terms: Seq[(String, Double)]): String =
    s"q(term, boost) AS (SELECT * FROM (VALUES ${termValues(terms)}) v(term, boost))"

  /** q(term, boost) = the distinct terms of one document, boost 1
    * (more-like-this / search-by-content semantics: query tf ignored,
    * Boolean-OR of TermQuerys — LireRequestHandler.java:706-713).
    */
  def qFromDoc(docId: Long): String =
    s"q(term, boost) AS (SELECT DISTINCT term, 1.0::DOUBLE AS boost FROM post WHERE doc_id = $docId)"

  /** CTE chain implementing Engine.prune (T1/T2): df-asc (term-asc tie)
    * ordering, df=0 dropped keeping >=3, first `budget` kept.
    * Ends with base(term, boost, df, kept_rank).
    */
  def pruneCtes(terms: Seq[(String, Double)]): String =
    s"""qt(term, boost) AS (SELECT * FROM (VALUES ${termValues(terms)}) v(term, boost)),
       |wdf AS (
       |  SELECT qt.term, qt.boost, coalesce(f.df, 0)::BIGINT AS df
       |  FROM qt LEFT JOIN dict f ON f.term = qt.term),
       |sorted AS (
       |  SELECT *, row_number() OVER (ORDER BY df ASC, term ASC) AS rn,
       |         count(CASE WHEN df > 0 THEN 1 END) OVER () AS nz
       |  FROM wdf),
       |base AS (
       |  SELECT term, boost, df, row_number() OVER (ORDER BY rn) AS kept_rank
       |  FROM sorted WHERE (nz >= 3 AND df > 0) OR (nz < 3 AND rn <= 3))""".stripMargin

  /** Standalone pruning query: (term, df, kept_rank). */
  def pruneSql(terms: Seq[(String, Double)], budget: Int): String =
    withPrelude(
      s"""     , ${pruneCtes(terms)}
         |SELECT term, df, kept_rank FROM base WHERE kept_rank <= $budget ORDER BY kept_rank""".stripMargin)

  /** BM25 scored+ranked CTEs given an existing q(term, boost) CTE.
    * `docPred`: extra predicate over corpus columns (the reference's fq
    * filter-query intersection, LireRequestHandler.java:555).
    */
  def bm25Body(docPred: Option[String] = None, extraClauses: String = ""): String = {
    val filterJoin = (docPred match {
      case Some(p) => s"\n  AND p.doc_id IN (SELECT doc_id FROM corpus WHERE $p)"
      case None => ""
    }) + extraClauses
    s"""scored AS (
       |  SELECT p.doc_id,
       |         sum(q.boost * ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
       |             * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))) AS score
       |  FROM post p
       |  JOIN q ON p.term = q.term
       |  JOIN dict f ON f.term = p.term
       |  JOIN dl d ON d.doc_id = p.doc_id
       |  CROSS JOIN stats s
       |  WHERE 1 = 1$filterJoin
       |  GROUP BY 1),
       |ranked AS (
       |  SELECT doc_id,
       |         CAST(round(score * 1000000.0) AS BIGINT) AS score_q,
       |         row_number() OVER (
       |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doc_id ASC) AS rank
       |  FROM scored)""".stripMargin
  }

  private def topKSelect(k: Int): String =
    s"SELECT rank, doc_id, score_q FROM ranked WHERE rank <= $k ORDER BY rank"

  /** Result window (start, start+k] with global ranks — Solr start/rows. */
  def bm25Page(terms: Seq[(String, Double)], start: Int, k: Int): String =
    withPrelude(
      s"""     , ${qFromValues(terms)},
         |${bm25Body(None)}
         |SELECT rank, doc_id, score_q FROM ranked
         |WHERE rank > $start AND rank <= ${start + k} ORDER BY rank""".stripMargin)

  /** Facet counts over the full Boolean-OR match set of the terms,
    * optionally intersected with an equality fq (Solr: facet counts are
    * computed over q AND all fq's). The fq compares the STRING form of
    * the column — the engine's filter keys hold values as strings.
    */
  def facetSql(terms: Seq[(String, Double)], field: String,
               fq: Option[(String, String)] = None): String = {
    val inList = terms.map(_._1).distinct.map(t => s"'$t'").mkString(", ")
    val fqPred = fq match {
      case Some((c, v)) => s"\nWHERE c.$c::VARCHAR = '${v.replace("'", "''")}'"
      case None => ""
    }
    withPrelude(
      s"""     , matchset AS (SELECT DISTINCT doc_id FROM post WHERE term IN ($inList))
         |SELECT c.$field AS value, count(*)::BIGINT AS n
         |FROM corpus c JOIN matchset m ON m.doc_id = c.doc_id$fqPred
         |GROUP BY 1""".stripMargin)
  }

  /** Top-`limit` facet values by (count DESC, value ASC), counts below
    * `mincount` and the null group dropped — Engine.facetTop's twin
    * (Solr facet.sort=count / facet.limit / facet.mincount,
    * facet.missing=false).
    */
  def facetTopSql(terms: Seq[(String, Double)], field: String,
                  fq: Option[(String, String)] = None,
                  mincount: Long = 1, limit: Int = 100): String = {
    val inList = terms.map(_._1).distinct.map(t => s"'$t'").mkString(", ")
    val fqPred = fq match {
      case Some((c, v)) => s"\n  WHERE c.$c::VARCHAR = '${v.replace("'", "''")}'"
      case None => ""
    }
    withPrelude(
      s"""     , matchset AS (SELECT DISTINCT doc_id FROM post WHERE term IN ($inList)),
         |fc AS (
         |  SELECT c.$field::VARCHAR AS value, count(*)::BIGINT AS n
         |  FROM corpus c JOIN matchset m ON m.doc_id = c.doc_id$fqPred
         |  GROUP BY 1)
         |SELECT value, n FROM fc
         |WHERE value IS NOT NULL AND n >= $mincount
         |ORDER BY n DESC, value ASC
         |LIMIT $limit""".stripMargin)
  }

  /** Solr result-grouping twin (Engine.searchGrouped): top-`groups`
    * groups ordered by their best doc (score_q DESC, doc_id ASC — the
    * best doc is unique to its group, so the order is total), each with
    * its top-`groupLimit` docs; rank is group-relative. Docs with a null
    * field value form the null group (hence the null-safe join).
    */
  /** wv + grp CTEs shared by [[groupedSql]] and [[collapsedSql]]: ranked
    * docs joined to their field value, row_number within each value by
    * the total tie order — ONE copy so the group tie-break and the
    * ::VARCHAR value cast cannot desynchronize between the twins.
    */
  private def groupValueCtes(field: String): String =
    s"""wv AS (
       |  SELECT r.doc_id, r.score_q, c.$field::VARCHAR AS value
       |  FROM ranked r JOIN corpus c ON c.doc_id = r.doc_id),
       |grp AS (
       |  SELECT *, row_number() OVER (PARTITION BY value
       |    ORDER BY score_q DESC, doc_id ASC) AS rank FROM wv)""".stripMargin

  def groupedSql(terms: Seq[(String, Double)], field: String,
                 groupLimit: Int, groups: Int,
                 docPred: Option[String] = None): String =
    withPrelude(
      s"""     , ${qFromValues(terms)},
         |${bm25Body(docPred)},
         |${groupValueCtes(field)},
         |best AS (
         |  SELECT value, doc_id AS bdoc, score_q AS bsq FROM grp WHERE rank = 1),
         |gr AS (
         |  SELECT value, row_number() OVER (ORDER BY bsq DESC, bdoc ASC) AS group_rank
         |  FROM best)
         |SELECT g.group_rank, w.value, w.rank, w.doc_id, w.score_q
         |FROM grp w JOIN gr g ON g.value IS NOT DISTINCT FROM w.value
         |WHERE g.group_rank <= $groups AND w.rank <= $groupLimit
         |ORDER BY g.group_rank, w.rank""".stripMargin)

  /** Block-join twin (Engine.blockJoinParents): parents ranked by an
    * aggregate of their children's quantized scores; avg is INTEGER
    * division, mirroring the engine's div.
    */
  def blockJoinSql(terms: Seq[(String, Double)], scoreMode: String,
                   rows: Int): String = {
    val score = scoreMode match {
      case "max" => "max_q"
      case "total" => "total_q"
      case "avg" => "total_q // n_children"
      case other => throw new IllegalArgumentException(s"scoreMode $other")
    }
    withPrelude(
      s"""     , ${qFromValues(terms)},
         |${bm25Body(None)},
         |pj AS (
         |  SELECT c.repo::VARCHAR AS parent, r.score_q
         |  FROM ranked r JOIN corpus c ON c.doc_id = r.doc_id),
         |agg AS (
         |  SELECT parent, sum(score_q)::BIGINT AS total_q,
         |         max(score_q)::BIGINT AS max_q, count(*)::BIGINT AS n_children
         |  FROM pj GROUP BY parent),
         |bj AS (
         |  SELECT row_number() OVER (ORDER BY ($score) DESC, parent ASC)::BIGINT AS rank,
         |         parent, ($score)::BIGINT AS score_q, n_children
         |  FROM agg)
         |SELECT rank, parent, score_q, n_children FROM bj
         |WHERE rank <= $rows ORDER BY rank""".stripMargin)
  }

  /** CollapsingQParserPlugin twin (Engine.searchCollapsed): one best doc
    * per field value, flat global ranking — [[groupedSql]]'s CTE chain
    * emitting only each group's rank-1 row.
    */
  def collapsedSql(terms: Seq[(String, Double)], field: String,
                   rows: Int): String =
    withPrelude(
      s"""     , ${qFromValues(terms)},
         |${bm25Body(None)},
         |${groupValueCtes(field)},
         |best AS (
         |  SELECT value, doc_id, score_q,
         |         row_number() OVER (ORDER BY score_q DESC, doc_id ASC) AS rank
         |  FROM grp WHERE rank = 1)
         |SELECT rank, value, doc_id, score_q FROM best
         |WHERE rank <= $rows ORDER BY rank""".stripMargin)

  /** Solr highlighting twin (Engine.highlight): snippet of lower(content)
    * around the first whole-word token occurrence, field-head fallback.
    */
  def highlightSql(terms: Seq[(String, Double)], rows: Int,
                   width: Int): String = {
    val toks = terms.map(_._1).distinct.collect {
      case t if t.startsWith("w:") =>
        t.substring(2).toLowerCase(java.util.Locale.ROOT).replace("'", "''")
    }
    val firstPos =
      if (toks.isEmpty) "1"
      else {
        val ps = toks.map(t => s"NULLIF(instr(lower(c.content), '$t'), 0)")
        s"coalesce(least(${ps.mkString(", ")}), 1)"
      }
    withPrelude(
      s"""     , ${qFromValues(terms)},
         |${bm25Body(None)}
         |SELECT r.rank, r.doc_id,
         |       substr(lower(c.content), greatest(1, $firstPos - 30), $width) AS snippet
         |FROM ranked r JOIN corpus c ON c.doc_id = r.doc_id
         |WHERE r.rank <= $rows ORDER BY r.rank""".stripMargin)
  }

  /** Solr SpellCheck twin (Engine.spellcheck): DuckDB's levenshtein is
    * the same unweighted edit distance as Spark's.
    */
  def spellcheckSql(term: String, maxEdits: Int, limit: Int): String = {
    val esc = term.replace("'", "''")
    withPrelude(
      s"""SELECT term, df FROM dict
         |WHERE levenshtein(term, '$esc') <= $maxEdits AND term <> '$esc'
         |ORDER BY df DESC, term ASC
         |LIMIT $limit""".stripMargin)
  }

  /** Solr sort-param twin (Engine.searchSortedBy on the dl field). */
  def sortByDlSql(terms: Seq[(String, Double)], ascending: Boolean,
                  rows: Int): String = {
    val inList = terms.map(_._1).distinct.map(t => s"'$t'").mkString(", ")
    val dir = if (ascending) "ASC" else "DESC"
    withPrelude(
      s"""     , matchset AS (SELECT DISTINCT doc_id FROM post WHERE term IN ($inList))
         |SELECT row_number() OVER (ORDER BY dl $dir, doc_id ASC)::BIGINT AS rank,
         |       doc_id, dl::VARCHAR AS sort_value
         |FROM dl JOIN matchset USING (doc_id)
         |ORDER BY dl $dir, doc_id ASC
         |LIMIT $rows""".stripMargin)
  }

  /** Solr Terms-component twin (Engine.termsEnum): prefix enumeration
    * from the dict CTE, (df DESC, term ASC) total order.
    */
  def termsEnumSql(prefix: String, limit: Int): String = {
    val esc = prefix.replace("'", "''").replace("%", "\\%").replace("_", "\\_")
    withPrelude(
      s"""SELECT term, df FROM dict
         |WHERE term LIKE '$esc%' ESCAPE '\\'
         |ORDER BY df DESC, term ASC
         |LIMIT $limit""".stripMargin)
  }

  /** Solr range-facet twin (Engine.facetRange on the dl field): integer
    * bucket arithmetic, mirrored op for op.
    */
  def facetRangeDlSql(terms: Seq[(String, Double)], start: Long, end: Long,
                      gap: Long): String = {
    val inList = terms.map(_._1).distinct.map(t => s"'$t'").mkString(", ")
    withPrelude(
      s"""     , matchset AS (SELECT DISTINCT doc_id FROM post WHERE term IN ($inList))
         |SELECT (dl - ((dl - $start) % $gap))::BIGINT AS bucket_start,
         |       count(*)::BIGINT AS n
         |FROM dl JOIN matchset USING (doc_id)
         |WHERE dl >= $start AND dl < $end
         |GROUP BY 1""".stripMargin)
  }

  /** Solr pivot-facet twin (Engine.facetPivot): flattened nested counts. */
  def facetPivotSql(terms: Seq[(String, Double)], field: String,
                    pivotField: String): String = {
    val inList = terms.map(_._1).distinct.map(t => s"'$t'").mkString(", ")
    withPrelude(
      s"""     , matchset AS (SELECT DISTINCT doc_id FROM post WHERE term IN ($inList))
         |SELECT c.$field::VARCHAR AS value, c.$pivotField::VARCHAR AS pivot,
         |       count(*)::BIGINT AS n
         |FROM corpus c JOIN matchset m ON m.doc_id = c.doc_id
         |GROUP BY 1, 2""".stripMargin)
  }

  /** Solr StatsComponent twin (Engine.statsField on the dl field): the
    * prelude's dl table IS the engine's docmeta dl (same MaxDl clamp).
    */
  def statsDlSql(terms: Seq[(String, Double)]): String = {
    val inList = terms.map(_._1).distinct.map(t => s"'$t'").mkString(", ")
    withPrelude(
      s"""     , matchset AS (SELECT DISTINCT doc_id FROM post WHERE term IN ($inList))
         |SELECT count(*)::BIGINT AS n,
         |       min(dl)::BIGINT AS min_v,
         |       max(dl)::BIGINT AS max_v,
         |       sum(dl)::BIGINT AS sum_v,
         |       CAST(round(sum(dl)::DOUBLE * 1000000.0 / count(*)) AS BIGINT) AS mean_q
         |FROM dl JOIN matchset USING (doc_id)""".stripMargin)
  }

  /** Full top-k query from literal terms. */
  def bm25TopK(terms: Seq[(String, Double)], k: Int, docPred: Option[String] = None): String =
    withPrelude(
      s"""     , ${qFromValues(terms)},
         |${bm25Body(docPred)}
         |${topKSelect(k)}""".stripMargin)

  /** Lucene BooleanQuery clause predicates over `post`: every MUST term's
    * doc set intersected, the MUST_NOT union excluded (mirrors
    * Engine.boolAllow's required-AND / exclusion-OR bitmap algebra).
    */
  def boolClauses(must: Seq[String], mustNot: Seq[String]): String = {
    val m = must.distinct.map(t =>
      s"\n  AND p.doc_id IN (SELECT doc_id FROM post WHERE term = '$t')").mkString
    val n =
      if (mustNot.isEmpty) ""
      else {
        val vals = mustNot.distinct.map(t => s"'$t'").mkString(", ")
        s"\n  AND p.doc_id NOT IN (SELECT doc_id FROM post WHERE term IN ($vals))"
      }
    m + n
  }

  /** BooleanQuery top-k: q = should ∪ must (a MUST clause scores too —
    * duplicate q rows for one term sum their boosts via the scored join,
    * exactly as Engine.weightsOf sums them); mustNot only excludes.
    */
  def bm25BoolTopK(should: Seq[(String, Double)], must: Seq[(String, Double)],
                   mustNot: Seq[String], k: Int): String =
    withPrelude(
      s"""     , ${qFromValues(should.filterNot(t => mustNot.contains(t._1)) ++ must)},
         |${bm25Body(None, boolClauses(must.map(_._1), mustNot))}
         |${topKSelect(k)}""".stripMargin)

  /** Required multi-term rewrite oracle (`+pre* should -not` — Lucene's
    * OR-required group, mirror of Engine.searchBool mustGroups): the
    * group expands off the dictionary exactly as [[prefixSql]]; a result
    * doc must hold ≥1 group member and no prohibited term; score = the
    * usual sum over should ∪ group matches (group members at the clause
    * boost).
    */
  def parsedGroupSql(should: Seq[(String, Double)], groupPrefix: String,
                     groupBoost: Double, maxExpansions: Int,
                     mustNot: Seq[String], k: Int): String = {
    val notClause =
      if (mustNot.isEmpty) ""
      else {
        val vals = mustNot.distinct.map(t => s"'$t'").mkString(", ")
        s"\n  AND p.doc_id NOT IN (SELECT doc_id FROM post WHERE term IN ($vals))"
      }
    val grpClause =
      "\n  AND p.doc_id IN (SELECT doc_id FROM post WHERE term IN (SELECT term FROM grp))"
    // a group-only query has no should VALUES row — `VALUES` with an
    // empty list is a parse error, so the branch drops entirely
    val shouldKept = should.filterNot(t => mustNot.contains(t._1))
    val shouldSel =
      if (shouldKept.isEmpty) ""
      else s"SELECT * FROM (VALUES ${termValues(shouldKept)}) v(term, boost)\n  UNION ALL "
    withPrelude(
      s"""     , grp(term) AS (
         |  SELECT term FROM dict WHERE term LIKE '$groupPrefix%'
         |  ORDER BY df DESC, term ASC LIMIT $maxExpansions),
         |q(term, boost) AS (
         |  ${shouldSel}SELECT term, CAST($groupBoost AS DOUBLE) FROM grp),
         |${bm25Body(None, grpClause + notClause)}
         |${topKSelect(k)}""".stripMargin)
  }

  /** PrefixQuery oracle: top-terms scoring-Boolean rewrite from the
    * dictionary (df DESC, term ASC, capped), boost 1, then plain BM25.
    * Terms contain only [a-z0-9:_] minus '_', so LIKE needs no escaping.
    */
  def prefixSql(prefix: String, maxExpansions: Int, k: Int): String =
    withPrelude(
      s"""     , q(term, boost) AS (
         |  SELECT term, 1.0::DOUBLE AS boost FROM dict
         |  WHERE term LIKE '$prefix%'
         |  ORDER BY df DESC, term ASC LIMIT $maxExpansions),
         |${bm25Body(None)}
         |${topKSelect(k)}""".stripMargin)

  /** TermRangeQuery oracle: same capped (df DESC, term ASC) top-terms
    * rewrite as [[prefixSql]], match via binary-collation bound
    * comparisons (the ASCII term alphabet makes DuckDB's and Spark's
    * string orders identical) — mirrors Engine.searchRange. `None` bound
    * = open (`*`).
    */
  def rangeSql(lo: Option[String], hi: Option[String], incLo: Boolean,
               incHi: Boolean, maxExpansions: Int, k: Int): String = {
    val conds = lo.map(l => s"term ${if (incLo) ">=" else ">"} '$l'").toSeq ++
      hi.map(h => s"term ${if (incHi) "<=" else "<"} '$h'").toSeq
    val where = if (conds.isEmpty) "TRUE" else conds.mkString(" AND ")
    withPrelude(
      s"""     , q(term, boost) AS (
         |  SELECT term, 1.0::DOUBLE AS boost FROM dict
         |  WHERE $where
         |  ORDER BY df DESC, term ASC LIMIT $maxExpansions),
         |${bm25Body(None)}
         |${topKSelect(k)}""".stripMargin)
  }

  /** WildcardQuery oracle: same capped (df DESC, term ASC) top-terms
    * rewrite as [[prefixSql]], match via LIKE on the translated pattern
    * (`*`→`%`, `?`→`_`, literal metachars backslash-escaped —
    * Engine.wildcardToLike; ESCAPE '\' matches Spark's default LIKE
    * escape so both engines read the escapes identically).
    */
  def wildcardSql(pattern: String, maxExpansions: Int, k: Int): String =
    withPrelude(
      s"""     , q(term, boost) AS (
         |  SELECT term, 1.0::DOUBLE AS boost FROM dict
         |  WHERE term LIKE '${graft.query.Engine.wildcardToLike(pattern)}' ESCAPE '\\'
         |  ORDER BY df DESC, term ASC LIMIT $maxExpansions),
         |${bm25Body(None)}
         |${topKSelect(k)}""".stripMargin)

  /** FuzzyQuery oracle: expansion within `maxEdits` Levenshtein distance,
    * boost 1/(1+dist) (exact integer-ratio doubles in both engines),
    * (dist ASC, df DESC, term ASC) capped order — mirrors
    * Engine.searchFuzzy. DuckDB's levenshtein == Spark's levenshtein
    * (unit-cost edits; parity already pinned by the spellcheck gate).
    */
  def fuzzySql(term: String, maxEdits: Int, maxExpansions: Int, k: Int): String =
    withPrelude(
      s"""     , q(term, boost) AS (
         |  SELECT term, 1.0::DOUBLE / (1 + levenshtein(term, '$term')) AS boost
         |  FROM dict WHERE levenshtein(term, '$term') <= $maxEdits
         |  ORDER BY levenshtein(term, '$term') ASC, df DESC, term ASC
         |  LIMIT $maxExpansions),
         |${bm25Body(None)}
         |${topKSelect(k)}""".stripMargin)

  /** Lucene PhraseQuery oracle: phrase frequency counted positionally over
    * the token arrays (list lambda — no positional index needed in SQL),
    * weight = Σ idf over phrase positions (duplicates counted), tf = pf,
    * same tfNorm/quantization/tie order as bm25Body. A phrase word missing
    * from the dictionary empties the result (n_terms < n_q guard), exactly
    * as Engine.searchPhrase returns empty on a df=0 word.
    */
  def phraseSql(phrase: String, k: Int, slop: Int = 0): String =
    withPrelude(
      s"""     , ${phraseCtes(phrase, 1.0, "", slop)},
         |ranked AS (
         |  SELECT doc_id,
         |         CAST(round(score * 1000000.0) AS BIGINT) AS score_q,
         |         row_number() OVER (
         |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doc_id ASC) AS rank
         |  FROM pscored)
         |SELECT rank, doc_id, score_q FROM ranked WHERE rank <= $k ORDER BY rank""".stripMargin)

  /** The phrase-scoring CTE chain (pw/idfs/pf/pscored, suffixed with `tag`
    * so several phrases can coexist in one query): ends with
    * pscored$tag(doc_id, score).
    */
  def phraseCtes(phrase: String, boost: Double, tag: String,
                 slop: Int = 0): String = {
    val toks = graft.analyze.Tokenizer.tokenizeScala(phrase)
    require(toks.length >= 2, "phraseCtes mirrors the multi-token form")
    val kTok = toks.length
    // slop 0: exact per-anchor conjunction; slop > 0: the independent-
    // window sloppy rule of Engine.phraseMatches — word j anywhere in
    // [i+j-slop, i+j+slop] (list bounds clamp; anchors span every position
    // of the first word)
    val conds =
      if (slop == 0) toks.zipWithIndex
        .map { case (w, j) => s"ts[i + $j] = '$w'" }.mkString(" AND ")
      else (s"ts[i] = '${toks.head}'" +: toks.toSeq.zipWithIndex.tail.map {
        case (w, j) =>
          s"len(list_filter(generate_series(greatest(1, i + ${j - slop}), " +
            s"least(len(ts), i + ${j + slop})), q -> ts[q] = '$w')) > 0"
      }).mkString(" AND ")
    val (guardLen, anchorHi) =
      if (slop == 0) (kTok, s"len(ts) - ${kTok - 1}") else (1, "len(ts)")
    val pwVals = toks.map(t => s"('w:$t')").mkString(", ")
    s"""pw$tag(term) AS (SELECT * FROM (VALUES $pwVals) v(term)),
       |idfs$tag AS (
       |  SELECT sum(ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5)))::DOUBLE AS idf_sum,
       |         count(*)::BIGINT AS n_terms,
       |         (SELECT count(*) FROM pw$tag)::BIGINT AS n_q
       |  FROM pw$tag JOIN dict f ON f.term = pw$tag.term CROSS JOIN stats s),
       |pf$tag AS (
       |  SELECT t.doc_id,
       |         (CASE WHEN len(ts) >= $guardLen
       |               THEN len(list_filter(generate_series(1, $anchorHi), i -> $conds))
       |               ELSE 0 END)::BIGINT AS pf
       |  FROM toks t),
       |pscored$tag AS (
       |  SELECT p.doc_id,
       |         ($boost::DOUBLE) * i.idf_sum
       |           * (p.pf * 2.2 / (p.pf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))) AS score
       |  FROM pf$tag p JOIN dl d USING (doc_id) CROSS JOIN stats s CROSS JOIN idfs$tag i
       |  WHERE p.pf > 0 AND i.n_terms = i.n_q)""".stripMargin
  }

  /** Parsed mixed-query oracle (Engine.searchParsed composition): one MUST
    * phrase + SHOULD terms + a SHOULD prefix rewrite + a SHOULD fuzzy
    * rewrite + MUST_NOT terms. score = Σ term-clause BM25 + phrase score;
    * the MUST phrase intersects, MUST_NOT excludes. SHOULD terms that are
    * also prohibited are dropped from scoring (they cannot contribute), as
    * the engine does.
    */
  def parsedMixedSql(mustPhrase: String, shouldTerms: Seq[(String, Double)],
      prefix: String, prefixBoost: Double,
      fuzzyTerm: String, fuzzyEdits: Int, fuzzyBoost: Double,
      maxExpansions: Int, mustNot: Seq[String], k: Int,
      mustTerms: Seq[(String, Double)] = Nil): String = {
    val notVals = mustNot.map(t => s"'$t'").mkString(", ")
    // required terms score like SHOULD terms (Lucene: a MUST clause both
    // filters and scores) and each adds a membership conjunct below
    val terms = (shouldTerms.filterNot(t => mustNot.contains(t._1))) ++ mustTerms
    val mustConds = mustTerms.map { case (t, _) =>
      s"\n    AND doc_id IN (SELECT doc_id FROM post WHERE term = '$t')"
    }.mkString
    withPrelude(
      s"""     , qt(term, boost) AS (SELECT * FROM (VALUES ${termValues(terms)}) v(term, boost)),
         |qp(term, boost) AS (
         |  SELECT term, boost FROM (
         |    SELECT term, $prefixBoost::DOUBLE AS boost FROM dict
         |    WHERE term LIKE '$prefix%'
         |    ORDER BY df DESC, term ASC LIMIT $maxExpansions)
         |  WHERE term NOT IN ($notVals)),
         |qf(term, boost) AS (
         |  SELECT term, boost FROM (
         |    SELECT term, $fuzzyBoost::DOUBLE / (1 + levenshtein(term, '$fuzzyTerm')) AS boost,
         |           levenshtein(term, '$fuzzyTerm') AS dist, df
         |    FROM dict WHERE levenshtein(term, '$fuzzyTerm') <= $fuzzyEdits
         |    ORDER BY dist ASC, df DESC, term ASC
         |    LIMIT $maxExpansions)
         |  WHERE term NOT IN ($notVals)),
         |q AS (SELECT * FROM qt UNION ALL SELECT * FROM qp UNION ALL SELECT * FROM qf),
         |tscored AS (
         |  SELECT p.doc_id,
         |         sum(q.boost * ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
         |             * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))) AS score
         |  FROM post p
         |  JOIN q ON p.term = q.term
         |  JOIN dict f ON f.term = p.term
         |  JOIN dl d ON d.doc_id = p.doc_id
         |  CROSS JOIN stats s
         |  GROUP BY 1),
         |${phraseCtes(mustPhrase, 1.0, "1")},
         |contrib AS (
         |  SELECT doc_id, score FROM tscored
         |  UNION ALL SELECT doc_id, score FROM pscored1),
         |summed AS (SELECT doc_id, sum(score) AS score FROM contrib GROUP BY 1),
         |filtered AS (
         |  SELECT * FROM summed
         |  WHERE doc_id IN (SELECT doc_id FROM pscored1)
         |    AND doc_id NOT IN (SELECT doc_id FROM post WHERE term IN ($notVals))$mustConds),
         |ranked AS (
         |  SELECT doc_id,
         |         CAST(round(score * 1000000.0) AS BIGINT) AS score_q,
         |         row_number() OVER (
         |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doc_id ASC) AS rank
         |  FROM filtered)
         |SELECT rank, doc_id, score_q FROM ranked WHERE rank <= $k ORDER BY rank""".stripMargin)
  }

  /** Top-k where the query terms first pass the pruning rule. */
  def bm25TopKPruned(terms: Seq[(String, Double)], budget: Int, k: Int): String =
    withPrelude(
      s"""     , ${pruneCtes(terms)},
         |q AS (SELECT term, boost FROM base WHERE kept_rank <= $budget),
         |${bm25Body(None)}
         |${topKSelect(k)}""".stripMargin)

  /** The extract verb: tokenize a literal, df-asc list + kept budget.
    * `budget` precomputed in Scala (= max(3, floor(nDistinctTerms·acc))).
    */
  def extractSql(content: String, budget: Int): String = {
    val lit = content.replace("'", "''")
    withPrelude(
      s"""     , qtoks AS (
         |  SELECT list_filter(regexp_split_to_array(lower('$lit'), '[^a-z0-9]+'), x -> x <> '') AS ts),
         |qterms AS (
         |  SELECT DISTINCT term FROM (
         |    SELECT 'w:' || unnest(ts) AS term FROM qtoks
         |    UNION ALL
         |    SELECT 's:' || substr(md5(ts[i] || ' ' || ts[i + 1]), 1, 3)
         |    FROM qtoks, unnest(generate_series(1, len(ts) - 1)) AS g(i)) u),
         |wdf AS (
         |  SELECT q.term, coalesce(f.df, 0)::BIGINT AS df
         |  FROM qterms q LEFT JOIN dict f ON f.term = q.term),
         |sorted AS (
         |  SELECT *, row_number() OVER (ORDER BY df ASC, term ASC) AS list_rank,
         |         count(CASE WHEN df > 0 THEN 1 END) OVER () AS nz
         |  FROM wdf),
         |base AS (
         |  SELECT term, row_number() OVER (ORDER BY list_rank) AS kept_rank
         |  FROM sorted WHERE (nz >= 3 AND df > 0) OR (nz < 3 AND list_rank <= 3))
         |SELECT s.term, s.df, s.list_rank,
         |       CASE WHEN b.kept_rank IS NOT NULL AND b.kept_rank <= $budget
         |            THEN 1 ELSE 0 END::BIGINT AS kept
         |FROM sorted s LEFT JOIN base b ON b.term = s.term
         |ORDER BY s.list_rank""".stripMargin)
  }

  /** Batched multi-query BM25 top-k (partition the ranking by query_id). */
  def bm25Multi(queries: Seq[(Long, Seq[(String, Double)])], k: Int): String = {
    val values = queries.flatMap { case (qid, ts) =>
      ts.map { case (t, b) => s"($qid, '$t', $b::DOUBLE)" }
    }.mkString(", ")
    withPrelude(
      s"""     , q(query_id, term, boost) AS (
         |  SELECT * FROM (VALUES $values) v(query_id, term, boost)),
         |scored AS (
         |  SELECT q.query_id, p.doc_id,
         |         sum(q.boost * ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5))
         |             * p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / s.avgdl))) AS score
         |  FROM post p
         |  JOIN q ON p.term = q.term
         |  JOIN dict f ON f.term = p.term
         |  JOIN dl d ON d.doc_id = p.doc_id
         |  CROSS JOIN stats s
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT query_id, doc_id,
         |         CAST(round(score * 1000000.0) AS BIGINT) AS score_q,
         |         row_number() OVER (PARTITION BY query_id
         |           ORDER BY CAST(round(score * 1000000.0) AS BIGINT) DESC, doc_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, rank, doc_id, score_q FROM ranked WHERE rank <= $k
         |ORDER BY query_id, rank""".stripMargin)
  }

  /** More-like-this: query = distinct terms of `docId`, boost 1. */
  def bm25Mlt(docId: Long, k: Int): String =
    withPrelude(
      s"""     , ${qFromDoc(docId)},
         |${bm25Body(None)}
         |${topKSelect(k)}""".stripMargin)
}
