package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.analyze.Tokenizer
import graft.index.IndexBuild
import graft.ml.TextStats
import graft.query.{Bm25, Scored}

/** Built-in-composed specification twins: the compositions each native
  * expression replaced, kept only to pin the expression equal to them
  * (MlSpec, FunctionsSpec), and the stored-field phrase scorer the
  * positional phrase route is pinned equal to (BoolPhraseSpec). None is
  * on a query or build path.
  */
object SpecTwins {

  /** Twin of [[TextStats.redactPii]]: the same counts and redaction as
    * independent regexp_count / regexp_replace passes, the shape the
    * DuckDB oracle mirrors.
    */
  def redactPiiBuiltins(corpus: DataFrame): DataFrame = {
    val lc = lower(col("content"))
    val red = regexp_replace(
      regexp_replace(lc, TextStats.EmailRe, "<EMAIL>"), TextStats.Ipv4Re, "<IP>")
    corpus.select(
      col("doc_id"),
      regexp_count(lc, lit(TextStats.EmailRe)).cast("long").as("n_emails"),
      regexp_count(regexp_replace(lc, TextStats.EmailRe, "<EMAIL>"), lit(TextStats.Ipv4Re))
        .cast("long").as("n_ips"),
      sha2(red, 256).as("redacted_sha"))
  }

  /** Twin of [[TextStats.fingerprint]]: an interpreted HOF lambda with a
    * per-window digest allocation (~10-100x slower, see the
    * GraftFingerprint scaladoc).
    */
  def fingerprintHof(corpus: DataFrame): DataFrame =
    corpus.select(
      col("doc_id"),
      when(length(col("content")) >= 8,
        array_min(transform(sequence(lit(1), length(col("content")) - 7),
          i => md5(col("content").substr(i, lit(8))))))
        .otherwise(lit(null).cast("string")).as("fp"))

  /** Twin of [[graft.ml.Dedup.shingleSetW]] (pinned equal in
    * FunctionsSpec): every per-position element_at/concat runs as an
    * interpreted higher-order lambda — 4x slower end-to-end on the 13-gram
    * screen at the bench corpus. bindOnce keeps the tokenization at one
    * eval per row even here (the lambda body reads the token array w times
    * per shingle position).
    */
  def shingleSetWHof(content: Column, w: Int): Column = {
    require(w >= 2, "shingle width must be >= 2")
    array_distinct(Tokenizer.bindOnce(Tokenizer.tokens(content)) { toks =>
      when(size(toks) >= w,
        transform(sequence(lit(1), size(toks) - (w - 1)),
          i => concat_ws(" ", (0 until w).map(k => element_at(toks, i + lit(k))): _*)))
        .otherwise(lit(Array.empty[String]))
    })
  }

  /** Twin of [[TextStats.gopherRules]] (pinned equal in MlSpec over the
    * structure-injected corpus): the same tallies as ~10 independent
    * regexp_count / replace / rlike passes — the shape the DuckDB oracle
    * mirrors.
    */
  def gopherRulesBuiltins(corpus: DataFrame): DataFrame = {
    import TextStats.{NonWsClass, WsClass}
    val c = col("content")
    val nRequired = TextStats.RequiredWords
      .map(w => when(c.rlike(s"(^|$WsClass)" + w + s"($WsClass|\\z)"),
        lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    TextStats.gopherSignals(corpus.select(col("doc_id"), struct(
      regexp_count(c, lit(NonWsClass + "+")).cast("long").as("n_words"),
      length(regexp_replace(c, WsClass, "")).cast("long").as("non_space"),
      (length(c) - length(replace(c, lit("\n"), lit(""))) + 1).cast("long").as("n_lines"),
      (length(c) - length(replace(c, lit("#"), lit(""))) +
        regexp_count(c, lit("\\.\\.\\."))).cast("long").as("n_symbols"),
      regexp_count(c, lit("(^|\\n)- ")).cast("long").as("n_bullet"),
      regexp_count(c, lit("\\.\\.\\.(\\n|\\z)")).cast("long").as("n_ell_end"),
      regexp_count(c, lit(s"$NonWsClass*[a-z]$NonWsClass*")).cast("long").as("n_alpha"),
      nRequired.as("n_required")).as("g")))
  }

  /** Stored-field phrase verify: struct(pf, dl) with pf = the phrase
    * count over the analyzer tokens (exact sliding window at slop 0, the
    * independent-window sloppy rule of Engine.phraseMatches above it), dl
    * = clamped 2n−1. bindOnce keeps the tokenization at one eval — the
    * occurrence-count lambda reads the token array k times per position,
    * and a pushed-down pf > 0 predicate re-inlines the projection into the
    * filter (measured ~30x without it).
    */
  def phrasePfDlHof(content: Column, toks: Array[String], maxDl: Int, slop: Int = 0): Column = {
    val k = toks.length
    Tokenizer.bindOnce(Tokenizer.tokens(content)) { ts =>
      // slop 0: per-anchor k-way consecutive conjunction; slop > 0: per
      // word an EXISTS over its [i+j-slop, i+j+slop] window (the
      // independent-window sloppy rule of Engine.phraseMatches) — the
      // anchor sequence then spans every position of the first word, not
      // just those with k-1 following slots
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

  /** Every doc of `corpus` holding the phrase `toks` (analyzer tokens),
    * scored as the positional route scores it: `boost` · `idfSum` · tfNorm
    * of the phrase frequency, dl from the content ([[phrasePfDlHof]]).
    */
  def phraseScoresStored(corpus: DataFrame, toks: Array[String], boost: Double, idfSum: Double,
      avgdl: Double, slop: Int = 0): Dataset[Scored] =
    corpus
      .select(col("doc_id").as("docId"), phrasePfDlHof(col("content"), toks, IndexBuild.MaxDl, slop).as("pd"))
      .select(col("docId"), col("pd.pf").as("pf"), col("pd.dl").cast("double").as("dl"))
      .where(col("pf") > 0)
      .select(col("docId"),
        (lit(boost * idfSum) * Bm25.tfNormCol(col("pf").cast("double"), col("dl"), lit(avgdl))).as("score"))
      .as(Encoders.product[Scored])
}
