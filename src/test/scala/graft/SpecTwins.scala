package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.analyze.Tokenizer
import graft.ml.TextStats

/** Built-in-composed specification twins of the native expressions: the
  * compositions each native expression replaced, kept only to pin the
  * expression equal to them (MlSpec, FunctionsSpec). None is on a query
  * or build path.
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

  /** Twin of the native [[graft.functions.GraftPhrasePfDl]] phrase
    * verify: struct(pf, dl) with pf = exact sliding-window phrase count
    * over the analyzer tokens, dl = clamped 2n−1. bindOnce keeps the
    * tokenization at one eval even here — the occurrence-count lambda
    * reads the token array k times per position, and a pushed-down
    * pf > 0 predicate re-inlines the projection into the filter
    * (measured ~30x without it).
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
}
