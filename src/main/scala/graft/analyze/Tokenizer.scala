package graft.analyze

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}

/** Code-aware tokenization + hash-term shingling.
  *
  * The reference turns content into a bounded term vocabulary before
  * indexing (hashing-as-terms: image feature -> ~100 12-bit hex hash terms,
  * `/root/reference/src/main/java/net/semanticmetadata/lire/solr/indexing/ParallelSolrIndexer.java:242-249`,
  * hash space 4096 = 12 bits from BitSampling defaults). Our analog for
  * source text:
  *
  *   - word terms:    lowercase alnum runs, prefixed "w:"   (the `*_ws` fields)
  *   - shingle terms: adjacent-token bigrams hashed to a 12-bit hex value
  *                    via md5 prefix (3 hex digits = 4096 values), prefixed
  *                    "s:" (the `*_ha` hash-term fields)
  *
  * Everything here is expressed twice, and MUST stay in lock-step:
  *   1. as Spark built-in column expressions (codegen'd, no UDFs);
  *   2. as plain Scala ([[tokenizeScala]] / [[termsScala]]) — the
  *      reference the tests compare against;
  * and a third time in SQL by [[graft.sql.Oracle]] — the DuckDB oracle.
  * The hot paths (build, span dedup, unigram LM, the native token
  * expressions) run the one fast copy, [[TokenScanner]]: a byte-level
  * scan whose tokens equal [[tokenizeScala]]'s on every input.
  *
  * The index/query symmetry of the reference (same hash fn at index and
  * query time, `ParallelSolrIndexer.java:563` vs `LireRequestHandler.java:226`)
  * holds here because queries are authored directly in term space.
  */
object Tokenizer {

  /** Split regex — identical semantics in Java regex (Spark `split`) and
    * RE2 (DuckDB `regexp_split_to_array`): any run of chars outside
    * [a-z0-9] separates tokens.
    */
  val SplitRe = "[^a-z0-9]+"

  private val emptyStrArray = lit(Array.empty[String])

  /** content -> array of lowercase tokens (empties dropped). */
  def tokens(content: Column): Column =
    filter(split(lower(content), SplitRe), t => length(t) > 0)

  /** Evaluates `arr` ONCE and hands it to `f` as a lambda-bound variable.
    * Catalyst never hoists common subexpressions out of higher-order-
    * function lambda bodies, so an expensive array expression (e.g. a
    * regexp tokenization) referenced via `element_at(toks, i)` inside a
    * `transform`/`filter` lambda re-evaluates the WHOLE tokenization per
    * element — O(positions × tokenize) per row instead of O(tokenize).
    * `element_at(transform(array(arr), f), 1)` turns every reference in
    * `f`'s body into a cheap bound-variable read. Null-transparent: a
    * null `arr` reaches `f` as a null element, exactly as the inlined
    * subtree would.
    */
  def bindOnce(arr: Column)(f: Column => Column): Column =
    element_at(transform(array(arr), f), 1)

  /** tokens -> "w:<tok>" word terms. */
  def wordTerms(toks: Column): Column =
    transform(toks, t => concat(lit("w:"), t))

  /** tokens -> "s:<3-hex>" 12-bit shingle terms over adjacent bigrams. */
  def shingleTerms(toks: Column): Column =
    when(
      size(toks) >= 2,
      transform(
        sequence(lit(1), size(toks) - 1),
        i =>
          concat(
            lit("s:"),
            substring(
              md5(concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))),
              1, 3))))
      .otherwise(when(size(toks) >= 0, emptyStrArray).otherwise(lit(null).cast(ArrayType(StringType))))

  /** content -> all index terms (words ++ shingles), order-preserving. */
  def terms(content: Column): Column = {
    val t = tokens(content)
    concat(wordTerms(t), shingleTerms(t))
  }

  // ---------------------------------------------------------------------
  // Plain-Scala twin (unit tests / brute-force reference scorer).
  // ---------------------------------------------------------------------

  def tokenizeScala(content: String): Array[String] =
    if (content == null) Array.empty
    // Locale.ROOT: locale-sensitive lowercasing (e.g. Turkish 'I' -> 'ı')
    // would diverge from both Spark's lower() and the DuckDB oracle
    else content.toLowerCase(java.util.Locale.ROOT).split(SplitRe).filter(_.nonEmpty)

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexChars = "0123456789abcdef".toCharArray

  def md5Hex(s: String): String =
    md5HexBytes(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  def md5HexBytes(bytes: Array[Byte]): String = {
    val md = md5Local.get()
    md.reset()
    hexOf(md.digest(bytes))
  }

  /** 16 digest bytes -> 32-char lowercase hex. */
  def hexOf(d: Array[Byte]): String = {
    val out = new Array[Char](2 * d.length)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexChars((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  def shingleTerm(a: String, b: String): String =
    "s:" + md5Hex(a + " " + b).substring(0, 3)

  /** Token count, = tokenizeScala(content).length: the [[TokenScanner]]
    * core's count, the one `dl` (= 2·n − 1, words + shingles) every path
    * derives — docmeta, `graft_doclen`, the postings and the brute scorer.
    */
  def tokenCountScala(content: String): Int = {
    val core = new TokenScanner
    core.tokenize(content)
    core.nToks
  }

  /** dl (words + shingles) from a token count: n + max(n-1, 0). */
  def dlOf(nTokens: Int): Int = if (nTokens == 0) 0 else 2 * nTokens - 1

  /** Plain-Scala twin of [[terms]]. */
  def termsScala(content: String): Array[String] = {
    val toks = tokenizeScala(content)
    val words = toks.map("w:" + _)
    val shingles =
      if (toks.length < 2) Array.empty[String]
      else (0 until toks.length - 1).map(i => shingleTerm(toks(i), toks(i + 1))).toArray
    words ++ shingles
  }
}
