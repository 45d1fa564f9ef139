package graft

import java.nio.charset.StandardCharsets.US_ASCII
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.analyze.{TokenScanner, Tokenizer}

/** The one fast tokenizer core against the reference split
  * ([[Tokenizer.tokenizeScala]]), through both of its adapters.
  */
class TokenScannerSpec extends AnyFunSuite {

  private def tokensOf(c: TokenScanner): Seq[String] =
    (0 until c.nToks).map(i => new String(c.bytes, c.start(i), c.length(i), US_ASCII))

  /** Chars where lowercasing, splitting or UTF-8 width is tricky: U+0130
    * lowers to "i" + a combining dot (two chars), U+212A (Kelvin) to an
    * ASCII "k", U+0131 stays non-ASCII, a surrogate pair is 4 UTF-8 bytes.
    */
  private val genPiece: Gen[String] = Gen.frequency(
    5 -> Gen.alphaNumStr.map(_.take(12)),
    3 -> Gen.oneOf(" ", "  ", "\t", "\n", "-", "_", ".", "::", "(", "0x1F"),
    2 -> Gen.listOf(Gen.numChar).map(_.mkString.take(6)),
    2 -> Gen.oneOf("é", "ß", "Ä", "ÿ", " ", "straße", "Ünïcode", "naïve"),
    2 -> Gen.oneOf("\u0130", "aİb", "İstanbul", "\u0131", "\u212A", "\uD83D\uDE00",
      "x\uD83D\uDE00y"))

  private val genContent: Gen[String] =
    Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, genPiece)).map(_.mkString)

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("both adapters' tokens == tokenizeScala (property: ASCII, Latin-1, U+0130, surrogates)") {
    // one core for every sample: buffers are reused across rows, long and
    // short, ASCII and fallback, in both directions
    val core = new TokenScanner
    val wide = (0 until 3000).map(i => s"Tok$i").mkString(" ") // > buffer, > 256 tokens
    val edge = Seq("", " ", "---", "aİb c", "\u0130", "A", wide, wide + " é", "a" * 5000)
    for (s <- edge ++ samples(genContent, 600)) {
      val want = Tokenizer.tokenizeScala(s).toSeq
      core.tokenize(s)
      assert(tokensOf(core) == want, s"String adapter on [$s]")
      core.tokenize(UTF8String.fromString(s))
      assert(tokensOf(core) == want, s"UTF8String adapter on [$s]")
    }
    core.tokenize(null: String)
    assert(core.nToks == 0)
  }

  test("tokenCountScala == tokenizeScala length on edge strings (U+0130 splits a token)") {
    val edge = Seq("aİb c", "aİb", "\u0130", "aİ", "İb", "\u212A", "x\u212Ay", "straße",
      "Ünïcode İstanbul", "", "  \n\t", "0 00 000", null)
    for (s <- edge ++ samples(genContent, 300))
      assert(Tokenizer.tokenCountScala(s) == Tokenizer.tokenizeScala(s).length, s"[$s]")
    assert(Tokenizer.tokenCountScala("aİb c") == 3) // "ai", "b", "c"
  }

  test("hashWindowTo == md5 of the space-joined window, on fallback rows too") {
    val core = new TokenScanner
    for (s <- Seq("Hash JOIN over sort-merge", "aİb c straße x", "one two")) {
      val toks = Tokenizer.tokenizeScala(s)
      core.tokenize(s)
      for (w <- 2 to toks.length; i <- 0 to toks.length - w) {
        core.hashWindowTo(i, w)
        assert(f"${core.lastH1}%016x${core.lastH2}%016x" ==
          Tokenizer.md5Hex(toks.slice(i, i + w).mkString(" ")), s"[$s] window $i+$w")
      }
    }
  }
}
