package graft

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.analyze.TokenTable

/** Property tests for the byte-range token table behind the build's word
  * terms and the unigram vocabulary count, against `mutable.HashMap`.
  */
class TokenTableSpec extends AnyFunSuite {

  /** Keys of one length built from "Aa" and "BB" blocks share the
    * table's 31-polynomial hash exactly, so they all probe one cluster.
    */
  private def colliding(blocks: Int): Seq[String] =
    (0 until (1 << blocks)).map(m =>
      (0 until blocks).map(b => if ((m >> b & 1) == 1) "BB" else "Aa").mkString)

  private val genKey: Gen[String] = Gen.oneOf(
    Gen.oneOf(colliding(3)),
    Gen.oneOf(colliding(5)),
    Gen.const(""), // the empty range is a key like any other
    Gen.chooseNum(0, 50).map(i => s"t$i"),
    Gen.alphaNumStr.map(_.take(20)),
    Gen.oneOf("é", "ß", "\u0130", "\uD83D\uDE00"))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** Adds `keys` in order, each from a padded source array so the offset
    * matters, checking each id against a HashMap that hands out ids in
    * first-insertion order; returns the reference.
    */
  private def fill(t: TokenTable, keys: Seq[String]): mutable.HashMap[String, Int] = {
    val ref = mutable.HashMap.empty[String, Int]
    keys.foreach { k =>
      val b = k.getBytes(UTF_8)
      val src = Array.fill[Byte](3)('#') ++ b ++ Array.fill[Byte](2)('#')
      val want = ref.getOrElseUpdate(k, ref.size)
      assert(t.add(src, 3, b.length) == want, s"add [$k]")
    }
    ref
  }

  private def assertSame(t: TokenTable, ref: mutable.HashMap[String, Int]): Unit = {
    assert(t.size == ref.size)
    ref.foreach { case (k, id) =>
      assert(new String(t.keyBytes, t.offset(id), t.length(id), UTF_8) == k, s"key of id $id")
      val b = k.getBytes(UTF_8)
      assert(t.add(b, 0, b.length) == id, s"re-add [$k]")
    }
    assert(t.size == ref.size, "re-adding a present key added it")
  }

  test("table == HashMap: ids and keys, with colliding hashes (property)") {
    val gen = Gen.chooseNum(0, 400).flatMap(n => Gen.listOfN(n, genKey))
    for (keys <- samples(gen, 150)) {
      val t = new TokenTable
      assertSame(t, fill(t, keys))
    }
  }

  test("table grows from the minimum capacity past 2^16 entries") {
    val rnd = new scala.util.Random(7)
    val family = colliding(11) // 2048 keys on one hash
    val keys = family ++ Seq("") ++
      Seq.tabulate(70000)(i => s"k$i" + rnd.alphanumeric.take(rnd.nextInt(12)).mkString) ++
      family.reverse
    val t = new TokenTable
    val ref = fill(t, keys)
    assert(ref.size > (1 << 16))
    assertSame(t, ref)
  }

  test("clear() then reuse hands out the same ids; a wide fill leaves nothing behind") {
    val t = new TokenTable
    val small = samples(Gen.listOfN(60, genKey), 1).head
    val first = fill(t, small)
    // one wide doc grows the table, then narrow docs reuse it
    t.clear()
    assert(t.size == 0)
    fill(t, (0 until 20000).map(i => s"w$i") ++ colliding(6))
    for (_ <- 0 until 3) {
      t.clear()
      val again = fill(t, small)
      assert(again == first)
      assertSame(t, again)
    }
    t.clear()
    assertSame(t, fill(t, colliding(4)))
  }
}
