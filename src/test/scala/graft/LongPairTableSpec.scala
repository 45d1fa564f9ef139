package graft

import scala.collection.mutable
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.ml.Dedup
import graft.ml.Dedup.{LongPairChains, LongPairTable}

/** Property tests for the (h1, h2) table behind span dedup and the
  * contamination screen, against `mutable.HashMap` as the reference.
  */
class LongPairTableSpec extends SparkSpec {
  import spark.implicits._

  // (1, 0) and (0, 31) share a * 31 + b, so they land on the same slot
  private val colliding = Seq((1L, 0L), (0L, 31L), (2L, -31L), (0L, 0L))

  /** Keys that stress probing: exact hash collisions (a * 31 + b equal),
    * tiny values, the all-zero key, extremes, and random md5-like halves.
    */
  private val genKey: Gen[(Long, Long)] = Gen.oneOf(
    Gen.oneOf(colliding),
    Gen.chooseNum(-40L, 40L).map(a => (a, -31L * a + 7)),
    Gen.zip(Gen.chooseNum(-3L, 3L), Gen.chooseNum(-3L, 3L)),
    Gen.zip(Gen.oneOf(Long.MinValue, Long.MaxValue, 0L, -1L), Gen.oneOf(Long.MinValue, 0L, 1L)),
    Gen.zip(Gen.long, Gen.long))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  /** Adds `keys` in order, checking each id against a HashMap that hands
    * out ids in first-insertion order; returns both.
    */
  private def filled(keys: Seq[(Long, Long)]): (LongPairTable, mutable.HashMap[(Long, Long), Int]) = {
    val t = new LongPairTable()
    val ref = mutable.HashMap.empty[(Long, Long), Int]
    keys.foreach { case k @ (a, b) =>
      val want = ref.getOrElseUpdate(k, ref.size)
      assert(t.add(a, b) == want, s"add$k")
    }
    (t, ref)
  }

  private def assertSame(t: LongPairTable, ref: mutable.HashMap[(Long, Long), Int],
                         absent: Seq[(Long, Long)]): Unit = {
    assert(t.size == ref.size)
    ref.foreach { case ((a, b), id) =>
      assert(t.find(a, b) == id, s"find($a, $b)")
      assert((t.h1(id), t.h2(id)) == ((a, b)), s"keys of id $id")
    }
    absent.filterNot(ref.contains).foreach { case (a, b) =>
      assert(t.find(a, b) == -1, s"absent ($a, $b) found")
    }
  }

  test("table == HashMap: ids, find and keys, with colliding and all-zero keys (property)") {
    val gen = Gen.chooseNum(0, 400).flatMap(n => Gen.listOfN(n, genKey))
    for ((keys, i) <- samples(gen, 150).zipWithIndex) {
      val (t, ref) = filled(keys ++ colliding.take(i % 5))
      assertSame(t, ref, samples(genKey, 50) ++ colliding)
    }
  }

  test("table grows from the minimum capacity past 2^16 entries") {
    val rnd = new scala.util.Random(7)
    // one exact-collision family (every key hashes alike) plus random keys
    val family = (0 until 2000).map(a => (a.toLong, -31L * a))
    val keys = family ++ Seq((0L, 0L)) ++
      Seq.fill(70000)((rnd.nextLong(), rnd.nextLong())) ++ family.reverse
    val (t, ref) = filled(keys)
    assert(ref.size > (1 << 16))
    assertSame(t, ref, Seq.fill(1000)((rnd.nextLong(), rnd.nextLong())) ++
      (2000 until 2100).map(a => (a.toLong, -31L * a)))
  }

  test("presized table == HashMap and survives a Java-serialization round trip") {
    for (keys <- samples(Gen.listOf(genKey), 40)) {
      val distinct = keys.distinct
      val t0 = new LongPairTable(distinct.length)
      distinct.foreach { case (a, b) => t0.add(a, b) }
      val bytes = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bytes)
      oos.writeObject(t0)
      oos.close()
      val t = new java.io.ObjectInputStream(new java.io.ByteArrayInputStream(bytes.toByteArray))
        .readObject().asInstanceOf[LongPairTable]
      val ref = mutable.HashMap.from(distinct.zipWithIndex)
      assertSame(t, ref, samples(genKey, 30))
      // the copy keeps growing past its presized capacity
      (1 to 100).foreach(i => assert(t.add(i.toLong << 40, i) == distinct.length + i - 1))
    }
  }

  test("chains == HashMap multimap: each key's values as a multiset (property)") {
    val genRow = Gen.zip(Gen.chooseNum(-5L, 30L), genKey)
    for (rows <- samples(Gen.listOf(genRow), 80)) {
      val c = LongPairChains.build(rows.iterator.map { case (v, (a, b)) => (v, a, b) }, rows.length)
      val ref = rows.groupMap(_._2)(_._1)
      def valuesOf(a: Long, b: Long): Seq[Long] = {
        val out = Seq.newBuilder[Long]
        val id = c.keys.find(a, b)
        var v = if (id < 0) 0 else c.head(id)
        while (v != 0) { out += c.values(v - 1); v = c.next(v - 1) }
        out.result()
      }
      assert(c.keys.size == ref.size)
      ref.foreach { case ((a, b), vs) =>
        assert(valuesOf(a, b).sorted == vs.sorted, s"values of ($a, $b)")
      }
      samples(genKey, 20).filterNot(ref.contains).foreach { case (a, b) =>
        assert(valuesOf(a, b).isEmpty)
      }
    }
  }

  test("count pass keeps exactly 2 <= n <= maxOcc; counts past maxOcc saturate") {
    val maxOcc = 3
    // occurrence counts around the cap, on colliding and zero keys too
    val occ = Seq((0L, 0L) -> 2, (1L, 0L) -> 3, (0L, 31L) -> 4, (5L, 5L) -> 1,
      (7L, -1L) -> 5000, (Long.MinValue, Long.MaxValue) -> 2, (9L, 9L) -> 64)
    val rows = occ.flatMap { case (k, n) => Seq.fill(n)(k) }
    val rnd = new scala.util.Random(3)
    val wins = rnd.shuffle(rows).toDF("h1", "h2")
    val got = Dedup.spanKeepCounts(wins, maxOcc).as[(Long, Long)].collect().sorted.toSeq
    val want = wins.groupBy($"h1", $"h2").count()
      .where($"count".between(2, maxOcc)).select($"h1", $"h2")
      .as[(Long, Long)].collect().sorted.toSeq
    assert(want == occ.filter { case (_, n) => n >= 2 && n <= maxOcc }.map(_._1).sorted)
    assert(got == want)
  }
}
