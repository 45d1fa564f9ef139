package graft

import org.apache.spark.sql.functions._
import graft.analyze.Tokenizer
import graft.corpus.Corpus
import graft.functions.GraftFunctions

class FunctionsSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs = spark.read.parquet(s"$sfTiny/documents.parquet")
    .select($"doc_id", coalesce($"text", lit("")).as("content")).cache()

  test("GraftTerms expression == built-in composition == Scala twin") {
    val viaExpr = docs.select($"doc_id", GraftFunctions.graft_terms($"content").as("t"))
      .as[(Long, Seq[String])].collect().toMap
    val viaBuiltins = docs.select($"doc_id", Tokenizer.terms($"content").as("t"))
      .as[(Long, Seq[String])].collect().toMap
    val viaScala = docs.as[(Long, String)].collect()
      .map { case (id, c) => id -> Tokenizer.termsScala(c).toSeq }.toMap
    assert(viaExpr == viaBuiltins)
    assert(viaExpr == viaScala)
  }

  test("graft_doclen == terms length; registered SQL functions usable") {
    GraftFunctions.register(spark)
    docs.createOrReplaceTempView("fn_docs")
    val rows = spark.sql(
      """SELECT doc_id, size(graft_terms(content)) AS n, graft_doclen(content) AS dl
        |FROM fn_docs""".stripMargin)
      .as[(Long, Int, Int)].collect()
    rows.foreach { case (id, n, dl) =>
      val expected = math.max(n, 0) // size() of empty array is 0
      assert(dl == expected, s"doc $id: dl=$dl terms=$n")
    }
    // usable in ORDER BY / WHERE like the reference's lirefunc (README.md:171-172)
    val top = spark.sql(
      """SELECT doc_id FROM fn_docs WHERE graft_doclen(content) > 0
        |ORDER BY graft_doclen(content) DESC, doc_id LIMIT 5""".stripMargin).collect()
    assert(top.length == 5)
  }

  test("null content handled (expression is null-intolerant)") {
    val r = Seq((1L, null: String), (2L, "a b")).toDF("doc_id", "content")
      .select(GraftFunctions.graft_terms($"content").as("t"),
        GraftFunctions.graft_doclen($"content").as("dl"))
      .collect()
    assert(r(0).isNullAt(0) && r(0).isNullAt(1))
    assert(r(1).getSeq[String](0) == Seq("w:a", "w:b", Tokenizer.shingleTerm("a", "b")))
  }

  test("withDocIds: dense per partition, deterministic, order-insensitive") {
    val src = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select($"source".as("repo"),
        concat(lit("f"), $"doc_id").as("path"),
        lit("c0").as("commit"), $"lang",
        coalesce($"text", lit("")).as("content"))
    val a = Corpus.withDocIds(src, 7).select($"doc_id", $"repo", $"path").collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getLong(0)).toMap
    val b = Corpus.withDocIds(src.orderBy(rand(99)), 7)
      .select($"doc_id", $"repo", $"path").collect()
      .map(r => (r.getString(1), r.getString(2)) -> r.getLong(0)).toMap
    assert(a == b, "ids must be a pure function of the natural key")
    assert(a.values.toSeq.distinct.size == a.size, "ids unique")
    // monotone within partition, local offsets dense from 0
    val byPid = a.values.groupBy(_ >> 33)
    byPid.foreach { case (_, ids) =>
      val offs = ids.map(_ & ((1L << 33) - 1)).toSeq.sorted
      assert(offs == (0L until offs.size), "offsets dense from 0")
    }
  }

  test("end-to-end from an input_hint-shaped table (no doc_id column)") {
    import graft.index.{IndexBuild, IndexConfig}
    import graft.query.{BruteScorer, Engine, Index}
    val src = spark.read.parquet(s"$sfTiny/documents.parquet")
      .select($"source".as("repo"),
        concat(lit("f"), $"doc_id").as("path"),
        lit("c0").as("commit"), $"lang",
        coalesce($"text", lit("")).as("content"))
    val corpus = Corpus.withDocIds(src, 7).cache()
    val dir = tempDir("graft-hint")
    IndexBuild.build(spark, corpus, dir, IndexConfig(segShift = 6, rangeSegsShift = 2))
    val engine = new Engine(new Index(spark, dir))
    val docsSeq = corpus.select($"doc_id", $"content").as[(Long, String)].collect().toSeq
    val got = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 40)
      .as[(Long, Long, Long)].collect().toSeq
    val exp = BruteScorer.topK(docsSeq, SparkEntry.FlagshipTerms, 40)
    assert(got.map(_._2) == exp.map(_.docId))
    assert(got.map(_._3) == exp.map(_.scoreQ))
  }

  test("GraftFingerprint expression == HOF composition (short/empty/multibyte)") {
    val extra = Seq(
      (9001L, ""), (9002L, "1234567"), (9003L, "12345678"),
      (9004L, "\u03b1\u03b2\u03b3\u03b4\u03b5\u03b6\u03b7\u03b8\u03b9\u03ba"),
      (9005L, "same same same same")).toDF("doc_id", "content")
    val all = docs.unionAll(extra)
    val a = graft.ml.TextStats.fingerprint(all)
      .as[(Long, Option[String])].collect().toMap
    val b = SpecTwins.fingerprintHof(all)
      .as[(Long, Option[String])].collect().toMap
    assert(a == b)
    assert(a(9001L).isEmpty && a(9002L).isEmpty && a(9003L).isDefined)
  }

  test("GraftShingles expression == HOF composition (w=2 and w=13, edge docs)") {
    val extra = Seq(
      (9101L, ""), (9102L, "one"), (9103L, "one two"),
      (9104L, "a b a b a b"), // repeated shingles: distinct keeps first order
      (9105L, "α β αβ three four"),
      (9106L, "exactly thirteen tokens here so the wide shingle fires once " +
        "padpad padpad padpad padpad padpad padpad")).toDF("doc_id", "content")
    val all = docs.unionAll(extra)
    for (w <- Seq(2, 13)) {
      val a = all.select($"doc_id", graft.ml.Dedup.shingleSetW($"content", w).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      val b = all.select($"doc_id", SpecTwins.shingleSetWHof($"content", w).as("sh"))
        .as[(Long, Seq[String])].collect().toMap
      assert(a == b, s"width $w")
      assert(a(9102L).isEmpty && a(9103L).nonEmpty == (w == 2))
    }
  }

  test("GraftTokens == built-in tokens() == tokenizeScala (edge docs)") {
    val extra = Seq(
      (9301L, ""), (9302L, "   "), (9303L, "...leading! and trailing..."),
      (9304L, "MIXED Case 0123 runs"),
      (9305L, "Ünïcode İstanbul straße mixed ascii"),
      (9306L, "tab\tand\nnewline  double  space")).toDF("doc_id", "content")
    val all = docs.unionAll(extra)
    val a = all.select($"doc_id", GraftFunctions.graft_tokens($"content"))
      .as[(Long, Seq[String])].collect().toMap
    val b = all.select($"doc_id", Tokenizer.tokens($"content"))
      .as[(Long, Seq[String])].collect().toMap
    assert(a == b)
    val c = all.select($"doc_id", $"content").as[(Long, String)].collect()
      .map { case (id, s) => id -> Tokenizer.tokenizeScala(s).toSeq }.toMap
    assert(a == c)
    // null -> null, as lower/split compose
    val nulls = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "content")
    assert(nulls.select(GraftFunctions.graft_tokens($"content")).head().isNullAt(0))
  }

  test("GraftTokens results own their bytes: a later eval on the thread leaves them intact") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    def strs(a: Any): Seq[String] = {
      val arr = a.asInstanceOf[ArrayData]
      (0 until arr.numElements()).map(i => arr.getUTF8String(i).toString)
    }
    val first = graft.functions.GraftTokens(Literal("alpha beta")).eval()
    val second = graft.functions.GraftTokens(Literal("gamma")).eval()
    assert(strs(first) == Seq("alpha", "beta"))
    assert(strs(second) == Seq("gamma"))
    // two GraftTokens columns (thread-local TokenScanner) in ONE projection, over a local
    // relation (folded by an interpreted projection that evaluates every
    // column before writing any) and over a cached scan
    val rows = Seq((1L, "Alpha beta", "gamma DELTA eps"), (2L, "x", "y z"),
      (3L, "", "ünï mixed"))
    val local = rows.toDF("id", "a", "b")
    val want = rows.map { case (id, a, b) =>
      id -> ((id, Tokenizer.tokenizeScala(a).toSeq, Tokenizer.tokenizeScala(b).toSeq)) }.toMap
    val key = "spark.sql.codegen.factoryMode"
    for (mode <- Seq("NO_CODEGEN", "CODEGEN_ONLY")) {
      spark.conf.set(key, mode)
      try {
        for (df <- Seq(local, local.repartition(2).cache())) {
          val got = df.select($"id", GraftFunctions.graft_tokens($"a"),
            GraftFunctions.graft_tokens($"b"))
            .as[(Long, Seq[String], Seq[String])].collect()
            .map(r => r._1 -> r).toMap
          assert(got == want, s"factoryMode $mode")
        }
      } finally spark.conf.unset(key)
    }
  }

  test("GraftShingleHashPairs == md5-hex twins (positioned + distinct), edge docs") {
    // the (h1, h2) long pair IS the md5 digest big-endian, so
    // %016x%016x re-hexes it for a direct string compare with the twins
    val extra = Seq(
      (9201L, ""), (9202L, "one two"), (9203L, "a b a b a b a b"),
      // non-ASCII: the expression's fallback must pack tokenizeScala's
      // tokens exactly (İ lowers to i + combining dot -> token "i";
      // straße splits at ß)
      (9204L, "Ünïcode Check İstanbul straße mixed ascii tokens here"),
      (9205L, "UPPER lower 0123 mix3d runs...with!punct and tabs\there"))
      .toDF("doc_id", "content")
    val all = docs.unionAll(extra)
    val hexOfPair = lower(format_string("%016x%016x", $"p.h1", $"p.h2"))
    for (w <- Seq(2, 12)) {
      // positioned: every window in token order
      val a = all.select($"doc_id", posexplode(
          GraftFunctions.graft_shingle_hashes($"content", w)))
        .select($"doc_id", $"pos", $"col").as[(Long, Int, String)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      val b = all.select($"doc_id", posexplode(
          GraftFunctions.graft_shingle_hash_pairs($"content", w, distinct = false)).as(Seq("pos", "p")))
        .select($"doc_id", $"pos", hexOfPair).as[(Long, Int, String)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      assert(a == b, s"positioned width $w")
      // distinct: same set AND same first-occurrence order as shingle+md5
      val c = all.select($"doc_id", posexplode(graft.ml.Dedup.shingleSetW($"content", w)))
        .select($"doc_id", $"pos", md5($"col")).as[(Long, Int, String)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      val d = all.select($"doc_id", posexplode(
          GraftFunctions.graft_shingle_hash_pairs($"content", w, distinct = true)).as(Seq("pos", "p")))
        .select($"doc_id", $"pos", hexOfPair).as[(Long, Int, String)]
        .collect().sortBy(r => (r._1, r._2)).toSeq
      assert(c == d, s"distinct width $w")
    }
    // null content -> null (explode drops the row), as with the twins
    val nulls = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "content")
    assert(nulls.select(explode(
      GraftFunctions.graft_shingle_hash_pairs($"content", 2, distinct = false))).count() == 0)
  }

  test("GraftGrams expression == HOF composition == Engine.fuzzyGrams") {
    import org.apache.spark.sql.functions.{array_distinct, concat, length, lit, sequence, transform}
    // dictionary-shaped terms plus adversarial edges (repeats force the
    // first-occurrence dedupe order; 1-2 char terms hit the short-pad path)
    val terms = Seq("w:license", "w:a", "w:ab", "s:fff", "w:aaaa", "w:abcabc",
      "w:merge", "w:0x9f", "w:xyzzyxyzzy")
    val df = terms.toDF("term")
    val hof = { // the pre-native column composition, kept as the spec twin
      val padded = concat(lit("^"), $"term", lit("$"))
      array_distinct(transform(
        sequence(lit(1), length(padded) - lit(2)),
        i => padded.substr(i, lit(3))))
    }
    val a = df.select($"term", graft.functions.GraftFunctions.graft_grams($"term").as("g"))
      .as[(String, Seq[String])].collect().toMap
    val b = df.select($"term", hof.as("g")).as[(String, Seq[String])].collect().toMap
    assert(a == b)
    terms.foreach { t =>
      assert(a(t) == graft.query.Engine.fuzzyGrams(t), s"fuzzyGrams twin: $t")
    }
    assert(a("w:a") == Seq("^w:", "w:a", ":a$")) // padded trigram shape
  }

  test("graft_postings decodes exactly what Codec encoded") {
    import graft.index.Codec
    val rnd = new scala.util.Random(7)
    val lists = (0 until 20).map { i =>
      var local = 0
      val ps = (0 until rnd.nextInt(400) + 1).map { _ =>
        local += rnd.nextInt(9) + 1
        Codec.Posting(local, rnd.nextInt(30) + 1, rnd.nextInt(500) + 1)
      }.toArray
      (i.toLong, Codec.encode(ps), ps)
    }
    val got = lists.map { case (id, bytes, _) => (id, bytes) }.toDF("id", "postings")
      .select($"id", GraftFunctions.graft_postings($"postings").as("ps"))
      .as[(Long, Seq[(Int, Int, Int)])].collect().toMap
    lists.foreach { case (id, _, ps) =>
      assert(got(id) == ps.map(p => (p.local, p.tf, p.dl)).toSeq, s"list $id")
    }
  }

  test("graft_dot/graft_cosine == HOF composition; SQL sort matches Ann.fullSort") {
    val emb = spark.read.parquet(s"$sfTiny/embeddings.parquet").cache()
    // native expressions vs the aggregate(zip_with(...)) twins, bit-exact
    val both = emb.crossJoin(broadcast(
        emb.where($"vec_id" === 42L).select($"embedding".as("q_emb"))))
      .select($"vec_id",
        graft.ml.Ann.cosine($"q_emb", $"embedding").as("c_native"),
        graft.ml.Ann.cosineHof($"q_emb", $"embedding").as("c_hof"),
        graft.ml.Ann.dot($"q_emb", $"embedding").as("d_native"),
        graft.ml.Ann.dotHof($"q_emb", $"embedding").as("d_hof"))
      .as[(Long, Double, Double, Double, Double)].collect()
    both.foreach { case (id, cn, ch, dn, dh) =>
      assert(cn == ch, s"cosine mismatch vec $id")
      assert(dn == dh, s"dot mismatch vec $id")
    }
    // SQL surface: ORDER BY graft_cosine(...) == Ann.fullSort ranking —
    // the reference's `sort=lirefunc(cl,"...") asc` parity (README.md:171-172)
    GraftFunctions.register(spark)
    emb.createOrReplaceTempView("fn_emb")
    val qLit = emb.where($"vec_id" === 42L).select($"embedding")
      .as[Seq[Float]].head().map(v => s"CAST($v AS FLOAT)").mkString("array(", ", ", ")")
    val viaSql = spark.sql(
      s"""SELECT vec_id FROM fn_emb
         |ORDER BY CAST(round(graft_cosine(embedding, $qLit) * 1e4) AS BIGINT) DESC,
         |         vec_id ASC""".stripMargin)
      .as[Long].collect().toSeq
    val viaFullSort = graft.ml.Ann.fullSort(emb, 42L)
      .orderBy($"rank").select($"vec_id").as[Long].collect().toSeq
    assert(viaSql == viaFullSort)
    // null semantics match the HOF twins: null element or length mismatch -> NULL
    val edge = spark.sql(
      """SELECT graft_dot(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS d1,
        |       graft_cosine(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS c1,
        |       graft_dot(array(1.0D), array(1.0D, 2.0D)) AS d2,
        |       graft_cosine(array(1.0D), array(1.0D, 2.0D)) AS c2,
        |       aggregate(zip_with(array(1.0D), array(1.0D, 2.0D), (x, y) -> x * y),
        |                 0.0D, (a, x) -> a + x) AS hof2""".stripMargin).collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2) && edge.isNullAt(3))
    assert(edge.isNullAt(4), "HOF twin is NULL on length mismatch — natives must match")
  }

  test("graft_l1/graft_l2 == HOF composition; null semantics; SQL-registered") {
    val emb = spark.read.parquet(s"$sfTiny/embeddings.parquet").cache()
    val both = emb.crossJoin(broadcast(
        emb.where($"vec_id" === 42L).select($"embedding".as("q_emb"))))
      .select($"vec_id",
        GraftFunctions.graft_l1($"q_emb", $"embedding").as("l1_native"),
        graft.ml.Ann.l1Hof($"q_emb", $"embedding").as("l1_hof"),
        GraftFunctions.graft_l2($"q_emb", $"embedding").as("l2_native"),
        graft.ml.Ann.l2Hof($"q_emb", $"embedding").as("l2_hof"))
      .as[(Long, Double, Double, Double, Double)].collect()
    assert(both.nonEmpty)
    both.foreach { case (id, a, ah, b, bh) =>
      assert(a == ah, s"l1 mismatch vec $id")
      assert(b == bh, s"l2 mismatch vec $id")
    }
    // identical vectors: exactly 0 (the greatest-clamp keeps sqrt off NaN)
    GraftFunctions.register(spark)
    val edge = spark.sql(
      """SELECT graft_l1(array(1.0D, 2.0D), array(1.0D, 2.0D)) AS z1,
        |       graft_l2(array(1.0D, 2.0D), array(1.0D, 2.0D)) AS z2,
        |       graft_l1(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS n1,
        |       graft_l2(array(1.0D), array(1.0D, 2.0D)) AS n2,
        |       graft_l1(array(3.0D, -1.0D), array(1.0D, 2.0D)) AS v1,
        |       graft_l2(array(4.0D, 0.0D), array(1.0D, 4.0D)) AS v2""".stripMargin)
      .collect().head
    assert(edge.getDouble(0) == 0.0 && edge.getDouble(1) == 0.0)
    assert(edge.isNullAt(2) && edge.isNullAt(3))
    assert(edge.getDouble(4) == 5.0 && edge.getDouble(5) == 5.0)
  }

  test("graft_tanimoto: LIRE decompiled semantics (sentinels, formula, nulls)") {
    GraftFunctions.register(spark)
    // independent reference twin of the decompiled MetricsUtils.tanimoto
    def ref(a: Array[Double], b: Array[Double]): Double = {
      val sa = a.sum; val sb = b.sum
      if (sa == 0.0 && sb == 0.0) 0.0
      else if (sa == 0.0 || sb == 0.0) 100.0
      else if (sa > 0.0 && sb > 0.0) {
        var t1 = 0.0; var t2 = 0.0; var t3 = 0.0
        for (i <- a.indices) {
          val an = a(i) / sa; val bn = b(i) / sb
          t1 += an * bn; t2 += bn * bn; t3 += an * an
        }
        100.0 - 100.0 * (t1 / (t2 + t3 - t1))
      } else 0.0
    }
    val rnd = new scala.util.Random(11)
    val cases = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)), // identical -> 0
      (Array(0.0, 0.0), Array(0.0, 0.0)),           // both zero-sum -> 0
      (Array(0.0, 0.0), Array(1.0, 2.0)),           // one zero-sum -> 100
      (Array(-1.0, 0.5), Array(1.0, 2.0)),          // negative sum -> 0 (LIRE fall-through)
      (Array.fill(16)(rnd.nextDouble()), Array.fill(16)(rnd.nextDouble())))
    val got = cases.toDF("a", "b")
      .select(GraftFunctions.graft_tanimoto($"a", $"b")).as[Double].collect()
    cases.zip(got).foreach { case ((a, b), g) =>
      assert(g == ref(a, b), s"(${a.toSeq}, ${b.toSeq})")
    }
    assert(got(0) == 0.0 && got(1) == 0.0 && got(2) == 100.0 && got(3) == 0.0)
    // null semantics like the other array natives
    val edge = spark.sql(
      """SELECT graft_tanimoto(array(1.0D), array(1.0D, 2.0D)) AS m,
        |       graft_tanimoto(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS n
        |""".stripMargin).collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1))
    // float inputs (the embeddings element type) go through f2d like LIRE
    val emb = spark.read.parquet(s"$sfTiny/embeddings.parquet").limit(50).cache()
    val viaNative = emb.crossJoin(broadcast(
        emb.where($"vec_id" === 42L).select($"embedding".as("q_emb"))))
      .select($"vec_id", GraftFunctions.graft_tanimoto($"q_emb", $"embedding").as("t"))
      .as[(Long, Double)].collect().toMap
    val q = emb.where($"vec_id" === 42L).select($"embedding").as[Seq[Float]].head()
      .map(_.toDouble).toArray
    emb.select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect().foreach {
      case (id, e) =>
        assert(viaNative(id) == ref(q, e.map(_.toDouble).toArray), s"vec $id")
    }
  }

  test("GraftExtensions registers the functions via spark.sql.extensions") {
    import org.apache.spark.sql.SparkSession
    // a NEW session over the same context picks up extensions; restore after
    val prev = spark
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new graft.functions.GraftExtensions()(_))
        .getOrCreate()
      val r = s2.sql(
        "SELECT graft_doclen('a b') AS dl, size(graft_terms('a b')) AS n, " +
        "graft_fingerprint('abcdefgh') AS fp, " +
        "graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS cos, " +
        "graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp").collect().head
      assert(r.getInt(0) == 3 && r.getInt(1) == 3)
      assert(r.getString(2) == Tokenizer.md5Hex("abcdefgh"))
      assert(r.getDouble(3) == 1.0 && r.getDouble(4) == 11.0)
    } finally {
      SparkSession.setActiveSession(prev); SparkSession.setDefaultSession(prev)
    }
  }
}
