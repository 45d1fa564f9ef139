package graft

import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.ml.{Ann, Dedup, TextStats}
import graft.multimodal.Binary
import graft.query.Bm25

class MlSpec extends SparkSpec {
  import spark.implicits._

  lazy val corpus = Corpus.fromDocuments(spark, sfTiny).cache()
  lazy val dupped = Dedup.withDups(corpus)

  test("exact dedup finds exactly the injected verbatim dups") {
    val groups = Dedup.exactDups(dupped).collect()
    val injected = corpus.where($"doc_id" % 97 === 0).count()
    assert(groups.length == injected)
    assert(groups.forall(_.getAs[Long]("n_dups") == 2))
    // keeper is always the original (min doc_id)
    assert(groups.forall(_.getAs[Long]("keep_doc_id") < 1000000L))
  }

  test("span dedup: exact maximal runs, offsets, boilerplate cap, overlap split") {
    def doc(id: Long, words: String) = (id, words)
    // shared 7-token run "s1..s7" at offset 3 in doc 1 (tokens 4..10,
    // 1-based) and offset 0 in doc 2 (tokens 1..7); width 4 -> 4 windows
    val shared = "s1 s2 s3 s4 s5 s6 s7"
    val tiny = Seq(
      doc(1L, s"a1 a2 a3 $shared a4 a5"),
      doc(2L, s"$shared b1 b2 b3 b4"),
      // doc 3 shares a DIFFERENT 4-token run with doc 1's tail — exactly
      // one window
      doc(3L, "s4 s5 s6 s7 zz yy xx"),
      // unrelated
      doc(4L, "q1 q2 q3 q4 q5 q6 q7 q8")
    ).toDF("doc_id", "content")
    val got = Dedup.spanDups(tiny, width = 4, maxOcc = 64)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // doc1-doc2: windows at (4..7, 1..4) -> one run of 4 windows = 7 tokens
    assert(got.contains((1L, 2L, 4L, 1L, 4L, 7L)), s"main run missing: $got")
    // doc1-doc3: "s4 s5 s6 s7" = window at (7, 1) -> 1 window = 4 tokens
    assert(got.contains((1L, 3L, 7L, 1L, 1L, 4L)), s"tail run missing: $got")
    // doc2-doc3 share it too (at 4,1)
    assert(got.contains((2L, 3L, 4L, 1L, 1L, 4L)), s"2-3 run missing: $got")
    assert(got.size == 3, s"unexpected extra runs: $got")
    // boilerplate cap: the same window in maxOcc+1 docs is dropped entirely
    val boiler = (0 until 10).map(i => (100L + i, "c1 c2 c3 c4")).toDF("doc_id", "content")
    assert(Dedup.spanDups(boiler, width = 4, maxOcc = 9).count() == 0)
    assert(Dedup.spanDups(boiler, width = 4, maxOcc = 10).count() == 45) // all pairs kept
  }

  test("span dedup over the keep-set gate: semi-join on the materialized keep set == broadcast route") {
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.execution.LogicalRDD
    val gated = Dedup.spanDupsGated(dupped, width = 8, maxOcc = 64, keepGate = 0L)
    val semis = gated.queryExecution.optimizedPlan.collect {
      case j: Join if j.joinType == LeftSemi => j
    }
    assert(semis.size == 1, s"over-gate keep set must take the semi-join:\n${gated.queryExecution.optimizedPlan}")
    // the build side is the keep set materialized by the count pass, not
    // a plan that would run the first window pass again
    val build = semis.head.right.collectLeaves()
    assert(build.nonEmpty && build.forall {
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }, s"semi-join build side is not the materialized keep set:\n${semis.head.right}")
    val got = gated.as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    assert(got.nonEmpty, "test needs duplicated spans")
    assert(got == Dedup.spanDups(dupped, width = 8, maxOcc = 64)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet)
  }

  test("minhash candidate pairs cover all exact dups with all bands shared") {
    val pairs = Dedup.minhashPairs(Dedup.minhashBands(Dedup.minhashSignatures(dupped)))
      .as[(Long, Long, Long)].collect().toSeq
    val exactIds = corpus.where($"doc_id" % 97 === 0).select($"doc_id").as[Long].collect()
    exactIds.foreach { id =>
      val p = pairs.find(p => p._1 == id && p._2 == id + 1000000L)
      assert(p.isDefined, s"missing exact-dup pair for $id")
      assert(p.get._3 == Dedup.MinhashBands.toLong, s"exact dup must share all bands")
    }
  }

  test("connected components: chains, multiple components, convergence") {
    // a 6-hop chain (min label must propagate hop by hop — exercises the
    // multi-round fixpoint the near-clique gated corpora never need),
    // a separate triangle, and an isolated pair
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), (15L, 16L),
      (30L, 31L), (31L, 32L), (30L, 32L),
      (50L, 51L)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    (10L to 16L).foreach(d => assert(cc(d) == 10L, s"chain node $d -> ${cc(d)}"))
    (30L to 32L).foreach(d => assert(cc(d) == 30L))
    assert(cc(50L) == 50L && cc(51L) == 50L)
    assert(cc.size == 12)
    // decision table: singletons kept, one survivor per cluster
    val corpus = (1L to 60L).toDF("doc_id")
    val dec = Dedup.dedupDecisions(corpus, pairs)
      .select("doc_id", "cluster_id", "keep").as[(Long, Long, Long)].collect()
    val kept = dec.filter(_._3 == 1L).map(_._1).toSet
    assert(kept.contains(10L) && !kept.contains(11L) && !kept.contains(16L))
    assert(kept.contains(30L) && !kept.contains(32L))
    assert(kept.contains(50L) && !kept.contains(51L))
    // every doc outside any pair is its own kept singleton
    assert(dec.filter(d => d._1 < 10 || d._1 > 51).forall(d => d._3 == 1L && d._2 == d._1))
    // a pair-free corpus (clean data) is all singletons, not a crash
    val none = Dedup.dedupDecisions(corpus,
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b"))
      .as[(Long, Long, Long)].collect()
    assert(none.length == 60 && none.forall(d => d._3 == 1L && d._2 == d._1))
  }

  test("large-star/small-star components == min-label on chains, cliques, and a 128-hop chain") {
    // the structured graph of the min-label test
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L), (15L, 16L),
      (30L, 31L), (31L, 32L), (30L, 32L),
      (50L, 51L)).toDF("doc_a", "doc_b")
    val viaStars = Dedup.connectedComponentsStars(pairs)
      .as[(Long, Long)].collect().toMap
    val viaMinLabel = Dedup.connectedComponents(pairs)
      .as[(Long, Long)].collect().toMap
    assert(viaStars == viaMinLabel)
    // a 128-hop chain — the diameter regime the stars variant exists for
    // (min-label would need ~128 rounds; stars converge in O(log 128)).
    // Ids deliberately DESCEND along the chain so naive orientations that
    // assume src < dst would break.
    val chain = (0 until 128).map(i => (1000L - i, 1000L - i - 1)).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponentsStars(chain).as[(Long, Long)].collect().toMap
    assert(cc.size == 129 && cc.values.forall(_ == 872L), "all chain nodes -> min id 872")
    // empty graph: no rows, no crash
    assert(Dedup.connectedComponentsStars(
      Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")).isEmpty)
    // self-pairs alone contribute singleton labels... they are dropped as
    // self-loops, so a doc appearing ONLY in a self-pair gets no row (the
    // dedupDecisions coalesce covers it), same as min-label on a loop-free
    // projection
    assert(Dedup.connectedComponentsStars(
      Seq((7L, 7L)).toDF("doc_a", "doc_b")).isEmpty)
  }

  test("curation stage order: a low-quality cluster-min must not become the survivor") {
    // doc 1 = doc 2's text plus heavy trailing punctuation: identical word
    // bigrams (guaranteed minhash pair) but much higher punct_ratio, so 1
    // fails the quality gate. Plain dedup would keep 1 (component min);
    // the PIPELINE order (filter THEN dedup among survivors) must keep 2 —
    // the oracle gate alone can't catch a same-shaped reorder in both
    // engines, so this pins the contract in one engine.
    val baseText = (1 to 60).map(i => s"tok${i % 9} word${i % 7}").mkString(" ")
    val corpus = Seq(
      (1L, baseText + " " + ("!?.,;:" * 40)),
      (2L, baseText),
      (3L, "unrelated content entirely different tokens here")
    ).toDF("doc_id", "content")
    val q = graft.ml.TextStats.quality(corpus)
      .select("doc_id", "quality_q").as[(Long, Long)].collect().toMap
    assert(q(1L) < q(2L), s"punctuation must lower quality: $q")
    val thresh = (q(1L) + q(2L)) / 2
    // sanity: plain (unfiltered) dedup keeps the min-id doc 1
    val pairs = Dedup.minhashPairs(Dedup.minhashBands(Dedup.minhashSignatures(corpus)))
    assert(pairs.where($"doc_a" === 1L && $"doc_b" === 2L).count() == 1L)
    val plain = Dedup.dedupDecisions(corpus, pairs)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(plain(1L) == 1L && plain(2L) == 0L)
    // the pipeline keeps 2: doc 1 never enters the dedup stage
    val dec = graft.ml.Curation.curate(corpus, thresh)
      .select("doc_id", "passed_quality", "kept")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(dec(1L) == ((0L, 0L)), s"low-quality doc leaked through: $dec")
    assert(dec(2L) == ((1L, 1L)), s"survivor lost to a filtered doc: $dec")
    assert(dec(3L) == ((1L, 1L)) || dec(3L) == ((0L, 0L))) // independent of 1/2
  }

  test("jaccard: 1.0 for exact dups, (0,1) for near dups") {
    val pairs = Dedup.minhashPairs(Dedup.minhashBands(Dedup.minhashSignatures(dupped)))
    val j = Dedup.jaccardPairs(dupped, pairs).as[(Long, Long, Long)].collect().toSeq
    val exact = j.filter(p => p._1 < 1000000L && p._2 == p._1 + 1000000L)
    assert(exact.nonEmpty && exact.forall(_._3 == 1000000L))
    val near = j.filter(p => p._1 < 1000000L && p._2 == p._1 + 2000000L)
    assert(near.nonEmpty && near.forall(p => p._3 > 0 && p._3 < 1000000L))
  }

  test("simhash: exact dups collide; banded pairs == all-pairs result") {
    val sim = Dedup.simhash(dupped).cache()
    val byId = sim.as[(Long, Long)].collect().toMap
    corpus.where($"doc_id" % 97 === 0).select($"doc_id").as[Long].collect().foreach { id =>
      assert(byId(id) == byId(id + 1000000L), s"exact dup $id simhash differs")
    }
    val all = Dedup.simhashPairs(sim, 3).as[(Long, Long, Long)].collect().toSet
    val banded = Dedup.simhashBandedPairs(sim, 3).as[(Long, Long, Long)].collect().toSet
    assert(all == banded, "banded pigeonhole must equal all-pairs at hamming<=3")
  }

  test("ann: lsh results are a subset of brute-force candidates' scores") {
    val emb = spark.read.parquet(s"$sfTiny/embeddings.parquet").cache()
    val brute = Ann.bruteTopK(emb, SparkEntry.AnnQueryIds, 1000)
      .select($"query_id", $"vec_id", $"cos_q").as[(Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val lsh = Ann.lshTopK(emb, SparkEntry.AnnQueryIds, 10)
      .select($"query_id", $"vec_id", $"cos_q", $"bucket").collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      val k = (r.getLong(0), r.getLong(1))
      assert(brute.contains(k) && brute(k) == r.getLong(2),
        s"lsh cos mismatch for $k") // same exact cosine as brute path
    }
    // every lsh candidate shares the query's bucket by construction
    val buckets = Ann.buckets(emb).as[(Long, Long)].collect().toMap
    lsh.foreach(r => assert(buckets(r.getLong(1)) == r.getLong(3)))
  }

  test("lang id: argmax with first-profile tie-break; und on zero hits") {
    val rows = TextStats.langId(Seq((1L, "the fast join of the table"), (2L, "xyzzy blorp"))
      .toDF("doc_id", "content")).collect()
    val m = rows.map(x => x.getLong(0) -> (x.getString(1), x.getLong(2))).toMap
    assert(m(1L) == ("en", 3L))
    assert(m(2L) == ("und", 0L))
  }

  test("binary feature extraction: deterministic, batch-shaped, normalized") {
    val bin = Binary.asBinaryTable(corpus.limit(200))
    val feats = Binary.extractFeatures(spark, bin, batchSize = 64).collect()
    assert(feats.length == 200)
    feats.foreach { f =>
      assert(f.feature.length == Binary.FeatureBins)
      val s = f.feature.sum
      assert(s == 0f || math.abs(s - 1f) < 1e-4, s"not normalized: $s")
    }
    // batch shape honored: with 200 rows over partitions, batch index stays small
    assert(feats.map(_.n_batches_seen).max <= (200 / 64) + 1)
    // determinism
    val again = Binary.extractFeatures(spark, bin, batchSize = 64).collect()
    assert(feats.sortBy(_.doc_id).map(_.feature.toSeq).toSeq ==
      again.sortBy(_.doc_id).map(_.feature.toSeq).toSeq)
  }

  test("real JPEG decode: fixture golden histogram via the SOF-dim-capped path") {
    val jpg = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixture.jpg").toURI))
    assert(Binary.looksLikeJpeg(jpg) && !Binary.looksLikePng(jpg))
    val img = Binary.decodeImage(jpg).get
    assert(img.getWidth == 40 && img.getHeight == 24)
    // grayscale left-to-right gradient, 40x24: each of the 8 luminance bins
    // covers 5 columns = 120 px (JPEG is lossy but a smooth gradient decodes
    // within the bin width; golden pinned from the checked-in fixture)
    val feat = Binary.extractOne(jpg)
    assert(math.abs(feat.sum - 1f) < 1e-4, s"not normalized: ${feat.toSeq}")
    assert(feat.forall(f => f > 0.08f && f < 0.18f),
      s"gradient must spread across all bins: ${feat.toSeq}")
    // SOF bomb cap: a forged SOF declaring 60000x60000 is rejected pre-decode
    val forged = jpg.clone()
    // find the SOF marker and overwrite its dims
    var i = 2
    var done = false
    while (!done && i + 8 < forged.length) {
      val m = forged(i + 1) & 0xff
      if ((forged(i) & 0xff) == 0xff && m >= 0xc0 && m <= 0xcf &&
        m != 0xc4 && m != 0xc8 && m != 0xcc) {
        forged(i + 5) = 0xea.toByte; forged(i + 6) = 0x60.toByte // h=60000
        forged(i + 7) = 0xea.toByte; forged(i + 8) = 0x60.toByte // w=60000
        done = true
      } else i += (if (m == 0xd8) 2
        else 2 + (((forged(i + 2) & 0xff) << 8) | (forged(i + 3) & 0xff)))
    }
    assert(done && Binary.decodeImage(forged).isEmpty, "bomb cap must reject")
  }

  test("real WAV decode: PCM amplitude histogram from hand-built bytes") {
    // 16 samples: 8x 0, 4x 5000, 4x 20000 -> bins 0/1/4 get 8/4/4
    def wav(samples: Seq[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val b = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes); b.putInt(36 + dataLen); b.put("WAVE".getBytes)
      b.put("fmt ".getBytes); b.putInt(16)
      b.putShort(1); b.putShort(1); b.putInt(8000); b.putInt(16000)
      b.putShort(2); b.putShort(16)
      b.put("data".getBytes); b.putInt(dataLen)
      samples.foreach(b.putShort)
      b.array()
    }
    val p = wav(Seq.fill(8)(0.toShort) ++ Seq.fill(4)(5000.toShort) ++
      Seq.fill(4)(20000.toShort))
    val feat = Binary.extractOne(p)
    assert(feat.toSeq == Seq(0.5f, 0.25f, 0f, 0f, 0.25f, 0f, 0f, 0f), feat.toSeq)
    // negative samples bin by magnitude; truncated/malformed fall back
    val neg = Binary.extractOne(wav(Seq.fill(4)((-20000).toShort)))
    assert(neg(4) == 1f)
    assert(Binary.audioHistogram("RIFFxxxxWAVE".getBytes).isEmpty)
    assert(Binary.audioHistogram(java.util.Arrays.copyOf(p, 30)).isEmpty)
    // a float-format (non-PCM16) wav is rejected, not misparsed
    val f32 = wav(Seq(1000.toShort)); f32(20) = 3 // fmt code 3 = IEEE float
    assert(Binary.audioHistogram(f32).isEmpty)
  }

  test("real PNG decode: fixture golden histogram, batch shape mixed with text payloads") {
    val png = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      getClass.getResource("/fixture.png").toURI))
    assert(Binary.looksLikePng(png))
    // golden pinned from the checked-in 16x12 gradient fixture: integer
    // luminance (299r+587g+114b)/1000, 8 bins, L1-normalized over 192 px
    val goldenCounts = Seq(12, 26, 37, 41, 38, 26, 11, 1)
    val feat = Binary.extractOne(png)
    assert(feat.toSeq == goldenCounts.map(_ / 192f), s"got ${feat.toSeq}")
    // a real image flows through the SAME batched extraction as text blobs
    val rows = Seq((9000L, png)) ++
      Seq((9001L, "plain text payload".getBytes("UTF-8")))
    val df = spark.createDataFrame(rows).toDF("doc_id", "payload")
    val out = Binary.extractFeatures(spark, df, batchSize = 8)
      .collect().map(f => f.doc_id -> f.feature.toSeq).toMap
    assert(out(9000L) == goldenCounts.map(_ / 192f))
    assert(math.abs(out(9001L).sum - 1f) < 1e-4) // byte-histogram fallback
    // real resize: max side 512 on a 600x400 synthetic PNG -> 512x341
    val big = {
      val img = new java.awt.image.BufferedImage(600, 400,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      (0 until 400).foreach(y => (0 until 600).foreach(x =>
        img.setRGB(x, y, ((x * 7) & 0xff) << 16 | ((y * 11) & 0xff) << 8 | ((x + y) & 0xff))))
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", baos)
      baos.toByteArray
    }
    val resized = Binary.resizeImageBytes(big, 512).get
    val rimg = Binary.decodeImage(resized).get
    assert(rimg.getWidth == 512 && rimg.getHeight == 341)
    // small-enough image passes through untouched; non-image is None
    assert(Binary.resizeImageBytes(png, 512).get eq png)
    assert(Binary.resizeImageBytes("nope".getBytes("UTF-8"), 512).isEmpty)
  }

  test("features: CSV and text-line sources round-trip to the embeddings shape") {
    import graft.ml.Features
    val emb = spark.read.parquet(s"$sfTiny/embeddings.parquet")
      .select($"vec_id", $"embedding").orderBy($"vec_id").limit(50)
      .as[(Long, Seq[Float])].collect().toSeq
    // header CSV (id + one column per class, EncodeAndHashCSV shape)
    val dims = emb.head._2.length
    val header = ("id" +: (0 until dims).map(d => s"c$d")).mkString(",")
    val lines = emb.map { case (id, v) => (id +: v).mkString(",") }
    val csvDir = java.nio.file.Paths.get(tempDir("graft-csv"))
    java.nio.file.Files.write(csvDir.resolve("f.csv"),
      (header +: lines).mkString("\n").getBytes)
    val viaCsv = Features.fromCsv(spark, csvDir.toString)
      .as[(Long, Seq[Float])].collect().toMap
    assert(viaCsv == emb.toMap)
    // id;w1 w2 ... feature lines (IndexingFromTextFile shape)
    val txt = emb.map { case (id, v) => s"$id;${v.mkString(" ")}" }
    val viaTxt = Features.fromTextLines(spark.createDataset(txt))
      .as[(Long, Seq[Float])].collect().toMap
    assert(viaTxt == emb.toMap)
    // and the encoders compose: top-N over the CSV == top-N over parquet
    val a = Features.topNFeatures(Features.fromCsv(spark, csvDir.toString), 8, 0.5)
      .collect().map(_.toSeq).toSet
    val b = Features.topNFeatures(
      spark.read.parquet(s"$sfTiny/embeddings.parquet")
        .where($"vec_id".isin(emb.map(_._1): _*)), 8, 0.5)
      .collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("topNFeatures honors N, positivity and the significance floor") {
    import graft.ml.Features
    val v = Seq(
      (1L, Seq(0.9f, 0.8f, 0.05f, 0.0f, -0.3f)), // floor cuts 0.05, <=0 cut
      (2L, Seq(-1.0f, -2.0f, -3.0f, -0.5f, -4.0f)), // all non-positive -> empty
      (3L, Seq(0.5f, 0.5f, 0.5f, 0.5f, 0.5f))) // ties -> dim asc, N caps
      .toDF("vec_id", "embedding")
    val got = Features.topNFeatures(v, 3, 0.5)
      .select($"vec_id", $"rank", $"dim", $"term").as[(Long, Long, Long, String)]
      .collect().toSeq.sortBy(r => (r._1, r._2))
    assert(got.filter(_._1 == 1L).map(_._3) == Seq(0L, 1L))
    assert(got.filter(_._1 == 2L).isEmpty)
    assert(got.filter(_._1 == 3L).map(_._3) == Seq(0L, 1L, 2L))
    assert(got.forall(r => r._4 == f"d:${r._3}%03d"))
  }

  test("query-string parser: boosts, defaults, malformed boosts") {
    import graft.query.Engine
    assert(Engine.parseQuery(SparkEntry.BoostedQueryString) == SparkEntry.BoostedTerms)
    assert(Engine.parseQuery("  a   b^2.5  ") == Seq("a" -> 1.0, "b" -> 2.5))
    assert(Engine.parseQuery("a^x ^5 c^") ==
      Seq("a^x" -> 1.0, "^5" -> 1.0, "c^" -> 1.0))
  }

  test("ann multi-probe: recall >= 0.8 on planted near-duplicate structure") {
    import graft.ml.Ann
    // 12 clusters of 1 center + 4 noisy copies (cos ~ 0.97) in 300 random
    // vectors: the regime ANN exists for. On isotropic random embeddings
    // (the synthetic sf tables) top-k neighbors sit at cos ~ 0.1 and NO
    // sign-LSH can recall them — that is a property of the data, not the
    // operator (documented in BASELINE.md).
    val rnd = new scala.util.Random(1234)
    def unit(): Array[Double] = {
      val v = Array.fill(Ann.Dims)(rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val rows = scala.collection.mutable.ArrayBuffer[(Long, Seq[Float])]()
    var id = 0L
    val centers = (0 until 12).map { _ =>
      val c = unit()
      val cid = id
      rows += ((id, c.map(_.toFloat).toSeq)); id += 1
      (0 until 4).foreach { _ =>
        val noisy = c.zip(unit()).map { case (a, b) => a + 0.15 * b }
        rows += ((id, noisy.map(_.toFloat).toSeq)); id += 1
      }
      cid
    }
    (0 until 240).foreach { _ => rows += ((id, unit().map(_.toFloat).toSeq)); id += 1 }
    val emb = rows.toSeq.toDF("vec_id", "embedding")
    val brute = Ann.bruteTopK(emb, centers, 4)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val multi = Ann.lshTopKMultiProbe(emb, centers, 4)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val single = Ann.lshTopK(emb, centers, 4)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val ivf = Ann.ivfTopK(emb, centers, 4)
      .select($"query_id", $"vec_id").as[(Long, Long)].collect().toSet
    val recallMulti = (brute & multi).size.toDouble / brute.size
    val recallSingle = (brute & single).size.toDouble / brute.size
    val recallIvf = (brute & ivf).size.toDouble / brute.size
    assert(recallMulti >= 0.8, s"multi-probe recall $recallMulti < 0.8")
    assert(recallMulti >= recallSingle, "multi-probe must not lose recall")
    assert(recallIvf >= 0.8, s"ivf recall $recallIvf < 0.8")
  }

  test("metric-space terms make the text engine an ANN engine (self-retrieval)") {
    import graft.index.{IndexBuild, IndexConfig}
    import graft.query.{Engine, Index}
    val emb = spark.read.parquet(s"$sfTiny/embeddings.parquet")
    val ms = Ann.metricSpacesTerms(emb, 32, 8)
    // encode each vector's ref terms as plain tokens ("r:7" -> "r7") so the
    // text tokenizer indexes them verbatim as w:r7 — hashing-as-terms
    val corpus = ms
      .groupBy($"vec_id")
      .agg(concat_ws(" ", sort_array(collect_list(
        regexp_replace($"term", ":", "")))).as("content"))
      .select($"vec_id".as("doc_id"), lit("r").as("repo"),
        concat(lit("p"), $"vec_id").as("path"), lit("c").as("commit"),
        lit("x").as("lang"), $"content")
      .withColumn("sha", sha2($"content", 256))
    val dir = tempDir("graft-ms")
    IndexBuild.build(spark, corpus, dir, IndexConfig(segShift = 6, rangeSegsShift = 2))
    val eng = new Engine(new Index(spark, dir))
    val q = Ann.msQuery(emb, 42L, 32, 8).map { case (t, b) => ("w:" + t.replace(":", ""), b) }
    assert(q.size == 8 && q.head._2 == 1.0 && q.map(_._2) == q.map(_._2).sorted.reverse)
    val top = eng.searchByTerms(q, rows = 5)
      .select($"doc_id", $"score_q").as[(Long, Long)].collect().toSeq
    assert(top.take(5).map(_._1).contains(42L), s"query doc not in top-5: $top")
    assert(top.filter(_._1 == 42L).head._2 == top.head._2,
      "query doc must carry the maximal score")
  }

  test("atom feed source: entries parse and flow end-to-end into the index") {
    import graft.corpus.{Atom, Corpus}
    import graft.index.{IndexBuild, IndexConfig}
    import graft.query.{Engine, Index}
    val feed =
      """<?xml version="1.0" encoding="utf-8"?>
        |<feed xmlns="http://www.w3.org/2005/Atom">
        | <title>public photos</title>
        | <entry>
        |  <title>sunset over spark</title>
        |  <link rel="alternate" href="https://example.org/p/1"/>
        |  <link rel="enclosure" href="https://example.org/img/1.jpg"/>
        |  <author><name>alice</name><uri>users/alice</uri></author>
        |  <category term="sunset"/><category term="orange"/>
        | </entry>
        | <entry>
        |  <title>harbor crane</title>
        |  <link rel="alternate" href="https://example.org/p/2"/>
        |  <author><name>bob</name><uri>users/bob</uri></author>
        |  <category term="harbor"/>
        | </entry>
        |</feed>""".stripMargin
    val entries = Atom.parseFeed(feed)
    assert(entries.map(_.title) == Seq("sunset over spark", "harbor crane"))
    assert(entries.head.tags == Seq("sunset", "orange"))
    assert(entries.head.mediaUrl == "https://example.org/img/1.jpg")
    assert(entries(1).mediaUrl == "https://example.org/p/2") // fallback to page link
    val corpus = Corpus.withDocIds(Atom.fromFeeds(spark.createDataset(Seq(feed))), 2)
    val dir = tempDir("graft-atom")
    IndexBuild.build(spark, corpus, dir, IndexConfig(segShift = 4, rangeSegsShift = 1))
    val eng = new Engine(new Index(spark, dir))
    val hit = eng.searchByTerms(Seq("w:harbor" -> 1.0), rows = 5)
    val metaHit = eng.index.docmeta
      .join(hit, Seq("doc_id")).select($"path").as[String].collect().toSeq
    assert(metaHit == Seq("https://example.org/p/2"))
  }

  test("multimodal resize + frame-sample plumbing: deterministic, shape-correct") {
    import graft.multimodal.Binary
    assert(Binary.resizeOne("abcdefgh", 2) == "aceg")
    assert(Binary.resizeOne("", 3) == "")
    val rs = Binary.resize(spark, corpus, 4)
      .as[(Long, Long, Long, String)].collect()
    assert(rs.forall { case (_, o, n, _) => n == (o + 3) / 4 })
    val fs = Binary.frameSample(corpus, 32, 2)
    val byDoc = fs.groupBy($"doc_id").count()
      .as[(Long, Long)].collect().toMap
    val lens = corpus.select($"doc_id", length($"content")).as[(Long, Int)].collect()
    lens.foreach { case (id, len) =>
      val expect = if (len >= 32) (len - 32) / 64 + 1 else 0
      assert(byDoc.getOrElse(id, 0L) == expect, s"doc $id len $len")
    }
    // frames are reproducible content identities
    val a = fs.orderBy($"doc_id", $"frame_idx").collect().map(_.toSeq).toSeq
    val b = Binary.frameSample(corpus, 32, 2)
      .orderBy($"doc_id", $"frame_idx").collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("atom parser: <source> metadata is not the entry's; uri-less author falls back") {
    import graft.corpus.Atom
    val feed =
      """<?xml version="1.0"?>
        |<feed xmlns="http://www.w3.org/2005/Atom">
        | <entry>
        |  <title>own title</title>
        |  <link rel="alternate" href="https://example.org/p/9"/>
        |  <author><name>carol</name></author>
        |  <category term="own"/>
        |  <source>
        |   <title>Planet Feed</title>
        |   <link rel="enclosure" href="https://planet.example/other.jpg"/>
        |   <category term="meta"/>
        |   <author><name>planet</name><uri>users/planet</uri></author>
        |  </source>
        | </entry>
        |</feed>""".stripMargin
    val e = Atom.parseFeed(feed).head
    assert(e.title == "own title", s"source title leaked: ${e.title}")
    assert(e.tags == Seq("own"), s"source category leaked: ${e.tags}")
    assert(e.mediaUrl == "https://example.org/p/9", "source enclosure leaked")
    assert(e.author == "carol" && e.authorId == "")
    val repo = Atom.fromFeeds(spark.createDataset(Seq(feed)))
      .select($"repo").as[String].head()
    assert(repo == "carol", "uri-less author must fall back to the name")
  }

  test("scale knobs: band specs cover 64 bits at every band count; lshBitsFor sizing") {
    import graft.ml.{Ann, Dedup}
    for (bands <- 1 to 64) {
      val spec = Dedup.simhashBandSpec(bands)
      assert(spec.size == bands)
      assert(spec.map(_._2).sum == 64, s"bands=$bands must cover all 64 bits")
      assert(spec.map(_._2).max - spec.map(_._2).min <= 1, s"bands=$bands widths uneven")
      val covered = spec.flatMap { case (off, w) => off until (off + w) }
      assert(covered == (0 until 64), s"bands=$bands not contiguous/disjoint")
    }
    assert(Dedup.simhashBandsFor(2) == 3)
    assert(Ann.lshBitsFor(1000000000L, 1000L) == 20) // 10^9 rows, 1k buckets target
    assert(Ann.lshBitsFor(1L, 1000L) == 1) // floor
    assert(Ann.lshBitsFor(Long.MaxValue, 1L) == 62) // ceiling
    // no ceil-division overflow: ⌈(2^63−1)/1000⌉ ≈ 9.22e15 ∈ (2^53, 2^54]
    assert(Ann.lshBitsFor(Long.MaxValue, 1000L) == 54)
    // integer-exact at power-of-two boundaries (the reason the rule is
    // integer arithmetic: a floating log2 could flip ceil across engines)
    assert(Ann.lshBitsFor(1024L, 1L) == 10)
    assert(Ann.lshBitsFor(1025L, 1L) == 11)
    assert(Ann.lshBitsFor(500L, 64L) == 3) // the gate corpora
    assert(Ann.lshBitsFor(2000L, 64L) == 5)
    // planes are prefix-stable: widening extends, never reshuffles
    assert(Ann.lshPlane(3).toSeq == Ann.lshPlanes(3).toSeq)
  }

  test("contamination screen: only docs sharing a full 13-gram are flagged") {
    val thirteen = "one two three four five six seven eight nine ten eleven twelve thirteen"
    val bench = Seq((100L, s"$thirteen extra")).toDF("doc_id", "content")
    val screened = Seq(
      (1L, s"prefix $thirteen suffix"), // shares exactly the 13-gram
      (2L, "totally different words with no overlap at all whatsoever in any gram"),
      (3L, "one two three four five six seven eight nine ten eleven twelve")) // 12 tokens only
      .toDF("doc_id", "content")
    val got = Dedup.contamination(screened, bench, 13)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.keySet == Set(1L), s"flagged ${got.keySet}")
    assert(got(1L) == ((1L, 1L)), s"one bench doc, one shared shingle: ${got(1L)}")
  }

  test("contamination gate bounds benchmark hash rows, not docs: few long docs take the join") {
    // two benchmark docs, each ~150 windows: far under any doc gate but
    // over a 100-row gate, so the driver must not collect their rows
    def words(tag: String, n: Int) = (1 to n).map(i => s"$tag$i").mkString(" ")
    val bench = Seq((100L, words("a", 160)), (101L, words("b", 160))).toDF("doc_id", "content")
    val screened = Seq(
      (1L, s"x y ${words("a", 40)} z"),
      (2L, s"${words("b", 20)} ${words("a", 14)}"),
      (3L, words("c", 60)),
      (4L, words("b", 12))).toDF("doc_id", "content")
    val gated = Dedup.contamination(screened, bench, 13, benchGate = 100)
    assert(gated.queryExecution.executedPlan.toString.contains("Join"),
      s"over-gate benchmark must take the join route:\n${gated.queryExecution.executedPlan}")
    val got = gated.as[(Long, Long, Long)].collect().toSet
    val broadcast = Dedup.contamination(screened, bench, 13)
    assert(!broadcast.queryExecution.executedPlan.toString.contains("Join"))
    assert(got == broadcast.as[(Long, Long, Long)].collect().toSet)
    assert(got == Set((1L, 1L, 28L), (2L, 2L, 10L)), s"$got")
  }

  test("curation with a benchmark: contaminated docs can never be kept") {
    val bench = corpus.where($"doc_id" % 13 === 3).select($"doc_id", $"content")
    val contaminated = Dedup.contamination(dupped, bench, 13)
      .select($"doc_id").as[Long].collect().toSet
    assert(contaminated.nonEmpty, "test needs contaminated docs")
    val screened = graft.ml.Curation.curate(dupped, benchmark = Some(bench))
      .select($"doc_id", $"kept").as[(Long, Long)].collect().toMap
    contaminated.foreach(d =>
      assert(screened(d) == 0L, s"contaminated doc $d survived curation"))
    assert(screened.values.exists(_ == 1L), "screening must not drop everything")
    // decisions for docs untouched by the screen (not contaminated, not
    // sharing a cluster with a contaminated doc) are unchanged
    val plain = graft.ml.Curation.curate(dupped)
      .select($"doc_id", $"cluster_id", $"kept").as[(Long, Long, Long)].collect()
    val dirtyClusters = plain.filter(r => contaminated.contains(r._1)).map(_._2).toSet
    plain.filter(r => !dirtyClusters.contains(r._2)).foreach { case (d, _, k) =>
      assert(screened(d) == k, s"unrelated doc $d decision changed")
    }
  }

  test("atom parser: foreign-namespace extensions (media:*) do not corrupt entry fields") {
    import graft.corpus.Atom
    val feed =
      """<?xml version="1.0"?>
        |<feed xmlns="http://www.w3.org/2005/Atom"
        |      xmlns:media="http://search.yahoo.com/mrss/">
        | <entry>
        |  <title>real title</title>
        |  <link rel="alternate" href="https://example.org/p/5"/>
        |  <category term="real"/>
        |  <media:group>
        |   <media:title>clip name</media:title>
        |   <media:category>video</media:category>
        |   <media:link rel="enclosure" href="https://cdn.example/clip.mp4"/>
        |  </media:group>
        | </entry>
        |</feed>""".stripMargin
    val e = Atom.parseFeed(feed).head
    assert(e.title == "real title", s"media:title leaked: '${e.title}'")
    assert(e.tags == Seq("real"), s"media:category leaked: ${e.tags}")
    assert(e.mediaUrl == "https://example.org/p/5", "media:link leaked")
  }

  test("decode hardening: corrupt PNG and dimension bombs fall back, never throw") {
    // valid magic + garbage body: decoder must not propagate
    val corrupt = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++
      Array.fill[Byte](64)(0x5a)
    assert(Binary.decodeImage(corrupt).isEmpty)
    val f = Binary.extractOne(corrupt) // byte-histogram fallback, normalized
    assert(math.abs(f.sum - 1f) < 1e-4)
    // IHDR declaring 60000x60000 (a decompression bomb) is rejected pre-decode
    val bomb = {
      val png = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        getClass.getResource("/fixture.png").toURI)).clone()
      def put(off: Int, v: Int): Unit = {
        png(off) = (v >>> 24).toByte; png(off + 1) = (v >>> 16).toByte
        png(off + 2) = (v >>> 8).toByte; png(off + 3) = v.toByte
      }
      put(16, 60000); put(20, 60000)
      png
    }
    assert(Binary.decodeImage(bomb).isEmpty, "dimension bomb must be rejected")
  }

  test("atom parser: prefixed-namespace feeds parse identically") {
    import graft.corpus.Atom
    val feed =
      """<?xml version="1.0"?>
        |<atom:feed xmlns:atom="http://www.w3.org/2005/Atom">
        | <atom:entry>
        |  <atom:title>ns title</atom:title>
        |  <atom:link rel="alternate" href="https://example.org/p/1"/>
        |  <atom:link rel="enclosure" href="https://example.org/m/1.jpg"/>
        |  <atom:author><atom:name>dave</atom:name><atom:uri>users/dave</atom:uri></atom:author>
        |  <atom:category term="t1"/><atom:category term="t2"/>
        | </atom:entry>
        |</atom:feed>""".stripMargin
    val es = Atom.parseFeed(feed)
    assert(es.size == 1, s"prefixed feed parsed to ${es.size} entries")
    val e = es.head
    assert(e.title == "ns title" && e.mediaUrl == "https://example.org/m/1.jpg")
    assert(e.authorId == "users/dave" && e.tags == Seq("t1", "t2"))
  }

  test("repetition signals: hand-computed tallies, one expression eval per row") {
    val docs = Seq(
      (1L, "a\na\nb"),            // 1 dup line of 1 char; 2-grams "a a","a b"
      (2L, "x y x y x y"),        // no dup lines; "x y"x3 of 5 2-grams
      (3L, ""),                   // 1 empty line, zero denominators
      (4L, "Hello!\nHello!\nHello!") // 2 dup lines; "hello hello" is all 2-grams
    ).toDF("doc_id", "content")
    val r = TextStats.repetition(docs)
    val rows = r.collect().map(x => x.getLong(0) ->
      (x.getLong(1), x.getLong(2), x.getLong(3), x.getLong(4))).toMap
    assert(rows(1L) == ((3L, 333333L, 333333L, 500000L)))
    assert(rows(2L) == ((1L, 0L, 0L, 600000L)))
    assert(rows(3L) == ((1L, 0L, 0L, 0L)))
    assert(rows(4L) == ((3L, 666667L, 666667L, 1000000L)))
    // the struct-producing expression must be evaluated once per row, not
    // re-expanded per output column by CollapseProject (a literal Seq
    // constant-folds away, so pin the plan on the parquet-backed corpus)
    val plan = TextStats.repetition(corpus).queryExecution.executedPlan.toString
    val evals = "graft_rep_stats".r.findAllIn(plan).size
    assert(evals == 1, s"graft_rep_stats evaluated $evals times in:\n$plan")
  }

  test("pii redaction: counts, email-before-ip order, sha attests the rewrite") {
    val docs = Seq(
      (1L, "Contact Bob99@Example.COM at 10.1.2.3 or 999.999.999.999"),
      (2L, "no pii here"),
      (3L, "two mails a1@b.c and x@y.zz")).toDF("doc_id", "content")
    val out = TextStats.redactPii(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out(1L)._1 == 1 && out(1L)._2 == 2) // {1,3} octets admit 999
    assert(out(2L) == ((0L, 0L, sha256Hex("no pii here"))))
    assert(out(3L)._1 == 2 && out(3L)._2 == 0)
    assert(out(1L)._3 == sha256Hex("contact <EMAIL> at <IP> or <IP>"))
    assert(out(3L)._3 == sha256Hex("two mails <EMAIL> and <EMAIL>"))
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("vocabCounts fused pass == explode+groupBy counts (edge docs)") {
    val edge = Seq(
      (9101L, ""), (9102L, "the the the THE tHe"),
      (9103L, "Ünïcode İstanbul straße mixed"),
      (9104L, null.asInstanceOf[String]),
      (9105L, "a b c a b a 0 00 000")).toDF("doc_id", "content")
    val all = corpus.select($"doc_id", $"content").unionAll(edge)
    val a = TextStats.vocabCounts(all)
      .as[(String, Long)].collect().toMap
    val b = all.select(explode(
        graft.functions.GraftFunctions.graft_tokens($"content")).as("tok"))
      .groupBy($"tok").count().as[(String, Long)].collect().toMap
    assert(a == b)
    assert(a("the") >= 5L)
  }

  test("redactPii fused expression == built-in composition (PII-injected + edge rows)") {
    val edge = Seq(
      (9001L, "a@b.c touching ip 1.2.3.4 then A@B.CD"),
      (9002L, "ip-in-address 10.0.0.1@host.net stays an email"),
      (9003L, "@ bare at 1.2.3 short 1.2.3.4.5 long"),
      (9004L, "Ünïcode café straße NO pii"),
      (9005L, "")).toDF("doc_id", "content")
    val all = TextStats.withPii(corpus).select($"doc_id", $"content").unionAll(edge)
    val a = TextStats.redactPii(all).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val b = SpecTwins.redactPiiBuiltins(all).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(a == b)
    assert(a.values.exists(_._1 > 0) && a.values.exists(_._2 > 0), "vacuous corpus")
  }

  test("stratified sample: exact integer rule, partition-invariant, caps bind") {
    import graft.ml.Sample
    val target = 60L
    val got = Sample.stratified(corpus, "lang", target)
      .select($"doc_id", $"stratum", $"samp_hash")
      .as[(Long, String, Long)].collect().toSet
    // brute twin on the driver
    val base = corpus.select($"doc_id", $"lang").as[(Long, String)].collect()
    val n = base.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    def h(id: Long): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"samp:$id".getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString, 16)
    val want = base.collect { case (id, lang)
        if h(id) < math.min(1L << 32, (target * (1L << 32)) / n(lang)) =>
      (id, lang, h(id))
    }.toSet
    assert(got == want)
    assert(want.nonEmpty && want.size < base.length, "rule must bind at sfTiny")
    // partitioning must not change the survivor set
    val re = Sample.stratified(corpus.repartition(7), "lang", target)
      .as[(Long, String, Long)].collect().toSet
    assert(re == got)
    // a target >= every stratum keeps the whole corpus
    assert(Sample.stratified(corpus, "lang", 1L << 30).count() == base.length)
  }

  test("gopher rules: each rule flips keep on a crafted doc") {
    val base = (Seq.fill(48)("word") ++ Seq("that", "have")).mkString(" ")
    val docs = Seq(
      1L -> base, // 50 words, mean len 4, all-alpha, 2 required -> keep
      2L -> base.split(" ").take(49).mkString(" "), // 49 words -> word count
      3L -> ((Seq.fill(48)("a") ++ Seq("be", "to")).mkString(" ")), // mean len 1.04
      4L -> (base + " # # # # # #"), // 6/56 symbols > 0.1
      5L -> (base + "\n- item" * 10), // 10/11 bullet lines > 0.9
      6L -> (base + "\nok...\nok..."), // 2/3 ellipsis-end lines > 0.3
      7L -> (base + " 1 2 3 4 5 6 7 8 9 10 11 12 13"), // alpha 50/63 < 0.8
      8L -> Seq.fill(50)("word").mkString(" ") // zero required words
    ).toDF("doc_id", "content")
    val r = TextStats.gopherRules(docs).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("keep") == 1L)
    (2L to 8L).foreach(i => assert(r(i).getAs[Long]("keep") == 0L, s"doc $i"))
    // the specific signal crossed its threshold (not a different rule)
    assert(r(1L).getAs[Long]("mean_wlen_q") == 4000000L)
    assert(r(2L).getAs[Long]("n_words") == 49L)
    assert(r(3L).getAs[Long]("mean_wlen_q") < TextStats.GopherMinWlenQ)
    assert(r(4L).getAs[Long]("symbol_q") > TextStats.GopherMaxSymbolQ)
    assert(r(4L).getAs[Long]("alpha_q") >= TextStats.GopherMinAlphaQ)
    assert(r(5L).getAs[Long]("bullet_q") > TextStats.GopherMaxBulletQ)
    assert(r(6L).getAs[Long]("ellipsis_q") > TextStats.GopherMaxEllipsisQ)
    assert(r(7L).getAs[Long]("alpha_q") < TextStats.GopherMinAlphaQ)
    assert(r(8L).getAs[Long]("n_required") == 0L)
    // the structure injection makes the real-corpus gate non-vacuous
    val injected = TextStats.gopherRules(TextStats.withStructure(corpus))
    val keeps = injected.groupBy("keep").count()
      .as[(Long, Long)].collect().toMap
    assert(keeps.getOrElse(1L, 0L) > 0 && keeps.getOrElse(0L, 0L) > 0)
  }

  test("unigram LM: rare-token docs score lower; partition-order invariant; empty doc 0") {
    val docs = ((1L to 40L).map(i => i -> "the quick brown fox jumps over the lazy dog") ++
      Seq(41L -> "zxqv qqzz vvxx yyzz wwqq", 42L -> "")).toDF("doc_id", "content")
    val r = TextStats.unigramLogProb(docs)
      .as[(Long, Long, Long)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(r.size == 42)
    assert(r(41L)._2 < r(1L)._2, s"gibberish must score lower: $r") // rarer tokens
    assert(r(42L) == ((0L, 0L))) // token-free doc: no LM evidence
    // integer-quantize-then-sum makes the score partition-order invariant
    val rp = TextStats.unigramLogProb(docs.repartition(7))
      .as[(Long, Long, Long)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(rp == r)
    // broadcast route (default: vocab far under the cap) == join route
    // (forced with cap 0) — same lp_q table, same rounding, bit-identical
    val rj = TextStats.unigramLogProb(docs, maxBroadcastVocab = 0)
      .as[(Long, Long, Long)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(rj == r)
    // a cap right AT the vocab size still broadcasts; one under falls
    // back — the routes are output-identical BY DESIGN, so the gate is
    // pinned on the PLAN shape (join route shuffles a token join, the
    // broadcast route has no join at all), not on the values
    def isJoinRoute(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("Join")
    val vocabN = docs.select(explode(graft.analyze.Tokenizer.tokens(col("content"))))
      .distinct().count().toInt
    val atDf = TextStats.unigramLogProb(docs, maxBroadcastVocab = vocabN)
    assert(!isJoinRoute(atDf), "cap == vocab must take the broadcast route")
    val rAt = atDf.as[(Long, Long, Long)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(rAt == r)
    val underDf = TextStats.unigramLogProb(docs, maxBroadcastVocab = vocabN - 1)
    assert(isJoinRoute(underDf), "cap < vocab must fall back to the join route")
    val rUnder = underDf.as[(Long, Long, Long)].collect().map(x => x._1 -> (x._2, x._3)).toMap
    assert(rUnder == r)
  }

  test("GraftGopherStats fused pass == regex composition (injected corpus + edge docs)") {
    // the structure-injected corpus fires every rule both ways; the edge
    // docs pin the regex corner semantics the fused scan must replicate:
    // overlapping dots, CRLF tails (no \z match), vertical tab = non-ws
    // in the explicit class, bullets at start/after-\n only, required
    // words as complete runs only, surrogate pairs as one char
    val edge = Seq(
      (9301L, ""), (9302L, "...."), (9303L, "......"), (9304L, "ok...\r\n"),
      (9305L, "a\u000Bb c"), (9306L, "- one\n- two\nx - three"),
      (9307L, "xthat thatx that"), (9308L, "𝄞 clef of have"),
      (9309L, "...\n...\n..."), (9310L, "# #...#\n- ...")
    ).toDF("doc_id", "content")
    for (src <- Seq(TextStats.withStructure(corpus), edge)) {
      val a = TextStats.gopherRules(src).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
      val b = SpecTwins.gopherRulesBuiltins(src).collect()
        .map(r => r.getAs[Long]("doc_id") -> r.toSeq).toMap
      assert(a == b)
    }
  }
}
