package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{Engine, Index}
import graft.streaming.StreamIndexer

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // range = 2^8 docs: chunk A = doc_id < 256, chunk B = rest (range-aligned)
  val cfg = IndexConfig(segShift = 6, rangeSegsShift = 2)

  test("incremental stream ingestion == batch build; restarts & replays no-op") {
    val root = tempDir("graft-stream")
    val inDir = s"$root/in"; val idxDir = s"$root/idx"; val ckDir = s"$root/ck"
    new java.io.File(inDir).mkdirs()
    val corpus = Corpus.fromDocuments(spark, sfTiny)
      .select("doc_id", "repo", "path", "commit", "lang", "content", "sha").cache()

    // chunk A arrives
    corpus.where($"doc_id" < 256).write.parquet(s"$inDir/chunkA")
    val q1 = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, ckDir, cfg)
    q1.awaitTermination()
    val rangesA = IndexBuild.doneRanges(spark, idxDir)
    assert(rangesA == Set(0L), s"got $rangesA")

    // chunk B arrives; restart stream from the same checkpoint
    corpus.where($"doc_id" >= 256).write.parquet(s"$inDir/chunkB")
    val q2 = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, ckDir, cfg)
    q2.awaitTermination()
    assert(IndexBuild.doneRanges(spark, idxDir) == Set(0L, 1L))

    // streamed index answers == batch-built index over the same corpus
    val batchDir = s"$root/batch"
    IndexBuild.build(spark, corpus, batchDir, cfg)
    val a = new Engine(new Index(spark, idxDir))
      .searchByTerms(SparkEntry.FlagshipTerms, rows = 30).collect().map(_.toSeq).toSeq
    val b = new Engine(new Index(spark, batchDir))
      .searchByTerms(SparkEntry.FlagshipTerms, rows = 30).collect().map(_.toSeq).toSeq
    assert(a == b)

    // replay from scratch (fresh checkpoint): all ranges committed -> no-op,
    // index unchanged (exactly-once via the manifest gate)
    val mtimes = new java.io.File(s"$idxDir/manifest").listFiles().map(_.lastModified()).toSeq
    val q3 = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, s"$root/ck2", cfg)
    q3.awaitTermination()
    val mtimes2 = new java.io.File(s"$idxDir/manifest").listFiles().map(_.lastModified()).toSeq
    assert(mtimes == mtimes2, "replayed ranges must not be rebuilt")
  }

  test("CDC-style upsert stream: re-posted keys replace, inline maintenance reclaims") {
    val root = tempDir("graft-upstream")
    val inDir = s"$root/in"; val idxDir = s"$root/idx"; val ckDir = s"$root/ck"
    new java.io.File(inDir).mkdirs()
    val corpus = Corpus.fromDocuments(spark, sfTiny)
      .select("doc_id", "repo", "path", "commit", "lang", "content", "sha").cache()
    corpus.where($"doc_id" < 256).write.parquet(s"$inDir/chunk0")
    corpus.where($"doc_id" >= 256).write.parquet(s"$inDir/chunk1")
    // chunk2 re-posts every 50th doc with new content under lifted ids
    val lift = 1024L
    val updates = corpus.where($"doc_id" % 50 === 0)
      .withColumn("doc_id", $"doc_id" + lift)
      .withColumn("content", concat($"content", lit(" zzstreamup")))
      .withColumn("sha", sha2($"content", 256))
    updates.write.parquet(s"$inDir/chunk2")
    val q = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, ckDir, cfg,
      readOptions = Map("maxFilesPerTrigger" -> "1"),
      maxLiveUnits = 2, upsertKeys = Seq("path"))
    q.awaitTermination()
    val idx = new Index(spark, idxDir)
    val nUpdated = updates.count()
    // every re-posted key resolves to exactly its new version
    val p = corpus.where($"doc_id" === 0).select("path").as[String].head()
    assert(idx.docmeta.where($"path" === p).select("doc_id").as[Long]
      .collect().toSeq == Seq(lift))
    val hits = new Engine(idx).searchByContent("zzstreamup", rows = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(hits.size == nUpdated && hits.forall(_ >= lift), s"got $hits")
    // inline maintenance compacted AND reclaimed along the way
    assert(idx.ranges.size <= 2, s"maintenance left ${idx.ranges}")
    // replay with a fresh checkpoint AND chunked batches: each old chunk
    // re-arrives ALONE, so its rows race the committed newer versions —
    // the max-doc_id winner rule must leave the replacements untouched
    // (the old optimistic kill rule tombstoned the NEWER version here)
    val q2 = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, s"$root/ck2", cfg,
      readOptions = Map("maxFilesPerTrigger" -> "1"),
      upsertKeys = Seq("path"))
    q2.awaitTermination()
    val idx2 = new Index(spark, idxDir)
    assert(idx2.docmeta.where($"path" === p).select("doc_id").as[Long]
      .collect().toSeq == Seq(lift), "chunked replay disturbed the upsert")
    val hits2 = new Engine(idx2).searchByContent("zzstreamup", rows = 100)
      .select("doc_id").as[Long].collect().toSet
    assert(hits2.size == nUpdated && hits2.forall(_ >= lift), s"got $hits2")
  }

  test("CDC upsert stream: out-of-order delivery (update chunk first) converges to the max") {
    val root = tempDir("graft-ooo")
    val idxDir = s"$root/idx"
    val corpus = Corpus.fromDocuments(spark, sfTiny)
      .select("doc_id", "repo", "path", "commit", "lang", "content", "sha")
      .where($"doc_id" < 256).cache()
    val lift = 1024L
    val updates = corpus.where($"doc_id" % 50 === 0)
      .withColumn("doc_id", $"doc_id" + lift)
      .withColumn("content", concat($"content", lit(" zzooo")))
      .withColumn("sha", sha2($"content", 256))
    // the UPDATE chunk lands before the originals it supersedes
    new java.io.File(s"$root/up").mkdirs(); new java.io.File(s"$root/orig").mkdirs()
    updates.write.parquet(s"$root/up/chunk")
    corpus.write.parquet(s"$root/orig/chunk")
    StreamIndexer.start(spark, s"$root/up/*", idxDir, s"$root/ck1", cfg,
      upsertKeys = Seq("path")).awaitTermination()
    StreamIndexer.start(spark, s"$root/orig/*", idxDir, s"$root/ck2", cfg,
      upsertKeys = Seq("path")).awaitTermination()
    val idx = new Index(spark, idxDir)
    // the late-arriving ORIGINAL of an updated key is dead on arrival
    val p = corpus.where($"doc_id" === 0).select("path").as[String].head()
    assert(idx.docmeta.where($"path" === p).select("doc_id").as[Long]
      .collect().toSeq == Seq(lift),
      "late original displaced the newer version")
    // non-updated keys resolve to their only version
    val p7 = corpus.where($"doc_id" === 7).select("path").as[String].head()
    assert(idx.docmeta.where($"path" === p7).select("doc_id").as[Long]
      .collect().toSeq == Seq(7L))
    assert(idx.docmeta.count() == corpus.count(), "one live version per key")
  }

  test("watermarked windowed event counts: streaming result == batch oracle") {
    val eventsPath = s"$sfTiny/events.parquet"
    val batch = StreamIndexer.eventCounts(
      spark.read.parquet(eventsPath), withWatermark = false)
      .orderBy("w_start", "event_type").collect().map(_.toSeq).toSeq

    // FileStreamSource wants a directory; the sf table is a single file
    val evDir = tempDir("graft-events")
    Files.copy(java.nio.file.Paths.get(eventsPath),
      java.nio.file.Paths.get(s"$evDir/events.parquet"))
    val schema = spark.read.parquet(eventsPath).schema
    val sq = spark.readStream.schema(schema).parquet(evDir)
    val counts = StreamIndexer.eventCounts(sq)
    val q = counts.writeStream
      .format("memory").queryName("evt_counts")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append mode emits only windows the watermark closed; with one batch of
    // historical data every window except the last open one is final
    val streamed = spark.table("evt_counts")
      .orderBy("w_start", "event_type").collect().map(_.toSeq).toSeq
    assert(streamed.nonEmpty)
    assert(streamed.toSet.subsetOf(batch.toSet),
      "streamed windows must match the batch computation")
    assert(streamed.size >= batch.size - 4, "only trailing open windows may be withheld")
  }

  test("non-range-aligned replay with DIFFERENT content fails loudly") {
    val root = tempDir("graft-stream-clash")
    val inDir = s"$root/in"; val idxDir = s"$root/idx"
    new java.io.File(inDir).mkdirs()
    val corpus = Corpus.fromDocuments(spark, sfTiny)
      .select("doc_id", "repo", "path", "commit", "lang", "content", "sha").cache()
    corpus.where($"doc_id" < 256).write.parquet(s"$inDir/chunkA")
    val q1 = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, s"$root/ck1", cfg)
    q1.awaitTermination()
    // a batch whose ids collide with the committed range but whose content
    // differs must NOT be silently swallowed by the manifest gate
    val clash = corpus.where($"doc_id" < 200)
      .withColumn("content", concat($"content", lit(" tampered")))
      .withColumn("sha", sha2($"content", 256))
    clash.write.parquet(s"$inDir/chunkX")
    val q2 = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, s"$root/ck2", cfg)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq
    assert(chain(err).exists(_.contains("DIFFERENT")),
      s"expected the skipped-range content check to fire, got: ${chain(err).mkString(" | ")}")
    // identical content replay stays a clean no-op
    val q3 = StreamIndexer.start(spark, s"$inDir/chunkA", idxDir, s"$root/ck3", cfg)
    q3.awaitTermination()
  }

  test("exact dedup at ingest: cross-batch + in-batch duplicate shas dropped, state survives restart") {
    val root = tempDir("graft-dedupstream")
    val inDir = s"$root/in"; val idxDir = s"$root/idx"; val ckDir = s"$root/ck"
    new java.io.File(inDir).mkdirs()
    val corpus = Corpus.fromDocuments(spark, sfTiny)
      .select("doc_id", "repo", "path", "commit", "lang", "content", "sha").cache()

    // chunk A: docs 0-255 (range 0)
    corpus.where($"doc_id" < 256).write.parquet(s"$inDir/chunkA")
    val q1 = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, ckDir, cfg,
      dedupSha = true)
    q1.awaitTermination()
    assert(IndexBuild.doneRanges(spark, idxDir) == Set(0L))

    // chunk B (range 1): 10 cross-batch duplicates of chunk-A content,
    // 10 fresh docs, and one in-batch duplicate of a fresh doc
    val crossDups = corpus.where($"doc_id" < 10)
      .withColumn("doc_id", $"doc_id" + 300)
    val fresh = corpus.where($"doc_id" >= 400 && $"doc_id" < 410)
      .withColumn("doc_id", $"doc_id" - 90) // ids 310-319
    val inBatchDup = corpus.where($"doc_id" === 400)
      .withColumn("doc_id", lit(331L))
    crossDups.union(fresh).union(inBatchDup).write.parquet(s"$inDir/chunkB")
    val q2 = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, ckDir, cfg,
      dedupSha = true)
    q2.awaitTermination()

    val idx = new Index(spark, idxDir)
    val metaShas = idx.docmeta.select($"doc_id", $"sha").as[(Long, String)].collect()
    // every cross-batch duplicate dropped; exactly one survivor per sha
    assert(metaShas.count { case (id, _) => id >= 300 && id < 310 } == 0,
      "cross-batch duplicates must not index")
    assert(metaShas.map(_._2).distinct.length == metaShas.length,
      "index must hold one doc per distinct sha")
    // survivor SHA SET == the batch pipeline's exact-dedup survivor set
    // over the same union corpus (which doc_id survives differs by rule:
    // stream = first-arrival, batch = cluster min — disclosed)
    val unionShas = corpus.where($"doc_id" < 256).select($"sha")
      .union(crossDups.select($"sha")).union(fresh.select($"sha"))
      .union(inBatchDup.select($"sha"))
      .distinct().as[String].collect().toSet
    assert(metaShas.map(_._2).toSet == unionShas)
    assert(metaShas.length == 256 + 10) // A + fresh (both dup kinds dropped)
    // restart on the same checkpoint with nothing new: clean no-op
    val mtimes = new java.io.File(s"$idxDir/manifest").listFiles().map(_.lastModified()).toSeq
    val q3 = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, ckDir, cfg,
      dedupSha = true)
    q3.awaitTermination()
    assert(new java.io.File(s"$idxDir/manifest").listFiles()
      .map(_.lastModified()).toSeq == mtimes)
    // a FRESH checkpoint over the FULL input is still a no-op: the replay
    // re-dedups chunk B against chunk A inside its own state and converges
    // on the committed doc set (checked by the skipped-range gate)
    val qFresh = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, s"$root/ckf", cfg,
      dedupSha = true)
    qFresh.awaitTermination()
    assert(new java.io.File(s"$idxDir/manifest").listFiles()
      .map(_.lastModified()).toSeq == mtimes)
    // but replaying chunk B ALONE on a fresh checkpoint has EMPTY dedup
    // state: the cross-batch dups survive dedup, collide with committed
    // range 1's different doc set, and the skipped-range content check
    // fails LOUDLY — the checkpoint (with its state) is part of the
    // stream's identity
    val qBad = StreamIndexer.start(spark, s"$inDir/chunkB", idxDir, s"$root/ck2", cfg,
      dedupSha = true)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qBad.awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq
    assert(chain(err).exists(s => s.contains("DIFFERENT") || s.contains("skipped")),
      s"expected the skipped-range check to fire: ${chain(err).mkString(" | ")}")
  }

  test("compaction: many streamed micro-batch units merge to <=3; queries, filters and attestations unchanged") {
    val root = tempDir("graft-compact")
    val inDir = s"$root/in"; val idxDir = s"$root/idx"
    new java.io.File(inDir).mkdirs()
    // 32-doc ranges: the 500-doc corpus ingests as 16 one-file micro-batches
    // -> 16 committed units (the unbounded-growth shape compaction exists for)
    val c = IndexConfig(segShift = 4, rangeSegsShift = 1)
    val corpus = Corpus.fromDocuments(spark, sfTiny)
      .select("doc_id", "repo", "path", "commit", "lang", "content", "sha").cache()
    (0 until 16).foreach { i => // coalesce(1): a multi-file chunk could
      // straddle maxFilesPerTrigger micro-batches and trip the verifier
      corpus.where($"doc_id" >= i * 32 && $"doc_id" < (i + 1) * 32)
        .coalesce(1).write.parquet(s"$inDir/chunk$i")
    }
    val q1 = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, s"$root/ck", c,
      readOptions = Map("maxFilesPerTrigger" -> "1"))
    q1.awaitTermination()
    assert(IndexBuild.liveUnits(spark, idxDir).size == 16)
    val engBefore = new Engine(new Index(spark, idxDir))
    val topkBefore = engBefore.searchByTerms(SparkEntry.FlagshipTerms, rows = 60)
      .collect().map(_.toSeq).toSeq
    val fqBefore = engBefore.searchByTerms(SparkEntry.FlagshipTerms, rows = 30,
      docFilter = Some(("lang", "en"))).collect().map(_.toSeq).toSeq
    assert(engBefore.index.filterColsComplete == Set("lang", "repo"))

    // compact to <=3 units (greedy 200-doc batches over 16x ~32-doc units)
    val rep = IndexBuild.compact(spark, idxDir, maxUnitDocs = 200)
    assert(rep.unitsBefore.size == 16)
    assert(rep.unitsAfter.size <= 3, s"got ${rep.unitsAfter}")
    assert(rep.unitsCreated.forall(_ < 0))
    // retired unit dirs are GC'd
    assert(new java.io.File(s"$idxDir/manifest").listFiles()
      .count(_.getName.startsWith("range=")) == rep.unitsAfter.size)

    val engAfter = new Engine(new Index(spark, idxDir))
    assert(engAfter.index.ranges == rep.unitsAfter)
    assert(engAfter.index.filterColsComplete == Set("lang", "repo"),
      "filter keys must survive compaction")
    val topkAfter = engAfter.searchByTerms(SparkEntry.FlagshipTerms, rows = 60)
      .collect().map(_.toSeq).toSeq
    assert(topkAfter == topkBefore, "q_wand_topk must be hash-identical after compaction")
    val fqAfter = engAfter.searchByTerms(SparkEntry.FlagshipTerms, rows = 30,
      docFilter = Some(("lang", "en"))).collect().map(_.toSeq).toSeq
    assert(fqAfter == fqBefore, "bitmap fq must be hash-identical after compaction")
    // sha invariant (q_sha_invariant shape): docmeta sha == source snapshot
    val mism = engAfter.index.docmeta.as("m")
      .join(corpus.as("c"), Seq("doc_id"))
      .where(col("m.sha") =!= col("c.sha")).count()
    assert(mism == 0)
    assert(engAfter.index.docmeta.count() == corpus.count())
    // stats from the compacted manifest match the pre-compaction ones
    assert(engAfter.index.stats == engBefore.index.stats)

    // all 16 doc ranges remain "done": a full replay with a fresh
    // checkpoint is still an exactly-once no-op, verified per range via the
    // preserved DocRangeStat attestations
    assert(IndexBuild.doneRanges(spark, idxDir).size == 16)
    val q2 = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, s"$root/ck2", c)
    q2.awaitTermination()
    assert(IndexBuild.liveUnits(spark, idxDir).toSet == rep.unitsAfter.toSet,
      "replay after compaction must not create units")
    // ...and a tampered overlapping batch still fails loudly
    val clash = corpus.where($"doc_id" < 64)
      .withColumn("content", concat($"content", lit(" tampered")))
      .withColumn("sha", sha2($"content", 256))
    clash.write.parquet(s"$inDir/chunkX")
    val qx = StreamIndexer.start(spark, s"$inDir/chunkX", idxDir, s"$root/ckX", c)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      qx.awaitTermination()
    }
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq
    assert(chain(err).exists(_.contains("DIFFERENT")))

    // compaction is idempotent: a second run under the same bound no-ops
    val rep2 = IndexBuild.compact(spark, idxDir, maxUnitDocs = 200)
    assert(rep2.unitsCreated.isEmpty && rep2.unitsAfter == rep.unitsAfter)

    // crash-before-GC simulation: resurrect a retired unit's manifest dir
    // (committed again, but shadowed by the compacted unit's retires list).
    // liveUnits must keep ignoring it and the next compact must sweep it.
    val fs = new org.apache.hadoop.fs.Path(idxDir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val retiredId = 0L
    spark.range(1).selectExpr(
      s"CAST($retiredId AS LONG) AS range_id", "CAST(32 AS LONG) AS n_docs",
      "CAST(100 AS LONG) AS sum_dl", "CAST(32 AS LONG) AS n_rows",
      "CAST(7 AS LONG) AS checksum", "4 AS seg_shift", "1 AS range_segs_shift",
      "CAST(1 AS LONG) AS build_ms",
      s"array(named_struct('range_id', CAST($retiredId AS LONG), 'n_rows', CAST(32 AS LONG), 'checksum', CAST(7 AS LONG))) AS doc_ranges",
      "CAST(array() AS ARRAY<LONG>) AS retires")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"${IndexBuild.manifestDir(idxDir)}/range=$retiredId")
    assert(IndexBuild.committedUnits(spark, idxDir).contains(retiredId))
    assert(!IndexBuild.liveUnits(spark, idxDir).contains(retiredId),
      "a resurrected retired unit must stay shadowed")
    IndexBuild.compact(spark, idxDir, maxUnitDocs = 200) // sweep
    val leftover = IndexBuild.unitStoreDirs(idxDir).filter(d =>
      fs.exists(new org.apache.hadoop.fs.Path(s"$d/range=$retiredId")))
    assert(leftover.isEmpty,
      s"orphaned retired dirs must be GC-swept by the next compaction: $leftover")
  }

  test("inline maintenance: streaming with maxLiveUnits keeps the unit count bounded") {
    val root = tempDir("graft-stream-maint")
    val inDir = s"$root/in"; val idxDir = s"$root/idx"
    new java.io.File(inDir).mkdirs()
    val c = IndexConfig(segShift = 4, rangeSegsShift = 1) // 32-doc ranges
    val corpus = Corpus.fromDocuments(spark, sfTiny)
      .select("doc_id", "repo", "path", "commit", "lang", "content", "sha").cache()
    (0 until 16).foreach { i => // coalesce(1): a multi-file chunk could
      // straddle maxFilesPerTrigger micro-batches and trip the verifier
      corpus.where($"doc_id" >= i * 32 && $"doc_id" < (i + 1) * 32)
        .coalesce(1).write.parquet(s"$inDir/chunk$i")
    }
    val q = StreamIndexer.start(spark, s"$inDir/chunk*", idxDir, s"$root/ck", c,
      readOptions = Map("maxFilesPerTrigger" -> "4"), maxLiveUnits = 3)
    q.awaitTermination()
    val live = IndexBuild.liveUnits(spark, idxDir)
    assert(live.size <= 3, s"maintenance did not bound units: $live")
    assert(IndexBuild.doneRanges(spark, idxDir).size == 16)
    // and the maintained index answers like a batch-built one
    val batchDir = s"$root/batch"
    IndexBuild.build(spark, corpus, batchDir, c)
    val a = new Engine(new Index(spark, idxDir))
      .searchByTerms(SparkEntry.FlagshipTerms, rows = 30).collect().map(_.toSeq).toSeq
    val b = new Engine(new Index(spark, batchDir))
      .searchByTerms(SparkEntry.FlagshipTerms, rows = 30).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("format check: a unit with codec_ver 1 or no codec_ver fails the Index") {
    val root = tempDir("graft-format")
    val idxDir = s"$root/idx"
    val corpus = Corpus.fromDocuments(spark, sfTiny)
      .select("doc_id", "repo", "path", "commit", "lang", "content", "sha")
    IndexBuild.build(spark, corpus, idxDir, cfg) // 2 units at 256-doc ranges
    assert(new Index(spark, idxDir).stats._1 > 0)
    val mdir = s"${IndexBuild.manifestDir(idxDir)}/range=0"
    val cur = spark.read.parquet(mdir)
    val orig = spark.createDataFrame(
      spark.sparkContext.parallelize(cur.collect().toSeq, 1), cur.schema)
    for ((layout, m) <- Seq(
        "codec_ver = 1" -> orig.withColumn("codec_ver", lit(1)),
        "codec_ver = 2" -> orig.withColumn("codec_ver", lit(2)),
        "no codec_ver column" -> orig.drop("codec_ver"))) {
      m.coalesce(1).write.mode("overwrite").parquet(mdir)
      val e = intercept[IllegalStateException](new Index(spark, idxDir).stats)
      assert(e.getMessage.contains("codec_ver"), s"$layout: ${e.getMessage}")
    }
  }

  test("stateful sessionization: streamed (flatMapGroupsWithState) == batch gaps-and-islands") {
    val eventsPath = s"$sfTiny/events.parquet"
    val batch = StreamIndexer.sessionize(spark.read.parquet(eventsPath))
      .collect().map(_.toSeq).toSet
    val nUsers = spark.read.parquet(eventsPath)
      .select("user_id").distinct().count().toInt
    // chronological weekly chunks so the watermark advances between
    // micro-batches and event-time timeouts actually fire
    val evDir = tempDir("graft-sess")
    val ev = spark.read.parquet(eventsPath)
    Seq(("chunk0", "ts < '2024-01-08'"),
      ("chunk1", "ts >= '2024-01-08' AND ts < '2024-01-16'"),
      ("chunk2", "ts >= '2024-01-16' AND ts < '2024-01-24'"),
      ("chunk3", "ts >= '2024-01-24'")).foreach { case (name, predicate) =>
      ev.where(predicate).coalesce(1).write.parquet(s"$evDir/$name")
    }
    val schema = ev.schema
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$evDir/chunk*")
    val q = StreamIndexer.sessionizeStream(spark, src)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table("sessions").collect().map(_.toSeq).toSet
    assert(streamed.nonEmpty)
    assert(streamed.subsetOf(batch),
      s"streamed sessions must match batch; extras: ${(streamed -- batch).take(3)}")
    // only each user's final (still-open at the last watermark) session may
    // be withheld
    assert(streamed.size >= batch.size - nUsers,
      s"streamed ${streamed.size} of ${batch.size} (nUsers=$nUsers)")
  }

  test("stateful sessionization merges late cross-batch events (backward start extension)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val df = ms.toDF().toDF("user_id", "ts", "value")
    val q = StreamIndexer.sessionizeStream(spark, df)
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    def t(min: Long) = new java.sql.Timestamp(1700000000000L + min * 60000L)
    try {
      // batch 1: on-time event at minute 60
      ms.addData((1L, t(60), 1.0)); q.processAllAvailable()
      // batch 2: a LATE event at minute 55 (within the 10-min watermark
      // allowance — must extend the open session backward) + one at 65.
      // The negative-value event also pins the HALF_UP rounding parity.
      ms.addData((1L, t(55), -2.355), (1L, t(65), 4.0)); q.processAllAvailable()
      // push the watermark past the session's gap horizon, then one more
      // batch so the event-time timeout actually fires
      ms.addData((2L, t(60 + 480 + 60), 0.5)); q.processAllAvailable()
      ms.addData((2L, t(60 + 480 + 120), 0.5)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("late_sessions").where(col("user_id") === 1L)
      .collect().map(_.toSeq).toSet
    val batchTwin = StreamIndexer.sessionize(
      Seq((1L, 1L, t(60), 1.0), (2L, 1L, t(55), -2.355), (3L, 1L, t(65), 4.0))
        .toDF("event_id", "user_id", "ts", "value"))
      .collect().map(_.toSeq).toSet
    assert(streamed == batchTwin, s"streamed $streamed != batch $batchTwin")
  }

  test("prune budget == the reference clamp rule (accuracy*len in [3, len])") {
    // StatsUtils.clamp(acc * len, 3, len) (LireRequestHandler.java:488-490)
    // vs Engine.prune's max(3, floor(n*acc)) capped by take() at list size
    def refClamp(acc: Double, len: Int): Int =
      math.max(3, math.min((acc * len).toInt, len))
    for (len <- Seq(3, 5, 10, 64, 100); acc <- Seq(0.1, 0.33, 0.5, 0.9, 1.0, 1.5)) {
      val ours = math.min(math.max(3, math.floor(len * acc).toInt), len)
      assert(ours == refClamp(acc, len), s"len=$len acc=$acc")
    }
  }
}
