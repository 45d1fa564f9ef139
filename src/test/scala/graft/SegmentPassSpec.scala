package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.corpus.Corpus
import graft.index.{IndexBuild, IndexConfig}
import graft.query.{BruteScorer, Engine, Index}

/** The segment-local query pass: every scan task scores the whole
  * segments it holds and the driver merges the tasks' heaps, in one job.
  * Pinned here: segments stay whole when Spark splits files, every write
  * keeps a segment in one file, the job counts, and the side join giving
  * the same results broadcast or shuffled.
  */
class SegmentPassSpec extends SparkSpec {
  import spark.implicits._

  // 64-doc segments, 32 per unit: 2000 docs make one unit of 32 segments
  // written to two files
  val cfg = IndexConfig(segShift = 6, rangeSegsShift = 5, buildPartitions = 2)
  val Files = 2000L

  def synth(s: SparkSession): DataFrame = Corpus.synthesize(s, Files, partitions = 4)

  lazy val defaultDir: String = {
    val d = tempDir("graft-segpass")
    IndexBuild.build(spark, synth(spark), d, cfg)
    d
  }
  lazy val engine = new Engine(new Index(spark, defaultDir))
  lazy val docs: Seq[(Long, String)] =
    synth(spark).select($"doc_id", $"content").as[(Long, String)].collect().toSeq

  /** Three hottest terms, three rare ones (df 2..20), and a mix. */
  lazy val queries: Seq[Seq[(String, Double)]] = {
    val byDf = engine.index.dictionary.where($"term".startsWith("w:"))
      .select($"term", $"df".cast("long")).as[(String, Long)].collect().sortBy(t => (-t._2, t._1))
    val hot = byDf.take(3).map(_._1).toSeq
    val rare = byDf.filter(t => t._2 >= 2 && t._2 <= 20).map(_._1).take(3).toSeq
    assert(rare.size == 3, "corpus too flat for a rare query")
    Seq(hot, rare, hot.take(2) ++ rare.take(2)).map(_.map(_ -> 1.0))
  }

  private def triples(df: DataFrame): Seq[(Long, Long, Long)] =
    df.as[(Long, Long, Long)].collect().toSeq

  test("segments stay whole under file splitting: top-k == brute scorer == default run") {
    val split = spark.newSession()
    split.conf.set("parquet.block.size", (64 * 1024).toString)
    split.conf.set("spark.sql.files.maxPartitionBytes", (128 * 1024).toString)
    val dir = tempDir("graft-segsplit")
    IndexBuild.build(split, synth(split), dir, cfg)
    def segsOverPartitions(df: DataFrame): Long =
      df.select(col("seg_id"), spark_partition_id().as("p")).distinct()
        .groupBy(col("seg_id")).count().where(col("count") > 1).count()
    // precondition: plain parquet splits the files and spreads segments
    assert(segsOverPartitions(split.read.parquet(IndexBuild.segmentsDir(dir))) > 0,
      "precondition: plain parquet keeps every segment in one partition")
    val eng = new Engine(new Index(split, dir))
    assert(segsOverPartitions(eng.index.segments) == 0, "a segment spans two scan partitions")
    queries.foreach { q =>
      val got = triples(eng.searchByTerms(q, rows = 30))
      val brute = BruteScorer.topK(docs, q, 30)
      assert(got.map(t => (t._2, t._3)) == brute.map(s => (s.docId, s.scoreQ)), s"brute $q")
      assert(got == triples(engine.searchByTerms(q, rows = 30)), s"default run $q")
      assert(triples(eng.searchByTerms(q, rows = 30, docFilter = Some("lang" -> "java"))) ==
        triples(engine.searchByTerms(q, rows = 30, docFilter = Some("lang" -> "java"))), s"fq $q")
    }
    val batch = queries.zipWithIndex.map { case (q, i) => i.toLong -> q }
    assert(eng.searchManyByTerms(batch, rows = 30).collect().toSeq ==
      engine.searchManyByTerms(batch, rows = 30).collect().toSeq)
  }

  test("every build, upsert and compaction unit keeps each seg_id in one file") {
    val c = IndexConfig(segShift = 5, rangeSegsShift = 3) // 8 segments per unit
    val base = Corpus.fromDocuments(spark, sfTiny)
    val dir = tempDir("graft-segfiles")
    def assertOneFilePerSegment(step: String): Unit =
      IndexBuild.liveUnits(spark, dir).foreach { u =>
        val spread = spark.read.parquet(s"${IndexBuild.segmentsDir(dir)}/range=$u")
          .select(col("seg_id"), input_file_name().as("f")).distinct()
          .groupBy(col("seg_id")).count().where(col("count") > 1)
          .as[(Long, Long)].collect()
        assert(spread.isEmpty, s"$step: unit $u spreads segments over files: ${spread.toSeq}")
      }
    IndexBuild.build(spark, base, dir, c)
    assertOneFilePerSegment("build")
    val updates = base.where(col("doc_id") % 17 === 0)
      .withColumn("doc_id", col("doc_id") + 1024L)
      .withColumn("content", concat(col("content"), lit(" zzupserted")))
    IndexBuild.upsert(spark, updates, dir, c, keyCols = Seq("path"))
    assertOneFilePerSegment("upsert")
    IndexBuild.compact(spark, dir)
    assert(IndexBuild.liveUnits(spark, dir).size == 1, "compaction left several units")
    assertOneFilePerSegment("compaction")
  }

  test("one job per unfiltered query and per batch, at most two with a covered fq") {
    val terms = queries(2)
    val batch = queries.zipWithIndex.map { case (q, i) => i.toLong -> q }
    val fq = Some("lang" -> "java")
    // first calls load the index's lazy state (manifest, stats, vocabulary)
    engine.searchByTerms(terms, rows = 30, docFilter = fq)
    engine.searchManyByTerms(batch, rows = 30)
    queries.foreach { q =>
      val (_, n) = jobsOf(engine.searchByTerms(q, rows = 30))
      assert(n == 1, s"$q ran $n jobs")
    }
    assert(jobsOf(engine.searchManyByTerms(batch, rows = 30))._2 == 1)
    val (_, nFq) = jobsOf(engine.searchByTerms(terms, rows = 30, docFilter = fq))
    assert(nFq <= 2, s"covered fq ran $nFq jobs")
  }

  test("forced shuffle join: fq, kills, predicate, facets, grouping == the broadcast run") {
    val base = Corpus.fromDocuments(spark, sfTiny)
    val c = IndexConfig(segShift = 5, rangeSegsShift = 1)
    val dir = tempDir("graft-segshuffle")
    IndexBuild.build(spark, base, dir, c)
    IndexBuild.deleteByKeys(spark, base.where(col("doc_id") % 13 === 1).select("path"), dir)
    val shuffled = spark.newSession()
    shuffled.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bcast = new Engine(new Index(spark, dir))
    val shuf = new Engine(new Index(shuffled, dir))
    assert(bcast.index.hasTombstones, "precondition: the index holds kills")
    val terms = SparkEntry.FlagshipTerms
    def joinsOf(pass: org.apache.spark.sql.Dataset[_]): String = {
      pass.collect()
      pass.queryExecution.executedPlan.toString
    }
    val pb = joinsOf(bcast.termsPass(terms, rows = 30, docFilter = Some("lang" -> "en")))
    val ps = joinsOf(shuf.termsPass(terms, rows = 30, docFilter = Some("lang" -> "en")))
    assert(pb.contains("BroadcastHashJoin"), s"precondition: side not broadcast\n$pb")
    assert(!ps.contains("BroadcastHashJoin") &&
      (ps.contains("SortMergeJoin") || ps.contains("ShuffledHashJoin")),
      s"precondition: side join not shuffled\n$ps")
    def same(name: String)(f: Engine => DataFrame): Unit = {
      val a = f(bcast).collect().map(_.toSeq).toSeq
      val b = f(shuf).collect().map(_.toSeq).toSeq
      assert(a.nonEmpty, s"$name: empty")
      assert(a.sortBy(_.toString) == b.sortBy(_.toString), s"$name differs")
    }
    same("fq")(_.searchByTerms(terms, rows = 30, docFilter = Some("lang" -> "en")))
    same("kills")(_.searchByTerms(terms, rows = 30))
    same("predicate")(_.searchByTerms(terms, rows = 30, docPred = Some(col("lang") === "en")))
    same("bool")(_.searchBool(terms, mustNot = Seq("w:dup"), rows = 30,
      docFilter = Some("lang" -> "en")))
    same("facet")(_.facet(terms, "lang"))
    same("facet fq")(_.facet(terms, "repo", docFilter = Some("lang" -> "en")))
    same("pivot")(_.facetPivot(terms, "lang", "repo"))
    same("grouped")(_.searchGrouped(terms, "repo", groupLimit = 2, groups = 5))
    same("grouped fq")(_.searchGrouped(terms, "repo", groupLimit = 2, groups = 5,
      docFilter = Some("lang" -> "en")))
    same("block join")(_.blockJoinParents(terms))
  }
}
