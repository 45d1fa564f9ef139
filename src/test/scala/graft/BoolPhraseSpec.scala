package graft

import org.apache.spark.sql.functions._
import graft.analyze.Tokenizer
import graft.corpus.Corpus
import graft.index.IndexBuild
import graft.query.{Bm25, BruteScorer, Engine}

/** Lucene BooleanQuery (MUST/MUST_NOT) and PhraseQuery semantics vs a
  * plain-Scala brute reference over the tiny corpus.
  */
class BoolPhraseSpec extends SparkSpec {
  import spark.implicits._

  lazy val engine = Engine.forDir(spark, sfTiny)
  lazy val corpus = Corpus.fromDocuments(spark, sfTiny).cache()
  lazy val docs: Seq[(Long, String)] =
    corpus.select($"doc_id", $"content").as[(Long, String)].collect().toSeq
  lazy val termSets: Map[Long, Set[String]] =
    docs.map { case (id, c) => id -> Tokenizer.termsScala(c).toSet }.toMap

  /** Brute BooleanQuery: global-stats BM25 over should ∪ must (prohibited
    * should terms dropped), then the match-set filter.
    */
  private def bruteBool(should: Seq[(String, Double)], must: Seq[(String, Double)],
      mustNot: Seq[String], k: Int): Seq[BruteScorer.Scored] = {
    val notSet = mustNot.toSet
    val qTerms = should.filterNot(t => notSet(t._1)) ++ must
    BruteScorer.topK(docs, qTerms, Int.MaxValue)
      .filter { s =>
        val ts = termSets(s.docId)
        must.forall(m => ts(m._1)) && !mustNot.exists(ts)
      }.take(k)
  }

  private def checkBool(should: Seq[(String, Double)], must: Seq[(String, Double)],
      mustNot: Seq[String], k: Int): Unit = {
    val got = engine.searchBool(should, must, mustNot, rows = k)
      .as[(Long, Long, Long)].collect().toSeq
    val exp = bruteBool(should, must, mustNot, k)
    assert(got.map(_._2) == exp.map(_.docId), "doc order")
    assert(got.map(_._3) == exp.map(_.scoreQ), "scores")
  }

  test("MUST term filters AND scores (Lucene BooleanWeight semantics)") {
    checkBool(SparkEntry.FlagshipTerms, Seq("w:window" -> 1.0), Nil, 60)
    // required-only query (no should clauses)
    checkBool(Nil, Seq("w:window" -> 1.0, "w:dup" -> 1.0), Nil, 60)
  }

  test("MUST_NOT excludes every doc holding the term and never scores") {
    val got = engine.searchBool(SparkEntry.FlagshipTerms, Nil, Seq("w:stream"), rows = 60)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty)
    got.foreach { case (_, id, _) =>
      assert(!termSets(id)("w:stream"), s"doc $id holds the prohibited term")
    }
    checkBool(SparkEntry.FlagshipTerms, Nil, Seq("w:stream"), 60)
  }

  test("mixed clauses with boosts; a should term that is also prohibited is dropped") {
    // BoostedTerms contains w:stream^0.33 — prohibited below, so it must
    // contribute nothing to surviving docs' scores
    checkBool(SparkEntry.BoostedTerms, Seq("w:join" -> 0.5), Seq("w:stream"), 60)
  }

  test("boolean clauses compose with fq and with each other") {
    val enDocs = corpus.where($"lang" === "en").select($"doc_id").as[Long].collect().toSet
    val exp = bruteBool(SparkEntry.FlagshipTerms, Seq("w:window" -> 1.0),
      Seq("w:stream"), Int.MaxValue).filter(s => enDocs.contains(s.docId)).take(40)
    for (filt <- Seq(
        engine.searchBool(SparkEntry.FlagshipTerms, Seq("w:window" -> 1.0),
          Seq("w:stream"), rows = 40, docFilter = Some(("lang", "en"))),
        engine.searchBool(SparkEntry.FlagshipTerms, Seq("w:window" -> 1.0),
          Seq("w:stream"), rows = 40, docPred = Some(col("lang") === "en")))) {
      val got = filt.as[(Long, Long, Long)].collect().toSeq
      assert(got.map(_._2) == exp.map(_.docId))
      assert(got.map(_._3) == exp.map(_.scoreQ))
    }
  }

  test("a MUST term with df=0 empties the result; empty clauses = plain search") {
    assert(engine.searchBool(SparkEntry.FlagshipTerms,
      Seq("w:zzznosuch" -> 1.0), Nil, rows = 60).count() == 0)
    val plain = engine.searchByTerms(SparkEntry.FlagshipTerms, rows = 60)
      .collect().map(_.toSeq).toSeq
    val bool = engine.searchBool(SparkEntry.FlagshipTerms, Nil, Nil, rows = 60)
      .collect().map(_.toSeq).toSeq
    assert(bool == plain)
  }

  test("boolean clauses on the dense-array route stay rank-identical") {
    val hotTerms = engine.index.dictionary
      .orderBy($"df".desc, $"term".asc).limit(3)
      .select($"term").as[String].collect().toSeq.map(_ -> 1.0)
    assert(engine.routesDense(hotTerms, rows = 30), "precondition: hot query routes dense")
    checkBool(hotTerms, Seq("w:window" -> 1.0), Seq("w:dup"), 30)
  }

  // ------------------------------------------------------------------
  // PhraseQuery
  // ------------------------------------------------------------------

  /** Brute PhraseQuery: tf = positional phrase count, weight = Σ idf over
    * phrase positions, global BruteScorer-style stats.
    */
  private def brutePhrase(phrase: String, k: Int): Seq[BruteScorer.Scored] = {
    val toks = Tokenizer.tokenizeScala(phrase)
    val words = toks.map("w:" + _)
    val nonEmpty = docs.filter(d => Tokenizer.tokenCountScala(d._2) > 0)
    val n = nonEmpty.size.toDouble
    val dls = nonEmpty.map { case (id, c) =>
      id -> math.min(Tokenizer.dlOf(Tokenizer.tokenCountScala(c)), IndexBuild.MaxDl).toDouble
    }.toMap
    val avgdl = dls.values.sum / n
    val df: Map[String, Int] =
      words.distinct.map(w => w -> docs.count(d => termSets(d._1)(w))).toMap
    if (words.exists(w => df(w) == 0)) return Nil
    val idfSum = words.map(w => Bm25.idf(df(w).toDouble, n)).sum
    nonEmpty.flatMap { case (id, c) =>
      val ts = Tokenizer.tokenizeScala(c)
      val pf = (0 to ts.length - toks.length)
        .count(i => toks.indices.forall(j => ts(i + j) == toks(j)))
      if (pf > 0) Some(BruteScorer.Scored(id, idfSum * Bm25.tfNorm(pf.toDouble, dls(id), avgdl)))
      else None
    }.sortBy(s => (-s.scoreQ, s.docId)).take(k)
  }

  private def checkPhrase(phrase: String, k: Int): Unit = {
    val got = engine.searchPhrase(phrase, rows = k)
      .as[(Long, Long, Long)].collect().toSeq
    val exp = brutePhrase(phrase, k)
    assert(got.map(_._2) == exp.map(_.docId), s"'$phrase' doc order")
    assert(got.map(_._3) == exp.map(_.scoreQ), s"'$phrase' scores")
  }

  test("phrase query rank-identical to brute positional scorer") {
    checkPhrase(SparkEntry.PhraseBigram, 60)
    checkPhrase(SparkEntry.PhraseTrigram, 60)
    checkPhrase("batch batch", 60) // self-adjacent token: overlapping windows count
  }

  test("phrase verify removes every shingle-collision false positive") {
    val toks = Tokenizer.tokenizeScala(SparkEntry.PhraseBigram)
    val got = engine.searchPhrase(SparkEntry.PhraseBigram, rows = 10000)
      .select($"doc_id").as[Long].collect().toSet
    val truth = docs.filter { case (_, c) =>
      val ts = Tokenizer.tokenizeScala(c)
      (0 to ts.length - toks.length).exists(i => toks.indices.forall(j => ts(i + j) == toks(j)))
    }.map(_._1).toSet
    assert(got == truth, "phrase match set must be exact (no collision FPs, no misses)")
  }

  /** Every (doc_id, score_q) match of a phrase through [[Engine.searchPhrase]]. */
  private def phraseAll(phrase: String, slop: Int = 0): Seq[(Long, Long)] =
    engine.searchPhrase(phrase, rows = docs.size, slop = slop)
      .as[(Long, Long, Long)].collect().map(r => (r._2, r._3)).sortBy(_._1).toSeq

  test("positional route is on and is score-identical to the stored-field twin") {
    for (phrase <- Seq(SparkEntry.PhraseBigram, SparkEntry.PhraseTrigram, "batch batch")) {
      val toks = Tokenizer.tokenizeScala(phrase)
      val words = toks.toSeq.map("w:" + _)
      val dfs = engine.index.dfOf(words.distinct)
      val (n, avgdl) = engine.index.stats
      val idfSum = words.map(w => Bm25.idf(dfs(w).toDouble, n.toDouble)).sum
      val pos = phraseAll(phrase)
      val stored = SpecTwins.phraseScoresStored(corpus, toks, 1.0, idfSum, avgdl)
        .collect().map(s => (s.docId, s.scoreQ)).sortBy(_._1).toSeq
      assert(pos == stored, s"'$phrase': positional vs stored verify diverge")
      assert(pos.nonEmpty, s"'$phrase': twin pin must be non-vacuous")
    }
  }

  /** Brute sloppy pf under the independent-window rule of
    * [[Engine.phraseMatches]]: anchor i of word0 matches when every word j
    * has an occurrence in [i+j-slop, i+j+slop].
    */
  private def bruteSloppyPf(ts: Array[String], toks: Array[String], slop: Int): Int =
    ts.indices.count { i =>
      ts(i) == toks(0) && toks.indices.tail.forall { j =>
        val lo = math.max(0, i + j - slop)
        val hi = math.min(ts.length - 1, i + j + slop)
        (lo to hi).exists(q => ts(q) == toks(j))
      }
    }

  private def bruteSloppy(phrase: String, slop: Int, k: Int): Seq[BruteScorer.Scored] = {
    val toks = Tokenizer.tokenizeScala(phrase)
    val words = toks.map("w:" + _)
    val nonEmpty = docs.filter(d => Tokenizer.tokenCountScala(d._2) > 0)
    val n = nonEmpty.size.toDouble
    val dls = nonEmpty.map { case (id, c) =>
      id -> math.min(Tokenizer.dlOf(Tokenizer.tokenCountScala(c)), IndexBuild.MaxDl).toDouble
    }.toMap
    val avgdl = dls.values.sum / n
    val df: Map[String, Int] =
      words.distinct.map(w => w -> docs.count(d => termSets(d._1)(w))).toMap
    if (words.exists(w => df(w) == 0)) return Nil
    val idfSum = words.map(w => Bm25.idf(df(w).toDouble, n)).sum
    nonEmpty.flatMap { case (id, c) =>
      val pf = bruteSloppyPf(Tokenizer.tokenizeScala(c), toks, slop)
      if (pf > 0) Some(BruteScorer.Scored(id, idfSum * Bm25.tfNorm(pf.toDouble, dls(id), avgdl)))
      else None
    }.sortBy(s => (-s.scoreQ, s.docId)).take(k)
  }

  test("sloppy phrase rank-identical to the brute window scorer; slop 0 = exact") {
    for (slop <- Seq(1, 2, 3)) {
      val got = engine.searchPhrase(SparkEntry.PhraseBigram, rows = 10000, slop = slop)
        .as[(Long, Long, Long)].collect().toSeq
      val exp = bruteSloppy(SparkEntry.PhraseBigram, slop, 10000)
      assert(exp.nonEmpty, s"slop $slop pin must be non-vacuous")
      assert(got.map(_._2) == exp.map(_.docId), s"slop $slop doc order")
      assert(got.map(_._3) == exp.map(_.scoreQ), s"slop $slop scores")
    }
    // slop 0 through the slop parameter IS the exact route
    val exact = engine.searchPhrase(SparkEntry.PhraseBigram, rows = 60)
      .collect().map(_.toSeq).toSeq
    val slop0 = engine.searchPhrase(SparkEntry.PhraseBigram, rows = 60, slop = 0)
      .collect().map(_.toSeq).toSeq
    assert(exact == slop0)
    // trigram: the ≥3-word independent-window rule
    val got3 = engine.searchPhrase(SparkEntry.PhraseTrigram, rows = 10000, slop = 2)
      .as[(Long, Long, Long)].collect().toSeq
    val exp3 = bruteSloppy(SparkEntry.PhraseTrigram, 2, 10000)
    assert(got3.map(_._2) == exp3.map(_.docId) && got3.map(_._3) == exp3.map(_.scoreQ))
  }

  test("sloppy positional route is score-identical to the stored-field twin") {
    val toks = Tokenizer.tokenizeScala(SparkEntry.PhraseBigram)
    val words = toks.toSeq.map("w:" + _)
    val dfs = engine.index.dfOf(words.distinct)
    val (n, avgdl) = engine.index.stats
    val idfSum = words.map(w => Bm25.idf(dfs(w).toDouble, n.toDouble)).sum
    for (slop <- Seq(1, 2)) {
      val pos = phraseAll(SparkEntry.PhraseBigram, slop)
      val stored = SpecTwins.phraseScoresStored(corpus, toks, 1.0, idfSum, avgdl, slop)
        .collect().map(s => (s.docId, s.scoreQ)).sortBy(_._1).toSeq
      assert(pos == stored, s"slop $slop: positional vs stored verify diverge")
      assert(pos.nonEmpty, s"slop $slop: twin pin must be non-vacuous")
    }
  }

  test("slop widens monotonically and slop 2 admits the reversed adjacent bigram") {
    val toks = Tokenizer.tokenizeScala(SparkEntry.PhraseBigram)
    def matchSet(slop: Int): Set[Long] =
      engine.searchPhrase(SparkEntry.PhraseBigram, rows = 10000, slop = slop)
        .select($"doc_id").as[Long].collect().toSet
    val s0 = matchSet(0); val s1 = matchSet(1); val s2 = matchSet(2)
    assert(s0.subsetOf(s1) && s1.subsetOf(s2), "sloppy match sets must nest")
    assert(s0.size < s1.size && s1.size < s2.size,
      "gates chose a phrase where each slop is strictly wider")
    // a doc holding ONLY the reversed adjacent order ("join hash") matches
    // at slop 2 and not below — Lucene's transposition distance
    val revOnly = docs.collect {
      case (id, c) if {
        val ts = Tokenizer.tokenizeScala(c)
        bruteSloppyPf(ts, toks, 1) == 0 &&
          (0 until ts.length - 1).exists(i => ts(i) == toks(1) && ts(i + 1) == toks(0))
      } => id
    }
    assert(revOnly.nonEmpty, "corpus must hold a reversed-only doc (non-vacuous)")
    revOnly.foreach { id =>
      assert(!s1.contains(id) && s2.contains(id), s"doc $id: reversal is slop-2")
    }
  }

  test("parsed `\"…\"~N` routes through the sloppy scorer (gate twin)") {
    val viaParser = engine.searchParsed(
      "\"" + SparkEntry.PhraseBigram + "\"~2", rows = 60).collect().map(_.toSeq).toSeq
    val direct = engine.searchPhrase(SparkEntry.PhraseBigram, rows = 60, slop = 2)
      .collect().map(_.toSeq).toSeq
    assert(viaParser == direct)
  }

  test("a negative slop is rejected, for a one-word phrase too") {
    for (phrase <- Seq("window", SparkEntry.PhraseBigram)) {
      val e = intercept[IllegalArgumentException](
        engine.searchPhrase(phrase, rows = 10, slop = -1))
      assert(e.getMessage.contains("negative slop"), s"'$phrase': ${e.getMessage}")
    }
  }

  test("phrase and parsed-with-phrase queries run one Spark job per call") {
    val calls: Seq[(String, () => Unit)] = Seq(
      "exact phrase" -> (() => engine.searchPhrase(SparkEntry.PhraseBigram, rows = 60)),
      "slop-2 phrase" -> (() => engine.searchPhrase(SparkEntry.PhraseBigram, rows = 60,
        slop = 2)),
      "parsed mixed" -> (() => engine.searchParsed(SparkEntry.ParsedMixedQuery, rows = 60)),
      "parsed mixed req" -> (() =>
        engine.searchParsed(SparkEntry.ParsedMixedReqQuery, rows = 60)))
    // first calls load the index's lazy state (manifest, stats, vocabulary)
    calls.foreach(_._2())
    calls.foreach { case (name, call) =>
      val (_, n) = jobsOf(call())
      assert(n == 1, s"$name ran $n jobs")
    }
  }

  test("one-word phrase degrades to the TermQuery it is in Lucene") {
    val a = engine.searchPhrase("window", rows = 30).collect().map(_.toSeq).toSeq
    val b = engine.searchByTerms(Seq("w:window" -> 1.0), rows = 30).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("phrase absent from the corpus returns empty (df=0 word / never-adjacent pair)") {
    assert(engine.searchPhrase("zzznosuch join", rows = 10).count() == 0)
    // both words exist; the exact adjacency does not have to
    val never = engine.searchPhrase("the the the the the the the the", rows = 10)
    val toks = Array.fill(8)("the")
    val truth = docs.count { case (_, c) =>
      val ts = Tokenizer.tokenizeScala(c)
      (0 to ts.length - 8).exists(i => (0 until 8).forall(j => ts(i + j) == "the"))
    }
    assert(never.count() == truth)
  }
}
