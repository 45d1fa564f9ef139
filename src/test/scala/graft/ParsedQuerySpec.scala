package graft

import graft.analyze.Tokenizer
import graft.corpus.Corpus
import graft.index.IndexBuild
import graft.query.{Bm25, Engine, Index}

/** Lucene QueryParser surface: grammar ([[Engine.parseLucene]]), the
  * PrefixQuery / FuzzyQuery multi-term rewrites, and the full parsed-query
  * score composition ([[Engine.searchParsed]]) vs a plain-Scala brute
  * reference over the tiny corpus.
  */
class ParsedQuerySpec extends SparkSpec {
  import spark.implicits._
  import Engine.{FuzzyClause, Occur, PhraseClause, PrefixClause, TermClause, WildcardClause}

  lazy val engine = Engine.forDir(spark, sfTiny)
  lazy val corpus = Corpus.fromDocuments(spark, sfTiny).cache()
  lazy val docs: Seq[(Long, String)] =
    corpus.select($"doc_id", $"content").as[(Long, String)].collect().toSeq
  lazy val termSets: Map[Long, Set[String]] =
    docs.map { case (id, c) => id -> Tokenizer.termsScala(c).toSet }.toMap
  lazy val dfMap: Map[String, Int] =
    termSets.values.flatMap(_.iterator).groupBy(identity).view.mapValues(_.size).toMap

  /** Unit-cost Levenshtein (the same semantics as Spark's / DuckDB's). */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1)(i => i)
    for (j <- 1 to b.length) {
      var prev = d(0)
      d(0) = j
      for (i <- 1 to a.length) {
        val t = d(i)
        d(i) = math.min(math.min(d(i) + 1, d(i - 1) + 1),
          prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = t
      }
    }
    d(a.length)
  }

  // ------------------------------------------------------------------
  // grammar
  // ------------------------------------------------------------------

  test("parseLucene: the mixed gate query parses clause by clause") {
    assert(Engine.parseLucene(SparkEntry.ParsedMixedQuery) == Seq(
      PhraseClause(Seq("hash", "join"), 1.0, Occur.Must),
      TermClause("w:window", 2.0, Occur.Should),
      TermClause("w:stream", 1.0, Occur.MustNot),
      PrefixClause("w:sm", 0.5, Occur.Should),
      FuzzyClause("w:hach", 1, 1.0, Occur.Should)))
  }

  test("parseLucene: boost leniency, bare ~, phrase occur/boost, analyzer in phrases") {
    // unparseable ^suffix stays part of the term (parseQuery's rule)
    assert(Engine.parseLucene("w:x^y") == Seq(TermClause("w:x^y", 1.0, Occur.Should)))
    // bare ~ = Lucene's default 2 edits; +prefix* keeps MUST occur
    assert(Engine.parseLucene("term~ +pre*") == Seq(
      FuzzyClause("term", 2, 1.0, Occur.Should),
      PrefixClause("pre", 1.0, Occur.Must)))
    // prohibited boosted phrase; phrase words go through the analyzer
    assert(Engine.parseLucene("-\"Hash-JOIN\"^2.5") ==
      Seq(PhraseClause(Seq("hash", "join"), 2.5, Occur.MustNot)))
    // digits-only suffix after ~ is the edit budget; otherwise a plain term
    assert(Engine.parseLucene("a~1x") == Seq(TermClause("a~1x", 1.0, Occur.Should)))
    // phrase slop: `"…"~N` (PhraseSlop), composing with occur and ^boost;
    // an unsuffixed phrase keeps slop 0
    assert(Engine.parseLucene("+\"Hash JOIN\"~2^1.5") ==
      Seq(PhraseClause(Seq("hash", "join"), 1.5, Occur.Must, slop = 2)))
    assert(Engine.parseLucene("\"a b\"~10 c") == Seq(
      PhraseClause(Seq("a", "b"), 1.0, Occur.Should, slop = 10),
      TermClause("c", 1.0, Occur.Should)))
    // wildcard bodies: trailing-star-only stays a PrefixClause; any other
    // *(/? placement is a WildcardClause (occur + boost preserved)
    assert(Engine.parseLucene("w:s?a* -mid*dle^2") == Seq(
      WildcardClause("w:s?a*", 1.0, Occur.Should),
      WildcardClause("mid*dle", 2.0, Occur.MustNot)))
  }

  test("wildcard expansion = brute LIKE-order cap; search == OR of the expansion") {
    // brute wildcard match: translate to a regex over the term
    val re = ("^" + SparkEntry.WildcardQ.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c => java.util.regex.Pattern.quote(c.toString)
    } + "$").r
    val all = dfMap.iterator.filter(t => re.findFirstIn(t._1).isDefined)
      .toSeq.sortBy { case (t, df) => (-df, t) }
    assert(all.size >= 3, "gate precondition: several w:s?a* terms exist")
    val exp = all.take(SparkEntry.WildcardMaxExpansions).map(_._1)
    val got = engine.searchWildcard(SparkEntry.WildcardQ, rows = 60,
      maxExpansions = SparkEntry.WildcardMaxExpansions).collect().map(_.toSeq).toSeq
    val or = engine.searchByTerms(exp.map(_ -> 1.0), rows = 60, accuracy = 1.0)
      .collect().map(_.toSeq).toSeq
    assert(got == or)
    // parsed dispatch: a wildcard SHOULD clause routes through the rewrite
    val parsed = engine.searchParsed(SparkEntry.WildcardQ, rows = 60,
      maxExpansions = SparkEntry.WildcardMaxExpansions).collect().map(_.toSeq).toSeq
    assert(parsed == or)
    assert(engine.searchWildcard("w:zz?zz*", rows = 10).count() == 0)
    // literal LIKE metachars in the PATTERN stay literal (Lucene: only
    // */? are special): no indexed term contains '%' or '_', so these
    // match nothing — without escaping, 'w:s_a*' would act like 'w:s?a*'
    assert(engine.searchWildcard("w:s_a*", rows = 10).count() == 0)
    assert(engine.searchWildcard("w:s%a*", rows = 10).count() == 0)
  }

  test("leading wildcard routes reversed: route-invariant, StartsWith pushdown") {
    import org.apache.spark.sql.functions.col
    val pat = SparkEntry.WildcardLeadQ
    assert(Engine.shouldReverse(pat))
    // the parquet routes need an over-cap engine: the control engine's
    // vocabulary is under the driver-expansion cap and rewrites in memory
    val big = new Engine(new Index(spark, engine.index.indexDir, dictDriverMax = 16L))
    assert(!big.expandViaDriver && engine.expandViaDriver)
    // all three routes produce the identical capped expansion list:
    // driver map, reversed-dictionary StartsWith, forward LIKE scan
    val viaDriver = engine.wildcardExpansions(pat, 5)
    val rev = big.wildcardExpansions(pat, 5)
    val fwd = big.wildcardExpansions(pat, 5, forceForward = true)
    assert(rev == fwd && rev.nonEmpty, s"rev=$rev fwd=$fwd")
    assert(viaDriver == rev, s"driver=$viaDriver rev=$rev")
    // ... and they match the brute LIKE-order cap
    val re = ("^" + pat.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c => java.util.regex.Pattern.quote(c.toString)
    } + "$").r
    val brute = dfMap.iterator.filter(t => re.findFirstIn(t._1).isDefined)
      .toSeq.sortBy { case (t, df) => (-df, t) }.take(5).map(_._1)
    assert(rev == brute)
    // the reversed route reaches parquet as a StartsWith on rterm — the
    // row-group prune that replaces the forward path's vocabulary scan
    val plan = engine.index.rdictStore
      .where(col("rterm").like(Engine.wildcardToLike(pat.reverse)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("StringStartsWith(rterm,kra"),
      s"no StartsWith pushdown:\n$plan")
    // routing rule: reversal only pays for *<pure-literal> — anything
    // else reverses into a generic LIKE with no StartsWith pushdown, so
    // the cached forward dictionary wins and the route stays forward
    assert(!Engine.shouldReverse("*ab*") && !Engine.shouldReverse("ab*"))
    assert(!Engine.shouldReverse("?ab") && !Engine.shouldReverse("*a?b"))
    assert(!Engine.shouldReverse("*") && Engine.shouldReverse("*ab"))
  }

  // ------------------------------------------------------------------
  // PrefixQuery / FuzzyQuery rewrites
  // ------------------------------------------------------------------

  test("prefix expansion = brute (df desc, term asc) cap; search == OR of the expansion") {
    val all = dfMap.iterator
      .filter(_._1.startsWith(SparkEntry.PrefixQ))
      .toSeq.sortBy { case (t, df) => (-df, t) }
    assert(all.size > 3, "gate precondition: several w:s terms exist")
    // cap=3 binds even on the tiny vocabulary; the uncapped form too
    for (cap <- Seq(3, SparkEntry.PrefixMaxExpansions)) {
      val exp = all.take(cap).map(_._1)
      val enumed = engine.termsEnum(SparkEntry.PrefixQ, cap)
        .select($"term").as[String].collect().toSeq
      assert(enumed == exp, s"dictionary rewrite order (cap=$cap)")
      val got = engine.searchPrefix(SparkEntry.PrefixQ, rows = 60,
        maxExpansions = cap).collect().map(_.toSeq).toSeq
      val or = engine.searchByTerms(exp.map(_ -> 1.0), rows = 60, accuracy = 1.0)
        .collect().map(_.toSeq).toSeq
      assert(got == or, s"cap=$cap")
    }
    // no indexed term with the prefix -> empty, not an error
    assert(engine.searchPrefix("w:zzznosuch", rows = 10).count() == 0)
  }

  test("range expansion = brute bound-filtered (df desc, term asc) cap; brackets + open bounds") {
    import Engine.{Occur, RangeClause}
    // grammar: brackets map to inclusivity, `*` to an open bound, ^boost
    // and +/- compose like every other clause
    assert(Engine.parseLucene("[w:sa TO w:sp}") ==
      Seq(RangeClause(Some("w:sa"), Some("w:sp"), true, false, 1.0, Occur.Should)))
    assert(Engine.parseLucene("-{a TO *]^2.5 w:x") == Seq(
      RangeClause(Some("a"), None, false, true, 2.5, Occur.MustNot),
      Engine.TermClause("w:x", 1.0, Occur.Should)))
    def brute(lo: Option[String], hi: Option[String], il: Boolean, ih: Boolean, cap: Int) =
      dfMap.iterator.filter { case (t, _) =>
        lo.forall(l => if (il) t >= l else t > l) &&
          hi.forall(h => if (ih) t <= h else t < h)
      }.toSeq.sortBy { case (t, df) => (-df, t) }.take(cap).map(_._1)
    val gate = brute(Some(SparkEntry.RangeLo), Some(SparkEntry.RangeHi),
      il = true, ih = false, SparkEntry.RangeMaxExpansions)
    assert(gate.nonEmpty, "gate precondition: terms inside [w:sa, w:sp)")
    for ((lo, hi, il, ih, cap) <- Seq(
        (Some(SparkEntry.RangeLo), Some(SparkEntry.RangeHi), true, false,
          SparkEntry.RangeMaxExpansions),
        (Some("w:a"), Some("w:z"), true, true, 3),  // cap binds
        (None, Some("w:m"), true, false, 5),        // open low
        (Some("w:m"), None, false, true, 5))) {     // open high, exclusive
      val exp = engine.rangeExpansions(lo, hi, il, ih, cap)
      assert(exp == brute(lo, hi, il, ih, cap), s"($lo,$hi,$il,$ih,$cap)")
      val got = engine.searchRange(lo, hi, il, ih, rows = 60, maxExpansions = cap)
        .collect().map(_.toSeq).toSeq
      val or = engine.searchByTerms(exp.map(_ -> 1.0), rows = 60, accuracy = 1.0)
        .collect().map(_.toSeq).toSeq
      assert(got == or, s"($lo,$hi,$il,$ih,$cap)")
    }
    // inverted/empty range -> empty, not an error
    assert(engine.searchRange(Some("w:z"), Some("w:a"), rows = 10).count() == 0)
    // a parsed query carrying a range clause == searchBool of the expansion
    val expanded = engine.rangeExpansions(Some(SparkEntry.RangeLo),
      Some(SparkEntry.RangeHi), incLo = true, incHi = false, 4)
    val viaParsed = engine.searchParsed(
      s"[${SparkEntry.RangeLo} TO ${SparkEntry.RangeHi}} w:license", rows = 60,
      maxExpansions = 4).collect().map(_.toSeq).toSeq
    val viaBool = engine.searchBool(expanded.map(_ -> 1.0) :+ ("w:license" -> 1.0),
      Nil, Nil, rows = 60).collect().map(_.toSeq).toSeq
    assert(viaParsed == viaBool)
  }

  test("fuzzy expansion = brute (dist, df desc, term) cap with 1/(1+d) boosts") {
    val exp = dfMap.keysIterator
      .map(t => (t, lev(t, SparkEntry.FuzzyQ)))
      .filter(_._2 <= SparkEntry.FuzzyMaxEdits)
      .toSeq.sortBy { case (t, d) => (d, -dfMap(t), t) }
      .take(SparkEntry.FuzzyMaxExpansions)
    assert(exp.nonEmpty, "gate precondition: w:hach has neighbors")
    val got = engine.searchFuzzy(SparkEntry.FuzzyQ, maxEdits = SparkEntry.FuzzyMaxEdits,
      rows = 60, maxExpansions = SparkEntry.FuzzyMaxExpansions).collect().map(_.toSeq).toSeq
    val or = engine.searchByTerms(exp.map { case (t, d) => t -> (1.0 / (1 + d)) },
      rows = 60, accuracy = 1.0).collect().map(_.toSeq).toSeq
    assert(got == or)
    assert(engine.searchFuzzy("w:qqqqqqqqqqqq", maxEdits = 1, rows = 10).count() == 0)
  }

  // ------------------------------------------------------------------
  // searchParsed composition
  // ------------------------------------------------------------------

  test("phrase-free parsed query == searchBool of the same clauses") {
    val q = "w:hash^2 +w:window -w:stream w:join"
    val parsed = engine.searchParsed(q, rows = 60).collect().map(_.toSeq).toSeq
    val bool = engine.searchBool(Seq("w:hash" -> 2.0, "w:join" -> 1.0),
      Seq("w:window" -> 1.0), Seq("w:stream"), rows = 60).collect().map(_.toSeq).toSeq
    assert(parsed == bool)
  }

  test("one-word phrase in a parsed query is the TermQuery it is in Lucene") {
    val a = engine.searchParsed("\"window\"", rows = 30).collect().map(_.toSeq).toSeq
    val b = engine.searchByTerms(Seq("w:window" -> 1.0), rows = 30).collect().map(_.toSeq).toSeq
    assert(a == b)
  }

  test("unsatisfiable and purely-negative parsed queries match nothing") {
    assert(engine.searchParsed("+w:hash -w:hash", rows = 10).count() == 0)
    assert(engine.searchParsed("-w:hash -w:join", rows = 10).count() == 0)
    assert(engine.searchParsed("\"hash join\" +w:zzznosuch", rows = 10).count() == 0)
  }

  test("mixed parsed query (MUST phrase + terms + rewrites + NOT) == brute composition") {
    val nonEmpty = docs.filter(d => Tokenizer.tokenCountScala(d._2) > 0)
    val n = nonEmpty.size.toDouble
    val dls = nonEmpty.map { case (id, c) =>
      id -> math.min(Tokenizer.dlOf(Tokenizer.tokenCountScala(c)), IndexBuild.MaxDl).toDouble
    }.toMap
    val avgdl = dls.values.sum / n
    // term clauses after rewrite, prohibited dropped — mirrors the gate query
    val prefExp = dfMap.iterator.filter(_._1.startsWith("w:sm"))
      .toSeq.sortBy { case (t, df) => (-df, t) }.take(50)
      .map { case (t, _) => t -> 0.5 }
    val fuzzExp = dfMap.keysIterator.map(t => (t, lev(t, "w:hach")))
      .filter(_._2 <= 1).toSeq.sortBy { case (t, d) => (d, -dfMap(t), t) }
      .take(50).map { case (t, d) => t -> (1.0 / (1 + d)) }
    val terms = (Seq("w:window" -> 2.0) ++ prefExp ++ fuzzExp)
      .filterNot(_._1 == "w:stream")
    val phraseToks = Array("hash", "join")
    def pf(ts: Array[String]): Int =
      (0 to ts.length - phraseToks.length)
        .count(i => phraseToks.indices.forall(j => ts(i + j) == phraseToks(j)))
    val idfSum = phraseToks.map(w => Bm25.idf(dfMap("w:" + w).toDouble, n)).sum
    val exp = nonEmpty.flatMap { case (id, c) =>
      val ts = Tokenizer.tokenizeScala(c)
      val p = pf(ts)
      if (p == 0 || termSets(id)("w:stream")) None // MUST phrase + MUST_NOT
      else {
        val tc = Tokenizer.termsScala(c).groupBy(identity).view
          .mapValues(x => math.min(x.length, IndexBuild.MaxTf)).toMap
        var s = 0.0
        terms.foreach { case (t, boost) =>
          tc.get(t).foreach { tf =>
            s += boost * Bm25.idf(dfMap(t).toDouble, n) *
              Bm25.tfNorm(tf.toDouble, dls(id), avgdl)
          }
        }
        val total = s + idfSum * Bm25.tfNorm(p.toDouble, dls(id), avgdl)
        Some((id, math.round(total * Bm25.Quant)))
      }
    }.sortBy { case (id, sq) => (-sq, id) }.take(60)
    val got = engine.searchParsed(SparkEntry.ParsedMixedQuery, rows = 60)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._2) == exp.map(_._1), "doc order")
    assert(got.map(_._3) == exp.map(_._2), "scores")
  }

  test("folded-membership route (+term +phrase -term) == brute composition") {
    val nonEmpty = docs.filter(d => Tokenizer.tokenCountScala(d._2) > 0)
    val n = nonEmpty.size.toDouble
    val dls = nonEmpty.map { case (id, c) =>
      id -> math.min(Tokenizer.dlOf(Tokenizer.tokenCountScala(c)), IndexBuild.MaxDl).toDouble
    }.toMap
    val avgdl = dls.values.sum / n
    val prefExp = dfMap.iterator.filter(_._1.startsWith("w:sm"))
      .toSeq.sortBy { case (t, df) => (-df, t) }.take(50)
      .map { case (t, _) => t -> 0.5 }
    val fuzzExp = dfMap.keysIterator.map(t => (t, lev(t, "w:hach")))
      .filter(_._2 <= 1).toSeq.sortBy { case (t, d) => (d, -dfMap(t), t) }
      .take(50).map { case (t, d) => t -> (1.0 / (1 + d)) }
    // the required term both filters and scores (Lucene MUST semantics)
    val terms = (Seq("w:window" -> 2.0, "w:the" -> 1.0) ++ prefExp ++ fuzzExp)
      .filterNot(_._1 == "w:stream")
    val phraseToks = Array("hash", "join")
    def pf(ts: Array[String]): Int =
      (0 to ts.length - phraseToks.length)
        .count(i => phraseToks.indices.forall(j => ts(i + j) == phraseToks(j)))
    val idfSum = phraseToks.map(w => Bm25.idf(dfMap("w:" + w).toDouble, n)).sum
    val exp = nonEmpty.flatMap { case (id, c) =>
      val ts = Tokenizer.tokenizeScala(c)
      val p = pf(ts)
      if (p == 0 || termSets(id)("w:stream") || !termSets(id)("w:the")) None
      else {
        val tc = Tokenizer.termsScala(c).groupBy(identity).view
          .mapValues(x => math.min(x.length, IndexBuild.MaxTf)).toMap
        var s = 0.0
        terms.foreach { case (t, boost) =>
          tc.get(t).foreach { tf =>
            s += boost * Bm25.idf(dfMap(t).toDouble, n) *
              Bm25.tfNorm(tf.toDouble, dls(id), avgdl)
          }
        }
        val total = s + idfSum * Bm25.tfNorm(p.toDouble, dls(id), avgdl)
        Some((id, math.round(total * Bm25.Quant)))
      }
    }.sortBy { case (id, sq) => (-sq, id) }.take(60)
    assert(exp.nonEmpty, "gate precondition: the required-term query matches docs")
    val got = engine.searchParsed(SparkEntry.ParsedMixedReqQuery, rows = 60)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._2) == exp.map(_._1), "doc order (required term)")
    assert(got.map(_._3) == exp.map(_._2), "scores (required term)")
    // the required term must BIND: strictly fewer (or equal) docs than the
    // unrequired gate twin, and every result doc holds it
    got.foreach { case (_, id, _) =>
      assert(termSets(id)("w:the"), s"doc $id lacks the MUST term") }
  }

  test("MUST multi-term rewrite = OR-required group: brute composition on both routes") {
    val nonEmpty = docs.filter(d => Tokenizer.tokenCountScala(d._2) > 0)
    val n = nonEmpty.size.toDouble
    val dls = nonEmpty.map { case (id, c) =>
      id -> math.min(Tokenizer.dlOf(Tokenizer.tokenCountScala(c)), IndexBuild.MaxDl).toDouble
    }.toMap
    val avgdl = dls.values.sum / n
    val grpExp = dfMap.iterator.filter(_._1.startsWith("w:s"))
      .toSeq.sortBy { case (t, df) => (-df, t) }.take(50).map(_._1)
    assert(grpExp.size >= 2, "gate precondition: several w:s terms")
    // brute: doc must hold >=1 group member and not w:stream; score = the
    // usual sum over should ∪ group matches (group members at 0.5)
    def brute(group: Seq[String]) = {
      val required = group.toSet
      val terms = (Seq("w:hash" -> 1.0) ++ group.map(_ -> 0.5))
        .filterNot(_._1 == "w:stream")
      nonEmpty.flatMap { case (id, c) =>
        if (!termSets(id).exists(required) || termSets(id)("w:stream")) None
        else {
          val tc = Tokenizer.termsScala(c).groupBy(identity).view
            .mapValues(x => math.min(x.length, IndexBuild.MaxTf)).toMap
          var s = 0.0
          terms.foreach { case (t, boost) =>
            tc.get(t).foreach { tf =>
              s += boost * Bm25.idf(dfMap(t).toDouble, n) *
                Bm25.tfNorm(tf.toDouble, dls(id), avgdl)
            }
          }
          if (s == 0.0) None else Some((id, math.round(s * Bm25.Quant)))
        }
      }.sortBy { case (id, sq) => (-sq, id) }.take(60)
    }
    val exp = brute(grpExp)
    assert(exp.nonEmpty && exp.size < nonEmpty.size,
      "group must bind: some docs filtered, some kept")
    // the in-segment bitmap algebra
    val got = engine.searchParsed("+w:s*^0.5 w:hash -w:stream", rows = 60)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._2) == exp.map(_._1), "doc order")
    assert(got.map(_._3) == exp.map(_._2), "scores")
    // with a phrase: same group + a SHOULD phrase that matches nothing
    // adds no score and must not affect the required set
    val gotP = engine.searchParsed("+w:s*^0.5 w:hash -w:stream \"zzz nosuchphrase\"",
      rows = 60).as[(Long, Long, Long)].collect().toSeq
    assert(gotP == got, "a non-matching SHOULD phrase changes nothing")
    // required group with no corpus-present expansion -> empty, as df=0 MUST
    assert(engine.searchParsed("+w:zzznosuch* w:hash", rows = 10).count() == 0)
    assert(engine.searchParsed(
      "+w:zzznosuch* w:hash \"hash join\"", rows = 10).count() == 0)
    // a required range group composes too (same algebra, range expansion)
    val rngExp = dfMap.iterator.filter { case (t, _) => t >= "w:sa" && t < "w:sp" }
      .toSeq.sortBy { case (t, df) => (-df, t) }.take(50).map(_._1)
    val expR = brute(rngExp)
    val gotR = engine.searchParsed("+[w:sa TO w:sp}^0.5 w:hash -w:stream",
      rows = 60).as[(Long, Long, Long)].collect().toSeq
    assert(gotR.map(_._2) == expR.map(_._1), "doc order (range group)")
    assert(gotR.map(_._3) == expR.map(_._2), "scores (range group)")
  }

  // ------------------------------------------------------------------
  // phrases in the one segment pass: shapes that share it
  // ------------------------------------------------------------------

  /** Brute parsed query over the tiny corpus: `terms` are the scoring
    * (SHOULD and MUST) terms with boosts, `must`/`mustNot` the term
    * membership, `phrases` exact phrases (words, boost, occur). A doc
    * matches when it meets every required and prohibited clause and some
    * scoring clause; score = Σ term parts + Σ phrase parts, a phrase
    * weighing boost · Σ idf over its words with tf = phrase frequency.
    */
  private def bruteParsed(terms: Seq[(String, Double)], must: Seq[String],
      mustNot: Seq[String], phrases: Seq[(Seq[String], Double, Occur)],
      k: Int): Seq[(Long, Long)] = {
    val nonEmpty = docs.filter(d => Tokenizer.tokenCountScala(d._2) > 0)
    val n = nonEmpty.size.toDouble
    val dls = nonEmpty.map { case (id, c) =>
      id -> math.min(Tokenizer.dlOf(Tokenizer.tokenCountScala(c)), IndexBuild.MaxDl).toDouble
    }.toMap
    val avgdl = dls.values.sum / n
    def idf(t: String): Double = Bm25.idf(dfMap(t).toDouble, n)
    def pf(ts: Array[String], ws: Seq[String]): Int =
      (0 to ts.length - ws.length).count(i => ws.indices.forall(j => ts(i + j) == ws(j)))
    nonEmpty.flatMap { case (id, c) =>
      val ts = Tokenizer.tokenizeScala(c)
      val pfs = phrases.map { case (ws, b, occ) => (ws, b, occ, pf(ts, ws)) }
      val member = must.forall(termSets(id)) && !mustNot.exists(termSets(id)) &&
        pfs.forall {
          case (_, _, Occur.Must, p) => p > 0
          case (_, _, Occur.MustNot, p) => p == 0
          case _ => true
        }
      val tc = Tokenizer.termsScala(c).groupBy(identity).view
        .mapValues(x => math.min(x.length, IndexBuild.MaxTf)).toMap
      val parts = terms.flatMap { case (t, b) =>
        tc.get(t).map(tf => b * idf(t) * Bm25.tfNorm(tf.toDouble, dls(id), avgdl))
      } ++ pfs.collect { case (ws, b, occ, p) if occ != Occur.MustNot && p > 0 =>
        b * ws.map(w => idf("w:" + w)).sum * Bm25.tfNorm(p.toDouble, dls(id), avgdl)
      }
      if (member && parts.nonEmpty) Some((id, math.round(parts.sum * Bm25.Quant))) else None
    }.sortBy { case (id, sq) => (-sq, id) }.take(k)
  }

  private def parsed(e: Engine, q: String, rows: Int = 60): Seq[(Long, Long)] =
    e.searchParsed(q, rows = rows).as[(Long, Long, Long)].collect()
      .map(r => (r._2, r._3)).toSeq

  private val HashJoin = Seq("hash", "join")

  test("64 required terms plus a SHOULD phrase == brute composition") {
    // the terms of one "hash join" doc, most frequent first: several docs
    // hold all 64, and the phrase scores on some of them
    val doc = bruteParsed(Nil, Nil, Nil, Seq((HashJoin, 1.0, Occur.Must)), docs.size)
      .map(_._1).maxBy(id => (termSets(id).size, -id))
    val req = termSets(doc).toSeq.sortBy(t => (-dfMap(t), t)).take(64)
    assert(req.size == 64, s"precondition: doc $doc holds ${req.size} distinct terms")
    val got = parsed(engine, req.map("+" + _).mkString(" ") + " \"hash join\"")
    val exp = bruteParsed(req.map(_ -> 1.0), req, Nil, Seq((HashJoin, 1.0, Occur.Should)), 60)
    assert(exp.map(_._1).contains(doc), "the source doc must match")
    assert(got == exp)
  }

  test("a MUST and a MUST_NOT phrase in one query == brute composition") {
    val got = parsed(engine, "+\"hash join\" -\"line hash\" w:window", rows = 500)
    val exp = bruteParsed(Seq("w:window" -> 1.0), Nil, Nil,
      Seq((HashJoin, 1.0, Occur.Must), (Seq("line", "hash"), 1.0, Occur.MustNot)), 500)
    val withoutNot = bruteParsed(Seq("w:window" -> 1.0), Nil, Nil,
      Seq((HashJoin, 1.0, Occur.Must)), 500)
    assert(exp.nonEmpty && exp.size < withoutNot.size, "the MUST_NOT phrase must bind")
    assert(got == exp)
  }

  test("the same phrase twice with two boosts sums both clauses") {
    val got = parsed(engine, "\"hash join\"^2 \"hash join\"^0.5 w:window")
    val exp = bruteParsed(Seq("w:window" -> 1.0), Nil, Nil,
      Seq((HashJoin, 2.0, Occur.Should), (HashJoin, 0.5, Occur.Should)), 60)
    assert(got == exp)
  }

  test("a SHOULD phrase alone matches a doc when no clause is required") {
    val got = parsed(engine, "\"hash join\" w:window", rows = 500)
    val exp = bruteParsed(Seq("w:window" -> 1.0), Nil, Nil,
      Seq((HashJoin, 1.0, Occur.Should)), 500)
    val phraseOnly = exp.map(_._1).filterNot(id => termSets(id)("w:window"))
    assert(phraseOnly.nonEmpty, "precondition: a doc holds the phrase and not w:window")
    assert(got == exp)
  }

  test("parsed phrase query on a segShift = 23 index == the default geometry") {
    import graft.index.IndexConfig
    val dir = tempDir("graft-parsed-wide")
    IndexBuild.build(spark, Corpus.fromDocuments(spark, sfTiny), dir,
      IndexConfig(segShift = 23, rangeSegsShift = 1))
    val wide = new Engine(new Index(spark, dir))
    val hot = engine.index.dictionary.orderBy($"df".desc, $"term".asc).limit(3)
      .select($"term").as[String].collect().toSeq
    assert(wide.routesDense(hot.map(_ -> 1.0)), "precondition: the terms route dense")
    for (q <- Seq(hot.mkString(" ") + " \"hash join\"",
        hot.map("+" + _).mkString(" ") + " \"hash join\"~2 -\"line hash\"")) {
      val got = parsed(wide, q)
      assert(got.nonEmpty, s"'$q' must match")
      assert(got == parsed(engine, q), s"'$q': geometries diverge")
    }
    val exp = bruteParsed(hot.map(_ -> 1.0), Nil, Nil, Seq((HashJoin, 1.0, Occur.Should)), 60)
    assert(parsed(wide, hot.mkString(" ") + " \"hash join\"") == exp)
  }
}
