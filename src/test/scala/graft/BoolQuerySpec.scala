package graft

import graft.fixtures.CorpusGen
import graft.index.{IndexConfig, InvertedIndex}
import graft.io.Tables
import graft.oracle.ExhaustiveScorer
import graft.query.{Bm25, IndexReader}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Bool-query gate (B16): the bucketed conjunction-driven top-k and the
  * relational rank-all must both equal the exhaustive from-raw-text oracle
  * across must/should/must_not combinations, including the degenerate ones
  * (should-only, unsatisfiable, absent terms).
  */
class BoolQuerySpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  val N = 800L
  val dir = "/tmp/graft_test_bool"
  val cfg: IndexConfig = IndexConfig(partitions = 8, heavyDfThreshold = 200L, saltRunDocs = 200L)

  lazy val corpus = CorpusGen.dataset(spark, N, 8)
  lazy val reader = new IndexReader(spark, dir)
  lazy val grouped = reader.groupedForm(7)

  lazy val oracle: ExhaustiveScorer.Prepared = {
    val docs = corpus.toDF()
      .join(Tables.read(spark, dir, InvertedIndex.DocsTable)
        .select("docId", "repo", "path", "commit"), Seq("repo", "path", "commit"))
      .select(col("docId"), col("content")).as[ExhaustiveScorer.OracleDoc]
    val p = ExhaustiveScorer.prepare(spark, docs)
    p.rows.persist()
    p
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.delete(spark, "/tmp", "graft_test_bool")
    InvertedIndex.build(spark, corpus, dir, cfg, runId = "bool")
    ()
  }

  val cases: Seq[(Seq[String], Seq[String], Seq[String])] = Seq(
    (Seq("def"), Nil, Nil),                          // single must
    (Seq("def", "val"), Nil, Nil),                   // 2-must conjunction
    (Seq("buf_buf"), Seq("def", "val"), Nil),        // must + should boost
    (Seq("def"), Nil, Seq("val")),                   // must + exclusion
    (Seq("def", "buf_buf"), Seq("z100_id"), Seq("class")), // all three clauses
    (Nil, Seq("z100_id", "z101_id"), Nil),           // should-only (min 1)
    (Nil, Seq("buf_buf"), Seq("def")),               // should-only + exclusion
    (Seq("def val"), Seq("class import"), Seq("return")), // multi-token clause strings
    (Seq("qqqzzznotfound"), Seq("def"), Nil),        // absent must -> empty
    (Seq("def"), Nil, Seq("def")),                   // must ∩ must_not -> empty
    (Nil, Nil, Seq("def")))                          // no scoring clause -> empty

  test("bool top-k == exhaustive oracle on every clause combination") {
    var nonEmpty = 0
    for ((m, sh, n) <- cases) {
      val got = reader.searchBool(m, sh, n, 10).map(h => (h.docId, h.score)).toSeq
      val want = oracle.topKBool(m, sh, n, 10).map(h => (h.docId, h.score)).toSeq
      assert(got.map(_._1) == want.map(_._1), s"bool ranks for ($m, $sh, $n): $got vs $want")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g._2 - w._2) <= 1e-9 * math.max(1.0, math.abs(w._2)),
          s"bool score drift for ($m, $sh, $n)")
      }
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 6, s"only $nonEmpty non-empty cases — fixture too sparse for the gate")
  }

  test("bool rank-all == bool top-k at k = corpus size (the two paths agree)") {
    for ((m, sh, n) <- cases.take(8)) {
      val all = reader.searchBoolDf(m, sh, n)
        .orderBy(desc("score"), asc("docId"))
        .as[(Long, Double)].collect().toSeq
      val topAll = reader.searchBool(m, sh, n, N.toInt + 1).map(h => (h.docId, h.score)).toSeq
      assert(all.map(_._1) == topAll.map(_._1), s"rank-all vs top-k doc order for ($m, $sh, $n)")
      all.zip(topAll).foreach { case (a, b) =>
        assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)))
      }
    }
  }

  test("prefix expansion == brute vocabulary scan; prefix match == raw-rows oracle") {
    val rawRows = oracle.rows.collect() // (docId, term, tf, dl) from raw text
    val vocab = rawRows.map(_._2).distinct
    for (p <- Seq("de", "z10", "buf", "qqq", "x")) {
      val expTerms = vocab.filter(_.startsWith(p)).sorted.toSeq
      assert(reader.expandPrefix(p).toSeq == expTerms, s"expansion for '$p'")
      val want = rawRows.filter(_._2.startsWith(p))
        .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).distinct.length.toLong }
      val got = reader.matchPrefixDf(p).as[(Long, Long)].collect().toMap
      assert(got == want, s"prefix match for '$p': ${got.size} vs ${want.size} docs")
    }
    // charset edge: prefix ending in 'z' and in '_' must still bound the range
    assert(reader.expandPrefix("z").toSeq == vocab.filter(_.startsWith("z")).sorted.toSeq)
    val gotU = reader.matchPrefixDf("buf_").as[(Long, Long)].collect().toMap
    val wantU = rawRows.filter(_._2.startsWith("buf_"))
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).distinct.length.toLong }
    assert(gotU == wantU, "prefix ending in underscore")
  }

  test("minimum_should_match: both engine paths == exhaustive oracle at every floor") {
    var nonTrivial = 0
    for ((m, sh, n) <- Seq(
        (Seq("def"), Seq("val", "class", "import"), Nil),
        (Nil, Seq("def", "val", "class"), Nil),
        (Seq("buf_buf"), Seq("def", "z100_id"), Seq("return")),
        // must ∩ should overlap: "def" is forced by must, so its duplicate
        // should clause always matches and credits the floor (ES semantics)
        (Seq("def"), Seq("def", "val", "class"), Nil),
        // should ∩ must_not gets NO credit (the doc can never contain it)
        (Seq("def"), Seq("return", "val", "class"), Seq("return")));
        ms <- Seq(0, 1, 2, 3, 4)) {
      val want = oracle.topKBool(m, sh, n, 10, ms).map(h => (h.docId, h.score)).toSeq
      val got = reader.searchBool(m, sh, n, 10, ms).map(h => (h.docId, h.score)).toSeq
      assert(got.map(_._1) == want.map(_._1), s"msm top-k ranks for ($m, $sh, $n, ms=$ms)")
      val gotAll = reader.searchBoolDf(m, sh, n, ms)
        .orderBy(desc("score"), asc("docId")).limit(10)
        .as[(Long, Double)].collect().toSeq
      assert(gotAll.map(_._1) == want.map(_._1), s"msm rank-all ranks for ($m, $sh, $n, ms=$ms)")
      (got ++ gotAll).zip(want ++ want).foreach { case (g, w) =>
        assert(math.abs(g._2 - w._2) <= 1e-9 * math.max(1.0, math.abs(w._2)))
      }
      // the floor must actually bite somewhere or the gate is vacuous
      if (ms > 0 && want.map(_._1) != oracle.topKBool(m, sh, n, 10, 0).map(_.docId).toSeq)
        nonTrivial += 1
    }
    assert(nonTrivial >= 3, s"minShould never changed a result — fixture too sparse")
  }

  test("prefix tbucket pruning: pruned path == pure range scan") {
    for (p <- Seq("de", "z10", "buf", "qqq", "x", "buf_")) {
      val pruned = reader.matchPrefixDf(p, pruneCap = 64).as[(Long, Long)].collect().toMap
      val ranged = reader.matchPrefixDf(p, pruneCap = 0).as[(Long, Long)].collect().toMap
      assert(pruned == ranged, s"pruned vs ranged prefix scan for '$p'")
    }
  }

  test("query-literal hardening: over-length / re-analyzed inputs fail loudly") {
    val long65 = "a" * 65 // would silently truncate to 64 chars and over-match
    for (bad <- Seq(long65, "Foo-Bar", "a.b", ""))
      intercept[IllegalArgumentException](reader.expandPrefix(bad))
    // but benign normalization (case, surrounding space) still passes
    assert(reader.expandPrefix(" DE ").toSeq == reader.expandPrefix("de").toSeq)
  }

  def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  test("fuzzy expansion == brute vocabulary Levenshtein; scored match == OR oracle") {
    val rawRows = oracle.rows.collect()
    val vocab = rawRows.map(_._2).distinct
    var nonEmpty = 0
    for ((q, e) <- Seq(("deff", 1), ("vall", 1), ("clasz", 2), ("qqqzzz", 1))) {
      val expTerms = vocab.filter(t => levenshtein(t, q) <= e).sorted.toSeq
      assert(reader.expandFuzzy(q, e).toSeq == expTerms, s"fuzzy expansion for '$q'~$e")
      if (expTerms.nonEmpty) {
        nonEmpty += 1
        // scored form == exhaustive OR (should-only bool) over the expansion
        val got = reader.matchFuzzyDf(q, e)
          .orderBy(desc("score"), asc("docId")).as[(Long, Double)].collect().toSeq
        val wantOr = oracle.topKBool(Nil, expTerms, Nil, N.toInt + 1).map(h => (h.docId, h.score)).toSeq
        assert(got.map(_._1) == wantOr.map(_._1), s"fuzzy ranks for '$q'~$e")
        got.zip(wantOr).foreach { case (g, w) =>
          assert(math.abs(g._2 - w._2) <= 1e-9 * math.max(1.0, math.abs(w._2)),
            s"fuzzy score drift for '$q'~$e")
        }
      }
    }
    assert(nonEmpty >= 3, "fuzzy gate near-vacuous — fixture too sparse")
    // maxExpansions cap keeps the HIGHEST-df members of the expansion
    val full = reader.expandFuzzy("deff", 2)
    // prefix_length: edits only AFTER the exact prefix — the expansion is
    // the unconstrained one intersected with the startsWith filter
    for ((q, e, p) <- Seq(("deff", 2, 1), ("clasz", 2, 2), ("vall", 1, 1))) {
      val want = vocab.filter(t => t.startsWith(q.take(p)) && levenshtein(t, q) <= e).sorted.toSeq
      assert(reader.expandFuzzy(q, e, prefixLength = p).toSeq == want,
        s"fuzzy expansion for '$q'~$e prefix_length=$p")
    }
    assert(reader.expandFuzzy("deff", 2, prefixLength = 0).toSeq == full.toSeq,
      "prefix_length 0 must be the unconstrained expansion")
    assert(reader.expandFuzzy("zzof", 1, prefixLength = 2).isEmpty,
      "a prefix no vocabulary term shares must empty the expansion")
    intercept[IllegalArgumentException](reader.expandFuzzy("deff", 1, prefixLength = -1))
    if (full.length > 2) {
      val dfs = rawRows.filter(r => full.contains(r._2)).groupBy(_._2)
        .map { case (t, rs) => t -> rs.map(_._1).distinct.length }
      val expectCap = full.sortBy(t => (-dfs(t), t)).take(2).sorted.toSeq
      assert(reader.expandFuzzy("deff", 2, maxExpansions = 2).toSeq == expectCap)
    }
  }

  test("wildcard expansion == vocabulary glob scan; match == raw-rows oracle") {
    val rawRows = oracle.rows.collect()
    val vocab = rawRows.map(_._2).distinct
    def globMatch(t: String, pat: String): Boolean =
      t.matches(pat.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*"))
    var nonEmpty = 0
    for (pat <- Seq("*uf*", "*00_id", "b*f", "*ala*", "de*", "*zzz*")) {
      val expTerms = vocab.filter(globMatch(_, pat)).sorted.toSeq
      assert(reader.expandWildcard(pat).toSeq == expTerms, s"wildcard expansion for '$pat'")
      val want = rawRows.filter(r => globMatch(r._2, pat))
        .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).distinct.length.toLong }
      val got = reader.matchWildcardDf(pat).as[(Long, Long)].collect().toMap
      assert(got == want, s"wildcard match for '$pat'")
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 4, "wildcard gate near-vacuous")
    for (bad <- Seq("", "*", "**", "*a-b*"))
      intercept[IllegalArgumentException](reader.expandWildcard(bad))
  }

  test("more_like_this term selection == brute tf·idf ranking; served == OR oracle") {
    val rawRows = oracle.rows.collect()
    val dfMap = rawRows.groupBy(_._2).map { case (t, rs) => t -> rs.map(_._1).distinct.length.toLong }
    val n = reader.stats.numDocs
    // several LIKE texts straight from the corpus (content by key join)
    val texts = corpus.limit(4).collect().map(_.content)
    var nonTrivial = 0
    for (text <- texts; maxQ <- Seq(3, 10)) {
      val tf = graft.tokenize.CodeTokenizer.tokenize(text)
        .groupBy(identity).map { case (t, xs) => t -> xs.length }
      val want = tf.iterator
        .flatMap { case (t, f) => dfMap.get(t).map { df =>
          (t, math.BigDecimal(f * graft.query.Bm25.idf(n, df))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP))
        } }
        .toArray.sortBy { case (t, s) => (-s, t) }.take(maxQ).map(_._1).sorted.toSeq
      val got = reader.selectMltTerms(text, maxQ).toSeq
      assert(got == want, s"MLT selection for maxQ=$maxQ")
      if (want.nonEmpty && want.size < tf.size) nonTrivial += 1
      // serving the selection == exhaustive OR oracle over it
      if (want.nonEmpty) {
        val served = reader.scoreAllTerms(want.toArray)
          .orderBy(desc("score"), asc("docId")).limit(10)
          .as[(Long, Double)].collect().toSeq
        val exp = oracle.topKBool(Nil, want, Nil, 10).map(h => (h.docId, h.score)).toSeq
        assert(served.map(_._1) == exp.map(_._1), s"MLT serving ranks for maxQ=$maxQ")
      }
    }
    assert(nonTrivial >= 3, "maxQueryTerms never truncated — MLT gate near-vacuous")
  }

  test("terms agg == raw-rows df ranking under the (df desc, term) tie-break") {
    val rawRows = oracle.rows.collect()
    val want = rawRows.groupBy(_._2)
      .map { case (t, rs) => (t, rs.map(_._1).distinct.length.toLong) }
      .toSeq.sortBy { case (t, df) => (-df, t) }
    for (size <- Seq(1, 5, 20, want.length + 100)) {
      val got = reader.termsAggDf(size).as[(String, Long)].collect().toSeq
      assert(got == want.take(size), s"terms agg top-$size")
    }
  }

  test("regexp expansion == brute vocabulary regex; match == raw-rows oracle; unsafe rejected") {
    val rawRows = oracle.rows.collect()
    val vocab = rawRows.map(_._2).distinct
    var nonEmpty = 0
    for (pat <- Seq("de.*", "(b|d)[a-z_]*f", "z10[0-9]_id", "val|class", "qqq.*zzz")) {
      val rx = ("^(?:" + pat + ")$").r
      val expTerms = vocab.filter(t => rx.matches(t)).sorted.toSeq
      assert(reader.expandRegexp(pat).toSeq == expTerms, s"regexp expansion for '$pat'")
      val want = rawRows.filter(r => rx.matches(r._2))
        .groupBy(_._1).map { case (d, rs) => d -> rs.map(_._2).distinct.length.toLong }
      val got = reader.matchRegexpDf(pat).as[(Long, Long)].collect().toMap
      assert(got == want, s"regexp match for '$pat'")
      if (want.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 3, "regexp gate near-vacuous — fixture too sparse")
    // the validator must reject everything that could backtrack or escape
    // the charset: quantified groups, counted repeats, escapes, upper case,
    // unbalanced structure, stacked quantifiers, leading quantifiers
    for (bad <- Seq("(a+)+", "(ab)*", "a{2,3}", "a\\d", "[A-Z]", "", "a(", "a)b",
        "[ab", "[]", "a**", "|*a", "a" * 129))
      intercept[IllegalArgumentException](reader.expandRegexp(bad))
    // maxExpansions cap keeps the HIGHEST-df members (same contract as fuzzy)
    val full = reader.expandRegexp("de.*|val|class")
    if (full.length > 2) {
      val dfs = rawRows.filter(r => full.contains(r._2)).groupBy(_._2)
        .map { case (t, rs) => t -> rs.map(_._1).distinct.length }
      val expectCap = full.sortBy(t => (-dfs(t), t)).take(2).sorted.toSeq
      assert(reader.expandRegexp("de.*|val|class", maxExpansions = 2).toSeq == expectCap)
    }
  }

  test("bounded fuzzy/wildcard/MLT top-k == rank-all + limit (same docs, same order)") {
    // the serving forms a real client calls: each must be indistinguishable
    // from its exact rank-all twin cut at k (the b14 gate protocol)
    def rankAllCut(df: org.apache.spark.sql.DataFrame, k: Int): Seq[(Long, Double)] =
      df.orderBy(desc("score"), asc("docId")).limit(k).as[(Long, Double)].collect().toSeq
    for (k <- Seq(3, 10)) {
      val fTop = reader.fuzzyTopK("deff", 2, k).map(h => (h.docId, h.score)).toSeq
      assert(fTop == rankAllCut(reader.matchFuzzyDf("deff", 2), k), s"fuzzy top-$k")
      val wTerms = reader.expandWildcard("*uf*")
      val wTop = reader.wildcardTopK("*uf*", k).map(h => (h.docId, h.score)).toSeq
      assert(wTop == rankAllCut(reader.scoreAllTerms(wTerms), k), s"wildcard top-$k")
      val like = corpus.limit(1).collect().head.content
      val mTop = reader.mltTopK(like, k, 5).map(h => (h.docId, h.score)).toSeq
      assert(mTop == rankAllCut(reader.scoreAllTerms(reader.selectMltTerms(like, 5)), k),
        s"mlt top-$k")
    }
  }

  test("clause boosts: both engine paths bit-agree; scores == boosted per-term recombination") {
    def termScores(t: String): Map[Long, Double] =
      oracle.topKBool(Nil, Seq(t), Nil, N.toInt + 1).map(h => h.docId -> h.score).toMap
    val (m, sh) = (Seq("def"), Seq("val", "class"))
    val boosts = Map("def" -> 0.5, "val" -> 2.0)
    val (sDef, sVal, sCls) = (termScores("def"), termScores("val"), termScores("class"))
    val want = sDef.keys.map { d =>
      d -> (0.5 * sDef(d) + 2.0 * sVal.getOrElse(d, 0.0) + sCls.getOrElse(d, 0.0))
    }.toMap
    val got = reader.searchBool(m, sh, Nil, N.toInt + 1, 0, boosts)
      .map(h => (h.docId, h.score)).toSeq
    assert(got.map(_._1).toSet == want.keySet, "boosted bool doc set")
    got.foreach { case (d, s) =>
      assert(math.abs(s - want(d)) <= 1e-9 * math.max(1.0, math.abs(want(d))),
        s"boosted score for doc $d: $s vs ${want(d)}")
    }
    // linearity: boosting "val" ×2 adds EXACTLY one extra val-contribution
    val un = reader.searchBool(m, sh, Nil, N.toInt + 1).map(h => (h.docId, h.score)).toMap
    val boostedVal = reader.searchBool(m, sh, Nil, N.toInt + 1, 0, Map("val" -> 2.0))
      .map(h => (h.docId, h.score)).toMap
    boostedVal.foreach { case (d, s) =>
      val extra = sVal.getOrElse(d, 0.0)
      assert(math.abs(s - (un(d) + extra)) <= 1e-9 * math.max(1.0, s),
        s"boost linearity for doc $d")
    }
    // relational path agrees with the bucketed path under the same boosts
    val gotDf = reader.searchBoolDf(m, sh, Nil, 0, boosts)
      .orderBy(desc("score"), asc("docId")).as[(Long, Double)].collect().toSeq
    assert(gotDf.map(_._1) == got.map(_._1), "boosted paths rank-diverge")
    gotDf.zip(got).foreach { case (a, b) =>
      assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)))
    }
    intercept[IllegalArgumentException](
      reader.searchBool(m, sh, Nil, 10, 0, Map("def" -> 0.0)))
  }

  test("histogram agg == brute dl bucketing at widths 1/7/64; width must be positive") {
    val dls = corpus.collect().map(f =>
      graft.tokenize.CodeTokenizer.countTokens(f.content).toLong)
    for (w <- Seq(1L, 7L, 64L)) {
      val want = dls.groupBy(dl => dl / w * w).map { case (b, xs) => b -> xs.length.toLong }
      val got = reader.histogramAggDf(w).as[(Long, Long)].collect().toMap
      assert(got == want, s"histogram width $w")
    }
    intercept[IllegalArgumentException](reader.histogramAggDf(0L))
  }

  test("hot-prefix probe memoized: repeated prefix query skips the probe job") {
    val jobCount = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobCount.incrementAndGet(); ()
      }
    }
    def countJobs(body: => Unit): Int = {
      jobCount.set(0)
      body
      // listener delivery is async — poll until the count stabilizes
      var prev = -1; var cur = jobCount.get
      while (cur != prev) { Thread.sleep(300); prev = cur; cur = jobCount.get }
      cur
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // fresh readers -> cold memo, in both dictionary forms (the resident
      // table's load, or the scan form's probe, is the first call's extra job)
      for (r2 <- Seq(new IndexReader(spark, dir), new IndexReader(spark, dir).scanForm)) {
        val c1 = countJobs(r2.matchPrefixDf("de").collect())
        val c2 = countJobs(r2.matchPrefixDf("de").collect())
        val c3 = countJobs(r2.matchPrefixDf("de").collect())
        val form = if (r2.resident.isDefined) "resident" else "scan"
        assert(c2 < c1, s"$form: second identical prefix query still ran the probe ($c1 -> $c2 jobs)")
        assert(c3 == c2, s"$form: steady-state job count drifts ($c2 -> $c3)")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("filter context: required like must, NEVER scores; both paths agree") {
    // combined-oracle expectation: bool-with-filter == the no-filter oracle
    // restricted to docs containing ALL filter terms — scores UNCHANGED
    // (that equality is exactly "filter contributes no score"); a pure
    // -filter bool is the filter doc set at the ES constant score 0
    def docsWith(t: String): Set[Long] =
      oracle.topKBool(Nil, Seq(t), Nil, N.toInt + 1).map(_.docId).toSet
    var nonTrivial = 0
    var zeroScored = 0
    for ((m, sh, f, ms) <- Seq(
        (Seq("def"), Seq("val"), Seq("class"), 0),           // plain filter
        (Seq("def"), Seq("val"), Seq("class", "val"), 0),    // filter ∩ should: val still scores
        (Nil, Nil, Seq("buf_buf"), 0),                       // pure filter -> constant 0
        (Nil, Seq("val"), Seq("z100_id", "def"), 0),         // 2-term filter conjunction
        (Nil, Seq("z100_id"), Seq("def"), 0),                // filter docs w/o ANY should term
        (Nil, Seq("val", "class"), Seq("val"), 2),           // filter-forced should credits msm
        (Seq("def"), Nil, Seq("qqqzzznotfound"), 0))) {      // absent filter term -> empty
      val fset = f.map(docsWith).reduce(_ intersect _)
      val scoredWant: Seq[(Long, Double)] =
        if ((m ++ sh).isEmpty) Seq.empty
        else oracle.topKBool(m, sh, Nil, N.toInt + 1, ms)
          .collect { case h if fset.contains(h.docId) => (h.docId, h.score) }.toSeq
      // ES filter context: with no must conjunction and no msm floor the
      // FILTER is the match set — a filter-matching doc with no scoring
      // term matches at score 0 (sorts after every BM25 hit, docId asc)
      val zeroWant: Seq[(Long, Double)] =
        if (m.nonEmpty || ms > 0) Seq.empty
        else (fset -- scoredWant.map(_._1)).toSeq.sorted.map(d => (d, 0.0))
      if (zeroWant.nonEmpty && (m ++ sh).nonEmpty) zeroScored += 1
      val want = scoredWant ++ zeroWant
      val got = reader.searchBool(m, sh, Nil, N.toInt + 1, ms, filter = f)
        .map(h => (h.docId, h.score)).toSeq
      assert(got.map(_._1) == want.map(_._1), s"filter bool ranks for ($m, $sh, $f, ms=$ms)")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g._2 - w._2) <= 1e-9 * math.max(1.0, math.abs(w._2)),
          s"filter must not change scores for ($m, $sh, $f)")
      }
      val gotDf = reader.searchBoolDf(m, sh, Nil, ms, filter = f)
        .orderBy(desc("score"), asc("docId")).as[(Long, Double)].collect().toSeq
      assert(gotDf.map(_._1) == got.map(_._1), s"filter paths rank-diverge for ($m, $sh, $f)")
      gotDf.zip(got).foreach { case (a, b) =>
        assert(math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)))
      }
      val unfiltered = oracle.topKBool(m, sh, Nil, N.toInt + 1, ms).map(_.docId).toSeq
      if (want.nonEmpty && want.map(_._1) != unfiltered) nonTrivial += 1
    }
    assert(nonTrivial >= 3, "filter never shrank a result — fixture too sparse")
    assert(zeroScored >= 1,
      "no case exercised filter-matched docs with zero scoring terms — fixture too sparse")
    // filter ∧ must_not is unsatisfiable by construction — both paths empty
    assert(reader.searchBool(Seq("def"), Nil, Seq("val"), 10, filter = Seq("val")).isEmpty)
    assert(reader.searchBoolDf(Seq("def"), Nil, Seq("val"), filter = Seq("val")).isEmpty)
  }

  test("range filter (dl): scores unchanged, both paths agree, loud pins") {
    // brute doc-value map from the oracle's raw tokenization — a green gate
    // also re-checks that postings dls == registry dl == raw token count
    val docDl: Map[Long, Long] =
      oracle.rows.collect().map(r => r._1 -> r._4.toLong).toMap
    def inR(lo: Long, hi: Long)(d: Long): Boolean = docDl(d) >= lo && docDl(d) < hi
    val dls = docDl.values.toSeq.sorted
    // a range that keeps roughly the middle half — guaranteed non-trivial
    val (rlo, rhi) = (dls(dls.size / 4), dls(3 * dls.size / 4))
    var shrank = 0
    for ((m, sh, f, ms) <- Seq(
        (Seq("def"), Seq("val"), Nil, 0),         // must anchor
        (Seq("def", "val"), Nil, Nil, 0),         // conjunction anchor
        (Nil, Seq("def", "val"), Nil, 1),         // should-only, msm floor
        (Seq("def"), Nil, Seq("class"), 0))) {    // term filter ∧ range
      val fset: Option[Set[Long]] =
        if (f.isEmpty) None
        else Some(f.map(t => oracle.topKBool(Nil, Seq(t), Nil, N.toInt + 1)
          .map(_.docId).toSet).reduce(_ intersect _))
      val want = oracle.topKBool(m, sh, Nil, N.toInt + 1, ms)
        .collect { case h if inR(rlo, rhi)(h.docId) && fset.forall(_.contains(h.docId)) =>
          (h.docId, h.score) }.toSeq
      val got = reader.searchBool(m, sh, Nil, N.toInt + 1, ms, filter = f,
        dlRange = Some((rlo, rhi))).map(h => (h.docId, h.score)).toSeq
      assert(got.map(_._1) == want.map(_._1), s"range bool ranks for ($m, $sh, $f, ms=$ms)")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g._2 - w._2) <= 1e-9 * math.max(1.0, math.abs(w._2)),
          s"range filter must not change scores for ($m, $sh)")
      }
      val gotDf = reader.searchBoolDf(m, sh, Nil, ms, filter = f,
        dlRange = Some((rlo, rhi)))
        .orderBy(desc("score"), asc("docId")).as[(Long, Double)].collect().toSeq
      assert(gotDf == got.map { case (d, s) => (d, s) } || {
        // compare with tolerance: the two paths' folds are gated elsewhere
        gotDf.map(_._1) == got.map(_._1) &&
          gotDf.zip(got).forall { case (a, b) =>
            math.abs(a._2 - b._2) <= 1e-12 * math.max(1.0, math.abs(b._2)) }
      }, s"range paths diverge for ($m, $sh, $f)")
      val unranged = oracle.topKBool(m, sh, Nil, N.toInt + 1, ms).map(_.docId)
      if (want.nonEmpty && want.map(_._1) != unranged.toSeq) shrank += 1
    }
    assert(shrank >= 2, "range never shrank a non-empty result — fixture too sparse")
    // empty range -> empty, not an error
    assert(reader.searchBool(Seq("def"), Nil, Nil, 10, dlRange = Some((0L, 1L))).isEmpty)
    assert(reader.searchBoolDf(Seq("def"), Nil, Nil, dlRange = Some((0L, 1L))).isEmpty)
    // range-only bool is a registry scan — both paths refuse loudly
    intercept[IllegalArgumentException](
      reader.searchBool(Nil, Nil, Nil, 10, dlRange = Some((rlo, rhi))))
    intercept[IllegalArgumentException](
      reader.searchBoolDf(Nil, Nil, Nil, dlRange = Some((rlo, rhi))))
    // should-only + range at msm = 0: ES matches range-only docs at score 0 —
    // the relational registry-driven path serves it; the postings walk refuses
    val relOnly = reader.searchBoolDf(Nil, Seq("z100_id"), Nil,
      dlRange = Some((rlo, rhi)))
      .orderBy(desc("score"), asc("docId")).as[(Long, Double)].collect().toSeq
    val scoredSet = oracle.topKBool(Nil, Seq("z100_id"), Nil, N.toInt + 1)
      .collect { case h if inR(rlo, rhi)(h.docId) => (h.docId, h.score) }.toSeq
    val zeroSet = (docDl.keySet.filter(inR(rlo, rhi)) -- scoredSet.map(_._1))
      .toSeq.sorted.map(d => (d, 0.0))
    assert(relOnly.map(_._1) == (scoredSet ++ zeroSet).map(_._1),
      "relational should-only + range must match every range doc (score 0 tail)")
    assert(zeroSet.nonEmpty, "no zero-scored range doc — fixture too sparse for the gate")
    intercept[IllegalArgumentException](
      reader.searchBool(Nil, Seq("z100_id"), Nil, 10, dlRange = Some((rlo, rhi))))
  }

  test("synonym groups == brute SynonymQuery oracle; singleton group == plain match bit-exact") {
    val rows = oracle.rows.collect() // (docId, term, tf, dl)
    val byDoc = rows.groupBy(_._1)
    val nD = byDoc.size.toLong
    val avgdl = byDoc.valuesIterator.map(_.head._4.toLong).sum.toDouble / nD
    def dfOf(t: String): Long = rows.iterator.filter(_._2 == t).map(_._1).toSet.size.toLong
    val groups = Seq(Seq("def"), Seq("val", "class"))
    // brute: per group, tf = Σ member tfs, df = max member df, one idf
    val gdf = groups.map(g => g.map(dfOf).max)
    val want = byDoc.iterator.flatMap { case (id, rs) =>
      val dl = rs.head._4.toLong
      val perG = groups.zipWithIndex.map { case (g, gi) =>
        val tfsum = rs.iterator.filter(r => g.contains(r._2)).map(_._3.toLong).sum
        if (tfsum == 0L) 0.0
        else Bm25.idf(nD, gdf(gi)) * Bm25.tfNorm(tfsum, dl, avgdl, Bm25.Default)
      }
      val s = perG.sum
      if (s > 0.0) Some((id, s)) else None
    }.toSeq.sortBy { case (id, s) => (-s, id) }
    val got = reader.synonymScoreAllDf(groups)
      .orderBy(desc("score"), asc("docId")).as[(Long, Double)].collect().toSeq
    assert(got.map(_._1) == want.map(_._1), "synonym ranks")
    got.zip(want).foreach { case (g, w) =>
      assert(math.abs(g._2 - w._2) <= 1e-9 * math.max(1.0, math.abs(w._2)),
        s"synonym score for doc ${g._1}: ${g._2} vs ${w._2}")
    }
    // the blend must be REAL: some doc contains BOTH members, and its group
    // score differs from scoring the members as separate clauses
    val both = byDoc.collect { case (id, rs)
      if rs.exists(_._2 == "val") && rs.exists(_._2 == "class") => id }.toSeq
    assert(both.nonEmpty, "no doc holds both synonyms — merge unexercised")
    locally {
      val rs = byDoc(both.head)
      val dl = rs.head._4.toLong
      def tfOf(t: String): Long = rs.iterator.filter(_._2 == t).map(_._3.toLong).sum
      val merged = Bm25.idf(nD, gdf(1)) *
        Bm25.tfNorm(tfOf("val") + tfOf("class"), dl, avgdl, Bm25.Default)
      val split = Bm25.idf(nD, dfOf("val")) * Bm25.tfNorm(tfOf("val"), dl, avgdl, Bm25.Default) +
        Bm25.idf(nD, dfOf("class")) * Bm25.tfNorm(tfOf("class"), dl, avgdl, Bm25.Default)
      assert(math.abs(merged - split) > 1e-12,
        "synonym group scored identically to separate clauses — tf merge unexercised")
    }
    // a ONE-term group is bit-identical to the plain match clause
    val a = reader.synonymScoreAllDf(Seq(Seq("def")))
      .orderBy(desc("score"), asc("docId")).as[(Long, Double)].collect().toSeq
    val b = reader.scoreAllTerms(Array("def"))
      .orderBy(desc("score"), asc("docId")).as[(Long, Double)].collect().toSeq
    assert(a == b, "singleton synonym group must be bit-identical to match")
    // overlapping groups double-count — rejected loudly
    intercept[IllegalArgumentException](
      reader.synonymScoreAllDf(Seq(Seq("def"), Seq("def", "val"))))
    // all-unseen groups contribute nothing; every group unseen -> empty
    assert(reader.synonymScoreAllDf(Seq(Seq("qqqzzznotfound"))).isEmpty)
  }

  test("rare_terms == dictionary long tail under (df asc, term asc); ES bound enforced") {
    val rows = oracle.rows.collect() // (docId, term, tf, dl)
    val dfs: Map[String, Long] = rows.groupBy(_._2)
      .map { case (t, rs) => t -> rs.map(_._1).distinct.size.toLong }
    for (m <- Seq(1L, 5L, 100L)) {
      val want = dfs.filter(_._2 <= m).toSeq.sortBy { case (t, df) => (df, t) }
      val got = reader.rareTermsDf(m).as[(String, Long)].collect().toSeq
      assert(got == want, s"rare_terms(max_doc_count=$m)")
    }
    // the fixture must exercise BOTH sides of the cut at every tested bound
    assert(dfs.values.exists(_ <= 1L) && dfs.values.exists(_ > 100L),
      "fixture needs rare AND common terms")
    intercept[IllegalArgumentException](reader.rareTermsDf(0L))
    intercept[IllegalArgumentException](reader.rareTermsDf(101L))
  }

  test("constant_score: filter doc set at the constant boost, nothing else") {
    def docsWith(t: String): Set[Long] =
      oracle.topKBool(Nil, Seq(t), Nil, N.toInt + 1).map(_.docId).toSet
    for ((f, boost) <- Seq((Seq("def", "val"), 1.5), (Seq("buf_buf"), 0.25))) {
      val want = f.map(docsWith).reduce(_ intersect _)
      val got = reader.constantScoreDf(f, boost).as[(Long, Double)].collect()
      assert(got.map(_._1).toSet == want, s"constant_score doc set for $f")
      assert(got.forall(_._2 == boost), s"constant_score must emit exactly $boost")
    }
    intercept[IllegalArgumentException](reader.constantScoreDf(Nil, 1.0))
    intercept[IllegalArgumentException](reader.constantScoreDf(Seq("def"), 0.0))
    intercept[IllegalArgumentException](reader.constantScoreDf(Seq("def"), -1.0))
  }

  test("completion suggester == brute prefix-restricted df ranking") {
    val rawRows = oracle.rows.collect()
    val dfMap = rawRows.groupBy(_._2)
      .map { case (t, rs) => t -> rs.map(_._1).distinct.length.toLong }
    for (p <- Seq("de", "b", "z1"); size <- Seq(1, 3, 100)) {
      val want = dfMap.filter(_._1.startsWith(p))
        .toSeq.sortBy { case (t, df) => (-df, t) }.take(size)
      val got = reader.completionSuggestDf(p, size).as[(String, Long)].collect().toSeq
      assert(got == want, s"completion for '$p' size=$size")
    }
    assert(reader.completionSuggestDf("qqq", 5).isEmpty)
    intercept[IllegalArgumentException](reader.completionSuggestDf("de", 0))
  }

  test("terms agg + avg sub-agg == brute per-term member mean") {
    val rawRows = oracle.rows.collect()
    // deterministic doc value keyed by docId — any doc-values column works
    val values = spark.createDataset(rawRows.map(_._1).distinct.toSeq
      .map(d => (d, (d % 97).toDouble))).toDF("docId", "value")
    val want = rawRows.groupBy(_._2).map { case (t, rs) =>
      val members = rs.map(_._1).distinct
      (t, members.length.toLong, members.map(d => (d % 97).toDouble).sum / members.length)
    }.toSeq.sortBy { case (t, df, _) => (-df, t) }
    for (size <- Seq(3, 25)) {
      val got = reader.termsStatsDf(size, values).as[(String, Long, Double)].collect().toSeq
      assert(got.map(g => (g._1, g._2)) == want.take(size).map(w => (w._1, w._2)),
        s"terms_stats buckets top-$size")
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g._3 - w._3) <= 1e-9, s"terms_stats mean for ${g._1}")
      }
    }
  }

  test("bool top-k plans: driver-scored == bucketed on every clause shape, k = 1, 10, N + 1") {
    // searchBool scores these small postings on the driver as one bucket;
    // the reader's groupedForm(7) takes the docId-bucketed plan. The other
    // tests pin searchBool to the oracle; this pins the two plans together.
    val docDls = oracle.rows.collect().map(_._4.toLong).distinct.sorted
    val mid = Some((docDls(docDls.size / 4), docDls(3 * docDls.size / 4)))
    val shapes: Seq[(Seq[String], Seq[String], Seq[String], Int, Map[String, Double],
        Seq[String], Option[(Long, Long)])] =
      cases.map { case (m, sh, n) => (m, sh, n, 0, Map.empty[String, Double], Nil, None) } ++ Seq(
        (Seq("def"), Seq("val", "class", "import"), Nil, 2, Map.empty[String, Double], Nil, None),
        (Nil, Seq("def", "val", "class"), Nil, 2, Map.empty[String, Double], Nil, None),
        (Seq("def"), Seq("val", "class"), Nil, 0, Map("val" -> 2.5, "def" -> 0.5), Nil, None),
        (Nil, Seq("val", "class"), Nil, 0, Map("class" -> 3.0), Nil, None),
        (Seq("def"), Seq("val"), Nil, 0, Map.empty[String, Double], Seq("class"), None),
        (Nil, Seq("z100_id"), Nil, 0, Map.empty[String, Double], Seq("def"), None),
        (Nil, Nil, Nil, 0, Map.empty[String, Double], Seq("buf_buf"), None),
        (Seq("def"), Seq("val"), Nil, 0, Map.empty[String, Double], Nil, mid),
        (Nil, Seq("def", "val"), Nil, 1, Map.empty[String, Double], Nil, mid),
        (Seq("def"), Nil, Seq("return"), 0, Map.empty[String, Double], Seq("class"), mid))
    var nonEmpty = 0
    for ((m, sh, n, ms, b, f, r) <- shapes; k <- Seq(1, 10, N.toInt + 1)) {
      val driver = reader.searchBool(m, sh, n, k, ms, b, f, r).toSeq
      val bucketed = grouped.searchBool(m, sh, n, k, ms, b, f, r).toSeq
      assert(driver == bucketed, s"bool plans diverge for ($m, $sh, $n, ms=$ms, $b, $f, $r, k=$k)")
      if (driver.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 3 * 14, s"only $nonEmpty non-empty runs — fixture too sparse for the gate")
  }

  test("job guards: memo-hit bool and fuzzy top-k") {
    reader.searchBool(Seq("def"), Seq("val"), Seq("class"), 10) // fills the dictionary memo
    val boolJobs = countJobs(reader.searchBool(Seq("def"), Seq("val"), Seq("class"), 10))
    assert(boolJobs == 1, s"memo-hit searchBool ran $boolJobs jobs")
    // the grouped form skips the top-k gate: scan + exchange, then the merge
    grouped.searchBool(Seq("def"), Seq("val"), Seq("class"), 10)
    val groupedJobs = countJobs(grouped.searchBool(Seq("def"), Seq("val"), Seq("class"), 10))
    assert(groupedJobs >= 2, s"memo-hit groupedForm(7).searchBool ran $groupedJobs job: not the bucketed plan")
    val r = new IndexReader(spark, dir)
    r.stats
    assert(r.resident.isDefined, "the fixture's dictionary is under the resident bound")
    // the expansion and termMeta run on the driver over the loaded table;
    // the postings scan is the one job
    val fuzzyJobs = countJobs(r.fuzzyTopK("deff", 2, 10))
    assert(fuzzyJobs == 1, s"single-segment fuzzyTopK ran $fuzzyJobs jobs")
  }

  test("expansions seed the dictionary memo: termMeta after them runs no job") {
    assertExpansionsSeedMemo(dir)
  }

  test("top-k entry points reject k < 1 before any job") {
    val r = new IndexReader(spark, dir)
    val calls: Seq[(String, () => Any)] = Seq(
      "searchBmw" -> (() => r.searchBmw("def", 0)),
      "searchBool" -> (() => r.searchBool(Seq("def"), Nil, Nil, 0)),
      "fuzzyTopK" -> (() => r.fuzzyTopK("deff", 2, 0)),
      "wildcardTopK" -> (() => r.wildcardTopK("*uf*", -1)),
      "mltTopK" -> (() => r.mltTopK("def val class", 0)),
      "searchBmwBatch" -> (() => r.searchBmwBatch(Seq("def", "val"), 0)))
    for ((name, call) <- calls) {
      var msg = ""
      val jobs = countJobs { msg = intercept[IllegalArgumentException](call()).getMessage }
      assert(jobs == 0, s"$name ran $jobs jobs before rejecting k")
      assert(msg.contains("k >= 1") && msg.contains("rank every match"), s"$name: $msg")
    }
    // and the grouped form rejects a bucket count < 1 the same way
    val jobs = countJobs(intercept[IllegalArgumentException](r.groupedForm(0)))
    assert(jobs == 0, s"groupedForm(0) ran $jobs jobs before rejecting")
  }

  test("bool across base ∪ delta segments") {
    val ddir = "/tmp/graft_test_bool_delta"
    Tables.delete(spark, "/tmp", "graft_test_bool_delta")
    val base = corpus.filter(f => math.abs(f.path.hashCode % 4) != 0)
    val extra = corpus.filter(f => math.abs(f.path.hashCode % 4) == 0)
    InvertedIndex.build(spark, base, ddir, cfg, runId = "bool-base")
    graft.index.DeltaIndex.addDocuments(spark, ddir, extra, cfg, runId = "bool-delta")
    val r = new IndexReader(spark, ddir)
    for ((m, sh, n) <- Seq((Seq("def", "val"), Seq("buf_buf"), Seq("class")))) {
      // composite docIds differ from the oracle's single-build ids, so
      // compare score multisets (scores are key-independent)
      val got = r.searchBool(m, sh, n, 10).map(_.score).toSeq
      val want = oracle.topKBool(m, sh, n, 10).map(_.score).toSeq
      assert(got.size == want.size)
      got.zip(want).foreach { case (g, w) =>
        assert(math.abs(g - w) <= 1e-9 * math.max(1.0, math.abs(w)),
          s"composite bool scores for ($m, $sh, $n)")
      }
    }
  }
}
