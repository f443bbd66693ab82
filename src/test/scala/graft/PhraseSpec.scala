package graft

import graft.codec.PostingsCodec
import graft.fixtures.CorpusGen
import graft.index.{DeltaIndex, IndexConfig, InvertedIndex}
import graft.io.Tables
import graft.query.IndexReader
import graft.tokenize.CodeTokenizer
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Positional phrase matching (B15) against an exhaustive oracle: the
  * reference result is computed by tokenizing every document directly and
  * sliding the phrase window over the token stream — no index involved. The
  * engine path (positions through the salted SPIMI build, block pos
  * payloads, bucketed intersect + lazy position decode) must agree exactly
  * on (docId, phraseTf) for every phrase, including duplicate-token and
  * absent-term phrases.
  */
class PhraseSpec extends SparkSpec with BeforeAndAfterAll {
  val N = 800L
  val dir = "/tmp/graft_test_phrase"
  // the same corpus split into a base segment and one delta segment
  val ddir = "/tmp/graft_test_phrase_delta"
  // salting forced on (low threshold) so phrase terms cross salted runs
  val cfg: IndexConfig = IndexConfig(partitions = 8, heavyDfThreshold = 200L, saltRunDocs = 200L)

  lazy val corpus = CorpusGen.dataset(spark, N, 8)
  lazy val reader = new IndexReader(spark, dir)

  // docId -> token stream, via the registry locator join (the docs table
  // stores no content)
  lazy val tokensById: Map[Long, Array[String]] = {
    import spark.implicits._
    corpus.toDF()
      .join(Tables.read(spark, dir, InvertedIndex.DocsTable)
        .select("docId", "repo", "path", "commit"), Seq("repo", "path", "commit"))
      .select(col("docId"), col("content")).as[(Long, String)]
      .collect().map { case (id, c) => id -> CodeTokenizer.tokenize(c) }.toMap
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.delete(spark, "/tmp", "graft_test_phrase")
    InvertedIndex.build(spark, corpus, dir, cfg, runId = "phrase")
    Tables.delete(spark, "/tmp", "graft_test_phrase_delta")
    InvertedIndex.build(spark, corpus.filter(f => math.abs(f.path.hashCode % 5) != 0), ddir, cfg,
      runId = "phrase-base")
    DeltaIndex.addDocuments(spark, ddir, corpus.filter(f => math.abs(f.path.hashCode % 5) == 0),
      cfg, runId = "phrase-delta")
    ()
  }

  /** The docId-bucketed query plans: `r`'s small-scan gate chooses (one
    * narrow partition on these fixtures), its groupedForm(7) the exchange.
    */
  def planReaders(r: IndexReader) = Seq("gate" -> r, "grouped" -> r.groupedForm(7))
  lazy val readerPlans = planReaders(reader)

  def slideCount(tokens: Array[String], phrase: Array[String]): Int = {
    var c = 0
    var i = 0
    while (i + phrase.length <= tokens.length) {
      var j = 0
      var ok = true
      while (ok && j < phrase.length) {
        if (tokens(i + j) != phrase(j)) ok = false
        j += 1
      }
      if (ok) c += 1
      i += 1
    }
    c
  }

  def oracle(phrase: String): Map[Long, Int] = {
    val p = CodeTokenizer.tokenize(phrase)
    tokensById.iterator
      .map { case (id, ts) => id -> slideCount(ts, p) }
      .filter(_._2 > 0).toMap
  }

  def engine(phrase: String): Map[Long, Int] = {
    import spark.implicits._
    reader.matchPhraseDf(phrase).as[(Long, Int)].collect().toMap
  }

  val phrases = Seq(
    "def val",                 // stopword-scale pair
    "return if",               // stopword-scale pair
    "def def",                 // duplicate-token phrase
    "def val class",           // 3-token
    "val qqqzzznotfound",      // absent term -> conjunctive empty
    "buf_buf",                 // single token: phraseTf == tf
    "Def VAL")                 // case folding in the phrase analyzer

  test("phrase engine == exhaustive slide oracle on every phrase") {
    var nonEmpty = 0
    for (ph <- phrases) {
      val exp = oracle(ph)
      val got = engine(ph)
      assert(got == exp, s"phrase '$ph': engine $got vs oracle $exp")
      if (exp.nonEmpty) nonEmpty += 1
    }
    // the gate must not pass vacuously on an all-empty phrase set
    assert(nonEmpty >= 4, s"only $nonEmpty phrases matched anything — fixture too sparse")
  }

  test("phrase across base ∪ delta segments (positions in composite serving)") {
    import spark.implicits._
    val r = new IndexReader(spark, ddir)
    // compare doc SETS via the stable (repo,path,commit)-independent count
    // per phrase: composite docIds differ from the single build's, so
    // compare multisets of phraseTf joined back through the registries
    for (ph <- Seq("def val", "def def", "val class")) {
      val exp = oracle(ph).toSeq.map(_._2).sorted
      val got = r.matchPhraseDf(ph).as[(Long, Int)].collect().toSeq.map(_._2).sorted
      assert(got == exp, s"composite phrase '$ph' multiset mismatch")
    }
  }

  test("positions codec round-trip (per-posting VByte streams split by tf)") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val nPostings = 1 + rnd.nextInt(8)
      val perDoc = Array.fill(nPostings) {
        val tf = 1 + rnd.nextInt(6)
        val ps = scala.collection.mutable.SortedSet.empty[Int]
        while (ps.size < tf) ps += rnd.nextInt(100000)
        ps.toArray
      }
      val tfs = perDoc.map(_.length)
      val concat = perDoc.flatMap(PostingsCodec.encodePositions)
      val back = PostingsCodec.decodePositions(tfs, concat)
      assert(back.map(_.toSeq).toSeq == perDoc.map(_.toSeq).toSeq)
    }
  }

  test("TfPosCounter positions == tokenize-stream positions (differential)") {
    val docs = (0L until 50L).map(CorpusGen.row).map(_.content) :+ "" :+ "a b a b a"
    for (c <- docs) {
      val toks = CodeTokenizer.tokenize(c)
      val expected = toks.zipWithIndex.groupBy(_._1)
        .map { case (t, xs) => t -> xs.map(_._2).toSeq }
      val m = CodeTokenizer.tfPos(c)
      assert(m.dl == toks.length)
      val got = m.iterator.map { case (t, tf, bytes) =>
        val ps = PostingsCodec.decodePositions(Array(tf), bytes)(0)
        t -> ps.toSeq
      }.toMap
      assert(got == expected)
    }
  }

  /** Independent slop oracle: a start i (tokens(i) == phrase(0)) matches
    * when SOME strictly increasing index chain within the span budget
    * n-1+slop realizes the phrase — brute-force DFS over the window, no
    * greedy assumption shared with the engine.
    */
  def slopCount(tokens: Array[String], phrase: Array[String], slop: Int): Int = {
    val n = phrase.length
    def exists(start: Int, k: Int, prev: Int): Boolean =
      k == n || (prev + 1 to math.min(start + n - 1 + slop, tokens.length - 1)).exists(j =>
        tokens(j) == phrase(k) && exists(start, k + 1, j))
    tokens.indices.count(i => tokens(i) == phrase(0) && exists(i, 1, i))
  }

  def slopOracle(phrase: String, slop: Int): Map[Long, Int] = {
    val p = CodeTokenizer.tokenize(phrase)
    tokensById.iterator
      .map { case (id, ts) => id -> slopCount(ts, p, slop) }
      .filter(_._2 > 0).toMap
  }

  test("slop semantics: DFS oracle at slop 0 == exact slide-window oracle") {
    for (ph <- phrases) {
      val p = CodeTokenizer.tokenize(ph)
      for ((id, ts) <- tokensById.take(200))
        assert(slopCount(ts, p, 0) == slideCount(ts, p),
          s"slop-0 DFS vs slide for '$ph' doc $id")
    }
  }

  test("sloppy phrase engine == DFS oracle at slop in {0, 1, 2}") {
    import spark.implicits._
    var nonTrivial = 0
    for (ph <- Seq("def val", "def def", "def val class", "return if"); sl <- Seq(0, 1, 2)) {
      val exp = slopOracle(ph, sl)
      for ((plan, r) <- readerPlans) {
        val got = r.matchPhraseDf(ph, sl).as[(Long, Int)].collect().toMap
        assert(got == exp,
          s"phrase '$ph' slop $sl ($plan plan): engine ${got.size} docs vs oracle ${exp.size}")
      }
      // the gate is vacuous unless slop actually ADMITS new matches somewhere
      if (sl > 0 && exp != slopOracle(ph, 0)) nonTrivial += 1
    }
    assert(nonTrivial >= 2, s"slop never changed any result — fixture too sparse for the gate")
  }

  /** phrase-prefix DFS oracle: last slot matches by startsWith, other
    * slots exactly; same span-budget chain semantics.
    */
  def prefixSlopCount(tokens: Array[String], fixed: Array[String], prefix: String,
      slop: Int): Int = {
    val n = fixed.length + 1
    def slotOk(k: Int, t: String): Boolean =
      if (k == n - 1) t.startsWith(prefix) else t == fixed(k)
    def exists(start: Int, k: Int, prev: Int): Boolean =
      k == n || (prev + 1 to math.min(start + n - 1 + slop, tokens.length - 1)).exists(j =>
        slotOk(k, tokens(j)) && exists(start, k + 1, j))
    tokens.indices.count(i => slotOk(0, tokens(i)) && exists(i, 1, i))
  }

  test("match_phrase_prefix engine == DFS oracle (incl. slop and expansion edge cases)") {
    import spark.implicits._
    var nonEmpty = 0
    // (phrase input, fixed tokens, prefix) — matchPhrasePrefixDf takes the
    // raw string and treats the LAST analyzed token as the prefix
    val cases = Seq(("def v", Array("def"), "v"), ("return cl", Array("return"), "cl"),
      ("def d", Array("def"), "d"), // expansion overlaps the fixed token
      ("val qqq", Array("val"), "qqq")) // empty expansion -> empty result
    for ((ph, fixed, prefix) <- cases; sl <- Seq(0, 1)) {
      val exp = tokensById.iterator
        .map { case (id, ts) => id -> prefixSlopCount(ts, fixed, prefix, sl) }
        .filter(_._2 > 0).toMap
      for ((plan, r) <- readerPlans) {
        val got = r.matchPhrasePrefixDf(ph, 1000, sl).as[(Long, Int)].collect().toMap
        assert(got == exp, s"phrase_prefix '$ph' slop $sl ($plan plan): ${got.size} vs ${exp.size} docs")
      }
      if (exp.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 4, "phrase-prefix gate near-vacuous — fixture too sparse")
  }

  test("span_near engine == brute-force min-cover oracle (k = 2 and 3, several slops)") {
    import spark.implicits._
    // brute force: min over the cartesian product of one position per term
    def bruteGap(tokens: Array[String], terms: Array[String]): Option[Int] = {
      val lists = terms.map(t => tokens.zipWithIndex.filter(_._1 == t).map(_._2))
      if (lists.exists(_.isEmpty)) return None
      def combos(ls: List[Array[Int]]): Iterator[List[Int]] = ls match {
        case Nil => Iterator(Nil)
        case h :: t => h.iterator.flatMap(v => combos(t).map(v :: _))
      }
      Some(combos(lists.toList).map(c => (c.max - c.min + 1) - terms.length).min)
    }
    var nonEmpty = 0
    for (q <- Seq("def val", "return if", "def val class"); sl <- Seq(0, 1, 3, 8)) {
      val terms = CodeTokenizer.tokenize(q).distinct.sorted
      val exp = tokensById.iterator.flatMap { case (id, ts) =>
        bruteGap(ts, terms).filter(_ <= sl).map(id -> _)
      }.toMap
      for ((plan, r) <- readerPlans) {
        val got = r.matchSpanNearDf(q, sl).as[(Long, Int)].collect().toMap
        assert(got == exp, s"span_near '$q' slop $sl ($plan plan): ${got.size} vs ${exp.size} docs")
      }
      if (exp.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 6, "span-near gate near-vacuous")
    // unordered: order of terms in the doc must not matter — a doc matching
    // "join ... hash" (reverse order) is found; the DFS ordered oracle at
    // the same slop would reject it, so assert the sets genuinely differ
    val unord = reader.matchSpanNearDf("def val", 0).as[(Long, Int)].collect().toMap
    val ord = slopOracle("def val", 0).keySet
    assert(ord.subsetOf(unord.keySet), "ordered matches must be a subset of unordered")
    assert(unord.keySet != ord, "no reverse-order matches in fixture — unordered gate vacuous")
  }

  test("span_containing/within == brute window-containment oracle; degenerate shapes loud") {
    import spark.implicits._
    def bruteSpans(ts: Array[String], a: String, b: String, slop: Int): Set[(Int, Int)] = {
      val pa = ts.zipWithIndex.filter(_._1 == a).map(_._2)
      val pb = ts.zipWithIndex.filter(_._1 == b).map(_._2)
      (for (x <- pa; y <- pb; s = math.min(x, y); e = math.max(x, y)
            if e - s - 1 <= slop) yield (s, e)).toSet
    }
    var (nzC, nzW) = (0, 0)
    for ((a, b, c, sl) <- Seq(("def", "val", "class", 3), ("return", "if", "def", 5),
        ("def", "val", "import", 8))) {
      val expC = tokensById.iterator.flatMap { case (id, ts) =>
        val wins = bruteSpans(ts, a, b, sl)
        val pc = ts.zipWithIndex.filter(_._1 == c).map(_._2)
        val n = wins.count { case (s, e) => pc.exists(p => s <= p && p <= e) }
        if (n > 0) Some(id -> n) else None
      }.toMap
      for ((plan, r) <- readerPlans) {
        val gotC = r.matchSpanContainingDf(a, b, sl, c).as[(Long, Int)].collect().toMap
        assert(gotC == expC, s"containing ($a,$b,$c,$sl) ($plan plan): ${gotC.size} vs ${expC.size}")
      }
      val expW = tokensById.iterator.flatMap { case (id, ts) =>
        val wins = bruteSpans(ts, a, b, sl)
        val n = ts.zipWithIndex.filter(_._1 == c).map(_._2)
          .count(p => wins.exists { case (s, e) => s <= p && p <= e })
        if (n > 0) Some(id -> n) else None
      }.toMap
      for ((plan, r) <- readerPlans) {
        val gotW = r.matchSpanWithinDf(a, b, sl, c).as[(Long, Int)].collect().toMap
        assert(gotW == expW, s"within ($a,$b,$c,$sl) ($plan plan): ${gotW.size} vs ${expW.size}")
      }
      if (expC.nonEmpty) nzC += 1
      if (expW.nonEmpty) nzW += 1
    }
    assert(nzC >= 2 && nzW >= 2, "containment gates near-vacuous — fixture too sparse")
    intercept[IllegalArgumentException](reader.matchSpanContainingDf("def", "def", 2, "val"))
    intercept[IllegalArgumentException](reader.matchSpanWithinDf("def", "val", 2, "def"))
    intercept[IllegalArgumentException](reader.matchSpanContainingDf("def", "val", -1, "class"))
  }

  test("scored phrase == brute idf-sum × tfNorm over raw tokenization (incl. duplicates, slop)") {
    import spark.implicits._
    import graft.query.Bm25
    val nDocs = tokensById.size.toLong
    def df(t: String): Long = tokensById.valuesIterator.count(_.contains(t)).toLong
    val avgDl = tokensById.valuesIterator.map(_.length.toLong).sum.toDouble / nDocs
    var nonEmpty = 0
    // "def def" exercises the duplicate-token pin: idfSum counts idf(def) TWICE
    for ((ph, sl) <- Seq(("def val", 0), ("def val", 1), ("def def", 0), ("buf_buf", 0))) {
      val toks = CodeTokenizer.tokenize(ph)
      val idfSum = toks.foldLeft(0.0)((acc, t) => acc + Bm25.idf(nDocs, df(t)))
      val exp = tokensById.iterator.flatMap { case (id, ts) =>
        val ptf = slopCount(ts, toks, sl)
        if (ptf == 0) None
        else Some(id -> idfSum * Bm25.tfNorm(ptf.toLong, ts.length.toLong, avgDl, Bm25.Default))
      }.toMap
      val got = reader.phraseScoreDf(ph, sl).as[(Long, Double)].collect().toMap
      assert(got.keySet == exp.keySet, s"scored phrase '$ph' slop $sl doc set")
      for ((id, s) <- got)
        assert(math.abs(s - exp(id)) <= 1e-12 * math.max(1.0, math.abs(exp(id))),
          s"scored phrase '$ph' slop $sl doc $id: $s vs ${exp(id)}")
      if (exp.nonEmpty) nonEmpty += 1
    }
    assert(nonEmpty >= 3, "scored-phrase gate near-vacuous — fixture too sparse")
    // absent term -> conjunctive empty frame (score schema, zero rows)
    assert(reader.phraseScoreDf("def qqqzzznotfound").isEmpty)
  }

  test("phrase query against a frequency-only index fails loudly") {
    val fdir = "/tmp/graft_test_phrase_nopos"
    Tables.delete(spark, "/tmp", "graft_test_phrase_nopos")
    InvertedIndex.build(spark, corpus.limit(50), fdir,
      cfg.copy(storePositions = false), runId = "nopos")
    val r = new IndexReader(spark, fdir)
    val e = intercept[IllegalArgumentException](r.matchPhraseDf("def val"))
    assert(e.getMessage.contains("storePositions"))
  }

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq

  private def hasExchange(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange")

  /** Every DataFrame consumer of the docId-bucketed plans, by name, as a
    * function of the reader that plans it.
    */
  private val planFrames: Seq[(String, IndexReader => DataFrame)] = Seq(
    "phrase slop 0" -> (_.matchPhraseDf("def val", 0)),
    "phrase slop 1" -> (_.matchPhraseDf("def val class", 1)),
    "phrase_prefix" -> (_.matchPhrasePrefixDf("def va", 32, 0)),
    "span_near" -> (_.matchSpanNearDf("def val", 3)),
    "span_multi" -> (_.matchSpanMultiNearDf("buf", "def", 5, 128)),
    "span_not" -> (_.matchSpanNotDf("def", "val", 1, 1)),
    "span_containing" -> (_.matchSpanContainingDf("def", "val", 4, "class")),
    "span_within" -> (_.matchSpanWithinDf("def", "val", 4, "class")),
    "prefix, probe complete" -> (_.matchPrefixDf("de", 64)),
    "prefix, probe over the cap" -> (_.matchPrefixDf("de", 1)))

  for ((label, d) <- Seq("one segment" -> dir, "base + delta" -> ddir))
    test(s"single-bucket plan == bucketed plan for every consumer ($label)") {
      val r = new IndexReader(spark, d)
      assert(r.segments.size == (if (d == dir) 1 else 2))
      var nonEmpty = 0
      for ((name, frame) <- planFrames) {
        // a fresh reader per consumer: the gate must look its terms up itself
        val fresh = new IndexReader(spark, d)
        val (one, grouped) = (frame(fresh), frame(fresh.groupedForm(7)))
        assert(hasExchange(grouped), s"$name: groupedForm(7) did not plan the exchange")
        assert(hasExchange(one) == name.endsWith("over the cap"),
          s"$name: the gate chose the wrong plan:\n${one.queryExecution.executedPlan}")
        assert(one.schema == grouped.schema, s"$name: schemas differ")
        val rows = sortedRows(one)
        assert(rows == sortedRows(grouped), s"$name: single-bucket rows != bucketed rows")
        if (rows.nonEmpty) nonEmpty += 1
      }
      assert(nonEmpty == planFrames.size, s"only $nonEmpty consumers matched — fixture too sparse")

      val grouped = r.groupedForm(7)
      val suggest = sortedRows(r.suggestPhraseDf("deff vall", 1, 32, 5))
      assert(suggest.nonEmpty && suggest == sortedRows(grouped.suggestPhraseDf("deff vall", 1, 32, 5)),
        "suggestPhraseDf: single-bucket rows != bucketed rows")

      // a small batch takes the one-task plan, a long one the buckets
      for (batch <- Seq(smallBatch, longBatch)) {
        val hits = r.searchBmwBatch(batch, 10)
        assert(hits.values.count(_.nonEmpty) >= batch.size / 2)
        assert(hits.map { case (q, h) => q -> h.toSeq } ==
          grouped.searchBmwBatch(batch, 10).map { case (q, h) => q -> h.toSeq },
          s"searchBmwBatch (${batch.size} queries): gate-chosen hits != bucketed hits")
      }
    }

  val smallBatch = Seq("def val", "buf_idx class", "z100_id return", "qqqzzznotfound")
  val longBatch = smallBatch ++ Seq("import if", "else def", "class return", "val if",
    "buf_buf import", "return else", "def class val")

  test("job guards: memo-hit phrase, span_not and small batch, probe-memoized prefix and repeated fuzzy run one job") {
    val r = new IndexReader(spark, dir)
    r.matchPhraseDf("def val").count() // fills the dictionary memo
    val phraseJobs = countJobs(r.matchPhraseDf("def val").count())
    assert(phraseJobs == 1, s"memo-hit matchPhraseDf(..).count() ran $phraseJobs jobs")
    r.matchSpanNotDf("def", "class", 1, 1).count()
    val spanJobs = countJobs(r.matchSpanNotDf("def", "class", 1, 1).count())
    assert(spanJobs == 1, s"memo-hit matchSpanNotDf(..).count() ran $spanJobs jobs")
    // the probe runs on the driver over the dictionary the first query loaded
    val coldPrefix = countJobs(r.matchPrefixDf("de").count())
    assert(coldPrefix == 1, s"cold matchPrefixDf(..).count() ran $coldPrefix jobs")
    val prefixJobs = countJobs(r.matchPrefixDf("de").count())
    assert(prefixJobs == 1, s"probe-memoized matchPrefixDf(..).count() ran $prefixJobs jobs")
    r.fuzzyTopK("deff", 2, 10)
    val fuzzyJobs = countJobs(r.fuzzyTopK("deff", 2, 10))
    assert(fuzzyJobs == 1, s"repeated single-segment fuzzyTopK ran $fuzzyJobs jobs")
    r.searchBmwBatch(longBatch, 10) // looks up every batch term
    val smallJobs = countJobs(r.searchBmwBatch(smallBatch, 10))
    assert(smallJobs == 1, s"memo-hit 4-query searchBmwBatch ran $smallJobs jobs")
    val longJobs = countJobs(r.searchBmwBatch(longBatch, 10))
    assert(longJobs >= 2, s"memo-hit 11-query searchBmwBatch ran $longJobs job: not the bucketed plan")
    // the grouped form buckets even the small batch and merges it through
    // the exchange on query id: one job more than the long batch
    val grouped = r.groupedForm(7)
    grouped.searchBmwBatch(smallBatch, 10)
    val groupedJobs = countJobs(grouped.searchBmwBatch(smallBatch, 10))
    assert(groupedJobs > longJobs, s"memo-hit 4-query groupedForm(7).searchBmwBatch ran $groupedJobs jobs")
  }

  test("job guards: a fresh reader's first query runs load + 1; with the table loaded, cold-term match, bool and phrase run one job") {
    val r = new IndexReader(spark, dir)
    r.stats
    val first = countJobs(r.searchBmw("z100_id return", 10))
    assert(first == 2, s"a fresh reader's first searchBmw ran $first jobs (dictionary load + postings)")
    assert(r.resident.isDefined)
    // terms this reader has not looked up before
    val bmwJobs = countJobs(r.searchBmw("buf_idx import", 10))
    assert(bmwJobs == 1, s"cold-term searchBmw ran $bmwJobs jobs")
    val boolJobs = countJobs(r.searchBool(Seq("class"), Seq("else"), Seq("z101_id"), 10))
    assert(boolJobs == 1, s"cold-term searchBool ran $boolJobs jobs")
    val phraseJobs = countJobs(r.matchPhraseDf("if val").count())
    assert(phraseJobs == 1, s"cold-term matchPhraseDf(..).count() ran $phraseJobs jobs")
  }

  /** Every dictionary consumer, resident form against scan form, on readers
    * over `d`: bit-equal term metas and equal dfs, expansions and probes.
    */
  def assertResidentEqualsScan(d: String): Unit = {
    val res = new IndexReader(spark, d)
    val scan = res.scanForm
    assert(res.resident.isDefined, s"$d: the fixture's dictionary is under the resident bound")
    assert(scan.resident.isEmpty, s"$d: the scan form holds a table")
    val vocab = res.segments.map(seg => Tables.read(spark, seg, InvertedIndex.DictTable).select("term"))
      .reduce(_ union _).distinct().collect().map(_.getString(0)).sorted
    assert(res.resident.get.size == vocab.length)
    val lookups = vocab ++ Array("qqqzzznotfound", "zz", "")
    assert(metaBits(res.termMeta(lookups)) == metaBits(scan.termMeta(lookups)), s"$d: termMeta")
    assert(res.termDfs(lookups) == scan.termDfs(lookups), s"$d: termDfs")
    val (resMeta, resDfs) = res.termMetaWithDfs(lookups)
    val (scanMeta, scanDfs) = scan.termMetaWithDfs(lookups)
    assert(metaBits(resMeta) == metaBits(scanMeta) && resDfs == scanDfs, s"$d: termMetaWithDfs")

    def same(what: String)(f: IndexReader => Array[String]): Unit = {
      val (a, b) = (f(res).toSeq, f(scan).toSeq)
      assert(a == b, s"$d: $what resident $a != scan $b")
    }
    // a cap at which the (df desc, term asc) cut falls inside a run of
    // equal dfs — the term tie-break decides which terms survive
    var ties = 0
    def tieCap(terms: Array[String]): Option[Int] = {
      val dfs = res.termDfs(terms).values.toArray.sorted(Ordering[Long].reverse)
      val at = (1 until dfs.length).find(i => dfs(i - 1) == dfs(i))
      ties += at.size
      at
    }
    for (q <- Seq("deff", "vall", "buf_idz", "z100_ie", "clas"); e <- Seq(1, 2);
         pl <- Seq(0, 2); tr <- Seq(false, true)) {
      val caps = Seq(1, 50) ++ tieCap(res.expandFuzzy(q, e, 100000, pl, tr))
      for (cap <- caps) same(s"expandFuzzy($q, $e, cap $cap, prefix $pl, transpositions $tr)")(
        _.expandFuzzy(q, e, cap, pl, tr))
    }
    for (p <- Seq("d", "de", "z1", "buf", "qqq", "_")) {
      same(s"expandPrefix($p)")(_.expandPrefix(p))
      val all = res.expandPrefix(p)
      val caps = Seq(1, 64) ++ tieCap(all)
      for (cap <- caps) same(s"expandPrefixCapped($p, $cap)")(_.expandPrefixCapped(p, cap))
      val hi = p.init + (p.last + 1).toChar
      // under the cap (complete), exactly at it, and over it (None)
      for (cap <- Seq(all.length + 1, all.length, all.length - 1).filter(_ > 0)) {
        val (a, b) = (res.prefixProbe(p, hi, cap).map(_.toSeq), scan.prefixProbe(p, hi, cap).map(_.toSeq))
        assert(a == b, s"$d: prefixProbe($p, cap $cap) resident $a != scan $b")
        assert(a.isDefined == (all.length <= cap), s"$d: prefixProbe($p, cap $cap) = $a")
      }
    }
    for (w <- Seq("*uf*", "d*", "*_id", "z1*d", "*a*")) {
      val caps = Seq(1, 128) ++ tieCap(res.expandWildcard(w, 100000))
      for (cap <- caps) same(s"expandWildcard($w, $cap)")(_.expandWildcard(w, cap))
    }
    for (rx <- Seq("de.*|val|class", "z[0-9]+_id", "b.f_.*", ".*", "[a-c]+")) {
      val caps = Seq(1, 128) ++ tieCap(res.expandRegexp(rx, 100000))
      for (cap <- caps) same(s"expandRegexp($rx, $cap)")(_.expandRegexp(rx, cap))
    }
    assert(ties >= 10, s"$d: only $ties expansions were capped inside a df tie")
    // the point lookups behind more_like_this, significant_terms and the
    // term suggester
    same("selectMltTerms")(_.selectMltTerms("def val buf_idx buf_idx class z100_id qqqzzznotfound", 3))
    assert(sortedRows(res.significantTermsDf("buf_idx", 5)) == sortedRows(scan.significantTermsDf("buf_idx", 5)),
      s"$d: significantTermsDf")
    for (mode <- Seq("always", "popular", "missing"); t <- Seq("deff", "def"))
      assert(sortedRows(res.suggestTermsDf(t, 2, 5, mode)) == sortedRows(scan.suggestTermsDf(t, 2, 5, mode)),
        s"$d: suggestTermsDf($t, $mode)")
  }

  test("resident dictionary == scan form for every lookup and expansion (one segment, base + delta)") {
    assertResidentEqualsScan(dir)
    assertResidentEqualsScan(ddir)
  }

  test("memory rules: the resident table is never serialized; a scan-form reader holds none and memoizes") {
    def serializedBytes(o: AnyRef): Int = {
      val bos = new java.io.ByteArrayOutputStream
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(o); oos.close()
      bos.size
    }
    val r = new IndexReader(spark, dir)
    r.stats
    val before = serializedBytes(r)
    val table = r.resident
    assert(table.exists(_.size > 100), s"loaded table holds ${table.map(_.size)} terms")
    val after = serializedBytes(r)
    assert(after == before, s"serialized reader grew from $before to $after bytes after the load")
    val s = new IndexReader(spark, dir).scanForm
    s.stats
    assert(s.resident.isEmpty, "a scan-form reader holds a table")
    assert(s.groupedForm(7).resident.isEmpty, "a scan form's grouped form holds a table")
    // its dictionary memo and expansion memo serve repeats
    s.termMeta(Array("def", "val"))
    assert(countJobs(s.termMeta(Array("def", "val"))) == 0, "memo-hit termMeta ran a job")
    val coldPrefix = countJobs(s.matchPrefixDf("de").count())
    assert(coldPrefix == 2, s"scan-form cold matchPrefixDf(..).count() ran $coldPrefix jobs (probe + scan)")
    val prefixJobs = countJobs(s.matchPrefixDf("de").count())
    assert(prefixJobs == 1, s"scan-form probe-memoized matchPrefixDf(..).count() ran $prefixJobs jobs")
    s.fuzzyTopK("deff", 2, 10)
    val fuzzyJobs = countJobs(s.fuzzyTopK("deff", 2, 10))
    assert(fuzzyJobs == 1, s"scan-form repeated fuzzyTopK ran $fuzzyJobs jobs")
  }

  test("membership counts: plain count == distinct-term count (base + delta)") {
    import spark.implicits._
    val r = new IndexReader(spark, ddir)
    val pairs = r.segments.map(seg => Tables.read(spark, seg, InvertedIndex.PostingsTable)
      .select("term", "firstDocId", "count", "docDeltas"))
      .reduce(_ unionByName _)
      .as[(String, Long, Int, Array[Byte])]
      .flatMap { case (t, f, c, d) => PostingsCodec.decodeDocIds(f, c, d).iterator.map(id => (id, t)) }
      .toDF("docId", "term")
    def distinctCount(where: org.apache.spark.sql.Column): DataFrame =
      pairs.where(where).groupBy("docId").agg(countDistinct("term").as("n_terms"))
    val de = distinctCount(col("term") >= "de" && col("term") < "df")
    assert(sortedRows(de).nonEmpty)
    val set = Seq("def", "val", "buf_idx")
    for ((plan, rp) <- planReaders(r)) {
      for (cap <- Seq(64, 1))
        assert(sortedRows(rp.matchPrefixDf("de", cap)) == sortedRows(de), s"prefix (cap $cap, $plan plan)")
      assert(sortedRows(rp.termsSetDf(set).withColumnRenamed("n_matched", "n_terms")) ==
        sortedRows(distinctCount(col("term").isin(set: _*))), s"terms set ($plan plan)")
    }
    val filterIds = distinctCount(col("term").isin("def", "val"))
      .where(col("n_terms") === 2).select(col("docId"), lit(0.0).as("score"))
    assert(sortedRows(r.searchBoolDf(Nil, filter = Seq("def", "val"))) == sortedRows(filterIds),
      "bool filter conjunction")
  }
}
