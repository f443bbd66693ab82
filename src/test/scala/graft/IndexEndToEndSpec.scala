package graft

import graft.fixtures.{CorpusGen, QuerySet}
import graft.index._
import graft.io.Tables
import graft.lineage.Manifests
import graft.oracle.ExhaustiveScorer
import graft.query.{Bm25, IndexReader}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The correctness gates of BASELINE.json:6 at test scale (SURVEY.md §5.2):
  * rank-identity (naive DAAT == BMW == exhaustive oracle), sha256 invariant,
  * deterministic rebuild, and manifest-based resume. The index is built once
  * with salting forced on (low df threshold) so the primary gates exercise
  * the salted path.
  */
class IndexEndToEndSpec extends SparkSpec with BeforeAndAfterAll {
  val N = 2000L
  val dir = "/tmp/graft_test_index"
  val cfg: IndexConfig = IndexConfig(partitions = 8, heavyDfThreshold = 400L, saltRunDocs = 400L)

  lazy val corpus = CorpusGen.dataset(spark, N, 8)
  lazy val reader = new IndexReader(spark, dir)
  lazy val grouped = reader.groupedForm(7)
  lazy val docs = {
    import spark.implicits._
    Tables.read(spark, dir, InvertedIndex.DocsTable).as[DocRow]
  }
  // the docs table stores a locator, not content — the oracle joins content
  // back from the source corpus by key
  lazy val oracle: ExhaustiveScorer.Prepared = {
    import spark.implicits._
    val oracleDocs = corpus.toDF()
      .join(docs.toDF().select("docId", "repo", "path", "commit"), Seq("repo", "path", "commit"))
      .select(col("docId"), col("content")).as[ExhaustiveScorer.OracleDoc]
    val prep = ExhaustiveScorer.prepare(spark, oracleDocs)
    prep.rows.persist() // tokenized once, reused across the 20-query gates
    prep
  }

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.delete(spark, "/tmp", "graft_test_index")
    InvertedIndex.build(spark, corpus, dir, cfg, runId = "e2e")
  }

  test("docIds dense [0, N)") {
    val agg = docs.agg(count(lit(1)), countDistinct(col("docId")), min("docId"), max("docId")).collect()(0)
    assert(agg.getLong(0) == N && agg.getLong(1) == N && agg.getLong(2) == 0L && agg.getLong(3) == N - 1)
  }

  test("sha256 invariant: docs.sha256 == sha2(code_files.content, 256), 100% both directions") {
    val src = corpus.toDF().withColumn("expected", sha2(col("content"), 256))
    val joined = docs.toDF().select("repo", "path", "commit", "sha256")
      .join(src.select("repo", "path", "commit", "expected"), Seq("repo", "path", "commit"), "full_outer")
    assert(joined.where(col("sha256").isNull || col("expected").isNull ||
      col("sha256") =!= col("expected")).count() == 0)
  }

  test("corpus stats exact") {
    val st = InvertedIndex.readStats(spark, dir)
    import spark.implicits._
    val expDl = corpus.map(f => graft.tokenize.CodeTokenizer.tokenize(f.content).length.toLong)
      .agg(sum("value")).collect()(0).getLong(0)
    assert(st.numDocs == N)
    assert(st.sumDl == expDl)
    assert(math.abs(st.avgDl - expDl.toDouble / N) < 1e-12)
  }

  test("dictionary df/cf exact vs raw tokenization (stopword, mid, rare)") {
    import spark.implicits._
    val raw = corpus.flatMap { f =>
      val (m, _) = graft.tokenize.CodeTokenizer.tfMap(f.content)
      m.iterator.map { case (t, tf) => (t, tf.toLong) }
    }.toDF("term", "tf")
    val exp = raw.groupBy("term").agg(count(lit(1)).as("df"), sum("tf").as("cf"))
    val dict = Tables.read(spark, dir, InvertedIndex.DictTable)
    val diff = dict.select("term", "df", "cf")
      .join(exp, Seq("term"), "full_outer")
      .where(dict("df").isNull || exp("df").isNull || dict("df") =!= exp("df") || dict("cf") =!= exp("cf"))
    assert(diff.count() == 0)
  }

  test("salting engaged for stopword-scale terms") {
    val p = Tables.read(spark, dir, InvertedIndex.PostingsTable)
    val saltedBlocks = p.where(col("term") === "def" && col("blockId") >= (1L << 32)).count()
    assert(saltedBlocks > 0, "'def' (df ~ N) must be salted at heavyDfThreshold=400")
  }

  test("postings blocks decode back to exact raw postings for sample terms") {
    import spark.implicits._
    for (term <- Seq("def", "buf_buf", "z100_id")) {
      val blocks = Tables.read(spark, dir, InvertedIndex.PostingsTable)
        .where(col("term") === term).as[PostingBlock].collect()
      val got = blocks.sortBy(b => (b.firstDocId, b.blockId)).flatMap { b =>
        val ids = graft.codec.PostingsCodec.decodeDocIds(b.firstDocId, b.count, b.docDeltas)
        val tfs = graft.codec.PostingsCodec.decodeTfs(b.count, b.tfs)
        ids.zip(tfs)
      }
      val want = corpus.flatMap { f =>
        val (m, _) = graft.tokenize.CodeTokenizer.tfMap(f.content)
        m.get(term).map(tf => (f.repo, f.path, f.commit, tf))
      }.toDF("repo", "path", "commit", "tf")
        .join(docs.toDF(), Seq("repo", "path", "commit"))
        .select("docId", "tf").as[(Long, Int)].collect().sortBy(_._1)
      assert(got.map(_._1).toSeq == want.map(_._1).toSeq, s"docIds for '$term'")
      assert(got.map(_._2).toSeq == want.map(_._2).toSeq, s"tfs for '$term'")
      assert(got.map(_._1).toSeq == got.map(_._1).sorted.toSeq, s"global docId order for '$term'")
    }
  }

  test("postings sorted by (term, blockId) across files WITHIN each term bucket") {
    // v4 layout: the physical sort is (tbucket, term, blockId) — term order
    // holds within a bucket directory (row-group pruning), while cross-
    // bucket term routing is checked separately below
    val byBucket = Tables.read(spark, dir, InvertedIndex.PostingsTable)
      .groupBy(col("tbucket"), input_file_name().as("f"))
      .agg(min(struct(col("term"), col("blockId"))).as("lo"),
        max(struct(col("term"), col("blockId"))).as("hi"))
      .collect()
      .map(r => (r.getInt(0), r.getStruct(2).getString(0), r.getStruct(2).getLong(1),
        r.getStruct(3).getString(0), r.getStruct(3).getLong(1)))
      .groupBy(_._1)
    for ((bkt, files) <- byBucket) {
      val sorted = files.toSeq.map(t => (t._2, t._3, t._4, t._5)).sortBy(t => (t._1, t._2))
      sorted.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._3 < b._1 || (a._3 == b._1 && a._4 <= b._2),
            s"file ranges overlap in tbucket=$bkt: $a vs $b")
        case _ =>
      }
    }
  }

  test("every term's blocks live in exactly its crc32 bucket (partition pruning is sound)") {
    val buckets = InvertedIndex.readTermBuckets(spark, dir)
    val bad = Tables.read(spark, dir, InvertedIndex.PostingsTable)
      .select(col("term"), col("tbucket"))
      .where(col("tbucket") =!= pmod(crc32(encode(col("term"), "UTF-8")), lit(buckets)).cast("int"))
      .count()
    assert(bad == 0, "a block landed outside its term's bucket — pruned reads would miss it")
    // and the driver-side bucket function agrees with the Catalyst one
    import spark.implicits._
    val terms = Seq("def", "buf_buf", "z100_id", "日本語")
    val sql = terms.toDF("t")
      .select(pmod(crc32(encode(col("t"), "UTF-8")), lit(buckets)).cast("int")).as[Int].collect()
    assert(terms.map(t => InvertedIndex.termBucket(t, buckets)) == sql.toSeq)
  }

  test("rank identity: naive DAAT == BMW == exhaustive oracle, all 20 queries") {
    // BMW runs on both top-k plans (the reader scores these small postings
    // on the driver as one bucket, its groupedForm(7) buckets by docId) and at
    // k = 1, K and N + 1 (ties, k beyond the matches). naive(k) is the
    // (score desc, docId asc) prefix of the full naive ranking, so naive
    // runs once per query at k = N + 1 and is cut.
    val kAll = N.toInt + 1
    for (q <- QuerySet.all) {
      val want = oracle.topK(q, QuerySet.K)
      val naiveAll = reader.searchNaive(q, kAll).toSeq
      val naive = naiveAll.take(QuerySet.K)
      assert(naive.map(_.docId) == want.map(_.docId).toSeq, s"naive ranks for '$q'")
      naive.zip(want).foreach { case (g, w) =>
        assert(math.abs(g.score - w.score) <= 1e-9 * math.max(1.0, math.abs(w.score)), s"naive score for '$q'")
      }
      // SearchHit equality: same docIds, scores bit-identical to naive
      for (rd <- Seq(reader, grouped); k <- Seq(1, QuerySet.K, kAll))
        assert(rd.searchBmw(q, k).toSeq == naiveAll.take(k),
          s"BMW (${if (rd eq reader) "gate" else "grouped"} plan) top-$k for '$q'")
    }
  }

  test("job guard: a memo-hit searchBmw runs one job (the postings scan)") {
    reader.searchBmw("def z100_id", QuerySet.K) // fills the dictionary memo
    val jobs = countJobs(reader.searchBmw("def z100_id", QuerySet.K))
    assert(jobs == 1, s"memo-hit searchBmw ran $jobs jobs")
    // the grouped form skips the top-k gate: scan + exchange, then the merge
    grouped.searchBmw("def z100_id", QuerySet.K)
    val groupedJobs = countJobs(grouped.searchBmw("def z100_id", QuerySet.K))
    assert(groupedJobs >= 2, s"memo-hit groupedForm(7).searchBmw ran $groupedJobs job: not the bucketed plan")
  }

  test("rank-all distributed path == naive full ranking, scores bit-identical") {
    // scoreAllDf keeps the corpus-sized hit set distributed (no driver
    // collect); it must reproduce the naive DAAT full ranking exactly —
    // both sum per-doc contributions in ascending term order.
    for (q <- Seq("def val", "the", "z100_id def")) {
      val naive = reader.searchNaive(q, Int.MaxValue)
      val all = reader.scoreAllDf(q)
        .orderBy(desc("score"), asc("docId")).collect()
        .map(r => graft.query.SearchHit(r.getLong(0), r.getDouble(1)))
      assert(all.map(_.docId).toSeq == naive.map(_.docId).toSeq, s"rank-all ranks for '$q'")
      all.zip(naive).foreach { case (a, n) =>
        assert(a.score == n.score, s"rank-all score must be bit-identical to naive for '$q'")
      }
    }
    assert(reader.scoreAllDf("qqqzzznotfound").count() == 0)
  }

  test("batch BMW == per-query BMW on the whole query set") {
    val batch = reader.searchBmwBatch(QuerySet.all, QuerySet.K)
    for (q <- QuerySet.all)
      assert(batch(q).toSeq == reader.searchBmw(q, QuerySet.K).toSeq, s"batch mismatch for '$q'")
  }

  test("batch merge paths identical: driver heap-merge == distributed merge") {
    // a groupedForm takes the distributed exchange; the default takes the
    // small-batch driver path — results must match exactly
    val viaDriver = reader.searchBmwBatch(QuerySet.all, QuerySet.K)
    val viaExchange = reader.groupedForm(spark.sessionState.conf.numShufflePartitions)
      .searchBmwBatch(QuerySet.all, QuerySet.K)
    for (q <- QuerySet.all)
      assert(viaDriver(q).toSeq == viaExchange(q).toSeq, s"merge paths diverge for '$q'")
  }

  test("empty / absent-term queries return empty") {
    assert(reader.searchBmw("", QuerySet.K).isEmpty)
    assert(reader.searchBmw("qqqzzznotfound", QuerySet.K).isEmpty)
    assert(reader.searchNaive("qqqzzznotfound", QuerySet.K).isEmpty)
  }

  test("BMW skip evidence: blocks skipped without decode on mixed query") {
    reader.decodedBlocksAcc.reset(); reader.skippedBlocksAcc.reset(); reader.scoredDocsAcc.reset()
    reader.searchBmw("z100_id def val return import", QuerySet.K)
    val scored = reader.scoredDocsAcc.value
    assert(scored < N, s"BMW scored every doc ($scored of $N) — no pruning happened")
  }

  test("deterministic rebuild: docs + dictionary byte-identical") {
    val dir2 = "/tmp/graft_test_index2"
    Tables.delete(spark, "/tmp", "graft_test_index2")
    InvertedIndex.build(spark, corpus, dir2, cfg, runId = "e2e2")
    def fingerprint(base: String, name: String): Array[(Long, Long)] =
      Tables.read(spark, base, name)
        .select(expr("xxhash64(struct(*))").as("h"))
        .groupBy(lit(1)).agg(expr("bit_xor(h)").as("x"), count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(1), r.getLong(2)))
    for (t <- Seq(InvertedIndex.DocsTable, InvertedIndex.DictTable, InvertedIndex.PostingsTable))
      assert(fingerprint(dir, t).toSeq == fingerprint(dir2, t).toSeq, s"table $t differs across rebuilds")
  }

  test("resume: completed stages skipped; deleted stage recomputed identically") {
    val before = reader.searchBmw("def z100_id", QuerySet.K)
    // simulate a kill after `postings`: dictionary output + manifest lost
    Tables.delete(spark, dir, InvertedIndex.DictTable)
    Tables.delete(spark, dir, "lineage/dictionary")
    val report = InvertedIndex.build(spark, corpus, dir, cfg, runId = "resume")
    val byStage = report.results.map(r => r.stage -> r.skipped).toMap
    assert(byStage("registry") && byStage("stats") && byStage("postings"), s"committed stages must be skipped: $byStage")
    assert(!byStage("dictionary"), "deleted stage must re-run")
    val after = new IndexReader(spark, dir).searchBmw("def z100_id", QuerySet.K)
    assert(after.toSeq == before.toSeq)
  }

  test("lineage manifests carry per-partition rows and counters") {
    val m = Tables.read(spark, dir, "lineage/postings")
    assert(m.where(col("partitionId") >= 0).count() > 0)
    val marker = m.where(col("partitionId") === -1).collect()
    assert(marker.length == 1)
    assert(marker(0).getAs[Long]("outputRows") > 0)
  }
}
