package graft

import graft.fixtures.{CodeFile, CorpusGen, QuerySet}
import graft.index.{DeltaIndex, IndexConfig, InvertedIndex}
import graft.io.Tables
import graft.query.IndexReader
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Incremental maintenance gate (VERDICT r2 item 2): index N docs, add M as
  * a delta segment, and every query over base ∪ delta must equal the full
  * N+M rebuild — plus bound-safety and lifecycle checks.
  *
  * docIds differ between the delta-maintained index and the rebuild (the
  * rebuild's docId plan covers the union key set), so results are compared
  * by the document KEY (repo, path, commit), with exact scores.
  */
class DeltaIndexSpec extends SparkSpec {
  import spark.implicits._

  val N = 900L // base docs
  val M = 180L // delta docs (20% of base — deliberately not negligible)
  val cfg: IndexConfig = IndexConfig(partitions = 8, heavyDfThreshold = 300L, saltRunDocs = 300L)

  def docsRange(lo: Long, hi: Long): Dataset[CodeFile] =
    spark.range(lo, hi, 1L, 4).as[Long].map(CorpusGen.row)

  lazy val dirDelta = "/tmp/graft_delta_base"
  lazy val dirFull = "/tmp/graft_delta_full"

  // build once for the whole suite
  lazy val built: Unit = {
    Tables.delete(spark, "/tmp", "graft_delta_base")
    Tables.delete(spark, "/tmp", "graft_delta_full")
    InvertedIndex.build(spark, docsRange(0, N), dirDelta, cfg, "base")
    DeltaIndex.addDocuments(spark, dirDelta, docsRange(N, N + M), cfg, "d0")
    InvertedIndex.build(spark, docsRange(0, N + M), dirFull, cfg, "full")
  }

  private def keyOf(reader: IndexReader, segDirs: Seq[String]): Map[Long, String] =
    segDirs.flatMap { d =>
      Tables.read(spark, d, InvertedIndex.DocsTable)
        .select(col("docId"), concat_ws("|", col("repo"), col("path"), col("commit")).as("k"))
        .collect().map(r => r.getLong(0) -> r.getString(1))
    }.toMap

  test("base ∪ delta answers every query identically to the full rebuild") {
    built
    val rd = new IndexReader(spark, dirDelta)
    val rf = new IndexReader(spark, dirFull)
    assert(rd.segments.size == 2, s"expected base+1 delta, got ${rd.segments}")
    assert(rd.stats == rf.stats, "merged segment stats must equal the rebuild's")
    val kd = keyOf(rd, rd.segments)
    val kf = keyOf(rf, rf.segments)
    for (q <- QuerySet.all) {
      val got = rd.searchBmw(q, QuerySet.K).map(h => (kd(h.docId), h.score))
        .sortBy { case (k, s) => (-s, k) }.toSeq
      val want = rf.searchBmw(q, QuerySet.K).map(h => (kf(h.docId), h.score))
        .sortBy { case (k, s) => (-s, k) }.toSeq
      assert(got == want, s"base∪delta top-k differs from rebuild for '$q'")
    }
  }

  test("composite BMW == composite naive (recomputed bounds are safe)") {
    built
    val rd = new IndexReader(spark, dirDelta)
    // both top-k plans (driver-scored as one bucket by the reader, docId
    // buckets on its groupedForm(7)) at k = 1, K and N + M + 1; naive(k) is
    // the prefix of the full naive ranking
    val kAll = (N + M).toInt + 1
    val grouped = rd.groupedForm(7)
    for (q <- QuerySet.all) {
      val naiveAll = rd.searchNaive(q, kAll).toSeq
      for (r <- Seq(rd, grouped); k <- Seq(1, QuerySet.K, kAll))
        assert(r.searchBmw(q, k).toSeq == naiveAll.take(k),
          s"composite BMW (${if (r eq rd) "gate" else "grouped"} plan) top-$k diverges from " +
            s"exhaustive decode for '$q' — a block bound must be violated")
    }
  }

  test("composite expansions seed the dictionary memo: termMeta after them runs no job") {
    built
    assertExpansionsSeedMemo(dirDelta)
  }

  test("merged dictionary stats equal the rebuild's (df/cf per query term)") {
    built
    val rd = new IndexReader(spark, dirDelta)
    // df is embedded in idf inside TermMeta; check via raw dictionaries
    def dfcf(dirs: Seq[String]): Map[String, (Long, Long)] =
      dirs.flatMap(d => Tables.read(spark, d, InvertedIndex.DictTable)
          .where(col("term").isin("def", "val", "buf_buf", "z100_id"))
          .select("term", "df", "cf").collect()
          .map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))))
        .groupBy(_._1).map { case (t, xs) =>
          t -> (xs.map(_._2._1).sum, xs.map(_._2._2).sum)
        }
    assert(dfcf(rd.segments) == dfcf(Seq(dirFull)))
  }

  test("PIT: the pinned manifest is bit-stable across a later delta commit; fresh readers see past it") {
    Tables.delete(spark, "/tmp", "graft_delta_pit")
    val dir = "/tmp/graft_delta_pit"
    InvertedIndex.build(spark, docsRange(0, N), dir, cfg, "pitbase")
    val pit = DeltaIndex.segmentDirs(spark, dir) // PIT opened BEFORE the commit
    def pitRun() = new IndexReader(spark, dir, pinnedSegments = Some(pit))
      .scoreAllDf("def val").orderBy(desc("score"), asc("docId"))
      .as[(Long, Double)].collect().toSeq
    val before = pitRun()
    assert(before.nonEmpty)
    val pitReader = new IndexReader(spark, dir, pinnedSegments = Some(pit))
    val pitHits = pitReader.searchBmw("def val", QuerySet.K).toSeq
    DeltaIndex.addDocuments(spark, dir, docsRange(N, N + M), cfg, "pitd0")
    // same manifest, AFTER the commit: identical rows, identical doubles —
    // stats/df/docId map all derive from the pinned segments only
    assert(pitRun() == before, "PIT results must be bit-identical across the delta commit")
    // a grouped form made after the commit keeps the PIT reader's segments
    assert(pitReader.groupedForm(7).searchBmw("def val", QuerySet.K).toSeq == pitHits,
      "a PIT reader's groupedForm(7) must serve the point-in-time hits")
    val fresh = new IndexReader(spark, dir).scoreAllDf("def val").count()
    assert(fresh > before.size.toLong, "a fresh (unpinned) reader must see the delta docs")
  }

  test("a third delta continues the docId space of the base and both earlier deltas") {
    val dir = "/tmp/graft_delta_third"
    Tables.delete(spark, "/tmp", "graft_delta_third")
    InvertedIndex.build(spark, docsRange(0, 300), dir, cfg, "b")
    val bounds = Seq((300L, 340L), (340L, 400L), (400L, 430L))
    val dirs = bounds.zipWithIndex.map { case ((lo, hi), i) =>
      DeltaIndex.addDocuments(spark, dir, docsRange(lo, hi), cfg, s"d$i")
    }
    assert(dirs == (0 to 2).map(i => f"$dir/deltas/d$i%04d"))
    assert(DeltaIndex.segmentDirs(spark, dir).map(new org.apache.hadoop.fs.Path(_).getName) ==
      Seq("graft_delta_third", "d0000", "d0001", "d0002"))
    // each delta's docIds are dense from the docs committed before it
    for (((lo, hi), d) <- bounds.zip(dirs)) {
      val ids = Tables.read(spark, d, InvertedIndex.DocsTable).select("docId").as[Long].collect().sorted
      assert(ids.toSeq == (lo until hi), s"docIds of $d")
    }
    assert(DeltaIndex.totalDocs(spark, dir) == 430L)
    assert(new IndexReader(spark, dir).stats.numDocs == 430L)
  }

  test("addDocuments rejects a key that already exists in any segment") {
    built
    val boom = intercept[IllegalArgumentException] {
      DeltaIndex.addDocuments(spark, dirDelta, docsRange(0, 1), cfg, "dup")
    }
    assert(boom.getMessage.contains("already exists"))
  }

  test("uncommitted delta directories are invisible to readers") {
    built
    val junk = new org.apache.hadoop.fs.Path(s"$dirDelta/deltas/d9999")
    val f = junk.getFileSystem(spark.sparkContext.hadoopConfiguration)
    f.mkdirs(junk)
    try {
      val rd = new IndexReader(spark, dirDelta)
      assert(rd.segments.size == 2, "an uncommitted delta dir must not be served")
    } finally { f.delete(junk, true); () }
  }

  test("maybeCompact bounds segment count under a refresh loop, results identical") {
    built
    val dir = "/tmp/graft_delta_policy"
    Tables.delete(spark, "/tmp", "graft_delta_policy")
    val batch = 60L
    val rounds = 6
    InvertedIndex.build(spark, docsRange(0, N), dir, cfg, "base")
    val rf = new IndexReader(spark, dirFull)
    val kf = keyOf(rf, rf.segments)
    var compactions = 0
    for (i <- 0 until rounds) {
      val hi = N + batch * (i + 1)
      DeltaIndex.addDocuments(spark, dir, docsRange(N + batch * i, hi), cfg, s"d$i")
      // threshold 0.10: with 60-doc batches on a 900-doc base, every other
      // add crosses it, so the loop alternates grow/compact — segment count
      // can never exceed 1 base + 2 deltas
      if (DeltaIndex.maybeCompact(spark, dir, docsRange(0, hi), cfg, maxDeltaShare = 0.10,
          runId = s"c$i")) compactions += 1
      val r = new IndexReader(spark, dir)
      assert(r.segments.size <= 3,
        s"round $i: ${r.segments.size} segments — the policy is not bounding growth")
      // results stay identical to a full index at every intermediate state
      // (compare by stable key against the rebuild's scores for docs < hi)
      val kd = keyOf(r, r.segments)
      val got = r.searchBmw("def z100_id", QuerySet.K).map(h => (kd(h.docId), h.score)).toSeq
      val rfHi = new IndexReader(spark, dirFull)
      // the full rebuild covers N+M docs; restrict comparison to rounds
      // whose doc set matches it exactly
      if (hi == N + M) {
        val want = rfHi.searchBmw("def z100_id", QuerySet.K).map(h => (kf(h.docId), h.score)).toSeq
        assert(got == want, s"round $i: policy-maintained index diverges from rebuild")
      }
    }
    assert(compactions >= 2, s"only $compactions compactions in $rounds rounds — threshold never tripped")
    // below-threshold calls must be no-ops
    assert(!DeltaIndex.maybeCompact(spark, dir, docsRange(0, N + batch * rounds), cfg,
      maxDeltaShare = 0.99, runId = "noop"))
    // final state: identical to a from-scratch rebuild of the same doc set
    val dirEnd = "/tmp/graft_delta_policy_full"
    Tables.delete(spark, "/tmp", "graft_delta_policy_full")
    InvertedIndex.build(spark, docsRange(0, N + batch * rounds), dirEnd, cfg, "endfull")
    val re = new IndexReader(spark, dir)
    val rEnd = new IndexReader(spark, dirEnd)
    val ke = keyOf(re, re.segments)
    val kEnd = keyOf(rEnd, rEnd.segments)
    for (q <- Seq("def z100_id", "val buf_buf", "def val class")) {
      val got = re.searchBmw(q, QuerySet.K).map(h => (ke(h.docId), h.score))
        .sortBy { case (k, s) => (-s, k) }.toSeq
      val want = rEnd.searchBmw(q, QuerySet.K).map(h => (kEnd(h.docId), h.score))
        .sortBy { case (k, s) => (-s, k) }.toSeq
      assert(got == want, s"policy-maintained final state diverges from rebuild for '$q'")
    }
  }

  test("compact absorbs deltas and equals the direct rebuild byte-for-byte") {
    built
    val dir = "/tmp/graft_delta_compact"
    Tables.delete(spark, "/tmp", "graft_delta_compact")
    InvertedIndex.build(spark, docsRange(0, N), dir, cfg, "base")
    DeltaIndex.addDocuments(spark, dir, docsRange(N, N + M), cfg, "d0")
    DeltaIndex.compact(spark, dir, docsRange(0, N + M), cfg, "compact")
    val rc = new IndexReader(spark, dir)
    assert(rc.segments == Seq(dir), "compact must leave a single segment")
    // same source, same config => same docId plan as the direct rebuild:
    // directly comparable, including docIds
    val rf = new IndexReader(spark, dirFull)
    for (q <- Seq("def z100_id", "val buf_buf", "z103_id z104_id"))
      assert(rc.searchBmw(q, QuerySet.K).toSeq == rf.searchBmw(q, QuerySet.K).toSeq,
        s"compacted index differs from direct rebuild for '$q'")
  }
}
