package graft.driver

import graft.fixtures.CodeFile
import graft.index.{DeltaIndex, IndexConfig, InvertedIndex}
import graft.lineage.Manifests
import graft.query.IndexReader
import graft.tokenize.Analyzer
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Engine facade over the driver's `documents` parquet table: builds (once
  * per sf dir, cached + resumable via the lineage manifests) a full inverted
  * index with `doc_id` carried through the registry key, and exposes BM25
  * search keyed back to `doc_id`.
  *
  * Output protocol for the DuckDB-oracle comparison: scores are rounded to 6
  * decimals and rows ordered by (rounded score DESC, doc_id ASC) in BOTH
  * engines — cross-engine double noise (summation order in SUM/group-by is
  * unspecified in DuckDB) collapses under rounding, and ties order
  * deterministically. Top-k entries over-fetch by exact score before the
  * rounded re-sort so the rounded boundary is stable.
  */
object DocumentsIndex {
  /** The stopword list the driver's stop-analyzed index pins (both corpus
    * terms, so the filter visibly changes dl/avgdl and hence every score).
    * SparkEntry's twin SQL derives its NOT IN fragment from the SAME
    * Analyzer value — one source of truth.
    */
  val StopwordSet: Set[String] = Set("the", "a")

  /** One on-disk sub-index over the documents table: the column it indexes
    * and how. Every sub-index shares one lifecycle ([[ensure]], [[served]],
    * [[rebuildAll]]); only [[build]] differs per row, and a test may
    * override it.
    *
    * `deltaEvery = Some(n)` serves the corpus THROUGH the segment model
    * (SURVEY.md §2.3 B14): a base segment over all docs with doc_id % n != 0,
    * plus one delta segment (DeltaIndex.addDocuments) holding the rest — so
    * the driver's DuckDB oracle (which scores the FULL table) checks the
    * composite base-∪-delta read path: merged df/N/avgdl at query compile
    * and recomputed block bounds.
    */
  private[graft] case class SubIndex(suffix: String, content: Column, storePositions: Boolean,
      analyzer: Analyzer = Analyzer.default, deltaEvery: Option[Int] = None) {
    private def runId = "driver" + suffix.replace('_', '-')

    /** Build into the empty dir `idx` from the documents table of `sfDir`. */
    def build(spark: SparkSession, sfDir: String, idx: String): Unit = {
      val src = source(spark, sfDir, content)
      val cfg = IndexConfig(partitions = spark.sessionState.conf.numShufflePartitions,
        heavyDfThreshold = 1000L, saltRunDocs = 1000L, storePositions = storePositions,
        analyzer = analyzer)
      deltaEvery match {
        case None => InvertedIndex.build(spark, src, idx, cfg, runId)
        case Some(n) =>
          val id = col("path").cast("long")
          InvertedIndex.build(spark, src.where(id % n =!= 0), idx, cfg, s"$runId-base")
          DeltaIndex.addDocuments(spark, idx, src.where(id % n === 0), cfg, s"$runId-add")
      }
      ()
    }
  }

  private[graft] val Text = SubIndex("", col("text"), storePositions = true)
  /** `tags` = concat(lang, ' ', source): the driver table's categorical
    * metadata as an analyzed field (the reference's schema.org entities
    * carry many such fields next to the main text). Tiny: ~2 tokens/doc;
    * frequency queries only, so no positions.
    */
  private[graft] val Tags =
    SubIndex("_tags", concat_ws(" ", col("lang"), col("source")), storePositions = false)
  /** The SAME text built through Analyzer(StopwordSet) (SURVEY.md §7.8) —
    * ES's standard analyzer with a stop filter.
    */
  private[graft] val Stop =
    SubIndex("_stop", col("text"), storePositions = true, analyzer = Analyzer(StopwordSet))
  /** Frequency-only: this pair exists to exercise delta serving, not phrase. */
  private[graft] val Delta =
    SubIndex("_delta", col("text"), storePositions = false, deltaEvery = Some(17))

  /** The documents table as the engine's `code_files` source shape, indexing
    * `content` (doc_id carried through path AND commit — the registry
    * locator).
    */
  private def source(spark: SparkSession, sfDir: String, content: Column): Dataset[CodeFile] = {
    import spark.implicits._
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(lit("corpus").as("repo"), col("doc_id").cast("string").as("path"),
        col("doc_id").cast("string").as("commit"), col("lang"), content.as("content"))
      .as[CodeFile]
  }

  /** Cache dir of `sub` over `sfDir`. It names the build's only
    * session-dependent input, the shuffle-partition count (it fixes the
    * docId plan), so the text and tags dirs one session serves always share
    * PLAN_GEOMETRY, and sessions with different counts never rebuild over
    * each other's dirs.
    */
  private def dirFor(spark: SparkSession, sfDir: String, sub: SubIndex): String =
    "/tmp/graft_docidx_" + graft.fixtures.CorpusGen.sha256Hex(sfDir).substring(0, 12) +
      "_p" + spark.sessionState.conf.numShufflePartitions + sub.suffix

  /** A validated sub-index dir and its reader, made on first use. */
  private final class Served(spark: SparkSession, val dir: String) {
    lazy val reader: IndexReader = new IndexReader(spark, dir)
  }

  /** Cache dir -> its sub-index, once this process has validated or built it. */
  private val memo = scala.collection.mutable.Map[String, Served]()

  /** The cache dir of `sub`, resumed when committed, complete, of this
    * build's format version and analyzer (and, for a delta-served row,
    * holding its delta); otherwise (or when `force`) deleted and built
    * afresh. Unsynchronized: [[rebuildAll]]'s pool threads run it and must
    * never re-enter this object's monitor.
    */
  private def ensure(spark: SparkSession, sfDir: String, sub: SubIndex, force: Boolean): String = {
    val idx = dirFor(spark, sfDir, sub)
    val valid = !force && Manifests.isComplete(spark, idx, "dictionary") &&
      InvertedIndex.formatVersionOk(spark, idx) &&
      InvertedIndex.readAnalyzer(spark, idx) == sub.analyzer &&
      (sub.deltaEvery.isEmpty || DeltaIndex.deltaDirs(spark, idx).nonEmpty)
    if (!valid) {
      val p = new org.apache.hadoop.fs.Path(idx)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
      sub.build(spark, sfDir, idx)
    }
    idx
  }

  private def served(spark: SparkSession, sfDir: String, sub: SubIndex): Served = synchronized {
    memo.getOrElseUpdate(dirFor(spark, sfDir, sub),
      new Served(spark, ensure(spark, sfDir, sub, force = false)))
  }

  /** Drop and rebuild the text, tags and stop sub-indexes for this sf dir
    * concurrently, returning build wall-seconds (Bench uses this so builds
    * are never hidden in query timings).
    *
    * Cancellation: the first build to fail is rethrown as its own exception
    * (not ExecutionException), and no build or Spark job of the others
    * outlives the call — each build runs under its own Spark job group,
    * whose active and future jobs are cancelled (tasks interrupted) before
    * the builds are awaited, so a retrying caller never deletes a dir under
    * a live writer.
    */
  def rebuild(spark: SparkSession, sfDir: String): Double =
    rebuildAll(spark, sfDir, Seq(Text, Tags, Stop))

  /** Drop and rebuild the delta-served index (base + one delta segment),
    * timed separately from [[rebuild]] so the bench's `build_sec` stays
    * comparable across rounds. Same cancellation contract as [[rebuild]].
    */
  def rebuildDelta(spark: SparkSession, sfDir: String): Double =
    rebuildAll(spark, sfDir, Seq(Delta))

  /** The one rebuild path: delete and rebuild `subs` concurrently under
    * [[rebuild]]'s cancellation contract, returning wall-seconds.
    *
    * The builds are INDEPENDENT (distinct dirs; the docId assignment is a
    * pure function of (key set, partitions, idBase), so build order cannot
    * change any output). Each alternates serial driver phases (docId-plan
    * collect, heavy-term collect, manifest commits) with short parallel
    * jobs; a pool sized to `subs` overlaps them so one build's tasks fill
    * another's gaps (optimization guide §2.6) — measured ~2x on build_sec.
    */
  private[graft] def rebuildAll(spark: SparkSession, sfDir: String, subs: Seq[SubIndex]): Double =
    synchronized {
      val sc = spark.sparkContext
      subs.foreach(sub => memo.remove(dirFor(spark, sfDir, sub)))
      val t0 = System.nanoTime()
      val groups = subs.map(sub => s"graft-rebuild${sub.suffix}-${java.util.UUID.randomUUID()}")
      val pool = java.util.concurrent.Executors.newFixedThreadPool(subs.size)
      try {
        val done = new java.util.concurrent.ExecutorCompletionService[String](pool)
        subs.zip(groups).foreach { case (sub, g) =>
          done.submit(new java.util.concurrent.Callable[String] {
            def call(): String = {
              sc.setJobGroup(g, s"rebuild ${sub.suffix} of $sfDir", interruptOnCancel = true)
              try ensure(spark, sfDir, sub, force = true) finally sc.clearJobGroup()
            }
          })
        }
        subs.foreach { _ =>
          val idx =
            try done.take().get()
            catch { case e: java.util.concurrent.ExecutionException => throw e.getCause }
          memo.update(idx, new Served(spark, idx))
        }
      } finally {
        // Cancel, then await WITHOUT interrupting: a build blocked on a job
        // returns only once the scheduler has failed that job, so none
        // outlives this call (an interrupt would return it while the
        // cancellation is still queued). Interrupt only a build stuck
        // outside Spark.
        groups.foreach(sc.cancelJobGroupAndFutureJobs)
        pool.shutdown()
        if (!pool.awaitTermination(120, java.util.concurrent.TimeUnit.SECONDS)) pool.shutdownNow()
      }
      (System.nanoTime() - t0) / 1e9
    }

  def indexDir(spark: SparkSession, sfDir: String): String = served(spark, sfDir, Text).dir
  def tagsIndexDir(spark: SparkSession, sfDir: String): String = served(spark, sfDir, Tags).dir
  def stopIndexDir(spark: SparkSession, sfDir: String): String = served(spark, sfDir, Stop).dir
  def deltaIndexDir(spark: SparkSession, sfDir: String): String = served(spark, sfDir, Delta).dir
  def reader(spark: SparkSession, sfDir: String): IndexReader = served(spark, sfDir, Text).reader
  def tagsReader(spark: SparkSession, sfDir: String): IndexReader = served(spark, sfDir, Tags).reader
  def stopReader(spark: SparkSession, sfDir: String): IndexReader = served(spark, sfDir, Stop).reader
  def deltaReader(spark: SparkSession, sfDir: String): IndexReader = served(spark, sfDir, Delta).reader

  /** Engine stats table in oracle-comparable form. */
  def statsDf(spark: SparkSession, sfDir: String): DataFrame =
    InvertedIndex.read(spark, indexDir(spark, sfDir), InvertedIndex.StatsTable)
      .select(col("numDocs").as("num_docs"), col("sumDl").as("sum_dl"),
        round(col("avgDl"), 6).as("avg_dl"))

  /** docId -> doc_id mapping across ALL committed segments of `idx` (a
    * delta-served index registers new docs in each delta's OWN docs table —
    * a base-only read would silently drop every delta doc from the output
    * join; for a single-segment index the union is just the base).
    */
  private def docIdMapOf(spark: SparkSession, idx: String): DataFrame =
    DeltaIndex.segmentDirs(spark, idx)
      .map(seg => InvertedIndex.read(spark, seg, InvertedIndex.DocsTable)
        .select(col("docId"), col("path").cast("long").as("doc_id")))
      .reduce(_ unionByName _)

  /** docId -> doc_id mapping (registry path column carries the doc_id). */
  private def docIdMap(spark: SparkSession, sfDir: String): DataFrame =
    docIdMapOf(spark, indexDir(spark, sfDir))

  /** The cross-engine output protocol, in ONE place (it must stay identical
    * for every BM25-family driver entry or oracle parity silently breaks
    * per query family): map docId to the stable doc_id via the given
    * index's registry, round scores to 6 dp, order (rounded desc, doc_id).
    */
  private def rankedByDocId(spark: SparkSession, scores: DataFrame, idx: String): DataFrame =
    scores.join(docIdMapOf(spark, idx), Seq("docId"))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))

  /** BM25 search via the Block-Max WAND path, output keyed by doc_id.
    * k <= 0 means "all matching docs".
    */
  def bm25(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame =
    bm25Of(spark, reader(spark, sfDir), indexDir(spark, sfDir), query, k)

  /** Same query path THROUGH the delta-served (base ∪ delta) index — the
    * oracle twin is the ordinary full-table BM25 SQL, because composite
    * serving is contractually indistinguishable from a full rebuild.
    */
  def bm25Delta(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame =
    bm25Of(spark, deltaReader(spark, sfDir), deltaIndexDir(spark, sfDir), query, k)

  private def bm25Of(spark: SparkSession, r: IndexReader, idx: String,
      query: String, k: Int): DataFrame =
    if (k <= 0) {
      // rank-all: fully distributed — the hit set is corpus-sized for
      // stopword queries, so it must never land on the driver.
      rankedByDocId(spark, r.scoreAllDf(query), idx)
    } else stableTopK(spark, idx, k, f => r.searchBmw(query, f),
      rankedByDocId(spark, r.scoreAllDf(query), idx).limit(k))

  /** Top-k under the 6-dp output protocol, shared by every bounded serving
    * path (single-field BMW, cross-field WAND): over-fetch by exact score,
    * GROWN until the rounded boundary is provably stable — rounding is
    * monotone, so every doc outside the fetch rounds to <= the last fetched
    * hit's rounded score; if that is strictly below the rounded score at
    * rank k, no outside doc can tie into the cut. A fetch that returns
    * fewer hits than asked is the complete match set (trivially stable).
    * Unstable after one growth -> the caller's exact rank-all `fallback`
    * (tiny driver tables only; at corpus scale a detected tie on a 6-dp
    * boundary is vanishingly rare).
    */
  private def stableTopK(spark: SparkSession, idx: String, k: Int,
      fetchHits: Int => Array[graft.query.SearchHit],
      fallback: => DataFrame): DataFrame = {
    import spark.implicits._
    def stable(hits: Array[graft.query.SearchHit], fetch: Int): Boolean =
      hits.length < fetch || {
        val rounded = hits.map(h => math.BigDecimal(h.score).setScale(6, BigDecimal.RoundingMode.HALF_UP))
        rounded.sorted(Ordering[BigDecimal].reverse).lift(k - 1)
          .forall(rk => rounded.last < rk)
      }
    val fetch0 = math.max(k * 20, 200)
    val attempts = Iterator(fetch0, fetch0 * 8)
      .map(f => (fetchHits(f), f))
    val hits = attempts.collectFirst { case (h, f) if stable(h, f) => h }
      .getOrElse { return fallback }
    val hitsDf = spark.createDataset(hits.toSeq).toDF()
    rankedByDocId(spark, broadcast(hitsDf), idx).limit(k)
  }

  /** ES bool query over the text index — rank-all form (exact, distributed;
    * conjunctive must clauses shrink the match set, so there is no
    * corpus-sized result to cut), keyed by doc_id under the shared output
    * protocol.
    */
  def bm25Bool(spark: SparkSession, sfDir: String, must: Seq[String],
      should: Seq[String], mustNot: Seq[String], minShould: Int = 0,
      filter: Seq[String] = Nil,
      dlRange: Option[(Long, Long)] = None): DataFrame =
    rankedByDocId(spark,
      reader(spark, sfDir).searchBoolDf(must, should, mustNot, minShould,
        filter = filter, dlRange = dlRange),
      indexDir(spark, sfDir))

  /** ES bool `should` with a `minimum_should_match` SPEC string — the
    * percentage / integer parameter form every ES client sends
    * (BoolMatcher.resolveMinShould pins the v1 grammar); resolution is
    * pure arithmetic feeding the SAME msm executor b26 rides.
    */
  def bm25BoolMsmSpec(spark: SparkSession, sfDir: String, must: Seq[String],
      should: Seq[String], spec: String): DataFrame =
    bm25Bool(spark, sfDir, must, should, Nil,
      minShould = graft.query.BoolMatcher.resolveMinShould(spec, should.size))

  /** ES 8 `rrf` retriever (reciprocal rank fusion — the hybrid-search
    * combiner over a lexical and a kNN retriever): each retriever
    * contributes 1/(rank_constant + rank) for hits inside its OWN
    * rank_window_size, summed across retrievers. Ranks come from each
    * retriever's protocol order (text: 6-dp BM25 desc then doc_id; vector:
    * 4-dp cosine desc then vec_id — both already rounded), so they are
    * integer-stable across engines and the fused doubles are bit-identical
    * sums of exact reciprocals.
    *
    * Plan shape: each retriever cuts to its window FIRST as a distributed
    * TakeOrderedAndProject (the text side through the bounded WAND top-k,
    * the vector side through the broadcast-probe scan); the row_number
    * windows then run over window_size-row frames — bounded single
    * partitions, exactly where ES fuses coordinator-side — and the fusion
    * join is window-sized on both sides. The corpus is never globally
    * sorted or windowed.
    */
  def rrfSearch(spark: SparkSession, sfDir: String, query: String,
      probeId: Long, windowSize: Int = 100, rankConstant: Int = 60,
      k: Int = 10): DataFrame = {
    require(windowSize >= 1 && rankConstant >= 1 && k >= 1,
      s"rrf params must be positive: window=$windowSize, const=$rankConstant, k=$k")
    import org.apache.spark.sql.expressions.Window
    val tWin = bm25(spark, sfDir, query, windowSize)
      .select(col("doc_id"), row_number().over(
        Window.orderBy(desc("score"), asc("doc_id"))).as("rt"))
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vWin = graft.ops.VectorOps.cosineTopK(emb, probeId, windowSize)
      .select(col("vec_id").as("doc_id"), row_number().over(
        Window.orderBy(desc("cosine"), asc("vec_id"))).as("rv"))
    tWin.join(vWin, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(coalesce(lit(1.0) / (lit(rankConstant) + col("rt")), lit(0.0))
          + coalesce(lit(1.0) / (lit(rankConstant) + col("rv")), lit(0.0)), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** ES 8 `linear` retriever (the rrf sibling: weighted sum of min-max
    * NORMALIZED per-retriever scores over each retriever's own window):
    * normalized = (s − min)/(max − min) within the window (a degenerate
    * single-score window pins to 0.0, like the `normalize` agg's rescale —
    * documented), fused = Σ wᵢ·normᵢ with absent-retriever contribution 0.
    * Inputs are the PROTOCOL scores (6-dp BM25 / 4-dp cosine), so both
    * engines normalize identical doubles. Plan: same economics as
    * [[rrfSearch]] — distributed window cuts first, then a 1-row min/max
    * aggregate BROADCAST back into each window frame (no second sort), a
    * window-sized fusion join, one TakeOrderedAndProject.
    */
  def linearSearch(spark: SparkSession, sfDir: String, query: String,
      probeId: Long, wText: Double, wVec: Double, windowSize: Int = 100,
      k: Int = 10): DataFrame = {
    require(windowSize >= 1 && k >= 1, s"linear params must be positive")
    require(wText >= 0.0 && wVec >= 0.0 && wText + wVec > 0.0,
      s"weights must be non-negative and not both zero: ($wText, $wVec)")
    def norm(win: DataFrame, scoreCol: String, out: String): DataFrame = {
      val ext = win.agg(min(col(scoreCol)).as("__mn"), max(col(scoreCol)).as("__mx"))
      win.crossJoin(broadcast(ext))
        .select(col("doc_id"),
          when(col("__mx") === col("__mn"), lit(0.0))
            .otherwise((col(scoreCol) - col("__mn")) / (col("__mx") - col("__mn")))
            .as(out))
    }
    val tWin = norm(bm25(spark, sfDir, query, windowSize), "score", "nt")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val vWin = norm(graft.ops.VectorOps.cosineTopK(emb, probeId, windowSize)
      .select(col("vec_id").as("doc_id"), col("cosine")), "cosine", "nv")
    tWin.join(vWin, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        round(lit(wText) * coalesce(col("nt"), lit(0.0))
          + lit(wVec) * coalesce(col("nv"), lit(0.0)), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
      .limit(k)
  }

  /** ES field collapse with `inner_hits` (collapse on `lang`, top
    * `perGroup` hits per group): every matching doc ranks INSIDE its
    * collapse group under the protocol order; groups surface with their
    * members ranked 1..perGroup. The ranking window partitions on the
    * collapse key — the distributed shape (b35's collapse as a max-struct
    * agg stays the cheaper form when only the best hit is wanted); output
    * rows are (lang, hit_rank, doc_id, score), set-deterministic under
    * the (lang, hit_rank) order.
    */
  def collapseInnerHits(spark: SparkSession, sfDir: String, query: String,
      perGroup: Int): DataFrame = {
    require(perGroup >= 1, s"inner_hits size must be >= 1, got $perGroup")
    import org.apache.spark.sql.expressions.Window
    val scores = rankedByDocId(spark, reader(spark, sfDir).scoreAllDf(query),
      indexDir(spark, sfDir))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val byGroup = Window.partitionBy("lang").orderBy(desc("score"), asc("doc_id"))
    scores.join(docs, Seq("doc_id"))
      .withColumn("hit_rank", row_number().over(byGroup))
      .where(col("hit_rank") <= perGroup)
      .select(col("lang"), col("hit_rank"), col("doc_id"), col("score"))
      .orderBy(asc("lang"), asc("hit_rank"))
  }

  /** ES `terms_set` query: docs containing at least `minMatch` of the given
    * terms, scored as the bool-should sum of the matched terms' BM25
    * contributions — exactly how ES executes it (a CoveringQuery over the
    * same term clauses). ES reads the per-doc requirement from
    * `minimum_should_match_field`; the driver table carries no such field,
    * so the floor is pinned constant (documented divergence — the executor
    * is field-ready: B16's msm path already takes any per-query floor).
    * Pure reuse: zero new plan shapes.
    */
  def termsSetQuery(spark: SparkSession, sfDir: String, terms: Seq[String],
      minMatch: Int): DataFrame =
    bm25Bool(spark, sfDir, Nil, terms, Nil, minMatch)

  /** ES `match_bool_prefix` under the output protocol — see
    * [[IndexReader.matchBoolPrefixDf]] for the pinned constant-score prefix
    * semantics and the two-sided plan.
    */
  def matchBoolPrefix(spark: SparkSession, sfDir: String, query: String,
      maxExpansions: Int = 32): DataFrame =
    rankedByDocId(spark,
      reader(spark, sfDir).matchBoolPrefixDf(query, maxExpansions),
      indexDir(spark, sfDir))

  /** ES `_count` — the hit count of a match query without scoring: the
    * ids-only membership scan aggregated to ONE row. No payload bytes, no
    * BM25 fold, no per-doc rows anywhere — the cheapest form of "how many
    * match", and at 100 TB the count is a partial-agg tree over the
    * postings scan (one long per partition crosses the exchange).
    */
  def countMatches(spark: SparkSession, sfDir: String, query: String): DataFrame =
    reader(spark, sfDir).matchIdsDf(query).agg(count(lit(1)).as("total"))

  /** ES `_termvectors` — per-doc term vectors in the API's
    * no-stored-vectors mode: ES re-analyzes the live `_source` field
    * on the fly (exactly what happens on any index that never enabled
    * `term_vector` storage), returning per term the freq, its positions,
    * and (term_statistics=true) the corpus df. Here: ONE pushdown fetch of
    * the doc's text (doc_id predicate reaches the parquet scan), the
    * analyzer emits (term, position) pairs, one tiny groupBy folds tf +
    * the sorted positions list, and the corpus df attaches via a broadcast
    * join against the dictionary (dictionary-sized, never the postings).
    */
  def termVectors(spark: SparkSession, sfDir: String, docId: Long): DataFrame = {
    import spark.implicits._
    val text = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") === docId).select(col("text")).as[String]
    val toks = text
      .flatMap(t => graft.tokenize.CodeTokenizer.tokenize(t).iterator.zipWithIndex)
      .toDF("term", "pos")
    toks.groupBy("term")
      .agg(count(lit(1)).as("tf"),
        // comma-joined sorted positions: scalar columns keep the oracle
        // compare value-typed (the a11 array_to_string protocol)
        expr("array_join(transform(sort_array(collect_list(pos)), x -> cast(x AS string)), ',')")
          .as("positions"))
      .join(broadcast(termDfFrame(spark, sfDir)),
        Seq("term"))
      .select(col("term"), col("tf"), col("df"), col("positions"))
      .orderBy("term")
  }

  /** ES 8 `sparse_vector` retrieval keyed by doc_id — see
    * IndexReader.sparseVectorDf for the pinned dot-product semantics. The
    * shared 6-dp protocol rounding is a no-op here (binary-fraction
    * weights × integer tfs are exact doubles) but keeps one output path.
    */
  def sparseVector(spark: SparkSession, sfDir: String,
      weights: Map[String, Double]): DataFrame =
    rankedByDocId(spark, reader(spark, sfDir).sparseVectorDf(weights),
      indexDir(spark, sfDir))

  /** Lucene `span_or` union span counts keyed by doc_id — integer-exact,
    * no float protocol.
    */
  def spanOrMatch(spark: SparkSession, sfDir: String,
      terms: Seq[String]): DataFrame =
    reader(spark, sfDir).matchSpanOrDf(terms)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("n_spans"))
      .orderBy("doc_id")

  /** ES `_mtermvectors`: [[termVectors]] for an id LIST in one request —
    * ONE pushdown fetch (the IN predicate reaches the parquet scan), the
    * same per-(doc, term) fold and broadcast dictionary df join, doc_id
    * carried through the output. Missing ids simply emit no rows (ES marks
    * them found=false; the row shape here is the vectors themselves).
    */
  def termVectorsMulti(spark: SparkSession, sfDir: String,
      docIds: Seq[Long]): DataFrame = {
    import spark.implicits._
    require(docIds.nonEmpty, "_mtermvectors needs at least one id")
    require(docIds.distinct.size == docIds.size, "_mtermvectors ids must be distinct")
    val toks = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id").isin(docIds: _*))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, t) =>
        graft.tokenize.CodeTokenizer.tokenize(t).iterator.zipWithIndex
          .map { case (term, pos) => (id, term, pos) }
      }.toDF("doc_id", "term", "pos")
    toks.groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"),
        expr("array_join(transform(sort_array(collect_list(pos)), x -> cast(x AS string)), ',')")
          .as("positions"))
      .join(broadcast(termDfFrame(spark, sfDir)),
        Seq("term"))
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("positions"))
      .orderBy("doc_id", "term")
  }

  /** ES `diversified_sampler` aggregation: the top `shardSize` hits under
    * the protocol order, de-duplicated to at most `maxPerLang` per lang
    * (ES `max_docs_per_value` on the diversity field) — the "don't let one
    * source dominate the sample" scope every sampled agg runs under. The
    * de-dup is a per-lang row_number over the BOUNDED sample (shardSize
    * rows — broadcast-sized; the Window never sees the corpus), keeping
    * each lang's best-ranked docs, exactly Lucene's
    * DiversifiedTopDocsCollector policy.
    */
  def diversifiedSample(spark: SparkSession, sfDir: String, query: String,
      shardSize: Int, maxPerLang: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val top = bm25(spark, sfDir, query, shardSize)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val w = Window.partitionBy("lang").orderBy(desc("score"), asc("doc_id"))
    broadcast(top).join(docs, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= maxPerLang)
      .select(col("doc_id"), col("lang"), col("score"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  /** ES `search_after` deep pagination: page 2 of a BM25 ranking via the
    * KEYSET cursor (the page-1 tail's (rounded score, doc_id)), never an
    * offset — at corpus scale offset-N pagination re-ranks and discards N
    * rows per page, while the keyset predicate pushes into the ranked scan.
    * The output protocol's total order (rounded score desc, doc_id asc —
    * doc_id unique) makes cursor pagination EXACTLY equal to the offset
    * form, which is what the oracle twin asserts (OFFSET k LIMIT k).
    */
  def bm25SearchAfter(spark: SparkSession, sfDir: String, query: String,
      k: Int): DataFrame = {
    // self-contained driver-row form: derive the cursor from page 1 (one
    // extra search). A real search_after client uses the cursor overload
    // below — it pays ONLY the page job, never a recomputed page 1.
    val page1 = bm25(spark, sfDir, query, k).collect()
    if (page1.isEmpty)
      return rankedByDocId(spark, reader(spark, sfDir).scoreAllDf(query),
        indexDir(spark, sfDir)).limit(0)
    bm25SearchAfter(spark, sfDir, query,
      page1.last.getDouble(1), page1.last.getLong(0), k)
  }

  /** The cursor form a real client calls per page: (afterScore, afterDoc)
    * come from the previous response's tail. BOUNDED serving: the page is
    * cut from a grown BMW over-fetch (the same θ-pruned top-M job every
    * bounded path runs — never a corpus-sized exchange per page; at 100×
    * scale a stopword query paginated by a UI would otherwise score the
    * full match union to emit k rows). Pages deeper than the grown fetch
    * fall back to the exact rank-all cut — the ES `index.max_result_window`
    * mirror (ES caps at 10k and demands scroll/search_after past it for the
    * same reason; our fallback stays correct instead of erroring).
    *
    * Cursor comparisons happen in ROUNDED score space on both sides: the
    * client's cursor came from a 6-dp-rounded response, and the page frame
    * is rounded by the output protocol before the predicate applies. On the
    * bounded path page and cursor thus derive from the same BMW + round
    * computation; the rank-all fallback additionally leans on the sbt gate
    * pinning the relational fold bit-exact to BMW's (BlockMaxWandSpec) —
    * a sub-ulp fold divergence landing ON a rounding boundary would
    * otherwise drop or duplicate cursor-tied docs there.
    */
  def bm25SearchAfter(spark: SparkSession, sfDir: String, query: String,
      afterScore: Double, afterDoc: Long, k: Int): DataFrame = {
    val r = reader(spark, sfDir)
    val idx = indexDir(spark, sfDir)
    val afterPred = col("score") < afterScore ||
      (col("score") === afterScore && col("doc_id") > afterDoc)
    stablePage(spark, idx, k, f => r.searchBmw(query, f), afterPred,
      rankedByDocId(spark, r.scoreAllDf(query), idx)
        .where(afterPred).orderBy(desc("score"), asc("doc_id")).limit(k))
  }

  /** Bounded page cut shared by the cursor family: over-fetch top-M by
    * exact score, rank under the 6-dp output protocol, keep the rows
    * passing `pagePred`, serve the first k — PROVABLY complete when either
    * (a) the fetch returned fewer hits than asked (it IS the whole match
    * set), or (b) k rows survive the cut and the k-th's rounded score is
    * strictly above the fetch tail's rounded score (every unfetched doc
    * rounds to <= the tail, so none can enter or tie into the page; ties
    * at the cursor boundary are inside the fetch by the same argument).
    * Unstable after one growth -> the caller's exact rank-all fallback.
    */
  private def stablePage(spark: SparkSession, idx: String, k: Int,
      fetchHits: Int => Array[graft.query.SearchHit],
      pagePred: org.apache.spark.sql.Column, fallback: => DataFrame): DataFrame = {
    import spark.implicits._
    def round6(s: Double): Double =
      math.BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val fetch0 = math.max(k * 20, 200)
    for (f <- Seq(fetch0, fetch0 * 8)) {
      val hits = fetchHits(f)
      val pageDf = rankedByDocId(spark, broadcast(spark.createDataset(hits.toSeq).toDF()), idx)
        .where(pagePred).orderBy(desc("score"), asc("doc_id")).limit(k)
      if (hits.length < f) return pageDf // complete match set — exact
      val page = pageDf.collect() // <= k rows, bounded
      // hits are (score desc, docId asc) — last hit is the fetch tail
      if (page.length == k && page.last.getDouble(1) > round6(hits.last.score))
        // the stability check just executed the plan; serve the collected
        // rows as a LocalRelation instead of returning the live plan,
        // which would make the caller's action re-run the registry join —
        // two jobs per page in a paging client that exists to pay one
        return spark.createDataFrame(
          java.util.Arrays.asList(page: _*), pageDf.schema)
    }
    fallback
  }

  /** ES sort-by-field serving (`sort: [{n_chars: "desc"}, {_id: "asc"}]`
    * under a `match` query — the second-most-common ES result order after
    * relevance; `upstream:` any date- or size-ordered listing): relevance
    * scoring is SKIPPED entirely, exactly as ES does when `sort` omits
    * `_score` — the match set is an ids-only postings scan (no payload
    * bytes) and the sort key is a source-table doc value.
    *
    * Plan shape, and why it survives 100×: the sort+limit is
    * TakeOrderedAndProject (k rows per partition merged on the driver —
    * never a global sort); the match ids reach the doc-value scan as a
    * LEFT SEMI join (ids only, no text column anywhere in the plan); and on
    * cursor pages the keyset predicate is a PLAIN COLUMN predicate on the
    * documents scan, so it lands in PushedFilters — deep field-sorted
    * paging prunes row groups AT THE SOURCE, the thing offset pagination
    * can never do.
    */
  def sortByField(spark: SparkSession, sfDir: String, query: String,
      k: Int): DataFrame = sortPage(spark, sfDir, query, None, k)

  /** The cursor form a paging client calls: `(afterChars, afterDoc)` is the
    * previous page's tail `(n_chars, doc_id)` — pushed into the scan.
    */
  def sortByField(spark: SparkSession, sfDir: String, query: String,
      afterChars: Long, afterDoc: Long, k: Int): DataFrame =
    sortPage(spark, sfDir, query, Some((afterChars, afterDoc)), k)

  /** Self-contained driver-row form: page 2, cursor derived from page 1
    * (one extra k-row job here; a real client pays only the page job via
    * the cursor overload — same convention as `bm25SearchAfter`).
    */
  def sortByFieldPage2(spark: SparkSession, sfDir: String, query: String,
      k: Int): DataFrame = {
    val p1 = sortByField(spark, sfDir, query, k).collect()
    if (p1.length < k) // page 1 IS the whole match set — page 2 is empty;
      // an empty LocalRelation beats re-planning the full query for limit(0)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        sortByFieldSchema)
    sortByField(spark, sfDir, query, p1.last.getLong(1), p1.last.getLong(0), k)
  }

  private val sortByFieldSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType)))

  private def sortPage(spark: SparkSession, sfDir: String, query: String,
      after: Option[(Long, Long)], k: Int): DataFrame = {
    require(k > 0, "sort page size must be positive")
    val ids = reader(spark, sfDir).matchIdsDf(query)
      .join(docIdMap(spark, sfDir), Seq("docId")).select("doc_id")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    val paged = after match {
      case Some((ac, ad)) =>
        docs.where(col("n_chars") < ac ||
          (col("n_chars") === ac && col("doc_id") > ad))
      case None => docs
    }
    paged.join(ids, Seq("doc_id"), "left_semi")
      .orderBy(desc("n_chars"), asc("doc_id")).limit(k)
  }

  /** ES highlighting, pinned v1 form (`upstream:` the LOD API returns ES
    * highlight fragments on every search): for the top-k docs of a
    * single-term query, an 80-char-max fragment around the FIRST analyzer
    * -token occurrence with the match wrapped in `<em>`. Matching is
    * token-exact via space padding (the analyzer charset boundary in this
    * corpus is literally the space — for general punctuation a char-offset
    * tokenizer pass replaces the locate; documented divergence from ES's
    * multi-fragment scored highlighter). Plan shape: the tiny top-k
    * broadcast-joins the source table; the fragment is builtin string
    * functions — narrow, codegen'd, no UDFs, distributed over the k rows'
    * source partitions.
    */
  def highlight(spark: SparkSession, sfDir: String, term: String, k: Int,
      window: Int = 30): DataFrame = {
    val t = term.trim.toLowerCase(java.util.Locale.ROOT)
    require(t.nonEmpty && t.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'),
      s"highlight term must be a single analyzer-charset term, got '$term'")
    val top = bm25(spark, sfDir, t, k).select("doc_id")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").select(col("doc_id"), col("text"))
    broadcast(top).join(docs, Seq("doc_id"))
      .withColumn("p", locate(s" $t ", concat(lit(" "), lower(col("text")), lit(" "))))
      .where(col("p") > 0)
      .select(col("doc_id"), concat(
        expr(s"substr(text, greatest(1, p - $window), p - greatest(1, p - $window))"),
        lit("<em>"), expr(s"substr(text, p, ${t.length})"), lit("</em>"),
        expr(s"substr(text, p + ${t.length}, $window)")).as("highlight"))
      .orderBy("doc_id")
  }

  /** Highlighting v2 (general multi-term form — HighlightOps.fragmentMulti
    * semantics): for the top-k docs of `query`, one fragment anchored at the
    * first matched token, every matched token inside the window wrapped in
    * `<em>`. Token-exact via the char-offset tokenizer — no space-padding
    * corpus assumption (the v1 single-term expression in [[highlight]] stays
    * as the all-builtin fast path). Plan shape: the tiny top-k broadcast
    * -joins the source table; the fragment is a typed flatMap over the k
    * joined rows (re-tokenizing k documents — never the corpus).
    */
  def highlightMulti(spark: SparkSession, sfDir: String, query: String, k: Int,
      window: Int = 30): DataFrame = {
    import spark.implicits._
    val terms = reader(spark, sfDir).analyze(query).toSet
    val top = bm25(spark, sfDir, query, k).select("doc_id")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    broadcast(top).join(docs, Seq("doc_id"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        graft.ops.HighlightOps.fragmentMulti(text, terms, window).map(h => (id, h))
      }
      .toDF("doc_id", "highlight")
      .orderBy("doc_id")
  }

  /** ES `more_like_this` over the text index: the source doc's text ranks
    * its own terms by tf·idf (IndexReader.selectMltTerms), the top
    * `maxQueryTerms` run as a scored OR (rank-all — exact), and the source
    * doc is excluded from the output (ES's `like` on a document). Output
    * under the shared protocol.
    */
  def moreLikeThis(spark: SparkSession, sfDir: String, docId: Long,
      maxQueryTerms: Int): DataFrame = {
    val like = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") === docId).select("text")
      .collect().headOption.map(_.getString(0)).getOrElse("")
    val r = reader(spark, sfDir)
    rankedByDocId(spark, r.scoreAllTerms(r.selectMltTerms(like, maxQueryTerms)),
      indexDir(spark, sfDir))
      .where(col("doc_id") =!= docId)
      .orderBy(desc("score"), asc("doc_id"))
  }

  /** ES field collapsing (`collapse` on a keyword field — one hit per group,
    * the `top_hits` size=1 shape): the best-scoring doc per `lang` group
    * among ALL docs matching `query`, output (lang, doc_id, score) ordered
    * by (score desc, lang asc — lang unique per row, so the order is total).
    *
    * Plan shape: rank-all scores join the documents table's lang column,
    * then ONE map-side-combinable max-of-struct aggregate per group — never
    * a window over group partitions (a 5-value lang window would funnel the
    * corpus-sized match set through 5 tasks at 100 TB; the struct-max agg
    * combines partially on every input partition first). Tie-break inside a
    * group rides the struct order (score desc, then doc_id asc via the
    * negated id), matching the output protocol's.
    */
  def collapseByLang(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    val scores = rankedByDocId(spark, reader(spark, sfDir).scoreAllDf(query),
      indexDir(spark, sfDir))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    scores.join(docs, Seq("doc_id"))
      .groupBy("lang")
      .agg(max(struct(col("score"), (-col("doc_id")).as("negid"))).as("best"))
      .select(col("lang"), (-col("best.negid")).cast("long").as("doc_id"),
        col("best.score").as("score"))
      .orderBy(desc("score"), asc("lang"))
  }

  /** ES `significant_terms` over the text index (IndexReader semantics:
    * JLH score, foreground = docs containing `queryTerm`).
    */
  def significantTerms(spark: SparkSession, sfDir: String, queryTerm: String,
      size: Int): DataFrame =
    reader(spark, sfDir).significantTermsDf(queryTerm, size)

  /** ES term suggester over the text index dictionary (IndexReader
    * semantics: classic Levenshtein, (dist asc, df desc, term asc)).
    */
  def suggest(spark: SparkSession, sfDir: String, input: String,
      maxEdits: Int = 2, size: Int = 5, mode: String = "always"): DataFrame =
    reader(spark, sfDir).suggestTermsDf(input, maxEdits, size, mode)

  /** ES completion suggester over the text index dictionary (IndexReader
    * semantics: prefix range scan ranked by df — the corpus-derived weight).
    */
  def completionSuggest(spark: SparkSession, sfDir: String, prefix: String,
      size: Int = 5): DataFrame =
    reader(spark, sfDir).completionSuggestDf(prefix, size)

  /** ES `terms` agg with an `avg` sub-aggregation over the tags sub-index:
    * per tags-term bucket, doc_count + mean document character count (the
    * doc value a curator's facet panel shows next to each facet). The
    * doc-values frame = the tags registry's docId -> doc_id mapping joined
    * to the documents table's n_chars — the engine-side analog of ES
    * reading a doc-values column during bucket collection.
    */
  def termsStats(spark: SparkSession, sfDir: String, size: Int): DataFrame = {
    val tagsIdx = tagsIndexDir(spark, sfDir)
    val values = docIdMapOf(spark, tagsIdx)
      .join(spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("n_chars").cast("double").as("value")),
        Seq("doc_id"))
      .select("docId", "value")
    tagsReader(spark, sfDir).termsStatsDf(size, values)
      .select(col("term"), col("df"), round(col("avg_value"), 6).as("avg_chars"))
  }

  /** ES `constant_score` over the text index: every doc containing ALL
    * filter terms, scored at the constant `boost` (filter context — no BM25
    * anywhere), keyed by doc_id under the shared output protocol.
    */
  def constantScore(spark: SparkSession, sfDir: String, filter: Seq[String],
      boost: Double): DataFrame =
    rankedByDocId(spark, reader(spark, sfDir).constantScoreDf(filter, boost),
      indexDir(spark, sfDir))

  /** ES `function_score` with `field_value_factor` (modifier = log1p over
    * the doc-length doc value): final = BM25(query) × ln(1 + dl/64) — dl
    * read from the engine registry, the doc-values read ES does. The factor
    * 1/64 is a power of two, so the division is EXACT in binary floating
    * point and the twin may spell it identically without bit drift. ln(1+x)
    * is spelled the same way in both engines (not log1p — different
    * rounding) so 6-dp parity holds.
    *
    * Rank-all honest form: the modifier RE-ORDERS the ranking, so a WAND
    * top-k over the unmodified score is NOT a valid cut. The bounded path
    * at corpus scale multiplies each term's WAND upper bound by the
    * modifier's corpus max (ln(1 + maxDl/64) from the registry max —
    * score · modifier stays upper-bounded because both factors are
    * positive); documented, not built — no driver row needs it.
    */
  def functionScore(spark: SparkSession, sfDir: String, query: String,
      k: Int): DataFrame = {
    val idx = indexDir(spark, sfDir)
    val raw = reader(spark, sfDir).scoreAllDf(query)
    // dl from EVERY committed segment (dlByInternalId): delta docs register
    // in their own docs table (same base-only-read trap docIdMapOf
    // documents) — a base-only read here would silently drop every delta
    // doc from the inner join on a delta-served index
    val modified = raw.join(dlByInternalId(spark, sfDir), Seq("docId"))
      .select(col("docId"),
        (col("score") * log(lit(1.0) + col("dl") / 64.0)).as("score"))
    val out = rankedByDocId(spark, modified, idx)
    if (k > 0) out.limit(k) else out
  }

  /** ES `function_score` gauss DECAY on the doc-length doc value (the
    * recency/proximity-boost shape every relevance stack runs on a date or
    * numeric field): multiplier = exp(ln(decay)·(d/scale)²) with
    * d = max(0, |dl − origin| − offset) — algebraically ES's
    * exp(−d²/2σ²), σ² = −scale²/(2·ln decay), spelled in the form both
    * engines compute identically. boost_mode pinned v1 = multiply (the ES
    * default). Docs inside the offset radius keep their score EXACTLY
    * (d = 0 ⇒ e⁰ = 1). Plan shape: same as the ln-modifier function_score —
    * the registry dl join attaches the doc value, the decay is one
    * codegen'd projection, nothing new shuffles.
    */
  def functionScoreGauss(spark: SparkSession, sfDir: String, query: String,
      origin: Double, scale: Double, offset: Double, decay: Double,
      k: Int): DataFrame = {
    require(scale > 0.0, "gauss scale must be positive")
    require(decay > 0.0 && decay < 1.0, "gauss decay must be in (0, 1)")
    require(offset >= 0.0, "gauss offset must be non-negative")
    val idx = indexDir(spark, sfDir)
    val raw = reader(spark, sfDir).scoreAllDf(query)
    val dl = dlByInternalId(spark, sfDir)
    val d = greatest(lit(0.0), abs(col("dl") - lit(origin)) - lit(offset))
    val mult = exp(lit(math.log(decay)) * (d / lit(scale)) * (d / lit(scale)))
    val modified = raw.join(dl, Seq("docId"))
      .select(col("docId"), (col("score") * mult).as("score"))
    val out = rankedByDocId(spark, modified, idx)
    if (k > 0) out.limit(k) else out
  }

  /** Unordered span-near over the text index, keyed by doc_id —
    * integer-exact min-gap, no float protocol.
    */
  def spanNearMatch(spark: SparkSession, sfDir: String, query: String,
      slop: Int): DataFrame =
    minGapByDocId(spark, sfDir, reader(spark, sfDir).matchSpanNearDf(query, slop))

  /** `span_near(span_multi(prefix), term)` — see
    * IndexReader.matchSpanMultiNearDf for the pinned two-clause semantics.
    * Same output protocol as [[spanNearMatch]].
    */
  def spanMultiNear(spark: SparkSession, sfDir: String, prefix: String,
      other: String, slop: Int): DataFrame =
    minGapByDocId(spark, sfDir,
      reader(spark, sfDir).matchSpanMultiNearDf(prefix, other, slop))

  /** Shared (docId, min_gap) → (doc_id, min_gap) output protocol of the
    * span-near family — integer-exact, ordered by doc_id.
    */
  private def minGapByDocId(spark: SparkSession, sfDir: String,
      gaps: DataFrame): DataFrame =
    gaps.join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("min_gap").cast("long").as("min_gap"))
      .orderBy("doc_id")

  /** ES `terms_set` query (the dynamic-minimum_should_match terms query):
    * docs matching at least `required` of the given terms where `required`
    * is PER-DOC. This schema has no natural required-count column, so the
    * driver row pins the `minimum_should_match_script` form with the
    * deterministic script `1 + doc_id % 3` (documented; the
    * `minimum_should_match_field` form would swap the expression for a
    * doc-value column — nothing else changes). Plan: the ids-only
    * membership-count frame (`IndexReader.termsSetDf` — the B17/B20 tail)
    * joined to the docId map, the per-doc floor ONE codegen'd comparison.
    */
  def termsSetMatch(spark: SparkSession, sfDir: String,
      terms: Seq[String]): DataFrame =
    reader(spark, sfDir).termsSetDf(terms)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("n_matched"),
        (lit(1L) + pmod(col("doc_id"), lit(3L))).as("required"))
      .where(col("n_matched") >= col("required"))
      .orderBy("doc_id")

  /** ES `_msearch` (the multi-search API): N queries answered by ONE
    * distributed job — `IndexReader.searchBmwBatch` shares a single
    * postings scan of the union of all queries' terms, runs every query's
    * Block-Max WAND per bucket, and merges shards distributed; the hit
    * pages (N × k rows) land driver-side exactly like ES's coordinator
    * response, and serving is a LocalRelation join to the registry (the
    * b25-style one-job page shape). Output (query_id, doc_id, score) under
    * the protocol order per query. This is the headline batch path the
    * scaling evidence runs on, surfaced as a contract row.
    */
  def msearch(spark: SparkSession, sfDir: String, queries: Seq[String],
      k: Int): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "msearch needs at least one query")
    require(k > 0, "msearch needs k > 0")
    val hits = reader(spark, sfDir).searchBmwBatch(queries, k)
    val rows = queries.zipWithIndex.flatMap { case (q, qi) =>
      hits(q).map(h => (qi, h.docId, h.score))
    }
    rows.toDF("query_id", "docId", "score")
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("query_id"), col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(col("query_id"), desc("score"), col("doc_id"))
  }

  /** ES `rank_feature` query with the SATURATION function (the default):
    * score = boost · x/(x + pivot) over a numeric doc value — the static-
    * relevance signal query (pagerank/url_length shapes). Feature here =
    * the registry's dl doc value; pivot explicit (ES defaults to an
    * approximate geometric mean — pinned away, the twin needs a shared
    * constant); boost pinned v1 = 1. The log/sigmoid variants are the same
    * one-projection plan with a different expression — unbuilt until a row
    * needs them. Standalone form (rank every doc by the feature), like ES's
    * rank_feature-only query; x/(x+pivot) is monotone in x so the ranking
    * IS the dl ranking, but the SCORES are what a bool SHOULD would add.
    * Plan: ONE registry scan (ReadSchema (docId, dl)) + a codegen'd
    * projection — no postings, no documents.
    */
  def rankFeature(spark: SparkSession, sfDir: String, pivot: Double,
      k: Int): DataFrame = {
    require(pivot > 0.0, s"rank_feature pivot must be positive, got $pivot")
    val idx = indexDir(spark, sfDir)
    val out = dlByInternalId(spark, sfDir).join(docIdMapOf(spark, idx), Seq("docId"))
      .select(col("doc_id"),
        round(col("dl") / (col("dl") + lit(pivot)), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
    if (k > 0) out.limit(k) else out
  }

  /** ES `distance_feature` query (geo form): score = boost · pivot/(pivot +
    * distance) — proximity as a relevance signal. Distance = the b23
    * 4-dp-rounded protocol haversine from the origin (the float protocol
    * reused INSIDE a score, so both engines divide identical doubles);
    * boost pinned v1 = 1. Plan: the derived-coords projection + two
    * codegen'd expressions over the documents scan — no trig protocol
    * beyond b23's, no exchange beyond TakeOrderedAndProject.
    */
  def distanceFeature(spark: SparkSession, sfDir: String, lat0: Double,
      lon0: Double, pivotKm: Double, k: Int): DataFrame = {
    require(pivotKm > 0.0, s"distance_feature pivot must be positive, got $pivotKm")
    val (lat, lon) = graft.ops.GeoOps.derivedCoords(col("doc_id"))
    val pts = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), lat.as("lat"), lon.as("lon"))
    val dist = round(graft.ops.GeoOps.haversineKm(col("lat"), col("lon"), lat0, lon0), 4)
    val out = pts
      .select(col("doc_id"),
        round(lit(pivotKm) / (lit(pivotKm) + dist), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
    if (k > 0) out.limit(k) else out
  }

  /** ES `pinned` query: curated ids surface FIRST, in their given order,
    * above the organic ranking (ES retrieves pinned docs by id whether or
    * not they match the organic query, and excludes them from the organic
    * list). PINNED SCORE v1 = 10⁹ − position (exact in doubles for any
    * realistic pin list; ES's float-max trick collapses to ties in double
    * arithmetic — documented divergence, same ordering contract). Organic =
    * the protocol BM25 ranking minus the pinned set. Plan: the pinned side
    * is a BROADCAST id-list join against the registry (existence check —
    * ES drops unknown ids silently; so do we); the organic side is the
    * unchanged rank-all plan with an anti-filter on the tiny id list.
    */
  def pinnedQuery(spark: SparkSession, sfDir: String, query: String,
      pinnedIds: Seq[Long], k: Int): DataFrame = {
    import spark.implicits._
    require(pinnedIds.nonEmpty, "pinned query needs at least one pinned id")
    require(pinnedIds.distinct.size == pinnedIds.size, "pinned ids must be unique")
    val idx = indexDir(spark, sfDir)
    val pinScores = pinnedIds.zipWithIndex
      .map { case (id, i) => (id, 1e9 - i) }.toDF("doc_id", "score")
    val pinned = docIdMapOf(spark, idx).select(col("doc_id"))
      .join(broadcast(pinScores), Seq("doc_id")) // existence check
    val organic = rankedByDocId(spark, reader(spark, sfDir).scoreAllDf(query), idx)
      .where(!col("doc_id").isin(pinnedIds: _*))
    val out = pinned.unionByName(organic).orderBy(desc("score"), asc("doc_id"))
    if (k > 0) out.limit(k) else out
  }

  /** ES `_explain` (batch form) over the text index — per-(doc, term) BM25
    * contribution rows for the top-k protocol hits, keyed by doc_id (see
    * IndexReader.explainDf). The contrib column carries its own 6-dp
    * rounding; tf/dl are integer-exact.
    */
  def explain(spark: SparkSession, sfDir: String, query: String,
      k: Int): DataFrame =
    reader(spark, sfDir).explainDf(query, k)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("term"), col("tf"), col("dl"), col("contrib"))
      .orderBy("doc_id", "term")

  /** ES `terms` query with LOOKUP (terms fetched from another document's
    * field — here the tags of `lookupId`): docs sharing at least one tag,
    * with the matched-tag count. The lookup itself is ONE driver-side row
    * GET, exactly ES's coordinator-side lookup document fetch; serving is
    * the ids-only tags membership frame (IndexReader.termsSetDf).
    */
  def termsLookup(spark: SparkSession, sfDir: String, lookupId: Long): DataFrame = {
    import spark.implicits._
    val tags = spark.read.parquet(s"$sfDir/documents.parquet")
      .where(col("doc_id") === lookupId)
      .select(concat_ws(" ", col("lang"), col("source"))).as[String].collect()
    require(tags.nonEmpty, s"terms-lookup document $lookupId not found")
    val terms = graft.tokenize.CodeTokenizer.tokenize(tags.head).distinct.toSeq
    tagsReader(spark, sfDir).termsSetDf(terms)
      .join(docIdMapOf(spark, tagsIndexDir(spark, sfDir)), Seq("docId"))
      .select(col("doc_id"), col("n_matched"))
      .orderBy("doc_id")
  }

  /** ES `function_score` `random_score` with a seed (deterministic random
    * sampling of a match set): every doc matching the filter gets a seeded
    * uniform pseudo-score. PINNED HASH v1 = one MINSTD LCG step,
    * r = ((doc_id · 48271 + seed) mod 2147483647) / 2147483647 — integer
    * arithmetic both engines evaluate bit-identically (ES hashes with
    * murmur3 instead; same contract — deterministic, uniform, seed-stable —
    * documented divergence). Filter context only, like ES's typical
    * random-sampling use; output (doc_id, score) under (score desc,
    * doc_id) with the 6-dp protocol rounding. TWO LCG steps, not one: a
    * single step makes the seed a pure additive shift (every r moves by the
    * same constant — the order never changes); the second multiplication
    * disperses the shift, so a different seed genuinely re-orders
    * (sbt-gated).
    */
  def randomScore(spark: SparkSession, sfDir: String, filter: Seq[String],
      seed: Long, k: Int): DataFrame = {
    require(seed >= 0L, s"seed must be non-negative, got $seed")
    val ids = reader(spark, sfDir).constantScoreDf(filter).select("docId")
    val m = lit(2147483647L)
    // reduce the input mod m BEFORE the first multiply: every intermediate
    // then stays < 2^47 — without it a large seed (or doc_id + seed ≥
    // ~1.9e14) overflows Long, % keeps the dividend's sign, and the
    // "uniform in [0,1)" contract breaks with negative scores (the twin's
    // BIGINT would error instead of wrapping — a hidden divergence)
    val r = (((((col("doc_id") + lit(seed)) % m) * lit(48271L)) % m) * lit(48271L) % m)
      .cast("double") / lit(2147483647.0)
    val out = ids.join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), round(r, 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
    if (k > 0) out.limit(k) else out
  }

  /** ES `sampler` agg wrapping `significant_terms` over the text index
    * (see IndexReader.samplerSignificantTermsDf): foreground = the top
    * `sampleSize` hits under the protocol order. Score column carries its
    * own 6-dp rounding.
    */
  def samplerSigTerms(spark: SparkSession, sfDir: String, query: String,
      sampleSize: Int, size: Int): DataFrame =
    reader(spark, sfDir).samplerSignificantTermsDf(query, sampleSize, size)

  /** ES `significant_text` aggregation: significant terms RE-ANALYZED from
    * the SOURCE TEXT of the top-`sampleSize` hits — the free-text sibling
    * of significant_terms, whose defining extra is `filter_duplicate_text`:
    * duplicate texts in the sample count ONCE (ES's spam/boilerplate
    * resistance — near-dup pages otherwise vote their shared vocabulary to
    * the top). Pinned v1 dedup = EXACT text equality (ES dedups duplicate
    * token sequences via hashing; the exact form is its core — documented);
    * fg = per-distinct-text doc frequency within the sample, bg = corpus
    * df off the dictionary, JLH score (the sampler's pinned measure), the
    * query's own terms excluded.
    *
    * Plan: the bounded protocol top-k (ONE WAND job) joins the source
    * table for text (sample-sized), dedup + re-tokenize are sample-sized
    * narrow ops, fg counts one map-side-combined groupBy, bg a BROADCAST
    * dictionary join — the corpus is touched only by the search itself and
    * the dictionary scan, exactly ES's sampler-wrapped cost model.
    */
  def significantText(spark: SparkSession, sfDir: String, query: String,
      sampleSize: Int, size: Int,
      filterDuplicateText: Boolean = true): DataFrame = {
    import spark.implicits._
    require(sampleSize > 0, "sample size must be positive")
    require(size > 0, "size must be positive")
    val r = reader(spark, sfDir)
    val qTerms = r.analyze(query).toSeq
    // r07: the sample texts COLLECT once (sample-sized by construction —
    // the same coordinator-side bound every stableTopK page already rides)
    // and dedup + re-tokenize + fg counting run driver-local. The previous
    // frame-shaped sample executed the search+join subtree three times
    // (fg.count, then twice under the final plan) and shipped the corpus
    // dictionary as the BROADCAST side; now the sample-vocabulary counts
    // are the broadcast side and the dictionary streams — the orientation
    // that survives a corpus-scale dictionary.
    val texts0 = bm25(spark, sfDir, query, sampleSize).select("doc_id")
      .join(spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text")), Seq("doc_id"))
      .select("text").as[String].collect()
    val texts = if (filterDuplicateText) texts0.distinct else texts0
    val fgN = texts.length.toLong
    if (fgN == 0L)
      return spark.emptyDataset[(String, Long, Long, Double)]
        .toDF("term", "fg", "bg", "score")
    val fgCounts = texts.iterator
      .flatMap(t => graft.tokenize.CodeTokenizer.tokenize(t).distinct.iterator)
      .toSeq.groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .toDF("term", "fg")
    val bg = termDfFrame(spark, sfDir).select(col("term"), col("df").as("bg"))
    val fgPct = col("fg") / lit(fgN.toDouble)
    val bgPct = col("bg") / lit(r.stats.numDocs.toDouble)
    bg.join(broadcast(fgCounts), Seq("term"))
      .where(!col("term").isin(qTerms: _*))
      .select(col("term"), col("fg"), col("bg"),
        round((fgPct - bgPct) * (fgPct / bgPct), 6).as("score"))
      .orderBy(desc("score"), asc("term")).limit(size)
  }

  /** ES `percolate` over the text index ("percolate existing documents",
    * pinned v1 = stored term-conjunction queries — see
    * IndexReader.percolateDf), keyed by doc_id. Integer-exact membership
    * output, no float protocol.
    */
  def percolate(spark: SparkSession, sfDir: String,
      queries: Seq[(String, Seq[String])]): DataFrame =
    reader(spark, sfDir).percolateDf(queries)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("query"))
      .orderBy("doc_id", "query")

  /** ES `span_not` over the text index (include occurrences clear of any
    * exclude occurrence within the pre/post window), keyed by doc_id —
    * integer-exact surviving-span counts, no float protocol.
    */
  def spanNotMatch(spark: SparkSession, sfDir: String, include: String,
      exclude: String, pre: Int, post: Int): DataFrame =
    reader(spark, sfDir).matchSpanNotDf(include, exclude, pre, post)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("n_spans").cast("long").as("n_spans"))
      .orderBy("doc_id")

  /** ES `span_containing` over the text index (big = unordered (a, b)
    * near window at gap <= slop, little = a term — IndexReader pinned v1),
    * keyed by doc_id; integer-exact containing-window counts.
    */
  def spanContaining(spark: SparkSession, sfDir: String, a: String, b: String,
      slop: Int, little: String): DataFrame =
    reader(spark, sfDir).matchSpanContainingDf(a, b, slop, little)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("n_spans").cast("long").as("n_spans"))
      .orderBy("doc_id")

  /** ES `span_within` — the inverse of [[spanContaining]]: contained
    * little occurrences per doc, keyed by doc_id.
    */
  def spanWithin(spark: SparkSession, sfDir: String, a: String, b: String,
      slop: Int, little: String): DataFrame =
    reader(spark, sfDir).matchSpanWithinDf(a, b, slop, little)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("n_spans").cast("long").as("n_spans"))
      .orderBy("doc_id")

  /** ES `span_first` over the text index (term within the first `end`
    * token slots), keyed by doc_id — integer-exact first position, no
    * float protocol.
    */
  def spanFirstMatch(spark: SparkSession, sfDir: String, term: String,
      end: Int): DataFrame =
    reader(spark, sfDir).matchSpanFirstDf(term, end)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("first_pos").cast("long").as("first_pos"))
      .orderBy("doc_id")

  /** ES `match_phrase_prefix` over the text index (last token = prefix),
    * keyed by doc_id — integer-exact start counts, no float protocol.
    */
  def phrasePrefixMatch(spark: SparkSession, sfDir: String, phrase: String,
      maxExpansions: Int = 32, slop: Int = 0): DataFrame =
    reader(spark, sfDir).matchPhrasePrefixDf(phrase, maxExpansions, slop)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("phrase_tf").cast("long").as("phrase_tf"))
      .orderBy("doc_id")

  /** ES prefix query over the text index, keyed by doc_id (integer-exact
    * matched-term counts — no float protocol needed).
    */
  def prefixMatch(spark: SparkSession, sfDir: String, prefix: String): DataFrame =
    reader(spark, sfDir).matchPrefixDf(prefix)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("n_terms"))
      .orderBy("doc_id")

  /** Positional phrase match over the text index, keyed by doc_id (the
    * phrase_tf count is integer-exact — no float protocol needed).
    * `slop` = ordered positional slack (PhraseMatcher semantics).
    */
  def phraseMatch(spark: SparkSession, sfDir: String, phrase: String,
      slop: Int = 0): DataFrame =
    reader(spark, sfDir).matchPhraseDf(phrase, slop)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("phrase_tf").cast("long").as("phrase_tf"))
      .orderBy("doc_id")

  /** ES fuzzy query over the text index — dictionary expansion by edit
    * distance, scored rank-all (each expanded term under its own idf),
    * keyed by doc_id under the shared output protocol.
    */
  def fuzzyMatch(spark: SparkSession, sfDir: String, term: String,
      maxEdits: Int, prefixLength: Int = 0,
      transpositions: Boolean = false): DataFrame =
    rankedByDocId(spark,
      reader(spark, sfDir).matchFuzzyDf(term, maxEdits, prefixLength = prefixLength,
        transpositions = transpositions),
      indexDir(spark, sfDir))

  /** Whether the text and tags sub-indexes may be merged by raw docId:
    * both single-segment with EQUAL PLAN_GEOMETRY sidecars. The docId
    * assignment is a pure function of (key set, partitions, docIdBase), all
    * three captured in the fingerprint, so equality PROVES alignment — equal
    * numDocs alone would pass two indexes built under different partition
    * counts and silently merge UNRELATED documents.
    */
  private def fieldsAligned(spark: SparkSession, sfDir: String): Boolean = {
    val geoms = Seq(indexDir(spark, sfDir), tagsIndexDir(spark, sfDir))
      .map(InvertedIndex.readPlanGeometry(spark, _))
    Seq(reader(spark, sfDir), tagsReader(spark, sfDir)).forall(_.segments.size == 1) &&
      geoms.forall(_.isDefined) && geoms.distinct.size == 1
  }

  private val MisalignedFields = "text and tags are merged by docId — the sub-indexes must " +
    "share PLAN_GEOMETRY (rebuild both in one session)"

  /** `combined_fields` (BM25F) over this driver table's two analyzed
    * fields — see MultiFieldIndex.combinedFieldsScoreAll for the pinned
    * term-centric semantics. Accepts the same `fields` boost specs as
    * [[multiMatch]] (`Seq("text^2", "tags")`); BM25F field weights ARE the
    * boosts, so they must be ≥ 1 (the ES validation rule, enforced below).
    * Output keyed by doc_id under the shared 6-dp protocol.
    */
  def combinedFields(spark: SparkSession, sfDir: String, query: String,
      fields: Seq[String]): DataFrame = {
    val parsed = fields.map(graft.index.MultiFieldIndex.parseFieldBoost)
    require(parsed.map(_._1).sorted == Seq("tags", "text"),
      s"driver combined_fields serves fields text+tags, got ${fields.mkString(",")}")
    val boostOf = parsed.toMap
    // field order (text, tags) mirrors multiMatch's group order
    val rs = Seq(reader(spark, sfDir), tagsReader(spark, sfDir))
    val ws = Seq(boostOf("text"), boostOf("tags"))
    // BM25F merges tf/dl PER DOCUMENT across the fields' frames by raw
    // docId, so — exactly like cross_fields — it needs proven alignment
    require(fieldsAligned(spark, sfDir), MisalignedFields)
    rankedByDocId(spark,
      graft.index.MultiFieldIndex.combinedFieldsScoreAll(spark, rs, ws, query),
      indexDir(spark, sfDir))
  }

  /** Per-document unigram LM log-probability quality signal — see
    * IndexReader.unigramLogProbDf for the pinned corpus-as-LM semantics.
    * Keyed by doc_id, ordered by doc_id (a per-doc signal, not a ranking).
    */
  def unigramLogProb(spark: SparkSession, sfDir: String): DataFrame =
    reader(spark, sfDir).unigramLogProbDf()
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("logprob"))
      .orderBy("doc_id")

  /** ES point-in-time (`_pit`): the PIT id IS the index's segment manifest
    * captured at open — searches through [[pitSearch]] see EXACTLY that
    * committed state no matter what commits afterwards, with zero data
    * copy (committed segments are immutable; delta commits only ADD
    * segment dirs — see IndexReader's pinnedSegments contract). ES backs
    * PIT with the same argument: a PIT holds the Lucene segments of the
    * moment alive.
    */
  def openPit(spark: SparkSession, sfDir: String): Seq[String] =
    DeltaIndex.segmentDirs(spark, deltaIndexDir(spark, sfDir))

  /** Search through a PIT manifest (see [[openPit]]) under the shared
    * output protocol. Corpus stats, df, and the docId→doc_id map all
    * derive from the pinned segments only, so PIT results are bit-stable
    * against concurrent delta commits.
    */
  def pitSearch(spark: SparkSession, sfDir: String, query: String,
      pit: Seq[String]): DataFrame = {
    require(pit.nonEmpty, "empty PIT manifest")
    val idx = deltaIndexDir(spark, sfDir)
    val r = new IndexReader(spark, idx, pinnedSegments = Some(pit))
    val map = pit.map(seg => InvertedIndex.read(spark, seg, InvertedIndex.DocsTable)
        .select(col("docId"), col("path").cast("long").as("doc_id")))
      .reduce(_ unionByName _)
    r.scoreAllDf(query).join(map, Seq("docId"))
      .select(col("doc_id"), round(col("score"), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  /** ES wildcard query (non-anchored glob) over the text index, keyed by
    * doc_id (integer-exact matched-term counts).
    */
  def wildcardMatch(spark: SparkSession, sfDir: String, pattern: String): DataFrame =
    reader(spark, sfDir).matchWildcardDf(pattern)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("n_terms"))
      .orderBy("doc_id")

  /** ES histogram aggregation over the engine registry's doc-length column
    * (integer-exact — no float protocol): the engine-side numeric bucket
    * agg next to the keyword facet. The twin recomputes dl from the text,
    * so a green row also re-checks the registry's dl against raw
    * tokenization.
    */
  def histogramAgg(spark: SparkSession, sfDir: String, width: Long): DataFrame =
    reader(spark, sfDir).histogramAggDf(width)
      .select(col("bucket_lo"), col("n"))
      .orderBy("bucket_lo")

  /** ES regexp term query over the text index, keyed by doc_id
    * (integer-exact matched-term counts).
    */
  def regexpMatch(spark: SparkSession, sfDir: String, pattern: String): DataFrame =
    reader(spark, sfDir).matchRegexpDf(pattern)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"), col("n_terms"))
      .orderBy("doc_id")

  /** Bounded fuzzy serving under the shared output protocol — the form a
    * client calls (top-k, never the full scored match set); same stability
    * over-fetch as every bounded path, rank-all [[fuzzyMatch]] as fallback.
    */
  def fuzzyMatchTopK(spark: SparkSession, sfDir: String, term: String,
      maxEdits: Int, k: Int): DataFrame = {
    val r = reader(spark, sfDir)
    stableTopK(spark, indexDir(spark, sfDir), k,
      f => r.fuzzyTopK(term, maxEdits, f),
      fuzzyMatch(spark, sfDir, term, maxEdits).limit(k))
  }

  /** ES terms aggregation (facet counts) over the TAGS field's dictionary —
    * the engine-side form: the sub-index dictionary IS the agg, no postings
    * and no documents are scanned.
    */
  def termsAgg(spark: SparkSession, sfDir: String, size: Int): DataFrame =
    tagsReader(spark, sfDir).termsAggDf(size).select(col("term"), col("df"))

  /** BM25 match THROUGH the stopword-analyzed index: query text is analyzed
    * by the index's own analyzer (sidecar-loaded), so stopwords in the
    * query drop out exactly as at build time; scores differ from the
    * default index's because dl/avgdl count kept tokens only (Lucene
    * norms).
    */
  def bm25Stopword(spark: SparkSession, sfDir: String, query: String,
      k: Int): DataFrame =
    bm25Of(spark, stopReader(spark, sfDir), stopIndexDir(spark, sfDir), query, k)

  /** Fielded match on the tags field — rank-all (fielded queries over
    * categorical metadata produce huge tie groups, so the exact distributed
    * ranking is both the correct and the cheap path), keyed by doc_id.
    */
  def bm25Tags(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    val r = tagsReader(spark, sfDir)
    rankedByDocId(spark, r.scoreAllDf(query), tagsIndexDir(spark, sfDir))
  }

  /** Cross-field OR (multi_match) over text + tags: score = text-field BM25
    * (its own df/avgdl) + tags-field BM25 (its own df/avgdl) — Lucene
    * BooleanQuery SHOULD across fielded clauses.
    *
    * Serving path (top-k): when the fields are docId-aligned
    * ([[fieldsAligned]]) the query runs through the exact bounded
    * cross-field WAND (MultiFieldIndex.multiMatchTopKReaders): one job,
    * θ-pruned, never scoring the full match union. The scores are bit-exact
    * vs the rank-all form (per-field partial sums in cursor order —
    * sbt-gated), so the shared 6-dp over-fetch stability protocol applies
    * unchanged. Misaligned fields or k <= 0 fall back to rank-all joined on
    * the STABLE doc_id key, which needs no alignment.
    */
  def multiMatch(spark: SparkSession, sfDir: String, query: String, k: Int): DataFrame =
    multiMatch(spark, sfDir, query, k, Seq("text", "tags"))

  /** The fielded form accepting ES `fields` specs with boosts —
    * `Seq("text^2", "tags")` — over this driver table's two analyzed
    * fields. Boosts scale at the term-meta level (BlockMaxWand.boostMeta),
    * so the bounded WAND serving path and the rank-all fallback stay
    * bit-identical under any boost, and WAND's pruning bounds stay exact.
    */
  def multiMatch(spark: SparkSession, sfDir: String, query: String, k: Int,
      fields: Seq[String]): DataFrame =
    multiMatch(spark, sfDir, query, k, fields, 1.0)

  /** The typed form (ES `multi_match` `type`): `tieBreaker` = 1.0 is the
    * sum combine (`most_fields`); 0.0 is ES's DEFAULT `best_fields` (the
    * best single field wins); between = `max + tieBreaker · (sum − max)`.
    * Combine happens over the per-field partial sums on BOTH serving paths
    * (scoreCursors group partials / the relational greatest+sum fold, same
    * association), so bounded ≡ rank-all bit-exactness holds at any
    * tieBreaker; WAND bounds sum across fields, a valid upper bound for
    * every tieBreaker ≤ 1.
    */
  def multiMatch(spark: SparkSession, sfDir: String, query: String, k: Int,
      fields: Seq[String], tieBreaker: Double): DataFrame = {
    val parsed = fields.map(graft.index.MultiFieldIndex.parseFieldBoost)
    require(parsed.map(_._1).sorted == Seq("tags", "text"),
      s"driver multi_match serves fields text+tags, got ${fields.mkString(",")}")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0, s"tie_breaker in [0,1], got $tieBreaker")
    val boostOf = parsed.toMap
    val (textB, tagsB) = (boostOf("text"), boostOf("tags"))
    val textIdx = indexDir(spark, sfDir)
    def rankAll: DataFrame = {
      val text = reader(spark, sfDir).scoreAllDf(query, textB)
        .join(docIdMap(spark, sfDir), Seq("docId")).select(col("doc_id"), col("score").as("s_text"))
      val tags = tagsReader(spark, sfDir).scoreAllDf(query, tagsB)
        .join(docIdMapOf(spark, tagsIndexDir(spark, sfDir)), Seq("docId"))
        .select(col("doc_id"), col("score").as("s_tags"))
      // field order (text, tags) == the WAND path's group order
      val perCol = Seq(coalesce(col("s_text"), lit(0.0)), coalesce(col("s_tags"), lit(0.0)))
      val sum = perCol.reduce(_ + _)
      val raw =
        if (tieBreaker == 1.0) sum
        else { val mx = greatest(perCol: _*); mx + lit(tieBreaker) * (sum - mx) }
      val out = text.join(tags, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), round(raw, 6).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
      if (k > 0) out.limit(k) else out
    }
    val rs = Seq(reader(spark, sfDir), tagsReader(spark, sfDir))
    val boosts = Seq(textB, tagsB)
    if (k > 0 && fieldsAligned(spark, sfDir))
      stableTopK(spark, textIdx, k,
        f => graft.index.MultiFieldIndex.multiMatchTopKReaders(spark, rs, query, f,
          boosts, tieBreaker),
        rankAll)
    else rankAll
  }

  /** ES `multi_match` `type: cross_fields` over text + tags (term-centric
    * blending — see MultiFieldIndex.blendedMetas for the pinned semantics):
    * each term scores as ONE clause whose idf is blended from the MAX df
    * across both fields, per-field tfNorms dismax-combined
    * (`max + tieBreaker·(sum − max)`, ES default tie_breaker 0.0), terms
    * summed. Serving mirrors `multiMatch`: bounded cross-field WAND under
    * the blended metas when k > 0 (bit-exact vs rank-all, sbt-gated),
    * rank-all relational otherwise. Cross-field blending REQUIRES docId
    * alignment (the per-term dismax joins fields by docId), so unlike
    * `multiMatch` there is no unaligned fallback — geometry mismatch fails
    * loudly instead of silently mis-joining.
    */
  def multiMatchCross(spark: SparkSession, sfDir: String, query: String,
      k: Int, tieBreaker: Double = 0.0): DataFrame = {
    val textIdx = indexDir(spark, sfDir)
    val rs = Seq(reader(spark, sfDir), tagsReader(spark, sfDir))
    require(fieldsAligned(spark, sfDir), MisalignedFields)
    def rankAll: DataFrame = {
      val out = rankedByDocId(spark,
        graft.index.MultiFieldIndex.crossFieldsScoreAllReaders(spark, rs, query,
          tieBreaker = tieBreaker), textIdx)
      if (k > 0) out.limit(k) else out
    }
    if (k > 0)
      stableTopK(spark, textIdx, k,
        f => graft.index.MultiFieldIndex.crossFieldsTopKDs(spark, rs, query, f,
          tieBreaker = tieBreaker).collect(),
        rankAll)
    else rankAll
  }

  /** ES phrase suggester over the text index ("did you mean", pinned v1 —
    * see IndexReader.suggestPhraseDf): candidate bigrams from per-slot
    * fuzzy expansion, ranked by corpus adjacency document frequency.
    * Integer-exact output, no float protocol.
    */
  def suggestPhrase(spark: SparkSession, sfDir: String, input: String,
      size: Int = 5): DataFrame =
    reader(spark, sfDir).suggestPhraseDf(input, size = size)

  /** ES query-time synonym expansion (Lucene SynonymQuery per group — see
    * IndexReader.synonymScoreAllDf) over the text index, keyed by doc_id
    * under the shared output protocol.
    */
  def synonymMatch(spark: SparkSession, sfDir: String,
      groups: Seq[Seq[String]]): DataFrame =
    rankedByDocId(spark, reader(spark, sfDir).synonymScoreAllDf(groups),
      indexDir(spark, sfDir))

  /** Scored `match_phrase` (Lucene PhraseQuery × BM25Similarity —
    * IndexReader.phraseScoreDf semantics) over the text index, keyed by
    * doc_id under the shared output protocol.
    */
  def phraseScored(spark: SparkSession, sfDir: String, phrase: String,
      slop: Int = 0): DataFrame =
    rankedByDocId(spark, reader(spark, sfDir).phraseScoreDf(phrase, slop),
      indexDir(spark, sfDir))

  /** Lucene classic `query_string` (QueryString v1 grammar) over the text
    * index, keyed by doc_id under the shared output protocol.
    */
  def queryString(spark: SparkSession, sfDir: String, q: String): DataFrame =
    rankedByDocId(spark, reader(spark, sfDir).queryStringDf(q),
      indexDir(spark, sfDir))

  /** ES `_profile`, the deterministic STRUCTURAL core (pinned v1): one
    * row per bool leaf with its matched-doc count — by the postings
    * invariant the dictionary's df IS that count, so leaves cost one
    * term-pruned dictionary lookup, never a postings scan — plus the
    * composed `total:bool` hit count. ES's profile adds per-phase
    * nanosecond timings, nondeterministic by nature and documented OUT of
    * the pin; the query tree structure and per-leaf counts are the part a
    * client can assert on. Absent leaves report 0, like Lucene's
    * null-scorer sub-explanations. Plan: clause-list frame left-joined to
    * the dictionary counts + one count aggregate over the bool match
    * frame, unioned — leaf side dictionary-grain, total side the ordinary
    * b17 aggregate.
    */
  def profileBool(spark: SparkSession, sfDir: String, must: Seq[String],
      should: Seq[String], mustNot: Seq[String]): DataFrame = {
    import spark.implicits._
    val r = reader(spark, sfDir)
    // Leaf terms normalize through the SAME analysis the bool executor
    // applies ("HASH" / " hash " → hash) — a raw dictionary lookup would
    // report df 0 next to a positive total for inputs searchBoolDf accepts.
    // Labels carry the ANALYZED term, like ES's profile of the rewritten
    // query.
    def norm(t: String): String = {
      val toks = r.analyze(t)
      require(toks.length == 1,
        s"profile clause '$t' must analyze to exactly one term, got ${toks.length}")
      toks.head
    }
    val clauses = must.map(t => ("must", norm(t))) ++
      should.map(t => ("should", norm(t))) ++
      mustNot.map(t => ("must_not", norm(t)))
    require(clauses.nonEmpty, "profile needs at least one clause")
    val terms = clauses.map(_._2).distinct
    val dict = r.segments.map(seg =>
        InvertedIndex.read(spark, seg, InvertedIndex.DictTable)
          .where(col("term").isin(terms: _*)).select(col("term"), col("df")))
      .reduce(_ unionByName _).groupBy("term").agg(sum("df").as("docs"))
    val leaf = clauses.toDF("kind", "term").join(dict, Seq("term"), "left_outer")
      .select(concat_ws(":", col("kind"), col("term")).as("clause"),
        coalesce(col("docs"), lit(0L)).as("docs"))
    val total = r.searchBoolDf(must, should, mustNot)
      .agg(count(lit(1)).as("docs"))
      .select(lit("total:bool").as("clause"), col("docs"))
    leaf.unionByName(total).orderBy("clause")
  }

  /** ES `_analyze` API (pinned v1): the analyzer's token stream for a given
    * string — (position, token), 0-based positions, the SAME pinned
    * CodeTokenizer semantics every index here is built with (so what this
    * returns IS what a query or build would emit — the API's whole point).
    * ES also returns char offsets and a token type; offsets exist
    * engine-side (CodeTokenizer.tokenizeWithOffsets, the highlighter uses
    * them) but are pinned OUT of the twin-checked row — scan offsets have
    * no portable SQL spelling — and the type is constant for this analyzer.
    * Plan: a one-row dataset flatMapped on an executor — the API is
    * request-sized by construction; nothing scans.
    */
  def analyzeDf(spark: SparkSession, text: String): DataFrame = {
    import spark.implicits._
    spark.createDataset(Seq(text))
      .flatMap(t => graft.tokenize.CodeTokenizer.tokenize(t).iterator.zipWithIndex
        .map { case (tok, i) => (i.toLong, tok) })
      .toDF("position", "token").orderBy("position")
  }

  /** ES `_field_caps` API: per-field capabilities of an index — the ES type
    * under the PINNED parquet→ES mapping (int64→long, int32→integer,
    * double→double, float→float, timestamp→date, bool→boolean, string→
    * keyword EXCEPT the analyzed field(s)→text, float/double arrays→
    * dense_vector), `searchable` (every mapped field here), `aggregatable`
    * (ES: text fields are not aggregatable without fielddata — pinned
    * false, everything else true). An unmapped type is rejected loudly —
    * silent `unsupported` rows would hide schema drift. The schema IS
    * driver metadata (one parquet-footer read), so the k-row frame is
    * created driver-side like every clause/registry frame in this repo.
    */
  def fieldCaps(spark: SparkSession, sfDir: String, table: String = "documents",
      analyzed: Set[String] = Set("text")): DataFrame = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = spark.read.parquet(s"$sfDir/$table.parquet").schema
    val rows = schema.fields.toSeq.map { f =>
      val es = f.dataType match {
        case LongType => "long"
        case IntegerType => "integer"
        case DoubleType => "double"
        case FloatType => "float"
        case TimestampType | TimestampNTZType => "date" // parquet isAdjustedToUTC both ways
        case BooleanType => "boolean"
        case StringType => if (analyzed(f.name)) "text" else "keyword"
        case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => "dense_vector"
        case dt => throw new IllegalArgumentException(
          s"no ES mapping for field ${f.name}: $dt")
      }
      (f.name, es, true, es != "text")
    }
    rows.toDF("field", "es_type", "searchable", "aggregatable").orderBy("field")
  }

  /** ES `simple_query_string` (lenient surface grammar — see
    * IndexReader.simpleQueryStringDf / QueryString.parseSimple) over the
    * text index, keyed by doc_id under the shared output protocol.
    */
  def simpleQueryString(spark: SparkSession, sfDir: String, q: String): DataFrame =
    rankedByDocId(spark, reader(spark, sfDir).simpleQueryStringDf(q),
      indexDir(spark, sfDir))

  /** ES multi-index search (`GET /documents,documents_tags/_search`): ONE
    * query run against BOTH indexes, each hit scored under its OWN index's
    * corpus statistics — ES computes df/N/avgdl per index, cross-index idf
    * is never blended — and merged globally by score with the `_index`
    * discriminator column (the same doc_id can legitimately hit in both).
    * Output protocol extends the shared one with `idx` in the tie-break
    * key: (rounded score desc, idx asc, doc_id asc), cut at k.
    *
    * Plan shape: two independent term/tbucket-pruned scans (one per
    * index), each already aggregated to hit grain, unioned — the only
    * cross-index operator is the final TakeOrderedAndProject. Rank-all
    * under the cut is deliberate: the tags side is tie-heavy categorical
    * (same rationale as bm25Tags), and the union inherits each side's
    * exact distributed ranking.
    */
  def multiIndexSearch(spark: SparkSession, sfDir: String, query: String,
      k: Int): DataFrame = {
    val text = rankedByDocId(spark, reader(spark, sfDir).scoreAllDf(query),
      indexDir(spark, sfDir)).select(lit("documents").as("idx"), col("doc_id"), col("score"))
    val tags = rankedByDocId(spark, tagsReader(spark, sfDir).scoreAllDf(query),
      tagsIndexDir(spark, sfDir)).select(lit("documents_tags").as("idx"), col("doc_id"), col("score"))
    val out = text.unionByName(tags)
      .orderBy(desc("score"), asc("idx"), asc("doc_id"))
    if (k > 0) out.limit(k) else out
  }

  /** ES `dis_max` over match subqueries on the text index, keyed by doc_id
    * under the shared output protocol.
    */
  def disMax(spark: SparkSession, sfDir: String, queries: Seq[String],
      tieBreaker: Double): DataFrame =
    rankedByDocId(spark, reader(spark, sfDir).disMaxDf(queries, tieBreaker),
      indexDir(spark, sfDir))

  /** ES `boosting` query over the text index, keyed by doc_id under the
    * shared output protocol.
    */
  def boosting(spark: SparkSession, sfDir: String, positive: String,
      negative: String, negativeBoost: Double): DataFrame =
    rankedByDocId(spark,
      reader(spark, sfDir).boostingDf(positive, negative, negativeBoost),
      indexDir(spark, sfDir))

  /** ES `rescore` (query rescorer, `score_mode: total` — the classic
    * phrase-proximity reranker every relevance stack runs): the top-`window`
    * hits of `query` re-ranked by `qw·main + rw·phraseScore(phrase)`;
    * only the window re-sorts, exactly ES (`window_size`). All inputs are
    * PROTOCOL (6-dp-rounded) scores and the combine re-rounds, so both
    * engines compose identical doubles (qw/rw pinned to exact binary FP in
    * the driver row).
    *
    * Plan shape: the window is the bounded BMW top-k (≤ `window` rows) and
    * its id set is BROADCAST-semi-joined into the scored-phrase frame
    * BEFORE that frame's registry join — ES evaluates the rescore query
    * only against window docs, and here the window membership prunes the
    * phrase frame the same way (a broadcast hash semi, never a shuffle).
    * The ≤ `window` surviving phrase rows then broadcast into the final
    * left-outer (broadcasting the LEFT side of a left-outer is unsupported
    * — Spark can only build the preserved side's opposite — so the pruned
    * RIGHT side is the broadcastable one). Neither join shuffles at any
    * scale; the only distributed work is the phrase scan itself.
    */
  def rescorePhrase(spark: SparkSession, sfDir: String, query: String,
      phrase: String, window: Int, queryWeight: Double,
      rescoreWeight: Double): DataFrame = {
    require(window > 0, "rescore window must be positive")
    val win = bm25(spark, sfDir, query, window)
      .select(col("doc_id"), col("score").as("main"))
    val ph = phraseScored(spark, sfDir, phrase)
      .select(col("doc_id"), col("score").as("ph"))
      .join(broadcast(win.select("doc_id")), Seq("doc_id"), "left_semi")
    win.join(broadcast(ph), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        round(lit(queryWeight) * col("main")
          + lit(rescoreWeight) * coalesce(col("ph"), lit(0.0)), 6).as("score"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  /** ES `composite` aggregation page (terms source, keyset `after`) over
    * the TAGS field's dictionary — key-ordered buckets, resumable.
    */
  def termsComposite(spark: SparkSession, sfDir: String, size: Int,
      afterKey: Option[String]): DataFrame =
    tagsReader(spark, sfDir).termsCompositeDf(size, afterKey)
      .select(col("term"), col("df"))

  /** ES `filters` aggregation over the text index: named term-conjunction
    * buckets with doc counts, ordered by bucket name for the output
    * protocol (ES preserves request order; name order is deterministic
    * across engines).
    */
  def filtersAgg(spark: SparkSession, sfDir: String,
      filters: Seq[(String, Seq[String])]): DataFrame =
    reader(spark, sfDir).filtersAggDf(filters).orderBy("name")

  /** ES `adjacency_matrix` aggregation: the named filters PLUS every
    * pairwise intersection (named `a&b` with ES's `&` separator, operand
    * order = the given filter order), each bucket a membership-conjunction
    * count; ES omits empty buckets, so zero-count rows are dropped — the
    * one behavior that differs from `filters` agg (which pins count 0).
    * Plan = the filters-agg plan over n + n·(n−1)/2 conjunctions: per
    * bucket an ids-only scan of ITS OWN terms, exchanges move conjunction
    * partials and 1-row counts, never documents. n is query-sized (ES caps
    * at 100 filters), so the quadratic is in BUCKETS, not data.
    */
  def adjacencyMatrix(spark: SparkSession, sfDir: String,
      filters: Seq[(String, Seq[String])]): DataFrame = {
    require(filters.nonEmpty, "adjacency_matrix needs at least one filter")
    require(filters.forall(!_._1.contains("&")),
      "filter names must not contain the '&' intersection separator")
    require(filters.map(_._1).distinct.size == filters.size,
      "filter names must be unique")
    val pairs = for {
      i <- filters.indices
      j <- (i + 1) until filters.size
    } yield (s"${filters(i)._1}&${filters(j)._1}",
      (filters(i)._2 ++ filters(j)._2).distinct)
    reader(spark, sfDir).filtersAggDf(filters ++ pairs)
      .where(col("doc_count") > 0)
      .orderBy("name")
  }

  /** ES `rare_terms` aggregation over the tags sub-index (see
    * IndexReader.rareTermsDf): the dictionary long tail at
    * df ≤ maxDocCount, (df asc, term asc). Integer-exact, no protocol.
    */
  def rareTerms(spark: SparkSession, sfDir: String, maxDocCount: Long): DataFrame =
    tagsReader(spark, sfDir).rareTermsDf(maxDocCount)

  /** The doc_id key set matching a filter-context term conjunction — the
    * parent side of an ES `has_parent` query whose parent query is a term
    * filter on this index (ids-only postings membership, docId → doc_id
    * through the registry; never scores, never touches documents).
    */
  def matchingDocIds(spark: SparkSession, sfDir: String,
      filter: Seq[String]): DataFrame =
    reader(spark, sfDir).constantScoreDf(filter)
      .join(docIdMap(spark, sfDir), Seq("docId"))
      .select(col("doc_id"))

  /** ES `intervals` query, pinned v1 = `any_of` over ordered two-term
    * `match` rules with `max_gaps` (the modern positional algebra's most
    * common composition: "these words near each other, or those"). For an
    * ordered two-term rule, max_gaps = g means positions p0 < p1 with
    * p1 − p0 − 1 ≤ g — EXACTLY the B15 ordered-slop window, so each rule
    * IS matchPhraseDf(phrase, slop = g): preference-(a) composition, no
    * new positional kernel. `interval_tf` sums the rules' start counts;
    * rules must have DISTINCT lead terms (enforced) so start positions are
    * disjoint and the sum equals the merged-stream interval count ES's
    * any_of iterator would emit. Longer sources / other rule types stay
    * rejected loudly (matchPhraseDf's own two-term+ validation).
    */
  def intervalsAnyOf(spark: SparkSession, sfDir: String,
      rules: Seq[(String, Int)]): DataFrame = {
    require(rules.nonEmpty, "intervals any_of needs at least one rule")
    val leads = rules.map(r => graft.tokenize.CodeTokenizer.tokenize(r._1).head)
    require(leads.distinct.size == leads.size,
      s"any_of rules must have distinct lead terms for the exact merged count, got $leads")
    rules.map { case (ph, gaps) => phraseMatch(spark, sfDir, ph, gaps) }
      .reduce { (a, b) =>
        a.withColumnRenamed("phrase_tf", "ta")
          .join(b.withColumnRenamed("phrase_tf", "tb"), Seq("doc_id"), "full_outer")
          .select(col("doc_id"),
            (coalesce(col("ta"), lit(0L)) + coalesce(col("tb"), lit(0L))).as("phrase_tf"))
      }
      .withColumnRenamed("phrase_tf", "interval_tf")
      .orderBy("doc_id")
  }

  /** ES `_rank_eval`: ranking-quality metrics over judged relevance —
    * precision@k, MRR@k (reciprocal rank of the first relevant hit) and
    * binary DCG@k per query. ES takes explicit (query, doc, rating) lists;
    * here the judgment set derives DETERMINISTICALLY as each query's
    * term-CONJUNCTION docs (binary relevance both engines recompute — the
    * same membership frame the filter context serves), so the row needs no
    * side-channel fixture at any SF; `judgmentTerms` tightens the rule with
    * extra required terms (a rarer gold set than the query's own conjunction
    * — the top-k then misses some of it and the metrics discriminate).
    * Plan per query: the bounded top-k (k rows), a row_number over those k,
    * a left join against the ids-only conjunction frame, ONE aggregate —
    * metric cost is k-sized everywhere beyond the searches themselves.
    */
  def rankEval(spark: SparkSession, sfDir: String, queries: Seq[String],
      k: Int, judgmentTerms: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(queries.nonEmpty && k > 0, "rank_eval needs queries and k > 0")
    queries.map { q =>
      val terms = (graft.tokenize.CodeTokenizer.tokenize(q) ++ judgmentTerms).distinct
      val w = Window.orderBy(desc("score"), asc("doc_id"))
      val ranked = bm25(spark, sfDir, q, k).withColumn("rank", row_number().over(w))
      val rel = matchingDocIds(spark, sfDir, terms.toIndexedSeq).withColumn("rel", lit(1))
      ranked.join(broadcast(rel), Seq("doc_id"), "left")
        .agg(
          // ES precision = relevant_retrieved / RETRIEVED (not / k): a
          // match set shorter than k must not dilute the metric
          round(sum(coalesce(col("rel"), lit(0))) / count(lit(1)).cast("double"), 6)
            .as("precision_k"),
          round(coalesce(max(when(col("rel") === 1, lit(1.0) / col("rank"))), lit(0.0)), 6)
            .as("mrr"),
          round(coalesce(sum(when(col("rel") === 1,
            lit(1.0) / log2(col("rank") + 1))), lit(0.0)), 6).as("dcg"))
        .select(lit(q).as("query"), col("precision_k"), col("mrr"), col("dcg"))
    }.reduce(_ unionByName _).orderBy("query")
  }

  /** ES runtime fields (`runtime_mappings` — script-computed fields
    * evaluated at QUERY time, never indexed): the top-k hits with a derived
    * `chars_per_token` = n_chars / dl field attached. The runtime field is
    * one codegen'd projection over the k-row page joined to its doc values
    * (source n_chars + registry dl) — exactly ES's cost model, where the
    * script runs per RETURNED hit, not per indexed doc.
    */
  def runtimeFieldSearch(spark: SparkSession, sfDir: String, query: String,
      k: Int): DataFrame = {
    val top = bm25(spark, sfDir, query, k)
    val chars = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    // the k-row TOP side broadcasts into both joins; the registry dl frame
    // is corpus-sized (one row per indexed doc) and must NEVER carry a
    // broadcast hint — at serving scale that side is the big one
    broadcast(top).join(chars, Seq("doc_id")).join(dlByDocId(spark, sfDir), Seq("doc_id"))
      .select(col("doc_id"), col("score"),
        round(col("n_chars") / col("dl"), 4).as("chars_per_token"))
      .orderBy(desc("score"), asc("doc_id"))
  }

  /** The delta-aware registry (doc_id, dl) frame — the doc-values read
    * every dl-consuming scorer pays, spelled ONCE (the base-only-read trap
    * the delta scaladocs warn about lives here and only here).
    */
  private def dlByDocId(spark: SparkSession, sfDir: String): DataFrame =
    DeltaIndex.segmentDirs(spark, indexDir(spark, sfDir))
      .map(seg => InvertedIndex.read(spark, seg, InvertedIndex.DocsTable)
        .select(col("path").cast("long").as("doc_id"), col("dl")))
      .reduce(_ unionByName _)

  /** Same frame at the internal docId grain (for joins against rank-all
    * score frames that have not mapped to doc_id yet).
    */
  private def dlByInternalId(spark: SparkSession, sfDir: String): DataFrame =
    DeltaIndex.segmentDirs(spark, indexDir(spark, sfDir))
      .map(seg => InvertedIndex.read(spark, seg, InvertedIndex.DocsTable)
        .select(col("docId"), col("dl")))
      .reduce(_ unionByName _)

  /** ES `min_score`: drop hits scoring below the floor. Applied to the
    * PROTOCOL (rounded) score on both engines so the boundary can't flip
    * on sub-ulp noise; relationally the floor composes with the rank-all
    * frame as one filter (and on a bounded path it would tighten θ).
    */
  def minScoreSearch(spark: SparkSession, sfDir: String, query: String,
      minScore: Double): DataFrame =
    rankedByDocId(spark, reader(spark, sfDir).scoreAllDf(query),
      indexDir(spark, sfDir))
      .where(col("score") >= minScore)

  /** ES `top_hits` aggregation: the best `n` hits of `query` per `lang`
    * group (collapseByLang generalized from 1 to n). The per-group cut is
    * the bounded TopHitsAgg aggregate — map-side combinable, NEVER a window
    * over group partitions (see TopHitsAgg scaladoc for the 100 TB
    * argument). Scores enter the aggregate ALREADY 6-dp rounded (the output
    * protocol), so group-local order matches the protocol's global order.
    */
  def topHitsByLang(spark: SparkSession, sfDir: String, query: String,
      n: Int): DataFrame = {
    val scores = rankedByDocId(spark, reader(spark, sfDir).scoreAllDf(query),
      indexDir(spark, sfDir))
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val top = udaf(new graft.query.TopHitsAgg(n))
    scores.join(docs, Seq("doc_id"))
      .groupBy("lang")
      .agg(top(col("score"), col("doc_id")).as("top"))
      .select(col("lang"), posexplode(col("top")))
      .select(col("lang"), (col("pos") + 1).cast("long").as("hit_rank"),
        col("col._2").as("doc_id"), col("col._1").as("score"))
      .orderBy("lang", "hit_rank")
  }

  def dictionaryDf(spark: SparkSession, sfDir: String): DataFrame =
    InvertedIndex.read(spark, indexDir(spark, sfDir), InvertedIndex.DictTable)
      .select(col("term"), col("df"), col("cf"))
      .orderBy("term")

  /** Delta-aware (term, df) frame: per-segment DictTable scans merged with
    * sum(df); a single-segment index skips the merge aggregate (the same
    * special case cappedByDf takes). ADVICE r06 fix: significantText /
    * termVectors attached df from the BASE segment's dictionary only, which
    * silently undercounts on a delta-served index — latent on the
    * single-segment contract index, where this frame is value-identical.
    */
  private def termDfFrame(spark: SparkSession, sfDir: String): DataFrame = {
    val r = reader(spark, sfDir)
    val u = r.segments.map(seg =>
        InvertedIndex.read(spark, seg, InvertedIndex.DictTable).select(col("term"), col("df")))
      .reduce(_ unionByName _)
    if (r.segments.size == 1) u else u.groupBy("term").agg(sum("df").as("df"))
  }

  def registryDf(spark: SparkSession, sfDir: String): DataFrame =
    InvertedIndex.read(spark, indexDir(spark, sfDir), InvertedIndex.DocsTable)
      .select(col("path").cast("long").as("doc_id"), col("dl").cast("long").as("dl"), col("sha256"))
      .orderBy("doc_id")
}
