package graft.index

import graft.fixtures.CodeFile
import graft.lineage.Manifests
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental index maintenance — the Lucene segment model (SURVEY.md §1.2
  * / §2.3 B4), re-expressed over the parquet/Iceberg table layout: the
  * reference's operating model feeds a LIVE Elasticsearch index with rolling
  * bulk loads, where ES makes new documents searchable via a refresh, not a
  * rebuild. Here:
  *
  *   - [[addDocuments]] builds a small, fully self-contained DELTA SEGMENT
  *     (registry/stats/postings/dictionary — the existing resumable build)
  *     over only the new documents, under `<indexDir>/deltas/d<gen>`, with
  *     docIds continuing where the committed segments end. Cost is
  *     proportional to the NEW docs, never to the base corpus.
  *   - IndexReader discovers committed segments and serves base ∪ deltas as
  *     one logical index: df/cf/N/avgdl merge at query compile; block-max
  *     bounds are recomputed from stats-independent (maxTf, minDl) impact
  *     material, so base blocks need no re-encode (see IndexReader scaladoc).
  *   - [[compact]] is background merge: the ordinary full build over the
  *     union source into a fresh generation directory, swapped in with the
  *     same crash-recoverable rename protocol as Tables.upsert. At 100 TB
  *     this runs on its own schedule while readers keep serving segments —
  *     the atomic cutover for CONCURRENT readers is exactly what the Iceberg
  *     snapshot commit (or graft.io.Lifecycle's alias swap over catalog
  *     tables) provides; plain directories give per-process atomicity only.
  *
  * Delta segments SHOULD stay few and small relative to the base (each adds
  * a dictionary lookup and a scan branch per query); compact when their doc
  * share grows past a few percent — the standard segment-merge policy knob.
  */
object DeltaIndex {
  val DeltasSubdir = "deltas"

  private def fs(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed delta segment dirs (dictionary manifest + format version
    * present) in generation order. Uncommitted (in-flight or killed) delta
    * builds are invisible to readers — and resumable by the next
    * addDocuments with the same generation inputs.
    */
  def deltaDirs(spark: SparkSession, indexDir: String): Seq[String] = {
    val root = new Path(s"$indexDir/$DeltasSubdir")
    val f = fs(spark, indexDir)
    if (!f.exists(root)) return Seq.empty
    f.listStatus(root).toSeq.map(_.getPath).filter(_.getName.matches("d\\d+"))
      .sortBy(_.getName).map(_.toString)
      .filter(d => Manifests.isComplete(spark, d, "dictionary") &&
        InvertedIndex.formatVersionOk(spark, d))
  }

  /** The base dir plus committed deltas — what a reader serves. */
  def segmentDirs(spark: SparkSession, indexDir: String): Seq[String] =
    indexDir +: deltaDirs(spark, indexDir)

  /** Total committed docs = the next delta's docIdBase. */
  def totalDocs(spark: SparkSession, indexDir: String): Long =
    totalDocs(spark, segmentDirs(spark, indexDir))

  /** Docs committed in `segs`: every segment's stats row in one job. */
  private def totalDocs(spark: SparkSession, segs: Seq[String]): Long =
    InvertedIndex.readStats(spark, segs).map(_.numDocs).sum

  /** Build the next delta segment over `newDocs` and return its dir. The
    * new keys must be disjoint from every committed segment's (the same
    * uniqueness precondition the base build enforces within itself —
    * checked here across segments with one keys-only semi-join per segment;
    * update-in-place of an existing doc is compact's job, not a delta's).
    *
    * Resume contract (same as the base build's): a killed addDocuments left
    * an UNCOMMITTED generation dir whose per-stage manifests this call
    * resumes from — so a retry must pass the SAME newDocs. A retry with a
    * different row COUNT fails loudly (the postings stage cross-checks the
    * docId plan against committed stats); to abandon a partial delta and
    * add a different batch, delete the uncommitted `deltas/d*` dir first.
    */
  def addDocuments(spark: SparkSession, indexDir: String, newDocs: Dataset[CodeFile],
      cfg: IndexConfig, runId: String = "delta"): String = {
    InvertedIndex.assertFormatVersion(spark, indexDir)
    // a delta built with a different analyzer than its base would serve a
    // mixed-analyzer union — the exact mistake ES blocks with per-field
    // mapping immutability; the sidecar makes it loud here
    val baseAnalyzer = InvertedIndex.readAnalyzer(spark, indexDir)
    require(cfg.analyzer == baseAnalyzer,
      s"addDocuments: cfg.analyzer ${cfg.analyzer.serialized} differs from the base " +
        s"index's built analyzer ${baseAnalyzer.serialized} at $indexDir — " +
        "an index's analyzer is immutable; rebuild to change it")
    // the committed segments, listed once for the whole call
    val segs = segmentDirs(spark, indexDir)
    val newKeys = newDocs.toDF().select("repo", "path", "commit")
    for (seg <- segs) {
      val clash = InvertedIndex.read(spark, seg, InvertedIndex.DocsTable)
        .select("repo", "path", "commit")
        .join(broadcast(newKeys), Seq("repo", "path", "commit"), "left_semi")
        .limit(1).collect()
      require(clash.isEmpty,
        s"addDocuments: key ${clash.headOption.getOrElse("")} already exists in segment $seg — " +
          "delta segments only ADD documents; re-index via compact() to replace")
    }
    val gen = segs.size - 1 // committed deltas
    val dir = f"$indexDir/$DeltasSubdir/d$gen%04d"
    val base = totalDocs(spark, segs)
    InvertedIndex.build(spark, newDocs, dir, cfg.copy(docIdBase = base), runId)
    dir
  }

  /** The segment-merge POLICY the class scaladoc promises ("compact when
    * the delta doc share grows past a few percent"), enforced: compacts iff
    * committed delta docs exceed `maxDeltaShare` of the total. Costs only
    * the per-segment stats reads (tiny single-row tables) when below the
    * threshold, so refresh loops can call it after every [[addDocuments]]
    * and segment count stays bounded — without it nothing stops a
    * refresh-heavy workload from accumulating an unbounded segment list,
    * each adding a dictionary lookup and a scan branch to every query.
    * Returns true iff compaction ran.
    */
  def maybeCompact(spark: SparkSession, indexDir: String, allDocs: Dataset[CodeFile],
      cfg: IndexConfig, maxDeltaShare: Double = 0.05, runId: String = "compact"): Boolean = {
    require(maxDeltaShare > 0.0, s"maxDeltaShare must be positive, got $maxDeltaShare")
    val deltas = deltaDirs(spark, indexDir)
    if (deltas.isEmpty) return false
    val docs = InvertedIndex.readStats(spark, indexDir +: deltas).map(_.numDocs)
    val baseDocs = docs.head
    val deltaDocs = docs.tail.sum
    val share = deltaDocs.toDouble / math.max(1L, baseDocs + deltaDocs)
    if (share <= maxDeltaShare) false
    else {
      compact(spark, indexDir, allDocs, cfg, runId)
      true
    }
  }

  /** Background compaction: the ordinary full build over `allDocs` (the
    * caller's source of truth for base + added documents) into a fresh
    * generation, swapped in with the crash-recoverable rename protocol
    * (roll forward a committed staging, roll back otherwise — same shape as
    * Tables.upsert step 1). Deltas are absorbed: the new generation has
    * none.
    */
  def compact(spark: SparkSession, indexDir: String, allDocs: Dataset[CodeFile],
      cfg: IndexConfig, runId: String = "compact"): Unit = {
    val f = fs(spark, indexDir)
    val staging = new Path(s"${indexDir}__compacting")
    val old = new Path(s"${indexDir}__old")
    val cur = new Path(indexDir)
    def committed(p: Path): Boolean =
      f.exists(p) && Manifests.isComplete(spark, p.toString, "dictionary") &&
        InvertedIndex.formatVersionOk(spark, p.toString)
    // recovery from a previous kill
    if (!f.exists(cur) && committed(staging)) require(f.rename(staging, cur), s"compact roll-forward failed for $indexDir")
    else if (!f.exists(cur) && f.exists(old)) require(f.rename(old, cur), s"compact roll-back failed for $indexDir")
    // a leftover staging that did NOT roll forward may have been built from
    // different inputs than this call's allDocs — discard it and rebuild
    // (correctness over thrift; a kill mid-swap, the window that could lose
    // a COMMITTED generation, is the case recovered above)
    if (f.exists(staging)) f.delete(staging, true)
    if (f.exists(old)) f.delete(old, true)
    InvertedIndex.build(spark, allDocs, staging.toString, cfg, runId)
    require(f.rename(cur, old), s"compact swap (aside) failed for $indexDir")
    require(f.rename(staging, cur), s"compact swap (in) failed for $indexDir")
    f.delete(old, true)
    ()
  }
}
