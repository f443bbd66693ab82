package graft.index

import graft.codec.PostingsCodec
import graft.fixtures.CodeFile
import graft.io.Tables
import graft.lineage.Manifests
import graft.query.{Bm25, Bm25Params}
import graft.tokenize.{Analyzer, CodeTokenizer}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One row of the `docs` table: doc registry + exact norms + the sha256
  * per-row invariant (SURVEY.md §1.3; BASELINE.json:15). Content is NOT
  * stored — (repo, path, commit) is the locator back into the source table.
  * (Round 1 duplicated content here as a stored-fields analog; at corpus
  * scale that doubles index storage and made the registry exchange carry
  * full text. Now per-doc metadata is computed in a narrow map BEFORE the
  * docId exchange — the exchange carries ~100 bytes/doc — and the postings
  * stage re-derives (docId, content) pairs from the source table with the
  * same deterministic assignment, see [[InvertedIndex.withDocIds]].)
  */
final case class DocRow(docId: Long, repo: String, path: String, commit: String,
    lang: String, dl: Int, sha256: String)

/** Pre-shuffle per-doc metadata (registry exchange payload). */
final case class DocMeta(repo: String, path: String, commit: String,
    lang: String, dl: Int, sha256: String)

/** One 128-doc compressed postings block with block-max metadata
  * (SURVEY.md §1.3 / §2.3 B5+B6; Lucene analog: one skip-block of the
  * Lucene84 postings format with its impact entry).
  *
  * blockMaxTfn is the max of the document-dependent BM25 factor
  * tf/(tf+k1(1-b+b*dl/avgdl)) within the block; the WAND upper bound for a
  * block is idf(term) * blockMaxTfn, so encode needs no df and the bound
  * stays exact under the final df.
  *
  * (maxTf, minDl) is the STATS-INDEPENDENT bound material (the analog of
  * Lucene's per-block competitive (freq, norm) impact pairs): tfNorm is
  * increasing in tf and decreasing in dl, so tfNorm(maxTf, minDl, avgdl') is
  * a valid (slightly looser) block bound under ANY corpus avgdl' — what lets
  * delta segments be served with merged stats without re-encoding the base
  * segment's blocks (blockMaxTfn is exact only under the avgdl the block was
  * built with).
  */
final case class PostingBlock(term: String, blockId: Long, firstDocId: Long, lastDocId: Long,
    count: Int, tfSum: Long, blockMaxTfn: Double, maxTf: Int, minDl: Int,
    docDeltas: Array[Byte], tfs: Array[Byte], dls: Array[Byte],
    /** v5: concatenated per-posting position streams (PostingsCodec
      * .decodePositions splits by tf), empty when the index was built with
      * storePositions = false. Lucene's .pos file as a parquet COLUMN:
      * match/BMW queries never select it, so column pruning keeps the
      * frequency-only scan exactly as narrow as it was pre-positions.
      */
    pos: Array[Byte])

final case class TermPosting(term: String, salt: Int, docId: Long, tf: Int, dl: Int,
    pos: Array[Byte])

final case class CorpusStats(numDocs: Long, sumDl: Long, avgDl: Double)

final case class IndexConfig(
    partitions: Int = 32,
    blockSize: Int = PostingsCodec.BlockSize,
    /** Terms with df above this are salted (split by docId range) so no
      * single (term) run exceeds one partition's fair share at any scale
      * (BASELINE.json:6/14). MUST be ~docs-per-partition, not a large
      * constant: the postings stage's wall time is the LONGEST (term,salt)
      * run's sort+encode, so an unsalted zipf-head term serializes the whole
      * stage (measured: 'def' at df=190k/1M-threshold held postings scaling
      * to 1.4x on 4x cores). Use [[IndexConfig.auto]].
      */
    heavyDfThreshold: Long = 1L << 20,
    /** Target docs per salted sub-run of a heavy term. */
    saltRunDocs: Long = 1L << 20,
    /** Fraction of docs sampled for heavy-term (salt) detection. Salting
      * needs only approximate df; 1.0 = exact (tests), lower at scale.
      * Deterministic: fixed-seed sample.
      */
    dfSampleFraction: Double = 1.0,
    /** Resume granularity of the postings stage (BASELINE.json:6
      * "per-partition lineage manifests ... resumable from last committed
      * checkpoint"): the docId space is split into this many contiguous
      * slices, each inverted + encoded + committed independently; a kill
      * mid-postings loses at most ONE slice's work instead of the whole
      * stage. 1 = single-shot (fastest when the stage is small vs MTBF);
      * at 100 TB pick slices sized to ~minutes of work. Max 1024 (blockId
      * packs the slice in 10 bits).
      */
    resumeSlices: Int = 1,
    /** Chaos hook (tests): abort the build right after this slice commits,
      * simulating a mid-postings kill. -1 = never.
      */
    chaosFailAfterSlice: Int = -1,
    /** Physical partition count of the postings table on term: the table is
      * written with a `tbucket = crc32(term) % termBuckets` partition column,
      * so a query's term predicate eliminates partitions at the CATALOG
      * level (directory pruning) before any file statistics are consulted —
      * sturdier than row-group min/max stats under compaction, and the
      * natural Iceberg `bucket(term)` layout. Size so each bucket holds a
      * few files at the target scale.
      */
    termBuckets: Int = 32,
    /** First docId this build assigns (dense from here). Non-zero for DELTA
      * segments (graft.index.DeltaIndex): the delta's docIds continue where
      * the base segment's end, so segment docId ranges are disjoint and
      * bucket-range query sharding works over their union unchanged.
      */
    docIdBase: Long = 0L,
    /** Store per-occurrence token positions (phrase/positional queries).
      * Default ON — ES indexes positions for text fields by default, and a
      * user of the reference gets `match_phrase` on every text field without
      * opting in. Cost: ~1 byte per token occurrence of postings storage and
      * token-exchange payload; queries that don't use positions never read
      * them (parquet column pruning). Turn off for fields that will only
      * ever serve frequency queries (e.g. categorical tag fields).
      */
    storePositions: Boolean = true,
    /** Analyzer this index is built with (SURVEY.md §7.8): the pinned
      * tokenizer plus an optional stopword list. Written to an ANALYZER
      * sidecar at commit; readers use THAT analyzer for query compile and
      * refuse mixed-analyzer segment unions (ES mapping immutability).
      */
    analyzer: Analyzer = Analyzer.default,
    bm25: Bm25Params = Bm25.Default)

object IndexConfig {
  /** Scale-relative defaults: salt any term whose posting list exceeds one
    * partition's fair share of documents.
    */
  def auto(numDocsEstimate: Long, partitions: Int,
      dfSampleFraction: Double = 1.0): IndexConfig = {
    val share = math.max(1000L, numDocsEstimate / math.max(1, partitions))
    IndexConfig(partitions = partitions, heavyDfThreshold = share,
      saltRunDocs = share, dfSampleFraction = dfSampleFraction)
  }
}

/** The from-scratch SPIMI-style inverted-index build (SURVEY.md §2.3 B2–B6,
  * north_star BASELINE.json:6). Four resumable stages, each committed with a
  * lineage manifest:
  *
  *   registry   code_files -> docs            (deterministic docIds, dl, sha256)
  *   stats      docs       -> corpus_stats    (N, sumDl, avgDl)
  *   postings   docs       -> postings        (salted SPIMI invert + block encode)
  *   dictionary postings   -> dictionary      (exact df/cf + global maxImpact)
  *
  * Shuffle inventory (scale analysis): registry = 1 METADATA exchange (~100
  * bytes/doc — dl and sha256 are computed in a narrow map before the
  * shuffle); postings = 1 full-content exchange (the deterministic docId
  * re-assignment — the only time content crosses the wire) + 1 token
  * exchange (hash on (term, salt) — the explicit skew-handled exchange the
  * spec demands) plus one small aggregate for heavy-term detection;
  * stats/dictionary are partial-agg reductions. Content is shuffled exactly
  * once and stored exactly once (in the source table — the docs table keeps
  * a (repo, path, commit) locator, halving index storage vs round 1).
  */
object InvertedIndex {
  val DocsTable = "docs"
  val StatsTable = "corpus_stats"
  val PostingsTable = "postings"
  val DictTable = "dictionary"

  /** Declared schemas of the tables [[build]] writes — exactly what a
    * parquet read infers from the committed files (column order, types, all
    * nullable), so [[read]] plans without the footer-merge job schema
    * inference launches. The layout is pinned by [[FormatVersion]].
    */
  val DocsSchema: StructType = Tables.schemaOf[DocRow]
  val StatsSchema: StructType = Tables.schemaOf[CorpusStats]
  /** [[PostingBlock]]'s fields, then the `tbucket` partition column. */
  val PostingsSchema: StructType = Tables.schemaOf[PostingBlock].add("tbucket", IntegerType)
  /** [[buildDictionary]]'s output. */
  val DictSchema: StructType = new StructType()
    .add("term", StringType).add("df", LongType).add("cf", LongType)
    .add("maxTfn", DoubleType).add("maxTf", IntegerType).add("minDl", IntegerType)

  /** Scratch of a sliced postings build: one [[PostingBlock]] table per
    * slice plus the committed heavy-term salt map, under one geometry dir.
    */
  private val SlicesDir = "postings_slices"
  private val HeavyTermsTable = "heavy_terms"
  private val SliceSchema: StructType = Tables.schemaOf[PostingBlock]
  private val HeavyTermsSchema: StructType = new StructType()
    .add("term", StringType).add("salts", IntegerType)

  private def schemaFor(table: String): StructType = table match {
    case DocsTable => DocsSchema
    case StatsTable => StatsSchema
    case PostingsTable => PostingsSchema
    case DictTable => DictSchema
    case t if t.startsWith("lineage/") => Manifests.Schema
    case t if t.startsWith(s"$SlicesDir/") =>
      if (t.endsWith(s"/$HeavyTermsTable")) HeavyTermsSchema else SliceSchema
    case t => throw new IllegalArgumentException(
      s"'$t' is not a table the index writes — read it with Tables.read")
  }

  /** Read a table of the index (or a segment) at `dir` with its declared
    * schema: [[DocsTable]], [[StatsTable]], [[PostingsTable]], [[DictTable]],
    * a `lineage/<stage>` manifest, or sliced-build scratch.
    */
  def read(spark: SparkSession, dir: String, table: String): DataFrame =
    Tables.read(spark, dir, table, schemaFor(table))

  /** On-disk format version; bump on any postings/codec layout change. A
    * reader refuses indexes of another version instead of misdecoding
    * (codec payloads are tagged binary — an old index read with a new
    * decoder would be silent garbage). v4: term-bucket partitioned postings
    * + per-block/per-term (maxTf, minDl) impact material. v5: per-posting
    * position payloads (`pos` column + POSITIONS sidecar) and the
    * PLAN_GEOMETRY registry sidecar.
    */
  val FormatVersion = 5

  private def versionPath(indexDir: String) = new org.apache.hadoop.fs.Path(s"$indexDir/FORMAT_VERSION")

  /** Tiny text sidecars (FORMAT_VERSION, TERM_BUCKETS, POSITIONS,
    * PLAN_GEOMETRY) share ONE write/read ritual so the torn-file handling
    * lives in one place: the read loops to EOF (a single InputStream.read
    * is not guaranteed to fill the buffer) and maps empty/unreadable
    * content to None — every caller treats None as "rebuild it".
    */
  private def writeSidecar(spark: SparkSession, p: org.apache.hadoop.fs.Path, content: String): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(content.getBytes("UTF-8"))
    out.close()
  }

  private def readSidecar(spark: SparkSession, p: org.apache.hadoop.fs.Path): Option[String] = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val buf = new java.io.ByteArrayOutputStream()
    val b = new Array[Byte](256)
    var n = in.read(b)
    while (n > 0) { buf.write(b, 0, n); n = in.read(b) }
    in.close()
    val s = new String(buf.toByteArray, "UTF-8").trim
    if (s.isEmpty) None else Some(s)
  }

  /** The postings partition bucket of a term — MUST agree between the write
    * path (Catalyst `pmod(crc32(encode(term, 'UTF-8')), B)` in commitSorted)
    * and this driver-side form used at query compile (both are CRC-32 over
    * the term's UTF-8 bytes, mod B).
    */
  def termBucket(term: String, buckets: Int): Int = {
    val crc = new java.util.zip.CRC32()
    crc.update(term.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    (crc.getValue % buckets).toInt
  }

  private def termBucketsPath(indexDir: String) = new org.apache.hadoop.fs.Path(s"$indexDir/TERM_BUCKETS")

  private def writeTermBuckets(spark: SparkSession, indexDir: String, buckets: Int): Unit =
    writeSidecar(spark, termBucketsPath(indexDir), buckets.toString)

  /** Bucket count the postings table at `indexDir` was written with. */
  def readTermBuckets(spark: SparkSession, indexDir: String): Int = {
    val s = readSidecar(spark, termBucketsPath(indexDir))
    require(s.isDefined, s"index at $indexDir has a missing or torn TERM_BUCKETS sidecar — rebuild it")
    s.get.toInt
  }

  private def positionsPath(indexDir: String) = new org.apache.hadoop.fs.Path(s"$indexDir/POSITIONS")

  private def writePositionsFlag(spark: SparkSession, indexDir: String, stored: Boolean): Unit =
    writeSidecar(spark, positionsPath(indexDir), if (stored) "1" else "0")

  /** Whether the postings at `indexDir` carry position payloads. A phrase
    * query against a frequency-only index must fail loudly here — its `pos`
    * payloads are EMPTY, so without this check it would return zero matches
    * and look like a correct empty result.
    */
  def hasPositions(spark: SparkSession, indexDir: String): Boolean =
    readSidecar(spark, positionsPath(indexDir)).contains("1")

  private def analyzerPath(indexDir: String) = new org.apache.hadoop.fs.Path(s"$indexDir/ANALYZER")

  private def writeAnalyzer(spark: SparkSession, indexDir: String, a: Analyzer): Unit =
    writeSidecar(spark, analyzerPath(indexDir), a.serialized)

  /** The analyzer the index at `indexDir` was BUILT with — the only one its
    * readers may compile queries through. A missing sidecar means a
    * pre-analyzer-era index: those were all built with the default (the
    * sidecar write is unconditional from this version on), so absent =
    * default, NOT an error — the FORMAT_VERSION is unchanged because the
    * table layout is unchanged.
    */
  def readAnalyzer(spark: SparkSession, indexDir: String): Analyzer =
    readSidecar(spark, analyzerPath(indexDir)).map(Analyzer.parse).getOrElse(Analyzer.default)

  private def planGeometryPath(indexDir: String) = new org.apache.hadoop.fs.Path(s"$indexDir/PLAN_GEOMETRY")

  /** Persist the docId plan's geometry (partitions, idBase, total, key-set
    * fingerprint) next to the registry it was committed with. The postings
    * stage requires EQUALITY with its own recomputed plan: a resumed build
    * with a different cfg.partitions, or a delta retry with a different
    * same-count batch, recomputes a DIFFERENT assignment than the committed
    * registry and must fail loudly, not commit mispaired (docId, content)
    * postings.
    */
  private def writePlanGeometry(spark: SparkSession, indexDir: String, plan: DocIdPlan): Unit =
    writeSidecar(spark, planGeometryPath(indexDir),
      s"${plan.partitions};${plan.idBase};${plan.total};${plan.fingerprint}")

  /** (partitions, idBase, total, fingerprint) the registry stage committed
    * with, or None for a missing, torn, or malformed sidecar (all three
    * route to the caller's "rebuild it" diagnostic — a half-written
    * fingerprint must not parse into a spurious 'geometry drift' story).
    */
  def readPlanGeometry(spark: SparkSession, indexDir: String): Option[(Int, Long, Long, Long)] =
    readSidecar(spark, planGeometryPath(indexDir)).flatMap { s =>
      s.split(';') match {
        case Array(p, b, t, f) =>
          try Some((p.toInt, b.toLong, t.toLong, f.toLong))
          catch { case _: NumberFormatException => None }
        case _ => None
      }
    }

  def writeFormatVersion(spark: SparkSession, indexDir: String): Unit =
    writeSidecar(spark, versionPath(indexDir), FormatVersion.toString)

  def formatVersionOk(spark: SparkSession, indexDir: String): Boolean =
    readSidecar(spark, versionPath(indexDir)).contains(FormatVersion.toString)

  def assertFormatVersion(spark: SparkSession, indexDir: String): Unit =
    require(formatVersionOk(spark, indexDir),
      s"index at $indexDir has a different FORMAT_VERSION than this build ($FormatVersion) — rebuild it")

  /** The per-partition layout of one build's docId assignment: counts and
    * starting offsets per pid, computed by ONE keys-only scan
    * ([[docIdPlan]]) and shared by every stage and slice of the build (the
    * registry pass, each postings slice's pass, and the postings stage's
    * source-drift cross-check all consume the same plan — round 2 recomputed
    * it per call, one redundant keys-only scan per stage/slice).
    */
  final case class DocIdPlan(counts: Array[Long], offsets: Array[Long], idBase: Long,
      fingerprint: Long = 0L) {
    def partitions: Int = counts.length
    def total: Long = counts.sum
  }

  /** Compute the docId plan with ONE keys-only scan that also enforces the
    * (repo, path, commit) uniqueness precondition: the scan groups by the
    * full key first (any group of 2+ rows is a duplicate — two equal keys
    * would sort adjacently in a payload-dependent order in the independent
    * registry/postings passes, silently pairing one row's metadata with the
    * other's content — fail loudly instead), then reduces the key groups to
    * per-pid counts (a tiny partial aggregate). `idBase` offsets every
    * assigned docId — non-zero for delta segments.
    *
    * `fingerprint` is an order-independent digest of the KEY SET
    * (bit_xor of per-key xxhash64 — overflow-free, same estimator the
    * lineage manifests use): the registry stage persists it, and the
    * postings stage requires equality, so a resumed or delta-retried build
    * whose source keys changed — even with an EQUAL row count — fails
    * loudly instead of silently mispairing (docId, content).
    */
  def docIdPlan(spark: SparkSession, keysOnly: DataFrame, p: Int, idBase: Long = 0L): DocIdPlan = {
    val pidExpr = pmod(hash(col("repo"), col("path"), col("commit")), lit(p))
    val rows = keysOnly.select(col("repo"), col("path"), col("commit"))
      .groupBy("repo", "path", "commit").agg(count(lit(1)).as("c"))
      .groupBy(pidExpr.as("pid"))
      .agg(sum("c").as("c"), max("c").as("mx"),
        expr("bit_xor(xxhash64(repo, path, commit))").as("fp"))
      .collect()
    val counts = new Array[Long](p)
    var fp = 0L
    rows.foreach { r =>
      require(r.getLong(2) <= 1L,
        s"duplicate (repo, path, commit) key in the source table (pid=${r.getInt(0)}) — the key must be unique")
      counts(r.getInt(0)) = r.getLong(1)
      fp ^= r.getLong(3)
    }
    val offsets = new Array[Long](p)
    var acc = idBase
    var i = 0
    while (i < p) { offsets(i) = acc; acc += counts(i); i += 1 }
    DocIdPlan(counts, offsets, idBase, fp)
  }

  /** Deterministic, dense, partition-layout-independent docId assignment
    * (SURVEY.md §7.5) over ANY dataset carrying the (repo, path, commit) key
    * columns: pid = pmod(murmur3(repo,path,commit), P) — the exact partition
    * function `repartition(P, cols)` uses — gives a deterministic partition
    * for every row; pass A ([[docIdPlan]], computed once per build) counts
    * rows per pid over the key columns only; pass B re-shuffles `ds` the
    * same way, sorts each partition by key, and assigns
    * docId = offset(pid) + localIndex. No RDD, no global sort, no
    * monotonically_increasing_id. Because the assignment is a pure function
    * of (key set, P, idBase), the registry and postings stages call this
    * independently — on different payloads — and get IDENTICAL ids, which is
    * what lets the docs table drop content.
    *
    * `pidRange` = Some((lo, hi)) restricts processing to partitions
    * [lo, hi) while keeping the GLOBAL offsets (the plan always covers the
    * full key set): a caller can pre-filter `ds` to the same pid range
    * (a narrow predicate — no shuffle of excluded rows) and process one
    * contiguous docId slice of the corpus. This is what makes the postings
    * build resumable per slice, not just per stage.
    */
  def withDocIds[T, U: org.apache.spark.sql.Encoder](spark: SparkSession, ds: Dataset[T],
      plan: DocIdPlan, pidRange: Option[(Int, Int)] = None)
      (emit: (Long, T) => U): Dataset[U] = {
    val keyCols = Seq(col("repo"), col("path"), col("commit"))
    val p = plan.partitions
    val offsetsB = spark.sparkContext.broadcast(plan.offsets)
    val countsB = spark.sparkContext.broadcast(plan.counts)
    val (rLo, rHi) = pidRange.getOrElse((0, p))

    ds.repartition(p, keyCols: _*)
      .sortWithinPartitions("repo", "path", "commit")
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        val inRange = pid >= rLo && pid < rHi
        var nextId = offsetsB.value(pid)
        val expectedEnd = offsetsB.value(pid) + (if (inRange) countsB.value(pid) else 0L)
        new Iterator[U] {
          def hasNext: Boolean = {
            val h = it.hasNext
            if (!h) require(nextId == expectedEnd,
              s"docId assignment drift in pid=$pid: got ${nextId - offsetsB.value(pid)} rows, expected ${countsB.value(pid)}")
            h
          }
          def next(): U = {
            val t = it.next()
            val id = nextId
            nextId += 1
            emit(id, t)
          }
        }
      }
  }

  /** Registry build: dl + sha256 computed in a narrow map BEFORE the docId
    * exchange, so the one registry shuffle moves metadata, never content.
    * The key-uniqueness precondition is enforced by the shared [[docIdPlan]]
    * (one keys-only scan on behalf of every pass of the build).
    */
  def buildRegistry(spark: SparkSession, src: Dataset[CodeFile], cfg: IndexConfig,
      plan: DocIdPlan): Dataset[DocRow] = {
    import spark.implicits._
    val az = cfg.analyzer
    val slim = src.map(f => DocMeta(f.repo, f.path, f.commit, f.lang,
      CodeTokenizer.countTokens(f.content, az), graft.fixtures.CorpusGen.sha256Hex(f.content)))
    withDocIds(spark, slim, plan) { (id, m) =>
      DocRow(id, m.repo, m.path, m.commit, m.lang, m.dl, m.sha256)
    }
  }

  def buildRegistry(spark: SparkSession, src: Dataset[CodeFile], cfg: IndexConfig): Dataset[DocRow] =
    buildRegistry(spark, src, cfg, docIdPlan(spark, src.toDF(), cfg.partitions, cfg.docIdBase))

  /** SPIMI invert + block encode, straight from the SOURCE table (the docs
    * table no longer stores content): (docId, content) pairs come from the
    * same deterministic assignment the registry used ([[withDocIds]]), so
    * the whole build moves content through exactly ONE exchange — this
    * stage's token shuffle. The per-document tf map needs no shuffle (a
    * document is one row); heavy terms are pre-split by docId RANGE so
    * salted runs concatenate in docId order and need no second merge pass
    * (the blockId encodes (salt, position), monotone in docId).
    */
  def buildPostings(spark: SparkSession, src: Dataset[CodeFile], stats: CorpusStats,
      cfg: IndexConfig): Dataset[PostingBlock] =
    buildPostingsSlice(spark, src, stats, cfg, heavyTerms(spark, src, cfg), 0, 1,
      docIdPlan(spark, src.toDF(), cfg.partitions, cfg.docIdBase))

  /** Salting plan: the heavy-term map from ONE deterministic sampled narrow
    * scan of the source — term counts need no docIds. (An earlier design
    * also derived token-mass quantile boundaries here and exchanged on an
    * explicit bucket column; the cumulative sum over the vocabulary ran as a
    * single-partition Window — a serial stage that dies at code-corpus
    * vocabulary sizes. It was never needed: the token exchange
    * hash-partitions on (term, salt), and salting already bounds every
    * (term, salt) group to ~saltRunDocs rows, so uniform hashing balances
    * partitions at any scale with zero extra passes and no driver-side
    * boundary state.)
    */
  def heavyTerms(spark: SparkSession, src: Dataset[CodeFile], cfg: IndexConfig): Map[String, Int] = {
    import spark.implicits._
    val dfSource = if (cfg.dfSampleFraction >= 1.0) src else src.sample(withReplacement = false, cfg.dfSampleFraction, 42L)
    val scale = 1.0 / math.min(1.0, cfg.dfSampleFraction)
    dfSource
      .flatMap(f => CodeTokenizer.tfCount(f.content, cfg.analyzer).iterator.map(_._1))
      .groupBy("value").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") * scale > cfg.heavyDfThreshold)
      .collect()
      .map { r =>
        val df = (r.getLong(1) * scale).toLong
        val saltCount = math.max(2L, (df + cfg.saltRunDocs - 1) / cfg.saltRunDocs)
        r.getString(0) -> math.min(saltCount, Int.MaxValue.toLong).toInt
      }.toMap
  }

  /** One docId-contiguous slice of the postings build (slice = a range of
    * registry pids, which IS a docId range because docIds are
    * offset(pid) + local). The pre-shuffle pid predicate prunes excluded
    * rows at the source scan, so slice cost is proportional to slice size.
    * blockId packs (salt, slice, localBlock): slices of one (term, salt)
    * run cover ascending docId ranges in slice order, so blockId stays
    * monotone in docId and the slices' block lists concatenate with no
    * merge pass — exactly the salting trick, one level down.
    */
  def buildPostingsSlice(spark: SparkSession, src: Dataset[CodeFile], stats: CorpusStats,
      cfg: IndexConfig, heavy: Map[String, Int], sliceIdx: Int, nSlices: Int,
      plan: DocIdPlan): Dataset[PostingBlock] = {
    import spark.implicits._
    require(nSlices >= 1 && nSlices <= 1024, s"nSlices must be in [1, 1024], got $nSlices")
    require(sliceIdx >= 0 && sliceIdx < nSlices, s"sliceIdx $sliceIdx out of [0, $nSlices)")
    // Source-drift cross-check (cheap — the plan is already computed): the
    // registry's docId pass and this pass pair (docId, content) through the
    // same deterministic assignment, which is only sound if they saw the
    // SAME key set. On a resumed build (registry stage skipped) or a direct
    // call against a source that changed after the registry committed, the
    // key count diverges from the committed stats — fail loudly.
    require(plan.total == stats.numDocs,
      s"source table has ${plan.total} keyed rows but the committed registry/stats say ${stats.numDocs} — " +
        "the source changed since the registry stage committed; rebuild from scratch")

    val parts = cfg.partitions
    val pidLo = (sliceIdx.toLong * parts / nSlices).toInt
    val pidHi = ((sliceIdx + 1).toLong * parts / nSlices).toInt
    val sliced =
      if (nSlices <= 1) src
      else {
        val pidExpr = pmod(hash(col("repo"), col("path"), col("commit")), lit(parts))
        src.where(pidExpr >= pidLo && pidExpr < pidHi)
      }
    val pidRange = if (nSlices <= 1) None else Some((pidLo, pidHi))

    val heavyB = spark.sparkContext.broadcast(heavy)
    val numDocs = math.max(1L, stats.numDocs)
    val idBase = cfg.docIdBase
    val avgDl = stats.avgDl
    val p = cfg.bm25
    val blockSize = cfg.blockSize
    val sliceL = sliceIdx.toLong

    val storePos = cfg.storePositions
    val az = cfg.analyzer
    val salted = withDocIds(spark, sliced, plan, pidRange)((id, f) => (id, f.content))
      .flatMap { case (docId, content) =>
        val h = heavyB.value
        @inline def saltOf(t: String): Int = h.get(t) match {
          // docId-range bucket, monotone; ranged over THIS segment's dense
          // id span [idBase, idBase + numDocs)
          case Some(n) => math.min(n - 1L, (docId - idBase) * n / numDocs).toInt
          case None => 0
        }
        if (storePos) {
          // positions arrive already VByte-encoded from the counter — the
          // payload is final here and merely concatenates downstream
          val m = CodeTokenizer.tfPos(content, az)
          val dl = m.dl
          m.iterator.map { case (t, tf, pos) => TermPosting(t, saltOf(t), docId, tf, dl, pos) }
        } else {
          val m = CodeTokenizer.tfCount(content, az)
          val dl = m.dl
          m.iterator.map { case (t, tf) =>
            TermPosting(t, saltOf(t), docId, tf, dl, Array.emptyByteArray)
          }
        }
      }

    // The single token exchange: hash on (term, salt). Every (term, salt)
    // group lands whole in one partition (so the in-partition sort yields
    // complete, contiguous runs for the block encoder) and no group exceeds
    // ~saltRunDocs rows, so expected partition load is uniform. Block
    // contents depend only on the (term, salt) run contents — identical
    // under any partition count (byte-identical-rebuild gate).
    // The encode pass consumes the sort output at the InternalRow level
    // (queryExecution.toRdd) instead of deserializing 10^8-scale TermPosting
    // objects: per row it reads 4 primitives and a zero-copy UTF8String view
    // — the reduce side of the token exchange allocates one small object per
    // ROW VIEW and one term copy per RUN, not 3+ objects per posting.
    // Measured motivation: GC was ~60 s of an ~87 s token exchange at 2M
    // docs x 32 threads. This is the one deliberate drop below the typed
    // Dataset API in the engine (allowed when forced — the alternative is
    // per-posting serde), and its output is byte-identical to the typed
    // encoder it replaced (rebuild-fingerprint gate).
    val sorted = salted
      .repartition(cfg.partitions, $"term", $"salt")
      .sortWithinPartitions($"term", $"salt", $"docId")
      .toDF() // columns: term(0), salt(1), docId(2), tf(3), dl(4), pos(5)
    val blocksRdd = sorted.queryExecution.toRdd.mapPartitions { rows =>
      new Iterator[PostingBlock] {
        private val ids = new Array[Long](blockSize)
        private val tfs = new Array[Int](blockSize)
        private val dls = new Array[Int](blockSize)
        private val poss = new Array[Array[Byte]](blockSize)
        private var curTerm: org.apache.spark.unsafe.types.UTF8String = null
        private var curTermStr: String = null
        private var curSalt = -1
        private var localBlock = 0L
        // the sorter reuses its row buffer, so the row that opens the NEXT
        // run (or block) is stashed as copied values, never held as a row
        private var carried = false
        private var cTerm: org.apache.spark.unsafe.types.UTF8String = null
        private var cSalt = 0
        private var cDoc = 0L
        private var cTf = 0
        private var cDl = 0
        private var cPos: Array[Byte] = null
        private def stash(r: org.apache.spark.sql.catalyst.InternalRow): Unit = {
          cTerm = r.getUTF8String(0).clone()
          cSalt = r.getInt(1); cDoc = r.getLong(2); cTf = r.getInt(3); cDl = r.getInt(4)
          cPos = r.getBinary(5) // UnsafeRow.getBinary copies — safe to retain
        }
        def hasNext: Boolean = carried || rows.hasNext
        def next(): PostingBlock = {
          if (!carried) stash(rows.next())
          carried = false
          if (curTerm == null || cSalt != curSalt || !cTerm.equals(curTerm)) {
            curTerm = cTerm; curTermStr = curTerm.toString; curSalt = cSalt; localBlock = 0L
          }
          ids(0) = cDoc; tfs(0) = cTf; dls(0) = cDl; poss(0) = cPos
          var n = 1
          var tfSum = cTf.toLong
          var maxTfn = Bm25.tfNorm(cTf.toLong, cDl.toLong, avgDl, p)
          var maxTf = cTf
          var minDl = cDl
          var posBytes = cPos.length
          var open = true
          while (open && n < blockSize && rows.hasNext) {
            val r = rows.next()
            val s = r.getInt(1)
            if (s == curSalt && r.getUTF8String(0).equals(curTerm)) {
              val tf = r.getInt(3); val dl = r.getInt(4)
              ids(n) = r.getLong(2); tfs(n) = tf; dls(n) = dl
              val pb = r.getBinary(5)
              poss(n) = pb
              posBytes += pb.length
              tfSum += tf
              val tfn = Bm25.tfNorm(tf.toLong, dl.toLong, avgDl, p)
              if (tfn > maxTfn) maxTfn = tfn
              if (tf > maxTf) maxTf = tf
              if (dl < minDl) minDl = dl
              n += 1
            } else { stash(r); carried = true; open = false }
          }
          val blockIds = java.util.Arrays.copyOf(ids, n)
          val blockTfs = java.util.Arrays.copyOf(tfs, n)
          val blockDls = java.util.Arrays.copyOf(dls, n)
          // per-posting position streams concatenate in docId order — the
          // payloads are already encoded, so the block's pos column is a
          // straight byte copy (no re-encode at the block level)
          val blockPos = new Array[Byte](posBytes)
          var off = 0
          var pi = 0
          while (pi < n) {
            System.arraycopy(poss(pi), 0, blockPos, off, poss(pi).length)
            off += poss(pi).length
            pi += 1
          }
          // blockId = salt(31b) | slice(10b) | localBlock(22b): ascending
          // blockId == ascending docId within a term (salt buckets, then
          // slices, then positions are all docId-monotone)
          require(localBlock < (1L << 22),
            s"(term=$curTermStr, salt=$curSalt, slice=$sliceL) exceeds 2^22 blocks — raise IndexConfig.saltRunDocs granularity")
          val b = PostingBlock(curTermStr, (curSalt.toLong << 32) | (sliceL << 22) | localBlock,
            blockIds(0), blockIds(n - 1), n, tfSum, maxTfn, maxTf, minDl,
            PostingsCodec.encodeDocIds(blockIds), PostingsCodec.encodeTfs(blockTfs),
            PostingsCodec.encodeDls(blockDls), blockPos)
          localBlock += 1
          b
        }
      }
    }
    spark.createDataset(blocksRdd)
  }

  /** Exact df/cf + the global WAND bound material, derived from committed
    * postings — no extra pass over the corpus (SURVEY.md §2.3 B11: exact,
    * never approximate, rank-identity forbids it). The dictionary stores the
    * BOUND MATERIAL (maxTfn exact under this segment's build avgdl;
    * (maxTf, minDl) valid under any avgdl) rather than a finished maxImpact:
    * idf — and therefore the impact — is a function of the SERVING stats,
    * which change when delta segments join the base (df and N merge at query
    * compile, see IndexReader.termMeta).
    */
  def buildDictionary(spark: SparkSession, postings: DataFrame, stats: CorpusStats): DataFrame =
    postings.groupBy("term")
      .agg(sum("count").as("df"), sum("tfSum").as("cf"), max("blockMaxTfn").as("maxTfn"),
        max("maxTf").as("maxTf"), min("minDl").as("minDl"))
      .select("term", "df", "cf", "maxTfn", "maxTf", "minDl")

  final case class BuildReport(results: Seq[Manifests.StageResult], numDocs: Long)

  /** Full resumable build. Re-running after a kill skips every stage whose
    * manifest committed (Manifests.runStage).
    */
  def build(spark: SparkSession, src: Dataset[CodeFile], indexDir: String,
      cfg: IndexConfig = IndexConfig(), runId: String = "run"): BuildReport = {
    import spark.implicits._
    val results = Seq.newBuilder[Manifests.StageResult]

    // A committed index of a DIFFERENT format version must not be silently
    // "resumed": all its stage manifests are complete, so every stage below
    // would be skipped and build() would return success while the index
    // keeps the old layout — the failure then surfaces later, at read time,
    // as a confusing schema error. Wipe and rebuild instead. (A directory
    // with manifests but NO version file is an in-flight build of THIS
    // version — the final stage stamps the version — and resumes normally.)
    {
      val root = new org.apache.hadoop.fs.Path(indexDir)
      val rfs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (rfs.exists(versionPath(indexDir)) && !formatVersionOk(spark, indexDir)) {
        // loud, not silent: a caller pointing a build at a valuable
        // old-format index should see the destruction in the log (every
        // other mismatch path in this file fails with a "rebuild it"
        // diagnostic; this one deliberately proceeds, because an old-format
        // CACHE dir must self-heal — but it says so first)
        System.err.println(
          s"[graft] index at $indexDir has a different FORMAT_VERSION than this build " +
            s"($FormatVersion) — wiping and rebuilding it")
        rfs.delete(root, true)
        ()
      }
    }

    // ONE keys-only scan per build serves the uniqueness check, the registry
    // pass, every postings slice's pass, and the postings-stage source-drift
    // cross-check. Lazy: a fully-resumed build (all stages committed) never
    // pays for it.
    lazy val plan = docIdPlan(spark, src.toDF(), cfg.partitions, cfg.docIdBase)

    // The heavy-term sampling pass is independent of the registry/stats
    // stages (it scans the SOURCE, no docIds involved) — start it on a
    // side thread so its full-corpus tokenize overlaps their serial driver
    // phases (optimization guide §2.6), and await it where the postings
    // stage needs it. Only armed when the single-shot postings stage will
    // actually run: the sliced-resume path has its own committed heavy-term
    // table with partition-layout-pinning semantics (below) and is left
    // untouched.
    val heavyGroup = s"graft-heavy-$runId-${indexDir.hashCode}"
    val heavyF: Option[java.util.concurrent.Future[Map[String, Int]]] =
      if (cfg.resumeSlices <= 1 && !Manifests.isComplete(spark, indexDir, "postings")) {
        val ex = java.util.concurrent.Executors.newSingleThreadExecutor()
        try Some(ex.submit(new java.util.concurrent.Callable[Map[String, Int]] {
          def call(): Map[String, Int] = {
            // job group (thread-local) so a failed build can cancel the
            // in-flight sampling jobs, not just interrupt the thread
            spark.sparkContext.setJobGroup(heavyGroup, "heavy-term sampling")
            try heavyTerms(spark, src, cfg)
            finally spark.sparkContext.clearJobGroup()
          }
        })) finally { ex.shutdown(); () }
      } else None
    try {

    results += Manifests.runStage(spark, indexDir, "registry", runId, Seq(DocsTable)) {
      val docs = buildRegistry(spark, src, cfg, plan)
      Tables.write(docs.toDF(), indexDir, DocsTable)
      // geometry sidecar INSIDE the stage body (same rationale as
      // TERM_BUCKETS): it describes the assignment these docs were written
      // with; a resumed build that skips the stage must never restamp it.
      writePlanGeometry(spark, indexDir, plan)
      // input rows = the plan's total (already computed; withDocIds asserts
      // per-pid counts during the write, and the manifest commit re-counts
      // the output per file — a third read-back count added nothing)
      plan.total
    }

    // the stats this run wrote; a resumed build that skipped the stage
    // reads the committed row instead
    var wroteStats: Option[CorpusStats] = None
    results += Manifests.runStage(spark, indexDir, "stats", runId, Seq(StatsTable)) {
      val agg = read(spark, indexDir, DocsTable)
        .agg(count(lit(1)).as("numDocs"), sum("dl").as("sumDl")).collect()(0)
      // sum over zero rows is NULL, not 0 — an empty corpus is a legal
      // (if degenerate) build and must commit stats, not crash
      val n = agg.getLong(0); val sumDl = if (agg.isNullAt(1)) 0L else agg.getLong(1)
      val stats = CorpusStats(n, sumDl, if (n == 0) 0.0 else sumDl.toDouble / n)
      Tables.write(Seq(stats).toDF(), indexDir, StatsTable)
      wroteStats = Some(stats)
      n
    }

    val stats = wroteStats.getOrElse(readStats(spark, indexDir))

    // The "merge into globally sorted postings" step (BASELINE.json:6) over
    // the COMPACT encoded block rows (~2 orders of magnitude smaller than
    // the token stream). v4 layout: a physical `tbucket = crc32(term) % B`
    // partition column — query-term pruning becomes CATALOG-level partition
    // elimination (directory pruning) instead of riding only on per-file
    // min/max term stats; ranging by (tbucket, term, blockId) keeps each
    // bucket's files term-sorted, so row-group stats still prune WITHIN a
    // bucket.
    def commitSorted(blocks: DataFrame): Unit = {
      val bucketed = blocks.withColumn("tbucket",
        pmod(crc32(encode(col("term"), "UTF-8")), lit(cfg.termBuckets)).cast("int"))
      // emptiness probed on the INPUT (a limit-1 over the persisted blocks
      // or committed slice parquet — no range sampling): an all-separator
      // corpus legally produces zero postings even with numDocs > 0, and a
      // zero-row partitionBy write would leave a schema-less table; the
      // plain write keeps the schema with tbucket as an ordinary column
      if (blocks.isEmpty) Tables.write(bucketed, indexDir, PostingsTable)
      else Tables.writePartitioned(
        bucketed.repartitionByRange(cfg.partitions, col("tbucket"), col("term"), col("blockId"))
          .sortWithinPartitions("tbucket", "term", "blockId"),
        indexDir, PostingsTable, Seq("tbucket"))
    }

    val sliceResults = Seq.newBuilder[Manifests.StageResult]
    results += Manifests.runStage(spark, indexDir, "postings", runId, Seq(PostingsTable)) {
      // Geometry cross-check: the committed registry's docId assignment and
      // this stage's recomputed plan must agree on partitions, idBase, AND
      // the key-set fingerprint — a row-count match alone would let a
      // resumed build with different cfg.partitions (or an equal-count but
      // different key set) silently mispair (docId, content) postings.
      readPlanGeometry(spark, indexDir) match {
        case Some(g) =>
          require(g == ((plan.partitions, plan.idBase, plan.total, plan.fingerprint)),
            s"postings stage geometry drift for $indexDir: committed registry has " +
              s"(partitions, idBase, total, keyFp) = $g but this build computes " +
              s"(${plan.partitions}, ${plan.idBase}, ${plan.total}, ${plan.fingerprint}) — " +
              "the source keys or the build geometry changed since the registry committed; rebuild from scratch")
        case None => require(false,
          s"index at $indexDir has a committed registry but no PLAN_GEOMETRY sidecar — rebuild it")
      }
      if (cfg.resumeSlices <= 1) {
        val blocks = buildPostingsSlice(spark, src, stats, cfg,
          heavyF.map(_.get()).getOrElse(heavyTerms(spark, src, cfg)), 0, 1, plan)
        // Persist so the range partitioner's sampling pass reads encoded
        // blocks, not a recompute of the whole tokenize+shuffle pipeline.
        blocks.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        try commitSorted(blocks.toDF()) finally blocks.unpersist()
      } else {
        // Per-slice resume: each docId slice is inverted, encoded, and
        // committed under its own manifest; re-running after a kill skips
        // every committed slice and recomputes only the one in flight.
        // Slice names and paths carry the GEOMETRY (i of s, and the
        // partition count the pid ranges derive from): resuming with a
        // different resumeSlices/partitions cannot silently mix slices of
        // incompatible pid coverage — old-geometry scratch is simply
        // ignored and cleaned with the rest.
        val s = cfg.resumeSlices
        val geom = s"p${cfg.partitions}n$s"
        // The heavy-term salt map is committed (geometry-keyed, next to the
        // slice scratch) when the FIRST slice is built and reloaded on
        // resume: with dfSampleFraction < 1 the seeded sample is partition-
        // layout-sensitive, so recomputing on resume could assign a term a
        // DIFFERENT salt count than already-committed slices — and salt
        // occupies the top blockId bits, so mixed salting would silently
        // break the blockId-monotone-in-docId invariant BMW iterates by.
        val heavyTable = s"$SlicesDir/$geom/$HeavyTermsTable"
        val heavyStage = s"postings_heavy_$geom"
        val heavy: Map[String, Int] =
          if (Manifests.isComplete(spark, indexDir, heavyStage))
            read(spark, indexDir, heavyTable).select("term", "salts")
              .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
          else {
            val h = heavyTerms(spark, src, cfg)
            sliceResults += Manifests.runStage(spark, indexDir, heavyStage, runId, Seq(heavyTable)) {
              Tables.write(h.toSeq.toDF("term", "salts"), indexDir, heavyTable)
              h.size.toLong
            }
            h
          }
        for (i <- 0 until s) {
          val table = s"$SlicesDir/$geom/s$i"
          sliceResults += Manifests.runStage(spark, indexDir, s"postings_slice_${geom}_$i", runId, Seq(table)) {
            val blocks = buildPostingsSlice(spark, src, stats, cfg, heavy, i, s, plan)
            Tables.write(blocks.toDF(), indexDir, table)
            read(spark, indexDir, table).count()
          }
          if (cfg.chaosFailAfterSlice == i)
            throw new RuntimeException(s"chaos: injected kill after postings slice $i")
        }
        // the merge reads the committed slice parquet — already compact —
        // as ONE scan over every slice's files
        val all = spark.read.schema(SliceSchema).parquet(
          (0 until s).map(i => Tables.tablePath(indexDir, s"$SlicesDir/$geom/s$i")): _*)
        commitSorted(all)
      }
      // sidecars written INSIDE the stage body: they describe the layout this
      // stage just wrote. A resumed build that SKIPS the stage must never
      // restamp them from its own (possibly different) cfg — readers
      // would prune scans by a bucket function the files were not written
      // with (silently losing every mis-routed term), or serve a phrase
      // query against postings whose pos payloads were never stored.
      writeTermBuckets(spark, indexDir, cfg.termBuckets)
      writePositionsFlag(spark, indexDir, cfg.storePositions)
      writeAnalyzer(spark, indexDir, cfg.analyzer)
      stats.numDocs
    }
    results ++= sliceResults.result()
    // Slice scratch is only needed until the merged postings commit; clean
    // it AFTER the stage manifest (a kill in between re-runs from the
    // still-committed slices, never from scratch). runStage has returned,
    // so the postings manifest is committed. Manifests are swept for
    // EVERY geometry — matching the scratch deletion — so a later build
    // under some old geometry can never find a 'committed' slice manifest
    // whose data is gone.
    Tables.delete(spark, indexDir, SlicesDir)
    val lineage = new org.apache.hadoop.fs.Path(s"$indexDir/lineage")
    val lfs = lineage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (lfs.exists(lineage)) lfs.listStatus(lineage).foreach { st =>
      val nm = st.getPath.getName
      if (nm.startsWith("postings_slice_") || nm.startsWith("postings_heavy_"))
        lfs.delete(st.getPath, true)
    }

    results += Manifests.runStage(spark, indexDir, "dictionary", runId, Seq(DictTable)) {
      val postings = read(spark, indexDir, PostingsTable)
      val dict = buildDictionary(spark, postings, stats)
        .repartitionByRange(cfg.partitions, col("term"))
        .sortWithinPartitions("term")
      Tables.write(dict, indexDir, DictTable)
      // version stamped inside the final stage body, same rationale as the
      // TERM_BUCKETS sidecar: a fully-skipped resume over an OLD-version
      // index must not stamp the new version over old-layout tables
      writeFormatVersion(spark, indexDir)
      stats.numDocs
    }

    BuildReport(results.result(), stats.numDocs)
    } finally {
      // a stage failure must not orphan the heavy-term sampling work: cancel
      // the future AND its Spark jobs (no-ops after a successful get())
      heavyF.foreach { f =>
        if (!f.isDone) { f.cancel(true); spark.sparkContext.cancelJobGroup(heavyGroup) }
        ()
      }
    }
  }

  def readStats(spark: SparkSession, indexDir: String): CorpusStats =
    readStats(spark, Seq(indexDir)).head

  /** The stats rows of every segment dir in `dirs`, in order, from ONE job. */
  def readStats(spark: SparkSession, dirs: Seq[String]): Seq[CorpusStats] = {
    val rows = dirs.zipWithIndex.map { case (d, i) =>
      read(spark, d, StatsTable).select(lit(i).as("i"), col("numDocs"), col("sumDl"), col("avgDl"))
    }.reduce(_ unionByName _).collect()
    rows.sortBy(_.getInt(0)).map(r => CorpusStats(r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
  }
}
