package graft.query

import graft.codec.PostingsCodec
import graft.index.{CorpusStats, DeltaIndex, InvertedIndex, PostingBlock}
import graft.tokenize.CodeTokenizer
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator

/** Query entry points over a built index (SURVEY.md §2.3 B8–B10, §3.3).
  *
  * The `match`-query compile path mirrors ES's two-phase query exactly:
  * tokenize the query with the same analyzer; broadcast the tiny per-term
  * stats (df, idf, maxImpact — the FST lookup); scan ONLY the query terms'
  * postings (two pruning levels: the `tbucket` partition predicate
  * eliminates postings directories at the catalog, and the term predicate's
  * min/max row-group stats prune within a bucket's term-sorted files);
  * per-bucket scoring (= per-shard); one global TakeOrderedAndProject merge
  * (= coordinator merge). A query whose query-term postings are small
  * skips the bucketing (see `singleBucket`): a top-k query collects its
  * blocks in one job and scores them on the driver as a single bucket
  * (`topKHits`), and a positional, batch or membership frame scores them
  * in one narrow partition with no exchange (`bucketedBlocks`,
  * `membershipCounts`).
  *
  * A reader serves the BASE SEGMENT plus every delta segment committed under
  * `<indexDir>/deltas/` (graft.index.DeltaIndex) as ONE logical index —
  * Lucene's segmented-index model. Per-term df/cf merge at query compile
  * (the per-query dictionary lookup is tiny); N/avgdl merge from the
  * segments' stats tables; segment docId ranges are disjoint by construction
  * (delta builds set docIdBase past the end), so the docId-range bucketing
  * and every downstream path work over the union unchanged. Block-max
  * bounds: a segment's stored blockMaxTfn is exact only under the avgdl it
  * was BUILT with, so in composite mode every block's bound is recomputed
  * from the stats-independent (maxTf, minDl) impact material — valid
  * (slightly looser) under the merged avgdl; single-segment mode keeps the
  * exact stored bound.
  *
  * The term dictionary's first phase (point lookups and the fuzzy /
  * prefix / wildcard / regexp expansions) is served on the driver from one
  * resident copy of the merged dictionary while the segments' dictionary
  * files stay under `ResidentDictMaxBytes` (see [[resident]]); above it
  * every lookup and expansion runs as a dictionary scan.
  */
final class IndexReader private (spark: SparkSession, indexDir: String,
    p: Bm25Params, pinnedSegments: Option[Seq[String]],
    residentMaxBytes: Long, groupedBuckets: Int) extends Serializable {
  import spark.implicits._

  def this(spark: SparkSession, indexDir: String, p: Bm25Params = Bm25.Default,
      pinnedSegments: Option[Seq[String]] = None) =
    this(spark, indexDir, p, pinnedSegments, IndexReader.ResidentDictMaxBytes, groupedBuckets = 0)

  /** A reader over exactly these segments that never holds the resident
    * dictionary: every lookup and expansion takes the scan form whatever
    * the dictionary's size — the form readers over larger dictionaries
    * serve, for tests that compare the two.
    */
  private[graft] def scanForm: IndexReader =
    new IndexReader(spark, indexDir, p, Some(segments), residentMaxBytes = -1L, groupedBuckets)

  /** A reader over exactly these segments that takes the plan an index
    * takes above every small-scan gate, for tests that compare the plans
    * and for `Scaling`: [[singleBucket]] answers false (so top-k, the
    * positional and batch frames and the membership counts all bucket by
    * docId), queries bucket into `buckets` docId ranges, and
    * [[searchBmwBatch]] merges through its distributed exchange.
    */
  private[graft] def groupedForm(buckets: Int): IndexReader = {
    require(buckets >= 1, s"groupedForm needs buckets >= 1, got $buckets")
    new IndexReader(spark, indexDir, p, Some(segments), residentMaxBytes, buckets)
  }

  /** Base + committed delta segments, each a full index directory. When
    * `pinnedSegments` is given (ES point-in-time: the segment manifest
    * captured at PIT open), the reader serves EXACTLY that committed state
    * regardless of later delta commits — valid with zero data copy because
    * committed segments are immutable (a delta commit only ADDS segment
    * dirs; nothing rewrites an existing one), the same immutability
    * argument Lucene's PIT rests on. Every stat below (N, avgdl, df) then
    * derives from the pinned list, so PIT scores are bit-stable too.
    */
  val segments: Seq[String] =
    pinnedSegments.getOrElse(DeltaIndex.segmentDirs(spark, indexDir))

  // Version check at CONSTRUCTION, not lazily inside stats: termMeta reads
  // version-specific dictionary columns before anything forces stats, so a
  // reader pointed at an old-format index would otherwise die with a
  // confusing missing-column AnalysisException instead of this diagnostic.
  segments.foreach(InvertedIndex.assertFormatVersion(spark, _))

  /** Single-segment readers use the exact stored block bounds; composite
    * readers recompute bounds under the merged avgdl.
    */
  private val exactStats: Boolean = segments.size == 1

  lazy val stats: CorpusStats = {
    // one job for all segments' stats rows (r07; was one per segment) —
    // the sums are order-independent, so the merge is unchanged
    val rows = InvertedIndex.readStats(spark, segments)
    val n = rows.iterator.map(_.numDocs).sum
    val sumDl = rows.iterator.map(_.sumDl).sum
    CorpusStats(n, sumDl, if (n == 0) 0.0 else sumDl.toDouble / n)
  }

  private lazy val segBuckets: Seq[Int] =
    segments.map(InvertedIndex.readTermBuckets(spark, _))

  // immutable once a segment commits — read once per reader, not per query
  private lazy val segHasPositions: Seq[Boolean] =
    segments.map(InvertedIndex.hasPositions(spark, _))

  /** The analyzer every segment of this index was BUILT with — queries are
    * compiled through it (SURVEY.md §7.8). Segments must agree: a
    * mixed-analyzer union has no consistent token stream to answer with
    * (DeltaIndex.addDocuments enforces this at write time; this read-side
    * check makes an externally-assembled mismatch loud too).
    */
  lazy val analyzer: graft.tokenize.Analyzer = {
    val as = segments.map(InvertedIndex.readAnalyzer(spark, _)).distinct
    require(as.size == 1,
      s"segments of $indexDir disagree on the built analyzer " +
        s"(${as.map(_.serialized).mkString(" vs ")}) — rebuild to unify")
    as.head
  }

  // registered once per reader for BMW skip-evidence (BASELINE.md rule 4)
  val decodedBlocksAcc: LongAccumulator = spark.sparkContext.longAccumulator("graft.bmw.decodedBlocks")
  val skippedBlocksAcc: LongAccumulator = spark.sparkContext.longAccumulator("graft.bmw.skippedBlocks")
  val scoredDocsAcc: LongAccumulator = spark.sparkContext.longAccumulator("graft.bmw.scoredDocs")

  // Capped dictionary expansions (fuzzy, prefix, wildcard, regexp and
  // matchPrefixDf's bounded probe), keyed by (kind, pattern, cap, params):
  // each is a pure function of its key over this reader's segment set,
  // which is FIXED for the reader's lifetime (a delta commit is served by a
  // new reader), so a repeated expansion runs no job. None = the probe
  // found more than cap terms. @transient: driver-side cache, never
  // shipped. BOUNDED: readers are cached process-wide
  // (DocumentsIndex.memo), so a serving process answering arbitrary user
  // patterns would otherwise grow this map forever — at the cap the map
  // resets wholesale (hot patterns re-memoize within one expansion; an LRU
  // would buy little over that here).
  private val ExpansionMemoMax = 4096
  @transient private lazy val expansionMemo =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, List[Any]), Option[Array[String]]]()

  /** The memoized `expand` under (kind, pattern, cap, params). A throwing
    * `expand` (a rejected pattern) records nothing.
    */
  private def memoExpansion(kind: String, pattern: String, cap: Int, params: Any*)(
      expand: => Option[Array[String]]): Option[Array[String]] = {
    val key = (kind, pattern, cap, params.toList)
    Option(expansionMemo.get(key)).getOrElse {
      val v = expand
      if (expansionMemo.size() >= ExpansionMemoMax) expansionMemo.clear()
      expansionMemo.put(key, v)
      v
    }
  }

  def analyze(query: String): Array[String] =
    CodeTokenizer.tokenize(query, analyzer).distinct.sorted

  /** Dictionary lookup for the query terms: tiny per-segment collects merged
    * on the driver (df/cf sum; bound material max/min), broadcast by the
    * caller. Terms absent from every segment drop out here (df = 0
    * contributes nothing — Lucene BooleanQuery SHOULD semantics).
    */
  def termMeta(qterms: Array[String]): Map[String, BlockMaxWand.TermMeta] =
    cookMeta(mergedDictRows(qterms))

  // Per-term merged dictionary rows of a reader WITHOUT the resident table
  // (above its bound, or the scan form), memoized for the reader's
  // lifetime — the query-sized slice of the FST-residency model that
  // [[resident]] follows whole. Sound because a reader's `segments` list is
  // FIXED at construction and committed segments are immutable (the same
  // argument PIT serving rests on). None records a term PROVEN absent, so
  // absent terms don't re-probe. BOUNDED like expansionMemo: wholesale
  // reset at the cap. @transient: driver-side cache, never shipped.
  private val DictMemoMax = 65536
  @transient private lazy val dictMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Option[(Long, Double, Int, Int)]]()

  /** The merged dictionary held on the driver — Lucene's resident terms
    * index — when the segments' dictionary files total at most
    * `ResidentDictMaxBytes` (a file listing decides, no job); None above
    * it, or on a [[scanForm]] reader. Loaded on the first lookup by ONE
    * union-collect job over every segment's [[DictMetaCols]], folded per
    * term like every merged lookup ([[foldDictRows]]). While it is held,
    * every point lookup ([[mergedDictRows]], hence termMeta, termDfs and
    * the small-scan gate) and every expansion ([[cappedByDf]],
    * [[expandPrefix]], [[prefixProbe]]) runs on the driver and submits no
    * job; `dictMemo` stays empty. @transient: never shipped with a closure.
    */
  @transient private[graft] lazy val resident: Option[IndexReader.ResidentDict] =
    if (residentMaxBytes < 0 || dictBytes > residentMaxBytes) None
    else {
      val rows = segments.map(seg =>
        InvertedIndex.read(spark, seg, InvertedIndex.DictTable).select(DictMetaCols.map(col): _*))
        .reduce(_ unionByName _).collect().map(dictMetaRow)
      Some(IndexReader.ResidentDict(
        if (segments.size == 1) rows else foldDictRows(rows.toSeq).toArray))
    }

  /** Bytes of every segment's dictionary data files. */
  private def dictBytes: Long = segments.iterator.map { seg =>
    val p = new org.apache.hadoop.fs.Path(seg, InvertedIndex.DictTable)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(p).getLength
  }.sum

  /** The merged per-term dictionary material. Served by [[resident]] when
    * it is held; otherwise at most ONE Spark job per call regardless of
    * segment count (r07; previously one job per segment per query), and
    * zero jobs when every term is memoized: the per-segment term-pruned
    * dictionary scans UNION and collect together, and the driver-side
    * fold is order-independent (sum/max/min), so results are identical to
    * the per-segment loop.
    */
  private def mergedDictRows(qterms: Array[String]): Map[String, (Long, Double, Int, Int)] = {
    if (qterms.isEmpty) return Map.empty
    resident match {
      case Some(d) => return qterms.iterator.flatMap(t => d.get(t).map(t -> _)).toMap
      case None =>
    }
    val known = scala.collection.mutable.Map.empty[String, (Long, Double, Int, Int)]
    val missing = scala.collection.mutable.ArrayBuffer.empty[String]
    qterms.foreach { t =>
      dictMemo.get(t) match {
        case null => missing += t
        case cached => cached.foreach(v => known.update(t, v))
      }
    }
    if (missing.nonEmpty) {
      val acc = foldDictRows(segments.map { seg =>
        InvertedIndex.read(spark, seg, InvertedIndex.DictTable)
          .where(col("term").isin(missing.toSeq: _*))
          .select(DictMetaCols.map(col): _*)
      }.reduce(_ unionByName _).collect().map(dictMetaRow))
      memoizeDict(missing.map(t => t -> acc.get(t)).toSeq)
      known ++= acc
    }
    known.toMap
  }

  /** Per-segment dictionary rows merged per term: (df, maxTfn, maxTf,
    * minDl) fold as (sum, max, max, min) — order-independent.
    */
  private def foldDictRows(rows: Seq[(String, (Long, Double, Int, Int))])
      : Map[String, (Long, Double, Int, Int)] =
    rows.groupMapReduce(_._1)(_._2) { case ((df0, mtfn0, mtf0, mdl0), (df, mtfn, mtf, mdl)) =>
      (df0 + df, math.max(mtfn0, mtfn), math.max(mtf0, mtf), math.min(mdl0, mdl))
    }

  /** The dictionary columns every term-meta lookup reads, in the order
    * [[dictMetaRow]] decodes them.
    */
  private val DictMetaCols = Seq("term", "df", "maxTfn", "maxTf", "minDl")

  private def dictMetaRow(r: org.apache.spark.sql.Row): (String, (Long, Double, Int, Int)) =
    (r.getString(0), (r.getLong(1), r.getDouble(2), r.getInt(3), r.getInt(4)))

  /** Records merged dictionary rows (None = proven absent) in the memo,
    * resetting it wholesale at the cap.
    */
  private def memoizeDict(entries: Seq[(String, Option[(Long, Double, Int, Int)])]): Unit = {
    if (dictMemo.size() + entries.length > DictMemoMax) dictMemo.clear()
    entries.foreach { case (t, v) => dictMemo.put(t, v) }
  }

  private def cookMeta(merged: Map[String, (Long, Double, Int, Int)])
      : Map[String, BlockMaxWand.TermMeta] =
    merged.iterator.map { case (t, (df, maxTfn, maxTf, minDl)) =>
      val idf = Bm25.idf(stats.numDocs, df)
      val ub = if (exactStats) maxTfn else Bm25.tfNorm(maxTf.toLong, minDl.toLong, stats.avgDl, p)
      t -> BlockMaxWand.TermMeta(t, idf, idf * ub)
    }.toMap

  /** Cooked metas AND raw dfs from ONE dictionary job — the cross-field
    * blending path needs both, and calling [[termMeta]] + [[termDfs]]
    * separately paid two identical dictionary scans per field (r07).
    */
  def termMetaWithDfs(qterms: Array[String])
      : (Map[String, BlockMaxWand.TermMeta], Map[String, Long]) = {
    val merged = mergedDictRows(qterms)
    (cookMeta(merged), merged.map { case (t, (df, _, _, _)) => t -> df })
  }

  /** Raw per-term document frequency, summed across this index's segments —
    * cross-field blending (ES cross_fields' BlendedTermQuery) needs the raw
    * dfs, not the cooked idf: df_blend(t) = max over fields of df_f(t),
    * re-idf'd against the shared N. Same tiny dictionary collect shape as
    * [[termMeta]]; absent terms simply have no entry (df 0).
    */
  def termDfs(qterms: Array[String]): Map[String, Long] =
    mergedDictRows(qterms).map { case (t, (df, _, _, _)) => t -> df }

  /** Query-term block scan (catalog-level tbucket pruning + term row-group
    * pruning). `withPositions = false` substitutes an empty LITERAL for the
    * pos column, so frequency-only queries (match/BMW/rank-all) never read
    * the position bytes from parquet — column pruning keeps their scan as
    * narrow as a positionless index's.
    */
  private[graft] def postingsFor(terms: Seq[String],
      withPositions: Boolean = false): Dataset[PostingBlock] = {
    val baseCols = Seq("term", "blockId", "firstDocId", "lastDocId", "count", "tfSum",
      "blockMaxTfn", "maxTf", "minDl", "docDeltas", "tfs", "dls").map(col)
    val cols = baseCols :+ (if (withPositions) col("pos")
      else lit(Array.emptyByteArray).as("pos"))
    val scans = segments.zip(segBuckets).map { case (seg, b) =>
      val tb = terms.map(t => InvertedIndex.termBucket(t, b)).distinct
      InvertedIndex.read(spark, seg, InvertedIndex.PostingsTable)
        .where(col("tbucket").isin(tb: _*) && col("term").isin(terms: _*))
        .select(cols: _*)
    }
    val unioned = scans.reduce(_ unionByName _).as[PostingBlock]
    if (exactStats) unioned
    else {
      // composite serving: per-block bound from the stats-independent
      // impact pair, valid under the merged avgdl (narrow map over block
      // rows — blocks are ~blockSize x fewer than postings)
      val avgDl = stats.avgDl
      val pp = p
      unioned.map(b => b.copy(blockMaxTfn = Bm25.tfNorm(b.maxTf.toLong, b.minDl.toLong, avgDl, pp)))
    }
  }

  /** Per-posting BM25 contributions of the query terms — (docId, term,
    * idf x tfNorm) rows decoded per block; the shared kernel of the naive
    * DAAT baseline and the distributed rank-all path.
    */
  private[graft] def contribs(meta: Map[String, BlockMaxWand.TermMeta]): DataFrame = {
    val metaB = spark.sparkContext.broadcast(meta)
    val avgDl = stats.avgDl
    val pp = p
    postingsFor(meta.keys.toSeq.sorted).flatMap { b =>
      val idf = metaB.value(b.term).idf
      val ids = PostingsCodec.decodeDocIds(b.firstDocId, b.count, b.docDeltas)
      val tfs = PostingsCodec.decodeTfs(b.count, b.tfs)
      val dls = PostingsCodec.decodeDls(b.count, b.dls)
      Iterator.tabulate(b.count)(i =>
        (ids(i), b.term, idf * Bm25.tfNorm(tfs(i).toLong, dls(i).toLong, avgDl, pp)))
    }.toDF("docId", "term", "contrib")
  }

  /** The bucketize skeleton every positional and batch query path shares
    * (batch BMW, the phrase / phrase-prefix / phrase-suggest and span
    * frames, and top-k BMW and bool above the [[singleBucket]] gate), in
    * one of two plans with identical rows:
    *  - under the gate (at most `SingleBucketMaxQueries` queries, and the
    *    merged df summed over `work`, by default the scanned terms, at most
    *    `SingleBucketMaxPostings`), ONE narrow partition: the postings scan
    *    coalesces to one task and `score` runs once over the single bucket
    *    [0, Long.MaxValue) — no exchange, so a `.count()` or `.collect()` of
    *    the frame is one job, and the frame stays lazy;
    *  - otherwise query-term blocks re-bucket by docId range — a block
    *    spanning bucket boundaries is replicated and masked by the [lo, hi)
    *    the scorer receives — through one groupBy exchange, and each bucket
    *    scores locally.
    * A doc's blocks all reach one bucket in either plan, so each doc's row
    * is the same. The group-span arithmetic is correctness-critical and
    * lives ONLY here; so does the per-term firstDocId block sort
    * ([[IndexReader.blocksByTerm]]) that every presorted-contract consumer
    * (batch BMW, PhraseMatcher, BoolMatcher) depends on (topKHits' driver
    * bucket sorts the same way).
    */
  private def bucketedBlocks[T: org.apache.spark.sql.Encoder](terms: Seq[String],
      withPositions: Boolean = false, work: Option[Seq[String]] = None, queries: Int = 1)(
      score: (Long, Long, Map[String, Array[PostingBlock]]) => Iterator[T]): Dataset[T] = {
    if (queries <= SingleBucketMaxQueries &&
        singleBucket(work.getOrElse(terms), SingleBucketMaxPostings))
      return postingsFor(terms, withPositions).coalesce(1).mapPartitions { it =>
        // no blocks, no bucket — as in the grouped plan, where an empty
        // bucket never forms a group
        if (it.hasNext) score(0L, Long.MaxValue, IndexReader.blocksByTerm(it.toArray))
        else Iterator.empty
      }
    val buckets = docIdBuckets
    val w = math.max(1L, (stats.numDocs + buckets - 1) / buckets)
    postingsFor(terms, withPositions)
      .flatMap(b => ((b.firstDocId / w) to (b.lastDocId / w)).iterator.map(g => (g, b)))
      .groupByKey(_._1)
      .flatMapGroups { (g, it) =>
        score(g * w, g * w + w, IndexReader.blocksByTerm(it.map(_._2).toArray))
      }
  }

  /** Naive document-at-a-time baseline: decode ALL blocks of the query
    * terms, aggregate per doc (contributions sorted by term before summing —
    * the pinned order), global top-k. The regression target BMW must equal.
    */
  def searchNaive(query: String, k: Int): Array[SearchHit] = {
    val meta = termMeta(analyze(query))
    if (meta.isEmpty) return Array.empty
    contribs(meta).groupByKey(r => r.getLong(0))
      .mapGroups { (d, it) =>
        val s = it.toArray.sortBy(_.getString(1)).foldLeft(0.0)(_ + _.getDouble(2))
        SearchHit(d, s)
      }
      .orderBy(desc("score"), asc("docId")).limit(k)
      .collect()
  }

  /** Block-Max WAND top-k (SURVEY.md §2.3 B9) over the query terms'
    * postings, served by [[topKHits]]: when the terms' merged df sum is at
    * most `DriverScoreMaxPostings` the blocks are collected in one job and
    * scored on the driver as one bucket under one global threshold;
    * otherwise the blocks are re-bucketed by docId range (a block spanning
    * multiple buckets is replicated and masked — only query-term data
    * moves, never the corpus), each bucket runs exact BMW with a local
    * threshold (= one ES shard) and Catalyst's TakeOrderedAndProject
    * merges the buckets.
    * Both forms return the same exact top-k under (score desc, docId asc).
    * `k` must be >= 1; [[scoreAllDf]] ranks every match.
    */
  def searchBmw(query: String, k: Int): Array[SearchHit] = {
    requireTopK(k, "scoreAllDf")
    bmwTopK(termMeta(analyze(query)), k)
  }

  /** A top-k entry point's `k` check, made before any job runs: k <= 0 is
    * not a top-k, and each entry point names its rank-all form.
    */
  private def requireTopK(k: Int, rankAll: String): Unit =
    require(k >= 1, s"top-k needs k >= 1, got $k — rank every match with $rankAll")

  /** The shared BMW top-k of every match-shaped entry point (searchBmw,
    * fuzzyTopK, wildcardTopK, mltTopK, searchBool's match route); the BMW
    * skip counters receive each scored bucket's stats on either plan.
    */
  private def bmwTopK(meta: Map[String, BlockMaxWand.TermMeta], k: Int): Array[SearchHit] = {
    if (meta.isEmpty) return Array.empty
    val metaB = spark.sparkContext.broadcast(meta)
    val avgDl = stats.avgDl
    val pp = p
    val kk = k
    val (decAcc, skipAcc, scoredAcc) = (decodedBlocksAcc, skippedBlocksAcc, scoredDocsAcc)

    topKHits(meta.keys.toSeq.sorted, k) { (lo, hi, byTerm) =>
      val st = BlockMaxWand.BucketStats()
      val hits = BlockMaxWand.scoreBucket(byTerm, metaB.value, lo, hi, kk, avgDl, pp, st,
        presorted = true)
      decAcc.add(st.decoded); skipAcc.add(st.skipped); scoredAcc.add(st.scoredDocs)
      hits.iterator
    }
  }

  /** Query-term postings (merged df, summed over the scanned terms) at or
    * under which a top-k query collects its blocks and scores them on the
    * driver ([[topKHits]]). Measured on 4 cores (local[4], 4 docId buckets,
    * CorpusGen indexes of 150k and 400k docs without positions; driver
    * collect vs bucketed plan, BMW and bool): the driver plan won up to
    * ~1.5M postings (1.2-1.3x between 1M and 1.5M) and lost from ~1.8M on;
    * more cores favour the buckets, so the bound sits below that
    * crossover. The collected blocks are ~2.8 bytes per posting.
    */
  private val DriverScoreMaxPostings = 1L << 20

  /** Estimated one-task postings work at or under which [[bucketedBlocks]]
    * and [[membershipCounts]] read the postings in one narrow partition
    * instead of bucketing them by docId. Measured on 4 cores (local[4],
    * one partition vs 4 docId buckets, CorpusGen indexes of 150k and 400k
    * docs with positions):
    *  - positional (`matchPhraseDf(..).count()`, 2- to 9-token phrases):
    *    one partition won at every df sum up to ~530k (1.2-1.9x under
    *    300k), tied at 433k (150k docs) and 634k (400k docs), and lost from
    *    ~740k on, where one task decoding every candidate's positions
    *    outweighs the saved exchange;
    *  - ids-only membership (`termsSetDf`-shaped term sets of 10-50 terms
    *    and `matchPrefixDf` over 4-309 expansion terms, 400k docs): one
    *    partition won at every df sum measured, up to 2.7M (1.1-2x);
    *  - batch BMW (`searchBmwBatch(qs, 10)`, 400k docs), against the work
    *    estimate (per-query df sums added over the queries): with 4
    *    queries one task won up to 376k (1.15-1.2x); with 8 it won or tied
    *    within 4% up to 156k and lost by 5-8% from 470k on; from 12
    *    queries on it lost (1.06-1.6x) at every work size from 19k to
    *    9.9M — one task scans and scores every query in turn
    *    (`SingleBucketMaxQueries`).
    * More cores favour the buckets, so the bound sits below the positional
    * tie. Top-k keeps its own, higher bound (`DriverScoreMaxPostings`): its
    * driver collect is a different plan with its own crossover.
    */
  private val SingleBucketMaxPostings = 400000L

  /** Queries at or under which a [[searchBmwBatch]] round may take the
    * one-task plan (measured with `SingleBucketMaxPostings` above).
    */
  private val SingleBucketMaxQueries = 8

  /** Per-bucket top rows (buckets x queries x k) at or under which a
    * [[searchBmwBatch]] merges on the driver instead of through an exchange.
    */
  private val DriverMergeMaxRows = 1L << 20

  /** The small-scan gate of every query plan that buckets by docId
    * ([[topKHits]], [[bucketedBlocks]], [[membershipCounts]]): true when
    * the merged dfs summed over `work` (a term listed twice counts twice)
    * are at most `maxPostings`, and never on a [[groupedForm]]. The dfs come
    * through the dictionary memo, so the choice depends only on the query:
    * a call site that has looked its terms up (termMeta, the capped
    * expansions, matchPrefixDf's probe) runs no job here, and one that has
    * not pays the one dictionary lookup it would otherwise have skipped.
    */
  private def singleBucket(work: Seq[String], maxPostings: Long): Boolean =
    groupedBuckets == 0 && {
      val dfs = mergedDictRows(work.distinct.toArray)
      work.iterator.map(t => dfs.get(t).fold(0L)(_._1)).sum <= maxPostings
    }

  /** The docId buckets of the grouped plans: a [[groupedForm]]'s count,
    * else one per shuffle partition.
    */
  private def docIdBuckets: Int =
    if (groupedBuckets > 0) groupedBuckets else spark.sessionState.conf.numShufflePartitions

  /** Exact top-k of a bucket scorer over `terms`' postings, in one of two
    * plans with identical results (each doc's score is folded over
    * term-sorted cursors whatever its bucket, and both cut under the pinned
    * (score desc, docId asc) tie-break):
    *  - under the [[singleBucket]] gate at `DriverScoreMaxPostings`, ONE
    *    job: the blocks are collected, grouped by term, sorted by
    *    firstDocId and scored on the driver as the single bucket
    *    [0, Long.MaxValue). [[bucketedBlocks]]' grouped plan would pay a
    *    scan, a docId exchange and a TakeOrderedAndProject — two jobs under
    *    AQE — to score the same few hundred postings, and its one-task plan
    *    measured slower than this driver collect;
    *  - above the gate, the bucketed plan and a TakeOrderedAndProject
    *    merge.
    * `score` receives (lo, hi, term -> blocks sorted by firstDocId).
    */
  private def topKHits(terms: Seq[String], k: Int)(
      score: (Long, Long, Map[String, Array[PostingBlock]]) => Iterator[SearchHit])
      : Array[SearchHit] =
    if (singleBucket(terms, DriverScoreMaxPostings))
      score(0L, Long.MaxValue, IndexReader.blocksByTerm(postingsFor(terms).collect()))
        .toArray.sortBy(h => (-h.score, h.docId)).take(k)
    else
      bucketedBlocks[SearchHit](terms)(score)
        .orderBy(desc("score"), asc("docId")).limit(k)
        .collect()

  /** Batch mode: N queries in ONE Spark job (SURVEY.md §2.3 B9/B10). All
    * queries' terms are fetched in a single dictionary lookup and a single
    * postings scan; every docId bucket runs BMW once per query against its
    * local blocks ([[bucketedBlocks]]: one bucket in one narrow partition
    * when the batch has at most `SingleBucketMaxQueries` queries and their
    * per-query df sums, added up, are under the small-scan gate, so a
    * small batch is one job); per-bucket
    * top-k lists are then merged into per-query global top-k. This
    * amortizes job-scheduling and scan overhead across the whole query set
    * — the shape a 100 TB deployment serves query batches with.
    *
    * The merge has two gated paths producing identical results (pinned by a
    * test): when buckets x queries x k <= `DriverMergeMaxRows` the per-bucket
    * tops collect straight to the driver and merge there (one job — the
    * extra exchange measurably dominates small batches); above the threshold,
    * and always on a [[groupedForm]], the merge stays DISTRIBUTED — one more
    * exchange on query id reducing to exactly queries x k driver rows,
    * because 10^6 queries x 10^3 buckets of partial tops neither fit on the
    * driver nor deserve a serial merge.
    */
  def searchBmwBatch(queriesIn: Seq[String], k: Int): Map[String, Array[SearchHit]] = {
    requireTopK(k, "scoreAllDf per query")
    val analyzed = queriesIn.map(q => q -> analyze(q))
    val allTerms = analyzed.flatMap(_._2).distinct.sorted.toArray
    val meta = termMeta(allTerms)
    val perQuery: Array[(Int, Array[String])] = analyzed.zipWithIndex
      .map { case ((_, ts), i) => (i, ts.filter(meta.contains)) }
      .filter(_._2.nonEmpty).toArray
    if (perQuery.isEmpty) return queriesIn.map(_ -> Array.empty[SearchHit]).toMap

    val metaB = spark.sparkContext.broadcast(meta)
    val perQueryB = spark.sparkContext.broadcast(perQuery)
    val avgDl = stats.avgDl
    val pp = p
    val kk = k
    val (decAcc, skipAcc, scoredAcc) = (decodedBlocksAcc, skippedBlocksAcc, scoredDocsAcc)

    val presentTerms = perQuery.flatMap(_._2).distinct.sorted
    // one task scans and scores every query in turn: its work grows with
    // the per-query dfs (a shared term counts once per query), and past
    // `SingleBucketMaxQueries` queries the buckets win whatever the dfs
    val perBucketTops = bucketedBlocks[(Int, Long, Double)](presentTerms.toSeq,
        work = Some(perQuery.flatMap(_._2).toSeq), queries = perQuery.length) {
      (lo, hi, byTerm) => // blocks pre-sorted once per bucket, shared by all queries
        val st = BlockMaxWand.BucketStats()
        val cache = new BlockCache() // queries share block decodes
        val out = perQueryB.value.iterator.flatMap { case (qi, terms) =>
          val tb = terms.iterator.flatMap(t => byTerm.get(t).map(t -> _)).toMap
          if (tb.isEmpty) Iterator.empty
          else BlockMaxWand.scoreBucket(tb, metaB.value, lo, hi, kk, avgDl, pp, st, cache,
              presorted = true)
            .iterator.map(h => (qi, h.docId, h.score))
        }.toArray
        decAcc.add(st.decoded); skipAcc.add(st.skipped); scoredAcc.add(st.scoredDocs)
        out.iterator
      }
    // Both merge paths reduce each query's per-bucket tops through the same
    // TopKHeap (same comparator, same tie-break), so they are result-
    // identical by construction — and a test pins it.
    val merged: Array[(Int, Long, Double)] =
      if (groupedBuckets == 0 && docIdBuckets.toLong * perQuery.length * kk <= DriverMergeMaxRows) {
        // small batch: skip the extra exchange, heap-merge on the driver
        val heaps = scala.collection.mutable.Map.empty[Int, TopKHeap]
        perBucketTops.collect().foreach { case (qi, d, s) =>
          heaps.getOrElseUpdate(qi, new TopKHeap(kk)).offer(d, s)
        }
        heaps.iterator.flatMap { case (qi, h) =>
          h.results.iterator.map(r => (qi, r.docId, r.score))
        }.toArray
      } else {
        perBucketTops
          .groupByKey(_._1)
          .flatMapGroups { (qi, it) =>
            val heap = new TopKHeap(kk)
            it.foreach(t => heap.offer(t._2, t._3))
            heap.results.iterator.map(h => (qi, h.docId, h.score))
          }.collect()
      }

    val byQuery = merged.groupBy(_._1)
    queriesIn.zipWithIndex.map { case (q, i) =>
      val hits = byQuery.getOrElse(i, Array.empty)
        .map(t => SearchHit(t._2, t._3))
        .sortBy(h => (-h.score, h.docId))
      q -> hits
    }.toMap
  }

  /** Clause analysis shared by both bool paths: (mustT, shouldT, notT,
    * scoring meta, shouldCredit), or None when the query is unsatisfiable /
    * empty — a must term absent from every segment (df = 0) matches nothing,
    * as does must ∩ must_not; should and must_not terms that are absent just
    * drop (they could never contribute / exclude). ONE dictionary lookup
    * covers all clauses — the returned notT is already filtered to
    * index-present terms, so neither caller re-consults the dictionary.
    *
    * `shouldCredit` = |must ∩ should| over the analyzed clause terms: a
    * should clause duplicating a must clause ALWAYS matches in any doc the
    * conjunction admits (ES counts it toward `minimum_should_match`), but
    * the duplicate is stripped from shouldT so scoring never double-counts —
    * callers subtract the credit from the requested floor instead
    * (should ∩ must_not gets NO credit: the doc can't contain it, so that
    * clause never matches, and stripping it is already exact).
    */
  private def boolClauses(must: Seq[String], should: Seq[String], mustNot: Seq[String],
      filter: Seq[String] = Nil)
      : Option[(Array[String], Array[String], Array[String], Array[String], Map[String, BlockMaxWand.TermMeta], Int)] = {
    val mustT = must.flatMap(CodeTokenizer.tokenize(_, analyzer)).distinct.sorted.toArray
    val notT = mustNot.flatMap(CodeTokenizer.tokenize(_, analyzer)).distinct.sorted.toArray
    // ES `filter` context: required like must, NEVER scores. A filter term
    // duplicating a must term is redundant (dropped); filter ∧ must_not is
    // unsatisfiable; a filter term absent from the index matches nothing.
    val filterT = filter.flatMap(CodeTokenizer.tokenize(_, analyzer)).distinct.sorted
      .filterNot(mustT.contains).toArray
    val shouldAll = should.flatMap(CodeTokenizer.tokenize(_, analyzer)).distinct.sorted
    val shouldCredit = shouldAll.count(mustT.contains)
    // a should clause duplicating a FILTER clause is NOT stripped: filter
    // forces the term present, so the should clause both scores and counts
    // toward minimum_should_match in every matching doc (ES semantics) —
    // and there is no double-count, because filter itself contributes none
    val shouldT = shouldAll
      .filterNot(t => mustT.contains(t) || notT.contains(t)).toArray
    if (mustT.exists(notT.contains)) return None // must ∧ must_not = never
    if (filterT.exists(notT.contains)) return None // filter ∧ must_not = never
    val scoringTerms = (mustT ++ shouldT).distinct.sorted
    if (scoringTerms.isEmpty && filterT.isEmpty) return None
    val allMeta = termMeta((scoringTerms ++ notT ++ filterT).distinct.sorted)
    if (filterT.exists(t => !allMeta.contains(t))) return None // absent filter term
    val meta = allMeta.view.filterKeys(scoringTerms.contains).toMap
    if (mustT.exists(t => !meta.contains(t))) return None
    if (meta.isEmpty && filterT.isEmpty) return None
    Some((mustT, shouldT.filter(meta.contains), notT.filter(allMeta.contains), filterT,
      meta, shouldCredit))
  }

  /** ES per-clause `boost` (bool clause / term query boost), keyed by
    * ANALYZED term: scales that term's idf and WAND bound together
    * (BlockMaxWand.boostMeta semantics, per-term). Terms without an entry
    * keep boost 1.0; boosts for absent terms are ignored (the clause
    * already dropped). Must be positive — ES rejects non-positive boosts.
    */
  private def applyClauseBoosts(meta: Map[String, BlockMaxWand.TermMeta],
      boosts: Map[String, Double]): Map[String, BlockMaxWand.TermMeta] =
    if (boosts.isEmpty) meta
    else {
      boosts.values.foreach(b => require(b > 0.0, s"clause boost must be positive, got $b"))
      meta.map { case (t, m) =>
        val b = boosts.getOrElse(t, 1.0)
        t -> (if (b == 1.0) m else m.copy(idf = m.idf * b, maxImpact = m.maxImpact * b))
      }
    }

  /** Empty (docId: long, <name>: <dt>) frame — the one shape every query
    * family's empty result takes (score, n_terms, phrase_tf, min_gap).
    */
  private def emptyResult(name: String, dt: org.apache.spark.sql.types.DataType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("docId", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField(name, dt))))

  private def emptyHits: DataFrame =
    emptyResult("score", org.apache.spark.sql.types.DoubleType)

  /** ES `bool` query top-k (SURVEY.md §2.3 B16): must = conjunction, should
    * contributes when present, must_not excludes; score = Σ idf·tfNorm over
    * (must ∪ should) terms present, pinned ascending-term order. Only the
    * clause terms' postings are scanned (scoring, must_not and filter
    * terms), and they are scored under the same gate as [[searchBmw]]: on
    * the driver as one bucket when their merged df sum is at most
    * `DriverScoreMaxPostings`, bucketed by docId range above it. Within a
    * bucket the conjunction drives candidate generation and payloads decode
    * lazily (BoolMatcher). `k` must be >= 1; [[searchBoolDf]] ranks every
    * match.
    */
  def searchBool(must: Seq[String], should: Seq[String] = Nil,
      mustNot: Seq[String] = Nil, k: Int = 10, minShould: Int = 0,
      boosts: Map[String, Double] = Map.empty,
      filter: Seq[String] = Nil,
      dlRange: Option[(Long, Long)] = None): Array[SearchHit] = {
    requireTopK(k, "searchBoolDf")
    requireRangeHasTerms(dlRange, must, should, filter)
    val clauses = boolClauses(must, should, mustNot, filter).getOrElse(return Array.empty)
    val (mustT, shouldT, notT, filterT, meta0, shouldCredit) = clauses
    val meta = applyClauseBoosts(meta0, boosts)
    // minimum_should_match counts MATCHING should clauses; a should clause
    // duplicating a must clause always matches (ES credits it), so the
    // effective floor over the DEDUPED shouldT drops by the overlap. An
    // absent term can never match, so a residual floor above the
    // present-should count is unsatisfiable (ES returns nothing for it too)
    val effShould = math.max(0, minShould - shouldCredit)
    if (effShould > shouldT.length) return Array.empty
    // should-only + range filter at msm = 0: ES matches every range doc
    // (should is purely optional once a filter exists), including docs with
    // NO scoring term — at score 0. A postings walk cannot enumerate those
    // candidates (they live in the registry, not in any queried term's
    // postings), so this shape is served by searchBoolDf's registry-driven
    // relational form; silently dropping them here would diverge from ES
    // and from the other path exactly where the filter semantics bite.
    if (dlRange.isDefined && mustT.isEmpty && filterT.isEmpty && effShould == 0)
      throw new IllegalArgumentException(
        "top-k bool with only optional should clauses + a range filter " +
          "matches range-only docs at score 0 — use searchBoolDf for this shape")
    // a bool with no must and no must_not IS a `match` (pure SHOULD-OR with
    // identical scoring) — serve it through Block-Max WAND so it gets
    // θ-pruning instead of the union walk below. effShould >= 2 disables
    // the route: WAND has no per-doc clause-count floor. Any filter clause
    // disables it too: WAND has no membership conjunction — and neither has
    // it a dl-range check, so an active range disables it the same way.
    if (mustT.isEmpty && notT.isEmpty && filterT.isEmpty && effShould <= 1 &&
        dlRange.isEmpty)
      return bmwTopK(meta, k)
    val scoring = (mustT ++ shouldT).distinct.sorted.map(t => (t, meta(t).idf))
    val scanTerms = ((mustT ++ shouldT).toSeq ++ notT.toSeq ++ filterT.toSeq).distinct.sorted
    val (scoringB, mustB, notB, filterB) =
      (spark.sparkContext.broadcast(scoring), spark.sparkContext.broadcast(mustT),
        spark.sparkContext.broadcast(notT), spark.sparkContext.broadcast(filterT))
    val avgDl = stats.avgDl
    val pp = p
    val kk = k
    val ms = effShould
    val (dlLo, dlHi) = dlRange.getOrElse((0L, Long.MaxValue))
    topKHits(scanTerms, k) { (lo, hi, byTerm) =>
      BoolMatcher.scoreBucket(byTerm, scoringB.value, mustB.value, notB.value,
        lo, hi, kk, avgDl, pp, ms, filterB.value, dlLo, dlHi).iterator
    }
  }

  /** The range-only-bool pin shared by both bool paths: a `range` filter
    * with ZERO term clauses is a plain registry scan, not a bool — serving
    * it here would silently return empty (boolClauses has no clause to
    * anchor on), so refuse loudly instead.
    */
  private def requireRangeHasTerms(dlRange: Option[(Long, Long)],
      must: Seq[String], should: Seq[String], filter: Seq[String]): Unit =
    require(dlRange.isEmpty || (must ++ should ++ filter).nonEmpty,
      "a range-only bool is a registry scan — give it at least one term clause")

  /** Bool query rank-all, fully relational and distributed: per-doc pinned
    * fold over the scoring terms' contributions, must-presence enforced by
    * a conditional distinct count in the same aggregate, must_not by an
    * anti-join against the excluded docId set (ids decoded in a narrow
    * flatMap — must_not postings never carry payloads anywhere).
    */
  def searchBoolDf(must: Seq[String], should: Seq[String] = Nil,
      mustNot: Seq[String] = Nil, minShould: Int = 0,
      boosts: Map[String, Double] = Map.empty,
      filter: Seq[String] = Nil,
      dlRange: Option[(Long, Long)] = None): DataFrame = {
    import spark.implicits._
    requireRangeHasTerms(dlRange, must, should, filter)
    val clauses = boolClauses(must, should, mustNot, filter).getOrElse(return emptyHits)
    val (mustT, shouldT, notT, filterT, meta0, shouldCredit) = clauses
    val meta = applyClauseBoosts(meta0, boosts)
    // must∩should overlap always matches → credit it against the floor
    // (same rule as searchBool; keeps both paths ES-consistent)
    val effShould = math.max(0, minShould - shouldCredit)
    if (effShould > shouldT.length) return emptyHits
    // ES filter context, relationally: docs containing ALL filter terms,
    // as an ids-only membership conjunction (no payloads — filter never
    // scores), semi-joined below. Pure-filter bools (no scoring clause)
    // serve this frame directly at the ES constant score of 0.
    val termFilterIds: Option[DataFrame] = if (filterT.isEmpty) None else Some(
      idScanWithTerm(filterT.toSeq)
        .as[(String, Long, Int, Array[Byte])]
        .flatMap { case (t, f, c, d) =>
          PostingsCodec.decodeDocIds(f, c, d).iterator.map(id => (id, t))
        }
        .toDF("docId", "term")
        // one row per (term, doc): the plain count IS the distinct count
        .groupBy("docId").agg(count(lit(1)).as("fcnt"))
        .where(col("fcnt") === filterT.length)
        .select("docId"))
    // ES numeric `range` in filter context, relationally: the registry scan
    // IS the doc-values read — the dl predicate pushes into parquet, and
    // the frame is ids-only like every filter. Composes with term filters
    // by a semi-join (conjunction of conjunctions).
    val rangeIds: Option[DataFrame] = dlRange.map { case (rlo, rhi) =>
      segments.map(seg => InvertedIndex.read(spark, seg, InvertedIndex.DocsTable)
        .where(col("dl") >= rlo && col("dl") < rhi).select("docId"))
        .reduce(_ unionByName _)
    }
    val filterIds: Option[DataFrame] = (termFilterIds, rangeIds) match {
      case (Some(f), Some(r)) => Some(f.join(r, Seq("docId"), "left_semi"))
      case (f, r) => f.orElse(r)
    }
    // ONE aggregate, ONE exchange: the sorted (term, contrib) array is
    // collected once and yields the pinned score fold AND BOTH presence
    // counts (must conjunction, minimum_should_match floor —
    // array_intersect dedups) — a countDistinct(when) would plan a second
    // expand+exchange for the distinct phase
    val scoredBase =
      if (meta.isEmpty) filterIds.get.select(col("docId"), lit(0.0).as("score"))
      else contribs(meta)
        .groupBy("docId")
        .agg(sort_array(collect_list(struct(col("term"), col("contrib")))).as("arr"))
        .select(col("docId"),
          aggregate(col("arr"), lit(0.0), (acc, x) => acc + x.getField("contrib")).as("score"),
          size(array_intersect(transform(col("arr"), x => x.getField("term")),
            lit(mustT))).as("mcnt"),
          size(array_intersect(transform(col("arr"), x => x.getField("term")),
            lit(shouldT))).as("scnt"))
        .where(col("mcnt") === mustT.length && col("scnt") >= effShould)
        .select("docId", "score")
    val scored =
      if (meta.isEmpty || filterIds.isEmpty) scoredBase
      else if (mustT.isEmpty && effShould == 0)
        // ES filter context: with no must conjunction and no effective
        // minimum_should_match floor, the filter conjunction IS the match
        // set — a doc matching every filter term but no scoring term still
        // matches, at score 0 (the bucketed path's conjunction walk already
        // offers such docs; a semi-join here would silently drop them and
        // the two paths would disagree exactly where ES says they match)
        filterIds.get.join(scoredBase, Seq("docId"), "left_outer")
          .select(col("docId"), coalesce(col("score"), lit(0.0)).as("score"))
      else scoredBase.join(filterIds.get, Seq("docId"), "left_semi")
    if (notT.isEmpty) scored // boolClauses already dropped absent not-terms
    else scored.join(distinctIds(notT.toSeq), Seq("docId"), "left_anti")
  }

  /** Distinct docIds containing ANY of `terms` — the membership-only shape
    * shared by must_not exclusion and query_string prohibited-term clauses.
    * ids-only at the SCAN level too: the raw per-segment scan (NOT
    * postingsFor — its composite branch runs a typed map over full
    * PostingBlock rows, which defeats column pruning) selects just the
    * three docId columns, so parquet skips tf/dl/pos bytes in
    * single-segment AND delta-serving modes alike.
    */
  private def distinctIds(terms: Seq[String]): DataFrame =
    idScan(terms)
      .as[(Long, Int, Array[Byte])]
      .flatMap { case (f, c, d) => PostingsCodec.decodeDocIds(f, c, d) }
      .distinct().toDF("docId")

  /** Match-set ids frame for an analyzed `match` query (OR over its terms)
    * — the scoreless membership shape field-SORTED serving consumes: when
    * `sort` replaces relevance, ES skips scoring entirely and reads only
    * doc values, and here the frame is the ids-only postings scan (no
    * payload bytes decoded, no BM25 fold anywhere in the plan).
    */
  def matchIdsDf(query: String): DataFrame = {
    val qterms = analyze(query)
    if (qterms.isEmpty) emptyResult("docId", org.apache.spark.sql.types.LongType)
    else distinctIds(qterms.toSeq)
  }

  /** Membership-only postings scan: (firstDocId, count, docDeltas) of the
    * terms' blocks across all segments — no payload columns, no composite
    * bound recompute (bounds are meaningless to a membership probe).
    */
  private def idScan(terms: Seq[String]): DataFrame =
    segments.zip(segBuckets).map { case (seg, b) =>
      val tb = terms.map(t => InvertedIndex.termBucket(t, b)).distinct
      InvertedIndex.read(spark, seg, InvertedIndex.PostingsTable)
        .where(col("tbucket").isin(tb: _*) && col("term").isin(terms: _*))
        .select(col("firstDocId"), col("count"), col("docDeltas"))
    }.reduce(_ unionByName _)

  /** The single analyzed TERM a query string must reduce to (prefix / fuzzy
    * / wildcard literals): lowercased, analyzer charset only, within
    * MaxTermLen. Anything else fails loudly here instead of silently
    * re-analyzing — a 65-char prefix would otherwise truncate and match
    * every term sharing the truncation, and a punctuated "prefix" would
    * silently match something the caller never asked for.
    */
  private def singleTerm(input: String, what: String): String = {
    val analyzed = CodeTokenizer.tokenize(input)
    require(analyzed.length == 1,
      s"$what must analyze to exactly one term, got ${analyzed.toSeq} from '$input'")
    val t = analyzed(0)
    require(t == input.trim.toLowerCase(java.util.Locale.ROOT),
      s"$what must be a single [a-z0-9_]{1,${CodeTokenizer.MaxTermLen}} term " +
        s"(analyzer would rewrite '$input' to '$t')")
    t
  }

  /** The analyzed prefix term plus its exclusive upper bound for range
    * predicates: the analyzer charset is [a-z0-9_], so bumping the last
    * char stays a valid string bound.
    */
  private def prefixBounds(prefix: String): (String, String) = {
    val p0 = singleTerm(prefix, "prefix")
    (p0, p0.init + (p0.last + 1).toChar)
  }

  /** Dictionary terms starting with `prefix`, across all segments — a RANGE
    * scan of the term-sorted dictionary (row-group min/max pruning), the
    * analog of Lucene's FST prefix walk; while [[resident]] is held, a
    * binary-searched range of the resident table. Building block for the
    * wildcard / prefix query family; [[matchPrefixDf]] itself pushes the
    * range straight into the postings scan and never materializes this list.
    */
  def expandPrefix(prefix: String): Array[String] = {
    val (lo, hi) = prefixBounds(prefix)
    resident match {
      case Some(d) => d.inRange(lo, hi)
      case None =>
        segments.flatMap { seg =>
          InvertedIndex.read(spark, seg, InvertedIndex.DictTable)
            .where(col("term") >= lo && col("term") < hi)
            .select("term").collect().map(_.getString(0))
        }.distinct.sorted.toArray
    }
  }

  /** Dictionary terms within Levenshtein distance `maxEdits` of the query
    * term, across all segments, capped at `maxExpansions` picked by
    * (df desc, term asc) — ES `fuzzy` / `match` `fuzziness` with
    * `max_expansions` (Lucene's LevenshteinAutomata walk re-expressed as a
    * length-banded dictionary filter: edit distance >= length difference,
    * so the band is a correct prefilter). While [[resident]] is held the
    * filter runs on the driver over the resident table; above its bound the
    * levenshtein verify runs as Spark's codegen'd built-in ON THE EXECUTORS
    * and only matching terms ever reach the driver (the dictionary is
    * postings-scale smaller than the corpus, the same economics as
    * [[expandPrefix]]). Both forms call the same distance kernel
    * ([[fuzzyFilter]]).
    *
    * PINNED DISTANCE: classic Levenshtein (insert/delete/substitute — the
    * Spark built-in). ES/Lucene fuzziness defaults to Damerau-OSA, where a
    * TRANSPOSITION counts as ONE edit — 'ba' is within fuzziness=1 of 'ab'
    * there but distance 2 here. Documented divergence (SURVEY.md §2.3 B18);
    * the DuckDB twin's levenshtein() pins the same classic distance, so
    * cross-engine parity is unaffected.
    */
  def expandFuzzy(term: String, maxEdits: Int = 2, maxExpansions: Int = 50,
      prefixLength: Int = 0, transpositions: Boolean = false): Array[String] = {
    require(maxExpansions > 0, s"maxExpansions must be > 0, got $maxExpansions")
    cappedByDf("fuzzy", term, maxExpansions, maxEdits, prefixLength, transpositions)(
      fuzzyFilter(term, maxEdits, prefixLength, transpositions))
  }

  /** The per-segment UNCAPPED expansion frames expandFuzzy caps above the
    * resident bound — public so plan evidence (EXPLAINS.md) can show the
    * dictionary scan with the distance verify in place, exactly as it
    * executes there. Under the bound expandFuzzy applies the same filter to
    * the resident table on the driver and builds none of these frames.
    */
  def fuzzyExpansionScans(term: String, maxEdits: Int, prefixLength: Int = 0,
      transpositions: Boolean = false): Seq[DataFrame] =
    dictScans(fuzzyFilter(term, maxEdits, prefixLength, transpositions))

  private def fuzzyFilter(term: String, maxEdits: Int, prefixLength: Int,
      transpositions: Boolean): DictFilter = {
    val q = singleTerm(term, "fuzzy term")
    require(maxEdits >= 0, s"maxEdits must be >= 0, got $maxEdits")
    require(prefixLength >= 0, s"prefix_length must be >= 0, got $prefixLength")
    // ES `prefix_length`: the first P characters are EXACT — no edits spent
    // there (Lucene anchors the automaton walk after the common prefix).
    // Here the exact prefix becomes a RANGE on the term-sorted dictionary —
    // the same row-group min/max pruning expandPrefix rides, or a binary
    // search of the resident table — so a prefix_length>0 fuzzy query
    // filters a dictionary SLICE instead of every term: the parameter IS
    // the scale lever ES documents it as.
    val pfx = q.take(prefixLength)
    val (minLen, maxLen) = (q.length - maxEdits, q.length + maxEdits)
    // Both distances bound |len(a) - len(b)| below, so the length band is a
    // correct prefilter for either; in the scan the verify stays
    // executor-side and codegen'd in both branches (transpositions routes
    // through the native graft.functions.DamerauLevenshtein expression —
    // the UNRESTRICTED variant the oracle engine computes; divergence from
    // Lucene's OSA documented there).
    val dist =
      if (transpositions) graft.functions.DamerauLevenshtein(col("term"), lit(q))
      else levenshtein(col("term"), lit(q))
    val qu = UTF8String.fromString(q)
    DictFilter(
      if (pfx.isEmpty) None else Some((pfx, pfx.init + (pfx.last + 1).toChar)),
      Some(length(col("term")).between(minLen, maxLen) && dist <= maxEdits),
      t => t.numChars >= minLen && t.numChars <= maxLen && (
        if (transpositions) graft.functions.DamerauLevenshtein.distance(t.toString, q)
        else t.levenshteinDistance(qu)) <= maxEdits)
  }

  /** One dictionary filter in both its forms: an optional term range
    * [lo, hi) (a range predicate the scan's row-group stats prune by, or a
    * binary search of the resident table), then a per-term test — `scan`
    * for the executors, `keep` for the driver, built around the same
    * kernel (the Spark built-in's `UTF8String` method, the same static
    * function, `Matcher.find` as `rlike` calls it), so both forms select
    * the same terms. `scan` None: the range alone.
    */
  private case class DictFilter(range: Option[(String, String)], scan: Option[Column],
      keep: UTF8String => Boolean)

  /** A regex's driver test the way Spark's `rlike` evaluates it. */
  private def rlikeKeep(rx: String): UTF8String => Boolean = {
    val compiled = java.util.regex.Pattern.compile(rx)
    t => compiled.matcher(t.toString).find(0)
  }

  /** The filter's per-segment dictionary scans, carrying [[DictMetaCols]]. */
  private def dictScans(f: DictFilter): Seq[DataFrame] = segments.map { seg =>
    val dict = InvertedIndex.read(spark, seg, InvertedIndex.DictTable)
    val ranged = f.range.fold(dict) { case (lo, hi) => dict.where(col("term") >= lo && col("term") < hi) }
    f.scan.fold(ranged)(ranged.where).select(DictMetaCols.map(col): _*)
  }

  /** The terms `filter` selects, capped at `maxExpansions` by (df desc,
    * term asc), sorted. While [[resident]] is held the filter and the cap
    * run on the driver over the resident table. Otherwise the cap is a
    * PLAN, not a driver sort: merge the per-segment dictionary rows, take
    * the global top-maxExpansions via TakeOrderedAndProject — the driver
    * receives exactly the capped list, never the full candidate set (a
    * pathological pattern over a corpus-scale dictionary must not collect
    * before capping). The scans carry [[DictMetaCols]], merged across
    * segments by the same fold as [[mergedDictRows]] (sum, max, max, min),
    * and the capped rows seed the dictionary memo — so the `termMeta` that
    * scores the expansion next runs no job. Either way the expansion is
    * memoized under (kind, pattern, cap, params), so a repeated one runs no
    * job and no driver filter either.
    */
  private def cappedByDf(kind: String, pattern: String, maxExpansions: Int, params: Any*)(
      filter: => DictFilter): Array[String] =
    memoExpansion(kind, pattern, maxExpansions, params: _*) {
      val f = filter
      resident match {
        case Some(d) => Some(d.capped(f.range, maxExpansions)(f.keep))
        case None =>
          val ss = dictScans(f)
          // single segment: the dictionary has one row per term already —
          // skip the merge agg (same special case termsAggDf takes)
          val merged =
            if (ss.size == 1) ss.head
            else ss.reduce(_ unionByName _).groupBy("term").agg(sum("df").as("df"),
              max("maxTfn").as("maxTfn"), max("maxTf").as("maxTf"), min("minDl").as("minDl"))
          val rows = merged.orderBy(desc("df"), asc("term")).limit(maxExpansions)
            .select(DictMetaCols.map(col): _*).collect().map(dictMetaRow)
          memoizeDict(rows.map { case (t, v) => t -> Some(v) }.toSeq)
          Some(rows.map(_._1).sorted)
      }
    }.get.clone() // callers own the returned array; the memo keeps its own

  /** Capped df-ranked form of [[expandPrefix]] — the expansion
    * `match_phrase_prefix` serves its last slot with.
    */
  def expandPrefixCapped(prefix: String, maxExpansions: Int): Array[String] = {
    val (lo, hi) = prefixBounds(prefix)
    cappedByDf("prefix", lo, maxExpansions)(DictFilter(Some((lo, hi)), None, _ => true))
  }

  /** Dictionary terms matching a glob `pattern` over the analyzer charset
    * (`*` = any run, including empty — ES `wildcard`, the non-anchored
    * family `b18_prefix` can't serve), capped at `maxExpansions` by
    * (df desc, term asc). The filter is a compiled regex, evaluated on the
    * driver over the resident table under its bound and distributed over
    * the dictionary above it — the honest v1; the 100 TB upgrade path is
    * an n-gram index over dictionary terms (intersect the pattern's
    * n-grams to a candidate set first), which changes only this expansion,
    * not the query serving below it.
    */
  def expandWildcard(pattern: String, maxExpansions: Int = 128): Array[String] = {
    val pat = pattern.trim.toLowerCase(java.util.Locale.ROOT)
    require(pat.nonEmpty && pat.exists(_ != '*'), s"wildcard pattern needs at least one literal char: '$pattern'")
    pat.filter(_ != '*').foreach(c => require(
      (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_',
      s"wildcard literals must be analyzer charset [a-z0-9_], got '$c' in '$pattern'"))
    val rx = pat.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString("^", ".*", "$")
    cappedByDf("wildcard", rx, maxExpansions)(
      DictFilter(None, Some(col("term").rlike(rx)), rlikeKeep(rx)))
  }

  /** ES `regexp` term query (Lucene: automaton ∩ term dictionary): terms
    * whose ENTIRE text matches `pattern` (ES regexp is anchored), expanded
    * through the same capped df-ranked dictionary filter as wildcard — the
    * automaton intersection re-expressed as an rlike over the term-sorted
    * dictionary (on the driver over the resident table under its bound,
    * distributed above it), which is postings-scale smaller than the
    * corpus. Only a VALIDATED-SAFE subset is accepted (literals over the
    * analyzer charset, `.`, classes `[...]`, quantifiers `* + ?` on single
    * atoms, alternation, grouping WITHOUT a quantifier on the group):
    * rejecting quantified groups makes catastrophic backtracking
    * structurally impossible on driver and executor threads — `(a+)+` over
    * a 64-char term is exponential, and a query string must never be able
    * to wedge one. Unsupported-but-safe constructs can widen the validator
    * later; unsafe ones cannot.
    */
  def expandRegexp(pattern: String, maxExpansions: Int = 128): Array[String] = {
    val pat = validateRegexp(pattern)
    cappedByDf("regexp", pat, maxExpansions)(
      DictFilter(None, Some(col("term").rlike(pat)), rlikeKeep(pat)))
  }

  /** Validate the safe regexp subset and return the anchored java pattern.
    * Grammar walked char-by-char: quantifiers may follow ONLY a literal,
    * `.`, or a `[...]` class — never `)` (no quantified groups), another
    * quantifier, or the start of an alternative.
    */
  private def validateRegexp(pattern: String): String = {
    val pat = pattern.trim
    require(pat.nonEmpty && pat.length <= 128, s"regexp pattern empty or too long: '$pattern'")
    def isLit(c: Char) = (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'
    var depth = 0
    var prev: Char = '(' // sentinel: nothing quantifiable yet
    var i = 0
    while (i < pat.length) {
      pat(i) match {
        case c if isLit(c) => prev = 'a'
        case '.' => prev = 'a'
        case '[' =>
          val close = pat.indexOf(']', i + 1)
          require(close > i + 1, s"unterminated or empty class in '$pattern'")
          val body = pat.substring(i + 1, close)
          require(body.forall(c => isLit(c) || c == '-'),
            s"class may contain only [a-z0-9_-]: '[$body]' in '$pattern'")
          // a '-' BETWEEN two members is a java range: require same
          // category (letter-letter or digit-digit) and lo <= hi, so an
          // inverted range like [z-a] fails HERE, not as a
          // PatternSyntaxException inside an executor task, and a
          // cross-category range like [0-_] can't match chars outside the
          // charset this validator promises ('-' at the body's edges is a
          // literal dash — java-valid, just unmatchable against [a-z0-9_]
          // dictionary terms)
          var j = 1
          while (j < body.length - 1) {
            if (body(j) == '-') {
              val (lo, hi) = (body(j - 1), body(j + 1))
              val sameCat = (lo.isDigit && hi.isDigit) ||
                (lo >= 'a' && lo <= 'z' && hi >= 'a' && hi <= 'z')
              require(sameCat && lo <= hi,
                s"bad class range '$lo-$hi' in '$pattern'")
            }
            j += 1
          }
          i = close
          prev = 'a'
        case '*' | '+' | '?' =>
          require(prev == 'a', s"quantifier must follow a literal/./class (no quantified groups): '$pattern'")
          prev = 'q'
        case '|' => prev = '('
        case '(' => depth += 1; prev = '('
        case ')' =>
          depth -= 1
          require(depth >= 0, s"unbalanced ')' in '$pattern'")
          prev = ')'
        case c => throw new IllegalArgumentException(
          s"regexp char '$c' outside the safe subset [a-z0-9_.\\[\\]()|*+?]: '$pattern'")
      }
      i += 1
    }
    require(depth == 0, s"unbalanced '(' in '$pattern'")
    "^(?:" + pat + ")$"
  }

  /** ES `regexp` query serving: capped expansion feeding the SAME
    * tbucket-pruned ids-only membership tail as prefix/wildcard.
    */
  def matchRegexpDf(pattern: String, maxExpansions: Int = 128): DataFrame = {
    val terms = expandRegexp(pattern, maxExpansions)
    if (terms.isEmpty) return emptyMembership
    membershipCounts(idScanWithTerm(terms.toSeq), Some(terms.toSeq))
  }

  /** ES `more_like_this` term selection (Lucene MoreLikeThis): rank the
    * LIKE text's analyzer terms by tf-in-text × idf, apply the
    * minTermFreq / minDocFreq floors, keep the top `maxQueryTerms` —
    * the representative-term set the query then scores as an ordinary OR.
    * Pinned semantics: idf is OUR Bm25.idf (Lucene MLT's classic
    * log(N/df)+1 variant — documented divergence), selection score rounded
    * to 6 dp before ranking with a (score desc, term asc) tie-break so the
    * cross-engine twin picks the identical set. Dictionary work is the
    * candidate terms' [[termDfs]] lookup — no job while [[resident]] is
    * held.
    */
  def selectMltTerms(likeText: String, maxQueryTerms: Int = 25,
      minTermFreq: Int = 1, minDocFreq: Int = 1): Array[String] = {
    require(maxQueryTerms > 0 && minTermFreq >= 1 && minDocFreq >= 1,
      "maxQueryTerms > 0, minTermFreq >= 1, minDocFreq >= 1")
    val (tfMap, _) = CodeTokenizer.tfMap(likeText)
    val cand = tfMap.iterator.filter(_._2 >= minTermFreq).toMap
    if (cand.isEmpty) return Array.empty
    val dfAcc = termDfs(cand.keys.toArray.sorted)
    val n = stats.numDocs
    cand.iterator
      .flatMap { case (t, tf) =>
        dfAcc.get(t).filter(_ >= minDocFreq).map { df =>
          val msc = math.BigDecimal(tf * Bm25.idf(n, df))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP)
          (t, msc)
        }
      }
      .toArray.sortBy { case (t, msc) => (-msc, t) }
      .take(maxQueryTerms).map(_._1).sorted
  }

  /** ES `terms` aggregation over the indexed field (the LOD API's facet
    * counts): top `size` dictionary terms by document frequency, df summed
    * across segments. The dictionary IS the agg — no postings are touched,
    * and the plan is a dictionary scan + TakeOrderedAndProject (single
    * segment skips the merge agg entirely).
    */
  def termsAggDf(size: Int): DataFrame = {
    require(size > 0, "size must be positive")
    val scans = segments.map(seg =>
      InvertedIndex.read(spark, seg, InvertedIndex.DictTable).select(col("term"), col("df")))
    val merged =
      if (segments.size == 1) scans.head
      else scans.reduce(_ unionByName _).groupBy("term").agg(sum("df").as("df"))
    merged.orderBy(desc("df"), asc("term")).limit(size)
  }

  /** ES `rare_terms` aggregation — the long-tail inverse of [[termsAggDf]]:
    * every term whose document frequency is ≤ `maxDocCount` (ES caps the
    * parameter at 100 — enforced here too), ordered (df asc, term asc) —
    * ES's "sorted by _count ascending" with the repo's pinned term
    * tie-break. Like the terms agg, the dictionary IS the aggregation: a
    * (term, df) scan with the df predicate pushed to it, df summed across
    * segments when composite (the predicate applies AFTER the merge — a
    * term rare in one segment but common overall must not leak in, so the
    * multi-segment path filters post-sum; the single-segment path pushes
    * the filter into the scan). No postings, no documents, no cap on the
    * result — ES bounds it through maxDocCount itself (plus its CuckooFilter
    * memory guard, which changes no results).
    */
  def rareTermsDf(maxDocCount: Long): DataFrame = {
    require(maxDocCount >= 1L && maxDocCount <= 100L,
      s"max_doc_count must be in [1, 100] (the ES bound), got $maxDocCount")
    val scans = segments.map(seg =>
      InvertedIndex.read(spark, seg, InvertedIndex.DictTable).select(col("term"), col("df")))
    val merged =
      if (segments.size == 1) scans.head
      else scans.reduce(_ unionByName _).groupBy("term").agg(sum("df").as("df"))
    merged.where(col("df") <= maxDocCount).orderBy(asc("df"), asc("term"))
  }

  /** Per-document unigram language-model log-probability — the classic
    * training-data quality signal (a KenLM-style perplexity proxy without
    * the external model: docs of common-vocabulary prose score high, rare-
    * token noise scores low): mean over the doc's tokens of
    * ln(cf_t / C) where cf_t is the term's COLLECTION frequency and C the
    * corpus token count — i.e. Σ_t tf·ln(cf_t/C) / dl. The corpus itself is
    * the LM; no smoothing is needed because every indexed term has cf ≥ 1.
    *
    * Plan: ONE full postings scan decoding (docId, term, tf, dl) — the
    * termsStatsDf economics — joined to the dictionary's (term, cf) frame
    * BROADCAST (the dictionary is vocabulary-sized; at a 100 TB vocabulary
    * past the broadcast threshold this becomes an ordinary shuffle join
    * keyed on term and nothing else changes), then one map-side-combined
    * groupBy(docId, dl). C is an exact integer (Σ cf ≡ Σ dl — one
    * dictionary-sized agg, k-row driver result), so cf/C and the final
    * divide-after-sum are spelled identically in the DuckDB twin; the 6-dp
    * output rounding absorbs ln fold-order drift as everywhere else.
    */
  def unigramLogProbDf(): DataFrame = {
    import spark.implicits._
    val dictScans = segments.map(seg =>
      InvertedIndex.read(spark, seg, InvertedIndex.DictTable).select(col("term"), col("cf")))
    val cfByTerm =
      if (segments.size == 1) dictScans.head
      else dictScans.reduce(_ unionByName _).groupBy("term").agg(sum("cf").as("cf"))
    val total = cfByTerm.agg(sum("cf")).head.getLong(0)
    val rows = segments.map { seg =>
      InvertedIndex.read(spark, seg, InvertedIndex.PostingsTable)
        .select(col("term"), col("firstDocId"), col("count"), col("docDeltas"),
          col("tfs"), col("dls"))
    }.reduce(_ unionByName _)
      .as[(String, Long, Int, Array[Byte], Array[Byte], Array[Byte])]
      .flatMap { case (t, f, c, d, tfb, dlb) =>
        val ids = PostingsCodec.decodeDocIds(f, c, d)
        val tfs = PostingsCodec.decodeTfs(c, tfb)
        val dls = PostingsCodec.decodeDls(c, dlb)
        Iterator.tabulate(c)(i => (ids(i), t, tfs(i).toLong, dls(i).toLong))
      }.toDF("docId", "term", "tf", "dl")
    rows.join(broadcast(cfByTerm), Seq("term"))
      .select(col("docId"), col("dl"),
        (col("tf") * log(col("cf").cast("double") / lit(total.toDouble))).as("part"))
      .groupBy("docId", "dl").agg(sum("part").as("s"))
      .select(col("docId"), round(col("s") / col("dl"), 6).as("logprob"))
  }

  /** ES `composite` aggregation over a terms source — the PAGINATED facet:
    * buckets ordered by the KEY (term asc — composite order, NOT the terms
    * agg's count order), resuming strictly after `afterKey` (ES `after`),
    * `size` buckets per page. Keyset pagination over the term-sorted
    * dictionary: the range predicate pushes into the scan (row-group term
    * min/max pruning), so a deep page never rescans earlier buckets —
    * the agg input is the dictionary itself, as in [[termsAggDf]]; no
    * postings, no documents.
    */
  def termsCompositeDf(size: Int, afterKey: Option[String] = None): DataFrame = {
    require(size > 0, "size must be positive")
    val scans = segments.map { seg =>
      val base = InvertedIndex.read(spark, seg, InvertedIndex.DictTable)
        .select(col("term"), col("df"))
      afterKey.fold(base)(a => base.where(col("term") > a))
    }
    val merged =
      if (segments.size == 1) scans.head
      else scans.reduce(_ unionByName _).groupBy("term").agg(sum("df").as("df"))
    merged.orderBy(asc("term")).limit(size)
  }

  /** ES `filters` aggregation: one NAMED bucket per filter, each filter a
    * term CONJUNCTION in filter context (ids only — nothing scores);
    * output (name, doc_count). Per-bucket plan = the same ids-only
    * membership conjunction searchBoolDf's filter context runs, collapsed
    * to a count; buckets union into one plan, each over its own
    * term/tbucket-pruned scan. An absent conjunct makes its bucket count 0
    * (ES keeps the named bucket), never drops the row.
    */
  def filtersAggDf(filters: Seq[(String, Seq[String])]): DataFrame = {
    require(filters.nonEmpty, "filters agg needs at least one named filter")
    import spark.implicits._
    val norm: Seq[(String, Seq[String])] = filters.map { case (name, raw) =>
      val terms = raw.flatMap(CodeTokenizer.tokenize(_, analyzer)).distinct.sorted
      require(terms.nonEmpty, s"filter '$name' analyzes to zero terms")
      name -> terms
    }
    val allTerms = norm.flatMap(_._2).distinct.sorted
    val meta = termMeta(allTerms.toArray)
    // a bucket with an absent conjunct can never reach its count — it rides
    // the coalesce-0 tail below and its terms never even scan
    val live = norm.filter(_._2.forall(meta.contains))
    val names = norm.map(_._1).toDF("name")
    val counts =
      if (live.isEmpty) spark.emptyDataset[(String, Long)].toDF("name", "doc_count")
      else {
        // SHARED scan (round-6 rewrite): buckets used to union N separate
        // term scans, re-reading any term shared by several buckets (the
        // adjacency matrix reads every term in n of its n + C(n,2) buckets).
        // Now ONE ids-only scan of the distinct term union fans each
        // posting out to its buckets (broadcast term→buckets map, the
        // percolate core) — the postings read is term-set-sized regardless
        // of bucket count, and the exchange moves (docId, bucket) partials.
        val termToB: Map[String, Array[String]] = live
          .flatMap { case (n, ts) => ts.map(_ -> n) }
          .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).toArray }
        val tbB = spark.sparkContext.broadcast(termToB)
        val needed = live.map { case (n, ts) => (n, ts.size) }.toDF("name", "n_terms")
        idScanWithTerm(termToB.keys.toSeq.sorted)
          .as[(String, Long, Int, Array[Byte])]
          .flatMap { case (t, f, c, d) =>
            val bs = tbB.value(t)
            PostingsCodec.decodeDocIds(f, c, d).iterator
              .flatMap(id => bs.iterator.map(b => (id, b)))
          }
          .toDF("docId", "name")
          .groupBy("docId", "name").agg(count(lit(1)).as("present"))
          .join(broadcast(needed), Seq("name"))
          .where(col("present") === col("n_terms"))
          .groupBy("name").agg(count(lit(1)).as("doc_count"))
      }
    names.join(counts, Seq("name"), "left")
      .select(col("name"), coalesce(col("doc_count"), lit(0L)).as("doc_count"))
  }

  /** ES `histogram` aggregation over the engine's doc-values-shaped numeric
    * column (the registry's doc length): fixed-width buckets
    * `bucket_lo = floor(dl / width) * width` with per-bucket doc counts —
    * the numeric sibling of [[termsAggDf]] (`date_histogram` and `range`
    * reduce to the same floor/CASE groupBy over an epoch or bound column).
    * The registry IS the agg input: no postings, no documents; one scan of
    * the dl column + one map-side-combined groupBy per segment union.
    */
  def histogramAggDf(width: Long): DataFrame = {
    require(width > 0, "histogram width must be positive")
    segments.map(seg =>
      InvertedIndex.read(spark, seg, InvertedIndex.DocsTable).select(col("dl")))
      .reduce(_ unionByName _)
      .groupBy((floor(col("dl") / width) * width).cast("long").as("bucket_lo"))
      .agg(count(lit(1)).as("n"))
  }

  /** ES `significant_terms` aggregation (the facet that answers "what is
    * CHARACTERISTIC of these results", not "what is common" — `upstream:`
    * ES's significant_terms next to `terms` in the agg family): terms
    * overrepresented in the FOREGROUND set (docs containing `queryTerm`)
    * relative to the background corpus, scored by the JLH heuristic ES
    * defaults to — `(fgPct − bgPct) · (fgPct / bgPct)` with
    * fgPct = fg/|foreground| and bgPct = df/N — rounded to 6 dp, top `size`
    * by (score desc, term asc), the foreground term itself excluded (it is
    * trivially maximal).
    *
    * Plan shape: the foreground doc set is the query term's ids-only
    * postings decode; per-term foreground counts come from ONE full
    * postings ids-only scan semi-joined to that set (count(*) is the
    * foreground df — a doc appears at most once in a term's merged
    * postings, the same invariant df itself rests on), then one join to
    * the dictionary for bg and a TakeOrderedAndProject cut. This is the
    * Lucene cost model too (it walks the foreground docs' term vectors);
    * at 100 TB the ES-documented mitigation applies unchanged — run the
    * agg over a `sampler` of the foreground (a limit on the fg set before
    * the join), which changes only the fgIds input here.
    */
  def significantTermsDf(queryTerm: String, size: Int): DataFrame = {
    require(size > 0, "size must be positive")
    val q = singleTerm(queryTerm, "significant_terms foreground")
    import spark.implicits._
    // foreground size = df(q): the dictionary lookup termMeta does
    val fgN = termDfs(Array(q)).getOrElse(q, 0L)
    if (fgN == 0L) // absent foreground term -> empty agg, typed like the hit path
      return spark.emptyDataset[(String, Long, Long, Double)]
        .toDF("term", "fg", "bg", "score")
    val fgIds = idScan(Seq(q)).as[(Long, Int, Array[Byte])]
      .flatMap { case (f, c, d) => PostingsCodec.decodeDocIds(f, c, d) }
      .toDF("docId").distinct()
    val pairs = segments.map { seg =>
      InvertedIndex.read(spark, seg, InvertedIndex.PostingsTable)
        .select(col("term"), col("firstDocId"), col("count"), col("docDeltas"))
    }.reduce(_ unionByName _)
      .as[(String, Long, Int, Array[Byte])]
      .flatMap { case (t, f, c, d) =>
        PostingsCodec.decodeDocIds(f, c, d).iterator.map(id => (id, t))
      }
      .toDF("docId", "term")
    val fgCounts = pairs.join(fgIds, Seq("docId")).groupBy("term")
      .agg(count(lit(1)).as("fg"))
    val bgScans = segments.map(seg =>
      InvertedIndex.read(spark, seg, InvertedIndex.DictTable).select(col("term"), col("df")))
    val bg =
      if (segments.size == 1) bgScans.head
      else bgScans.reduce(_ unionByName _).groupBy("term").agg(sum("df").as("df"))
    // score expression ORDER is pinned — the DuckDB twin spells the exact
    // same (fg/fgN − bg/N)·((fg/fgN)/(bg/N)) so both engines round the same
    // double (IEEE ops on identical inputs in identical order)
    val fgPct = col("fg") / lit(fgN.toDouble)
    val bgPct = col("bg") / lit(stats.numDocs.toDouble)
    fgCounts.join(bg.withColumnRenamed("df", "bg"), Seq("term"))
      .where(col("term") =!= q)
      .select(col("term"), col("fg"), col("bg"),
        round((fgPct - bgPct) * (fgPct / bgPct), 6).as("score"))
      .orderBy(desc("score"), asc("term")).limit(size)
  }

  /** ES `sampler` aggregation wrapping `significant_terms` — THE canonical
    * sampler combo (ES docs' own example): the sub-agg's foreground is not
    * the full match set but the top `sampleSize` hits by relevance
    * (`shard_size` semantics, collapsed to one logical shard here — ES on
    * one shard does exactly this). The sample cut is the repo's protocol
    * order (6-dp rounded score desc, docId asc), so both engines pick the
    * SAME documents; fgN = the actual sample size (≤ sampleSize when the
    * query matches fewer docs). Query tokens are excluded from the output
    * like [[significantTermsDf]] excludes its foreground term. JLH spelled
    * in the same pinned expression order.
    *
    * Plan shape: the rank-all scoring frame feeds ONE TakeOrderedAndProject
    * (the sample), which then plays the foreground semi-join role of the
    * plain sig_terms plan — sampling makes the expensive fg semi-join
    * CHEAPER at scale (bounded rows broadcast), which is exactly why ES's
    * mitigation for sig_terms cost is this very agg.
    */
  def samplerSignificantTermsDf(query: String, sampleSize: Int, size: Int): DataFrame = {
    require(sampleSize > 0, "sampler shard_size must be positive")
    require(size > 0, "size must be positive")
    import spark.implicits._
    val qTerms = analyze(query).toSeq
    val fgIds = scoreAllDf(query)
      .select(col("docId"), round(col("score"), 6).as("s"))
      .orderBy(desc("s"), asc("docId")).limit(sampleSize)
      .select("docId")
    val fgN = fgIds.count() // one bounded job — the sample is query-sized
    if (fgN == 0L)
      return spark.emptyDataset[(String, Long, Long, Double)]
        .toDF("term", "fg", "bg", "score")
    val pairs = segments.map { seg =>
      InvertedIndex.read(spark, seg, InvertedIndex.PostingsTable)
        .select(col("term"), col("firstDocId"), col("count"), col("docDeltas"))
    }.reduce(_ unionByName _)
      .as[(String, Long, Int, Array[Byte])]
      .flatMap { case (t, f, c, d) =>
        PostingsCodec.decodeDocIds(f, c, d).iterator.map(id => (id, t))
      }
      .toDF("docId", "term")
    val fgCounts = pairs.join(fgIds, Seq("docId")).groupBy("term")
      .agg(count(lit(1)).as("fg"))
    val bgScans = segments.map(seg =>
      InvertedIndex.read(spark, seg, InvertedIndex.DictTable).select(col("term"), col("df")))
    val bg =
      if (segments.size == 1) bgScans.head
      else bgScans.reduce(_ unionByName _).groupBy("term").agg(sum("df").as("df"))
    val fgPct = col("fg") / lit(fgN.toDouble)
    val bgPct = col("bg") / lit(stats.numDocs.toDouble)
    fgCounts.join(bg.withColumnRenamed("df", "bg"), Seq("term"))
      .where(!col("term").isin(qTerms: _*))
      .select(col("term"), col("fg"), col("bg"),
        round((fgPct - bgPct) * (fgPct / bgPct), 6).as("score"))
      .orderBy(desc("score"), asc("term")).limit(size)
  }

  /** ES term suggester ("did you mean" — `upstream:` ES `suggest` with
    * `term`): dictionary terms within `maxEdits` classic-Levenshtein edits
    * of the input (the same length-banded executor-side distance scan as
    * [[expandFuzzy]], and the same pinned no-transpositions divergence from
    * Lucene's Damerau default), ranked the way ES sorts candidates —
    * (distance asc, df desc, term asc) — top `size`, the exact input term
    * excluded (a correction list, i.e. suggest_mode=always over dist >= 1).
    * The cut runs as a plan (TakeOrderedAndProject), never a driver sort.
    */
  /** ES PHRASE suggester, pinned v1 ("did you mean" over multi-term input):
    * the input must analyze to exactly TWO terms; each slot expands through
    * the dictionary (Levenshtein ≤ maxEdits, df-capped — distance 0 keeps a
    * correctly-spelled slot as its own candidate), and every candidate
    * bigram is ranked by its corpus ADJACENCY document frequency —
    * `(freq desc, suggestion asc)`, zero-frequency candidates dropped. ES
    * ranks by a smoothed n-gram language-model likelihood instead; the
    * bigram-df order is the unsmoothed core of that statistic and is what
    * the DuckDB twin expresses exactly (documented divergence, like B18's
    * idf pin). Longer inputs are a rejected shape, not a silent truncation.
    *
    * Plan shape: ONE positional scan of all candidate terms (the same
    * [[bucketedBlocks]] skeleton every phrase path uses; the expansions
    * fill the memo its small-scan gate reads); each bucket counts every
    * candidate pair in one pass (PhraseMatcher.bigramDfBucket), and the
    * only exchange moves ((l, r), partial-df) rows — pairs × buckets, never
    * documents. At 100 TB the suggester costs one phrase-shaped scan.
    */
  def suggestPhraseDf(input: String, maxEdits: Int = 1, maxExpansions: Int = 32,
      size: Int = 5): DataFrame = {
    requirePositions("phrase suggest")
    require(maxEdits >= 1 && size > 0, "maxEdits >= 1 and size > 0")
    val toks = graft.tokenize.CodeTokenizer.tokenize(input, analyzer)
    require(toks.length == 2,
      s"phrase suggest v1 takes exactly two analyzed terms, got ${toks.toSeq} from '$input'")
    val empty = spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("suggestion", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("freq", org.apache.spark.sql.types.LongType))))
    val c0 = expandFuzzy(toks(0), maxEdits, maxExpansions)
    val c1 = expandFuzzy(toks(1), maxEdits, maxExpansions)
    if (c0.isEmpty || c1.isEmpty) return empty
    val pairs = for { a <- c0; b <- c1 } yield (a, b)
    val pairsB = spark.sparkContext.broadcast(pairs)
    val allTerms = (c0 ++ c1).distinct.sorted.toSeq
    bucketedBlocks[((String, String), Long)](allTerms, withPositions = true) {
      (lo, hi, byTerm) =>
        PhraseMatcher.bigramDfBucket(byTerm, pairsB.value, lo, hi)
    }
      .toDF("pair", "df")
      .groupBy("pair").agg(sum("df").as("freq"))
      .select(concat_ws(" ", col("pair._1"), col("pair._2")).as("suggestion"), col("freq"))
      .orderBy(desc("freq"), asc("suggestion")).limit(size)
  }

  def suggestTermsDf(input: String, maxEdits: Int = 2, size: Int = 5,
      mode: String = "always"): DataFrame = {
    require(maxEdits >= 1 && size > 0, "maxEdits >= 1 and size > 0")
    require(Set("always", "popular", "missing").contains(mode),
      s"suggest_mode must be always|popular|missing, got '$mode'")
    val q = singleTerm(input, "suggest term")
    // ES suggest_mode gates against the INPUT's own df (a dictionary point
    // lookup — driver-side, k-row): `popular` keeps only corrections MORE
    // frequent than the input; `missing` suggests only when the input is
    // absent from the index entirely (df 0 makes `popular` degrade to
    // `always`, exactly ES).
    val inputDf: Long = if (mode == "always") 0L else termDfs(Array(q)).getOrElse(q, 0L)
    if (mode == "missing" && inputDf > 0L) {
      import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("term", StringType),
          StructField("dist", LongType), StructField("df", LongType))))
    }
    val scans = segments.map { seg =>
      InvertedIndex.read(spark, seg, InvertedIndex.DictTable)
        .where(length(col("term")).between(q.length - maxEdits, q.length + maxEdits))
        .withColumn("dist", levenshtein(col("term"), lit(q)).cast("long"))
        .where(col("dist") <= maxEdits && col("dist") >= 1)
        .select(col("term"), col("dist"), col("df"))
    }
    val merged =
      if (segments.size == 1) scans.head
      else scans.reduce(_ unionByName _).groupBy("term", "dist")
        .agg(sum("df").as("df")).select("term", "dist", "df")
    val gated = if (mode == "popular") merged.where(col("df") > inputDf) else merged
    gated.orderBy(asc("dist"), desc("df"), asc("term")).limit(size)
  }

  /** ES `completion` suggester analog (prefix autocomplete — `upstream:` ES
    * completion suggester; Lucene builds a dedicated weighted FST at index
    * time): the term-sorted dictionary IS that structure here — a range scan
    * over [prefix, bump(prefix)) ranked (df desc, term asc), top `size` as a
    * plan (TakeOrderedAndProject), exactly [[expandPrefixCapped]]'s scan with
    * the df kept in the output. PINNED WEIGHT: document frequency — ES ranks
    * completions by an indexed per-suggestion weight; df is the
    * corpus-derived analog (no weight field exists in this schema).
    * Dictionary-only: no postings, no documents touched.
    */
  def completionSuggestDf(prefix: String, size: Int): DataFrame = {
    require(size > 0, "size must be positive")
    val (lo, hi) = prefixBounds(prefix)
    val scans = segments.map(seg =>
      InvertedIndex.read(spark, seg, InvertedIndex.DictTable)
        .where(col("term") >= lo && col("term") < hi)
        .select(col("term"), col("df")))
    val merged =
      if (segments.size == 1) scans.head
      else scans.reduce(_ unionByName _).groupBy("term").agg(sum("df").as("df"))
    merged.orderBy(desc("df"), asc("term")).limit(size)
  }

  /** ES `terms` aggregation WITH a metric sub-aggregation (`upstream:` ES
    * sub-aggs — a `terms` bucket carrying an `avg` over a doc value): per
    * top-term bucket, doc_count plus the mean of a per-doc numeric.
    * `docValues` = (docId, value), one row per doc.
    *
    * Plan shape: ONE full ids-only postings scan (term + docIds — no
    * tf/dl/pos payloads in ReadSchema) joined to the doc-values frame, then
    * one map-side-combinable groupBy(term) computing count AND the mean
    * together, cut by TakeOrderedAndProject under the terms-agg
    * (df desc, term asc) order. count(*) per term IS df: a doc appears at
    * most once in a term's merged postings — the invariant df itself rests
    * on (same as [[significantTermsDf]]'s foreground counts). At 100 TB
    * this is the ES cost model — bucket collection reads doc values for
    * every (term, doc) pair; ES's own mitigations (shard_size, sampler)
    * bound the same two inputs and change nothing structural here.
    */
  def termsStatsDf(size: Int, docValues: DataFrame): DataFrame = {
    require(size > 0, "size must be positive")
    import spark.implicits._
    val pairs = segments.map { seg =>
      InvertedIndex.read(spark, seg, InvertedIndex.PostingsTable)
        .select(col("term"), col("firstDocId"), col("count"), col("docDeltas"))
    }.reduce(_ unionByName _)
      .as[(String, Long, Int, Array[Byte])]
      .flatMap { case (t, f, c, d) =>
        PostingsCodec.decodeDocIds(f, c, d).iterator.map(id => (id, t))
      }
      .toDF("docId", "term")
    pairs.join(docValues, Seq("docId"))
      .groupBy("term")
      .agg(count(lit(1)).as("df"), avg("value").as("avg_value"))
      .orderBy(desc("df"), asc("term")).limit(size)
  }

  /** ES `constant_score`: filter-context clauses with `boost` emitted as the
    * score of every matching doc — no BM25, no payload decode anywhere (the
    * underlying frame is [[searchBoolDf]]'s pure-filter ids-only membership
    * conjunction). The serving form of "filters are cache-friendly": the
    * same membership frame under any boost differs only by a literal.
    */
  def constantScoreDf(filter: Seq[String], boost: Double = 1.0): DataFrame = {
    require(filter.nonEmpty, "constant_score requires at least one filter clause")
    require(boost > 0.0 && !boost.isInfinite && !boost.isNaN,
      s"boost must be positive finite: $boost")
    searchBoolDf(Nil, Nil, Nil, filter = filter)
      .select(col("docId"), lit(boost).as("score"))
  }

  /** Bounded top-k over the fuzzy expansion — [[matchFuzzyDf]]'s serving
    * form (a client asks top-10, not the full scored match set): the capped
    * expansion's term metas feed the SAME Block-Max WAND as a plain match
    * (each expanded term under its own idf — the pinned divergence from
    * Lucene's blended-idf rewrite, documented at [[matchFuzzyDf]]).
    */
  def fuzzyTopK(term: String, maxEdits: Int = 2, k: Int = 10,
      maxExpansions: Int = 50, prefixLength: Int = 0): Array[SearchHit] = {
    requireTopK(k, "matchFuzzyDf")
    bmwTopK(termMeta(expandFuzzy(term, maxEdits, maxExpansions, prefixLength)), k)
  }

  /** Bounded top-k over the wildcard expansion, scored as a term OR (the
    * constant_score membership form stays [[matchWildcardDf]]).
    */
  def wildcardTopK(pattern: String, k: Int = 10,
      maxExpansions: Int = 128): Array[SearchHit] = {
    requireTopK(k, "scoreAllTerms(expandWildcard(pattern))")
    bmwTopK(termMeta(expandWildcard(pattern, maxExpansions)), k)
  }

  /** Bounded top-k over the more_like_this term selection — note the
    * SOURCE DOC is not excluded here (the caller filters it, as
    * DocumentsIndex.moreLikeThis does); fetch k+1 when excluding.
    */
  def mltTopK(likeText: String, k: Int = 10, maxQueryTerms: Int = 25): Array[SearchHit] = {
    requireTopK(k, "scoreAllTerms(selectMltTerms(likeText))")
    bmwTopK(termMeta(selectMltTerms(likeText, maxQueryTerms)), k)
  }

  /** ES `prefix` query (SURVEY.md §2.3 B17): docs containing at least one
    * term starting with `prefix`, with `n_terms` = the distinct matching
    * terms in the doc (ES's constant_score form is `lit(1.0)` over this
    * membership set). The postings scan carries the RANGE predicate
    * `lo <= term < hi` — NOT an expanded isin list, which at corpus scale
    * could be thousands of terms — so row-group term min/max stats prune
    * within each term-sorted bucket file. (Catalog-level tbucket pruning is
    * inherently unavailable to prefix queries: hash bucketing scatters a
    * term RANGE across all buckets — the documented trade of the v4 layout;
    * the range rides the row-group stats instead.) One ids-only decode into
    * [[membershipCounts]]: when the probe below found the complete
    * expansion under the small-scan gate, one narrow partition and no
    * exchange; otherwise one groupBy(docId) exchange, distributed
    * end-to-end.
    */
  def matchPrefixDf(prefix: String, pruneCap: Int = 64): DataFrame = {
    val (lo, hi) = prefixBounds(prefix)
    // ES maxExpansions analog as a PRUNING lever: when the dictionary says
    // the range expands to <= pruneCap terms, those terms' tbuckets become a
    // catalog-level partition filter next to the range (a selective prefix
    // then reads a handful of bucket directories instead of paying
    // O(buckets) footer reads); above the cap — or at pruneCap <= 0 — the
    // pure range scan stands, pruned by row-group term stats only.
    val expanded = if (pruneCap <= 0) None else prefixProbe(lo, hi, pruneCap)
    val scans = segments.zip(segBuckets).map { case (seg, b) =>
      val rangePred = col("term") >= lo && col("term") < hi
      val pred = expanded match {
        case Some(terms) =>
          val tbs = terms.map(t => InvertedIndex.termBucket(t, b)).distinct.toSeq
          col("tbucket").isin(tbs: _*) && rangePred
        case None => rangePred
      }
      InvertedIndex.read(spark, seg, InvertedIndex.PostingsTable)
        .where(pred)
        .select(col("term"), col("firstDocId"), col("count"), col("docDeltas"))
    }
    membershipCounts(scans.reduce(_ unionByName _), expanded.map(_.toSeq))
  }

  /** The complete expansion of [lo, hi) when it holds at most `cap` terms,
    * else None. While [[resident]] is held: a binary-searched range of the
    * resident table, counted before any term is materialized. Otherwise
    * BOUNDED: each segment's range scan stops at cap + 1 rows (never
    * expandPrefix's full collect — a stopword-scale prefix at corpus scale
    * must not land its whole expansion on the driver just to learn it
    * exceeded the cap), and `coalesce(1)` keeps that limit to one job per
    * segment instead of a partition scale-up over several. That one task
    * reads the segment's dictionary files one after another, and a
    * selective range never reaches the limit early: the gain is measured
    * only on 4-partition dictionaries (6,000 docs), not on a segment with
    * hundreds of dictionary files. There a complete expansion's dictionary
    * rows seed the dictionary memo (the small-scan gate reads its df sum
    * there). Either way the result is memoized like every capped
    * expansion, so a repeated prefix skips the probe.
    */
  private[graft] def prefixProbe(lo: String, hi: String, cap: Int): Option[Array[String]] =
    memoExpansion("prefix_probe", lo, cap) {
      resident match {
        case Some(d) => if (d.rangeSize(lo, hi) > cap) None else Some(d.inRange(lo, hi))
        case None =>
          val per = segments.map(seg =>
            InvertedIndex.read(spark, seg, InvertedIndex.DictTable)
              .where(col("term") >= lo && col("term") < hi)
              .select(DictMetaCols.map(col): _*)
              .coalesce(1).limit(cap + 1).collect().map(dictMetaRow))
          val merged = foldDictRows(per.flatten)
          if (per.exists(_.length > cap) || merged.size > cap) None
          else {
            // every segment's whole range is in hand, so the fold is each
            // term's complete merged row
            memoizeDict(merged.iterator.map { case (t, v) => t -> Some(v) }.toSeq)
            Some(merged.keys.toArray.sorted)
          }
      }
    }

  /** ES `wildcard` query (non-anchored — `*substr*` and friends): docs
    * containing at least one dictionary term matching the glob, with the
    * distinct matched-term count. Serving = dictionary expansion (capped)
    * feeding the SAME tbucket-pruned membership scan as prefix — the
    * expansion is the only wildcard-specific piece.
    */
  def matchWildcardDf(pattern: String, maxExpansions: Int = 128): DataFrame = {
    val terms = expandWildcard(pattern, maxExpansions)
    if (terms.isEmpty) return emptyMembership
    membershipCounts(idScanWithTerm(terms.toSeq), Some(terms.toSeq))
  }

  /** (term, firstDocId, count, docDeltas) blocks of an explicit term list,
    * tbucket-pruned — membership scans never read payload columns.
    */
  /** ES `terms` query membership — the serving frame of the TERMS-LOOKUP
    * form (terms fetched from another document's field): every doc
    * containing AT LEAST ONE of the given terms, with `n_matched` = how
    * many distinct ones hit (ES scores a terms query constant per match —
    * the count is the richer superset both forms cut from). Ids-only
    * postings scan of exactly these terms into [[membershipCounts]] — the
    * B17/B20 membership tail over an explicit list.
    */
  def termsSetDf(terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "terms query needs at least one term")
    val norm = terms.map(singleTerm(_, "terms query term")).distinct
    membershipCounts(idScanWithTerm(norm), Some(norm)).withColumnRenamed("n_terms", "n_matched")
  }

  /** ES `_explain` in batch form — the score breakdown the explain API
    * returns per hit, here one frame for the top-k protocol hits: a row per
    * (doc, present query term) carrying tf, dl, and the term's BM25
    * contribution (idf × tfNorm — the LEAVES of ES's explanation tree;
    * their term-sorted sum is the hit's score, the pinned fold). Absent
    * terms contribute no row, exactly like Lucene's sub-explanations.
    *
    * Plan: the top-k cut is ONE TakeOrderedAndProject over the rank-all
    * frame; the breakdown re-reads ONLY the query terms' postings joined to
    * that bounded id set (broadcastable) — explain costs one extra bounded
    * join, never a second corpus pass.
    */
  def explainDf(query: String, k: Int): DataFrame = {
    require(k > 0, "explain needs k > 0")
    import spark.implicits._
    val terms = analyze(query)
    val metas = termMeta(terms)
    if (metas.isEmpty)
      return spark.emptyDataset[(Long, String, Long, Long, Double)]
        .toDF("docId", "term", "tf", "dl", "contrib")
    val topIds = scoreAllDf(query)
      .select(col("docId"), round(col("score"), 6).as("s"))
      .orderBy(desc("s"), asc("docId")).limit(k)
      .select("docId")
    val idfs = metas.toSeq.map { case (t, m) => (t, m.idf) }.toDF("term", "idf")
    val pp = p
    val avgDl = stats.avgDl
    postingsFor(metas.keys.toSeq.sorted)
      .flatMap { b =>
        val ids = PostingsCodec.decodeDocIds(b.firstDocId, b.count, b.docDeltas)
        val tfs = PostingsCodec.decodeTfs(b.count, b.tfs)
        val dls = PostingsCodec.decodeDls(b.count, b.dls)
        Iterator.tabulate(b.count)(i => (ids(i), b.term, tfs(i).toLong, dls(i).toLong))
      }
      .toDF("docId", "term", "tf", "dl")
      .join(topIds, Seq("docId"))
      .join(broadcast(idfs), Seq("term"))
      .select(col("docId"), col("term"), col("tf"), col("dl"),
        round(col("idf") * (col("tf") / (col("tf")
          + lit(pp.k1) * (lit(1.0 - pp.b) + lit(pp.b) * col("dl") / lit(avgDl)))), 6)
          .as("contrib"))
      .orderBy("docId", "term")
  }

  /** ES `percolate` — the REVERSE search: a registry of STORED queries, and
    * documents are matched against all of them at once (here the
    * "percolate existing documents" API form: every indexed doc tested
    * against every stored query). Pinned v1: stored queries are term
    * CONJUNCTIONS (the percolator's candidate-matching core — ES itself
    * pre-filters stored queries through exactly this extracted-terms
    * conjunction index before running the full query). Output one
    * (docId, query) row per match.
    *
    * Plan: ONE ids-only scan of the UNION of every stored query's terms;
    * each (docId, term) posting fans out to the queries containing that
    * term through a BROADCAST term→queries map; one map-side-combined
    * groupBy (docId, query) counts present terms, and == |query terms| is
    * the match (valid because postings hold one row per (term, doc) — the
    * df invariant). Exchanges move (docId, query) partials, never
    * documents; the registry broadcasts (percolator registries are
    * query-sized). An absent term simply never arrives, so its queries
    * can't reach their count — unsatisfiable queries cost nothing.
    */
  def percolateDf(queries: Seq[(String, Seq[String])]): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty, "percolate needs at least one stored query")
    require(queries.map(_._1).distinct.size == queries.size,
      "stored query names must be unique")
    val norm = queries.map { case (n, ts) =>
      require(ts.nonEmpty, s"stored query '$n' has no terms")
      n -> ts.map(singleTerm(_, s"percolator term of '$n'")).distinct.sorted
    }
    val termToQ: Map[String, Array[String]] = norm
      .flatMap { case (n, ts) => ts.map(_ -> n) }
      .groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sorted.toArray }
    val tqB = spark.sparkContext.broadcast(termToQ)
    val needed = norm.map { case (n, ts) => (n, ts.size) }.toDF("query", "n_terms")
    idScanWithTerm(termToQ.keys.toSeq.sorted)
      .as[(String, Long, Int, Array[Byte])]
      .flatMap { case (t, f, c, d) =>
        val qs = tqB.value(t)
        PostingsCodec.decodeDocIds(f, c, d).iterator
          .flatMap(id => qs.iterator.map(q => (id, q)))
      }
      .toDF("docId", "query")
      .groupBy("docId", "query").agg(count(lit(1)).as("present"))
      .join(broadcast(needed), Seq("query"))
      .where(col("present") === col("n_terms"))
      .select(col("docId"), col("query"))
  }

  private def idScanWithTerm(terms: Seq[String]): DataFrame =
    segments.zip(segBuckets).map { case (seg, b) =>
      val tb = terms.map(t => InvertedIndex.termBucket(t, b)).distinct
      InvertedIndex.read(spark, seg, InvertedIndex.PostingsTable)
        .where(col("tbucket").isin(tb: _*) && col("term").isin(terms: _*))
        .select(col("term"), col("firstDocId"), col("count"), col("docDeltas"))
    }.reduce(_ unionByName _)

  /** Shared membership tail of the prefix/wildcard/regexp/terms family:
    * (docId, n_terms = the distinct scanned terms in the doc). Under the
    * [[singleBucket]] gate at `SingleBucketMaxPostings` over `terms` (the
    * scan's exact term list, when known) the scan coalesces to ONE narrow
    * partition that decodes the ids and counts them per doc — no exchange,
    * so a `.count()` of the frame is one job; otherwise an ids-only decode
    * flatMap and one groupBy(docId) exchange. Postings hold one row per
    * (term, doc) and segment docId ranges are disjoint, so a plain count per
    * doc IS the distinct-term count in both plans.
    */
  private def membershipCounts(scan: DataFrame, terms: Option[Seq[String]]): DataFrame = {
    import spark.implicits._
    val blocks = scan.as[(String, Long, Int, Array[Byte])]
    if (terms.exists(singleBucket(_, SingleBucketMaxPostings)))
      blocks.coalesce(1).mapPartitions { it =>
        val n = scala.collection.mutable.LongMap.empty[Long]
        it.foreach { case (_, f, c, d) =>
          PostingsCodec.decodeDocIds(f, c, d).foreach(id => n.update(id, n.getOrElse(id, 0L) + 1L))
        }
        n.iterator
      }.toDF("docId", "n_terms")
    else
      blocks.flatMap { case (_, f, c, d) => PostingsCodec.decodeDocIds(f, c, d) }
        .toDF("docId")
        .groupBy("docId")
        .agg(count(lit(1)).as("n_terms"))
  }

  private def emptyMembership: DataFrame =
    emptyResult("n_terms", org.apache.spark.sql.types.LongType)

  /** Shared preamble of every positional query: the index must store
    * positions, and the empty result carries (docId, <countCol>: int).
    */
  private def requirePositions(what: String): Unit =
    segments.zip(segHasPositions).foreach { case (seg, has) =>
      require(has,
        s"$what query needs positions but segment $seg was built with storePositions = false — rebuild it")
    }

  private def emptyPositional(countCol: String): DataFrame =
    emptyResult(countCol, org.apache.spark.sql.types.IntegerType)

  /** Tokenize positional-query text under the index analyzer. PINNED: a
    * stopword INSIDE a phrase/span query is rejected loudly — the index
    * preserves stopword positions as gaps (so stopword-free phrases behave
    * exactly like ES over stop-analyzed fields), but matching ACROSS a
    * query-side gap (ES analyzes the query with the same stop filter and
    * matches x@0..y@2 over the hole) is not supported; refusing beats
    * silently diverging.
    */
  private def positionalTokens(text: String, what: String): Array[String] = {
    val toks = CodeTokenizer.tokenize(text)
    if (!analyzer.isDefault) {
      val stopped = toks.filterNot(analyzer.keep)
      require(stopped.isEmpty,
        s"$what contains stopword(s) ${stopped.distinct.mkString(",")} of this index's " +
          "analyzer — positional queries across stopword gaps are not supported (pinned)")
    }
    toks
  }

  /** Positional phrase match (SURVEY.md §2.3 B15; ES `match_phrase` with
    * `slop`, exact positions): every doc where the analyzed phrase's tokens
    * occur in order within `slop` extra positions of slack (slop = 0 =
    * consecutive; semantics pinned in PhraseMatcher — ordered only), with
    * `phrase_tf` = the matching-start count (no top-k cut: phrase hit sets
    * are small by nature, and callers compose scoring/limits relationally).
    *
    * Plan shape: ONLY the phrase terms' blocks are scanned (tbucket + term
    * pruning), WITH their `pos` column — the one path that reads it — into
    * [[bucketedBlocks]]: under the small-scan gate (the termMeta below fills
    * the memo it reads) one narrow partition, so a `.count()` is one job;
    * above it the blocks re-bucket by docId range through one exchange.
    * Each bucket intersects docIds first and decodes positions lazily per
    * candidate block (PhraseMatcher). A term absent from every segment
    * short-circuits to empty — phrase is conjunctive.
    */
  def matchPhraseDf(phrase: String, slop: Int = 0): DataFrame = {
    requirePositions("phrase")
    val emptyOut = emptyPositional("phrase_tf")
    val tokens = positionalTokens(phrase, "match_phrase")
    if (tokens.isEmpty) return emptyOut
    val distinct = tokens.distinct.toSeq.sorted
    val meta = termMeta(distinct.toArray)
    if (distinct.exists(t => !meta.contains(t))) return emptyOut
    val tokensB = spark.sparkContext.broadcast(tokens)
    val sl = slop
    bucketedBlocks[(Long, Int)](distinct, withPositions = true) { (lo, hi, byTerm) =>
      // a bucket missing any distinct term can't host a conjunctive match
      if (tokensB.value.exists(t => !byTerm.contains(t))) Iterator.empty
      else PhraseMatcher.matchBucket(byTerm, tokensB.value, lo, hi, sl).iterator
    }
      .toDF("docId", "phrase_tf")
  }

  /** ES/Lucene `span_near` with `in_order = false` (SURVEY.md §7.7's last
    * engine absence): docs where every distinct query term occurs within
    * total positional gap <= `slop` of the others in SOME window, with
    * `min_gap` = the tightest cover's gap. The ordered form is
    * [[matchPhraseDf]] with slop. Same positional plan shape: only the
    * terms' blocks (with pos), bucketed, candidate-then-payload.
    */
  def matchSpanNearDf(query: String, slop: Int): DataFrame = {
    requirePositions("span")
    val emptyOut = emptyPositional("min_gap")
    val terms = positionalTokens(query, "span_near").distinct.sorted
    if (terms.isEmpty) return emptyOut
    val meta = termMeta(terms)
    if (terms.exists(t => !meta.contains(t))) return emptyOut // conjunctive
    val termsB = spark.sparkContext.broadcast(terms)
    val sl = slop
    bucketedBlocks[(Long, Int)](terms.toSeq, withPositions = true) { (lo, hi, byTerm) =>
      if (termsB.value.exists(t => !byTerm.contains(t))) Iterator.empty
      else PhraseMatcher.matchNearBucket(byTerm, termsB.value, lo, hi, sl).iterator
    }
      .toDF("docId", "min_gap")
  }

  /** Lucene `SpanMultiTermQueryWrapper` inside `SpanNearQuery` (ES
    * `span_near` over a `span_multi` prefix clause + a term clause,
    * unordered, pinned v1 = this two-clause shape — the wrapper's whole
    * point is composing an expansion INTO span position arithmetic; alone
    * it degrades to the B17 membership count). The multi clause expands the
    * prefix through the SAME df-capped dictionary scan as every expansion
    * (`expandPrefixCapped`), its span set is the union of the expansion
    * terms' occurrences, and the pair cover reuses the span_near sweep.
    * Output (docId, min_gap), gap ≤ slop, integer-exact. `other` ∈
    * expansion is rejected: the shared occurrence would cover itself at
    * gap −1 (Lucene's overlapping-spans ambiguity — pinned away loudly).
    *
    * Plan: ONE positional scan of expansion ∪ {other} blocks (tbucket +
    * term pruned), the other term anchoring the bucket walk so expansion
    * positions decode at candidate docs only — a broad prefix costs its
    * postings scan, never a position decode of the whole expansion.
    */
  def matchSpanMultiNearDf(prefix: String, other: String, slop: Int,
      maxExpansions: Int = 128): DataFrame = {
    import spark.implicits._
    requirePositions("span_multi")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    val oth = singleTerm(other, "span_multi other clause")
    val exp = expandPrefixCapped(prefix, maxExpansions)
    require(!exp.contains(oth),
      s"span_multi expansion of '$prefix' contains the other clause '$oth' — " +
        "overlapping spans would cover themselves (shape pinned away)")
    if (exp.isEmpty) return emptyPositional("min_gap")
    val (expB, othB, sl) = (exp, oth, slop)
    bucketedBlocks[(Long, Int)]((exp :+ oth).toSeq, withPositions = true) {
      (lo, hi, byTerm) =>
        PhraseMatcher.spanMultiNearBucket(byTerm, expB, othB, lo, hi, sl)
    }
      .toDF("docId", "min_gap")
  }

  /** Lucene `SpanNotQuery` (ES `span_not`, pinned v1 = term spans): include
    * occurrences with NO exclude occurrence inside [p − pre, p + post]
    * (inclusive — ES's pre/post token slack). Output (docId, n_spans) =
    * surviving-occurrence counts, integer-exact. An ABSENT exclude term
    * degrades to the plain positional term count (the exclude side never
    * gates — sbt-gated); include == exclude is rejected (every occurrence
    * excludes itself at any pre/post ≥ 0 — always empty, a shape error).
    * Plan: the b16-family positional scan of BOTH terms' blocks, the walk
    * bucket-local (PhraseMatcher.spanNotBucket) in [[bucketedBlocks]] —
    * exclude positions decode only at candidate docs.
    */
  def matchSpanNotDf(include: String, exclude: String, pre: Int, post: Int): DataFrame = {
    import spark.implicits._
    requirePositions("span_not")
    require(pre >= 0 && post >= 0, s"pre/post must be >= 0, got ($pre, $post)")
    val inc = singleTerm(include, "span_not include")
    val exc = singleTerm(exclude, "span_not exclude")
    require(inc != exc, "span_not include == exclude always matches nothing")
    val (prN, poN) = (pre, post)
    val (incB, excB) = (inc, exc)
    bucketedBlocks[(Long, Int)](Seq(inc, exc), withPositions = true) { (lo, hi, byTerm) =>
      PhraseMatcher.spanNotBucket(byTerm, incB, excB, prN, poN, lo, hi)
    }
      .toDF("docId", "n_spans")
  }

  /** Lucene `SpanContainingQuery` (ES `span_containing`): big spans that
    * hold a little span — pinned v1: big = the unordered (a, b) near
    * window at gap ≤ slop, little = a term. Output (docId, n_spans) =
    * DISTINCT containing windows per doc, integer-exact. Degenerate shapes
    * reject loudly: a == b (no two-term window), little ∈ {a, b} (every
    * window trivially holds its own endpoints). Plan: ONE positional scan
    * of the three terms' blocks, the containment walk bucket-local
    * (PhraseMatcher.spanContainBucket — a-driven, b/little probed at
    * candidate docs only) in [[bucketedBlocks]].
    */
  def matchSpanContainingDf(a: String, b: String, slop: Int,
      little: String): DataFrame =
    spanContainOf(a, b, slop, little, within = false)

  /** Lucene `SpanWithinQuery` (ES `span_within`) — the inverse of
    * [[matchSpanContainingDf]]: little occurrences that sit inside ≥ 1 big
    * window; (docId, n_spans) = DISTINCT contained little positions.
    */
  def matchSpanWithinDf(a: String, b: String, slop: Int,
      little: String): DataFrame =
    spanContainOf(a, b, slop, little, within = true)

  /** The span_containing / span_within body. */
  private def spanContainOf(a: String, b: String, slop: Int, little: String,
      within: Boolean): DataFrame = {
    import spark.implicits._
    requirePositions(if (within) "span_within" else "span_containing")
    require(slop >= 0, s"slop must be >= 0, got $slop")
    val (ta, tb) = (singleTerm(a, "span big term"), singleTerm(b, "span big term"))
    val tc = singleTerm(little, "span little term")
    require(ta != tb, "span big needs two DISTINCT terms")
    require(tc != ta && tc != tb,
      "little ∈ big's terms holds trivially in every window — a shape error")
    val (aN, bN, cN, sl, w) = (ta, tb, tc, slop, within)
    bucketedBlocks[(Long, Int)](Seq(ta, tb, tc).distinct.sorted, withPositions = true) {
      (lo, hi, byTerm) =>
        PhraseMatcher.spanContainBucket(byTerm, aN, bN, sl, cN, lo, hi, w)
    }
      .toDF("docId", "n_spans")
  }

  /** Lucene `SpanFirstQuery` (ES `span_first`): the term must occur within
    * the first `end` token slots — a span [p, p+1) matches when p + 1 ≤ end,
    * i.e. p < end over the 0-based positions. Output (docId, first_pos)
    * where first_pos is the doc's EARLIEST occurrence (necessarily the
    * matching one — positions decode sorted ascending); integer-exact, no
    * float protocol. Plan: ONE positional scan of the single term's blocks
    * with the check running block-local — a single-term span needs no
    * conjunction and no bucket re-grouping, so nothing exchanges beyond the
    * pruned scan itself.
    */
  def matchSpanFirstDf(term: String, end: Int): DataFrame = {
    import spark.implicits._
    requirePositions("span_first")
    require(end >= 1, s"span_first end must be >= 1, got $end")
    val t = singleTerm(term, "span_first term")
    val e = end
    postingsFor(Seq(t), withPositions = true)
      .flatMap { b =>
        val ids = PostingsCodec.decodeDocIds(b.firstDocId, b.count, b.docDeltas)
        val tfs = PostingsCodec.decodeTfs(b.count, b.tfs)
        val poss = PostingsCodec.decodePositions(tfs, b.pos)
        Iterator.tabulate(b.count)(i => (ids(i), poss(i)(0))).filter(_._2 < e)
      }
      .toDF("docId", "first_pos")
  }

  /** ES `match_bool_prefix` (the positionless autocomplete sibling of
    * match_phrase_prefix): every token but the last is an ordinary scored
    * term clause — the bool-should BM25 sum, each under its own idf — and
    * the LAST token is a PREFIX clause. Lucene executes that prefix under
    * its constant-score rewrite, so it contributes exactly the boost
    * (pinned 1.0) to every doc matching ANY expansion — never a
    * per-expansion BM25 sum (that scored shape is match_phrase_prefix's,
    * a different query). Any single clause suffices (bool
    * minimum_should_match = 1), so prefix-only docs match at score 1.0.
    *
    * Plan: the init terms ride the shared rank-all fold; the prefix rides
    * the ids-only membership scan over the capped expansion (no payload
    * bytes — constant score needs no tf); ONE full outer join stitches
    * the two score columns, both sides keyed by docId. Nothing
    * corpus-sized touches the driver; the expansion cap bounds the
    * membership scan exactly as in B17.
    */
  def matchBoolPrefixDf(query: String, maxExpansions: Int = 32): DataFrame = {
    val terms = analyze(query)
    require(terms.length >= 2,
      s"match_bool_prefix wants >= 2 analyzed tokens (terms + trailing prefix), got '$query'")
    val exp = expandPrefixCapped(terms.last, maxExpansions)
    val scored = scoreAllTerms(terms.init)
    val pids =
      if (exp.isEmpty) emptyResult("docId", org.apache.spark.sql.types.LongType)
      else distinctIds(exp.toSeq)
    scored.join(pids.withColumn("pmatch", lit(1.0)), Seq("docId"), "full_outer")
      .select(col("docId"),
        (coalesce(col("score"), lit(0.0)) + coalesce(col("pmatch"), lit(0.0))).as("score"))
  }

  /** ES `match_phrase_prefix` (autocomplete-style: the LAST token is a
    * prefix): phrase where slot n-1 accepts ANY dictionary term starting
    * with that prefix, expanded df-ranked up to `maxExpansions` (ES's cap
    * of the same name; ours picks by (df desc, term asc) — documented
    * divergence from Lucene's term-order pick), composed with the ordered
    * `slop` semantics. Same plan shape as [[matchPhraseDf]] — only the
    * expansion terms' blocks join the scan, and the last slot's position
    * list is the union of its present alternatives (PhraseMatcher
    * .matchBucketAlts).
    */
  def matchPhrasePrefixDf(phrase: String, maxExpansions: Int = 32,
      slop: Int = 0): DataFrame = {
    requirePositions("phrase")
    val emptyOut = emptyPositional("phrase_tf")
    val tokens = positionalTokens(phrase, "match_phrase_prefix")
    if (tokens.isEmpty) return emptyOut
    val fixed = tokens.init
    // fixed slots are conjunctive: any df=0 token kills the phrase — ONE
    // dictionary lookup, checked BEFORE paying the expansion job
    // (expansion terms come from the dictionary, so df > 0 by construction)
    val fixedMeta = termMeta(fixed.distinct)
    if (fixed.distinct.exists(t => !fixedMeta.contains(t))) return emptyOut
    val expansion = expandPrefixCapped(tokens.last, maxExpansions)
    if (expansion.isEmpty) return emptyOut
    val slots: Array[Array[String]] = fixed.map(Array(_)) :+ expansion
    val slotsB = spark.sparkContext.broadcast(slots)
    val sl = slop
    val scanTerms = (fixed ++ expansion).distinct.sorted.toSeq
    bucketedBlocks[(Long, Int)](scanTerms, withPositions = true) { (blo, bhi, byTerm) =>
      PhraseMatcher.matchBucketAlts(byTerm, slotsB.value, blo, bhi, sl).iterator
    }
      .toDF("docId", "phrase_tf")
  }

  /** ES `match_phrase` SCORED form — Lucene PhraseQuery under
    * BM25Similarity: the phrase behaves as ONE pseudo-term whose tf is the
    * matching-start count ([[matchPhraseDf]]'s `phrase_tf`) and whose idf is
    * the SUM of the member terms' idfs over the phrase's token SEQUENCE
    * (duplicates counted — Lucene's PhraseWeight sums one TermStatistics per
    * phrase position): score = (Σ_seq idf) · tfNorm(phrase_tf, dl, avgdl).
    *
    * Float protocol: the idf sum is a driver-side left fold in token order
    * and tfNorm is spelled column-wise exactly as Bm25.tfNorm and the DuckDB
    * twin spell it (`tf / (tf + k1·((1−b) + b·dl/avgdl))`), so 6-dp parity
    * holds. dl comes from every committed segment's registry — the
    * doc-values read ES does at score time (and the same base-only-read
    * trap as docIdMapOf: delta docs register in their own docs table).
    * Plan shape: the positional match's one exchange + a docId equi-join to
    * the registry — still only the phrase terms' blocks are scanned.
    */
  def phraseScoreDf(phrase: String, slop: Int = 0): DataFrame = {
    val tokens = positionalTokens(phrase, "match_phrase")
    if (tokens.isEmpty) return emptyHits
    val meta = termMeta(tokens.distinct.sorted)
    if (tokens.distinct.exists(t => !meta.contains(t))) return emptyHits
    val idfSum = tokens.foldLeft(0.0)((acc, t) => acc + meta(t).idf)
    val dl = segments.map(seg => InvertedIndex.read(spark, seg, InvertedIndex.DocsTable)
      .select(col("docId"), col("dl"))).reduce(_ unionByName _)
    matchPhraseDf(phrase, slop).join(dl, Seq("docId"))
      .select(col("docId"),
        (lit(idfSum) * (col("phrase_tf") /
          (col("phrase_tf") + lit(p.k1) * (lit(1.0 - p.b) + lit(p.b) * col("dl") / lit(stats.avgDl)))))
          .as("score"))
  }

  /** Lucene classic `query_string` (pinned v1 grammar — [[QueryString]]):
    * compile each clause to its operator's frame and compose under
    * BooleanQuery semantics. Per-clause scoring (pinned):
    *   - term: BM25 ([[scoreAllTerms]] — one pruned postings scan + agg);
    *   - phrase: PhraseQuery BM25 ([[phraseScoreDf]]);
    *   - prefix: constant 1.0 when the doc contains any expansion term —
    *     Lucene's CONSTANT_SCORE rewrite for multi-term queries.
    * score = left fold of the matching clauses' contributions in clause
    * APPEARANCE order (pinned; the twin spells the same additions in the
    * same order — searchBoolDf's sorted-TERM fold associates differently,
    * a sub-ulp divergence the 6-dp output protocol absorbs). Match rule
    * (Lucene BooleanQuery): every '+' clause present, no '-' clause
    * present, and with zero '+' clauses at least one optional clause
    * present.
    *
    * Plan shape: one term/tbucket-pruned scan + aggregate per clause,
    * composed by docId equi-joins (inner for required, full outer across
    * optionals, anti for prohibited) — clause-count-many joins over
    * already-aggregated frames, never a corpus scan. A PURE-TERM
    * query_string is better served by searchBool/searchBoolDf (ONE
    * aggregate, and the bucketed top-k exists there); this composer is for
    * the mixed-kind queries those can't express.
    */
  def queryStringDf(q: String): DataFrame =
    composeClauses(QueryString.parse(q))

  /** ES `simple_query_string` (pinned v1 grammar — [[QueryString.parseSimple]]):
    * the SAME clause algebra, scoring and plan shape as [[queryStringDf]]
    * (the BooleanQuery composer is shared), different surface syntax and a
    * LENIENT contract — `|` OR separators, infix `+` AND, leading `-`,
    * phrases, trailing-`*` prefixes; malformed operators degrade to literal
    * text and empty clauses drop, so this path never throws on user input
    * (ES's documented simple_query_string contract). Raw term chunks fan
    * out through the analyzer here (one clause per emitted token, chunk's
    * occur preserved) — ES analyzes free text, and a chunk like `a.b` is
    * two terms to this tokenizer; a prefix chunk keeps its LAST analyzed
    * token as the prefix and fans earlier tokens out as same-occur terms
    * (lenient pin). Pure-negative or empty-after-analysis queries match
    * nothing (Lucene's pure-prohibited bool).
    */
  def simpleQueryStringDf(q: String): DataFrame = {
    import QueryString._
    val flat = parseSimple(q).flatMap {
      case Clause(Term(t), occ) =>
        CodeTokenizer.tokenize(t, analyzer).map(tok => Clause(Term(tok), occ)).toSeq
      case Clause(Prefix(pfx), occ) =>
        val toks = CodeTokenizer.tokenize(pfx, analyzer)
        if (toks.isEmpty) Seq.empty
        else toks.init.map(tok => Clause(Term(tok), occ)).toSeq :+
          Clause(Prefix(toks.last), occ)
      case c @ Clause(Phrase(_), _) => Seq(c)
    }
    if (flat.isEmpty || !flat.exists(_.occur >= 0)) emptyHits
    else composeClauses(flat)
  }

  private def composeClauses(clauses: Seq[QueryString.Clause]): DataFrame = {
    // prefetch every term/phrase clause's dictionary rows in ONE job — the
    // per-clause frames below then hit the reader's dictionary memo instead
    // of each paying its own lookup job (r07; a 4-clause query_string ran
    // 4 dictionary jobs of pure fixed latency)
    locally {
      val toks = clauses.iterator.map(_.body).flatMap {
        case QueryString.Term(t) => CodeTokenizer.tokenize(t, analyzer)
        case QueryString.Phrase(t) => CodeTokenizer.tokenize(t, analyzer)
        case _ => Array.empty[String]
      }.toArray.distinct
      if (toks.nonEmpty) { termMeta(toks); () }
    }
    def frame(b: QueryString.Body): DataFrame = b match {
      case QueryString.Term(t) =>
        val toks = CodeTokenizer.tokenize(t, analyzer)
        require(toks.length == 1,
          s"query_string term '$t' analyzes to ${toks.length} tokens — quote a phrase or split clauses")
        scoreAllTerms(toks)
      case QueryString.Phrase(t) => phraseScoreDf(t)
      case QueryString.Prefix(pfx) =>
        matchPrefixDf(pfx).select(col("docId"), lit(1.0).as("score"))
    }
    def idsOf(b: QueryString.Body): DataFrame = b match {
      case QueryString.Term(t) =>
        val toks = CodeTokenizer.tokenize(t, analyzer)
        require(toks.length == 1,
          s"query_string term '$t' analyzes to ${toks.length} tokens — quote a phrase or split clauses")
        distinctIds(toks.toSeq)
      case QueryString.Phrase(t) => matchPhraseDf(t).select("docId")
      case QueryString.Prefix(pfx) => matchPrefixDf(pfx).select("docId")
    }
    val scoring = clauses.zipWithIndex.filter(_._1.occur >= 0)
    val named = scoring.map { case (c, idx) =>
      (idx, c.occur, frame(c.body).withColumnRenamed("score", s"s_$idx"))
    }
    val req = named.filter(_._2 > 0)
    val opt = named.filter(_._2 == 0)
    val base: DataFrame =
      if (req.nonEmpty)
        opt.foldLeft(req.map(_._3).reduce((a, b) => a.join(b, Seq("docId"), "inner")))(
          (acc, o) => acc.join(o._3, Seq("docId"), "left_outer"))
      else opt.map(_._3).reduce((a, b) => a.join(b, Seq("docId"), "full_outer"))
    // fold in appearance order; optionals absent from a doc contribute 0
    val contribCols = scoring.map { case (c, idx) =>
      if (c.occur > 0) col(s"s_$idx") else coalesce(col(s"s_$idx"), lit(0.0))
    }
    val scored = base.select(col("docId"), contribCols.reduce(_ + _).as("score"))
    clauses.filter(_.occur < 0).foldLeft(scored)(
      (acc, c) => acc.join(idsOf(c.body), Seq("docId"), "left_anti"))
  }

  /** ES `dis_max` over match subqueries: the best-matching subquery wins;
    * others contribute via `tie_breaker` — score = max + tb·(Σ − max) over
    * the per-subquery scores (absent subquery = 0; BM25 scores are
    * positive, so folding 0 preserves both the max and the sum over the
    * PRESENT scorers, which is what Lucene's DisjunctionMaxQuery computes).
    * Relational rank-all: per-subquery [[scoreAllDf]] frames full-outer
    * joined on docId; the combine is spelled exactly like multi_match
    * best_fields' fold (greatest + left-fold sum in subquery order), so the
    * twin can mirror it term for term.
    */
  def disMaxDf(queries: Seq[String], tieBreaker: Double): DataFrame = {
    require(queries.nonEmpty, "dis_max needs at least one subquery")
    require(tieBreaker >= 0.0 && tieBreaker <= 1.0, s"tie_breaker in [0,1], got $tieBreaker")
    if (queries.size == 1) return scoreAllDf(queries.head)
    val frames = queries.zipWithIndex.map { case (q, i) =>
      scoreAllDf(q).withColumnRenamed("score", s"s_$i")
    }
    val joined = frames.reduce((a, b) => a.join(b, Seq("docId"), "full_outer"))
    val cols = queries.indices.map(i => coalesce(col(s"s_$i"), lit(0.0)))
    val sum = cols.reduce(_ + _)
    val raw =
      if (tieBreaker == 1.0) sum
      else { val mx = greatest(cols: _*); mx + lit(tieBreaker) * (sum - mx) }
    joined.select(col("docId"), raw.as("score"))
  }

  /** ES `boosting` query: docs matching the `negative` query still match,
    * but their score is demoted by ×`negativeBoost` (0 < nb < 1 — nb ≥ 1
    * is not a demotion and ES rejects it). The negative side never scores,
    * so it is an ids-only membership read (match-OR semantics: a doc
    * matches the negative match query when ANY of its analyzed terms is
    * present); the positive side is the ordinary rank-all.
    */
  def boostingDf(positive: String, negative: String,
      negativeBoost: Double): DataFrame = {
    require(negativeBoost > 0.0 && negativeBoost < 1.0,
      s"negative_boost must be in (0,1), got $negativeBoost")
    val negToks = analyze(negative)
    require(negToks.nonEmpty, "boosting needs a non-empty negative query")
    scoreAllDf(positive)
      .join(distinctIds(negToks.toSeq).withColumn("neg", lit(true)),
        Seq("docId"), "left_outer")
      .select(col("docId"),
        when(col("neg"), col("score") * lit(negativeBoost))
          .otherwise(col("score")).as("score"))
  }

  /** Distributed rank-all: score EVERY matching document with the result
    * kept distributed end-to-end — a stopword query at corpus scale matches
    * a corpus-sized doc set, so collecting hits to the driver (what a
    * top-k path with k = MaxValue would do) is a scale-killer. Per-block
    * decode is a narrow flatMap; the one shuffle groups contributions by
    * docId; the per-doc sum runs in ascending term order via a sorted in-row
    * fold (the pinned summation order), deterministic with no driver pass.
    * Block-max pruning cannot help when every match must be returned, so
    * this path skips WAND entirely.
    */
  def scoreAllDf(query: String, boost: Double = 1.0): DataFrame =
    scoreAllTerms(analyze(query), boost)

  /** Rank-all over an EXPLICIT term set — the shared serving tail of
    * [[scoreAllDf]] and the expansion queries (fuzzy/wildcard scored form):
    * whatever produced the terms, scoring is the same Σ idf·tfNorm fold.
    * `boost` scales every term's idf BEFORE the fold (the meta level —
    * see BlockMaxWand.boostMeta for why bounds and sums scale there),
    * so a boosted field's rank-all is bit-identical to its boosted WAND.
    */
  def scoreAllTerms(terms: Array[String], boost: Double = 1.0): DataFrame = {
    val meta = BlockMaxWand.boostMeta(termMeta(terms), boost)
    if (meta.isEmpty) return emptyHits
    contribs(meta)
      .groupBy("docId")
      .agg(aggregate(
        sort_array(collect_list(struct(col("term"), col("contrib")))),
        lit(0.0),
        (acc, x) => acc + x.getField("contrib")).as("score"))
  }

  /** ES 8 `sparse_vector` query (the ELSER / `text_expansion` serving
    * shape): the query is a sparse term→weight vector and the score is the
    * sparse DOT PRODUCT with the document's term vector — Σ over present
    * terms of w_t · tf(t, doc). ES multiplies learned per-token weights
    * stored at index time; this schema stores no learned doc-side weights,
    * so tf IS the doc-side weight (the unweighted-index analog — documented
    * divergence; a weighted payload would change only the decode below).
    *
    * Plan: ONE payload scan of the query's terms (term-pruned like every
    * term scan), the weight map rides the closure (query-sized), one
    * map-side-combined per-doc sum — the economics of a scored OR without
    * the BM25 meta. Weights must be > 0 (ES rejects non-positive). Exact
    * cross-engine: the driver row pins binary-fraction weights, so every
    * w·tf product and their sum are exact doubles in any fold order.
    */
  def sparseVectorDf(weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty, "sparse_vector needs at least one (term, weight)")
    val norm = weights.map { case (t, w) =>
      require(w > 0.0, s"sparse_vector weight for '$t' must be > 0, got $w")
      singleTerm(t, "sparse_vector term") -> w
    }
    require(norm.size == weights.size,
      "sparse_vector terms must be distinct after analysis")
    val wB = spark.sparkContext.broadcast(norm)
    postingsFor(norm.keys.toSeq.sorted).flatMap { b =>
      val w = wB.value(b.term)
      val ids = PostingsCodec.decodeDocIds(b.firstDocId, b.count, b.docDeltas)
      val tfs = PostingsCodec.decodeTfs(b.count, b.tfs)
      Iterator.tabulate(b.count)(i => (ids(i), w * tfs(i)))
    }.toDF("docId", "part")
      .groupBy("docId").agg(sum("part").as("score"))
  }

  /** Lucene `span_or` (ES `span_or` over term clauses): the UNION of the
    * clause span sets — every occurrence of any clause term is one span;
    * term spans are width-1 and two distinct terms can never occupy the
    * same position, so the union's size is exactly Σ tf. Output:
    * (docId, n_spans) for docs with ≥ 1 span. Plan: ONE payload scan of
    * the clause terms with NO position decode — the union SIZE needs only
    * tfs (a consumer nesting span_or under span_near is the case that
    * would decode positions) — then one map-side-combined per-doc sum.
    * Duplicate clauses are rejected: they would double-count one span set
    * (Lucene dedups identical clauses in rewrite).
    */
  def matchSpanOrDf(terms: Seq[String]): DataFrame = {
    val norm = terms.map(t => singleTerm(t, "span_or term"))
    require(norm.size >= 2, s"span_or needs >= 2 clause terms, got ${norm.size}")
    require(norm.distinct.size == norm.size,
      s"span_or clauses must be distinct, got ${terms.mkString(", ")}")
    postingsFor(norm.sorted).flatMap { b =>
      val ids = PostingsCodec.decodeDocIds(b.firstDocId, b.count, b.docDeltas)
      val tfs = PostingsCodec.decodeTfs(b.count, b.tfs)
      Iterator.tabulate(b.count)(i => (ids(i), tfs(i).toLong))
    }.toDF("docId", "tf")
      .groupBy("docId").agg(sum("tf").as("n_spans"))
  }

  /** ES query-time synonyms (`synonym_graph` search filter → Lucene
    * SynonymQuery; `upstream:` a LOD search API expands preferred/alternate
    * labels at query time): each GROUP of terms scores as ONE pseudo-term —
    * per doc, tf = Σ member tfs; df = MAX member df (SynonymQuery's pinned
    * docFreq choice); idf under the shared N. Groups then sum like distinct
    * query terms (group-index ascending), so a one-term group is
    * bit-identical to a plain match clause (sbt-gated). Groups must be
    * disjoint — a term in two groups would double-count its tf; ES's
    * analyzer chain cannot emit that shape and this path rejects it loudly.
    *
    * Plan: ONE payload scan of all member terms; the per-(docId, group) tf
    * sum is a map-side-combinable aggregate (dl rides as `first` — every
    * posting of a doc agrees on it); a BROADCAST group-meta join attaches
    * the blended idf; the per-doc fold is the pinned sort_array sum.
    * Distributed end-to-end — the only exchange moves (docId, group) rows.
    */
  def synonymScoreAllDf(groups: Seq[Seq[String]]): DataFrame = {
    import spark.implicits._
    require(groups.nonEmpty, "synonym match needs at least one group")
    val normd: Seq[Array[String]] =
      groups.map(g => g.map(t => singleTerm(t, "synonym term")).distinct.sorted.toArray)
    val flat = normd.flatten
    require(flat.distinct.size == flat.size,
      s"synonym groups must be disjoint, got ${groups.map(_.mkString(",")).mkString("; ")}")
    val dfs = termDfs(flat.toArray)
    val live = normd.zipWithIndex.flatMap { case (g, gi) =>
      val mx = g.map(dfs.getOrElse(_, 0L)).max
      if (mx == 0L) None else Some((gi, g, Bm25.idf(stats.numDocs, mx)))
    }
    if (live.isEmpty) return emptyHits
    val termToGi: Map[String, Int] = live.flatMap { case (gi, g, _) => g.map(_ -> gi) }.toMap
    val giB = spark.sparkContext.broadcast(termToGi)
    val gmeta = live.map { case (gi, _, idf) => (gi, idf) }.toDF("gi", "idf")
    val avgDl = stats.avgDl
    val pp = p
    postingsFor(termToGi.keys.toSeq.sorted)
      .flatMap { b =>
        val gi = giB.value(b.term)
        val ids = PostingsCodec.decodeDocIds(b.firstDocId, b.count, b.docDeltas)
        val tfs = PostingsCodec.decodeTfs(b.count, b.tfs)
        val dls = PostingsCodec.decodeDls(b.count, b.dls)
        Iterator.tabulate(b.count)(i => (ids(i), gi, tfs(i).toLong, dls(i).toLong))
      }
      .toDF("docId", "gi", "tf", "dl")
      .groupBy("docId", "gi")
      .agg(sum("tf").as("tfsum"), first("dl").as("dl"))
      .join(broadcast(gmeta), Seq("gi"))
      .select(col("docId"), col("gi"),
        (col("idf") * (col("tfsum") / (col("tfsum")
          + lit(pp.k1) * (lit(1.0 - pp.b) + lit(pp.b) * col("dl") / lit(avgDl))))).as("contrib"))
      .groupBy("docId")
      .agg(aggregate(
        sort_array(collect_list(struct(col("gi"), col("contrib")))),
        lit(0.0),
        (acc, x) => acc + x.getField("contrib")).as("score"))
  }

  /** ES `fuzzy` / `match`+`fuzziness` query, scored rank-all: expand the
    * term through the dictionary (Levenshtein <= maxEdits, capped), then
    * score the expansion as a term OR — each expanded term under its OWN
    * idf (pinned; Lucene's `match` fuzziness instead BLENDS the expansion's
    * idfs — documented divergence, the per-term form is what the DuckDB
    * twin expresses exactly).
    */
  def matchFuzzyDf(term: String, maxEdits: Int = 2, maxExpansions: Int = 50,
      prefixLength: Int = 0, transpositions: Boolean = false): DataFrame =
    scoreAllTerms(expandFuzzy(term, maxEdits, maxExpansions, prefixLength,
      transpositions))

  /** DataFrame form for the driver contract (SparkEntry.queries). */
  def searchDf(query: String, k: Int, useBmw: Boolean = true): DataFrame = {
    val hits = if (useBmw) searchBmw(query, k) else searchNaive(query, k)
    spark.createDataFrame(hits.toSeq).toDF("docId", "score")
  }
}

object IndexReader {
  /** Blocks grouped by term, each term's blocks sorted by firstDocId — the
    * presorted contract the bucket scorers read.
    */
  private def blocksByTerm(blocks: Array[PostingBlock]): Map[String, Array[PostingBlock]] =
    blocks.groupBy(_.term).map { case (t, bs) => t -> bs.sortBy(_.firstDocId) }

  /** Dictionary data bytes (the segments' `dictionary` files, from a file
    * listing — no Spark job) at or under which a reader holds its merged
    * dictionary resident on the driver ([[IndexReader.resident]]).
    *
    * Measured on 4 cores (local[4], `Bench.session` settings, medians of
    * 5-8 reps; a load is the union-collect job plus the driver sort, a
    * lookup one term-pruned `termMeta` job of a reader without the table,
    * heap by `SizeEstimator`). CorpusGen indexes (`IndexConfig.auto(n, 4)`)
    * of 6k, 60k and 400k docs all hold CorpusGen's whole vocabulary,
    * 20,064 terms: 190-206 KB on disk, 0.71 MB of heap (35.2 bytes per
    * term), a load of 65-103 ms against a lookup of 61-73 ms; on the
    * table a lookup took 0.03 ms, a fuzzy expansion 1.4-7 ms (scan form
    * 71-142 ms) and a wildcard 3.5-6 ms (scan form 74-90 ms). Larger
    * dictionaries, synthetic (the 6k index with its dictionary replaced by
    * n terms of 13.6 bytes on average):
    *  - 250k terms: 2.67 MB on disk, 10.4 MB heap, load 299 ms vs lookup
    *    91 ms; fuzzy 16 vs 172 ms, wildcard 72 vs 295 ms (table vs scan);
    *  - 600k terms: 6.02 MB, 24.9 MB heap, load 621 vs 100 ms; fuzzy 39 vs
    *    235 ms, wildcard 157 vs 358 ms;
    *  - 1M terms: 9.90 MB, 41.6 MB heap, load 621 vs 74 ms; fuzzy 66 vs
    *    123 ms, but wildcard 344 vs 264 ms — one driver thread running the
    *    regex over every term loses to the distributed scan here.
    * So the table costs 41.6 bytes of heap per term (the term's bytes plus
    * 28) and 3.4-4.2 heap bytes per dictionary byte on disk; a load costs
    * 1-8 lookups, repaid by the first few queries. 6 MiB keeps the table
    * at most ~25 MiB of heap (under the ~32 MiB budget) and ~630k terms,
    * below the wildcard crossover. More cores favour the scan form.
    */
  private[query] val ResidentDictMaxBytes: Long = 6L << 20

  /** A reader's merged dictionary on the driver: the terms in Spark's
    * binary string order (`UTF8String.binaryCompare`, the order the scan
    * form's range predicates and `orderBy("term")` compare in), packed as
    * UTF-8 bytes with offsets, and parallel per-term (df, maxTfn, maxTf,
    * minDl) arrays. Packed, not one object per term: the heap per term is
    * the term's bytes plus 28.
    */
  private[graft] final class ResidentDict private (bytes: Array[Byte], offsets: Array[Int],
      df: Array[Long], maxTfn: Array[Double], maxTf: Array[Int], minDl: Array[Int]) {
    def size: Int = df.length

    private def term(i: Int): UTF8String =
      UTF8String.fromBytes(bytes, offsets(i), offsets(i + 1) - offsets(i))

    /** The first index whose term is >= `t`. */
    private def lowerBound(t: UTF8String): Int = {
      var lo = 0
      var hi = size
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (term(mid).binaryCompare(t) < 0) lo = mid + 1 else hi = mid
      }
      lo
    }

    def get(t: String): Option[(Long, Double, Int, Int)] = {
      val u = UTF8String.fromString(t)
      val i = lowerBound(u)
      if (i < size && term(i).binaryCompare(u) == 0)
        Some((df(i), maxTfn(i), maxTf(i), minDl(i)))
      else None
    }

    /** The terms in [lo, hi), in Java string order — the order the scan
      * form's `.sorted` gives.
      */
    def inRange(lo: String, hi: String): Array[String] = {
      val (from, until) = bounds(Some((lo, hi)))
      Array.tabulate(until - from)(j => term(from + j).toString).sorted
    }

    /** How many terms lie in [lo, hi). */
    def rangeSize(lo: String, hi: String): Int = {
      val (from, until) = bounds(Some((lo, hi)))
      until - from
    }

    private def bounds(range: Option[(String, String)]): (Int, Int) = range.fold((0, size)) {
      case (lo, hi) => (lowerBound(UTF8String.fromString(lo)), lowerBound(UTF8String.fromString(hi)))
    }

    /** The terms in `range` (None: every term) that `keep` accepts, capped
      * at `cap` by (df desc, term asc), in Java string order. The sort by
      * df is stable, so equal dfs keep the binary term order.
      */
    def capped(range: Option[(String, String)], cap: Int)(keep: UTF8String => Boolean): Array[String] = {
      val (from, until) = bounds(range)
      val hits = (from until until).filter(i => keep(term(i)))
      val top = if (hits.size <= cap) hits else hits.sortBy(i => -df(i)).take(cap)
      top.map(i => term(i).toString).toArray.sorted
    }
  }

  private[graft] object ResidentDict {
    /** The table over merged rows: one row per term. */
    def apply(rows: Array[(String, (Long, Double, Int, Int))]): ResidentDict = {
      val us = rows.map { case (t, _) => UTF8String.fromString(t) }
      val order = us.indices.toArray.sortWith((a, b) => us(a).binaryCompare(us(b)) < 0)
      val offsets = new Array[Int](rows.length + 1)
      order.indices.foreach(j => offsets(j + 1) = offsets(j) + us(order(j)).numBytes)
      val bytes = new Array[Byte](offsets(rows.length))
      order.indices.foreach { j =>
        val b = us(order(j)).getBytes
        System.arraycopy(b, 0, bytes, offsets(j), b.length)
      }
      new ResidentDict(bytes, offsets, order.map(rows(_)._2._1), order.map(rows(_)._2._2),
        order.map(rows(_)._2._3), order.map(rows(_)._2._4))
    }
  }
}
