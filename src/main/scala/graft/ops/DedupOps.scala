package graft.ops

import graft.functions.{HammingHex64, Md5Each, Md5Kernels, MinHashSig}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Deduplication operators for training-data pipelines: exact (hash-groupBy),
  * MinHash+LSH banding, n-gram Jaccard verification, SimHash.
  *
  * Portability rule: every hash a SQL oracle must reproduce is md5 (identical
  * hex in Spark and DuckDB); Spark-only paths (simhash) may use faster
  * hashes. Shingling is word 5-grams over whitespace-split lowercase text.
  *
  * Scale notes: candidate generation is always hash-bucketed (LSH band
  * buckets / rare shingles) so the pairwise-verify join never goes quadratic
  * in the corpus — only within buckets. All joins are equi-joins on bucket
  * keys; AQE handles residual bucket skew.
  */
object DedupOps {
  val NumHashes = 16
  val BandSize = 4 // 4 bands x 4 rows

  /** Exact duplicate groups: fingerprint -> keeper (min id) + group size. */
  def exactDupGroups(df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    df.select(col(id), md5(col(text)).as("fp"))
      .groupBy("fp").agg(min(col(id)).as("keeper"), count(lit(1)).as("group_size"))

  /** (id, arr): each row's lowercase whitespace-split words. The source is
    * fanned out first (Par.fanOut): the shingle consumers all do per-row CPU
    * work (md5 per shingle per hash slot) that a byte-sized scan split would
    * serialize on one core at small physical input sizes.
    */
  private def words(df: DataFrame, id: String, text: String): DataFrame =
    Par.fanOut(df.select(col(id), col(text)))
      .select(col(id), split(trim(lower(col(text))), "\\s+").as("arr"))

  /** A row's word 5-gram shingles over `arr` as one array, duplicates
    * preserved; NULL text yields one NULL shingle. Consumers apply it
    * inline: exploding it as a projected column would let the optimizer
    * infer a `size(..) > 0` filter and evaluate the array twice.
    */
  private def shingleArray: Column =
    expr("transform(sequence(1, greatest(size(arr) - 4, 1)), i -> array_join(slice(arr, i, 5), ' '))")

  /** (id, shingle) pairs: word 5-gram shingles, duplicates preserved. */
  def shingles(df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    words(df, id, text).select(col(id), explode(shingleArray).as("shingle"))

  /** Per-doc DISTINCT shingle set, aggregated ONCE (collect_set dedups in
    * the map-side partial aggregate): the shared source the n-gram Jaccard
    * kernel's rare-shingle blocking AND verify arrays both hang off — one
    * tokenize pass and ONE exchange feed that pair pipeline, and the
    * identical exchange subtree is computed once and reused across
    * consumers (ReuseExchange). Equivalence to the per-row stream:
    * sort/count over a distinct set equal sort/count over the duplicate-
    * preserving stream after `.distinct()`, so every derived result is
    * bit-identical to the previous formulation. (The minhash BAND side
    * deliberately does NOT use this — see nearDupPairs.)
    */
  private def docShingleSets(df: DataFrame, id: String, text: String): DataFrame =
    shingles(df, id, text).groupBy(col(id)).agg(collect_set(col("shingle")).as("shset"))

  /** (id, sorted md5-fingerprint array) verify material from the shared
    * shingle sets — same arrays the old collect_list(md5) aggregation built.
    */
  private def setFps(docSets: DataFrame, id: String): DataFrame =
    docSets.select(col(id), sort_array(Md5Each(col("shset"))).as("set"))

  /** MinHash signatures banded for LSH: (id, band, bucket). The j-th hash
    * function is min(md5(shingle || '#' || j)); a band bucket is the md5 of
    * its 4 minhashes concatenated in hash order.
    *
    * Shape: each source row's 16-slot signature is ONE [[MinHashSig]] call
    * over its shingle array, before any explode: one thread-local digest,
    * raw 16-byte minima, hex only for the 16 winners. The groupBy(id) then
    * takes a per-slot min (a min of minima, so rows sharing an id merge
    * exactly as the per-shingle aggregate did) in the map-side partial
    * aggregate; the exchange carries one fixed-width row per doc. The 16
    * `sig(j)` reads do not re-run the kernel: the optimizer only inlines an
    * expensive projection into a consumer that references it once.
    */
  def minhashBands(df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val aggs = (0 until NumHashes).map(j => min(col("sig")(j)).as(s"mh$j"))
    val sig = words(df, id, text)
      .select(col(id), MinHashSig(shingleArray, NumHashes).as("sig"))
      .groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
    val bandStructs = (0 until NumHashes / BandSize).map { b =>
      val mhs = (b * BandSize until (b + 1) * BandSize).map(j => col(s"mh$j"))
      struct(lit(b).as("band"), md5(concat(mhs: _*)).as("bucket"))
    }
    sig.select(col(id), explode(array(bandStructs: _*)).as("bb"))
      .select(col(id), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** LSH candidate pairs (a < b sharing any band bucket) verified with EXACT
    * shingle-set Jaccard >= minJaccard.
    *
    * Shape: the band side stays on [[minhashBands]]' per-row signature —
    * the md5 work runs BEFORE the exchange, parallel over the scan/fan-out
    * partitions, and the exchange carries 16 fixed-width minima per doc.
    * Hashing after a shared set-aggregate was measured SLOWER: the post-
    * shuffle final aggregate is AQE-coalesced to one task at small shuffle
    * sizes, serializing the hash work.
    */
  def nearDupPairs(df: DataFrame, minJaccard: Double,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val bands = minhashBands(df, id, text)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("a"), col(s"y.$id").as("b")).distinct()
    // each row's shingles are fingerprinted by one Md5Each call, then
    // collect_set dedups inside the (map-side partial) aggregate, so the
    // verify arrays build in ONE exchange. Dedup on md5 == dedup on shingle.
    val sets = words(df, id, text).select(col(id), explode(Md5Each(shingleArray)).as("fp"))
      .groupBy(col(id)).agg(sort_array(collect_set(col("fp"))).as("set"))
    verifyJaccardSets(sets, cand, minJaccard, id)
  }

  /** n-gram Jaccard near-dup: candidates share a RARE shingle (df <= maxShingleDf —
    * the standard cap that keeps the self-join off stopword-scale shingles),
    * then exact Jaccard. No minhash approximation anywhere.
    *
    * Shape (r07): blocking runs over md5 FINGERPRINTS exploded from the
    * shared [[docShingleSets]] aggregate (md5 is injective over shingles for
    * all practical purposes — the same assumption the verify arrays already
    * rest on), so the corpus is tokenized/exchanged once instead of three
    * times (distinct pass + rare-count pass + verify pass). Per-fp doc
    * counts equal per-shingle doc counts, so candidates and output rows are
    * identical.
    */
  def ngramJaccardPairs(df: DataFrame, minJaccard: Double, maxShingleDf: Long = 20,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val docSets = docShingleSets(df, id, text)
    val fps = docSets.select(col(id), explode(Md5Each(col("shset"))).as("fp"))
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("sdf"))
      .where(col("sdf") > 1 && col("sdf") <= maxShingleDf)
    val shRare = fps.join(rare.select("fp"), Seq("fp"))
    val cand = shRare.as("x").join(shRare.as("y"),
        col("x.fp") === col("y.fp") && col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("a"), col(s"y.$id").as("b")).distinct()
    verifyJaccardSets(setFps(docSets, id), cand, minJaccard, id)
  }

  /** Exact |A ∩ B| / |A ∪ B| over distinct shingle sets for candidate pairs.
    *
    * Fingerprints stay 32-char HEX strings deliberately (r07): a 16-byte
    * `unhex(md5)` halves the shuffled bytes and was tried, but Spark's
    * array_intersect only uses its hash-set fast path for element types
    * with proper equals — FALSE for BinaryType — so binary arrays fall into
    * the O(|sa|·|sb|) nested-scan fallback: quadratic per candidate pair on
    * long documents, a scale regression dressed as a byte saving. Reverted.
    *
    * Shape: each doc's distinct shingle set is aggregated ONCE into a sorted
    * array of md5 fingerprints (fixed 32 chars — bounds the row width; 128-bit
    * fingerprints make collisions impossible in practice, so set Jaccard over
    * fingerprints equals set Jaccard over shingles), hashed by the native
    * [[Md5Each]] kernel per source row before the set aggregate or per set
    * after it. Each candidate pair then intersects two arrays in ONE narrow
    * pass — the verify cost is linear in the candidate count, never a second
    * shingle-equality join over the corpus.
    */
  private def verifyJaccardSets(sets: DataFrame, cand: DataFrame, minJaccard: Double,
      id: String): DataFrame = {
    cand
      .join(sets.select(col(id).as("a"), col("set").as("sa")), Seq("a"))
      .join(sets.select(col(id).as("b"), col("set").as("sb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")), 4))
      .where(col("jaccard") >= minJaccard)
      .select("a", "b", "jaccard")
  }

  /** 64-bit SimHash over the analyzer term stream, tf-weighted. Bits come
    * from the first 16 hex chars of md5(term), read straight from the digest
    * ([[Md5Kernels.md5Prefix64]]). Pure narrow map (no shuffle);
    * Spark-only (bit-twiddling has no compact SQL twin — driver does the
    * rows-only check).
    */
  def simhash(spark: SparkSession, df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    import spark.implicits._
    Par.fanOut(df.select(col(id).cast("long"), col(text))).as[(Long, String)].map { case (docId, t) =>
      val (m, _) = graft.tokenize.CodeTokenizer.tfMap(t)
      val acc = new Array[Long](64)
      m.foreach { case (term, tf) =>
        val h = Md5Kernels.md5Prefix64(term)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) acc(b) += tf else acc(b) -= tf
          b += 1
        }
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (acc(b) > 0) sig |= (1L << b); b += 1 }
      (docId, f"$sig%016x")
    }.toDF(id, "simhash")
  }

  /** Hamming-close SimHash pairs via 4x16-bit band blocking (exactly the
    * LSH trick at the bit level): pairs sharing any 16-bit quarter get their
    * full Hamming distance computed; keep those <= maxDist.
    */
  def simhashNearPairs(spark: SparkSession, df: DataFrame, maxDist: Int,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val sig = simhash(spark, df, id, text)
    val banded = sig.select(col(id), col("simhash"),
      explode(expr("transform(sequence(0, 3), q -> struct(q as q, substring(simhash, q*4 + 1, 4) as piece))")).as("bp"))
      .select(col(id), col("simhash"), col("bp.q"), col("bp.piece"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.q") === col("y.q") && col("x.piece") === col("y.piece") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("a"), col(s"y.$id").as("b"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb")).distinct()
    cand.withColumn("dist", HammingHex64(col("ha"), col("hb")))
      .where(col("dist") <= maxDist)
      .select("a", "b", "dist")
  }

  /** Benchmark-contamination check — the decontamination step every
    * training-data pipeline runs before a model ships: corpus docs that
    * share at least one word-5-gram shingle with the benchmark/eval set
    * (`benchPred` marks benchmark member rows), reported as
    * (doc_id, n_shared) with n_shared = DISTINCT shared shingles.
    * Benchmark-internal overlap is not contamination and is excluded.
    *
    * Plan shape — the real-pipeline economics: the benchmark side is
    * eval-suite-sized (thousands of docs, millions of shingles — fixed,
    * tiny vs the corpus), so its distinct-shingle set BROADCASTS and the
    * corpus side joins it inside the scan stage; the only exchange is the
    * per-doc count aggregate over the (rare) matching shingles. At 100 TB
    * the same shape holds with the broadcast swapped for a Bloom filter of
    * the benchmark shingles pushed into the scan (false positives re-checked
    * by the exact join) — the corpus is never shuffled by shingle.
    */
  def contamination(df: DataFrame, benchPred: Column,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val isBench = coalesce(benchPred, lit(false)) // NULL pred = not benchmark
    val benchSh = shingles(df.where(isBench), id, text).select("shingle").distinct()
    // dedup AFTER the selective benchmark join (count_distinct's partial
    // aggregate dedups map-side): the old dropDuplicates-then-join shape
    // exchanged the FULL corpus shingle stream once just to dedup it, then
    // threw almost all of it away at the join (r07, guide §2.3 — shuffle
    // fewer bytes). n_shared = distinct shared shingles, identical.
    shingles(df.where(!isBench), id, text)
      .join(broadcast(benchSh), Seq("shingle"))
      .groupBy(col(id)).agg(count_distinct(col("shingle")).as("n_shared"))
  }

  /** Edge-endpoint rows per CC partition: ~16-48 B/row keeps partitions in
    * the guide's 100 MB-1 GB band; the partitioner is sized from the edge
    * COUNT, never from the local core count, so the same rule yields
    * thousands of partitions at 100 TB and one partition on a test graph.
    */
  private val CcRowsPerPartition = 4000000L

  /** Driver-CC gate: an edge set at or below this many directed endpoints
    * (~32 MB of longs at the cap) is collected and solved with union-find in
    * one pass — when the whole graph fits one partition, iterating
    * distributed rounds over it is pure scheduling overhead. Same gated
    * collect-with-distributed-fallback idiom as IndexReader's
    * DriverMergeMaxRows; above the gate the co-partitioned RDD iteration
    * runs unchanged (the 100 TB path).
    */
  private val CcDriverMaxEndpoints = 2000000L

  /** Near-dup CLUSTERING — the step every dedup pipeline runs after pair
    * generation: connected components over the (a, b) near-dup pair graph,
    * each doc labeled with its component's MINIMUM doc id (`cluster`) and
    * the canonical keeper flagged (`canonical` = doc == cluster min — the
    * deterministic survivor-selection rule; a quality-ranked keeper swaps
    * one orderBy). Min-label propagation to fixpoint: labels start at the
    * node id, each round takes min(own, neighbors') over ONE exchange
    * (map-side-combined min per node), stop when no label changes. Rounds
    * are bounded by the component DIAMETER — near-dup components are
    * band-join cliques-ish, so 2-4 rounds in practice; the iteration cap
    * makes a pathological chain loud instead of silent. This is the
    * standard iterative-join CC formulation (large-star/small-star's
    * simple core) — every round is embarrassingly parallel, driver sees
    * ONE convergence count per round. Output covers docs that appear in
    * at least one pair (singletons are their own trivial cluster —
    * callers union them back if they want full coverage).
    *
    * Input contract: pair columns `a` and `b` must be INTEGRAL ids (they are
    * cast to long — the engine's doc_id grain); a string-keyed caller must
    * map ids first. maxRounds bounds the distributed iteration only (the
    * gated driver path always converges).
    */
  def nearDupClusters(pairs: DataFrame, maxRounds: Int = 20,
      driverMaxEndpoints: Long = CcDriverMaxEndpoints): DataFrame = {
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    Seq("a", "b").foreach { c =>
      val t = pairs.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(t),
        s"nearDupClusters: pair column '$c' must hold integral ids, got ${t.simpleString} " +
          "(input contract in the nearDupClusters scaladoc: map non-integral ids to longs first)")
    }
    val spark = pairs.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    // Undirected edge list, deduped, materialized ONCE — the (possibly
    // expensive) pair kernel upstream never re-runs during the iteration.
    //
    // r07 shape: the iteration runs over CO-PARTITIONED RDDs instead of
    // per-round DataFrame joins. The DataFrame form re-planned every round
    // and AQE materialized ~10 query-stage jobs of fixed overhead per round
    // (measured 118 jobs / 12 rounds at sf0.1 — ~85% of the entry's wall
    // clock was job scheduling over k-row frames). With one HashPartitioner
    // shared by edges and labels, the edge⋈label and jump⋈label joins are
    // NARROW and a full round is ONE job of three small shuffle stages.
    // Results are identical: same min-label fixpoint, same convergence rule
    // (a round with zero label changes), same loud non-convergence.
    val edgeRaw = pairs.select(col("a").cast("long").as("x"), col("b").cast("long").as("y"))
      .unionByName(pairs.select(col("b").cast("long").as("x"), col("a").cast("long").as("y")))
      .distinct().as[(Long, Long)]
      .rdd.map { case (x, y) => (y, x) }
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nEndpoints = edgeRaw.count()
    if (nEndpoints <= driverMaxEndpoints) {
      // Small graph: one bounded collect + union-find (path halving), then
      // min-label per component — the same fixpoint the iterative form
      // reaches, computed without per-round jobs.
      val edgeArr = edgeRaw.collect()
      edgeRaw.unpersist(false)
      val parent = new java.util.HashMap[Long, Long]()
      def find(x0: Long): Long = {
        var x = x0
        var px = parent.get(x)
        while (px != x) {
          val gx = parent.get(px)
          parent.put(x, gx) // path halving
          x = gx
          px = parent.get(x)
        }
        x
      }
      edgeArr.foreach { case (y, x) =>
        if (!parent.containsKey(x)) parent.put(x, x)
        if (!parent.containsKey(y)) parent.put(y, y)
        val (rx, ry) = (find(x), find(y))
        if (rx != ry) { if (rx < ry) parent.put(ry, rx) else parent.put(rx, ry) }
      }
      val nodes = parent.keySet().toArray(Array.empty[java.lang.Long]).map(_.longValue())
      val minOfRoot = new java.util.HashMap[Long, Long]()
      nodes.foreach { n =>
        val r = find(n)
        val cur = minOfRoot.getOrDefault(r, Long.MaxValue)
        if (n < cur) minOfRoot.put(r, n)
      }
      val labelRows = nodes.map(n => (n, minOfRoot.get(find(n))))
      return spark.createDataset(labelRows.toSeq).toDF("doc_id", "cluster")
        .select(col("doc_id"), col("cluster"),
          (col("doc_id") === col("cluster")).as("canonical"))
        .orderBy("cluster", "doc_id")
    }
    // size-derived ONLY — capping at defaultParallelism would let
    // rows-per-partition grow without bound at corpus scale (the scaladoc's
    // 100 MB-1 GB band is the invariant, not the local core count)
    val p = new org.apache.spark.HashPartitioner(
      math.min(Int.MaxValue.toLong, nEndpoints / CcRowsPerPartition + 1L).toInt)
    val edges = edgeRaw.partitionBy(p)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // every node appears as a key (both edge directions are present), so the
    // label seed is a NARROW per-key reduce over the partitioned edges
    var labels = edges.mapValues(_ => 0L).reduceByKey(p, (a, _) => a)
      .mapPartitions(_.map { case (k, _) => (k, k) }, preservesPartitioning = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val acc = sc.longAccumulator("graft.cc.changed")
      // 1-hop neighbor min — the propagation step (unchanged semantics).
      val nbrMin = edges.join(labels) // narrow: both sides carry p
        .map { case (_, (x, lab)) => (x, lab) }
        .reduceByKey(p, math.min(_: Long, _: Long)) // shuffle 1
      val hop = labels.leftOuterJoin(nbrMin) // narrow
        .mapValues { case (old, o) => (old, math.min(old, o.getOrElse(old))) }
      // POINTER JUMP (path halving): label <- label(label). Every label
      // value is itself a node id of the component (labels start as ids and
      // only ever take min() of other labels), so one indirection resolves
      // per round and the round count drops from O(component diameter) to
      // O(log diameter) — measured: the sf0.1 simhash pair graph needs 12
      // plain rounds (chains of near-dups are real, not pathological), 6
      // with the jump. The fixpoint is unchanged: both steps only replace a
      // label with a smaller label of the same component.
      val jmap = hop.mapValues(_._2) // id -> lab1, partitioned by p
      val next = hop.map { case (id, (old, lab1)) => (lab1, (id, old)) } // shuffle 2
        .leftOuterJoin(jmap) // jmap already carries p -> narrow on its side
        .map { case (lab1, ((id, old), o)) =>
          (id, (old, math.min(lab1, o.getOrElse(lab1))))
        }
        .partitionBy(p) // shuffle 3 — back to label grain for the next round
        .mapValues { case (old, lab) => { if (lab < old) acc.add(1L); lab } }
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.foreachPartition(_ => ()) // the round's ONE action
      labels.unpersist(false)
      labels = next
      converged = acc.value == 0L
      round += 1
    }
    if (sys.env.contains("GRAFT_DEBUG_CC"))
      System.err.println(s"[graft] nearDupClusters converged in $round rounds")
    // cache hygiene: the raw and partitioned edge RDDs are dead once the
    // loop ends (only the final labels feed the output); in a long-lived
    // session leaving them pinned would crowd the storage region
    edgeRaw.unpersist(false)
    edges.unpersist(false)
    require(converged, s"label propagation did not converge in $maxRounds rounds")
    spark.createDataset(labels).toDF("doc_id", "cluster")
      .select(col("doc_id"), col("cluster"),
        (col("doc_id") === col("cluster")).as("canonical"))
      .orderBy("cluster", "doc_id")
  }
}
