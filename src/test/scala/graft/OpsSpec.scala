package graft

import graft.ops._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unit gates for the training-data pipeline operators on constructed
  * fixtures where the expected dedup/similarity structure is known (the
  * driver testdata has no guaranteed duplicates).
  */
class OpsSpec extends SparkSpec {
  import spark.implicits._

  lazy val docs: DataFrame = Seq(
    (0L, "the quick brown fox jumps over the lazy dog near the old river bank today"),
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank tonight"), // near-dup of 0
    (2L, "der schnelle braune fuchs und die katze und das haus und der hund ist hier"),
    (3L, "el gato los perros una casa y que la cosa por aqui pasa y pasa"),
    (4L, "completely different content about spark query engines and inverted index structures"),
    (5L, "the quick brown fox jumps over the lazy dog near the old river bank today"), // exact dup of 0
    (6L, "中文文本测试内容这里没有拉丁字母所以非常清晰")
  ).toDF("doc_id", "text")

  test("exact dedup finds the duplicate group") {
    val groups = DedupOps.exactDupGroups(docs).where(col("group_size") > 1).collect()
    assert(groups.length == 1)
    assert(groups(0).getAs[Long]("keeper") == 0L)
    assert(groups(0).getAs[Long]("group_size") == 2L)
  }

  test("minhash LSH near-dup finds exact and near duplicates, not unrelated docs") {
    val pairs = DedupOps.nearDupPairs(docs, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 5L)), s"exact dup pair missing: $pairs")
    assert(pairs.contains((0L, 1L)) && pairs.contains((1L, 5L)), s"near-dup pair missing: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L), s"unrelated doc paired: $pairs")
  }

  test("exact jaccard values are right (n-gram path)") {
    val j = DedupOps.ngramJaccardPairs(docs, 0.3, maxShingleDf = 10).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((0L, 5L)) == 1.0)
    // docs 0/1: 15 words -> 11 shingles each; only the last differs -> 10/12
    assert(j((0L, 1L)) == math.rint(10.0 / 12.0 * 10000) / 10000)
  }

  test("simhash: identical docs equal; near docs close; pairs op blocks correctly") {
    val sh = DedupOps.simhash(spark, docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(sh(0L) == sh(5L))
    def dist(a: String, b: String): Int =
      java.lang.Long.bitCount(java.lang.Long.parseUnsignedLong(a, 16) ^ java.lang.Long.parseUnsignedLong(b, 16))
    assert(dist(sh(0L), sh(1L)) < 16, s"near-dups should be hamming-close: ${dist(sh(0L), sh(1L))}")
    val pairs = DedupOps.simhashNearPairs(spark, docs, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 0L && p._2 == 5L && p._3 == 0))
  }

  test("langId heuristic: stopword + non-ascii rules") {
    val got = TextOps.langId(docs).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "en" && got(2L) == "de" && got(3L) == "es" && got(6L) == "zh")
  }

  test("token counts / fingerprint / quality on a known doc") {
    val one = docs.where(col("doc_id") === 0L)
    val tc = TextOps.tokenCounts(one).collect()(0)
    assert(tc.getAs[Int]("n_ws_tokens") == 15)
    assert(tc.getAs[Long]("n_terms") == 15)
    assert(tc.getAs[Long]("n_distinct_terms") == 13) // 'the' x3, rest unique
    val fp = TextOps.fingerprint(one).collect()(0).getString(1)
    assert(fp == org.apache.commons.codec.digest.DigestUtils.md5Hex(
      "the quick brown fox jumps over the lazy dog near the old river bank today"))
    val q = TextOps.quality(one).collect()(0)
    assert(q.getAs[Int]("n_space") == 14)
    assert(q.getAs[Long]("stop_cnt") == 3)
  }

  test("cosine top-k: exact and LSH-bucketed agree on constructed vectors") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.2f, 0.0f, 0.1f, 0.0f, 0.3f, 0.0f)),
      (1L, Array(1.0f, 0.01f, 0.2f, 0.0f, 0.1f, 0.0f, 0.3f, 0.0f)), // ~ probe
      (2L, Array(-1.0f, 0.5f, -0.2f, 0.3f, -0.1f, 0.2f, -0.3f, 0.1f)), // far, diff bucket
      (3L, Array(0.9f, 0.0f, 0.25f, 0.0f, 0.12f, 0.0f, 0.28f, 0.0f)) // close, same bucket
    ).toDF("vec_id", "embedding")
    val exact = VectorOps.cosineTopK(emb, 0L, 3).collect()
    assert(exact.map(_.getLong(0)).toSeq == Seq(1L, 3L, 2L))
    assert(exact(0).getDouble(1) > 0.999)
    val ann = VectorOps.lshAnnTopK(emb, 0L, 3, bits = 8).collect()
    assert(ann.map(_.getLong(0)).toSeq == Seq(1L, 3L)) // bucket excludes vec 2
    // banded: 4 bands x 2 bits over the 8 dims; 0/1/3 agree on every sign,
    // 2 agrees with none of them on any full band
    val pairs = VectorOps.cosineNearDupPairs(emb, 0.99, bitsPerBand = 2, bands = 4).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L), (0L, 3L), (1L, 3L)))
  }

  test("IVF: trained quantizer separates constructed clusters; nprobe=1 recall is exact") {
    // 3 well-separated direction clusters of 20 vectors each; probe in
    // cluster 0 — all true neighbors share its cell, so IVF@nprobe=1 must
    // equal brute force exactly.
    def mk(cluster: Int, j: Int): Array[Float] = {
      val rng = new scala.util.Random(cluster * 1000L + j)
      val v = new Array[Float](12)
      v(cluster * 4) = 10f // dominant direction per cluster
      (0 until 12).foreach(i => v(i) = v(i) + (rng.nextGaussian() * 0.3).toFloat)
      v
    }
    val emb = (for (c <- 0 until 3; j <- 0 until 20) yield ((c * 20 + j).toLong, mk(c, j)))
      .toDF("vec_id", "embedding")
    val cents = IvfOps.centroids(emb, k = 3, iters = 3)
    assert(cents.length == 3)
    // Lloyd moved the centroids: each trained centroid is dominated by one
    // cluster direction, and the three directions are all represented
    val doms = cents.map(_._2.zipWithIndex.maxBy(x => math.abs(x._1))._2 / 4).sorted
    assert(doms.toSeq == Seq(0, 1, 2), s"trained centroids don't separate the clusters: ${doms.toSeq}")
    val ivf = IvfOps.annTopK(emb, IvfOps.centroidsDf(spark, cents), probeId = 0L, k = 5, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val brute = VectorOps.cosineTopK(emb, 0L, 5).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ivf.toSeq == brute.toSeq, s"IVF@nprobe=1 must match brute force on separated clusters")
  }

  test("banded LSH candidates grow sub-quadratically with adaptive bits (10x corpus)") {
    // deterministic pseudo-gaussian 64-dim vectors; signs ~uniform so band
    // buckets are ~uniform — the adversarial shape for candidate growth.
    def mkEmb(n: Int): DataFrame =
      spark.range(n.toLong).select(col("id").as("vec_id")).as[Long].map { i =>
        val rng = new scala.util.Random(i * 2654435761L + 12345L)
        (i, Array.fill(64)(rng.nextGaussian().toFloat))
      }.toDF("vec_id", "embedding")
    def candidates(n: Int): Long = {
      val emb = mkEmb(n)
      val bits = VectorOps.adaptiveBits(n.toLong)
      VectorOps.bandCandidates(emb, bits, 4).count()
    }
    val small = candidates(300)  // adaptive bits = 4
    val big = candidates(3000)   // adaptive bits = 6: buckets grow with N
    assert(small > 0 && big > 0)
    val ratio = big.toDouble / small
    // quadratic growth (fixed bucket count) would be ~100x for 10x N
    assert(ratio < 40.0, s"candidate growth not sub-quadratic: $small -> $big (${ratio}x)")
  }

  test("multimodal binary plumbing: stub features are exact") {
    val media = MultimodalOps.asMediaTable(docs.where(col("doc_id") === 6L))
    val f = MultimodalOps.extractFeatures(spark, media).collect()(0)
    val bytes = "中文文本测试内容这里没有拉丁字母所以非常清晰".getBytes("UTF-8")
    assert(f.getAs[Int]("n_bytes") == bytes.length)
    assert(f.getAs[String]("content_sha256") ==
      graft.fixtures.CorpusGen.sha256Hex("中文文本测试内容这里没有拉丁字母所以非常清晰"))
    assert(f.getAs[Int]("fake_frames") == bytes.length % 16 + 1)
  }

  test("termStats matches tfMap ground truth") {
    val st = TextOps.termStats(docs).collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(st("the") == (3L, 9L)) // docs 0,1,5 each have 'the' x3
    assert(st("fox") == (3L, 3L))
  }

  test("cardinality: approx_count_distinct (the 100 TB path) within rsd of exact") {
    // the driver row a19 serves the EXACT count (oracle-comparable); at
    // corpus scale the same query swaps in approx_count_distinct — HLL++
    // partial sketches merge map-side, no distinct expand+exchange. Gate:
    // the approximation lands within a few rsd of exact on a skewed column.
    val df = spark.range(0, 200000).toDF("id")
      .withColumn("grp", col("id") % 4)
      .withColumn("v", (col("id") * col("id")) % 57331) // collisions: distinct < rows
    val exact = df.groupBy("grp").agg(countDistinct("v").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = df.groupBy("grp").agg(approx_count_distinct("v", 0.02).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    exact.foreach { case (g, e) =>
      val a = approx(g)
      assert(math.abs(a - e).toDouble / e < 0.06, s"grp $g: approx $a vs exact $e")
    }
  }

  test("percentiles: exact == sorted-interpolation definition; approx (100 TB path) within rank tolerance") {
    // driver row a24 serves the EXACT percentile (linear interpolation at
    // rank p·(n−1) — the definition quantile_cont pins too); at corpus
    // scale the same query swaps in approx_percentile, whose quantile
    // -sketch partials merge map-side (no per-group full sort). Gates:
    // exact matches the brute definition; approx lands within ±1% RANK of
    // exact on a skewed distribution.
    val df = spark.range(0, 100001).toDF("id")
      .withColumn("v", (col("id") * col("id")) % 9973)
    val vals = df.select("v").as[Long].collect().sorted
    def brute(p: Double): Double = {
      val rank = p * (vals.length - 1)
      val lo = vals(rank.toInt).toDouble
      val hi = vals(math.ceil(rank).toInt).toDouble
      lo + (hi - lo) * (rank - rank.toInt)
    }
    for (p <- Seq(0.25, 0.5, 0.75, 0.95)) {
      val exact = df.agg(expr(s"percentile(v, $p)")).head.getDouble(0)
      assert(math.abs(exact - brute(p)) < 1e-9, s"exact percentile definition at p=$p")
      val approx = df.agg(expr(s"approx_percentile(v, $p, 1000)")).head.getLong(0)
      val loRank = math.max(0, (p * vals.length).toInt - vals.length / 100)
      val hiRank = math.min(vals.length - 1, (p * vals.length).toInt + vals.length / 100)
      assert(approx >= vals(loRank) && approx <= vals(hiRank),
        s"approx_percentile p=$p: $approx outside rank band [${vals(loRank)}, ${vals(hiRank)}]")
    }
  }

  test("geo: haversine known distances; bbox prefilter is a pure optimization") {
    // a 0.1°-grid of points around the globe via the deterministic derivation
    val keys = spark.range(0, 5000).toDF("k")
    val (lat, lon) = GeoOps.derivedCoords(col("k"))
    // the derived grid plus hand-placed edge points (polar band, both sides
    // of the antimeridian) so every prefilter branch sees real matches
    val pts = keys.select(col("k"), lat.as("lat"), lon.as("lon"))
      .unionByName(Seq((90001L, 89.6, 10.0), (90002L, 89.4, -120.0),
        (90003L, 0.3, 179.9), (90004L, -0.2, -179.8), (90005L, 1.0, 178.0))
        .toDF("k", "lat", "lon"))
    // 1° of latitude at the equator ≈ 111.19 km (haversine on a 6371 sphere)
    val oneDeg = Seq((0.0, 0.0)).toDF("lat", "lon")
    val d = GeoOps.withinRadius(oneDeg, "lat", "lon", 1.0, 0.0, 200.0)
      .select("dist_km").as[Double].head()
    assert(math.abs(d - 111.1949) < 0.01, s"1-degree meridian arc was $d")
    // superset proof hook: prefiltered == unfiltered, at several centers
    // including a polar band (lon cut skipped) and an antimeridian wrap
    for ((la, lo, r) <- Seq((10.0, 20.0, 3000.0), (89.5, 0.0, 500.0),
        (0.0, 179.5, 800.0), (-45.0, -170.0, 2500.0))) {
      val fast = GeoOps.withinRadius(pts, "lat", "lon", la, lo, r)
        .select("k", "dist_km").as[(Long, Double)].collect().toMap
      val slow = GeoOps.withinRadius(pts, "lat", "lon", la, lo, r, prefilter = false)
        .select("k", "dist_km").as[(Long, Double)].collect().toMap
      assert(fast == slow, s"bbox prefilter changed results at ($la, $lo, $r)")
      assert(slow.nonEmpty, s"empty geo fixture at ($la, $lo, $r) — gate vacuous")
      // every reported distance actually satisfies the radius predicate
      slow.values.foreach(v => assert(v <= r))
    }
  }

  test("geo_bounding_box == brute inclusive-bounds filter; antimeridian wrap; pushdown") {
    // 20000 keys, not 5000: lat and lon are both linear residues of k, so
    // they CORRELATE — at 5000 keys the wrap box below has zero hits.
    val keys = spark.range(0, 20000).toDF("k")
    val (lat, lon) = GeoOps.derivedCoords(col("k"))
    val pts = keys.select(col("k"), lat.as("lat"), lon.as("lon"))
    val rows = pts.as[(Long, Double, Double)].collect()
    for ((top, left, bottom, right) <- Seq(
        (40.0, -30.0, -20.0, 60.0),    // plain box
        (40.0, 150.0, -20.0, -120.0),  // wraps the date line
        (90.0, -180.0, -90.0, 180.0))) { // whole globe
      val want = rows.filter { case (_, la, lo) =>
        la >= bottom && la <= top &&
          (if (left <= right) lo >= left && lo <= right else lo >= left || lo <= right)
      }.map(_._1).sorted.toSeq
      val got = GeoOps.withinBox(pts, "lat", "lon", top, left, bottom, right)
        .select("k").as[Long].collect().sorted.toSeq
      assert(got == want, s"bbox ($top, $left, $bottom, $right)")
      assert(want.nonEmpty, "empty bbox fixture — gate vacuous")
    }
    // the wrap box must actually SPLIT (points on both sides of the line)
    val wrapped = GeoOps.withinBox(pts, "lat", "lon", 40.0, 150.0, -20.0, -120.0)
      .select("lon").as[Double].collect()
    assert(wrapped.exists(_ >= 150.0) && wrapped.exists(_ <= -120.0),
      "wrap fixture one-sided — antimeridian arm unexercised")
    // over a parquet source the whole predicate reaches PushedFilters
    val tmp = "/tmp/graft_bbox_pts"
    pts.write.mode("overwrite").parquet(tmp)
    val plan = GeoOps.withinBox(spark.read.parquet(tmp), "lat", "lon",
      40.0, -30.0, -20.0, 60.0).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThanOrEqual(lat,-20.0"),
      s"bbox predicate not pushed:\n$plan")
    intercept[IllegalArgumentException](
      GeoOps.withinBox(pts, "lat", "lon", -20.0, 0.0, 40.0, 10.0))
  }

  test("ArrayDot == higher-order fold spelling bit-exactly; codegen == interpreted; loud on length mismatch") {
    // adversarial doubles: mixed magnitudes so summation ORDER matters —
    // a re-associated fold would diverge in the low bits and fail the ==
    val vecs = Seq(
      (0L, Array(1e16, 1.0, -1e16, 3.5, 0.1, -2.25, 1e-7, 42.0)),
      (1L, Array(-0.5, 1e10, 2.0, -1e10, 7.75, 0.003, -9.0, 1e3)),
      (2L, Array(3.0, -4.0, 5e5, 6e-5, -7e7, 8.0, 9.5, -10.25))
    ).toDF("id", "v")
    val pairs = vecs.as("x").crossJoin(vecs.as("y"))
      .select(col("x.v").as("ea"), col("y.v").as("eb"))
    val legacy =
      """aggregate(zip_with(ea, eb, (x, y) -> x * y), 0D, (acc, v) -> acc + v)
        | / (sqrt(aggregate(transform(ea, x -> x * x), 0D, (acc, v) -> acc + v))
        |    * sqrt(aggregate(transform(eb, x -> x * x), 0D, (acc, v) -> acc + v)))""".stripMargin
    val native = graft.functions.ArrayDot(col("ea"), col("eb")) /
      (sqrt(graft.functions.ArrayDot(col("ea"), col("ea"))) *
        sqrt(graft.functions.ArrayDot(col("eb"), col("eb"))))
    // column form runs through doGenCode (whole-stage codegen on by default)
    val rows = pairs.select(col("ea"), col("eb"), expr(legacy).as("l"), native.as("n")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) == r.getDouble(3), "ArrayDot diverges from the fold spelling")
      // interpreted path (nullSafeEval via the static loop) agrees too
      val ea = r.getSeq[Double](0).toArray
      val eb = r.getSeq[Double](1).toArray
      def dot(x: Array[Double], y: Array[Double]) = {
        var acc = 0.0; var i = 0
        while (i < x.length) { acc += x(i) * y(i); i += 1 }
        acc
      }
      assert(r.getDouble(3) == dot(ea, eb) / (math.sqrt(dot(ea, ea)) * math.sqrt(dot(eb, eb))))
    }
    val bad = Seq((Array(1.0, 2.0), Array(1.0, 2.0, 3.0))).toDF("ea", "eb")
    val e = intercept[Exception](bad.select(native).collect())
    assert(e.getMessage != null)
  }

  test("Par.fanOut: a frame with an upstream exchange comes back untouched, no job runs") {
    val agg = spark.range(0, 1000, 1, 3).groupBy((col("id") % 7).as("k")).count()
    var out: org.apache.spark.sql.DataFrame = null
    assert(countJobs { out = Par.fanOut(agg) } == 0)
    assert(out eq agg)
    // a one-split scan still widens to defaultParallelism
    val par = spark.sparkContext.defaultParallelism
    val oneSplit = spark.range(0, 100, 1, 1).toDF("id")
    assert(Par.fanOut(oneSplit).rdd.getNumPartitions == par)
  }

  test("nearDupClusters input contract: non-integral ids fail fast with the contract message") {
    val byName = Seq(("x", "y"), ("y", "z")).toDF("a", "b")
    val e = intercept[IllegalArgumentException](DedupOps.nearDupClusters(byName).collect())
    assert(e.getMessage.contains("pair column 'a' must hold integral ids, got string"), e.getMessage)
    assert(e.getMessage.contains("nearDupClusters scaladoc"))
    // narrower integral ids are accepted and widen to long
    val ints = Seq((1, 2), (2, 3)).toDF("a", "b")
    assert(DedupOps.nearDupClusters(ints).collect().map(_.getLong(1)).toSet == Set(1L))
  }
}
