package graft

import graft.fixtures.CorpusGen
import graft.ops.DedupOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The near-dup operators' Spark-builtin spellings, as they stood before the
  * native md5 kernels: per-shingle `min(md5(concat(..)))` aggregates,
  * `transform(.., md5)` fingerprints, `DigestUtils.md5Hex` SimHash bits and
  * the piecewise `conv` Hamming fold. The reference oracle the kernel-backed
  * operators must match row for row.
  */
object DedupReference {
  import DedupOps.{BandSize, NumHashes}

  def shingles(df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame =
    df.select(col(id), split(trim(lower(col(text))), "\\s+").as("arr"))
      .select(col(id), explode(expr(
        "transform(sequence(1, greatest(size(arr) - 4, 1)), i -> array_join(slice(arr, i, 5), ' '))"))
        .as("shingle"))

  def minhashBands(df: DataFrame, id: String = "doc_id", text: String = "text"): DataFrame = {
    val aggs = (0 until NumHashes).map(j =>
      min(md5(concat(col("shingle"), lit("#"), lit(j.toString)))).as(s"mh$j"))
    val sig = shingles(df, id, text).groupBy(col(id)).agg(aggs.head, aggs.tail: _*)
    val bandStructs = (0 until NumHashes / BandSize).map { b =>
      val mhs = (b * BandSize until (b + 1) * BandSize).map(j => col(s"mh$j"))
      struct(lit(b).as("band"), md5(concat(mhs: _*)).as("bucket"))
    }
    sig.select(col(id), explode(array(bandStructs: _*)).as("bb"))
      .select(col(id), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  def nearDupPairs(df: DataFrame, minJaccard: Double, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    val bands = minhashBands(df, id, text)
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("a"), col(s"y.$id").as("b")).distinct()
    val sets = shingles(df, id, text)
      .groupBy(col(id)).agg(sort_array(collect_set(md5(col("shingle")))).as("set"))
    verify(sets, cand, minJaccard, id)
  }

  def ngramJaccardPairs(df: DataFrame, minJaccard: Double, maxShingleDf: Long,
      id: String = "doc_id", text: String = "text"): DataFrame = {
    val docSets = shingles(df, id, text).groupBy(col(id)).agg(collect_set(col("shingle")).as("shset"))
    val fps = docSets.select(col(id), explode(transform(col("shset"), s => md5(s))).as("fp"))
    val rare = fps.groupBy("fp").agg(count(lit(1)).as("sdf"))
      .where(col("sdf") > 1 && col("sdf") <= maxShingleDf)
    val shRare = fps.join(rare.select("fp"), Seq("fp"))
    val cand = shRare.as("x").join(shRare.as("y"),
        col("x.fp") === col("y.fp") && col(s"x.$id") < col(s"y.$id"))
      .select(col(s"x.$id").as("a"), col(s"y.$id").as("b")).distinct()
    verify(docSets.select(col(id), sort_array(transform(col("shset"), s => md5(s))).as("set")),
      cand, minJaccard, id)
  }

  private def verify(sets: DataFrame, cand: DataFrame, minJaccard: Double, id: String): DataFrame =
    cand
      .join(sets.select(col(id).as("a"), col("set").as("sa")), Seq("a"))
      .join(sets.select(col(id).as("b"), col("set").as("sb")), Seq("b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", round(col("inter").cast("double") /
        (size(col("sa")) + size(col("sb")) - col("inter")), 4))
      .where(col("jaccard") >= minJaccard)
      .select("a", "b", "jaccard")

  def simhash(spark: SparkSession, df: DataFrame, id: String = "doc_id",
      text: String = "text"): DataFrame = {
    import spark.implicits._
    df.select(col(id).cast("long"), col(text)).as[(Long, String)].map { case (docId, t) =>
      val (m, _) = graft.tokenize.CodeTokenizer.tfMap(t)
      val acc = new Array[Long](64)
      m.foreach { case (term, tf) =>
        val h = java.lang.Long.parseUnsignedLong(
          org.apache.commons.codec.digest.DigestUtils.md5Hex(term).substring(0, 16), 16)
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
    cand.withColumn("dist",
        expr("""aggregate(sequence(0, 3), 0, (acc, q) ->
          acc + bit_count(cast(conv(substring(ha, q*4 + 1, 4), 16, 10) as int) ^
                          cast(conv(substring(hb, q*4 + 1, 4), 16, 10) as int)))"""))
      .where(col("dist") <= maxDist)
      .select("a", "b", "dist")
  }
}

/** The kernel-backed near-dup operators == [[DedupReference]], sorted row
  * for row, on a corpus with NULL and empty text, a doc_id shared by two
  * texts, mixed case with runs of spaces, and planted near-duplicates.
  */
class DedupEquivalenceSpec extends SparkSpec {
  import spark.implicits._

  private lazy val corpus: DataFrame = {
    val base = (0L until 300L).map(i => (i, CorpusGen.row(i).content))
    val rng = new java.util.Random(33L)
    val planted = (0 until 40).map { k =>
      val words = CorpusGen.row(k * 7L).content.split("\\s+")
      val rate = Seq(0.0, 0.03, 0.08, 0.15)(k % 4)
      (5000L + k, words.map(w => if (rng.nextDouble() < rate) CorpusGen.MidIds(rng.nextInt(50)) else w)
        .mkString(" "))
    }
    val odd = Seq(
      (9000L, null: String), (9001L, ""), (9002L, "   "),
      (9003L, "The  QUICK brown   Fox jumps OVER the lazy dog near the OLD river bank"),
      (9004L, "the quick brown fox jumps over the lazy dog near the old river bank"),
      (9005L, " the Quick Brown fox Jumps over the lazy dog near the old river BANK today "),
      (9006L, "short text"),
      (7L, "a second text under doc_id seven, sharing its id with the corpus row"),
      (9003L, "the quick brown fox jumps over the lazy cat near the old river bank"))
    spark.sparkContext.parallelize(base ++ planted ++ odd, 3).toDF("doc_id", "text")
  }

  private def assertSame(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.schema == want.schema, what)
    val (g, w) = (got.collect().map(_.toSeq.toList), want.collect().map(_.toSeq.toList))
    val order = Ordering.by[List[Any], String](_.mkString("\u0001"))
    assert(g.sorted(order).toList == w.sorted(order).toList, what)
    assert(g.nonEmpty, s"$what: empty output proves nothing")
  }

  test("minhashBands and nearDupPairs == the per-shingle md5 aggregate spelling") {
    assertSame(DedupOps.minhashBands(corpus), DedupReference.minhashBands(corpus), "bands")
    // a NULL-text doc keeps its 4 NULL-bucket band rows
    assert(DedupOps.minhashBands(corpus).where(col("doc_id") === 9000L && col("bucket").isNull)
      .count() == 4)
    Seq(0.6, 0.7).foreach { t =>
      assertSame(DedupOps.nearDupPairs(corpus, t), DedupReference.nearDupPairs(corpus, t),
        s"nearDupPairs($t)")
    }
  }

  test("ngramJaccardPairs == the transform(md5) spelling") {
    assertSame(DedupOps.ngramJaccardPairs(corpus, 0.6, 20),
      DedupReference.ngramJaccardPairs(corpus, 0.6, 20), "ngramJaccardPairs")
  }

  test("simhash and simhashNearPairs == the md5Hex bits and conv Hamming fold") {
    val text = corpus.where(col("text").isNotNull) // CodeTokenizer reads non-null text
    assertSame(DedupOps.simhash(spark, text), DedupReference.simhash(spark, text), "simhash")
    Seq(3, 8).foreach { d =>
      assertSame(DedupOps.simhashNearPairs(spark, text, d),
        DedupReference.simhashNearPairs(spark, text, d), s"simhashNearPairs($d)")
    }
  }
}
