package perfbench

import graft.fixtures.CorpusGen
import graft.ops.DedupOps
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The training-data path: the five dedup operators, each materialized, over
  * a CorpusGen window with planted near-duplicates.
  */
object Dedup {
  final case class Plant(dst: Long, src: Long, seed: Long, rate: Double)

  /** The text of a planted copy: the source's whitespace tokens, each
    * replaced with probability `rate` by a CorpusGen vocabulary word drawn
    * from `seed`. Rate 0 is an exact copy.
    */
  def mutate(text: String, seed: Long, rate: Double): String =
    if (rate == 0.0) text
    else {
      val rng = new java.util.Random(seed)
      val vocab = CorpusGen.MidIds
      text.split("\\s+").map(t => if (rng.nextDouble() < rate) vocab(rng.nextInt(vocab.length)) else t)
        .mkString(" ")
    }

  /** DedupOps' shingle set, recomputed on the driver: Spark's trim (spaces
    * only) and split (trailing empty fields kept), word 5-grams.
    */
  def shingleSet(text: String): Set[String] = {
    val arr = text.toLowerCase(java.util.Locale.ROOT).replaceAll("^ +| +$", "").split("\\s+", -1)
    (0 until math.max(arr.length - 4, 1)).map(i => arr.slice(i, i + 5).mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b)
    inter.toDouble / (a.size + b.size - inter)
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def run(r: Run): Unit = {
    val spark = r.spark
    import spark.implicits._
    val lo = r.plan.get("lo").asLong
    val n = r.plan.get("n").asLong
    val minJ = r.plan.get("min_jaccard").asDouble
    val maxDf = r.plan.get("max_shingle_df").asLong
    val maxDist = r.plan.get("max_hamming").asInt
    val plants = r.plan.get("plants").elements().asScala.map { p =>
      Plant(p.get(0).asLong, p.get(1).asLong, p.get(2).asLong, p.get(3).asDouble)
    }.toVector
    val src = s"${r.work}/dedup_src"
    val reps = r.plan.get("setup_reps").asInt
    val warmupPasses = r.plan.get("warmup_passes").asInt
    var last: Map[String, Array[Row]] = Map.empty

    def pass(df: DataFrame, record: Boolean): Unit = {
      def timed(name: String, op: String)(body: => Array[Row]): Array[Row] =
        if (!record) body
        else {
          val (rows, sec) = r.op(op, "ops")(body)
          r.sample(s"dedup.${name}_s", sec)
          last += name -> rows.getOrElse(Array.empty)
          rows.getOrElse(Array.empty)
        }
      timed("exact", "DedupOps.exactDupGroups")(DedupOps.exactDupGroups(df).where(col("group_size") > 1).collect())
      timed("minhash", "DedupOps.nearDupPairs")(DedupOps.nearDupPairs(df, minJ).collect())
      val ngram = timed("ngram", "DedupOps.ngramJaccardPairs")(DedupOps.ngramJaccardPairs(df, minJ, maxDf).collect())
      timed("simhash", "DedupOps.simhashNearPairs")(DedupOps.simhashNearPairs(spark, df, maxDist).collect())
      val pairs = ngram.map(x => (x.getLong(0), x.getLong(1))).toSeq.toDF("a", "b")
      timed("clusters", "DedupOps.nearDupClusters")(DedupOps.nearDupClusters(pairs).collect())
    }

    (1 to reps).foreach { _ =>
      r.setup {
        val base = spark.range(0L, n, 1L, r.cpus).as[Long].map(i => (i, CorpusGen.row(lo + i).content))
        val copies = spark.createDataset(plants).repartition(r.cpus)
          .map(p => (p.dst, mutate(CorpusGen.row(lo + p.src).content, p.seed, p.rate)))
        base.union(copies).toDF("doc_id", "text").write.mode("overwrite").parquet(src)
      }
    }
    val df = spark.read.parquet(src)
    // untimed passes first, so the window's passes run with the generated
    // code compiled and the JIT past its start
    r.warmup((1 to warmupPasses).foreach(_ => pass(df, record = false)))
    val total = n + plants.size

    r.window(r.seconds) { _ =>
      pass(df, record = true)
      r.sample("pass.docs", total.toDouble)
    }
    Seq("minhash", "ngram", "simhash").foreach(k => r.put(s"dedup.pairs.$k", last(k).length))
    if (r.checking) checks(r, df, plants, last, minJ, maxDf)
    if (r.traced) Contract.run(r, df)
  }

  def checks(r: Run, df: DataFrame, plants: Vector[Plant], out: Map[String, Array[Row]],
      minJ: Double, maxDf: Long): Unit = {
    val spark = r.spark
    import spark.implicits._
    val rng = new java.util.Random(r.plan.get("check_seed").asLong)
    def sample(rows: Array[Row], k: Int) = rng.ints(0, math.max(rows.length, 1)).limit(math.min(k, rows.length))
      .toArray.map(rows(_))
    val checked = Seq("minhash", "ngram").map(k => k -> sample(out(k), 100))
    val pairs = plants.map(p => (p.src, p.dst))
    val ids = (checked.flatMap(_._2.flatMap(x => Seq(x.getLong(0), x.getLong(1)))) ++
      pairs.flatMap(p => Seq(p._1, p._2))).distinct
    val text = df.where(col("doc_id").isin(ids: _*)).as[(Long, String)].collect().toMap
    val sets = text.map { case (id, t) => id -> shingleSet(t) }

    checked.foreach { case (k, rows) =>
      val bad = rows.filterNot { x =>
        val j = jaccard(sets(x.getLong(0)), sets(x.getLong(1)))
        j >= minJ - 5e-5 && math.abs(j - x.getDouble(2)) <= 5e-5 + 1e-9
      }
      r.check(s"$k.jaccard", bad.isEmpty, s"pairs below $minJ or misreported: ${bad.take(3).mkString(",")}")
    }

    val exactFps = out("exact").map(_.getString(0)).toSet
    val exactPlants = plants.filter(_.rate == 0.0)
    r.check("exact.planted", exactPlants.forall(p => exactFps(md5Hex(text(p.dst)))),
      "an exact planted copy is missing from exactDupGroups")

    // planted pairs ngramJaccardPairs must find: true Jaccard >= minJ and a
    // shared shingle with 1 < df <= maxShingleDf
    val shared = pairs.map(p => p -> (sets(p._1) intersect sets(p._2)))
    val sharedAll = shared.flatMap(_._2).distinct
    val dfs = DedupOps.shingles(df).distinct()
      .join(broadcast(sharedAll.toDF("shingle")), Seq("shingle"))
      .groupBy("shingle").count().as[(String, Long)].collect().toMap
    val eligible = shared.filter { case ((a, b), sh) =>
      jaccard(sets(a), sets(b)) >= minJ && sh.exists(s => dfs.get(s).exists(d => d > 1 && d <= maxDf))
    }.map(_._1)
    val found = out("ngram").map(x => (x.getLong(0), x.getLong(1))).toSet
    val recall = if (eligible.isEmpty) 1.0 else eligible.count(p => found((p._1 min p._2, p._1 max p._2))).toDouble / eligible.size
    r.put("dedup.planted_recall", recall)
    r.put("dedup.planted_eligible", eligible.size)
    r.check("ngram.planted_recall", recall == 1.0 && eligible.nonEmpty,
      s"ngramJaccardPairs found $recall of ${eligible.size} eligible planted pairs")
    val labels = out("clusters").map(x => x.getLong(0) -> x.getLong(1)).toMap
    r.check("clusters.planted", eligible.forall(p => labels.get(p._1).exists(l => labels.get(p._2).contains(l))),
      "an eligible planted pair is split across clusters")
  }
}
