package perfbench

import graft.fixtures.{CodeFile, CorpusGen}
import graft.index.{DeltaIndex, IndexConfig, InvertedIndex}
import graft.io.Tables
import graft.lineage.Manifests
import graft.query.{IndexReader, SearchHit}
import graft.tokenize.CodeTokenizer
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The write path: a full build over the base window, delta batches each
  * followed by probes through a fresh base ∪ delta reader, then compaction
  * and the same probes over the compacted index. The read path
  * ([[Search]]) then runs over the compacted index.
  */
object Ingest {
  /** The build settings graft.driver.DocumentsIndex uses for its text index. */
  def config(cpus: Int): IndexConfig =
    IndexConfig(partitions = cpus, heavyDfThreshold = 1000L, saltRunDocs = 1000L)

  /** Stage rows [lo, lo + sizes.sum) of CorpusGen to parquet, one partition
    * directory per part of `sizes`. Returns the content bytes of each part.
    */
  def stage(spark: SparkSession, dir: String, lo: Long, sizes: Seq[Long], cpus: Int): Map[Int, Long] = {
    import spark.implicits._
    val bounds = sizes.scanLeft(0L)(_ + _).tail.toArray
    spark.range(lo, lo + sizes.sum, 1, cpus).as[Long].map { id =>
      val f = CorpusGen.row(id)
      val part = bounds.indexWhere(id - lo < _)
      (part, f.repo, f.path, f.commit, f.lang, f.content)
    }.toDF("part", "repo", "path", "commit", "lang", "content")
      .write.mode("overwrite").partitionBy("part").parquet(dir)
    spark.read.parquet(dir).groupBy("part").agg(sum(length(col("content"))))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
  }

  def part(spark: SparkSession, dir: String, i: Int): Dataset[CodeFile] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/part=$i").as[CodeFile]
  }

  /** Top-k hits as (doc key, score), ready to compare across segment layouts:
    * docIds differ between a base ∪ delta index and its compaction.
    */
  def keyed(spark: SparkSession, reader: IndexReader, hits: Array[SearchHit]): Seq[(String, Double)] = {
    val ids = hits.toSeq.map(_.docId)
    val keys = reader.segments.map(seg =>
        Tables.read(spark, seg, InvertedIndex.DocsTable).where(col("docId").isin(ids: _*))
          .select(col("docId"), concat_ws("/", col("repo"), col("path"), col("commit"))))
      .reduce(_ unionByName _).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    hits.toSeq.map(h => keys(h.docId) -> h.score)
  }

  /** Equal top-k up to the order of tied scores, and up to which tied docs
    * fill the last places.
    */
  def sameTopK(a: Seq[(String, Double)], b: Seq[(String, Double)]): Boolean = {
    def close(x: Double, y: Double) = math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
    a.size == b.size && a.zip(b).forall { case (x, y) => close(x._2, y._2) } && {
      val last = a.lastOption.map(_._2).getOrElse(0.0)
      def above(s: Seq[(String, Double)]) = s.filterNot(h => close(h._2, last)).map(_._1).toSet
      above(a) == above(b)
    }
  }

  def run(r: Run): Unit = {
    val spark = r.spark
    val lo = r.plan.get("lo").asLong
    val sizes = r.strings("sizes").map(_.toLong)
    val probes = r.strings("probes")
    val src = s"${r.work}/src"
    val dir = s"${r.work}/idx"
    val cfg = config(r.cpus)
    val reps = r.plan.get("setup_reps").asInt

    // no warm-up: the write phase is the cold write path of a fresh session,
    // as a batch ingest job runs it, Janino compiles and JIT included
    var srcBytes = 0L
    (1 to reps).foreach(_ => srcBytes = r.setup(stage(spark, src, lo, sizes, r.cpus)).values.sum)
    val base = part(spark, src, 0)
    val deltas = sizes.indices.drop(1).map(part(spark, src, _))
    val all = base.union(deltas.reduce(_ union _))
    val nBase = sizes.head
    val nAll = sizes.sum

    def probe(tag: String): Seq[Seq[(String, Double)]] = {
      val (reader, _) = r.op("IndexReader.open", "query")(new IndexReader(spark, dir))
      reader.toSeq.flatMap { rd =>
        probes.flatMap { q =>
          val (hits, sec) = r.op("IndexReader.searchBmw", "query")(rd.searchBmw(q, 10))
          r.sample(s"probe.$tag.ms", sec * 1e3)
          hits.map(h => r.tracer.span("check.keys", "bench")(keyed(spark, rd, h)))
        }
      }
    }
    def numDocs(name: String, want: Long): Unit = {
      val got = r.tracer.span("check.numDocs", "bench")(DeltaIndex.totalDocs(spark, dir))
      r.check(name, got == want, s"numDocs $got, want $want")
    }

    // exactly one round whatever --seconds is, so the window always holds one
    // cold build; --seconds goes to the read phase
    r.window(0.0) { _ =>
      r.tracer.span("reset", "bench")(r.delete(dir))
      val (rep, buildSec) = r.op("InvertedIndex.build", "index") {
        val rep = InvertedIndex.build(spark, base, dir, cfg, "perfbench")
        r.tracer.returnedChildren(rep.results.map(s => (s"stage.${s.stage}", "index", s.wallSec)))
        rep
      }
      r.sample("build.docs", nBase.toDouble)
      r.sample("build.s", buildSec)
      rep.foreach(_.results.foreach(s => r.sample(s"index.${s.stage}_s", s.wallSec)))
      numDocs("numDocs.build", nBase)

      var expected = nBase
      var before: Seq[Seq[(String, Double)]] = Nil
      deltas.zipWithIndex.foreach { case (d, i) =>
        val (_, sec) = r.op("DeltaIndex.addDocuments", "index")(
          DeltaIndex.addDocuments(spark, dir, d, cfg, s"delta$i"))
        expected += sizes(i + 1)
        r.sample("delta.docs", sizes(i + 1).toDouble)
        r.sample("delta.s", sec)
        numDocs(s"numDocs.delta$i", expected)
        before = probe("composite")
      }
      val (_, compactSec) = r.op("DeltaIndex.compact", "index")(
        DeltaIndex.compact(spark, dir, all, cfg, "compact"))
      r.sample("compact.s", compactSec)
      r.sample("compact.docs", nAll.toDouble)
      numDocs("numDocs.compact", nAll)
      val after = probe("single")
      r.check("probes.compact", before.size == probes.size && after.size == probes.size &&
        before.zip(after).forall { case (a, b) => sameTopK(a, b) },
        s"top-10 before compact $before != after $after")
    }

    val indexBytes = Seq(InvertedIndex.DocsTable, InvertedIndex.PostingsTable, InvertedIndex.DictTable)
      .map(t => t -> Bytes.of(spark, s"$dir/$t"))
    indexBytes.foreach { case (t, b) => r.put(s"index.bytes.$t", b.toDouble) }
    r.put("index.src_bytes", srcBytes.toDouble)
    r.put("index.bytes_per_src_byte", Bytes.of(spark, dir).toDouble / srcBytes)

    Search.run(r, dir, all)

    if (r.traced) {
      // the manifest checksum pass, re-run alone over this run's postings
      val t = System.nanoTime()
      r.tracer.span("Manifests.commit", "lineage")(
        Manifests.commit(spark, dir, "perfbench_recommit", "perfbench", Seq(InvertedIndex.PostingsTable), 0L))
      r.put("lineage.commit_s", (System.nanoTime() - t) / 1e9)
      r.put("tokenize.mb_per_s", tokenizeMbPerS(spark, base))
    }
  }

  /** CodeTokenizer.tfPos over a fixed sample of the base docs on one thread. */
  def tokenizeMbPerS(spark: SparkSession, base: Dataset[CodeFile]): Double = {
    val texts = base.limit(2000).collect().map(_.content)
    val bytes = texts.map(_.length.toLong).sum
    var sink = 0L
    texts.foreach(t => sink += CodeTokenizer.tfPos(t).size) // warm
    var passes = 0
    val t = System.nanoTime()
    while (passes < 3 || System.nanoTime() - t < 500000000L) {
      texts.foreach(x => sink += CodeTokenizer.tfPos(x).size)
      passes += 1
    }
    require(sink > 0)
    bytes * passes / 1e6 / ((System.nanoTime() - t) / 1e9)
  }
}

object Bytes {
  /** Bytes of the data files under `dir` (Hadoop checksum files excluded). */
  def of(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (!f.getPath.getName.endsWith(".crc")) n += f.getLen
      }
      n
    }
  }
}
