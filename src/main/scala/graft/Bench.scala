package graft

import graft.driver.DocumentsIndex
import org.apache.spark.sql.SparkSession

/** Driver benchmark (SURVEY.md §0.4): wall-clock per SparkEntry.queries
  * entry on $SPARK_GRAFT_SF_DIR, one JSON line to stdout.
  *
  * The engine index over `documents` is built fresh (cache cleared) and
  * timed separately as `build_sec` BEFORE the per-query timings, so engine
  * query entries measure query latency, not a hidden index build. BM25
  * throughput over the warm index is reported as `bm25_qps`.
  */
object Bench {
  /** The bench session on `cpus` local cores (BenchExtra measures with it too). */
  def session(cpus: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Tungsten execution memory off-heap (1 GiB/core): the index build's
      // sort buffers otherwise live in the heap as a large long-lived set
      // that ParallelGC re-copies on every collection — measured in
      // graft.Scaling as 45-107 s of GC per 2M-doc build at 8 cores vs
      // ~1 s off-heap. Standard sort-heavy executor configuration.
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", (1024L * 1024 * 1024 * cpus.toLong).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = session(cpus)

    // fresh, timed engine build (docs -> registry/stats/postings/dictionary);
    // the delta-served pair (b15's base + delta segment) is timed apart so
    // build_sec stays the comparable text+tags figure across rounds
    val buildSec = DocumentsIndex.rebuild(spark, sfDir)
    val buildDeltaSec = DocumentsIndex.rebuildDelta(spark, sfDir)

    // A failing entry must be loudly visible: its timing is the sentinel
    // -1.0 (never a plausible wall-clock) and it lands in `failed`.
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val results = SparkEntry.queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          failed += name
          false
      }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }

    // warm-index BM25 throughput: the fixed driver-table query trio.
    // Throughput = queries / MIN round time — the steal-robust estimator
    // graft.Scaling uses everywhere: this box is a shared host with
    // multi-minute 7-48% steal bursts, and a mean over rounds reports the
    // co-tenant's load, not the engine's speed (the min round is the one
    // that ran unstolen).
    val bmQueries = Seq("spark join", "window merge batch vector", "the a value")
    val rounds = 7
    def minRoundSec(body: => Unit): Double = {
      var best = Double.MaxValue
      for (_ <- 1 to rounds) {
        val t0 = System.nanoTime()
        body
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      best
    }
    bmQueries.foreach(q => DocumentsIndex.bm25(spark, sfDir, q, 10).count()) // warm
    val qps = bmQueries.size / minRoundSec(
      bmQueries.foreach(q => DocumentsIndex.bm25(spark, sfDir, q, 10).count()))

    // batch mode: all queries in one job per round
    val reader = DocumentsIndex.reader(spark, sfDir)
    reader.searchBmwBatch(bmQueries, 10) // warm
    val qpsBatch = bmQueries.size / minRoundSec(reader.searchBmwBatch(bmQueries, 10))

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir","build_sec":$buildSec,"build_delta_sec":$buildDeltaSec,"bm25_qps":$qps,"bm25_qps_batch":$qpsBatch,"cpus":$cpus}""")
    spark.stop()
  }
}
