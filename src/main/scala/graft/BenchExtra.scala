package graft

import graft.driver.DocumentsIndex
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Measurement-only harness for the optimization rounds (guide §1): times
  * individual SparkEntry.queries entries with the SAME session config and
  * action as graft.Bench, but additionally
  *   - counts Spark jobs / stages / tasks per entry (a SparkListener), so
  *     latency-dominated entries (many tiny jobs) separate from
  *     compute-dominated ones;
  *   - runs each entry `reps` times so warm-path cost separates from
  *     first-run planning;
  *   - optionally dumps .explain("formatted") to plans/<tag>/<name>.txt.
  *
  * Usage: sbt "runMain graft.BenchExtra [reps] [explainTag] [name...]"
  * (no names = all entries). Never used by the driver; Bench.scala is the
  * frozen measurement contract.
  */
object BenchExtra {
  final class Counts extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = stages += 1
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = tasks += 1
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0 }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val reps = args.headOption.map(_.toInt).getOrElse(2)
    // strip characters that are not filesystem-tag-safe — sbt passes a
    // quoted '' through literally, which once created a plans/''/ directory
    val explainTag = args.drop(1).headOption.getOrElse("")
      .filter(c => c.isLetterOrDigit || c == '_' || c == '-' || c == '.')
    val names = args.drop(2).toSet
    val spark = Bench.session(cpus)

    val counts = new Counts
    spark.sparkContext.addSparkListener(counts)

    val tBuild0 = System.nanoTime()
    counts.reset()
    val buildSec = DocumentsIndex.rebuild(spark, sfDir)
    val bJobs = (counts.jobs, counts.stages, counts.tasks)
    counts.reset()
    val buildDeltaSec = DocumentsIndex.rebuildDelta(spark, sfDir)
    println(f"[extra] build=$buildSec%.2f (j=${bJobs._1} st=${bJobs._2} tk=${bJobs._3}) " +
      f"delta=$buildDeltaSec%.2f (j=${counts.jobs} st=${counts.stages} tk=${counts.tasks}) " +
      f"wall=${(System.nanoTime() - tBuild0) / 1e9}%.2f")

    val selected = SparkEntry.queries.filter { case (n, _) => names.isEmpty || names(n) }
    selected.foreach { case (name, fn) =>
      if (explainTag.nonEmpty) {
        val dir = new java.io.File(s"plans/$explainTag")
        dir.mkdirs()
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        val w = new java.io.PrintWriter(new java.io.File(dir, s"$name.txt"))
        try w.write(plan) finally w.close()
      }
      val times = (1 to reps).map { i =>
        counts.reset()
        spark.sparkContext.setJobDescription(s"bx:$name#$i")
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count()
        catch { case e: Throwable => println(s"[extra] $name FAILED: $e") }
        val sec = (System.nanoTime() - t0) / 1e9
        (sec, counts.jobs, counts.stages, counts.tasks)
      }
      spark.sparkContext.setJobDescription(null)
      val line = times.zipWithIndex.map { case ((s, j, st, tk), i) =>
        f"r${i + 1}=$s%.3f s (j=$j st=$st tk=$tk)"
      }.mkString("  ")
      println(f"[extra] $name%-28s $line")
    }
    spark.stop()
  }
}
