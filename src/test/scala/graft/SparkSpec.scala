package graft

import graft.query.{BlockMaxWand, IndexReader}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate => one JVM-wide
  * session; forked test JVM gets the build.sbt --add-opens flags).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session

  /** Spark jobs submitted while `body` runs (SparkListener job starts). */
  def countJobs(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      // listener delivery is async — poll until the count stabilizes
      var prev = -1; var cur = jobs.get
      while (cur != prev) { Thread.sleep(300); prev = cur; cur = jobs.get }
      cur
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Per-term (idf, maxImpact) as raw bits: equal iff bit for bit equal. */
  def metaBits(m: Map[String, BlockMaxWand.TermMeta]): Map[String, (Long, Long)] =
    m.map { case (t, x) =>
      t -> (java.lang.Double.doubleToRawLongBits(x.idf), java.lang.Double.doubleToRawLongBits(x.maxImpact))
    }

  /** On a fresh reader over the index at `dir`, in both dictionary forms
    * (the resident table, and the scan form with its dictionary memo),
    * `termMeta` of a fuzzy and of a wildcard expansion submits no job (the
    * resident table serves it, or the expansion seeded the memo) and
    * equals, bit for bit, a fresh scan-form reader's `termMeta`. The
    * index's vocabulary must be CorpusGen's.
    */
  def assertExpansionsSeedMemo(dir: String): Unit =
    for (r <- Seq(new IndexReader(spark, dir), new IndexReader(spark, dir).scanForm)) {
      r.stats
      for (terms <- Seq(r.expandFuzzy("deff", 2), r.expandWildcard("*uf*"))) {
        assert(terms.nonEmpty)
        val jobs = countJobs(r.termMeta(terms))
        assert(jobs == 0, s"termMeta after the expansion ran $jobs jobs (resident: ${r.resident.isDefined})")
        assert(metaBits(r.termMeta(terms)) == metaBits(new IndexReader(spark, dir).scanForm.termMeta(terms)),
          s"termMeta after the expansion differs from a fresh dictionary scan (resident: ${r.resident.isDefined})")
      }
    }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
