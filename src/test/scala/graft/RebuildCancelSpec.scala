package graft

import graft.driver.DocumentsIndex
import graft.lineage.Manifests
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** `rebuildAll`'s failure contract: when one concurrent sub-index build
  * fails, the caller gets that build's own exception, and every Spark job a
  * sibling build started has ended by the time the call returns.
  */
class RebuildCancelSpec extends SparkSpec {
  test("a failed build cancels its siblings' Spark jobs before rebuildAll returns") {
    assume(DocIdxFixture.available)
    val sf = DocIdxFixture.copy("cancel")
    val sc = spark.sparkContext
    // build groups are named graft-rebuild<suffix>-<uuid>; the text row's
    // suffix is empty
    val textStarted = new CountDownLatch(1)
    val started = ConcurrentHashMap.newKeySet[Int]()
    val endedAt = new ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val group = Option(js.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
        if (group.startsWith("graft-rebuild")) started.add(js.jobId)
        if (group.startsWith("graft-rebuild-")) textStarted.countDown()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        endedAt.put(je.jobId, je.time); ()
      }
    }
    val fake = new DocumentsIndex.SubIndex("_fake", col("text"), storePositions = false) {
      override def build(spark: SparkSession, sfDir: String, idx: String): Unit = {
        assert(textStarted.await(120, TimeUnit.SECONDS), "the text build never started a job")
        throw new IllegalStateException("injected build failure")
      }
    }
    sc.addSparkListener(listener)
    try {
      val e = intercept[IllegalStateException] {
        DocumentsIndex.rebuildAll(spark, sf, Seq(DocumentsIndex.Text, fake))
      }
      val returnedAt = System.currentTimeMillis()
      assert(e.getMessage == "injected build failure")
      // listener delivery is async — poll until every started job's end
      // event has arrived, then check WHEN each job ended
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      def pending = started.toArray.toSeq.filterNot(endedAt.containsKey)
      while (pending.nonEmpty && System.nanoTime() < deadline) Thread.sleep(300)
      assert(!started.isEmpty)
      assert(pending.isEmpty, s"build jobs never ended: $pending")
      val late = started.toArray.toSeq.filter(id => endedAt.get(id) > returnedAt)
      assert(late.isEmpty, s"build jobs still running after rebuildAll returned: $late")
      // the text build was cancelled, not run to completion
      assert(DocIdxFixture.cacheDirs(sf)
        .forall(d => !Manifests.isComplete(spark, d.getPath, "dictionary")))
    } finally {
      sc.removeSparkListener(listener)
      DocIdxFixture.cleanup(sf)
    }
  }
}
