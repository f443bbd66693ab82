package graft

import graft.driver.DocumentsIndex
import graft.index.{DeltaIndex, InvertedIndex}
import graft.lineage.Manifests
import graft.tokenize.Analyzer
import org.apache.hadoop.fs.Path
import org.scalatest.BeforeAndAfterAll

/** Pins the resume rules of the driver's four sub-indexes (text, tags,
  * stop, delta) through the public `*IndexDir` accessors: a committed
  * sub-index is served as is on the next process's first call, and one that
  * is torn, built with another analyzer, or missing its delta segment is
  * deleted and rebuilt. One private copy of sf0.001; each case rebuilds at
  * most one sub-index once more.
  */
class SubIndexLifecycleSpec extends SparkSpec with BeforeAndAfterAll {
  private lazy val sf = DocIdxFixture.copy("lifecycle")

  private def dirs: Map[String, String] = Map(
    "text" -> DocumentsIndex.indexDir(spark, sf),
    "tags" -> DocumentsIndex.tagsIndexDir(spark, sf),
    "stop" -> DocumentsIndex.stopIndexDir(spark, sf),
    "delta" -> DocumentsIndex.deltaIndexDir(spark, sf))

  private lazy val built = dirs

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (segment, stage, committedAtMs, runId) of every lineage SUCCESS marker
    * row in every committed segment of `idx`.
    */
  private def markers(idx: String): Set[(String, String, Long, String)] =
    DeltaIndex.segmentDirs(spark, idx).flatMap { seg =>
      fs.listStatus(new Path(s"$seg/lineage")).toSeq.filter(_.isDirectory).map(_.getPath.getName)
        .flatMap { stage =>
          spark.read.schema(Manifests.Schema).parquet(s"$seg/lineage/$stage")
            .where("partitionId = -1").collect()
            .map(r => (seg, stage, r.getAs[Long]("committedAtMs"), r.getAs[String]("runId")))
        }
    }.toSet

  private def overwrite(file: String, content: String): Unit = {
    val out = fs.create(new Path(file), true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
  }

  /** Every marker of `idx` after `body` was committed after every marker
    * before it: the sub-index was rebuilt from scratch.
    */
  private def rebuiltBy(idx: String)(body: => Unit): Unit = {
    val before = markers(idx)
    body
    val after = markers(idx)
    assert(after.nonEmpty)
    assert(after.map(_._3).min > before.map(_._3).max, s"$idx was not rebuilt")
  }

  override def afterAll(): Unit = {
    try if (DocIdxFixture.available) DocIdxFixture.cleanup(sf)
    finally super.afterAll()
  }

  test("a fresh process's first *IndexDir call resumes every committed sub-index and writes nothing") {
    assume(DocIdxFixture.available)
    val before = built.map { case (name, idx) => name -> markers(idx) }
    assert(before.values.forall(_.nonEmpty))
    DocIdxFixture.forget(sf)
    assert(dirs == built)
    assert(built.map { case (name, idx) => name -> markers(idx) } == before)
  }

  test("a torn FORMAT_VERSION sidecar rebuilds the sub-index") {
    assume(DocIdxFixture.available)
    val tags = built("tags")
    rebuiltBy(tags) {
      overwrite(s"$tags/FORMAT_VERSION", "")
      assert(!InvertedIndex.formatVersionOk(spark, tags))
      DocIdxFixture.forget(sf)
      assert(DocumentsIndex.tagsIndexDir(spark, sf) == tags)
    }
    assert(InvertedIndex.formatVersionOk(spark, tags))
  }

  test("a stop index whose ANALYZER sidecar names the default analyzer rebuilds with the stop set") {
    assume(DocIdxFixture.available)
    val stop = built("stop")
    val want = Analyzer(DocumentsIndex.StopwordSet)
    assert(InvertedIndex.readAnalyzer(spark, stop) == want)
    rebuiltBy(stop) {
      overwrite(s"$stop/ANALYZER", Analyzer.default.serialized)
      assert(InvertedIndex.readAnalyzer(spark, stop) == Analyzer.default)
      DocIdxFixture.forget(sf)
      assert(DocumentsIndex.stopIndexDir(spark, sf) == stop)
    }
    assert(InvertedIndex.readAnalyzer(spark, stop) == want)
  }

  test("a delta-served index whose deltas/ dir is gone rebuilds with one delta segment") {
    assume(DocIdxFixture.available)
    val delta = built("delta")
    assert(DeltaIndex.deltaDirs(spark, delta).size == 1)
    rebuiltBy(delta) {
      fs.delete(new Path(s"$delta/deltas"), true)
      assert(DeltaIndex.deltaDirs(spark, delta).isEmpty)
      DocIdxFixture.forget(sf)
      assert(DocumentsIndex.deltaIndexDir(spark, sf) == delta)
    }
    assert(DeltaIndex.deltaDirs(spark, delta).size == 1)
  }
}
