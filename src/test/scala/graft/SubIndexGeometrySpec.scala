package graft

import graft.driver.DocumentsIndex

/** Cross-field rows merge the text and tags sub-indexes by raw docId, which
  * is a function of the build's shuffle-partition count. A sub-index cached
  * by a session with another partition count must never be paired with one
  * built at the current count.
  */
class SubIndexGeometrySpec extends SparkSpec {
  test("tags cached at another shuffle-partition count do not break cross_fields") {
    assume(DocIdxFixture.available)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val mixed = DocIdxFixture.copy("geom_mixed")
    val whole = DocIdxFixture.copy("geom_whole")
    try {
      spark.conf.set(key, "3")
      DocumentsIndex.tagsIndexDir(spark, mixed)
      spark.conf.set(key, "8")
      val got = DocumentsIndex.multiMatchCross(spark, mixed, "spark src18 de", k = 10).collect().toSeq
      val want = DocumentsIndex.multiMatchCross(spark, whole, "spark src18 de", k = 10).collect().toSeq
      assert(want.nonEmpty)
      assert(got == want)
    } finally {
      spark.conf.set(key, prev)
      DocIdxFixture.cleanup(mixed)
      DocIdxFixture.cleanup(whole)
    }
  }
}
