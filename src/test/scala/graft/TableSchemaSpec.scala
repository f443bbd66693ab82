package graft

import graft.fixtures.{CodeFile, CorpusGen}
import graft.index.{DeltaIndex, IndexConfig, InvertedIndex}
import graft.io.Tables
import graft.lineage.Manifests
import graft.query.IndexReader
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The index's own tables are read with declared schemas (no parquet
  * schema-inference job): every declared schema must equal what inference
  * returns from the committed files, the manifest checksum pass must equal
  * the `groupBy(input_file_name())` aggregate it replaced, and the job
  * counts of a query and a build pin the saving.
  */
class TableSchemaSpec extends SparkSpec {
  import spark.implicits._

  val cfg: IndexConfig = IndexConfig(partitions = 4, heavyDfThreshold = 100L, saltRunDocs = 100L)

  /** An empty index directory for one case. */
  private def fresh(name: String): String = {
    Tables.delete(spark, "/tmp", s"graft_schema_$name")
    s"/tmp/graft_schema_$name"
  }

  def docsRange(lo: Long, hi: Long): Dataset[CodeFile] =
    spark.range(lo, hi, 1L, 4).as[Long].map(CorpusGen.row)

  private def inferred(dir: String, table: String): StructType =
    spark.read.parquet(Tables.tablePath(dir, table)).schema

  private def lineageTables(dir: String): Seq[String] = {
    val p = new Path(s"$dir/lineage")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(s => s"lineage/${s.getPath.getName}").toSeq.sorted
  }

  /** Every engine table of the index at `dir`: declared == inferred, with
    * column order and nullability, and the read returns the declared one.
    */
  private def assertSchemas(dir: String): Unit = {
    val declared = Seq(
      InvertedIndex.DocsTable -> InvertedIndex.DocsSchema,
      InvertedIndex.StatsTable -> InvertedIndex.StatsSchema,
      InvertedIndex.PostingsTable -> InvertedIndex.PostingsSchema,
      InvertedIndex.DictTable -> InvertedIndex.DictSchema) ++
      lineageTables(dir).map(_ -> Manifests.Schema)
    for ((t, s) <- declared) {
      assert(inferred(dir, t) == s, s"$dir/$t: declared $s, inferred ${inferred(dir, t)}")
      assert(InvertedIndex.read(spark, dir, t).schema == s, s"$dir/$t: read schema")
    }
  }

  /** (file, rows, checksum) of every committed file row of `stage`'s
    * manifest, and the same from the `groupBy(input_file_name())` aggregate
    * the checksum pass used before, over the same tables.
    */
  private def assertManifestRows(dir: String, stage: String, tables: Seq[String]): Unit = {
    val committed = Tables.read(spark, dir, s"lineage/$stage").where(col("partitionId") >= 0)
      .orderBy("partitionId").select("file", "outputRows", "checksum")
      .as[(String, Long, Long)].collect().toSeq
    val reference = tables.flatMap { t =>
      spark.read.parquet(Tables.tablePath(dir, t))
        .groupBy(input_file_name().as("file"))
        .agg(count(lit(1)).as("rows"), expr("bit_xor(xxhash64(struct(*)))").as("checksum"))
        .collect().sortBy(_.getString(0))
        .map(r => (s"$t:${r.getString(0).split('/').last}", r.getLong(1), r.getLong(2)))
    }
    assert(committed.nonEmpty && committed == reference, s"$dir lineage/$stage")
  }

  test("declared schemas == inferred: positions on/off, empty corpus, delta segment") {
    val (on, off, empty) = (fresh("on"), fresh("off"), fresh("empty"))
    InvertedIndex.build(spark, docsRange(0, 400), on, cfg, "on")
    val delta = DeltaIndex.addDocuments(spark, on, docsRange(400, 460), cfg, "d0")
    InvertedIndex.build(spark, docsRange(0, 400), off, cfg.copy(storePositions = false), "off")
    // an empty corpus commits its postings unpartitioned (tbucket as a
    // plain column): the same schema must come back
    InvertedIndex.build(spark, spark.emptyDataset[CodeFile], empty, cfg, "empty")
    Seq(on, delta, off, empty).foreach(assertSchemas)
    intercept[IllegalArgumentException](InvertedIndex.read(spark, on, "documents"))
  }

  test("declared schemas == inferred: sliced build scratch and its merged tables") {
    val dir = fresh("sliced")
    val sliced = cfg.copy(resumeSlices = 3)
    intercept[RuntimeException] {
      InvertedIndex.build(spark, docsRange(0, 400), dir, sliced.copy(chaosFailAfterSlice = 0), "kill")
    }
    for (t <- Seq("postings_slices/p4n3/s0", "postings_slices/p4n3/heavy_terms"))
      assert(InvertedIndex.read(spark, dir, t).schema == inferred(dir, t), t)
    assertManifestRows(dir, "postings_slice_p4n3_0", Seq("postings_slices/p4n3/s0"))
    InvertedIndex.build(spark, docsRange(0, 400), dir, sliced, "resume")
    assertSchemas(dir)
  }

  test("manifest rows == the groupBy(input_file_name()) aggregate over the same tables") {
    val dir = fresh("manifest")
    InvertedIndex.build(spark, docsRange(0, 400), dir, cfg, "m")
    assert(Tables.read(spark, dir, "lineage/postings").where(col("partitionId") >= 0).count() > 4,
      "postings should span several files")
    for ((stage, t) <- Seq("registry" -> InvertedIndex.DocsTable, "stats" -> InvertedIndex.StatsTable,
        "postings" -> InvertedIndex.PostingsTable, "dictionary" -> InvertedIndex.DictTable))
      assertManifestRows(dir, stage, Seq(t))
  }

  test("job counts: a memo-missing searchBmw and a fresh build") {
    val dir = fresh("jobs")
    val buildJobs = countJobs(InvertedIndex.build(spark, docsRange(0, 400), dir, cfg, "jobs"))
    // 15 below the 43 jobs this build runs when every table read infers its
    // schema and each manifest checksum pass is a groupBy (3 jobs)
    assert(buildJobs <= 28, s"fresh build ran $buildJobs jobs")
    val reader = new IndexReader(spark, dir)
    reader.stats
    reader.searchBmw("def val", 10) // warms the reader's sidecars, not these terms
    val queryJobs = countJobs(reader.searchBmw("z100_id return", 10))
    // 2 below the 5 jobs it runs when the dictionary and postings reads
    // each infer their schema
    assert(queryJobs <= 3, s"searchBmw ran $queryJobs jobs")
  }
}
