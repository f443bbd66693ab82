package graft.lineage

import graft.index.InvertedIndex
import graft.io.Tables
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Per-stage / per-partition lineage manifests + counters (SURVEY.md §2.3
  * B12; BASELINE.json:6/14: "every stage writes per-partition lineage
  * manifests and counters so a killed job resumes from the last committed
  * checkpoint").
  *
  * Layout: `<indexDir>/lineage/<stage>/` is a parquet table committed AFTER
  * the stage's output tables. Rows with partitionId >= 0 describe one output
  * file each (row count + order-independent xxhash64 checksum); the single
  * partitionId == -1 row is the stage-level SUCCESS marker. A stage is
  * complete iff its marker row exists — so a kill between output write and
  * manifest commit safely re-runs the stage (output overwrite is idempotent).
  */
object Manifests {
  final case class ManifestRow(stage: String, partitionId: Int, file: String,
      inputRows: Long, outputRows: Long, checksum: Long, committedAtMs: Long, runId: String)

  /** Declared schema of every `lineage/<stage>` table (see [[ManifestRow]]). */
  val Schema: StructType = Tables.schemaOf[ManifestRow]

  private def manifestName(stage: String) = s"lineage/$stage"

  /** One job: the marker row is unique, so a filtered collect answers
    * without the incremental partition scans of a `limit`.
    */
  def isComplete(spark: SparkSession, base: String, stage: String): Boolean =
    Tables.exists(spark, base, manifestName(stage)) &&
      InvertedIndex.read(spark, base, manifestName(stage))
        .where(col("partitionId") === -1).select("partitionId").collect().nonEmpty

  /** (file path, rows, bit_xor of xxhash64(struct(*))) per file of `table`,
    * sorted by path, from ONE job with no exchange: each task folds its rows
    * into per-file partials, merged after the collect. Count and xor are
    * associative, so a file split across tasks merges back whole and the
    * result equals a `groupBy(input_file_name())` aggregate. The xor of row
    * hashes is order-independent and overflow-free (ANSI mode).
    */
  private def fileChecksums(spark: SparkSession, base: String,
      table: String): Array[(String, Long, Long)] = {
    import spark.implicits._
    InvertedIndex.read(spark, base, table)
      .select(input_file_name(), expr("xxhash64(struct(*))"))
      .as[(String, Long)]
      .mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[String, (Long, Long)]
        rows.foreach { case (f, h) =>
          val (n, x) = acc.getOrElse(f, (0L, 0L))
          acc.update(f, (n + 1, x ^ h))
        }
        acc.iterator.map { case (f, (n, x)) => (f, n, x) }
      }
      .collect()
      .groupBy(_._1).toArray
      .map { case (f, ps) => (f, ps.map(_._2).sum, ps.map(_._3).reduce(_ ^ _)) }
      .sortBy(_._1)
  }

  /** Commit the manifest for `stage`, fingerprinting each output table file. */
  def commit(spark: SparkSession, base: String, stage: String, runId: String,
      outputTables: Seq[String], inputRows: Long): Unit = {
    import spark.implicits._
    val now = System.currentTimeMillis()
    val perFile = outputTables.flatMap { t =>
      fileChecksums(spark, base, t).zipWithIndex.map { case ((file, rows, checksum), i) =>
        ManifestRow(stage, i, s"$t:${file.split('/').last}", inputRows, rows, checksum, now, runId)
      }
    }
    val outputRows = perFile.map(_.outputRows).sum
    val marker = ManifestRow(stage, -1, "SUCCESS", inputRows, outputRows, 0L, now, runId)
    Tables.write((perFile :+ marker).toDF(), base, manifestName(stage))
  }

  final case class StageResult(stage: String, skipped: Boolean, wallSec: Double)

  /** Run `body` unless the stage is already committed. `body` must write the
    * stage's output tables and return the stage's input row count; the
    * manifest commit is the stage's atomic completion point.
    */
  def runStage(spark: SparkSession, base: String, stage: String, runId: String,
      outputTables: Seq[String], force: Boolean = false)(body: => Long): StageResult = {
    if (!force && isComplete(spark, base, stage)) StageResult(stage, skipped = true, 0.0)
    else {
      val t0 = System.nanoTime()
      val inputRows = body
      commit(spark, base, stage, runId, outputTables, inputRows)
      StageResult(stage, skipped = false, (System.nanoTime() - t0) / 1e9)
    }
  }
}
