package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.reflect.runtime.universe.TypeTag

/** Storage facade for all engine state tables (SURVEY.md §0.3, §7.5).
  *
  * The spec (BASELINE.json:14) targets Iceberg tables; this sandbox ships no
  * Iceberg runtime (SURVEY.md §0.3), so tables are parquet directories of the
  * exact same schema. Swapping to Iceberg is `format("iceberg")` + catalog
  * config here and nowhere else — all engine code goes through this facade.
  *
  * Reads come in two forms. Tables the engine owns (the index tables and
  * the lineage manifests) are read with the schema declared next to the
  * code that writes them (`InvertedIndex.read`), so a read plans without
  * the parquet footer-merge job that schema inference launches. The
  * schema-less form is for foreign tables only: source tables, testdata,
  * and tables whose columns a caller's own data decides.
  */
object Tables {
  def tablePath(base: String, name: String): String = s"$base/$name"

  /** Read a foreign table, inferring its schema from the parquet footers. */
  def read(spark: SparkSession, base: String, name: String): DataFrame =
    spark.read.parquet(tablePath(base, name))

  /** Read an engine-owned table with its declared schema: no inference job.
    * `schema` must be what inference would return (column order, types,
    * all-nullable), or checksums over `struct(*)` would change.
    */
  def read(spark: SparkSession, base: String, name: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(tablePath(base, name))

  /** The schema a parquet read of a table written from a `Dataset[T]`
    * returns: T's columns in declaration order, every one nullable.
    */
  def schemaOf[T <: Product: TypeTag]: StructType =
    StructType(Encoders.product[T].schema.fields.map(_.copy(nullable = true)))

  /** Idempotent full-overwrite commit of one table — the reference's bulk
    * sink + retry logic (SURVEY.md §2.1 A5) collapses to deterministic
    * overwrite semantics.
    */
  def write(df: DataFrame, base: String, name: String): Unit =
    df.write.mode("overwrite").parquet(tablePath(base, name))

  /** Same, with hive-style physical partitioning: `partitionCols` become
    * directory levels, so equality/IN predicates on them are eliminated at
    * the catalog level before any file is opened (Iceberg analog: a
    * `bucket(...)`/identity partition spec).
    */
  def writePartitioned(df: DataFrame, base: String, name: String,
      partitionCols: Seq[String]): Unit =
    // action-free by design (an emptiness probe here would re-execute the
    // caller's full write plan — range sampling included — once per
    // commit). CALLER CONTRACT: df must be non-empty; a zero-row
    // dynamic-partition write produces no part files, leaving a table
    // without parquet footers that fails schema inference on read — empty
    // producers must route to the plain [[write]] (see
    // InvertedIndex.commitSorted, the one partitioned-write call site).
    df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(tablePath(base, name))

  def exists(spark: SparkSession, base: String, name: String): Boolean = {
    val p = new Path(tablePath(base, name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(new Path(p, "_SUCCESS"))
  }

  def delete(spark: SparkSession, base: String, name: String): Unit = {
    val p = new Path(tablePath(base, name))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** Keyed upsert (MERGE): rows of `updates` replace existing rows with the
    * same key and append otherwise — the reference's enrichment write-back
    * shape (bulk partial-update of documents already in the index,
    * SURVEY.md §2.2 A14). On Iceberg this facade becomes `MERGE INTO t USING
    * u ON keys WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN INSERT` (a
    * metadata-level row-delta ATOMIC commit); on plain parquet it is
    * rewrite-and-swap with a crash-recoverable protocol:
    *
    *   1. recover: if `name` is absent but a COMMITTED (_SUCCESS) staging
    *      exists, a prior call died between rename(name -> old) and
    *      rename(staging -> name) — ROLL FORWARD (staging is the fully
    *      merged next generation; discarding it would silently undo a
    *      completed merge); else if only `name__old` exists, roll back by
    *      renaming it in; if `name` exists, any `name__old`/staging is a
    *      completed or abandoned swap's leftover — drop it;
    *   2. stage the merged table (survivors via anti-join on the keys — one
    *      shuffle of the target — union the updates) under `name__staging`,
    *      fully committed (_SUCCESS) before any swap step;
    *   3. swap: rename name -> name__old, staging -> name, drop name__old.
    *
    * A kill at ANY point leaves either the old or the new generation fully
    * recoverable by the next call — the base data is never deleted before
    * the replacement is in place. (What plain directories cannot give is an
    * atomic cutover for CONCURRENT readers during step 3 — that is exactly
    * the gap Iceberg's snapshot commit closes at scale.)
    *
    * Scale note: the anti-join rewrites the whole target — the honest cost
    * of upsert WITHOUT a delta-capable format; at 100 TB partition the
    * target and upsert only the touched partitions (or use Iceberg).
    */
  def upsert(spark: SparkSession, base: String, name: String,
      updates: DataFrame, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "upsert needs at least one key column")
    stagedReplace(spark, base, name) {
      case None => updates
      case Some(current) =>
        current.join(updates.select(keys.map(org.apache.spark.sql.functions.col): _*),
          keys, "left_anti").unionByName(updates)
    }
  }

  /** The crash-recoverable staged-swap protocol shared by every mutating
    * write (upsert / delete-by-query): recovery, stage `next(current)`
    * fully committed, then the rename swap. `current` is None when the
    * table does not exist after recovery. See [[upsert]] for the protocol's
    * correctness argument — this helper IS its steps 1–3, single-sourced.
    */
  private def stagedReplace(spark: SparkSession, base: String, name: String)(
      next: Option[DataFrame] => DataFrame): Unit = {
    val staging = s"${name}__staging"
    val old = s"${name}__old"
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // step 1: recovery from a previous kill (exists() checks _SUCCESS, so a
    // half-written staging never rolls forward — it falls through to delete)
    if (!exists(spark, base, name) && exists(spark, base, staging))
      require(fs.rename(new Path(tablePath(base, staging)), new Path(tablePath(base, name))),
        s"staged-swap roll-forward failed for $base/$name")
    else if (!exists(spark, base, name) && exists(spark, base, old))
      require(fs.rename(new Path(tablePath(base, old)), new Path(tablePath(base, name))),
        s"staged-swap recovery failed for $base/$name")
    delete(spark, base, staging)
    delete(spark, base, old)
    // step 2: stage the next generation
    val current = if (exists(spark, base, name)) Some(read(spark, base, name)) else None
    write(next(current), base, staging)
    // step 3: swap (old generation survives until the new one is in place)
    if (exists(spark, base, name))
      require(fs.rename(new Path(tablePath(base, name)), new Path(tablePath(base, old))),
        s"staged-swap (aside) failed for $base/$name")
    require(fs.rename(new Path(tablePath(base, staging)), new Path(tablePath(base, name))),
      s"staged-swap (in) failed for $base/$name")
    delete(spark, base, old)
  }

  /** ES `_delete_by_query`: rows matching `pred` are dropped through the
    * SAME crash-safe staged swap as [[upsert]] — survivors are staged and
    * committed before the live generation is touched, so a kill at any
    * point leaves a recoverable table (ES's analog: per-doc version-checked
    * deletes inside one task, conflicts=proceed). The table must exist
    * (ES answers 404). Scale note: like upsert, this rewrites the target —
    * the honest cost without a delete-file format; at 100 TB a partition
    * predicate prunes the rewrite to touched partitions (or use Iceberg
    * positional deletes through this same facade).
    */
  def deleteByQuery(spark: SparkSession, base: String, name: String,
      pred: org.apache.spark.sql.Column): Unit =
    stagedReplace(spark, base, name) {
      case None => throw new IllegalArgumentException(
        s"deleteByQuery target $base/$name does not exist")
      case Some(current) =>
        // survivors = rows where pred is NOT TRUE: a NULL predicate (e.g. a
        // comparison over a null field) does not MATCH the delete query in
        // ES, so the row survives — hence the coalesce, not a bare negation
        current.where(!org.apache.spark.sql.functions.coalesce(
          pred, org.apache.spark.sql.functions.lit(false)))
    }

  /** Keyed MERGE with EXTERNAL VERSIONING — ES optimistic concurrency
    * (`version_type: external`): an update lands only when its version is
    * STRICTLY greater than the stored row's; equal-or-lower versions are
    * stale and dropped silently (ES answers 409 per doc; a batch pipeline
    * drops and moves on — pinned). Among the updates themselves the
    * highest version per key wins first (one map-side-combinable
    * max-struct, remaining columns breaking exact-version ties
    * deterministically — pinned). Plan = the winner aggregate + ONE
    * keys-grain join of winners against the current generation's
    * (key, version) projection, then the ordinary [[upsert]] staged swap —
    * the same crash-safe economics; nothing new lands on the driver.
    */
  def upsertVersioned(spark: SparkSession, base: String, name: String,
      updates: DataFrame, keys: Seq[String], versionCol: String): Unit = {
    import org.apache.spark.sql.functions.{col, max, struct}
    require(keys.nonEmpty, "upsertVersioned needs at least one key column")
    require(updates.columns.contains(versionCol),
      s"updates carry no version column '$versionCol'")
    require(!keys.contains(versionCol), "the version column cannot be a key")
    val keyCols = keys.map(col)
    val payload = versionCol +: updates.columns.toSeq
      .filterNot(c => keys.contains(c) || c == versionCol)
    val winners = updates.groupBy(keyCols: _*)
      .agg(max(struct(payload.map(col): _*)).as("__w"))
      .select(keyCols ++ payload.map(c => col(s"__w.$c").as(c)): _*)
    val accepted =
      if (!exists(spark, base, name)) winners
      else winners.join(
          read(spark, base, name)
            .select(keyCols :+ col(versionCol).as("__cur_version"): _*),
          keys, "left_outer")
        .where(col("__cur_version").isNull || col(versionCol) > col("__cur_version"))
        .drop("__cur_version")
    upsert(spark, base, name, accepted, keys)
  }
}
