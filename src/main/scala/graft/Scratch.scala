package graft
/** Dev utility: run a SUBSET of contract rows (graft.Verify runs all of
  * them) — `runMain graft.Scratch <sfDir> <outDir> <name>...` writes each
  * row's parquet plus the matching oracle_sql.json slice, ready for
  * tools/check_oracle.py. Keeps the add-one-row loop to seconds. Runs in
  * Verify's session (same `SPARK_GRAFT_CPUS`), so a subset reproduces what
  * Verify would write.
  */
object Scratch {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    val names = args.drop(2).toSeq
    val spark = Verify.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      println(f"[scratch] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    Verify.writeOracleJson(outDir,
      SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
    spark.stop()
  }
}
