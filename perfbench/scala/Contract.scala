package perfbench

import graft.SparkEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The driver-contract layer (`SparkEntry`) on the training-data entries
  * that read only the `documents` table and write nothing: each entry's
  * function is called (construct: until its DataFrame is returned) and its
  * result counted (execute), as graft.Bench times entries. Runs in the dedup
  * workload's traced run, over that run's corpus staged as a `documents`
  * table; the row counts go out with the entries' `SparkEntry.oracleSql`
  * twins, which run.py runs under DuckDB.
  */
object Contract {
  val Entries: Seq[String] = Seq(
    "td_exact_dedup", "td_fingerprint", "td_token_counts", "td_quality", "td_langid",
    "td_minhash_bands", "td_neardup_minhash", "td_ngram_jaccard", "td_simhash", "td_simhash_pairs",
    "td_stratified_sample", "td_repetition", "td_contamination")
  // td_dedup_clusters is left out: its DuckDB twin, a recursive
  // connected-components query, runs for minutes over the tens of thousands
  // of simhash pairs this corpus yields (the dedup workload checks
  // nearDupClusters itself)

  /** Stage `docs` (doc_id, text) as `<work>/sf/documents.parquet` with the
    * contract table's other columns; lang and source are functions of doc_id.
    */
  def stage(r: Run, docs: DataFrame): String = {
    val sf = s"${r.work}/sf"
    docs.select(
      col("doc_id"), col("text"),
      element_at(array(lit("en"), lit("en"), lit("de"), lit("fr")), (col("doc_id") % 4 + 1).cast("int")).as("lang"),
      concat(lit("src"), (col("doc_id") % 20).cast("string")).as("source"),
      length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$sf/documents.parquet")
    sf
  }

  def run(r: Run, docs: DataFrame): Unit = {
    val sf = r.tracer.span("stage.documents", "bench")(stage(r, docs))
    val order = new scala.util.Random(r.plan.get("entry_seed").asLong).shuffle(Entries)
    val queries = SparkEntry.queries
    val rows = order.map { name =>
      val n = r.tracer.span(s"entry.$name", "SparkEntry") {
        val (df, construct) = r.op("SparkEntry.construct", "SparkEntry")(queries(name)(r.spark, sf))
        r.sample("driver.construct_s", construct)
        df.flatMap { d =>
          val (n, execute) = r.op("SparkEntry.execute", "SparkEntry")(d.count())
          r.sample("driver.execute_s", execute)
          n
        }
      }
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("name", name)
      m.put("rows", n.map(Long.box).orNull)
      m.put("sql", SparkEntry.oracleSql(name))
      m
    }
    r.output("contract_sf_dir", sf)
    r.output("contract", rows.asJava)
    r.phase(s"contract entries done: ${rows.size}")
  }
}
