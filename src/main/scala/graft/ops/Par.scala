package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Scan-parallelism guard for CPU-bound narrow pipelines (tokenize / md5 /
  * shingle streams): Spark sizes scan splits by BYTES (`maxPartitionBytes`
  * packing with the open-cost floor), so a physically small input yields far
  * fewer tasks than cores and per-row CPU work serializes on a handful of
  * threads — the optimization guide's "fix input parallelism right after the
  * read" case (§2.5/§6). When the plan's scan parallelism is below the
  * cluster default parallelism, round-robin repartition up to it: the
  * shuffle is bounded by the (by definition small) input. At scale the scan
  * already carries >= defaultParallelism splits and this is the identity —
  * no corpus shuffle is ever introduced, so the 100 TB plan shape is
  * unchanged.
  */
object Par {
  /** Widens `df` to defaultParallelism when its plan is scan-level and has
    * fewer partitions. A frame whose planned physical plan has an exchange
    * upstream comes back unchanged: counting its partitions would finalize
    * the adaptive plan, i.e. EXECUTE the upstream shuffles just to count and
    * then re-run them in the real query. The check only plans; the
    * partition count comes from the same plan's RDD, so no job runs here.
    */
  def fanOut(df: DataFrame): DataFrame = {
    val qe = df.queryExecution
    val physical = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }
    if (physical.exists(_.isInstanceOf[Exchange])) df
    else {
      val par = df.sparkSession.sparkContext.defaultParallelism
      if (qe.toRdd.getNumPartitions < par) df.repartition(par) else df
    }
  }
}
