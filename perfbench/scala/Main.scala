package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.io.File
import java.util.{LinkedHashMap => JMap}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Runs one workload of the benchmark in this JVM and writes its raw
  * measurements as one JSON file; `run.py` turns them into metrics.
  *
  * Usage: Main <plan.json> <result.json>. The plan holds the workload name,
  * the inputs generated from the seed, the measuring time and the trace flag.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val plan = new ObjectMapper().readTree(new File(args(0)))
    val run = new Run(plan)
    try {
      plan.get("workload").asText match {
        case "index" => Ingest.run(run)
        case "dedup" => Dedup.run(run)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      run.write(args(1))
    } finally run.spark.stop()
  }
}

/** The shared state of one run: the Spark session (configured as
  * graft.Bench configures it), the tracer, and the raw measurements.
  */
final class Run(val plan: JsonNode) {
  val cpus: Int = plan.get("cpus").asInt
  val seconds: Double = plan.get("seconds").asDouble
  val work: String = plan.get("work_dir").asText
  val traced: Boolean = plan.get("trace").asBoolean
  /** False in a run made only as the untraced baseline of a traced one. */
  val checking: Boolean = plan.get("checks").asBoolean

  private val t0 = System.nanoTime()
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.memory.offHeap.enabled", "true")
    .config("spark.memory.offHeap.size", (1024L * 1024 * 1024 * cpus).toString)
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val sessionStartS = (System.nanoTime() - t0) / 1e9

  val tracer = new Tracer(traced, spark)
  private val counters: Option[SparkCounters] =
    if (!traced) None
    else {
      val c = new SparkCounters
      spark.sparkContext.addSparkListener(c)
      spark.listenerManager.register(c)
      Some(c)
    }

  private val setups = mutable.ArrayBuffer.empty[Double]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val outputs = mutable.LinkedHashMap.empty[String, Any]
  private val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  private var attempted = 0L
  private var failed = 0L
  private var windowNs = (0L, 0L)
  private val compile0 = compileCounters()

  /** Log the run's progress to standard error, seconds since session start. */
  def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")

  /** Time `body` as one set-up repetition; set-up runs before the window. */
  def setup[T](body: => T): T = {
    val t = System.nanoTime()
    val r = body
    setups += (System.nanoTime() - t) / 1e9
    phase(s"set-up ${setups.size} took ${setups.last}")
    r
  }

  /** Run `body` once before a measured loop: not sampled, but traced and
    * its time reported as `warmup_s`.
    */
  def warmup(body: => Unit): Unit = {
    val t = System.nanoTime()
    tracer.span("warm-up", "bench")(body)
    put("warmup_s", (System.nanoTime() - t) / 1e9)
    phase("warm-up done")
  }

  /** Run one measured loop: `round` is called until `seconds` have passed
    * (at least once; a round is never cut) with the round index. Returns the
    * number of rounds. The run's window spans all its loops.
    */
  def window(seconds: Double)(round: Int => Unit): Int = {
    val start = tracer.now
    var i = 0
    while (i == 0 || tracer.now - start < (seconds * 1e9).toLong) { round(i); i += 1 }
    windowNs = (if (windowNs._2 == 0L) start else windowNs._1, tracer.now)
    phase(s"loop done: $i rounds")
    i
  }

  /** One attempted operation: a call into a layer, traced as a span. A
    * thrown error counts as failed and yields None; it is never dropped.
    */
  def op[T](name: String, layer: String)(body: => T): (Option[T], Double) = {
    attempted += 1
    val t = System.nanoTime()
    val r = try Some(tracer.span(name, layer)(body)) catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] $name FAILED: $e")
        None
    }
    (r, (System.nanoTime() - t) / 1e9)
  }

  def sample(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v

  def put(name: String, v: Double): Unit = layer(name) = v

  /** A program output that run.py checks after the JVM exits. */
  def output(name: String, v: Any): Unit = outputs(name) = v

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    if (!ok) System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
  }

  /** Janino compile nanoseconds and compile count so far in this JVM. */
  private def compileCounters(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  def write(path: String): Unit = {
    phase("checks done")
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val compile1 = compileCounters()
    val out = new JMap[String, Any]()
    out.put("session_start_s", sessionStartS)
    out.put("setup_s", setups.asJava)
    out.put("samples", samples.map { case (k, v) => k -> v.asJava }.asJava)
    out.put("layer", layer.asJava)
    out.put("outputs", outputs.asJava)
    out.put("checks", checks.map { case (n, ok, d) =>
      val m = new JMap[String, Any](); m.put("name", n); m.put("ok", ok); m.put("detail", d); m
    }.asJava)
    out.put("attempted", attempted)
    out.put("failed", failed)
    out.put("window_ns", java.util.List.of(windowNs._1, windowNs._2))
    out.put("codegen_compile_ns", compile1._1 - compile0._1)
    out.put("codegen_compilations", compile1._2 - compile0._2)
    out.put("gc_ms", gcMs)
    out.put("vm_hwm_kb", vmHwmKb())
    out.put("xmx_bytes", Runtime.getRuntime.maxMemory)
    out.put("offheap_bytes", spark.conf.get("spark.memory.offHeap.size").toLong)
    out.put("spark_version", spark.version)
    out.put("jdk_version", System.getProperty("java.version"))
    out.put("spans", tracer.toJson)
    counters.foreach(c => out.put("spark", c.toJson(tracer.originEpochMs)))
    new ObjectMapper().writeValue(new File(path), out)
  }

  /** Delete a directory tree under the work dir (Hadoop FS, as the engine). */
  def delete(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  def strings(field: String): Seq[String] = plan.get(field).elements().asScala.map(_.asText).toSeq
}
