package perfbench

import java.util.{LinkedHashMap => JMap}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** One span: a call from the benchmark into one layer's public function.
  * Times are nanoseconds since the run's origin. `synthetic` spans carry a
  * duration the program returned (a BuildReport stage) laid out back to back
  * inside their parent, not a measured start.
  */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    startNs: Long, var endNs: Long, synthetic: Boolean = false)

/** In-memory span recorder for the single client thread. Disabled, `span`
  * only runs its body. The open span's id rides on the Spark local property
  * [[Tracer.SpanProp]], so every job and stage the call submits names it.
  */
final class Tracer(val enabled: Boolean, spark: SparkSession) {
  val originNs: Long = System.nanoTime()
  val originEpochMs: Long = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def now: Long = System.nanoTime() - originNs

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.map(_.id).getOrElse(-1), name, layer, now, -1L)
      spans += s
      stack = s :: stack
      spark.sparkContext.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try body
      finally {
        s.endNs = now
        stack = stack.tail
        spark.sparkContext.setLocalProperty(Tracer.SpanProp,
          stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Children of the open span whose only timing is a wall time the
    * program returned, placed back to back from the open span's start.
    */
  def returnedChildren(children: Seq[(String, String, Double)]): Unit =
    if (enabled) {
      val parent = stack.head
      var t = parent.startNs
      children.foreach { case (name, layer, sec) =>
        val d = (sec * 1e9).toLong
        spans += Span(spans.size, parent.id, name, layer, t, t + d, synthetic = true)
        t += d
      }
    }

  def toJson: java.util.List[JMap[String, Any]] = {
    val out = new java.util.ArrayList[JMap[String, Any]]()
    spans.foreach { s =>
      val m = new JMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent); m.put("name", s.name)
      m.put("layer", s.layer); m.put("start_ns", s.startNs); m.put("end_ns", s.endNs)
      m.put("synthetic", s.synthetic)
      out.add(m)
    }
    out
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}

/** Spark runtime counters for the traced run: one record per job and per
  * stage, each tagged with the span property it was submitted under and its
  * submission time, so the report can attribute it to a span afterwards.
  */
final class SparkCounters extends SparkListener with QueryExecutionListener {
  final class StageRec(val id: Int, val submitMs: Long, val span: String) {
    var tasks = 0L; var runMs = 0L; var gcMs = 0L; var shuffleWrite = 0L
  }
  private val jobs = ArrayBuffer.empty[(Int, Long, String)]
  private val stages = scala.collection.mutable.LinkedHashMap.empty[Int, StageRec]
  @volatile var planNs = 0L

  private def spanOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.SpanProp))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += ((e.jobId, e.time, spanOf(e.properties)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    stages(info.stageId) = new StageRec(info.stageId,
      info.submissionTime.getOrElse(System.currentTimeMillis()), spanOf(e.properties))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (m != null) {
        s.runMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def toJson(originEpochMs: Long): JMap[String, Any] = synchronized {
    val js = new java.util.ArrayList[JMap[String, Any]]()
    jobs.foreach { case (id, t, sp) =>
      val m = new JMap[String, Any]()
      m.put("id", id); m.put("t_ms", t - originEpochMs); m.put("span", sp)
      js.add(m)
    }
    val ss = new java.util.ArrayList[JMap[String, Any]]()
    stages.values.foreach { s =>
      val m = new JMap[String, Any]()
      m.put("id", s.id); m.put("t_ms", s.submitMs - originEpochMs); m.put("span", s.span)
      m.put("tasks", s.tasks); m.put("run_ms", s.runMs); m.put("gc_ms", s.gcMs)
      m.put("shuffle_write", s.shuffleWrite)
      ss.add(m)
    }
    val out = new JMap[String, Any]()
    out.put("jobs", js); out.put("stages", ss); out.put("plan_ns", planNs)
    out
  }
}
