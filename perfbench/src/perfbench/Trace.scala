package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records every Spark job with its call-site stack and task totals. Only
  * the traced run registers it; nothing is derived here: `perfbench/metrics.py`
  * maps the records to layers and spans.
  */
final class Trace extends SparkListener {
  final class Job(val id: Int, val submitMs: Long, val execId: Long,
                  val callSite: String, val group: String) {
    var endMs = -1L
    var stages = 0
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleReadB = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    var outputB = 0L
    var maxTaskMs = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  /** SQL execution id → the call site that started it. */
  private val execSites = new ConcurrentHashMap[Long, String]()
  @volatile private var markerSeen = false

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val execId = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    // the result stage is created last: its details are the action's call site
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, new Job(e.jobId, e.time, execId, site,
      prop("spark.jobGroup.id").getOrElse("")))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.synchronized {
      j.endMs = e.time
      if (j.group == Trace.MarkerGroup) markerSeen = true
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val j = jobs.get(stageJob.getOrDefault(e.stageInfo.stageId, -1))
    if (j != null) j.synchronized { j.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
    val m = e.taskMetrics
    if (j != null && m != null) j.synchronized {
      j.tasks += 1
      j.runMs += m.executorRunTime
      j.cpuNs += m.executorCpuTime
      j.gcMs += m.jvmGCTime
      j.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      j.spillB += m.diskBytesSpilled
      j.outputB += m.outputMetrics.bytesWritten
      j.maxTaskMs = math.max(j.maxTaskMs, e.taskInfo.duration)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSites.put(s.executionId, s.details)
    case _ =>
  }

  /** Events reach listeners asynchronously, in order. Run a marker job and
    * wait for its end event: every earlier event has then been delivered.
    */
  def drain(sc: SparkContext): Unit = {
    markerSeen = false
    sc.setJobGroup(Trace.MarkerGroup, "perfbench drain marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000
    while (!markerSeen && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  /** One JSON line per job. A job's call site is its SQL execution's
    * (the action that started the query); plain RDD jobs keep the result
    * stage's.
    */
  def records: Seq[String] =
    jobs.values.asScala.toSeq.filter(_.group != Trace.MarkerGroup).sortBy(_.id).map { j =>
      Json.obj("type" -> "job", "id" -> j.id, "submit_ms" -> j.submitMs, "end_ms" -> j.endMs,
        "stages" -> j.stages, "tasks" -> j.tasks,
        "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs, "gc_ms" -> j.gcMs,
        "shuffle_read_b" -> j.shuffleReadB, "shuffle_write_b" -> j.shuffleWriteB,
        "spill_b" -> j.spillB, "output_b" -> j.outputB, "max_task_ms" -> j.maxTaskMs,
        "site" -> Option(execSites.get(j.execId)).filter(_.nonEmpty).getOrElse(j.callSite))
    }
}

object Trace {
  val MarkerGroup = "perfbench-drain"
}

/** Minimal JSON writer for the harness's record lines. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
