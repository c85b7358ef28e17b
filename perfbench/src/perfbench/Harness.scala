package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Closed-loop, single-client benchmark driver. It calls only the public
  * entry points (`Co2Pipeline`, `spark.sql` on the registered catalog and
  * `Queries.all`) and writes one JSON record per line to `--out`:
  * `setup`, `op`, `read`, `query`, `backfill`, `check`, `end` and, when
  * traced, `job`. `perfbench/run.py` turns the records into metrics.
  */
object Harness {
  final class Out(path: String) {
    private val w = Files.newBufferedWriter(Paths.get(path), UTF_8)
    def apply(kv: (String, Any)*): Unit = synchronized {
      w.write(Json.obj(kv: _*)); w.newLine(); w.flush()
    }
    def line(s: String): Unit = synchronized { w.write(s); w.newLine() }
    def close(): Unit = w.close()
  }

  final case class Args(workload: String, seconds: Double, traced: Boolean,
                        input: Path, work: Path, out: String, warmup: Int,
                        historyEnd: LocalDate,
                        queries: Seq[String], stateful: Set[String], startMs: Long)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seconds").toDouble, m("trace") == "1",
      Paths.get(m("input")), Paths.get(m("work")), m("out"), m.getOrElse("warmup", "0").toInt,
      LocalDate.parse(m.getOrElse("history-end", "2025-12-31")),
      m.getOrElse("queries", "").split(",").filter(_.nonEmpty).toSeq,
      m.getOrElse("stateful", "").split(",").filter(_.nonEmpty).toSet,
      m.get("start-ms").map(_.toLong).getOrElse(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val out = new Out(a.out)
    val spark = graft.GraftSession.get()
    spark.sparkContext.setLogLevel("ERROR")
    val env = new Env(spark, a, out)
    try {
      a.workload match {
        case "cdc_daily" => new CdcDaily(env).run()
        case "catalog_sf01" => new Catalog(env).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      env.finish()
    } finally {
      out.close()
      spark.stop()
    }
  }
}

/** Shared run state: the clock, the optional trace, and record output. */
final class Env(val spark: SparkSession, val a: Harness.Args, val out: Harness.Out) {
  /** The listener, attached from the end of set-up on, in a traced run. */
  val trace: Option[Trace] = if (a.traced) Some(new Trace) else None
  def traced: Boolean = trace.isDefined
  private val sessionS = (System.currentTimeMillis() - a.startMs) / 1e3
  private var measureStartNs = 0L
  private var measureEndNs = 0L
  /** The measured unit (a day or a query) that checks are charged to. */
  var unit = 0

  def nowMs: Long = System.currentTimeMillis()

  /** Start of a recorded window. A traced run keeps windows 2 ms apart so
    * every job's millisecond submit time falls in exactly one of them.
    */
  def windowStartMs(): Long = {
    if (traced) Thread.sleep(2)
    nowMs
  }

  /** Called once set-up is done: records `setup_s` and starts the clock. */
  def setupDone(extra: (String, Any)*): Unit = {
    out(Seq[(String, Any)]("type" -> "setup",
      "setup_s" -> (nowMs - a.startMs) / 1e3,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}",
      "spark" -> spark.version, "master" -> spark.sparkContext.master,
      "session_s" -> sessionS) ++ extra ++ Env.codegen("setup_"): _*)
    heapPools.foreach(_.resetPeakUsage())
    trace.foreach(spark.sparkContext.addSparkListener)
    measureStartNs = System.nanoTime()
  }

  def timeLeft: Boolean = (System.nanoTime() - measureStartNs) / 1e9 < a.seconds

  private var measured = Seq.empty[(String, Any)]

  /** Called when the measured loop ends, before the output checks. */
  def measureDone(): Unit = {
    measureEndNs = System.nanoTime()
    measured = Env.codegen("") :+
      ("heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0)
  }

  def check(ok: Boolean, what: => String): Unit =
    if (!ok) out("type" -> "check", "unit" -> unit, "what" -> what)

  /** Runs one unit; a throw is a failed check, not the end of the run. */
  def guarded(what: String)(body: => Unit): Unit =
    try body catch { case e: Exception => check(ok = false, s"$what threw $e") }

  private def heapPools =
    java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  def finish(): Unit = {
    trace.foreach { t =>
      t.drain(spark.sparkContext)
      t.records.foreach(out.line)
    }
    out(Seq[(String, Any)]("type" -> "end",
      "measured_s" -> (measureEndNs - measureStartNs) / 1e9,
      "checks_s" -> (System.nanoTime() - measureEndNs) / 1e9) ++ measured: _*)
  }

  /** Data and commit files under a warehouse, for the storage counters. */
  def storageState(root: Path): Map[String, Long] = {
    if (!Files.exists(root)) return Map("commits" -> 0L, "files" -> 0L, "bytes" -> 0L)
    var commits, files, bytes = 0L
    val it = Files.walk(root)
    try it.iterator.asScala.filter(Files.isRegularFile(_)).foreach { p =>
      val n = p.getFileName.toString
      if (p.getParent.getFileName.toString == "_commits" && n.endsWith(".json")) commits += 1
      else if (n.endsWith(".parquet")) { files += 1; bytes += Files.size(p) }
    } finally it.close()
    Map("commits" -> commits, "files" -> files, "bytes" -> bytes)
  }
}

object Env {
  /** Whole-stage codegen compile count and time so far (Spark's CodegenMetrics). */
  def codegen(prefix: String): Seq[(String, Any)] = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    Seq(s"${prefix}codegen_compiles" -> h.getCount,
      s"${prefix}codegen_compile_s" -> h.getCount * snap.getMean / 1e3)
  }
}
