package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{DayOfWeek, LocalDate}
import java.time.temporal.TemporalAdjusters
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.co2.Co2Pipeline

/** The NOAA feed as generated: the header plus one line per non-gap day. */
final class Feed(text: String) {
  private val lines = text.split("\n", -1).toSeq
  private val header = lines.takeWhile(_.startsWith("#"))
  val rows: Seq[(LocalDate, String)] = lines.drop(header.size).filter(_.trim.nonEmpty).map { l =>
    val f = l.trim.split("\\s+")
    LocalDate.of(f(0).toInt, f(1).toInt, f(2).toInt) -> l
  }
  private val headerText = header.map(_ + "\n").mkString
  private val body = rows.map(_._2 + "\n").mkString
  private val ends = rows.map(_._2.length + 1).scanLeft(0)(_ + _).tail

  /** Number of lines dated on or before `d`. */
  def countUpTo(d: LocalDate): Int = {
    val i = rows.indexWhere(_._1.isAfter(d))
    if (i < 0) rows.size else i
  }

  /** The full feed file NOAA publishes on day `d`: every line up to `d`. */
  def textUpTo(d: LocalDate): String = {
    val n = countUpTo(d)
    headerText + body.substring(0, if (n == 0) 0 else ends(n - 1))
  }

  def lastDateUpTo(d: LocalDate): LocalDate = rows(countUpTo(d) - 1)._1

  /** (min, max) CO2 over the lines up to `d`: what _CO2_MINMAX must hold. */
  def minMaxUpTo(d: LocalDate): (Double, Double) = {
    val ppm = rows.take(countUpTo(d)).map(_._2.trim.split("\\s+")(4).toDouble)
    (ppm.min, ppm.max)
  }
}

/** cdc_daily: backfill the history, warm up, then per day one pipeline run
  * on that day's full republished feed plus the analyst read set.
  */
final class CdcDaily(env: Env) {
  private val spark = env.spark
  private val feed = new Feed(Files.readString(env.a.input.resolve("feed.txt")))
  private val wh = env.a.work.resolve("cdc_wh")
  private val feedDir = env.a.work.resolve("cdc_feeds")
  private var runLogRows = 0L

  /** The fixed analyst read set against the registered co2 catalog. */
  private val readSet = Seq(
    "latest_daily" -> "SELECT DATE, CO2_PPM, DAILY_CHANGE, NORMALIZED_CO2 FROM co2.ANALYTICS_CO2.DAILY_CO2_STATS ORDER BY DATE DESC LIMIT 1",
    "latest_weekly" -> "SELECT WEEK_START, AVG_WEEKLY_CO2, WEEKLY_CHANGE FROM co2.ANALYTICS_CO2.WEEKLY_CO2_STATS ORDER BY WEEK_START DESC LIMIT 1",
    "stream" -> "SELECT YEAR, MONTH, DAY, CO2_PPM FROM co2.RAW_CO2.CO2_DATA_STREAM",
    "per_year" -> "SELECT YEAR, count(*) AS N, avg(CO2_PPM) AS AVG_CO2, min(CO2_PPM) AS MIN_CO2, max(CO2_PPM) AS MAX_CO2 FROM co2.HARMONIZED_CO2.HARMONIZED_CO2 GROUP BY YEAR ORDER BY YEAR",
    "task_history" -> "CALL co2.system.task_history()")

  /** Runs the read set; each read is timed as planning plus collect. */
  private def reads(measured: Boolean): Map[String, Array[Row]] =
    readSet.map { case (name, sql) =>
      val t0ms = env.windowStartMs()
      val t0 = System.nanoTime()
      val df = spark.sql(sql)
      val t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      if (measured) env.out("type" -> "read", "name" -> name, "unit" -> env.unit,
        "t0_ms" -> t0ms, "t1_ms" -> env.nowMs, "plan_s" -> (t1 - t0) / 1e9,
        "exec_s" -> (t2 - t1) / 1e9, "s" -> (t2 - t0) / 1e9)
      name -> rows
    }.toMap

  private def writeFeed(dir: Path, day: LocalDate): Path = {
    Files.createDirectories(dir)
    val f = dir.resolve(s"co2_daily_mlo_$day.txt")
    Files.writeString(f, feed.textUpTo(day), UTF_8)
    f
  }

  /** Rows loaded, read off runPipeline's result; -1 when unparseable. */
  private def loaded(res: Seq[(String, String)]): Long =
    res.collectFirst { case ("CO2_RAW_DATA_TASK", s) => s }
      .flatMap("loaded (\\d+) rows".r.findFirstMatchIn(_)).map(_.group(1).toLong).getOrElse(-1L)

  private def harmonizeRan(res: Seq[(String, String)]): Boolean =
    res.exists { case (t, s) => t == "CO2_HARMONIZED_TASK" && !s.startsWith("skipped") }

  /** One runPipeline call, timed from the feed write; an `op` record when measured. */
  private def pipelineRun(p: Co2Pipeline, d: LocalDate, measured: Boolean): Seq[(String, String)] = {
    val traced = measured && env.traced
    val before = if (traced) env.storageState(wh) else Map.empty[String, Long]
    val t0ms = env.windowStartMs()
    val t0 = System.nanoTime()
    val res = p.runPipeline(writeFeed(feedDir, d).toString)
    val s = (System.nanoTime() - t0) / 1e9
    val t1ms = env.nowMs
    if (measured) {
      val n = loaded(res)
      val storage = if (!traced) Map.empty[String, Long]
        else env.storageState(wh).map { case (k, v) => k -> (v - before(k)) }
      env.out("type" -> "op", "kind" -> "cdc_run", "unit" -> env.unit, "t0_ms" -> t0ms,
        "t1_ms" -> t1ms, "s" -> s, "day" -> d.toString, "loaded" -> n,
        "consumed" -> (if (harmonizeRan(res)) n else 0L), "storage" -> storage)
    }
    res
  }

  private def day(p: Co2Pipeline, d: LocalDate, measured: Boolean): Unit = {
    if (measured) env.unit += 1
    val res = pipelineRun(p, d, measured)
    val r = reads(measured)
    runLogRows += res.size
    // output checks, outside the timed intervals
    val expectNew = feed.countUpTo(d) - feed.countUpTo(d.minusDays(1))
    env.check(loaded(res) == expectNew, s"$d: loaded ${loaded(res)} rows, expected $expectNew")
    env.check(harmonizeRan(res) == (expectNew > 0), s"$d: stream gate ran=${harmonizeRan(res)} with $expectNew new rows")
    val last = feed.lastDateUpTo(d)
    env.check(r("latest_daily").headOption.exists(_.getDate(0).toLocalDate == last), s"$d: latest daily row is not $last")
    val monday = last.`with`(TemporalAdjusters.previousOrSame(DayOfWeek.MONDAY))
    env.check(r("latest_weekly").headOption.exists(_.getDate(0).toLocalDate == monday), s"$d: latest weekly row is not $monday")
    env.check(r("stream").isEmpty, s"$d: stream holds ${r("stream").length} unconsumed rows")
    env.check(r("per_year").map(_.getLong(1)).sum == feed.countUpTo(d), s"$d: harmonized row count differs from the feed")
    env.check(r("task_history").length == math.min(100L, runLogRows), s"$d: task_history has ${r("task_history").length} rows")
  }

  /** Columns to compare, doubles rounded so summation order cannot matter. */
  private def rows(df: DataFrame): Seq[String] =
    df.select(df.schema.fields.filter(_.name != "META_UPDATED_AT").map { f =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType) round(col(f.name), 9).as(f.name)
      else col(f.name)
    }.toSeq: _*).collect().map(_.toSeq.mkString("|")).sorted.toSeq

  def run(): Unit = {
    val p = Co2Pipeline(spark, wh.toString)
    val t0 = System.nanoTime()
    runLogRows += p.runPipeline(writeFeed(feedDir, env.a.historyEnd).toString).size
    val backfillS = (System.nanoTime() - t0) / 1e9
    p.registerCatalog("co2")
    var d = env.a.historyEnd
    for (_ <- 1 to env.a.warmup) { d = d.plusDays(1); day(p, d, measured = false) }
    env.setupDone("history_backfill_s" -> backfillS)
    while (env.timeLeft) { d = d.plusDays(1); env.guarded(s"day $d")(day(p, d, measured = true)) }
    env.measureDone()
    env.unit = -1

    // end state must equal a one-shot backfill over the final feed; the
    // backfill's own time is a traced-run metric (co2.backfill_s)
    val q = Co2Pipeline(spark, env.a.work.resolve("cdc_check_wh").toString)
    val feedPath = writeFeed(env.a.work.resolve("cdc_check_feed"), d).toString
    val b0ms = env.windowStartMs()
    val b0 = System.nanoTime()
    q.runPipeline(feedPath)
    env.out("type" -> "backfill", "t0_ms" -> b0ms, "t1_ms" -> env.nowMs,
      "s" -> (System.nanoTime() - b0) / 1e9, "rows" -> feed.countUpTo(d))
    env.check(q.harmonized.read.count() == feed.countUpTo(d), "one-shot backfill row count differs from the feed")
    val (lo, hi) = feed.minMaxUpTo(d)
    val mm = q.minMax.read.collect()
    env.check(mm.length == 1 && mm(0).getDouble(0) == lo && mm(0).getDouble(1) == hi,
      s"_CO2_MINMAX ${mm.mkString} != ($lo, $hi)")
    env.check(rows(p.harmonized.read) == rows(q.harmonized.read), "harmonized differs from a one-shot backfill")
    env.check(rows(p.dailyStats.read) == rows(q.dailyStats.read), "daily stats differ from a one-shot backfill")
    env.check(rows(p.weeklyStats.read) == rows(q.weeklyStats.read), "weekly stats differ from a one-shot backfill")
    val consumed = p.harmonized.offsets.getOrElse(Co2Pipeline.STREAM_NAME, -1L)
    env.check(consumed == p.feed.lastBatchId, s"consumed offset $consumed != last batch ${p.feed.lastBatchId}")
    val dups = p.harmonized.read.groupBy("DATE").count().filter(col("count") > 1).count()
    env.check(dups == 0, s"$dups duplicate DATEs in harmonized")
  }
}
