package graft.co2

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.changefeed.ChangeFeed
import graft.functions.Co2Functions
import graft.operators.{MergeInto, OrderedLag}
import graft.plans.expressions.runValue
import graft.storage.VersionedTable

/** The full incremental pipeline — raw → harmonized → analytics — with the
  * same layer semantics as the reference's three stored procedures and task
  * DAG (/root/reference/templates/orchestrate_tasks.sql.j2:28-54), driven as
  * plain Scala over Spark.
  *
  * Tables live under `warehouseRoot`:
  *   RAW_CO2/CO2_DATA, RAW_CO2/CO2_DATA_STREAM (change log),
  *   HARMONIZED_CO2/HARMONIZED_CO2, ANALYTICS_CO2/{DAILY_CO2_STATS,
  *   WEEKLY_CO2_STATS,_CO2_MINMAX}.
  */
final class Co2Pipeline(spark: SparkSession, warehouseRoot: String) {
  import Co2Pipeline._

  // collectStats = false: these layer tables hold ~19k rows in a handful
  // of scan tasks — zone maps have nothing to skip, while the per-commit
  // footer harvest is a real cost on a pipeline that commits 7 times a run
  val raw         = VersionedTable(spark, s"$warehouseRoot/RAW_CO2/CO2_DATA", collectStats = false)
  val feed        = ChangeFeed(spark, STREAM_NAME, s"$warehouseRoot/RAW_CO2/CO2_DATA_STREAM")
  val harmonized  = VersionedTable(spark, s"$warehouseRoot/HARMONIZED_CO2/HARMONIZED_CO2", collectStats = false)
  val dailyStats  = VersionedTable(spark, s"$warehouseRoot/ANALYTICS_CO2/DAILY_CO2_STATS", collectStats = false)
  val weeklyStats = VersionedTable(spark, s"$warehouseRoot/ANALYTICS_CO2/WEEKLY_CO2_STATS", collectStats = false)
  val minMax      = VersionedTable(spark, s"$warehouseRoot/ANALYTICS_CO2/_CO2_MINMAX", collectStats = false)

  private val runLog = VersionedTable(spark, s"$warehouseRoot/_TASK_HISTORY", collectStats = false)

  // ---------------------------------------------------------------- load --

  /** Ingest a NOAA text feed file: parse, watermark-filter, append to raw,
    * publish the delta on the change stream. Returns rows loaded.
    * (loading_co2_data_sp semantics: loading_data_sp/function.py:171-377.)
    */
  def load(feedPath: String): Long =
    ingest(NoaaIngest.parseText(spark, feedPath))

  /** Ingest through a pluggable [[FeedSource]] (HTTP in production — the
    * reference's lambda fetch — a local file in tests/replays).
    */
  def load(source: FeedSource): Long =
    ingest(NoaaIngest.parseFeed(spark, source))

  /** Warehouse-scaling parity hook (SURVEY §4): the reference brackets every
    * heavy statement with `ALTER WAREHOUSE … SET WAREHOUSE_SIZE = XLARGE …
    * WAIT_FOR_COMPLETION = TRUE` and a finally-block downscale to XSMALL
    * (co2_harmonized_sp/co2_harmonized_sp/function.py:115,166;
    * co2_analytical_sp/co2_analytical_sp/function.py:91,151). Spark has no
    * per-statement warehouse — capacity is dynamic allocation
    * (`spark.dynamicAllocation.*`), which grows/shrinks executors while the
    * bracketed stages run, so no resize call is needed. The hook preserves
    * the reference's API shape (bracket a heavy statement, guaranteed
    * restore on exit) by tagging the bracketed jobs with a scheduler pool +
    * job description — on a FAIR-scheduler cluster the `scaled-<size>` pool
    * is where an operator would pin a higher weight/minShare, which is the
    * closest native analog to a bigger warehouse — and restores the
    * previous properties in a finally.
    */
  def withScaledResources[T](size: String = "XLARGE")(body: => T): T = {
    val sc = spark.sparkContext
    val prevPool = sc.getLocalProperty("spark.scheduler.pool")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setLocalProperty("spark.scheduler.pool", s"scaled-${size.toLowerCase}")
    sc.setJobDescription(s"withScaledResources($size)")
    try body
    finally {
      sc.setLocalProperty("spark.scheduler.pool", prevPool)
      sc.setLocalProperty("spark.job.description", prevDesc)
    }
  }

  private def ingest(parsed: DataFrame): Long = {
    val wm = if (raw.exists) NoaaIngest.watermark(raw.read) else None
    val fresh = NoaaIngest.newerThan(parsed, wm).cache()
    val n = fresh.count()
    if (n > 0) {
      raw.append(fresh)
      feed.publish(fresh) // stream records the INSERT delta
    }
    fresh.unpersist()
    n
  }

  // ----------------------------------------------------------- harmonize --

  /** Consume pending stream rows, derive DATE, upsert into harmonized, and
    * refresh the 1-row _CO2_MINMAX table. Offset commits atomically with
    * the merge (exactly-once). Returns "no data" / merge summary string,
    * mirroring the SP's string return.
    */
  def harmonize(): String = {
    val consumed = harmonized.offsets.getOrElse(STREAM_NAME, 0L)
    if (!feed.hasData(consumed)) return "No data in stream - nothing to harmonize"

    val latestBatch = feed.lastBatchId
    val pending = feed.pending(consumed)
      .filter(col(ChangeFeed.ACTION) === "INSERT")
      .drop(ChangeFeed.metaColumns: _*)

    val batchTs = runTimestamp()
    val source = pending
      .withColumn("DATE",
        to_date(concat_ws("-",
          col("YEAR").cast("string"),
          col("MONTH").cast("string"),
          col("DAY").cast("string")), "yyyy-M-d"))
      .select(
        col("DATE"),
        col("YEAR"), col("MONTH"), col("DAY"),
        col("CO2_PPM"),
        batchTs.as("META_UPDATED_AT"))

    // Heavy statement bracket — reference scales to XLARGE around the merge
    // (co2_harmonized_sp/function.py:115,166)
    val r = withScaledResources("XLARGE") {
      // Partition-scoped merge: harmonized is committed partitioned by YEAR
      // (functionally determined by the DATE key), so an incremental load
      // rewrites only the touched years — never the full history snapshot.
      val r = MergeInto(spark, harmonized, source, Seq("DATE"),
        consumeOffsets = Map(STREAM_NAME -> latestBatch), dedupeSource = true,
        partitionBy = Some("YEAR"))

      // CTAS _CO2_MINMAX (co2_harmonized_sp/function.py:74-91)
      val mm = harmonized.read.agg(
        min(col("CO2_PPM")).as("MIN_CO2"),
        max(col("CO2_PPM")).as("MAX_CO2"))
      minMax.overwrite(mm)
      r
    }

    s"Harmonized: ${r.updated} updated, ${r.inserted} inserted (v${r.version})"
  }

  // ----------------------------------------------------------- analytics --

  /** Recompute daily + weekly stats from harmonized and upsert into the
    * analytics tables (co2_analytical_sp semantics).
    */
  def analytics(): String = {
    if (!harmonized.exists) return "No harmonized data - nothing to analyze"
    val harm = harmonized.read

    // minmax injected as run values — the reference's collect-to-lit pattern
    val mmRow = (if (minMax.exists) minMax.read else harm.agg(
      min(col("CO2_PPM")).as("MIN_CO2"), max(col("CO2_PPM")).as("MAX_CO2")))
      .collect().head
    val minCo2 = runValue(mmRow.getDouble(0))
    val maxCo2 = runValue(mmRow.getDouble(1))
    val batchTs = runTimestamp() // daily and weekly rows share one stamp

    // daily: lag over date order (partitioned+stitched, exact global result)
    val daily = OrderedLag.byDate(
        harm.select(col("DATE"), col("CO2_PPM")), "DATE", "CO2_PPM", "PREV_DAY_CO2")
      .select(
        col("DATE"), col("CO2_PPM"), col("PREV_DAY_CO2"),
        Co2Functions.co2PercentChange(col("PREV_DAY_CO2"), col("CO2_PPM")).as("DAILY_CHANGE"),
        Co2Functions.co2Volatility(col("CO2_PPM"), col("PREV_DAY_CO2")).as("DAILY_VOLATILITY"),
        Co2Functions.normalizeCo2(col("CO2_PPM"), minCo2, maxCo2).as("NORMALIZED_CO2"),
        batchTs.as("META_UPDATED_AT"))
    // weekly: Monday-truncated buckets; the reference labels the weekly
    // MIN/MAX as WEEK_START_CO2/WEEK_END_CO2 — replicated faithfully, and
    // weekly change/volatility compare that min and max (not adjacent weeks).
    val weekly = harm
      .groupBy(date_trunc("week", col("DATE")).cast("date").as("WEEK_START"))
      .agg(
        avg(col("CO2_PPM")).as("AVG_WEEKLY_CO2"),
        min(col("CO2_PPM")).as("WEEK_START_CO2"),
        max(col("CO2_PPM")).as("WEEK_END_CO2"))
      .select(
        col("WEEK_START"), col("AVG_WEEKLY_CO2"),
        col("WEEK_START_CO2"), col("WEEK_END_CO2"),
        Co2Functions.co2PercentChange(col("WEEK_START_CO2"), col("WEEK_END_CO2")).as("WEEKLY_CHANGE"),
        Co2Functions.co2Volatility(col("WEEK_END_CO2"), col("WEEK_START_CO2")).as("WEEKLY_VOLATILITY"),
        Co2Functions.normalizeCo2(col("AVG_WEEKLY_CO2"), minCo2, maxCo2).as("NORMALIZED_WEEKLY_CO2"),
        batchTs.as("META_UPDATED_AT"))

    // key-unique by construction: harmonized is keyed by DATE and OrderedLag
    // emits one output row per input row (daily); weekly IS a groupBy on
    // WEEK_START — both skip the duplicate-source pass. Reference scales to
    // LARGE around the analytics merges (co2_analytical_sp/function.py:91,151).
    // The two merges target DIFFERENT tables with NO data dependency, so
    // they run as two concurrent driver threads (the scheduler back-fills
    // each job's straggler tail with the other's tasks) — each commit keeps
    // its own per-root lock and exactly-once protocol, and neither consumes
    // stream offsets, so the semantics are byte-identical to sequential.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.util.{Failure, Try}
    val dF = Future(withScaledResources("LARGE") {
      MergeInto(spark, dailyStats, daily, Seq("DATE"),
        checkDuplicateKeys = false)
    })
    val wF = Future(withScaledResources("LARGE") {
      MergeInto(spark, weeklyStats, weekly, Seq("WEEK_START"),
        checkDuplicateKeys = false)
    })
    // await BOTH before surfacing a failure: no merge outlives the call
    // unobserved, and the first failure carries the other as suppressed
    val done = Seq(dF, wF).map(f => Try(Await.result(f, Duration.Inf)))
    done.collect { case Failure(e) => e } match {
      case first +: rest => rest.foreach(first.addSuppressed); throw first
      case _ =>
    }
    val Seq(dr, wr) = done.map(_.get)

    s"Analytics: daily ${dr.updated}u/${dr.inserted}i, weekly ${wr.updated}u/${wr.inserted}i"
  }

  // --------------------------------------------------------- orchestrate --

  /** The task DAG: load → (stream gate) harmonize → analytics, with a run
    * history log (reference TASK_HISTORY introspection:
    * templates/orchestrate_tasks.sql.j2:64-75).
    */
  def runPipeline(feedPath: String): Seq[(String, String)] = {
    import spark.implicits._
    val results = scala.collection.mutable.ArrayBuffer[(String, String)]()
    results += ("CO2_RAW_DATA_TASK" -> s"loaded ${load(feedPath)} rows")
    val consumed = harmonized.offsets.getOrElse(STREAM_NAME, 0L)
    if (feed.hasData(consumed)) {             // WHEN SYSTEM$STREAM_HAS_DATA
      results += ("CO2_HARMONIZED_TASK" -> harmonize())
      results += ("CO2_ANALYTICS_TASK" -> analytics())
    } else {
      results += ("CO2_HARMONIZED_TASK" -> "skipped (stream empty)")
    }
    val now = java.sql.Timestamp.from(java.time.Instant.now())
    runLog.append(results.toSeq.map { case (t, s) => (t, s, now) }
      .toDF("TASK_NAME", "STATE", "SCHEDULED_TIME"))
    results.toSeq
  }

  def taskHistory: DataFrame = runLog.read.orderBy(desc("SCHEDULED_TIME"))

  /** SHOW TASKS parity: the DAG's task definitions — root task on the cron
    * schedule, children chained with AFTER + the stream-gate condition
    * (orchestrate_tasks.sql.j2:28-54, SHOW TASKS at :81). The schedule
    * string comes from config (PipelineConfig.taskSchedule); execution
    * itself is external (cron/Airflow calling runPipeline), matching the
    * reference's scheduler-driven tasks.
    */
  def tasks(schedule: String = "USING CRON 0 10 * * * UTC"): DataFrame = {
    import spark.implicits._
    Seq(
      ("CO2_RAW_DATA_TASK", schedule, null: String),
      ("CO2_HARMONIZED_TASK", "AFTER CO2_RAW_DATA_TASK",
        s"SYSTEM$$STREAM_HAS_DATA('$STREAM_NAME')"),
      ("CO2_ANALYTICS_TASK", "AFTER CO2_HARMONIZED_TASK", null: String)
    ).toDF("NAME", "SCHEDULE", "CONDITION")
  }

  /** SYSTEM$STREAM_HAS_DATA surface for the harmonized consumer. */
  def streamHasData: Boolean =
    feed.hasData(harmonized.offsets.getOrElse(STREAM_NAME, 0L))

  // -------------------------------------------------------------- sql -----

  /** Register the warehouse as a real `spark.catalog` catalog: every layer
    * becomes addressable as `<name>.<SCHEMA>.<TABLE>` with SHOW TABLES /
    * DESCRIBE / SELECT / INSERT working as SQL text against the versioned
    * commit protocol (reference EP3 full parity, not SELECT-only views).
    * Also types CO2_DATA_STREAM as a first-class STREAM object — SHOW
    * TABLES lists it and
    * `SELECT … FROM <name>.RAW_CO2.CO2_DATA_STREAM WHERE
    * \`METADATA\$ACTION\` = 'INSERT'` reads the net unconsumed window at
    * the harmonized consumer's committed offset
    * (02_create_rawco2data_stream.py:65-76) — and persists the task DAG
    * for `CALL <name>.system.show_tasks()`.
    */
  def registerCatalog(name: String = "co2"): Unit = {
    graft.sql.GraftCatalog.register(spark, name, warehouseRoot)
    graft.sql.GraftCatalog.defineStream(spark, warehouseRoot,
      dir = "RAW_CO2/CO2_DATA_STREAM", offsetKey = STREAM_NAME,
      sourceTable = "RAW_CO2.CO2_DATA",
      consumerDir = "HARMONIZED_CO2/HARMONIZED_CO2")
    defineTasks()
  }

  /** Persist the task DAG into the warehouse `_TASKS` table so
    * `CALL <cat>.system.show_tasks()` lists it from SQL text (SHOW TASKS
    * parity, orchestrate_tasks.sql.j2:81). Idempotent overwrite; 3 rows.
    */
  def defineTasks(schedule: String = "USING CRON 0 10 * * * UTC"): Unit =
    VersionedTable(spark, s"$warehouseRoot/_TASKS", collectStats = false)
      .overwrite(tasks(schedule))
}

object Co2Pipeline {
  val STREAM_NAME = "RAW_CO2.CO2_DATA_STREAM"

  /** `META_UPDATED_AT` for one phase call: the wall clock as a run value,
    * so the generated code stays the same from one run to the next. */
  private def runTimestamp() = runValue(java.time.Instant.now())

  def apply(spark: SparkSession, warehouseRoot: String): Co2Pipeline =
    new Co2Pipeline(spark, warehouseRoot)
}
