package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.co2.{Co2Pipeline, NoaaIngest}
import java.nio.file.{Files, Path}
import java.time.LocalDate

/** End-to-end behavioral test of the full pipeline on a synthetic NOAA-format
  * fixture (~the reference's data shape: FIXTURES.md §1), including the
  * incremental second run and idempotence — the behavioral replacement for
  * the reference's SQL-string-mock SP tests (SURVEY.md §5).
  */
class Co2PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  /** Synthetic feed: daily rows from `from` until `until` (exclusive),
    * with a deterministic CO2 walk and occasional gaps.
    */
  private def writeFeed(path: Path, from: LocalDate, until: LocalDate): Int = {
    val sb = new StringBuilder
    sb.append("# CO2 data from Mauna Loa Observatory\n# header line\n\n")
    var d = from
    var n = 0
    while (d.isBefore(until)) {
      if (d.getDayOfYear % 31 != 0) { // gaps like the real feed
        val co2 = 350.0 + (d.toEpochDay % 1000) * 0.05 +
          math.sin(d.getDayOfYear / 58.0) * 2.0
        val dd = d.getYear + (d.getDayOfYear - 1) / 365.25
        sb.append(f"${d.getYear} ${d.getMonthValue} ${d.getDayOfMonth} $dd%.3f $co2%.2f\n")
        n += 1
      }
      d = d.plusDays(1)
    }
    Files.writeString(path, sb.toString)
    n
  }

  test("full pipeline: ingest → harmonize → analytics, then incremental run") {
    val dir = Files.createTempDirectory("co2_e2e_")
    val wh = dir.resolve("warehouse").toString
    val feed1 = dir.resolve("feed1.txt")
    val rows1 = writeFeed(feed1, LocalDate.of(2020, 1, 1), LocalDate.of(2021, 1, 1))

    val p = Co2Pipeline(spark, wh)
    val res1 = p.runPipeline(feed1.toString)
    assert(res1.exists(_._2.contains(s"loaded $rows1 rows")))

    // raw layer
    assert(p.raw.read.count() == rows1)
    // harmonized layer: one row per feed row, DATE populated
    val harm = p.harmonized.read
    assert(harm.count() == rows1)
    assert(harm.filter($"DATE".isNull).count() == 0)
    // stream fully consumed
    assert(!p.streamHasData)

    // daily stats: PREV_DAY_CO2 chain is exactly date-ordered lag
    val daily = p.dailyStats.read.orderBy("DATE").collect()
    assert(daily.length == rows1)
    assert(daily.head.isNullAt(daily.head.fieldIndex("PREV_DAY_CO2")))
    val co2s = daily.map(_.getAs[Double]("CO2_PPM"))
    val prevs = daily.tail.map(_.getAs[Double]("PREV_DAY_CO2"))
    assert(prevs.sameElements(co2s.dropRight(1)))
    // normalized in [0,1]
    assert(daily.forall { r =>
      val n = r.getAs[Double]("NORMALIZED_CO2"); n >= 0.0 && n <= 1.0 })

    // weekly stats: Monday buckets, avg between week min and max
    val weekly = p.weeklyStats.read.collect()
    assert(weekly.nonEmpty)
    assert(weekly.forall { r =>
      r.getAs[java.sql.Date]("WEEK_START").toLocalDate.getDayOfWeek ==
        java.time.DayOfWeek.MONDAY })
    assert(weekly.forall { r =>
      val a = r.getAs[Double]("AVG_WEEKLY_CO2")
      a >= r.getAs[Double]("WEEK_START_CO2") - 1e-9 &&
        a <= r.getAs[Double]("WEEK_END_CO2") + 1e-9 })

    // ---- second (incremental) run: +3 months of data ----
    val feed2 = dir.resolve("feed2.txt")
    val rows2 = writeFeed(feed2, LocalDate.of(2020, 1, 1), LocalDate.of(2021, 4, 1))
    val res2 = p.runPipeline(feed2.toString)
    val delta = rows2 - rows1
    assert(res2.exists(_._2.contains(s"loaded $delta rows")), res2.toString)
    assert(p.raw.read.count() == rows2)
    assert(p.harmonized.read.count() == rows2)
    assert(p.dailyStats.read.count() == rows2)

    // lag chain still exact across the incremental boundary
    val daily2 = p.dailyStats.read.orderBy("DATE").collect()
    val co2s2 = daily2.map(_.getAs[Double]("CO2_PPM"))
    val prevs2 = daily2.tail.map(_.getAs[Double]("PREV_DAY_CO2"))
    assert(prevs2.sameElements(co2s2.dropRight(1)))

    // ---- third run with no new data: stream gate short-circuits ----
    val res3 = p.runPipeline(feed2.toString)
    assert(res3.exists(_._2.contains("skipped (stream empty)")), res3.toString)
    assert(p.dailyStats.read.count() == rows2) // unchanged

    // task history recorded all runs, newest first
    val hist = p.taskHistory.collect()
    assert(hist.length == res1.length + res2.length + res3.length)

    // SHOW TASKS parity: the DAG definition (root cron, AFTER chain, gate)
    val defs = p.tasks().collect().map(r => r.getString(0) ->
      (r.getString(1), Option(r.getString(2)))).toMap
    assert(defs("CO2_RAW_DATA_TASK")._1.startsWith("USING CRON"))
    assert(defs("CO2_HARMONIZED_TASK") ==
      ("AFTER CO2_RAW_DATA_TASK",
        Some("SYSTEM$STREAM_HAS_DATA('RAW_CO2.CO2_DATA_STREAM')")))
    assert(defs("CO2_ANALYTICS_TASK")._1 == "AFTER CO2_HARMONIZED_TASK")

    // SQL surface (EP3): stream + tables resolvable from raw SQL
    p.registerCatalog("co2_e2e")
    assert(spark.sql(
      "SELECT count(*) FROM co2_e2e.HARMONIZED_CO2.HARMONIZED_CO2").head.getLong(0) == rows2)
    assert(spark.sql(
      "SELECT count(*) FROM co2_e2e.RAW_CO2.CO2_DATA_STREAM WHERE `METADATA$ACTION`='INSERT'")
      .head.getLong(0) == 0) // fully consumed
  }

  test("a daily run re-lists no committed part dir: 0 parallel listing jobs") {
    import org.apache.spark.metrics.source.HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT
    val dir = Files.createTempDirectory("co2_listing_")
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    // 36 YEAR partitions: above Spark's 32-path parallel-listing threshold
    val feed1 = dir.resolve("feed1.txt")
    writeFeed(feed1, LocalDate.of(1985, 1, 1), LocalDate.of(2020, 12, 30))
    val jobs0 = METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    p.runPipeline(feed1.toString)
    val jobs1 = METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    assert(jobs1 > jobs0, "the fixture must cross the parallel-listing threshold")
    // the next day's republished feed: one new row in the last YEAR
    val feed2 = dir.resolve("feed2.txt")
    writeFeed(feed2, LocalDate.of(1985, 1, 1), LocalDate.of(2020, 12, 31))
    val res2 = p.runPipeline(feed2.toString)
    assert(res2.exists(_._2.contains("loaded 1 rows")), res2.toString)
    assert(METRIC_PARALLEL_LISTING_JOB_COUNT.getCount == jobs1,
      "a second run listed committed part dirs in a parallel job")
    assert(p.harmonized.read.count() == p.raw.read.count())
  }

  test("analytics awaits both merges: daily failure surfaces after weekly commits") {
    val dir = Files.createTempDirectory("co2_merge_fail_")
    val feed = dir.resolve("feed.txt")
    writeFeed(feed, LocalDate.of(2020, 1, 1), LocalDate.of(2021, 1, 1))
    val p = Co2Pipeline(spark, dir.resolve("warehouse").toString)
    p.runPipeline(feed.toString)
    // a daily table under an incompatible schema: its merge fails at once
    p.dailyStats.overwrite(Seq((java.sql.Date.valueOf("2020-01-01"), 1.0))
      .toDF("DATE", "OTHER"))
    val weeklyBefore = p.weeklyStats.versions.max
    val e = intercept[IllegalArgumentException](p.analytics())
    assert(e.getMessage.contains("merge schema mismatch"), e.getMessage)
    assert(e.getSuppressed.isEmpty, e.getSuppressed.toSeq)
    // the weekly merge was awaited, so its commit landed before the throw
    assert(p.weeklyStats.versions.max == weeklyBefore + 1)
  }

  test("parseText tolerates 6th column, comments, malformed numerics") {
    val f = Files.createTempFile("noaa_", ".txt")
    Files.writeString(f,
      """# comment
        |
        |2025 1 1 2025.000 418.50
        |2025 1 2 2025.003 418.65 0.15
        |2025 1 3 2025.005 nan
        |""".stripMargin)
    val df = NoaaIngest.parseText(spark, f.toString).orderBy("DAY")
    val rows = df.collect()
    assert(rows.length == 3) // 'nan' row kept with null CO2 (pandas coerce)
    assert(rows(1).getAs[Double]("CO2_PPM") == 418.65)
    assert(rows(2).isNullAt(rows(2).fieldIndex("CO2_PPM")))
    val rx = NoaaIngest.parseTextRegex(spark, f.toString)
    assert(rx.count() == 2)
  }

  test("pipeline ingests through the pluggable FeedSource trait (S1)") {
    val dir = Files.createTempDirectory("co2_feed_")
    val feed = dir.resolve("feed.txt")
    writeFeed(feed, LocalDate.of(2024, 1, 1), LocalDate.of(2024, 2, 1))
    val p = graft.co2.Co2Pipeline(spark, dir.resolve("wh").toString)
    val n = p.load(graft.co2.LocalFileSource(feed.toString))
    assert(n > 0 && p.raw.read.count() == n)
    // parseFeed and parseText agree on the same bytes
    val viaPath = NoaaIngest.parseText(spark, feed.toString).collect().toSet
    val viaSrc = NoaaIngest
      .parseFeed(spark, graft.co2.LocalFileSource(feed.toString)).collect().toSet
    assert(viaPath == viaSrc)
    // the HTTP impl is API-compatible (can't fetch in this sandbox):
    // construction + error surface only
    val http = graft.co2.HttpFeedSource("http://127.0.0.1:1/feed.txt", timeoutMs = 200)
    intercept[Exception] { http.fetchText() }
  }

  test("removeStaged deletes only glob-matched stage files (S12)") {
    val stage = Files.createTempDirectory("rm_stage_")
    Files.writeString(stage.resolve("co2_data_1.csv"), "x")
    Files.writeString(stage.resolve("co2_data_2.csv"), "x")
    Files.writeString(stage.resolve("keep.csv"), "x")
    val removed = NoaaIngest.removeStaged(spark, s"$stage/co2_data_*")
    assert(removed.length == 2)
    assert(Files.exists(stage.resolve("keep.csv")))
    assert(!Files.exists(stage.resolve("co2_data_1.csv")))
  }

  test("withScaledResources brackets jobs with a pool and restores on exit and on throw (§4 warehouse parity)") {
    val root = Files.createTempDirectory("wh_scale_").toString
    val p = Co2Pipeline(spark, root)
    val sc = spark.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", "steady")
    try {
      val got = p.withScaledResources("XLARGE") {
        assert(sc.getLocalProperty("spark.scheduler.pool") == "scaled-xlarge")
        assert(sc.getLocalProperty("spark.job.description")
          .contains("withScaledResources(XLARGE)"))
        42
      }
      assert(got == 42)
      // finally-block downscale parity: previous pool restored
      assert(sc.getLocalProperty("spark.scheduler.pool") == "steady")
      // restore happens even when the bracketed statement throws (the
      // reference's finally-block ALTER WAREHOUSE … XSMALL)
      intercept[RuntimeException] {
        p.withScaledResources("LARGE") { throw new RuntimeException("boom") }
      }
      assert(sc.getLocalProperty("spark.scheduler.pool") == "steady")
    } finally sc.setLocalProperty("spark.scheduler.pool", null)
  }

  test("staged CSV roundtrip (partitioned write + typed tolerant read)") {
    val stage = Files.createTempDirectory("stage_").toString
    val df = Seq((2024, 1, 1, 2024.0, 420.1), (2025, 1, 1, 2025.0, 423.4))
      .toDF("YEAR", "MONTH", "DAY", "DECIMAL_DATE", "CO2_PPM")
    NoaaIngest.writeStage(df, stage)
    val back = NoaaIngest.readStagedCsv(spark, stage)
    assert(back.count() == 2)
    assert(back.schema == graft.co2.Co2Schemas.raw)
    assert(back.agg(sum("CO2_PPM")).head.getDouble(0) == 420.1 + 423.4)
  }
}
