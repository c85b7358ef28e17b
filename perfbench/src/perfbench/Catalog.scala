package perfbench

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, Row}
import graft.{Queries, Tables}

/** catalog_sf01: a fixed slice of `Queries.all` over seeded sf0.1-sized
  * tables, each query written to the `noop` sink. Stateful queries build
  * their persisted state in set-up; every measured pass runs the slice once.
  */
final class Catalog(env: Env) {
  private val spark = env.spark
  private val dir = env.a.input.resolve("sf").toString
  private val byName = Queries.all.toMap
  private val names = env.a.queries
  private val stateful = names.filter(env.a.stateful.contains)

  private def sink(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** One query: planning (the query function) and execution, timed apart. */
  private def query(name: String, pass: Int, measured: Boolean): Unit = {
    if (measured) env.unit += 1
    val t0ms = env.windowStartMs()
    val t0 = System.nanoTime()
    val df = byName(name)(spark, dir)
    val t1 = System.nanoTime()
    sink(df)
    val t2 = System.nanoTime()
    if (measured) env.out("type" -> "query", "name" -> name, "unit" -> env.unit,
      "unit_pass" -> pass, "t0_ms" -> t0ms, "t1_ms" -> env.nowMs,
      "plan_s" -> (t1 - t0) / 1e9, "exec_s" -> (t2 - t1) / 1e9, "s" -> (t2 - t0) / 1e9)
  }

  def run(): Unit = {
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val b0 = System.nanoTime()
    stateful.foreach(n => sink(byName(n)(spark, dir)))
    val buildS = (System.nanoTime() - b0) / 1e9
    for (_ <- 1 to env.a.warmup; n <- names) query(n, 0, measured = false)
    env.setupDone("build_s" -> buildS)
    var pass = 0
    while (env.timeLeft) {
      pass += 1
      val t0ms = env.windowStartMs()
      val t0 = System.nanoTime()
      names.foreach(n => env.guarded(n)(query(n, pass, measured = true)))
      env.out("type" -> "op", "kind" -> "catalog_pass", "unit" -> s"pass$pass", "t0_ms" -> t0ms, "t1_ms" -> env.nowMs, "s" -> (System.nanoTime() - t0) / 1e9)
    }
    env.measureDone()
    // output checks, outside the timed intervals: each result, stateful ones
    // after every pass has refreshed their state, against Spark SQL's
    // evaluation of the query's reference SQL
    env.unit = -1
    Tables.names.filter(n => Files.exists(java.nio.file.Paths.get(dir, s"$n.parquet")))
      .foreach(n => Tables(spark, dir, n).createOrReplaceTempView(n))
    names.foreach { n =>
      env.guarded(s"$n check")(env.check(
        Catalog.digest(byName(n)(spark, dir)) == Catalog.digest(spark.sql(Queries.oracle(n))),
        s"$n: result differs from its reference SQL"))
    }
  }
}

object Catalog {
  /** Order-insensitive digest: columns by name, doubles to 9 significant digits. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted
    val lines = df.select(cols.map(c => df.col(s"`$c`")).toSeq: _*)
      .collect().map(r => cols.indices.map(i => cellOf(r.get(i))).mkString("|")).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString + s"/${lines.length}"
  }

  private def cellOf(x: Any): String = x match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => new java.math.BigDecimal(d).round(new java.math.MathContext(9)).stripTrailingZeros.toPlainString
    case f: Float => cellOf(f.toDouble)
    case d: java.math.BigDecimal => cellOf(d.doubleValue)
    case s: scala.collection.Seq[_] => s.map(cellOf).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(cellOf).mkString("(", ",", ")")
    case other => other.toString
  }
}
