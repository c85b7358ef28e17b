package graft

import org.apache.spark.sql.SparkSession

/** Shared SparkSession factory — one config point for every main/test.
  *
  * local[N] with N shuffle partitions; at cluster scale the same code runs
  * unchanged with `spark.sql.shuffle.partitions` sized to the cluster (AQE
  * coalesces the rest).
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  def builder(master: String = s"local[$cpus]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(new graft.plans.GraftExtensions)
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      // runtime re-planning at scale: coalesce small shuffle partitions,
      // split skewed ones (the automatic complement to SaltedJoin)
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // scan-split sizing: 128 MiB splits keep one task's working set well
      // inside executor memory even with wide rows at 100 TB table sizes
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.compression.codec", "snappy")
      // INT96 (the legacy default) writes NO usable parquet column stats,
      // which would silently disable zone-map pruning on timestamp
      // columns — write standard INT64 micros instead
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // the synthetic events table is parquet TIMESTAMP(NANOS), which
      // Spark 4 rejects without this (session-level setup, not a loader
      // side effect — see Tables.events for the conversion)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // generated-class cache: a JVM running daily pipeline runs and their
      // analyst reads fills ~250 entries, past Spark's 100-entry default,
      // which made every daily run recompile ~175 classes. Static conf:
      // read once, when the JVM first generates code.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // name generated classes without the per-plan codegen stage id, so one
      // stage shape compiles once whatever its position in the plan
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Get-or-create and register the SQL-callable function surface. */
  def get(master: String = s"local[$cpus]"): SparkSession = {
    val spark = builder(master).getOrCreate()
    graft.functions.Co2Functions.registerAll(spark)
    graft.functions.TextFunctions.registerAll(spark)
    spark
  }
}
