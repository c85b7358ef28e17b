package graft.storage

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{coalesce, col, count, lit, not, struct, when}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter
import java.nio.charset.StandardCharsets

/** A versioned Parquet table with an append-only commit log — the minimal
  * transactional substrate vanilla Spark lacks (no MERGE/UPDATE over plain
  * parquet). Equivalent role to the reference's Snowflake tables + streams
  * offset bookkeeping (/root/reference/udfs_and_spoc/co2_harmonized_sp/
  * co2_harmonized_sp/function.py:119-153).
  *
  * Layout:
  * {{{
  *   root/
  *     _commits/00000001.json       // {"version":1,"partcol":"year","parts":[{"dir":...,"vals":[...]}],"offsets":{...}}
  *     v_00000001_3fa9c1d2/ ...     // data dir; name is UNIQUE per attempt
  * }}}
  *
  * Correctness at scale:
  *  - A commit is a single O(1) file created with overwrite=false — an
  *    atomic claim on HDFS and object stores with conditional create.
  *    Readers list `_commits` and take the max committed version. Data dirs
  *    carry a per-attempt random suffix, so two writers racing for the same
  *    version write to DIFFERENT directories; the claim loser's dir is
  *    deleted, never the winner's (a crash leaves only unreferenced
  *    garbage, never corruption).
  *  - `offsets` piggyback consumed change-feed positions on the same commit,
  *    giving merge-consumes-stream the reference's exactly-once contract.
  *  - Appends add a new part directory; no rewrite of existing data.
  *  - [[overwritePartitions]] is the replaceWhere-style incremental commit:
  *    a new part shadows ONLY the partition values it contains, so a daily
  *    merge touching one year rewrites that year, not the table. Untouched
  *    part directories are never opened. Shadowed values are pruned at read
  *    time: parts written partitioned carry hive-style `_pt=<value>` dirs,
  *    so the anti-filter is partition PRUNING, not a scan filter.
  */
final class VersionedTable(spark: SparkSession, val root: String,
                           collectStats: Boolean = true,
                           bloomCols: Seq[String] = Nil) {

  /** One committed data directory. `vals` = the partition values this part
    * contains, as raw hive-escaped `_pt=` directory names (empty for
    * unpartitioned full/append parts); a later part's vals shadow the same
    * values in every earlier part. `stats` = zone-map (min, max) per
    * column, harvested from the part's parquet footers at commit time
    * (empty for pre-zone-map commits and stat-less columns — absent stats
    * simply mean "never skip this part").
    */
  case class Part(dir: String, vals: Seq[String],
                  stats: Map[String, (String, String)] = Map.empty)

  case class State(version: Long, partitionCol: Option[String],
                   parts: Seq[Part], offsets: Map[String, Long],
                   schemaDdl: Option[String] = None)

  /** Hive-default-safe encoding of a partition value (NULLs included). */
  private val NULL_PT = "__GRAFT_NULL__"
  private val PT = "_pt"

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def commitsDir = new Path(root, "_commits")

  /** Parts written by this table are root-relative names; a zero-copy
    * [[cloneTo]] commit references the SOURCE table's dirs as absolute
    * paths (starting with '/' or a URI scheme).
    */
  private def partPath(dir: String): String =
    if (dir.startsWith("/") || dir.contains("://")) dir else s"$root/$dir"

  def exists: Boolean = fs.exists(commitsDir) && state.isDefined

  def state: Option[State] = {
    if (!fs.exists(commitsDir)) return None
    val files = fs.listStatus(commitsDir).map(_.getPath)
      .filter(_.getName.endsWith(".json"))
    if (files.isEmpty) return None
    val latest = files.maxBy(p => p.getName.stripSuffix(".json").toLong)
    Some(parseState(readString(latest)))
  }

  def read: DataFrame = state match {
    case Some(s) => readCommitted(s)
    case _ =>
      throw new IllegalStateException(s"table at $root has no committed data")
  }

  private def readCommitted(s: State): DataFrame =
    if (s.parts.nonEmpty) readState(s)
    else if (s.schemaDdl.isDefined)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(s.schemaDdl.get))
    else
      throw new IllegalStateException(s"table at $root has no committed data")

  /** All committed versions, ascending. The commit log is append-only, so
    * this is one O(#versions) directory listing ([[vacuum]] trims it).
    */
  def versions: Seq[Long] = {
    if (!fs.exists(commitsDir)) return Seq.empty
    fs.listStatus(commitsDir).map(_.getPath.getName)
      .filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json").toLong).toSeq.sorted
  }

  /** Commit history (Delta `DESCRIBE HISTORY` / Snowflake query-history
    * parity), METADATA-ONLY — no data files are opened. The operation
    * label is inferred from consecutive states: APPEND /
    * REPLACE_PARTITIONS grow the part list, REWRITE replaces it
    * (overwrite or compaction), ADD_COLUMNS/OFFSETS change only metadata.
    */
  def history: Seq[VersionedTable.CommitInfo] = {
    if (!fs.exists(commitsDir)) return Seq.empty
    val mtimes = fs.listStatus(commitsDir)
      .filter(_.getPath.getName.endsWith(".json"))
      .map(st => st.getPath.getName.stripSuffix(".json").toLong ->
        st.getModificationTime).toMap
    val states = versions.flatMap(v => stateAt(v))
    states.zip(None +: states.map(Some(_))).map { case (s, prevOpt) =>
      val op = prevOpt match {
        case None =>
          if (s.parts.isEmpty) "CREATE" else "WRITE"
        case Some(p) =>
          if (s.parts == p.parts)
            if (s.schemaDdl != p.schemaDdl) "ADD_COLUMNS"
            else "OFFSETS"
          else if (s.parts.startsWith(p.parts))
            if (s.parts.drop(p.parts.length).exists(_.vals.nonEmpty))
              "REPLACE_PARTITIONS"
            else "APPEND"
          else "REWRITE"
      }
      VersionedTable.CommitInfo(s.version, mtimes.getOrElse(s.version, 0L),
        op, s.parts.size, s.offsets)
    }
  }

  /** The committed state at an exact version — the time-travel anchor.
    * None if that version was never committed or was [[vacuum]]ed away.
    */
  def stateAt(version: Long): Option[State] = {
    val p = new Path(commitsDir, f"$version%08d.json")
    if (fs.exists(p)) Some(parseState(readString(p))) else None
  }

  /** Time-travel read (`VERSION AS OF`): table contents exactly as commit
    * `version` left them. Snapshot isolation is free — a commit never
    * mutates an existing data dir, so the old version's part list stays
    * valid until [[vacuum]] reclaims it.
    */
  def readVersion(version: Long): DataFrame = stateAt(version) match {
    case Some(s) => readCommitted(s)
    case None =>
      val vs = versions
      throw new IllegalArgumentException(
        s"no committed version $version at $root" +
          (if (vs.isEmpty) "" else s" (available: ${vs.min}..${vs.max})"))
  }

  /** Time-travel diff: what changed between two committed versions, keyed
    * by `keyCols` — the audit face of the commit log ("what did last
    * night's merge actually do"), and the generic CDC extractor for
    * consumers that cannot read the engine's change feed. One row per key
    * whose payload differs: `change ∈ added | removed | changed`, with
    * both payload sides as structs (null on the absent side).
    *
    * Keys must be unique within each version (the [[graft.operators
    * .MergeInto]] invariant) — duplicate keys would make "the" old/new
    * payload ambiguous, so they fail loud rather than pick one.
    *
    * Scale shape: one full-outer join, shuffle keyed on the key columns —
    * both sides are column-pruned scans of exactly the two versions'
    * parts; equality is evaluated per row and unchanged keys drop before
    * anything aggregates. No driver materialization.
    */
  /** Schema drift between two versions — the data-contract audit to run
    * when [[diffVersions]] refuses on a schema change: one row per
    * column whose presence or type differs, `(column, change, old_type,
    * new_type)` with change ∈ ADDED | REMOVED | RETYPED (empty = schemas
    * identical). Metadata-only: reads the two commits' schema DDL, never
    * the data.
    */
  def schemaDrift(vOld: Long, vNew: Long): DataFrame = {
    def fieldsOf(v: Long): Map[String, String] = {
      val s = stateAt(v).getOrElse(
        throw new IllegalArgumentException(s"no committed version $v at $root"))
      s.schemaDdl.map(StructType.fromDDL)
        .getOrElse(parquetRead(s, s.parts.map(p => partPath(p.dir))).schema)
        .fields.map(f => f.name -> f.dataType.sql).toMap
    }
    val o = fieldsOf(vOld); val n = fieldsOf(vNew)
    val rows =
      (n.keySet -- o.keySet).toSeq.sorted.map(c =>
        (c, "ADDED", null.asInstanceOf[String], n(c))) ++
      (o.keySet -- n.keySet).toSeq.sorted.map(c =>
        (c, "REMOVED", o(c), null.asInstanceOf[String])) ++
      (o.keySet & n.keySet).toSeq.sorted.collect {
        case c if o(c) != n(c) => (c, "RETYPED", o(c), n(c))
      }
    import spark.implicits._
    rows.toDF("column", "change", "old_type", "new_type")
  }

  def diffVersions(vOld: Long, vNew: Long,
                   keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diffVersions requires key columns")
    val o = readVersion(vOld)
    val n = readVersion(vNew)
    val cols = o.columns.toSeq
    require(cols == n.columns.toSeq,
      s"schema changed between v$vOld and v$vNew (${cols.mkString(",")} vs " +
        s"${n.columns.mkString(",")}): diff keys would be ambiguous")
    val payload = cols.filterNot(keyCols.contains)
    def keyed(df: DataFrame, side: String): DataFrame = {
      val ks = keyCols.map(col)
      val dups = df.groupBy(ks: _*).agg(count(lit(1)).as("_c"))
        .filter(col("_c") > 1).limit(1).collect()
      require(dups.isEmpty,
        s"duplicate keys on the $side side of the diff " +
          s"(${keyCols.mkString(",")} = ${dups.headOption.mkString})")
      df.select(ks :+ struct(payload.map(col): _*).as(s"_$side"): _*)
    }
    keyed(o, "old").join(keyed(n, "new"), keyCols, "full_outer")
      .withColumn("change",
        when(col("_old").isNull, lit("added"))
          .when(col("_new").isNull, lit("removed"))
          .when(col("_old") === col("_new"), lit(null))
          .otherwise(lit("changed")))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change") :+
        col("_old").as("old") :+ col("_new").as("new"): _*)
  }

  /** Committed schema as of `version` (metadata only, no data files). */
  def schemaAt(version: Long): StructType = stateAt(version) match {
    case Some(s) if s.schemaDdl.isDefined => StructType.fromDDL(s.schemaDdl.get)
    case Some(s) if s.parts.nonEmpty => readState(s).schema
    case _ => throw new IllegalArgumentException(
      s"no committed schema for version $version at $root")
  }

  /** Latest version whose commit landed at or before `tsMillis`
    * (`TIMESTAMP AS OF`). Uses the commit file's own modification time —
    * the atomic-claim create IS the commit instant.
    */
  def versionAt(tsMillis: Long): Option[Long] = {
    if (!fs.exists(commitsDir)) return None
    val cands = fs.listStatus(commitsDir)
      .filter(_.getPath.getName.endsWith(".json"))
      .filter(_.getModificationTime <= tsMillis)
      .map(_.getPath.getName.stripSuffix(".json").toLong)
    if (cands.isEmpty) None else Some(cands.max)
  }

  /** Committed schema without opening data files (every commit records its
    * DataFrame schema as DDL; pre-schema commits fall back to a footer read).
    */
  def schema: StructType = state match {
    case Some(s) if s.schemaDdl.isDefined => StructType.fromDDL(s.schemaDdl.get)
    case Some(s) if s.parts.nonEmpty => readState(s).schema
    case _ =>
      throw new IllegalStateException(s"table at $root has no committed schema")
  }

  /** Commit an empty table with just a schema (CREATE TABLE semantics). */
  def createEmpty(schema: StructType): Long = {
    val prev = state
    val version = prev.map(_.version).getOrElse(0L) + 1
    val offs = prev.map(_.offsets).getOrElse(Map.empty)
    writeCommit(version,
      State(version, None, Seq.empty, offs, Some(schema.toDDL)))
    version
  }

  /** Schema-only commit widening the table with new columns (ALTER TABLE
    * ADD COLUMN semantics): no data dir is touched; reads apply the
    * widened schema, so every existing part yields NULL for the new
    * columns. Columns are forced nullable — there is no value to backfill.
    */
  def addColumns(fields: Seq[org.apache.spark.sql.types.StructField]): Long = {
    val prev = state.getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val cur = prev.schemaDdl.map(StructType.fromDDL).getOrElse(
      throw new IllegalStateException(
        s"table at $root predates schema-carrying commits; rewrite it first"))
    val resolver = spark.sessionState.analyzer.resolver
    fields.foreach { f =>
      require(!cur.exists(c => resolver(c.name, f.name)),
        s"column ${f.name} already exists at $root")
    }
    val version = prev.version + 1
    writeCommit(version, prev.copy(version = version,
      schemaDdl = Some(StructType(cur ++ fields.map(_.copy(nullable = true))).toDDL)))
    version
  }

  private def ptKey(c: Column): Column =
    coalesce(c.cast("string"), lit(NULL_PT))

  /** Parquet read with the COMMITTED schema when one is recorded: skips the
    * footer-read/schema-inference pass that `spark.read.parquet` otherwise
    * runs per call — a visible per-commit cost in commit-heavy pipelines.
    * Fields are relaxed to nullable (an older part may hold NULLs in a
    * column the latest batch happened to commit as NOT NULL).
    *
    * The relation is the one `DataFrameReader` builds (so pushdown, column
    * pruning and shadowed-partition path pruning are unchanged), but its
    * file index lists through the session's [[VersionedTable.listings]]
    * cache: committed part dirs are write-once (per-attempt dir names), so
    * a listing never goes stale, and a read lists only the parts no earlier
    * read has seen — not every `_pt=` dir again in a parallel-listing job.
    */
  private def parquetRead(s: State, paths: Seq[String]): DataFrame =
    s.schemaDdl match {
      case Some(d) =>
        val schema = ColumnBridge.asNullable(StructType.fromDDL(d))
        val conf = spark.sparkContext.hadoopConfiguration
        val listings = VersionedTable.listings(spark)
        val dirs = paths.map { p =>
          val path = new Path(p)
          val dirFs = path.getFileSystem(conf)
          val qualified = dirFs.makeQualified(path)
          // the index reads a missing root dir as empty: a lost part must
          // fail the read, never silently drop its rows
          if (listings.getLeafFiles(qualified).isEmpty && !dirFs.exists(qualified))
            throw new java.io.FileNotFoundException(
              s"committed part dir $qualified of table at $root is missing")
          qualified
        }
        val index = new InMemoryFileIndex(spark, dirs, Map.empty, Some(schema), listings)
        spark.baseRelationToDataFrame(HadoopFsRelation(index, index.partitionSchema,
          schema, None, new ParquetFileFormat, Map.empty)(spark))
      case None => spark.read.parquet(paths: _*)
    }

  /** Zone-map harvest for a freshly written part: driver-side parquet
    * footer reads only (the write already produced the stats); failures
    * degrade to "no stats", never block the commit.
    */
  private def partStats(dataDir: String): Map[String, (String, String)] = {
    writeBlooms(dataDir)
    if (!collectStats) Map.empty
    else ZoneMaps.collect(spark.sparkContext.hadoopConfiguration, fs,
      new Path(dataDir))
  }

  // -------------------------------------------------------- bloom sidecars
  // Per-part bloom filters for EQUALITY/IN pruning on high-cardinality
  // columns zone maps can't skip (uniform hashes, ids: every part's
  // (min,max) spans the whole domain). Opt-in at WRITE time via
  // `bloomCols`; the READ side is opt-in-free — any part carrying a
  // sidecar `_bloom_<col>.bin` (leading underscore: invisible to parquet
  // directory reads) is skipped when the filter proves every probed value
  // absent. Missing files, IO failures, type mismatches all degrade to
  // "keep" — blooms are an optimization, never a correctness input. New
  // parts from compaction/partial rewrites regenerate blooms only if
  // their writing table instance opted in; absent sidecars just don't
  // skip. Delta/Iceberg's bloom-filter-index equivalent.

  private def bloomPath(dataDir: String, colName: String): Path =
    new Path(dataDir, "_bloom_" +
      ZoneMaps.pctEncode(colName.getBytes(StandardCharsets.UTF_8)) + ".bin")

  /** Spark's `stat.bloomFilter` puts integral values via putLong and
    * strings via their UTF-8 bytes — exactly the two coercions
    * [[ZoneMaps.predsOf]] produces, so probe values test directly.
    */
  private def bloomSupported(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }

  private def writeBlooms(dataDir: String): Unit = {
    if (bloomCols.isEmpty) return
    try {
      val df = spark.read.parquet(dataDir)
      val resolver = spark.sessionState.analyzer.resolver
      val n = math.max(1024L, ZoneMaps.totalRows(
        spark.sparkContext.hadoopConfiguration, fs, new Path(dataDir)))
      bloomCols.foreach { c =>
        df.schema.fields.find(f => resolver(f.name, c))
          .filter(f => bloomSupported(f.dataType))
          .foreach { f =>
            val bf = df.stat.bloomFilter(f.name, n, 0.01)
            val out = fs.create(bloomPath(dataDir, f.name), true)
            try bf.writeTo(out) finally out.close()
          }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Parts are immutable, so loaded blooms cache by path for the table
    * instance's lifetime; `None` (absent/unreadable) caches too.
    */
  private val bloomCache =
    scala.collection.concurrent.TrieMap[String, Option[BloomFilter]]()

  private def loadBloom(dataDir: String, colName: String): Option[BloomFilter] = {
    val p = bloomPath(dataDir, colName)
    bloomCache.getOrElseUpdate(p.toString,
      try {
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(BloomFilter.readFrom(in)) finally in.close()
        }
      } catch { case scala.util.control.NonFatal(_) => None })
  }

  /** Can `p` possibly satisfy every equality/IN conjunct, per its bloom
    * sidecars? Only probes when the predicate value's coercion matches
    * the column type the bloom was built on (integral ↔ Long, string ↔
    * UTF-8 bytes); anything else keeps the part.
    */
  private def bloomMayMatch(fields: Array[StructField], p: Part,
                            preds: Seq[ZoneMaps.Pred]): Boolean = {
    val resolver = spark.sessionState.analyzer.resolver
    // partPath, not s"$root/${p.dir}": cloned tables carry absolute part
    // dirs, and the raw concat would miss their sidecars (conservative but
    // silently unpruned)
    val dir = partPath(p.dir)
    def probe(c: String, vs: Seq[Any]): Boolean =
      fields.find(f => resolver(f.name, c)) match {
        case Some(f) =>
          val aligned = f.dataType match {
            case ByteType | ShortType | IntegerType | LongType =>
              vs.nonEmpty && vs.forall(_.isInstanceOf[Long])
            case StringType =>
              vs.nonEmpty && vs.forall(_.isInstanceOf[Array[Byte]])
            case _ => false
          }
          if (!aligned) true
          else loadBloom(dir, f.name) match {
            case Some(bf) => vs.exists {
              case l: Long => bf.mightContainLong(l)
              case b: Array[Byte] => bf.mightContainBinary(b)
              case _ => true
            }
            case None => true
          }
        case None => true
      }
    preds.forall {
      case ZoneMaps.Cmp(c, "=", v) => probe(c, Seq(v))
      case ZoneMaps.InSet(c, vs) => probe(c, vs)
      case _ => true
    }
  }

  private def readState(s: State): DataFrame = readState(s, _ => true)

  private def readState(s: State, keep: Part => Boolean): DataFrame = {
    val kept = s.parts.filter(keep)
    if (kept.isEmpty)
      // every part zone-map-pruned: an empty relation with the schema
      return emptyRelation(s)
    val anyPartitioned = s.parts.exists(_.vals.nonEmpty)
    if (!anyPartitioned)
      return parquetRead(s, kept.map(p => partPath(p.dir)))
    val pcol = s.partitionCol.getOrElse(
      throw new IllegalStateException(s"partitioned parts but no partcol at $root"))
    // Later parts shadow earlier ones. Partitioned parts are pruned by PATH
    // (only live `_pt=<v>` subdirs are even listed — the data files inside
    // carry the full original schema, so no partition-column inference is
    // involved); legacy unpartitioned parts fall back to an exact
    // anti-filter on the real column.
    val slices = s.parts.zipWithIndex.map { case (p, i) =>
      // shadowing MUST consider every later part, including zone-pruned
      // ones — a pruned later part still overwrote these partition values
      val shadowed = s.parts.drop(i + 1).flatMap(_.vals).toSet
      if (!keep(p)) null
      else if (p.vals.nonEmpty) {
        val live = p.vals.filterNot(shadowed)
        if (live.isEmpty) null
        else parquetRead(s, live.map(v => s"${partPath(p.dir)}/$PT=$v"))
      } else if (shadowed.isEmpty) {
        parquetRead(s, Seq(partPath(p.dir)))
      } else {
        val vals = shadowed.toSeq.map(hiveUnescape)
        parquetRead(s, Seq(partPath(p.dir)))
          .filter(not(ptKey(col(pcol)).isin(vals: _*)))
      }
    }.filter(_ != null)
    if (slices.isEmpty) emptyRelation(s)
    else slices.reduce(_ unionByName _)
  }

  /** Zero-row relation carrying the table schema (all parts pruned). */
  private def emptyRelation(s: State): DataFrame = s.schemaDdl match {
    case Some(_) => readCommitted(s.copy(parts = Seq.empty))
    case None => parquetRead(s, s.parts.map(p => partPath(p.dir))).limit(0)
  }

  /** Read with ZONE-MAP PART SKIPPING: part directories whose committed
    * (min, max) column stats cannot satisfy `cond`'s top-level AND
    * conjuncts are never opened — then `cond` is applied as a normal row
    * filter, so the result ALWAYS equals `read.filter(cond)`. Predicates
    * pruning can't use (ORs, expressions over columns, stat-less columns)
    * cost nothing: they just don't skip.
    *
    * At 100 TB with time-ordered appends this is the difference between
    * "scan the table" and "open the two parts the date range touches" —
    * the same pruning Snowflake micro-partitions / Delta file stats buy.
    */
  def readWhere(cond: Column): DataFrame = {
    val s = state.getOrElse(
      throw new IllegalStateException(s"table at $root has no committed data"))
    readWhereState(s, cond)
  }

  /** [[readWhere]] against a historical version (time travel + skipping). */
  def readVersionWhere(version: Long, cond: Column): DataFrame = {
    val s = stateAt(version).getOrElse(
      throw new IllegalStateException(s"no version $version at $root"))
    readWhereState(s, cond)
  }

  private def readWhereState(s: State, cond: Column): DataFrame = {
    val schema = stateSchema(s)
    val preds = ZoneMaps.predsOf(spark, schema, cond)
    val resolver = spark.sessionState.analyzer.resolver
    readState(s, p => ZoneMaps.mayMatch(p.stats, preds, resolver) &&
        bloomMayMatch(schema.fields, p, preds))
      .filter(cond)
  }

  /** Schema of a state without opening data files when the commit carries
    * its DDL (it always does for post-round-1 commits).
    */
  private def stateSchema(s: State): StructType = s.schemaDdl match {
    case Some(d) => StructType.fromDDL(d)
    case None => readState(s).schema
  }

  /** Diagnostic: how many parts a predicate's zone maps would keep/skip —
    * `(kept, total)`. Metadata-only, no data files opened.
    */
  def pruneStats(cond: Column): (Int, Int) = {
    val s = state.getOrElse(return (0, 0))
    val schema = stateSchema(s)
    val preds = ZoneMaps.predsOf(spark, schema, cond)
    val resolver = spark.sessionState.analyzer.resolver
    (s.parts.count(p => ZoneMaps.mayMatch(p.stats, preds, resolver) &&
        bloomMayMatch(schema.fields, p, preds)),
      s.parts.size)
  }

  def readOr(schema: StructType): DataFrame =
    if (exists) read
    else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def offsets: Map[String, Long] = state.map(_.offsets).getOrElse(Map.empty)

  /** Metadata-only commit advancing/resetting offsets — no data job, no
    * new part. The building block for stream-offset resets
    * ([[graft.streaming.Streaming.appendBatchExactlyOnce]] checkpoint
    * hazards) and external offset bookkeeping.
    */
  def commitOffsets(newOffsets: Map[String, Long]): Long = {
    newOffsets.keys.foreach(requireValidOffsetKey)
    retryClaim() { // re-reads state per attempt: offsets merge over any winner
      val s = state.getOrElse(
        throw new IllegalStateException(s"table at $root has no committed data"))
      val version = s.version + 1
      try writeCommit(version, s.copy(version = version,
        offsets = s.offsets ++ newOffsets))
      catch {
        case e: java.io.IOException =>
          // same race contract as every data commit path
          throw new java.util.ConcurrentModificationException(
            s"commit claim for version $version of $root failed", e)
      }
      version
    }
  }

  /** Offsets keys land in the regex-parsed commit JSON: structural bytes
    * would corrupt the offsets blob and silently break exactly-once
    * replay detection, so reject them at the door.
    */
  private def requireValidOffsetKey(k: String): Unit =
    require(k.nonEmpty && !k.exists(c => c == '"' || c == '\\' || c == '}'),
      s"offsets key '$k' contains one of \" \\ } — " +
        "those corrupt the regex-parsed commit log")

  /** Runs a metadata-only commit body, retrying on a lost OCC claim; each
    * attempt re-reads state, so offsets merge over whatever the winner
    * committed. Data commits retry INSIDE [[commit]] instead (claim-only,
    * reusing the written data dir).
    */
  private def retryClaim[T](attempts: Int = 20)(body: => T): T = {
    var left = attempts
    while (true) {
      try return body
      catch {
        case _: java.util.ConcurrentModificationException if left > 0 =>
          left -= 1
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(1L, 15L))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Replace table contents (CREATE OR REPLACE / CTAS semantics). */
  def overwrite(df: DataFrame, offsets: Map[String, Long] = Map.empty): Long =
    commit(df, Commit.Replace, offsets)

  /** Append a new part (COPY INTO / INSERT semantics). Racing appends are
    * safe: a claim loser retries the claim against the winner's state, so
    * both parts land under consecutive versions.
    */
  def append(df: DataFrame, offsets: Map[String, Long] = Map.empty): Long =
    commit(df, Commit.Append, offsets)

  /** Conditional append for exactly-once stream sinks: lands `df` IFF
    * the recorded offset for `streamId` is still below `batchId`,
    * checked against the state snapshot the commit CLAIMS against (not a
    * separate read) — so a replayed batch racing a successful first
    * attempt can never double-land. Returns false when skipped. On a
    * claim race (ConcurrentModificationException) retry; the guard
    * re-evaluates against fresh state.
    */
  def appendExactlyOnce(df: DataFrame, streamId: String,
                        batchId: Long): Boolean =
    commit(df, Commit.Append, Map(streamId -> batchId),
      guard = st =>
        st.forall(_.offsets.getOrElse(streamId, -1L) < batchId)) >= 0

  /** Compare-and-set append for watermark-window ingests: lands `df` IFF
    * the recorded offset for `streamId` still EQUALS `expected` — the
    * value the caller read its delta window against. Stricter than
    * [[appendExactlyOnce]]'s monotone `< new` guard, which admits a race
    * where pull A (window (w, h1]) commits between pull B's read of w and
    * B's commit of (w, h2], h2 > h1 — B's guard would pass and rows
    * (w, h1] would land twice. Equality makes the overlapping loser a
    * no-op; it re-pulls against the fresh offset. Returns false when
    * skipped.
    */
  def appendIfOffsetIs(df: DataFrame, streamId: String,
                       expected: Option[Long], newOffset: Long): Boolean =
    commit(df, Commit.Append, Map(streamId -> newOffset),
      guard = st =>
        st.map(_.offsets.get(streamId)).getOrElse(None) == expected) >= 0

  /** Replace ONLY the partitions present in `df` (replaceWhere semantics):
    * rows of earlier commits whose `partitionCol` value appears in `df` are
    * shadowed; everything else is untouched — no data dir is rewritten.
    * All commits to a table must use the same `partitionCol`.
    */
  def overwritePartitions(df: DataFrame, partitionCol: String,
                          offsets: Map[String, Long] = Map.empty): Long = {
    state.flatMap(_.partitionCol).foreach { p =>
      require(p == partitionCol,
        s"table at $root is partitioned by $p, not $partitionCol")
    }
    commit(df, Commit.ReplacePartitions(partitionCol), offsets)
  }

  /** Small-file compaction (OPTIMIZE): rewrite the table's LIVE rows into
    * one fresh part — partition-clustered (one file per live partition
    * value) when the table is partitioned. Contents, schema, and offsets
    * are unchanged; readers of older versions are untouched (old parts
    * stay on disk for time travel until [[vacuum]]). The cure for
    * commit-heavy tables: N appends = N part dirs = N× file-listing and
    * task-scheduling overhead per read, collapsed back to 1.
    */
  def compact(): Long = {
    val s = state.getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    require(s.parts.nonEmpty, s"table at $root has no data to compact")
    val pcol = s.partitionCol.filter(_ => s.parts.exists(_.vals.nonEmpty))
    commit(read, Commit.Rewrite(pcol), Map.empty)
  }

  /** Clustered compaction (Snowflake clustering keys / Delta OPTIMIZE
    * ZORDER analogue, linear order): rewrite the table's LIVE rows into
    * `nParts` RANGE-disjoint parts ordered by `clusterCols` — so the
    * zone maps of a freshly appended-in-arrival-order table become TIGHT
    * on the cluster columns, and a range [[readWhere]] afterwards opens
    * ~1 part instead of all of them.
    *
    * One commit, `nParts` part dirs: Spark's `repartitionByRange`
    * computes the split bounds (sampled range partitioner) and each
    * range lands in its own directory with its own footer-harvested
    * stats. Contents/schema/offsets unchanged; old versions untouched
    * (time travel until [[vacuum]]). Not supported on
    * partition-committed tables — their layout is already value-keyed.
    */
  def compactClustered(clusterCols: Seq[String], nParts: Int): Long = {
    require(clusterCols.nonEmpty, "need cluster columns")
    val s = clusterableState(nParts)
    val ranged = readCommitted(s)
      .repartitionByRange(nParts, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
    commitRanged(s, ranged)
  }

  /** Multi-dimension clustered compaction (Delta `OPTIMIZE ZORDER BY`
    * analogue): rewrite the table's LIVE rows into `nParts` parts ordered
    * along the Morton curve of `zCols` ([[ZOrder.key]]), so each part's
    * footer-harvested zone maps bound a RECTANGLE in every z dimension at
    * once. Linear clustering prunes only on its leading column; after a
    * z-order rewrite a 2-D box [[readWhere]] skips every part whose
    * rectangle misses the box — the difference between opening 1/4 and
    * 1/16 of a 100 TB table for a date×key range scan.
    *
    * Same commit mechanics, guarantees, and restrictions as
    * [[compactClustered]]; one extra bounded 1-row aggregate learns the
    * per-dimension domains before the single range shuffle.
    */
  def compactZorder(zCols: Seq[String], nParts: Int, bits: Int = 16): Long = {
    val s = clusterableState(nParts)
    val base = readCommitted(s)
    val zkey = ZOrder.key(base, zCols, bits)
    val ranged = base.withColumn("_zkey", zkey)
      .repartitionByRange(nParts, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .drop("_zkey")
    commitRanged(s, ranged)
  }

  private def clusterableState(nParts: Int): State = {
    require(nParts > 0, "need a positive part count")
    val s = state.getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    require(s.parts.nonEmpty, s"table at $root has no data to compact")
    require(!s.parts.exists(_.vals.nonEmpty),
      s"table at $root uses partition-scoped commits; clustered " +
        "compaction applies to append-committed tables")
    // the staging write borrows `_range` (and z-order `_zkey`) the way
    // partitioned commits borrow `_pt` — a real column of either name
    // would be silently replaced and then stripped from the rewritten files
    Seq("_range", "_zkey").foreach { reserved =>
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(reserved)),
        s"table at $root has a column named $reserved (reserved by " +
          "clustered compaction)")
    }
    s
  }

  /** Clustered APPEND: land `df` as up to `nParts` range-clustered parts
    * — each its own directory with its own footer-harvested zone maps —
    * WITHOUT touching existing data. The incremental-index append shape
    * ([[graft.operators.Similarity.ivfIndexAppend]], postings logs):
    * append cost = delta cost, and a `readWhere` on the cluster column
    * prunes INSIDE the delta immediately, instead of only after the next
    * [[compactClustered]] folds it in. Same restrictions as clustered
    * compaction (append-committed tables only).
    */
  def appendClustered(df: DataFrame, clusterCols: Seq[String], nParts: Int,
                      offsets: Map[String, Long] = Map.empty): Long = {
    require(clusterCols.nonEmpty, "need cluster columns")
    require(nParts > 0, "need a positive part count")
    val s = state.getOrElse(
      throw new IllegalStateException(s"no table at $root — create it first"))
    require(!s.parts.exists(_.vals.nonEmpty),
      s"table at $root uses partition-scoped commits; clustered append " +
        "applies to append-committed tables")
    requireCompatibleSchema(s, df)
    offsets.keys.foreach(requireValidOffsetKey)
    val ranged = df
      .repartitionByRange(nParts, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
    commitRanged(s, ranged, keepExisting = true, extraOffsets = offsets)
  }

  /** Z-ordered APPEND: the multi-dimension counterpart of
    * [[appendClustered]] — the delta lands as `nParts` parts ordered
    * along the Morton curve of `zCols`, so each delta part's
    * footer-harvested zone maps bound a tight RECTANGLE in every z
    * dimension and a 2-D box [[readWhere]] prunes inside the delta
    * immediately. The curve's per-dimension domain is learned from the
    * DELTA itself — correctness never depends on it (pruning keys off
    * the raw columns' min/max, not the transient z-key), it only shapes
    * how evenly the delta splits; [[compactZorder]] re-learns the global
    * domain when it folds fragmentation.
    */
  def appendZorder(df: DataFrame, zCols: Seq[String], nParts: Int,
                   bits: Int = 16,
                   offsets: Map[String, Long] = Map.empty): Long = {
    require(nParts > 0, "need a positive part count")
    val s = state.getOrElse(
      throw new IllegalStateException(s"no table at $root — create it first"))
    require(!s.parts.exists(_.vals.nonEmpty),
      s"table at $root uses partition-scoped commits; z-ordered append " +
        "applies to append-committed tables")
    requireCompatibleSchema(s, df)
    offsets.keys.foreach(requireValidOffsetKey)
    val zkey = ZOrder.key(df, zCols, bits)
    val ranged = df.withColumn("_zkey", zkey)
      .repartitionByRange(nParts, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .drop("_zkey")
    commitRanged(s, ranged, keepExisting = true, extraOffsets = offsets)
  }

  private def commitRanged(s: State, rangedRows: DataFrame,
                           keepExisting: Boolean = false,
                           extraOffsets: Map[String, Long] = Map.empty): Long = {
    val version = s.version + 1
    val attempt = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    // one job: range-shuffle once, tag each row with its range id via the
    // partitioner itself, write all ranges in one hive-style write; each
    // _range=<i> subdir is then REGISTERED AS ITS OWN PART with its own
    // zone-map stats (the whole point of the rewrite)
    val stage = f"$root/v_$version%08d_${attempt}_stage"
    val ranged = rangedRows
      .withColumn("_range", org.apache.spark.sql.functions.spark_partition_id())
    ranged.write.partitionBy("_range").mode("overwrite").parquet(stage)
    val rangeDirs = fs.listStatus(new Path(stage))
      .map(_.getPath.getName).filter(_.startsWith("_range="))
      .sortBy(_.stripPrefix("_range=").toInt) // numeric: _range=10 > _range=2
    val parts = rangeDirs.zipWithIndex.map { case (rd, i) =>
      val dirName = f"v_$version%08d_${attempt}_r$i%04d"
      // rename reports failure by RETURNING FALSE; committing a part
      // whose rename silently failed would permanently reference a
      // nonexistent dir
      if (!fs.rename(new Path(s"$stage/$rd"), new Path(s"$root/$dirName")))
        throw new java.io.IOException(
          s"rename of clustered range $rd to $dirName failed at $root")
      Part(dirName, Seq.empty, partStats(s"$root/$dirName"))
    }.toSeq
    fs.delete(new Path(stage), true)
    // preserve a recorded partition column (reachable with zero valued
    // parts via an empty partition-scoped batch) — dropping it would let
    // a later overwritePartitions switch columns mid-table
    val allParts = if (keepExisting) s.parts ++ parts else parts
    try writeCommit(version,
      State(version, s.partitionCol, allParts, s.offsets ++ extraOffsets,
        s.schemaDdl))
    catch {
      case e: java.io.IOException =>
        parts.foreach(p => fs.delete(new Path(s"$root/${p.dir}"), true))
        throw new java.util.ConcurrentModificationException(
          s"commit claim for version $version of $root failed", e)
    }
    version
  }

  /** Partial rewrite driven by zone maps (the DELETE/UPDATE engine):
    * parts whose committed stats CANNOT satisfy `cond` carry over into
    * the new version BY REFERENCE — never listed, never read, never
    * rewritten; only the potentially-matching parts are read,
    * `transform`ed, and landed as one fresh part. Exactness follows from
    * the zone maps' conservativeness: a skipped part provably contains
    * no row matching `cond`, so a row-level DELETE/UPDATE conditioned on
    * `cond` is the identity there.
    *
    * At 100 TB this is the difference between "DELETE one day = rewrite
    * the table" and "rewrite the two parts that day touches" (Delta/
    * Iceberg file-level rewrite semantics). Returns the new version, or
    * the CURRENT version unchanged when no part can match (no-op — no
    * commit, no data job). Partition-scoped tables fall back to a full
    * rewrite (their cross-part value shadowing makes partial carry-over
    * ambiguous).
    *
    * `transform` must preserve the table schema.
    */
  def rewriteWhere(cond: Column)(transform: DataFrame => DataFrame): Long =
    rewriteWhereDetailed(cond)(transform)._1

  /** [[rewriteWhere]] plus an explicit executed-flag: `false` means the
    * zone maps proved a no-op and `transform` was NEVER run — callers
    * with side effects riding the transform (an Observation, a counter)
    * must branch on this rather than compare racy version snapshots.
    */
  def rewriteWhereDetailed(cond: Column)(transform: DataFrame => DataFrame)
      : (Long, Boolean) = {
    val s = state.getOrElse(
      throw new IllegalStateException(s"table at $root has no committed data"))
    if (s.parts.isEmpty) return (s.version, false)
    if (s.parts.exists(_.vals.nonEmpty))
      return (commit(transform(readCommitted(s)),
        Commit.Rewrite(s.partitionCol), Map.empty), true)
    val rwSchema = stateSchema(s)
    val preds = ZoneMaps.predsOf(spark, rwSchema, cond)
    val resolver = spark.sessionState.analyzer.resolver
    val (touched, untouched) =
      s.parts.partition(p => ZoneMaps.mayMatch(p.stats, preds, resolver) &&
        bloomMayMatch(rwSchema.fields, p, preds))
    if (touched.isEmpty) return (s.version, false)
    val version = s.version + 1
    val attempt = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val dirName = f"v_$version%08d_$attempt"
    transform(parquetRead(s, touched.map(p => partPath(p.dir))))
      .write.mode("overwrite").parquet(s"$root/$dirName")
    // a transform can delete every row of the touched parts — an empty
    // write still produces a zero-row parquet file, so check the footers'
    // row counts (metadata-only) and drop the part instead of committing
    // an empty reference
    val rows = ZoneMaps.totalRows(spark.sparkContext.hadoopConfiguration,
      fs, new Path(s"$root/$dirName"))
    val newParts =
      if (rows != 0L) Seq(Part(dirName, Seq.empty, partStats(s"$root/$dirName")))
      else { fs.delete(new Path(s"$root/$dirName"), true); Seq.empty }
    try writeCommit(version,
      State(version, s.partitionCol, untouched ++ newParts, s.offsets,
        s.schemaDdl))
    catch {
      case e: java.io.IOException =>
        newParts.foreach(p => fs.delete(new Path(s"$root/${p.dir}"), true))
        throw new java.util.ConcurrentModificationException(
          s"commit claim for version $version of $root failed", e)
    }
    (version, true)
  }

  /** Row-level DELETE: remove rows where `cond` is TRUE (NULL keeps the
    * row, per SQL semantics), rewriting only the zone-map-touched parts.
    */
  def deleteWhere(cond: Column): Long =
    rewriteWhere(cond)(df => df.filter(not(coalesce(cond, lit(false)))))

  /** Reclaim storage: delete data dirs and commit files unreachable from
    * the newest `retainLast` commits. Time travel to vacuumed versions
    * stops working (that is the trade — same contract as Delta's VACUUM).
    * Safe against races: only dirs whose embedded version number predates
    * the retained window AND that no retained commit references are
    * deleted, so an in-flight writer's uncommitted dir (which always
    * carries a version newer than the latest commit) is never touched.
    * Returns the names of the deleted data dirs.
    */
  def vacuum(retainLast: Int = 2): Seq[String] = {
    require(retainLast >= 1, "must retain at least the latest version")
    val vs = versions
    if (vs.isEmpty) return Seq.empty
    val retained = vs.takeRight(retainLast)
    val keep = retained.flatMap(stateAt).flatMap(_.parts.map(_.dir)).toSet
    val floor = retained.head
    val dirPat = """v_(\d{8})_.*""".r
    val victims = fs.listStatus(new Path(root)).filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case d @ dirPat(v) if v.toLong < floor && !keep(d) => d }
      .toSeq.sorted
    victims.foreach(d => fs.delete(new Path(root, d), true))
    vs.dropRight(retainLast).foreach { v =>
      fs.delete(new Path(commitsDir, f"$v%08d.json"), false)
    }
    victims
  }

  /** Time-based [[vacuum]] (Delta `VACUUM ... RETAIN n HOURS` parity):
    * every version committed within `maxAgeMs` of now is retained (plus,
    * always, the latest); everything older is reclaimed. Commit times
    * come from the commit files' filesystem timestamps — the same clock
    * [[history]] reports.
    */
  def vacuumOlderThan(maxAgeMs: Long): Seq[String] = {
    require(maxAgeMs >= 0, "maxAgeMs must be non-negative")
    val vs = versions
    if (vs.isEmpty) return Seq.empty
    val mtimes = fs.listStatus(commitsDir)
      .filter(_.getPath.getName.endsWith(".json"))
      .map(st => st.getPath.getName.stripSuffix(".json").toLong ->
        st.getModificationTime).toMap
    val cutoff = System.currentTimeMillis() - maxAgeMs
    // retain from the OLDEST fresh version onward: commit mtimes are
    // normally monotone with versions, but a restored/touched commit
    // file must never cause a fresh version to be deleted — so the
    // suffix starts at the first fresh one, conservatively keeping any
    // stale versions after it
    val firstFresh = vs.indexWhere(v =>
      mtimes.getOrElse(v, Long.MaxValue) >= cutoff)
    val retain = if (firstFresh < 0) 1 else vs.length - firstFresh
    vacuum(math.max(1, retain))
  }

  /** Snowflake CHANGES-clause parity (`SELECT * FROM t CHANGES(...) AT(...)`)
    * directly off the commit log — no side change-table needed: the exact
    * row-level delta between two committed versions, each row tagged with
    * `METADATA\$ACTION` = 'INSERT' | 'DELETE' (an update appears as
    * DELETE(old) + INSERT(new), the stream's non-append-only contract).
    *
    * Fast path: when every commit in (fromVersion, toVersion] only
    * APPENDED unpartitioned parts (no overwrite, no partition shadowing),
    * the delta IS the new part dirs — read directly, zero diff compute,
    * old data never scanned. General path (rewrites): exact multiset diff
    * via `exceptAll` both ways — one shuffle each side, unavoidable for
    * arbitrary rewrites.
    *
    * `fromVersion = 0` means "from the beginning" (everything is INSERT).
    * Both versions must still be in the retained commit log ([[vacuum]]).
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(0 <= fromVersion && fromVersion <= toVersion,
      s"need 0 <= fromVersion <= toVersion, got $fromVersion..$toVersion")
    val s2 = stateAt(toVersion).getOrElse(throw new IllegalArgumentException(
      s"no committed version $toVersion at $root"))
    val s1 = if (fromVersion == 0L) s2.copy(parts = Seq.empty)
      else stateAt(fromVersion).getOrElse(throw new IllegalArgumentException(
        s"no committed version $fromVersion at $root"))
    val ACTION = "METADATA$ACTION"
    val newParts = s2.parts.drop(s1.parts.length)
    val pureAppend = s2.parts.take(s1.parts.length) == s1.parts &&
      newParts.forall(_.vals.isEmpty)
    if (pureAppend) {
      if (newParts.isEmpty)
        readCommitted(s2).limit(0).withColumn(ACTION, lit("INSERT"))
      else
        parquetRead(s2, newParts.map(p => partPath(p.dir)))
          .withColumn(ACTION, lit("INSERT"))
    } else {
      // align the old snapshot to the NEW schema before diffing — an
      // ADD_COLUMNS commit inside the window otherwise makes exceptAll
      // throw on column-count mismatch. Old rows read NULL for columns
      // they predate, exactly as a post-evolution table read does.
      val d2 = readCommitted(s2)
      val d1raw = readCommitted(s1)
      val resolver = spark.sessionState.analyzer.resolver
      val d1 = d2.columns.foldLeft(d1raw) { (df, c) =>
        if (df.columns.exists(resolver(_, c))) df
        else df.withColumn(c,
          lit(null).cast(d2.schema(d2.schema.fieldIndex(c)).dataType))
      }.select(d2.columns.map(col).toSeq: _*)
      d2.exceptAll(d1).withColumn(ACTION, lit("INSERT"))
        .unionByName(d1.exceptAll(d2).withColumn(ACTION, lit("DELETE")))
    }
  }

  /** Zero-copy clone (Snowflake `CREATE TABLE ... CLONE` semantics): the
    * target's first commit references THIS table's current data dirs by
    * ABSOLUTE path — no data moves, O(1) metadata, snapshot-isolated from
    * the source's future commits. The clone then evolves independently:
    * its own commits land under its own root. Hazard (same contract as
    * Delta shallow clone): vacuuming the SOURCE can reclaim dirs the
    * clone still references — `clone.compact()` materializes independence.
    * The clone's own [[vacuum]] never touches source dirs (absolute refs
    * never match the local `v_########_*` victim pattern).
    */
  def cloneTo(targetRoot: String): VersionedTable = {
    val s = state.getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val tgt = new VersionedTable(spark, targetRoot)
    require(!tgt.exists, s"clone target $targetRoot already exists")
    val absParts = s.parts.map(p => tgt.Part(partPath(p.dir), p.vals, p.stats))
    tgt.writeCommit(1L,
      tgt.State(1L, s.partitionCol, absParts, s.offsets, s.schemaDdl))
    tgt
  }

  private sealed trait CommitMode
  private object Commit {
    case object Replace extends CommitMode
    case object Append extends CommitMode
    case class ReplacePartitions(col: String) extends CommitMode
    /** Same-contents rewrite (compaction): the new part REPLACES the whole
      * parts list — unlike ReplacePartitions, nothing stays referenced —
      * but keeps the partition-clustered dir layout when `col` is set and
      * the declared schema verbatim.
      */
    case class Rewrite(col: Option[String]) extends CommitMode
  }

  /** Reads apply the LATEST commit's schema to ALL parts (see
    * [[parquetRead]]), so an incremental commit that drops a column would
    * silently hide it in every older part, and one that changes a column's
    * type can make the vectorized reader throw on old files. Reject both at
    * commit time; ADDING a column is fine (parquet reads it as NULL from
    * parts that lack it).
    */
  private def requireCompatibleSchema(prev: State, df: DataFrame): Unit = {
    if (prev.parts.isEmpty) return
    val committed = prev.schemaDdl.map(StructType.fromDDL).getOrElse(return)
    val resolver = spark.sessionState.analyzer.resolver
    committed.foreach { old =>
      df.schema.find(f => resolver(f.name, old.name)) match {
        case None => throw new IllegalArgumentException(
          s"incremental commit to $root drops committed column ${old.name}; " +
            "latest-schema reads would silently hide it in older parts — " +
            "use overwrite() for a schema-breaking rewrite")
        // committed schemas round-trip through DDL text, which ERASES
        // nullability flags (fromDDL marks arrays/structs nullable), so a
        // strict != here spuriously rejects any append whose live plan
        // carries containsNull=false — compare ignoring nullability, the
        // granularity the storage layer actually persists
        case Some(f) if !org.apache.spark.sql.types.DataType
            .equalsIgnoreNullability(f.dataType, old.dataType) =>
          throw new IllegalArgumentException(
            s"incremental commit to $root changes ${old.name} from " +
              s"${old.dataType.simpleString} to ${f.dataType.simpleString}; " +
              "older parts would fail to read under the latest schema — " +
              "use overwrite() for a schema-breaking rewrite")
        case _ => ()
      }
    }
  }

  /** `guard` is evaluated against the SAME state snapshot this commit
    * claims its version from: a successful claim proves no other commit
    * interleaved after the snapshot, so a guard that passed is valid AT
    * the commit point (the compare-and-swap the exactly-once sink needs).
    * Returns -1 without writing anything when the guard rejects.
    */
  private def commit(df: DataFrame, mode: CommitMode,
                     newOffsets: Map[String, Long],
                     guard: Option[State] => Boolean = _ => true): Long = {
    newOffsets.keys.foreach(requireValidOffsetKey)
    val prev = state
    if (!guard(prev)) return -1L
    if (mode != Commit.Replace) prev.foreach(requireCompatibleSchema(_, df))
    val version = prev.map(_.version).getOrElse(0L) + 1
    // unique per attempt: a racing writer targeting the same version writes
    // elsewhere; only the commit-file claim decides the winner
    val partName = f"v_$version%08d_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val dataDir = s"$root/$partName"

    def writePartitioned(pcol: String): Option[Part] = {
      require(df.columns.contains(pcol), s"missing partition column $pcol")
      // cluster rows by partition value before the dynamic-partition
      // write: each value lands in one task → one file per partition
      // instead of (tasks × values) small files
      df.withColumn(PT, ptKey(col(pcol)))
        .repartition(col(PT))
        .write.partitionBy(PT).mode("overwrite").parquet(dataDir)
      // the values this part contains = the hive dirs it produced (an FS
      // listing, no extra Spark job). Stored RAW (hive-escaped) so read
      // can reconstruct the subdir paths verbatim.
      val vals = fs.listStatus(new Path(dataDir)).map(_.getPath.getName)
        .filter(_.startsWith(s"$PT="))
        .map(_.stripPrefix(s"$PT="))
        .toSeq.sorted
      if (vals.isEmpty) {
        // dynamic partitionBy of an EMPTY batch writes no data files at
        // all — referencing the dir would make every later read fail, so
        // commit version + offsets with the parts unchanged instead
        fs.delete(new Path(dataDir), true)
        None
      } else Some(Part(partName, vals, partStats(dataDir)))
    }

    val newPart = mode match {
      case Commit.ReplacePartitions(pcol) => writePartitioned(pcol)
      case Commit.Rewrite(Some(pcol)) => writePartitioned(pcol)
      case _ =>
        df.write.mode("overwrite").parquet(dataDir)
        Some(Part(partName, Seq.empty, partStats(dataDir)))
    }

    def stateFor(prev: Option[State], version: Long): State = {
      val parts = (mode, newPart) match {
        case (Commit.Replace | Commit.Rewrite(_), _) => newPart.toSeq
        case (_, p) => prev.map(_.parts).getOrElse(Seq.empty) ++ p.toSeq
      }
      val pcol = mode match {
        case Commit.ReplacePartitions(c) => Some(c)
        case Commit.Rewrite(c) => c.orElse(prev.flatMap(_.partitionCol))
        case _ => prev.flatMap(_.partitionCol)
      }
      val offs = prev.map(_.offsets).getOrElse(Map.empty) ++ newOffsets
      // Incremental commits must not let the incoming batch TIGHTEN the
      // declared schema: a literal INSERT arrives with NOT NULL columns, but
      // older parts (or a pre-ADD COLUMN part missing the column entirely)
      // still hold NULLs — so merge nullability with the committed schema
      // and force columns this batch introduced to nullable.
      val declared = (mode, prev.flatMap(_.schemaDdl).map(StructType.fromDDL)) match {
        // compaction re-lands the table's own rows: keep the declared schema
        // verbatim (the relaxed-nullable read schema must not erode it)
        case (Commit.Rewrite(_), Some(committed)) => committed
        case (m, Some(committed)) if m != Commit.Replace =>
          val resolver = spark.sessionState.analyzer.resolver
          StructType(
            committed.map { p =>
              val incoming = df.schema.find(f => resolver(f.name, p.name))
              p.copy(nullable = p.nullable || incoming.forall(_.nullable))
            } ++
            df.schema
              .filterNot(f => committed.exists(p => resolver(p.name, f.name)))
              .map(_.copy(nullable = true)))
        case _ => df.schema
      }
      State(version, pcol, parts, offs, Some(declared.toDDL))
    }

    // The claim races against concurrent writers, and the window is wide:
    // the version was chosen BEFORE the data write, so under contention the
    // first claim is routinely stale. A lost claim does NOT invalidate the
    // data dir (parts are referenced by name; the version prefix is
    // cosmetic), so retry ONLY the claim — re-read state, re-check the
    // guard and schema against the winner, recompute the commit record,
    // claim the next version. Append/Replace/ReplacePartitions semantics
    // are state-independent, so this is sound; a Rewrite (compaction)
    // derives its rows FROM a specific state and must surface the race for
    // the caller to re-run whole.
    val claimRetriable = mode match {
      case Commit.Rewrite(_) => false
      case _ => true
    }
    var curPrev = prev
    var curVersion = version
    var attempts = 0
    while (true) {
      try {
        writeCommit(curVersion, stateFor(curPrev, curVersion))
        return curVersion
      } catch {
        case e: java.io.IOException =>
          attempts += 1
          if (!claimRetriable || attempts > 20) {
            // give up: remove our orphan dir, surface the race
            fs.delete(new Path(dataDir), true)
            throw new java.util.ConcurrentModificationException(
              s"commit claim for version $curVersion of $root failed", e)
          }
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(1L, 15L))
          try {
            curPrev = state
            if (!guard(curPrev)) { // e.g. a replayed batch landed meanwhile
              fs.delete(new Path(dataDir), true)
              return -1L
            }
            if (mode != Commit.Replace)
              curPrev.foreach(requireCompatibleSchema(_, df))
          } catch {
            case re: Throwable if !re.isInstanceOf[java.util.ConcurrentModificationException] =>
              fs.delete(new Path(dataDir), true) // never leak the orphan dir
              throw re
          }
          curVersion = curPrev.map(_.version).getOrElse(0L) + 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def hiveUnescape(s: String): String = {
    // partitionBy hive-escapes special chars as %XX in directory names
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(s.charAt(i)); i += 1 }
    }
    sb.toString
  }

  private def writeCommit(version: Long, s: State): Unit = {
    fs.mkdirs(commitsDir)
    val path = new Path(commitsDir, f"$version%08d.json")
    // Two-phase claim: the record is fully written to a hidden temp name
    // (no .json suffix — every lister filters on that), then RENAMED to
    // the version file. Rename-no-overwrite is the atomic claim on HDFS,
    // and — unlike create-then-write — it also makes the commit CONTENT
    // atomic to readers: a concurrent `state` can never observe a
    // half-written record (torn reads were real under the claim-retry
    // race). Stores whose rename isn't conditional fall back to the
    // exists-check; in-process writers additionally serialize on a
    // per-root lock, which covers the local filesystem's window.
    val tmp = new Path(commitsDir, f".tmp_$version%08d_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8))
    VersionedTable.claimLock(root).synchronized {
      if (fs.exists(path))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"version $version of $root already committed")
      val out = fs.create(tmp, false)
      try out.write(renderState(s).getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, path)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"claim rename to $path lost")
      }
    }
  }

  private def readString(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  // Tiny hand-rolled JSON for the fixed-shape state record (no extra deps).
  private def renderState(s: State): String = {
    def q(x: String) = "\"" + x + "\""
    val parts = s.parts.map { p =>
      val st =
        if (p.stats.isEmpty) ""
        else p.stats.toSeq.sortBy(_._1).map { case (n, (mn, mx)) =>
          s"${q(n)}:[${q(mn)},${q(mx)}]"
        }.mkString(""","stats":{""", ",", "}")
      s"""{"dir":${q(p.dir)},"vals":${p.vals.map(q).mkString("[", ",", "]")}$st}"""
    }.mkString("[", ",", "]")
    val offs = s.offsets.toSeq.sortBy(_._1)
      .map { case (k, v) => q(k) + ":" + v }.mkString("{", ",", "}")
    val pc = s.partitionCol.map(c => s""""partcol":${q(c)},""").getOrElse("")
    val sc = s.schemaDdl.map { d =>
      s""","schema":${q(d.replace("\\", "\\\\").replace("\"", "\\\""))}"""
    }.getOrElse("")
    s"""{"version":${s.version},$pc"parts":$parts,"offsets":$offs$sc}"""
  }

  private def parseState(json: String): State = {
    val version = """"version":(\d+)""".r.findFirstMatchIn(json).get.group(1).toLong
    val pcol = """"partcol":"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))
    val partsBlob = """"parts":\[(.*)\],"offsets"""".r
      .findFirstMatchIn(json).get.group(1)
    val parts =
      if (partsBlob.trim.isEmpty) Seq.empty
      else if (!partsBlob.contains("{")) // legacy round-1 plain-string form
        partsBlob.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
          .filter(_.nonEmpty).toSeq.map(Part(_, Seq.empty))
      else
        """\{"dir":"([^"]+)","vals":\[([^\]]*)\](?:,"stats":\{([^}]*)\})?\}""".r
          .findAllMatchIn(partsBlob)
          .map { m =>
            // hive-escaping guarantees no raw quotes inside vals, so quoted
            // tokens are unambiguous (commas inside values are fine)
            val vals = """"([^"]*)"""".r.findAllMatchIn(m.group(2))
              .map(_.group(1)).toSeq
            val stats = Option(m.group(3)).map { blob =>
              // stat values are percent-encoded: quote/backslash-free
              """"([^"]*)":\["([^"]*)","([^"]*)"\]""".r.findAllMatchIn(blob)
                .map(sm => sm.group(1) -> (sm.group(2), sm.group(3))).toMap
            }.getOrElse(Map.empty[String, (String, String)])
            Part(m.group(1), vals, stats)
          }.toSeq
    // keys may themselves contain ':' (e.g. "stream:q1") — match the
    // quoted key and numeric value structurally, never split on ':'
    val offsets = """"([^"]*)":(-?\d+)""".r
      .findAllMatchIn(
        """"offsets":\{([^}]*)\}""".r.findFirstMatchIn(json).get.group(1))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    val schemaDdl = """"schema":"((?:[^"\\]|\\.)*)"""".r.findFirstMatchIn(json)
      .map(_.group(1).replace("\\\"", "\"").replace("\\\\", "\\"))
    State(version, pcol, parts, offsets, schemaDdl)
  }
}

object VersionedTable {
  /** One [[VersionedTable.history]] entry. `committedAtMs` is the commit
    * file's creation instant (epoch millis).
    */
  case class CommitInfo(version: Long, committedAtMs: Long, operation: String,
                        nParts: Int, offsets: Map[String, Long])

  private val claimLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[storage] def claimLock(root: String): Object =
    claimLocks.computeIfAbsent(root, _ => new Object)

  /** One part-dir listing cache client per session. Every
    * `FileStatusCache.getOrCreate` call opens a fresh namespace, so a
    * client made per read never hits; this one is shared by every read in
    * the session and bounded by Spark's
    * `spark.sql.hive.filesourcePartitionFileCacheSize` LRU.
    */
  private val listingCaches =
    new java.util.WeakHashMap[SparkSession, FileStatusCache]()
  private def listings(spark: SparkSession): FileStatusCache =
    listingCaches.synchronized {
      listingCaches.computeIfAbsent(spark, s => FileStatusCache.getOrCreate(s))
    }

  /** `collectStats = false` skips the per-commit zone-map footer harvest
    * — the right call for small, commit-heavy layer tables (a table that
    * fits in a few scan tasks has nothing to skip; the harvest is pure
    * overhead on its commit path). Absent stats only ever mean "never
    * skip", so the flag is always safe.
    */
  /** `bloomCols` opts the table's WRITES into per-part bloom sidecars for
    * those columns (integral/string only) — equality/IN pruning where
    * zone maps can't skip. Reads honor existing sidecars regardless.
    */
  def apply(spark: SparkSession, root: String,
            collectStats: Boolean = true,
            bloomCols: Seq[String] = Nil): VersionedTable =
    new VersionedTable(spark, root, collectStats, bloomCols)
}
