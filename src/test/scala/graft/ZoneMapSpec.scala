package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.storage.VersionedTable

/** Zone-map data skipping: commit-time footer stats, part pruning on
  * readWhere, exactness vs the unpruned filter, conservative fallbacks.
  */
class ZoneMapSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("zonemap").toString

  private def threeRangeParts(root: String): VersionedTable = {
    val t = VersionedTable(spark, root)
    // three appends with disjoint id ranges and disjoint date-ish strings
    t.append(Seq((1L, "a_2023", 10.0), (99L, "b_2023", 11.5))
      .toDF("id", "tag", "x"))
    t.append(Seq((100L, "c_2024", -3.0), (199L, "d_2024", 7.25))
      .toDF("id", "tag", "x"))
    t.append(Seq((200L, "e_2025", 0.5), (299L, "f_2025", 2.5))
      .toDF("id", "tag", "x"))
    t
  }

  test("commit harvests footer stats; readWhere prunes to the matching parts") {
    val t = threeRangeParts(tmp())
    val s = t.state.get
    assert(s.parts.size == 3)
    assert(s.parts.forall(_.stats.contains("id")), s.parts.map(_.stats))
    // long range predicate: only the middle part can match
    val (kept, total) = t.pruneStats(col("id") >= 100L && col("id") < 200L)
    assert(total == 3 && kept == 1, s"kept $kept of $total")
    val rows = t.readWhere(col("id") >= 100L && col("id") < 200L)
      .collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(100L, 199L))
    // the pruned read really opened fewer files
    val prunedFiles = t.readWhere(col("id") >= 100L && col("id") < 200L).inputFiles.length
    val allFiles = t.read.inputFiles.length
    assert(prunedFiles < allFiles, s"$prunedFiles vs $allFiles")
  }

  test("change-feed pending reads open only the unconsumed parts") {
    val feed = graft.changefeed.ChangeFeed(spark, "zm_stream", tmp() + "/log")
    (1 to 3).foreach(i => feed.publish(Seq((i, s"v$i")).toDF("k", "v")))
    val last = feed.log.state.get.parts.last.dir
    for (pending <- Seq(feed.pending(2L), feed.pendingAppendOnly(2L))) {
      val files = pending.inputFiles
      assert(files.nonEmpty && files.forall(_.contains(s"/$last/")), files.toSeq)
      assert(pending.select("k").as[Int].collect().toSeq == Seq(3))
    }
  }

  test("string zone maps prune bytewise; doubles prune; equality and IN work") {
    val t = threeRangeParts(tmp())
    assert(t.pruneStats(col("tag") === "c_2024")._1 == 1)
    assert(t.pruneStats(col("tag") > "e")._1 == 1)
    assert(t.pruneStats(col("x") < -1.0)._1 == 1) // only part 2 has negatives
    assert(t.pruneStats(col("id").isin(5L, 250L))._1 == 2)
    // results still exact
    assert(t.readWhere(col("tag") > "e").collect().map(_.getString(1)).sorted
      .toSeq == Seq("e_2025", "f_2025"))
  }

  test("conservative: ORs and non-literal conjuncts never prune") {
    val t = threeRangeParts(tmp())
    // OR is not a top-level conjunct set -> no pruning, full correctness
    assert(t.pruneStats(col("id") < 50L || col("id") > 250L)._1 == 3)
    assert(t.readWhere(col("id") < 50L || col("id") > 250L).count() == 2)
    // column-vs-column conjunct is not extractable; it must not block the
    // prunable half
    assert(t.pruneStats(col("id") > 250L && col("x") < col("id"))._1 == 1)
    assert(t.readWhere(col("id") > 250L && col("x") < col("id"))
      .collect().map(_.getLong(0)).toSeq == Seq(299L))
  }

  test("readWhere equals read.filter on every predicate shape") {
    val t = threeRangeParts(tmp())
    val preds = Seq(
      col("id") <= 99L, col("id") === 150L, lit(150L) > col("id"),
      col("x") >= 2.5, col("tag") <= "c", col("id").isin(99L, 100L))
    preds.foreach { p =>
      val a = t.readWhere(p).collect().map(_.toString).sorted.toSeq
      val b = t.read.filter(p).collect().map(_.toString).sorted.toSeq
      assert(a == b, s"mismatch for $p")
    }
    // all parts pruned -> empty result with the right schema
    val none = t.readWhere(col("id") > 1000L)
    assert(none.count() == 0 && none.columns.toSeq == Seq("id", "tag", "x"))
  }

  test("partitioned tables: zone maps compose with partition shadowing") {
    val root = tmp()
    val t = VersionedTable(spark, root)
    t.overwritePartitions(Seq((2023, 1L, "x"), (2024, 100L, "y"))
      .toDF("year", "id", "v"), "year")
    t.overwritePartitions(Seq((2024, 200L, "z")).toDF("year", "id", "v"), "year")
    // id=100 lives only in the SHADOWED half of part 1 -> zero rows, and
    // the shadowing must survive pruning of the later part
    assert(t.readWhere(col("id") === 100L).count() == 0)
    assert(t.readWhere(col("id") === 200L).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq == Seq((2024, 200L)))
    assert(t.readWhere(col("id") === 1L).collect()
      .map(_.getLong(1)).toSeq == Seq(1L))
  }

  test("date and timestamp predicates prune via physical L-domain") {
    val root = tmp()
    val t = VersionedTable(spark, root)
    t.append(Seq(("1995-01-01", 1), ("1995-06-30", 2)).toDF("d", "n")
      .select(col("d").cast("date").as("d"), col("n")))
    t.append(Seq(("2001-01-01", 3), ("2001-06-30", 4)).toDF("d", "n")
      .select(col("d").cast("date").as("d"), col("n")))
    val cut = java.sql.Date.valueOf("2000-01-01")
    assert(t.pruneStats(col("d") > lit(cut))._1 == 1)
    assert(t.readWhere(col("d") > lit(cut)).collect().map(_.getInt(1)).sorted
      .toSeq == Seq(3, 4))
  }

  test("timestamp columns prune (session writes INT64 micros, not INT96)") {
    val t = VersionedTable(spark, tmp())
    t.append(Seq(("2024-01-01 00:00:00", 1), ("2024-01-31 23:59:59", 2))
      .toDF("ts", "n").select(col("ts").cast("timestamp").as("ts"), col("n")))
    t.append(Seq(("2024-06-01 00:00:00", 3), ("2024-06-30 23:59:59", 4))
      .toDF("ts", "n").select(col("ts").cast("timestamp").as("ts"), col("n")))
    assert(t.state.get.parts.forall(_.stats.contains("ts")),
      s"timestamp stats missing: ${t.state.get.parts.map(_.stats)} — " +
        "is spark.sql.parquet.outputTimestampType still INT96?")
    val cut = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    assert(t.pruneStats(col("ts") > lit(cut))._1 == 1)
    assert(t.readWhere(col("ts") > lit(cut)).collect().map(_.getInt(1)).sorted
      .toSeq == Seq(3, 4))
  }

  test("stat values with JSON structural bytes survive the commit-log regexes") {
    val t = VersionedTable(spark, tmp())
    // '}' lands in the string max; unescaped it would truncate the stats
    // blob and silently DROP the whole part at parse time
    t.append(Seq((1L, """{"json": true}"""), (2L, "plain")).toDF("id", "s"))
    t.append(Seq((3L, "x],\"y\":{z"), (4L, "w")).toDF("id", "s"))
    val reread = VersionedTable(spark, t.root).state.get
    assert(reread.parts.size == 2, s"part dropped: ${reread.parts}")
    assert(t.read.count() == 4)
    assert(t.readWhere(col("id") >= 3L).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(3L, 4L))
    // string pruning still works through the encoding
    assert(t.pruneStats(col("s") === "plain")._1 >= 1)
  }

  test("stats survive the commit-log JSON round trip and clone") {
    val root = tmp()
    val t = threeRangeParts(root)
    val reread = VersionedTable(spark, root).state.get
    assert(reread.parts.forall(p => p.stats.contains("id") &&
      p.stats.contains("tag") && p.stats.contains("x")))
    val cloneRoot = tmp()
    t.cloneTo(cloneRoot)
    val cloned = VersionedTable(spark, cloneRoot)
    assert(cloned.pruneStats(col("id") >= 200L)._1 == 1)
  }

  test("SQL catalog WHERE prunes via zone maps: a skipped part is NEVER opened") {
    val wh = tmp()
    val tableRoot = s"$wh/ns/t"
    val t = threeRangeParts(tableRoot)
    graft.sql.GraftCatalog.register(spark, "gzm", wh)
    // destroy the first part's data dir: any attempt to open it now fails,
    // so a successful range query PROVES the part was zone-map-skipped
    val victim = t.state.get.parts.head.dir
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$tableRoot/$victim"), true))
    val rows = spark.sql(
      "SELECT id, tag FROM gzm.ns.t WHERE id >= 200").collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(200L, 299L))
    intercept[Exception] {
      spark.sql("SELECT count(*) FROM gzm.ns.t").collect()
    }
  }

  test("clustered compaction makes zone maps tight: range reads open ~1 part") {
    val root = tmp()
    val t = VersionedTable(spark, root)
    // arrival order is id-interleaved: every append spans the full id
    // range, so BEFORE clustering a range predicate can prune nothing
    val rnd = new scala.util.Random(11)
    (0 until 3).foreach { _ =>
      val rows = Seq.fill(200)((rnd.nextInt(10000).toLong, rnd.nextDouble()))
      t.append(rows.toDF("id", "x"))
    }
    val cond = col("id") >= 4000L && col("id") < 5000L
    val before = t.pruneStats(cond)
    assert(before == ((3, 3)), s"interleaved appends should not prune: $before")
    val expected = t.read.filter(cond).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq

    t.compactClustered(Seq("id"), nParts = 8)
    val (kept, total) = t.pruneStats(cond)
    assert(total >= 6 && kept <= 2, s"clustering should prune: kept $kept of $total")
    val after = t.readWhere(cond).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(after == expected)
    // count preserved; time travel to the pre-compaction version intact
    assert(t.read.count() == 600)
    assert(t.readVersion(3).count() == 600)
  }

  test("CALL system.cluster rewrites into range parts through SQL") {
    val wh = tmp()
    val tableRoot = s"$wh/ns/c"
    val t = VersionedTable(spark, tableRoot)
    val rnd = new scala.util.Random(5)
    (0 until 2).foreach { _ =>
      t.append(Seq.fill(300)((rnd.nextInt(1000).toLong, "v")).toDF("id", "v"))
    }
    graft.sql.GraftCatalog.register(spark, "gcl", wh)
    val v = spark.sql(
      "CALL gcl.system.cluster(table => 'ns.c', cluster_by => 'id', n_parts => 4)")
      .head.getLong(0)
    assert(v == 3L)
    assert(t.state.get.parts.size >= 3)
    assert(t.pruneStats(col("id") < 100L)._1 <= 2)
    assert(spark.sql("SELECT count(*) FROM gcl.ns.c WHERE id < 100").head.getLong(0)
      == t.read.filter(col("id") < 100L).count())
  }

  test("CALL system.zorder rewrites along the Morton curve through SQL") {
    val wh = tmp()
    val t = VersionedTable(spark, s"$wh/ns/z")
    val rnd = new scala.util.Random(11)
    (0 until 2).foreach { _ =>
      t.append(Seq.fill(5000)((rnd.nextInt(1000).toLong,
        rnd.nextInt(1000).toLong)).toDF("x", "y"))
    }
    graft.sql.GraftCatalog.register(spark, "gzo", wh)
    val v = spark.sql(
      "CALL gzo.system.zorder(table => 'ns.z', zorder_by => 'x, y', n_parts => 16)")
      .head.getLong(0)
    assert(v == 3L)
    assert(t.state.get.parts.size == 16)
    val box = col("x").between(100, 220) && col("y").between(600, 720)
    assert(t.pruneStats(box)._1 * 2 <= 16)
    assert(spark.sql(
      "SELECT count(*) FROM gzo.ns.z WHERE x BETWEEN 100 AND 220 AND y BETWEEN 600 AND 720")
      .head.getLong(0) == t.read.filter(box).count())
  }

  test("deleteWhere rewrites only touched parts; others carry over by reference") {
    val t = threeRangeParts(tmp())
    val dirsBefore = t.state.get.parts.map(_.dir)
    val v = t.deleteWhere(col("id") === 100L)
    assert(v == 4L)
    val partsAfter = t.state.get.parts.map(_.dir)
    // parts 1 and 3 are carried over VERBATIM (same dirs); part 2 was
    // rewritten into a new dir
    assert(partsAfter.contains(dirsBefore(0)) && partsAfter.contains(dirsBefore(2)))
    assert(!partsAfter.contains(dirsBefore(1)))
    assert(t.read.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(1L, 99L, 199L, 200L, 299L))
    // no-op delete: zone maps prove nothing matches -> same version back
    assert(t.deleteWhere(col("id") === 5000L) == 4L)
    assert(t.state.get.version == 4L)
    // deleting every row of a touched part drops it without an empty part
    val v2 = t.deleteWhere(col("id") >= 200L)
    assert(v2 == 5L && t.read.count() == 3)
    assert(t.state.get.parts.size == 2)
  }

  test("SQL DELETE and UPDATE prune via zone maps through the catalog") {
    val wh = tmp()
    val t = threeRangeParts(s"$wh/ns/d")
    graft.sql.GraftCatalog.register(spark, "gdl", wh)
    val dirsBefore = t.state.get.parts.map(_.dir)
    spark.sql("DELETE FROM gdl.ns.d WHERE id >= 200")
    val partsAfter = t.state.get.parts.map(_.dir)
    assert(partsAfter.toSet == dirsBefore.take(2).toSet) // third part dropped, others by reference
    assert(spark.sql("SELECT count(*) FROM gdl.ns.d").head.getLong(0) == 4)
    val updated = spark.sql("UPDATE gdl.ns.d SET x = 0.0 WHERE id < 100")
      .head.getLong(0)
    assert(updated == 2)
    // part 2 (ids 100..199) was untouched by the UPDATE rewrite
    assert(t.state.get.parts.map(_.dir).contains(dirsBefore(1)))
    assert(spark.sql("SELECT sum(x) FROM gdl.ns.d WHERE id < 100").head.getDouble(0) == 0.0)
  }

  test("CALL system.zonemaps exposes the skipping metadata") {
    val wh = tmp()
    threeRangeParts(s"$wh/ns/z")
    graft.sql.GraftCatalog.register(spark, "gzp", wh)
    val rows = spark.sql("CALL gzp.system.zonemaps(table => 'ns.z')").collect()
    assert(rows.length == 9) // 3 parts x 3 stat columns
    val idRows = rows.filter(_.getString(1) == "id")
      .map(r => (r.getString(2).toLong, r.getString(3).toLong)).sorted
    assert(idRows.toSeq == Seq((1L, 99L), (100L, 199L), (200L, 299L)))
    val tagMax = rows.filter(_.getString(1) == "tag").map(_.getString(3)).sorted
    assert(tagMax.toSeq == Seq("b_2023", "d_2024", "f_2025"))
  }

  test("signed zero and NaN bounds never prune a matching part") {
    import graft.storage.ZoneMaps
    import graft.storage.ZoneMaps.Cmp
    val eq = (a: String, b: String) => a == b
    // a writer without the parquet ±0.0 widening can commit min=max=-0.0;
    // Spark's row filter says -0.0 = 0.0 is TRUE, so pruning must keep it
    val negZero = Map("x" -> ("D:-0.0", "D:-0.0"))
    assert(ZoneMaps.mayMatch(negZero, Seq(Cmp("x", "=", 0.0)), eq))
    assert(ZoneMaps.mayMatch(negZero, Seq(Cmp("x", "<=", 0.0)), eq))
    assert(ZoneMaps.mayMatch(negZero, Seq(Cmp("x", ">=", 0.0)), eq))
    // and the mirror: +0.0 bounds vs a -0.0 predicate value
    val posZero = Map("x" -> ("D:0.0", "D:0.0"))
    assert(ZoneMaps.mayMatch(posZero, Seq(Cmp("x", "=", -0.0)), eq))
    // NaN-polluted bounds (older files): always conservative, never prune
    val nan = Map("x" -> ("D:NaN", "D:NaN"))
    for (op <- Seq("=", "<", "<=", ">", ">="))
      assert(ZoneMaps.mayMatch(nan, Seq(Cmp("x", op, 1.0)), eq), op)
    // NaN predicate value: keep too
    assert(ZoneMaps.mayMatch(posZero, Seq(Cmp("x", "=", Double.NaN)), eq))
    // sanity: real pruning still fires in the double domain
    assert(!ZoneMaps.mayMatch(Map("x" -> ("D:1.0", "D:2.0")),
      Seq(Cmp("x", ">", 5.0)), eq))
  }

  test("columns whose NAMES carry JSON structural bytes are skipped, not corrupted") {
    val root = tmp()
    val t = VersionedTable(spark, root)
    // '}' in a name would truncate the regex-parsed stats blob and silently
    // drop the part from every read; the harvest must skip such columns
    t.append(Seq((1L, 10.0), (2L, 20.0)).toDF("id", "x}y"))
    t.append(Seq((3L, 30.0)).toDF("id", "x}y"))
    val s = t.state.get
    assert(s.parts.size == 2) // no part vanished from the parsed state
    assert(s.parts.forall(_.stats.contains("id"))) // safe names keep stats
    assert(s.parts.forall(p => !p.stats.keys.exists(_.contains("}"))))
    assert(t.read.count() == 3)
    // predicates on the skipped column stay correct (no stats = no pruning)
    assert(t.readWhere(col("`x}y`") > 15.0).count() == 2)
  }

  test("bloom sidecars prune equality probes zone maps can't") {
    val root = tmp()
    // high-cardinality pseudo-hash keys: every part's (min,max) spans the
    // whole hex domain, so zone maps keep everything — blooms must do the
    // skipping for = / IN probes
    def hashes(seed: Int) = (0 until 200).map { i =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$seed-$i".getBytes("UTF-8"))
      (h.map("%02x".format(_)).mkString, seed.toLong * 1000 + i)
    }
    val t = VersionedTable(spark, root, bloomCols = Seq("h", "k"))
    (1 to 3).foreach(s => t.append(hashes(s).toDF("h", "k")))
    assert(t.state.get.parts.size == 3)
    // zone maps alone keep all 3 parts for a hash-equality probe
    val probe = hashes(2)(57)._1
    // bloom says: only part 2 can hold it
    val (kept, total) = t.pruneStats(col("h") === probe)
    assert(total == 3 && kept <= 2 && kept >= 1, s"kept $kept of $total")
    assert(t.readWhere(col("h") === probe).count() == 1)
    assert(t.readWhere(col("h") === probe).inputFiles.length <
      t.read.inputFiles.length)
    // long-key equality prunes too, and result equals the plain filter
    val (k2, _) = t.pruneStats(col("k") === 2057L)
    assert(k2 <= 2, s"kept $k2")
    assert(t.readWhere(col("k") === 2057L).collect().map(_.getString(0)).toSeq ==
      t.read.filter(col("k") === 2057L).collect().map(_.getString(0)).toSeq)
    // absent value: every part provably clean → zero parts read, no rows
    val (k3, _) = t.pruneStats(col("h") === "not-a-hash")
    assert(k3 == 0)
    assert(t.readWhere(col("h") === "not-a-hash").count() == 0)
    // IN over values from two parts keeps at least those two
    val probes = Seq(hashes(1)(0)._1, hashes(3)(199)._1)
    val (k4, _) = t.pruneStats(col("h").isin(probes: _*))
    assert(k4 >= 2)
    assert(t.readWhere(col("h").isin(probes: _*)).count() == 2)
    // a reader that never opted in still benefits (sidecars drive it)
    val reader = VersionedTable(spark, root)
    assert(reader.pruneStats(col("h") === probe)._1 <= 2)
    // range predicates ignore blooms (zone maps keep all — full domain)
    assert(t.readWhere(col("h") >= "0").count() == 600)
    // deleteWhere leaves provably-clean parts untouched by reference
    val before = t.state.get.parts.map(_.dir)
    t.deleteWhere(col("h") === probe)
    val after = t.state.get.parts.map(_.dir)
    assert(after.count(before.contains) >= 2,
      s"bloom-clean parts must carry over: $before -> $after")
    assert(t.read.count() == 599)
  }

  test("bloom sidecars: unsupported column types are skipped, not errors") {
    val root = tmp()
    val t = VersionedTable(spark, root, bloomCols = Seq("x", "s"))
    t.append(Seq((1.5, "a"), (2.5, "b")).toDF("x", "s"))
    // no bloom for the double column; string bloom present and pruning
    assert(t.pruneStats(col("s") === "zzz")._1 == 0)
    assert(t.pruneStats(col("x") === 1.5)._1 == 1) // zone maps only
    assert(t.readWhere(col("x") === 1.5).count() == 1)
  }

  test("compacted table re-harvests stats for the rewritten part") {
    val root = tmp()
    val t = threeRangeParts(root)
    t.compact()
    val s = t.state.get
    assert(s.parts.size == 1 && s.parts.head.stats.contains("id"))
    // one part now: range predicates keep it (and results stay right)
    assert(t.readWhere(col("id") >= 100L && col("id") < 200L)
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(100L, 199L))
  }
}
