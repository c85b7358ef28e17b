package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HITS hubs & authorities (public algorithm, Kleinberg 1999, JACM 46(5))
  * in SCALED INTEGER arithmetic — bipartite endorsement scoring for
  * corpus curation: which containers (orders, hosts, playlists) are good
  * *hubs* and which members (parts, documents, tracks) are good
  * *authorities*, each side defined by the other.
  *
  * Same bit-reproducibility argument as [[PageRank.scaledRanks]]: the
  * canonical formulation L2-normalizes floating-point score vectors each
  * round, which is neither order-independent under distributed summation
  * nor SQL-provable. Here scores are longs and each half-round is
  *
  *   auth_raw(v) = Σ_{(u,v)∈E} hub(u)
  *   auth(v)     = (auth_raw(v) * scale) div max_v auth_raw(v)
  *
  * (then symmetrically for hubs) — integer sums and floor division only,
  * so every score is EXACT and reproducible in any engine with 64-bit
  * integers. The max-rescale replaces norm division: scores stay in
  * [0, scale], rank order within a side is preserved (positive integer
  * rescale by a common divisor is monotone), and the product
  * `raw * scale` is overflow-guarded per round.
  *
  * Scale shape: each half-round is one score⋈edge join (shuffle keyed on
  * the node id) + one grouped sum — the PageRank round shape — plus a
  * single 1-row max (the §2.4 A1 minmax-literal pattern). Intermediates
  * are truncated with an eager localCheckpoint so the per-round driver
  * action never recomputes the chain.
  */
object Hits {

  /** Bipartite HITS over `edges(src, dst)`. Returns one row per node per
    * side: (id, kind ∈ {hub, auth}, score). `iters` full (auth, hub)
    * rounds; hubs initialize to `scale`.
    *
    * Graphs under `driverEdgeLimit` edges run the loop on the DRIVER
    * (the [[PageRank]] / [[Dedup.connectedComponents]] precedent): every
    * half-round is a synchronous barrier — join+agg+max-rescale — that
    * costs a full job-scheduling round trip at any size, and the integer
    * arithmetic is order-independent, so both paths are bit-identical
    * (spec-pinned). Capped at 10M edges like every driver fast path.
    */
  def scaledHits(edges: DataFrame, iters: Int,
                 scale: Long = 1000000L,
                 driverEdgeLimit: Long = 1000000L): DataFrame = {
    require(iters >= 1 && iters <= 20, s"iters=$iters out of [1,20]")
    require(scale >= 1000L && scale <= 1000000000L,
      s"scale=$scale out of [1e3,1e9]")
    require(driverEdgeLimit <= PageRank.driverEdgeCeiling,
      s"driverEdgeLimit=$driverEdgeLimit exceeds the 10M driver HITS " +
        "ceiling; larger graphs take the distributed path (lower " +
        "driverEdgeLimit instead of raising it)")
    // one eager materialization feeds the size gate, the driver collect
    // and every distributed half-round (the [[PageRank]] contract: an
    // un-checkpointed gate would recompute an expensive upstream per
    // action)
    val e = edges.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct().localCheckpoint(true)

    if (e.count() <= DriverPath.effective(driverEdgeLimit)) {
      val spark = e.sparkSession
      import spark.implicits._
      val es = e.collect().map(r => (r.getLong(0), r.getLong(1)))
      // dense-int remap + primitive-array half-rounds: the boxed
      // HashMap.merge per edge per half-round dominated the driver path
      // (§1.2 step 2). A score of -1 marks "not reached on this side" —
      // raw scores are otherwise non-negative by construction — so the
      // inner-join contribution semantics and the per-side output node
      // sets are EXACTLY the previous HashMap's. Output order: the
      // previous HashMap iteration order was unspecified (the consumer
      // sorts); here it is deterministic first-seen order.
      val m = es.length
      val idx = new java.util.HashMap[Long, Integer]()
      val ids = new scala.collection.mutable.ArrayBuffer[Long]()
      def code(v: Long): Int = {
        val c = idx.get(v)
        if (c != null) c.intValue
        else { val n = ids.length; idx.put(v, n); ids += v; n }
      }
      val srcI = new Array[Int](m)
      val dstI = new Array[Int](m)
      var k = 0
      while (k < m) {
        srcI(k) = code(es(k)._1); dstI(k) = code(es(k)._2); k += 1
      }
      val n = ids.length
      def rescaledM(raw: Array[Long]): Array[Long] = {
        var mx = 0L
        var v = 0
        while (v < n) { if (raw(v) > mx) mx = raw(v); v += 1 }
        require(mx > 0, "HITS on an empty edge set")
        require(mx <= Long.MaxValue / scale,
          s"raw score $mx would overflow at scale=$scale; lower the scale")
        val out = new Array[Long](n)
        v = 0
        while (v < n) {
          out(v) = if (raw(v) < 0) -1L else raw(v) * scale / mx; v += 1
        }
        out
      }
      def halfRound(from: Array[Long], bySrc: Boolean): Array[Long] = {
        val raw = Array.fill(n)(-1L)
        var k2 = 0
        while (k2 < m) {
          val key = if (bySrc) srcI(k2) else dstI(k2)
          val grp = if (bySrc) dstI(k2) else srcI(k2)
          // inner join: `from` covers all keyed endpoints by construction
          val sc = from(key)
          require(sc >= 0, s"HITS: endpoint $key has no score (coverage invariant broken)")
          raw(grp) = (if (raw(grp) < 0) 0L else raw(grp)) + sc
          k2 += 1
        }
        rescaledM(raw)
      }
      val raw0 = Array.fill(n)(-1L)
      k = 0
      while (k < m) {
        val d = dstI(k)
        raw0(d) = (if (raw0(d) < 0) 0L else raw0(d)) + scale
        k += 1
      }
      var auth = rescaledM(raw0)
      var hub = halfRound(auth, bySrc = false)
      var i = 1
      while (i < iters) {
        auth = halfRound(hub, bySrc = true)
        hub = halfRound(auth, bySrc = false)
        i += 1
      }
      val out = Seq.newBuilder[(Long, String, Long)]
      var v = 0
      while (v < n) {
        if (hub(v) >= 0) out += ((ids(v), "hub", hub(v))); v += 1
      }
      v = 0
      while (v < n) {
        if (auth(v) >= 0) out += ((ids(v), "auth", auth(v))); v += 1
      }
      return out.result().toDF("id", "kind", "score")
    }

    def rescaled(raw0: DataFrame): DataFrame = {
      // materialize the join+agg ONCE: the next half-round's join rereads
      // the checkpointed raw scores instead of re-running the shuffle
      // chain, and the 1-row max RIDES that checkpoint action as an
      // Observation (the KCore r12 pattern) — one job per half-round
      // instead of two
      val obs = new org.apache.spark.sql.Observation()
      val raw = raw0.observe(obs, max(col("s")).as("m"))
        .localCheckpoint(true)
      // loud overflow gate: raw * scale must fit a long for every row,
      // and raw is maximal here
      val mOpt = Option(obs.get("m")).collect { case l: Long => l }
      require(mOpt.exists(_ > 0), "HITS on an empty edge set")
      val m = mOpt.get
      require(m <= Long.MaxValue / scale,
        s"raw score $m would overflow at scale=$scale; lower the scale")
      // `div`, not `/`: Column `/` on longs is DOUBLE division in Spark
      raw.select(col("id"), expr(s"(s * ${scale}L) div ${m}L").as("score"))
    }

    // hub0 = `scale` on every source, so the first raw authority is just
    // indegree * scale — computed straight off the edge list, no join and
    // no materialized all-scale hub relation (the oracle SQL does the
    // same); hubs then start from the first rescaled authorities
    var auth = rescaled(e.groupBy(col("dst").as("id"))
      .agg((count(lit(1)) * scale).as("s")))
    var hub = rescaled(
      e.join(auth, e("dst") === auth("id"))
        .groupBy(col("src").as("id")).agg(sum(col("score")).as("s")))
    var i = 1
    while (i < iters) {
      auth = rescaled(
        e.join(hub, e("src") === hub("id"))
          .groupBy(e("dst").as("id")).agg(sum(col("score")).as("s")))
      hub = rescaled(
        e.join(auth, e("dst") === auth("id"))
          .groupBy(e("src").as("id")).agg(sum(col("score")).as("s")))
      i += 1
    }
    hub.select(col("id"), lit("hub").as("kind"), col("score"))
      .unionByName(
        auth.select(col("id"), lit("auth").as("kind"), col("score")))
  }
}
