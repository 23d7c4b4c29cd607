package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration HITS (hubs & authorities) over a directed edge
  * list — the link-analysis dual of [[PageRank]]: authorities are
  * pointed AT by good hubs, hubs point TO good authorities. On the
  * document/embedding KNN graph the authority score is a density
  * signal (how many well-connected neighbourhoods cite you) and the
  * hub score marks broad connectors — both feed coreset selection
  * next to q104's PageRank. The reference has no graph surface;
  * engine-original, standard Kleinberg iteration.
  *
  * Cross-engine exactness (the PageRank.ranksFp discipline): scores
  * live ENTIRELY in an integer ×1e9 domain. Each node starts with hub
  * mass `1e9 div |V|` (total ≈ 1e9), so every un-normalized sum stays
  * ≤ 1e9 and the L1 normalization `raw · 1e9 div Σraw` multiplies at
  * most 1e9·1e9 < 2^63 — no overflow at ANY graph size, no float ever
  * enters the loop, and a SQL oracle unrolls the iterations with `//`
  * to the same integers. Iteration count is FIXED so the oracle can
  * unroll it.
  *
  * Per iteration: authority = Σ over in-edges of hub, then L1
  * normalize; hub = Σ over out-edges of the NEW authority, then L1
  * normalize. Each half is one join of the key-partitioned edge copy
  * against the |V|-row score frame plus one keyed sum; the L1 total is
  * one observed scalar riding the sum's checkpoint job (LoopObs — one
  * 8-byte driver read per half-step, not a collect of data rows), then
  * applied as a literal in the normalization. Pass a persisted edge
  * frame — it is consumed 2·iterations times.
  *
  * Structure history: the universe join per half-step is the r10
  * measured optimum (dropping it to keep sparse frames hangs totals
  * off BROADCAST subtrees, which are not reused — 59 s, exponential
  * re-execution; keep the universe join). The r10/r11 A/Bs also kept
  * the loop FULLY LAZY (eager cuts then measured 8.2 s vs 6.8 s), but
  * that verdict predated LoopTuning's loop-sized shuffles + codegen
  * gating AND under-weighed the driver side: the lazy unrolled tree
  * doubles twice per iteration (~4^iterations Catalyst nodes), costing
  * ~5.6 s of per-evaluation analysis+optimization at 3 iterations
  * (r14; Bench's `layers` record splits such driver time into build_s
  * and plan_s). With loop conf applied, per-half-step eager cuts of
  * the narrow (id, score) frames measure 6.7 → 3.0 s on q284
  * (min-of-3, r14) with bit-identical integers. See scoresFp.
  *
  * Nodes with no in-edges (or no out-edges) get authority (hub) 0 via
  * the left join; isolated nodes survive with both scores 0.
  */
object Hits {

  val Scale = 1000000000L // 1e9 fixed-point domain

  /** Score every node of `nodes` (first column = node id) over
    * directed `edges` (first two columns = src, dst).
    *
    * @return (<nodes' id column>, hub_fp, auth_fp) — ×1e9 longs.
    */
  def scoresFp(edges: DataFrame, nodes: DataFrame,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 20,
      "fixed iteration count must stay oracle-unrollable")
    // r14: each half-step is EAGERLY lineage-cut. The lazy unrolled
    // form this replaces (kept through r13 on the strength of the
    // r10/r11 A/Bs) doubles the logical tree TWICE per iteration
    // (each half-step references the previous frame in both its raw
    // sum and its L1 total), i.e. ~4^iterations plan nodes: at 3
    // iterations the DRIVER paid ~4.1 s of eager per-operator analysis
    // + ~1.5 s of optimization per q284 evaluation (r14; Bench's
    // `layers` record shows both, as build_s and plan_s)
    // — the execution itself was fine (ReuseExchange dedupes), the
    // Catalyst tree walk was the cost. Cutting each half-step keeps
    // every plan constant-size; the cut frames are (id, score) pairs —
    // 2 longs × |V| — so the "checkpoint forces every column" penalty
    // behind the r11 14.8 s rejection does not apply (that A/B cut the
    // FINAL wide joined frame, not the narrow per-half-step scores),
    // and the per-cut job latency is bounded by LoopTuning (loop-sized
    // shuffles, AQE off, codegen off below the row threshold).
    // Measured q284 (min-of-3, quiet box): 6.7 s lazy → 3.0 s eager,
    // identical integers (oracle-regated at sf0.01 + sf0.1).
    val idCol = nodes.columns.head
    val Array(srcCol, dstCol, _*) = edges.columns
    val e = edges.select(col(srcCol).as("ht_src"), col(dstCol).as("ht_dst"))
    // the count sizes the loop conf AND materializes the caller's edge
    // cache (knnShared-style frames are persisted upstream)
    val edgeRows = e.count()
    LoopTuning.withLoopConf(edges.sparkSession, edgeRows) {
    // r15 half-step shape (guide §1 profile: 30 jobs / 1103 tasks / 36.7 s
    // summed task time for 8.25 s of CPU at sf0.1 — per-half-step the raw
    // sum subtree executed TWICE because its L1 total hung off a broadcast,
    // and broadcast subtrees are never exchange-reused, while every job
    // re-scanned the caller's session-width edge cache):
    //   - the universe is cut ONCE (it was re-distinct'ed by all
    //     2·iterations half-step jobs), with |V| observed on that same job;
    //   - the edge list is re-persisted at LOOP width, pre-partitioned on
    //     each half's join key (ht_src for the authority sum, ht_dst for
    //     the hub sum — §2.4: repeated same-key joins reuse a persisted
    //     partitioning), so per-half-step plans exchange only the |V|-row
    //     score frame and scan loop-width partitions;
    //   - each half-step cuts its raw sum ONCE with the L1 total riding
    //     the cut job as an observed metric (LoopObs), and normalizes
    //     against the total as a DRIVER LITERAL — no crossJoin(broadcast)
    //     and no second execution of the sum subtree.
    // Integer algebra is unchanged: raw·1e9 div tot on exact BIGINTs, a
    // NULL/0 total (edge-free graph, Scale div |V| underflow) normalizes
    // to score 0 exactly as the old coalesce(x div NULL-or-0) did.
    val obsU = org.apache.spark.sql.Observation("hits_universe")
    val uni = Frames.cut(nodes.select(col(idCol).as("ht_id")).distinct()
      .observe(obsU, count(lit(1)).as("n")))
    val nUniverse = LoopObs.count(obsU, uni)
    val eSrc = e.repartition(col("ht_src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eDst = e.repartition(col("ht_dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def normalized(raw: DataFrame, tot: Option[Long], as: String): DataFrame =
      uni.join(raw, Seq("ht_id"), "left")
        .select(col("ht_id"), (tot match {
          case Some(t) if t != 0L =>
            expr(s"coalesce(ht_raw, CAST(0 AS BIGINT)) * $Scale" +
              s" div CAST($t AS BIGINT)")
          case _ => lit(0L) // zero-mass iteration: every score is 0
        }).as(as))
    def halfStep(scores: DataFrame, joinKey: String, eKeyed: DataFrame,
        outKey: String, scoreCol: String, tag: String): DataFrame = {
      val obs = org.apache.spark.sql.Observation(tag)
      val raw = Frames.cut(eKeyed
        .join(scores.withColumnRenamed("ht_id", joinKey), joinKey)
        .groupBy(col(outKey).as("ht_id"))
        .agg(sum(scoreCol).as("ht_raw"))
        .observe(obs, sum(col("ht_raw")).as("n")))
      val tot = LoopObs.metricOpt(obs) {
        Option(raw.agg(sum("ht_raw")).first().get(0))
          .map(_.asInstanceOf[Long])
      }
      Frames.cut(normalized(raw, tot, scoreCol))
    }
    var hub = Frames.cut(uni.select(col("ht_id"),
      lit(if (nUniverse > 0) Scale / nUniverse else 0L).as("ht_h")))
    var auth: DataFrame = null
    for (i <- 1 to iterations) {
      auth = halfStep(hub.withColumnRenamed("ht_h", "ht_s"), "ht_src",
        eSrc, "ht_dst", "ht_s", s"hits_a_$i")
        .withColumnRenamed("ht_s", "ht_a")
      hub = halfStep(auth.withColumnRenamed("ht_a", "ht_s"), "ht_dst",
        eDst, "ht_src", "ht_s", s"hits_h_$i")
        .withColumnRenamed("ht_s", "ht_h")
    }
    eSrc.unpersist(blocking = false)
    eDst.unpersist(blocking = false)
    // The FINAL join stays lazy (outside the cuts): hub/auth are leaf
    // frames, so the consumer's action plans a 3-node join — the r11
    // "final frame must stay lazy" finding (its eager cut forced every
    // normalization column and measured 7.6 → 14.8 s) is preserved;
    // only the per-half-step score frames are cut.
    hub.join(auth, "ht_id")
      .select(col("ht_id").as(idCol), col("ht_h").as("hub_fp"),
        col("ht_a").as("auth_fp"))
    }
  }
}
