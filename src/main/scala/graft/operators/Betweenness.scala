package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** k-source betweenness centrality — Brandes' dependency accumulation
  * (Brandes 2001) from a bounded seed set, the standard estimator
  * (Brandes & Pich 2007) for the "which nodes do shortest paths flow
  * through" signal that closeness (q301) and PageRank (q104) both
  * miss. Runs in two level-synchronous sweeps over the BFS DAG:
  *
  *   forward  — hop layers carry (seed, node, dist, σ), where σ (the
  *              shortest-path COUNT) sums over predecessors: first
  *              touch is the BFS distance, so a layer's σ is one keyed
  *              sum of the previous layer's σ over the edge list;
  *   backward — pair dependencies accumulate per layer, deepest
  *              first: δ(v) = Σ_{w ∈ succ(v)} σ_v·(1 + δ(w))/σ_w.
  *
  * All arithmetic is EXACT: σ is an integer by definition, and δ is
  * carried as a ×1e6 fixed-point BIGINT with the division taken
  * per-term — δ_fp(v) = Σ (σ_v·(1000000 + δ_fp(w))) div σ_w — so the
  * sum is associative (partial aggregates ship safely) and the result
  * is bit-reproducible at any cluster size, at the cost of ≤ 1e-6
  * per-term truncation against real-valued Brandes. Engine-original
  * (the reference's graph surface stops at pairwise duplicate audits,
  * `/root/reference/scripts/02_idempotency_test.js:125`).
  *
  * Scale design (100 TB):
  *   - both sweeps are per-layer keyed joins + map-side-combined sums;
  *     nothing collects to the driver (the loop reads back one scalar
  *     per hop: the frontier size);
  *   - state is |seeds|·|reached| rows — the seed set multiplies
  *     everything (that is the k-source approximation contract), and
  *     `maxHops` bounds both sweeps;
  *   - per-layer frames are lineage-cut ([[ConnectedComponents]]
  *     discipline) and reused by the backward sweep, so no layer is
  *     recomputed.
  */
object Betweenness {

  /** Fixed-point betweenness contributions from every seed.
    *
    * @param edges   DIRECTED edge list, traversed as given (pass a
    *                symmetric list for undirected semantics); first
    *                two columns (from, to)
    * @param seeds   seed nodes; FIRST column is the node id
    * @param maxHops BFS horizon (≥ 1): paths longer than it do not
    *                contribute (they rarely matter — Brandes & Pich's
    *                truncation argument)
    * @return (bt_node, bt_fp): Σ over seeds of the ×1e6 fixed-point
    *         dependency δ, for every node with a nonzero dependency;
    *         divide by 1e6·|seeds| for the per-seed average
    */
  def dependencies(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be at least 1")
    val Array(srcCol, dstCol, _*) = edges.columns
    val eRaw = edges.select(col(srcCol).as("bt_node"),
      col(dstCol).as("bt_next"))
    // both sweeps run under the loop conf (Fixpoint); the count (off
    // the caller's upstream cache) sizes it
    val edgeRows = eRaw.count()
    val loop = new Fixpoint(edges.sparkSession)
    loop.run(edgeRows) {
    // r15 (the Bfs r14 pattern, guide §2.4): EVERY per-layer join of both
    // sweeps keys on bt_node, so one keyed exchange at loop width makes
    // the persisted edge partitioning reusable by all of them — each
    // layer's plan exchanges only the |layer|-row frame, and per-layer
    // jobs scan loop-width cached partitions instead of session-width
    // ones (profile r15: q313 ran 640 tasks across 25 jobs at local[32]
    // for 2.7 s of CPU — scheduler-bound on over-wide cached scans).
    val e = eRaw.repartition(col("bt_node"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // ---- forward sweep: layers of (bt_seed, bt_node, sigma) ----
    val layer0 = loop.cut(seeds
      .select(col(seeds.columns.head).as("bt_seed")).distinct()
      .select(col("bt_seed"), col("bt_seed").as("bt_node"),
        lit(1L).as("sigma")))
    // head = deepest layer so far
    val (layers, _) = loop.iterate(List(layer0), maxHops)(identity) {
      (layers, _) =>
        // visited = union of the cut layers (append-only, as in Bfs):
        // no per-hop re-cut of the growing visited set, and the
        // frontier-size test rides the cut job as an observed metric —
        // one job per hop
        val visited = layers.map(_.select("bt_seed", "bt_node"))
          .reduce(_ union _)
        val (next, n) = loop.observedCut(layers.head.join(e, "bt_node")
          .select(col("bt_seed"), col("bt_next").as("bt_node"),
            col("sigma"))
          .join(visited, Seq("bt_seed", "bt_node"), "left_anti")
          .groupBy("bt_seed", "bt_node")
          .agg(sum("sigma").as("sigma")), count(lit(1)))
        if (n == 0L) (layers, true) else (next :: layers, false)
    }

    // ---- backward sweep: δ per layer, deepest first ----
    // deepest layer has no successors: δ = 0 → skip, start one up.
    var delta: DataFrame = null // (bt_seed, bt_node, delta_fp)
    var acc: DataFrame = null
    val layerList = layers // deepest .. layer0
    for (i <- 1 until layerList.length) {
      val cur = layerList(i) // one hop shallower than layerList(i-1)
      val deeperSigma = layerList(i - 1)
        .select(col("bt_seed"), col("bt_node").as("bt_next"),
          col("sigma").as("sigma_w"))
      val deeperDelta =
        if (delta == null)
          deeperSigma.select(col("bt_seed"), col("bt_next"),
            col("sigma_w"), lit(0L).as("delta_w"))
        else deeperSigma.join(
            delta.select(col("bt_seed"), col("bt_node").as("bt_next"),
              col("delta_fp").as("delta_w")),
            Seq("bt_seed", "bt_next"), "left")
          .select(col("bt_seed"), col("bt_next"), col("sigma_w"),
            coalesce(col("delta_w"), lit(0L)).as("delta_w"))
      delta = loop.cut(cur.join(e, "bt_node")
        .join(deeperDelta, Seq("bt_seed", "bt_next"))
        .select(col("bt_seed"), col("bt_node"),
          expr("(sigma * (1000000 + delta_w)) div sigma_w").as("term"))
        .groupBy("bt_seed", "bt_node")
        .agg(sum("term").as("delta_fp")))
      val contrib = delta.filter(col("bt_node") =!= col("bt_seed"))
      acc = if (acc == null) contrib else acc.union(contrib)
    }
    e.unpersist(blocking = false)
    // the accumulated union ends here — materialize the |V|-row
    // result INSIDE the loop conf so the deep two-sweep lineage
    // (checkpointed leaves + unions) collapses before downstream
    // consumers re-plan it under session conf
    if (acc == null)
      layer0.sparkSession.emptyDataFrame
        .select(lit(0L).as("bt_node"), lit(0L).as("bt_fp")).limit(0)
    else loop.cut(acc.groupBy("bt_node").agg(sum("delta_fp").as("bt_fp")))
    }
  }
}
