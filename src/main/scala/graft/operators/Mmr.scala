package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Maximal Marginal Relevance (Carbonell–Goldstein 1998) diversified
  * top-k selection — engine-original: the reference has no retrieval
  * surface (its query layer stops at delegated SQL,
  * `/root/reference/scripts/01_smoke_publish.js`), but a
  * training-data curation engine needs diversity-aware selection.
  * Per query group: greedily pick the candidate
  * maximizing λ·relevance − (1−λ)·max-similarity-to-already-selected —
  * the de-dup-aware retrieval/sampling step that plain top-k lacks
  * (top-k returns k near-copies when the best results are near-dups;
  * MMR forces coverage). λ is fixed at 1/2, so with integer
  * fixed-point inputs the selection key `rel_fp − max(sim_fp)` is an
  * EXACT BIGINT and ranks can never flip on float addition order.
  *
  * The greedy recurrence is inherently sequential in k (selection i
  * depends on all i−1 before it), so the loop runs k DATAFRAME rounds
  * — but each round is fully distributed across query groups: one
  * anti-join (drop selected), one join+max against the pair-sim frame
  * keyed on (q_id, selected), one per-group argmax (WindowGroupLimit
  * top-1). Nothing collects to the driver; lineage is cut every round
  * (the ConnectedComponents discipline), so the plan stays
  * constant-size in k. Candidate generation/blocking is the CALLER's
  * job (top-N per query from brute-force/IVF/LSH) — this operator is
  * exact given its candidate and pair-similarity frames.
  */
object Mmr {

  /** Greedily select `k` diverse candidates per query group.
    *
    * @param candidates (q_id, vec_id, rel_fp) — rel_fp an integral
    *                   fixed-point relevance (e.g. round(cos·1e6))
    * @param pairSims   (q_id, a, b, sim_fp) — fixed-point similarity
    *                   for EVERY ordered candidate pair a ≠ b of the
    *                   same q_id (same 1e6 scale as rel_fp)
    * @param k          selections per query group (groups with fewer
    *                   candidates exhaust early and return them all)
    * @return (q_id, step, vec_id, score_fp): step ∈ 1..k in selection
    *         order; score_fp = rel_fp − max sim_fp to the prior
    *         selections (step 1: plain rel_fp)
    */
  def select(candidates: DataFrame, pairSims: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val w = Window.partitionBy("q_id")
      .orderBy(col("score_fp").desc, col("vec_id"))
    // pre-partition BOTH inputs on q_id: every per-round operator
    // (anti-join, sim join, keyed max, per-group window) clusters on a
    // key set CONTAINING q_id, and a hashpartitioning on a subset of
    // the keys satisfies ClusteredDistribution — so the k rounds run
    // exchange-free off these two checkpointed layouts instead of
    // re-shuffling 4 times per round (at bench SF the rounds are pure
    // fixed cost, and exchanges are most of it)
    val loop = new Fixpoint(candidates.sparkSession)
    val cand = loop.cut(candidates.select("q_id", "vec_id", "rel_fp")
      .repartition(col("q_id")))
    val pairs = loop.cut(pairSims.select("q_id", "a", "b", "sim_fp")
      .repartition(col("q_id")))
    // the k rounds run under the loop conf (Fixpoint): the q_id layouts
    // above were built OUTSIDE it, but ClusteredDistribution on q_id is
    // satisfied at any width, so the rounds stay exchange-free either
    // way
    loop.run(cand.count()) {
    // the selection set is APPEND-ONLY: cut each round's pick (one
    // |groups|-row leaf) and keep `selected` as the union of the cut
    // leaves, instead of re-checkpointing the whole growing set every
    // round — per-round writes drop from O(step·groups) to O(groups)
    // rows (the Bfs r14 discipline); same one action per round
    // (the empty seed is a local relation with cand's schema, so the
    // result reads no cut but the picks')
    val init = List(cand.sparkSession
      .createDataFrame(java.util.Collections.emptyList[Row](), cand.schema)
      .select(col("q_id"), col("vec_id"), lit(0L).as("step"),
        lit(0L).as("score_fp")))
    val (parts, _) = loop.iterate(init, k)(cand :: pairs :: _) {
      (parts, step) =>
      val selected = parts.reduce(_ union _)
      // selected is ≤ step·|groups| rows — broadcast both probes, so a
      // round's only clustering requirements (the keyed max and the
      // top-1 window) are already satisfied by the q_id layout above
      val remaining = cand.join(
        broadcast(selected.select("q_id", "vec_id")),
        Seq("q_id", "vec_id"), "left_anti")
      val maxSim = pairs
        .join(broadcast(selected.select(col("q_id"), col("vec_id").as("b"))),
          Seq("q_id", "b"))
        .groupBy(col("q_id"), col("a").as("vec_id"))
        .agg(max(col("sim_fp")).as("max_sim_fp"))
      val pick = remaining
        .join(maxSim, Seq("q_id", "vec_id"), "left")
        .select(col("q_id"), col("vec_id"),
          (col("rel_fp") - coalesce(col("max_sim_fp"), lit(0L)))
            .as("score_fp"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), lit(step.toLong).as("step"),
          col("score_fp"))
      (loop.cut(pick) :: parts, false)
    }
    parts.reduce(_ union _)
    }
  }
}
