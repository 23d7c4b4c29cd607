package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source single-source-shortest-path over WEIGHTED edges —
  * round-synchronous Bellman–Ford with frontier-restricted relaxation:
  * minimum path COST (not hop count — that is [[Bfs]]) from each seed
  * to every node reachable within `maxRounds` edges. On a similarity
  * graph whose edge weight is a fixed-point dissimilarity this answers
  * "how semantically far is this vector from the curated set along the
  * graph", the soft-distance complement of q281's hop metric and q282's
  * PPR mass. Engine-original (the reference's graph surface stops at
  * pairwise duplicate audits,
  * `/root/reference/scripts/02_idempotency_test.js:125`).
  *
  * Algorithm: classic Bellman–Ford, with the standard sparse
  * refinement that only rows whose tentative cost IMPROVED last round
  * are re-relaxed (an unchanged node cannot improve any neighbour it
  * failed to improve before — the label-correcting frontier of
  * delta-stepping without the bucket machinery). After R rounds the
  * table holds the exact minimum cost over all paths of ≤ R edges —
  * well-defined even with negative weights, and equal to the true
  * shortest path once R ≥ the hop length of every optimal path (the
  * early-exit fires at that point: an empty improvement frontier is
  * exactly Bellman–Ford's convergence certificate).
  *
  * Scale design (100 TB):
  *   - each round is ONE keyed join (frontier ⋈ edges on the node id),
  *     one map-side-combining min aggregation on (seed, node), and one
  *     keyed left join against the running table to split improvements
  *     from stale rows — all shuffles on the same (seed, node) key,
  *     nothing collects to the driver (the loop reads back one scalar
  *     per round: the improvement count, which doubles as the
  *     convergence test).
  *   - state is |seeds|·|reached| rows and the frontier only SHRINKS
  *     as costs settle — bound the seed set (it multiplies everything)
  *     and `maxRounds` (it bounds work when negative cycles or huge
  *     diameters would otherwise spin).
  *   - costs are caller-supplied integers (fixed-point the weights
  *     BEFORE calling — the q104 ×1e6 discipline), so min() is exact
  *     and the result is bit-reproducible across cluster sizes.
  *   - lineage is cut EVERY round (the [[ConnectedComponents]]
  *     discipline), so the per-round plan is constant-size however
  *     many rounds run.
  */
object Sssp {

  /** Minimum path cost from every seed, over paths of ≤ `maxRounds`
    * edges.
    *
    * @param edges     DIRECTED weighted edge list, traversed as given
    *                  (pass a symmetric list for undirected
    *                  semantics); the first three columns are (from,
    *                  to, weight), the weight integral (fixed-point
    *                  encode doubles first)
    * @param seeds     seed nodes; the FIRST column is the node id
    * @param maxRounds inclusive relaxation-round bound (≥ 1); paths
    *                  longer than it are not explored
    * @return (sp_seed, sp_node, sp_cost): one row per (seed, reached
    *         node) with the MINIMUM total weight over ≤ `maxRounds`
    *         edges, including (seed, seed, 0)
    */
  def distances(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int): DataFrame = {
    require(maxRounds >= 1, "maxRounds must be at least 1")
    val Array(srcCol, dstCol, wCol, _*) = edges.columns
    val e = edges.select(col(srcCol).as("sp_node"),
        col(dstCol).as("sp_next"), col(wCol).cast("long").as("sp_w"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the count sizes the relaxation rounds' loop conf (Fixpoint) and
    // materializes the edge cache
    val edgeRows = e.count()
    val loop = new Fixpoint(edges.sparkSession)
    loop.run(edgeRows) {
    val seed = loop.cut(seeds
      .select(col(seeds.columns.head).as("sp_seed")).distinct()
      .select(col("sp_seed"), col("sp_seed").as("sp_node"),
        lit(0L).as("sp_cost")))
    // state: (dist, frontier) — the running table and last round's
    // improvements
    val ((dist, _), _) = loop.iterate((seed, seed), maxRounds)(
        s => Seq(s._1, s._2)) { case ((dist, frontier), _) =>
      // Tentative costs through the frontier, pre-combined per key so
      // the comparison join sees one row per (seed, node).
      val tentative = frontier.join(e, "sp_node")
        .select(col("sp_seed"), col("sp_next").as("sp_node"),
          (col("sp_cost") + col("sp_w")).as("sp_cost"))
        .groupBy("sp_seed", "sp_node")
        .agg(min("sp_cost").as("sp_cost"))
      // the improvement count is observed on the cut job instead of
      // re-counted by a second action
      val (improved, n) = loop.observedCut(tentative
        .join(dist.withColumnRenamed("sp_cost", "sp_old"),
          Seq("sp_seed", "sp_node"), "left")
        .filter(col("sp_old").isNull || col("sp_cost") < col("sp_old"))
        .select("sp_seed", "sp_node", "sp_cost"), count(lit(1)))
      if (n == 0L) ((dist, frontier), true)
      else ((loop.cut(dist
          .join(improved.select("sp_seed", "sp_node"),
            Seq("sp_seed", "sp_node"), "left_anti")
          .union(improved)), improved), false)
    }
    e.unpersist(blocking = false)
    dist
    }
  }
}
