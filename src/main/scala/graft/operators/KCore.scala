package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed k-core decomposition by iterative peeling — the dense-
  * subgraph screen that separates a similarity graph's cohesive regions
  * from its tendrils: the k-core is the (unique) maximal subgraph in
  * which every node keeps degree ≥ k AFTER all lower-degree nodes are
  * recursively removed. A node of raw degree ≥ k still falls out of the
  * core when its support was other peeled nodes — exactly the
  * "mutually-supported dense cluster" semantics a near-dup or KNN graph
  * audit wants, and one strictly stronger than a degree filter (the
  * reference's graph surface stops at pairwise duplicate audits,
  * `/root/reference/scripts/02_idempotency_test.js:125` — this is
  * engine-original, after Batagelj–Zaveršnik's peeling formulation).
  *
  * Algorithm: repeat { drop every edge with an endpoint of current
  * degree < k } until the edge set stops changing. The surviving edge
  * set IS the k-core's edge set; peeling is deterministic and the edge
  * count strictly decreases every non-final round, so the loop
  * terminates in ≤ peel-depth rounds.
  *
  * Scale design (100 TB):
  *   - each round is ONE keyed count aggregation (map-side partials;
  *     the shuffle carries |V| rows) plus two left-semi joins of the
  *     edge frame against the ≥k survivor ids — all key-partitioned,
  *     nothing collects to the driver (the loop reads back one scalar
  *     per round: the surviving-edge count, which doubles as the
  *     convergence test).
  *   - round count is the graph's peel depth, NOT its diameter: for
  *     degree-capped similarity graphs (mutual-KNN with k ≤ 5 has max
  *     degree 5) depth is small by construction; a pathological chain
  *     peels one layer per round, which maxIter guards against
  *     silently looping.
  *   - lineage is cut EVERY round (the ConnectedComponents
  *     discipline), so the per-round plan is constant-size however
  *     many rounds run.
  */
object KCore {

  /** Surviving edge set of the k-core.
    *
    * @param edges SYMMETRIC directed edge list — both (u,v) and (v,u)
    *              present, no self-loops; the first two columns are the
    *              endpoint ids (the [[graft.operators.ConnectedComponents]]
    *              edge convention, and what a mutual-KNN join emits
    *              naturally). Degree of u = row count with u first.
    * @param k     minimum within-core degree (≥ 1)
    * @return the edges of the k-core, same two column names, still
    *         symmetric; empty when no k-core exists. References
    *         executor-cached state from the final round's lineage cut.
    * @throws IllegalStateException after `maxIter` rounds without a
    *         fixpoint (never returns a partially peeled graph)
    */
  def coreEdges(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    require(k >= 1, "k must be at least 1")
    val Array(srcCol, dstCol, _*) = edges.columns
    val loop = new Fixpoint(edges.sparkSession)
    val edges0 = loop.cut(
      edges.select(col(srcCol).as("kc_a"), col(dstCol).as("kc_b")))
    // the |E|-row peel rounds run under the loop conf (Fixpoint); the
    // survivor count rides each round's cut job as an observed metric
    // instead of a second count() action — one job per round
    val n0 = edges0.count()
    loop.run(n0) {
    val ((cur, _), converged) = loop.iterate((edges0, n0), maxIter)(
        s => Seq(s._1)) { case ((cur, n), _) =>
      val good = cur.groupBy("kc_a").agg(count(lit(1)).as("kc_d"))
        .filter(col("kc_d") >= k).select("kc_a")
      val (nxt, m) = loop.observedCut(cur
        .join(good, Seq("kc_a"), "left_semi")
        .join(good.withColumnRenamed("kc_a", "kc_b"), Seq("kc_b"), "left_semi")
        .select("kc_a", "kc_b"), count(lit(1)))
      ((nxt, m), m == n)
    }
    if (!converged) throw new IllegalStateException(
      s"k-core peeling did not converge in $maxIter rounds " +
        "(peel depth exceeds maxIter — raise it)")
    cur.select(col("kc_a").as(srcCol), col("kc_b").as(dstCol))
    }
  }

  /** Nodes of the k-core with their within-core degree — the per-node
    * report form of [[coreEdges]]: (<src column name>, core_degree). */
  def coreNodes(edges: DataFrame, k: Int, maxIter: Int = 100): DataFrame = {
    val srcCol = edges.columns.head
    coreEdges(edges, k, maxIter)
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("core_degree"))
  }
}
