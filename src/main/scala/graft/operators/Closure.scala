package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Bounded-domain reachability suite: transitive closure by path
  * doubling, strongly-connected components from the closure, and
  * longest-path layering of a DAG — the cyclic-dependency /
  * workflow-ordering analytics (which item families feed back into
  * each other, what is the dependency depth of each stage) that the
  * pairwise graph surface (components, cores, communities) cannot
  * answer because they all ignore edge DIRECTION. Engine-original
  * (the reference's graph surface stops at pairwise duplicate audits,
  * `/root/reference/scripts/02_idempotency_test.js:125`).
  *
  * SCALE CONTRACT — this operator is for BOUNDED vertex domains
  * (entity types, part families, workflow stages, top-k hubs: the
  * graphs direction-sensitive questions are actually asked of), NOT
  * for billion-node graphs: a transitive closure has up to |V|²
  * rows, so the caller caps the domain first (the [[Mmr]]
  * caller-blocked-candidates discipline). Within that contract every
  * step is distributed:
  *   - path DOUBLING (R ← R ∪ R∘R), not single-edge extension, so a
  *     diameter-D graph closes in ⌈log₂ D⌉ + 1 self-join rounds, each
  *     one keyed join + distinct — map-side combined, nothing on the
  *     driver but the fixpoint row count;
  *   - SCC ids need no iteration once the closure exists: scc(v) =
  *     min({v} ∪ {u : u⇝v ∧ v⇝u}) — one self-join of the closure and
  *     one keyed min;
  *   - DAG layers are monotone label correction (layer(v) ←
  *     max(layer(v), layer(u)+1 over u→v)), the [[KCore]] loop shape
  *     with max instead of degree, converging in depth(D) rounds;
  *   - lineage is cut every round ([[ConnectedComponents]]
  *     discipline), so plans stay constant-size however many rounds
  *     run.
  */
object Closure {

  /** Reflexive-free transitive closure: every (u, v) with a directed
    * path u⇝v of ≥ 1 edge. Input: first two columns are (from, to);
    * self-loops are dropped on entry (a self-loop adds no new
    * reachability). Output (tc_src, tc_dst), distinct.
    *
    * @throws IllegalStateException after `maxIter` doubling rounds
    *         without a fixpoint (never returns a partial closure)
    */
  def transitiveClosure(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val Array(srcCol, dstCol, _*) = edges.columns
    val loop = new Fixpoint(edges.sparkSession)
    val reach0 = loop.cut(edges
      .select(col(srcCol).as("tc_src"), col(dstCol).as("tc_dst"))
      .filter(col("tc_src") =!= col("tc_dst"))
      .distinct())
    // the doubling rounds run under the loop conf (Fixpoint). The
    // width is RE-DERIVED from the reach count every round below: the
    // reach frame can grow toward |V|² of the reachable DAG across
    // doublings, so a width fixed from the SEED edge count would run
    // quadratic-growth shuffles at seed-sized parallelism on dense
    // graphs — the count the loop already takes per round is the
    // growth-aware signal, for free.
    val n0 = reach0.count()
    loop.run(n0) {
    val ((reach, _), closed) = loop.iterate((reach0, n0), maxIter)(
        s => Seq(s._1)) { case ((reach, n), _) =>
      // the fixpoint row count rides the cut job: one action per
      // doubling round instead of two
      val (doubled, n2) = loop.observedCut(reach
        .union(reach.as("a")
          .join(reach.select(col("tc_src").as("tc_mid2"),
              col("tc_dst").as("tc_far")),
            col("a.tc_dst") === col("tc_mid2"))
          .select(col("a.tc_src").as("tc_src"),
            col("tc_far").as("tc_dst")))
        .distinct(), count(lit(1)))
      // growth-aware re-split: next round's self-join shuffles n² /
      // current-reach rows in the worst case — resize from the count
      // this round already paid for
      LoopTuning.updateWidth(edges.sparkSession, n2)
      ((doubled, n2), n2 == n)
    }
    if (!closed) throw new IllegalStateException(
      s"transitive closure did not fix in $maxIter doubling rounds")
    reach
    }
  }

  /** Strongly-connected component ids over the nodes incident to
    * `edges`: scc_id(v) = the minimum node id in v's SCC (a node on
    * no cycle is its own singleton component). One closure + one
    * self-join + one keyed min. Output (scc_node, scc_id). */
  def sccIds(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val Array(srcCol, dstCol, _*) = edges.columns
    val nodes = edges.select(col(srcCol).as("scc_node"))
      .union(edges.select(col(dstCol).as("scc_node"))).distinct()
    val reach = transitiveClosure(edges, maxIter)
    // u and v are mutually reachable ⇔ both (u,v) and (v,u) closed.
    val mutual = reach
      .join(reach.select(col("tc_dst").as("tc_src"),
          col("tc_src").as("tc_dst")),
        Seq("tc_src", "tc_dst"), "left_semi")
    nodes.join(mutual.select(col("tc_dst").as("scc_node"),
          col("tc_src").as("peer")),
        Seq("scc_node"), "left")
      .groupBy("scc_node")
      .agg(least(col("scc_node"), min(col("peer"))).as("scc_id"))
      .select(col("scc_node"),
        coalesce(col("scc_id"), col("scc_node")).as("scc_id"))
  }

  /** Longest-path layer of every node of a DAG: layer 0 for nodes
    * with no incoming edge, else 1 + the max layer over predecessors
    * — the dependency depth a topological scheduler runs stages at.
    * Input: first two columns (from, to) of an ACYCLIC graph; `nodes`
    * is the vertex universe (first column), which may include
    * isolated nodes (layer 0). Monotone label correction, converging
    * in depth(G) rounds. Output (lay_node, lay_layer).
    *
    * @throws IllegalStateException after `maxIter` rounds without
    *         convergence — which for an input that is NOT a DAG is
    *         the cycle detector (layers on a cycle rise forever)
    */
  def dagLayers(edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 64): DataFrame = {
    val Array(srcCol, dstCol, _*) = edges.columns
    val e = edges.select(col(srcCol).as("lay_src"),
        col(dstCol).as("lay_node"))
      .filter(col("lay_src") =!= col("lay_node"))
      .distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the layer rounds run under the loop conf (Fixpoint)
    val edgeRows = e.count()
    val loop = new Fixpoint(edges.sparkSession)
    loop.run(edgeRows) {
    val layer0 = loop.cut(nodes
      .select(col(nodes.columns.head).as("lay_node")).distinct()
      .select(col("lay_node"), lit(0L).as("lay_layer")))
    val (layer, settled) = loop.iterate(layer0, maxIter)(Seq(_)) {
      (layer, _) =>
        // the moved-row convergence test is computable INSIDE the
        // round's plan (old and corrected layer are both present), so
        // it rides the cut job as an observed metric — one job per
        // round, no next⋈layer count
        val (next, moved) = loop.observedCut(layer
          .join(layer.select(col("lay_node").as("lay_src"),
              col("lay_layer").as("src_layer"))
            .join(e, "lay_src")
            .groupBy("lay_node")
            .agg((max(col("src_layer")) + 1L).as("in_layer")),
            Seq("lay_node"), "left")
          .select(col("lay_node"), col("lay_layer").as("lay_old"),
            greatest(col("lay_layer"), coalesce(col("in_layer"), lit(0L)))
              .as("lay_layer")),
          sum(when(col("lay_layer") =!= col("lay_old"), 1L).otherwise(0L)))
        (next.select("lay_node", "lay_layer"), moved == 0L)
    }
    e.unpersist(blocking = false)
    if (!settled) throw new IllegalStateException(
      s"dagLayers did not converge in $maxIter rounds — cyclic input?")
    layer
    }
  }
}
