package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.functions.CoreFunctions.sha256PrefixLong15

/** Weisfeiler–Lehman color refinement (1-WL, Weisfeiler & Leman 1968;
  * the graph-kernel formulation of Shervashidze et al. 2011): each
  * round, every node's label is re-hashed together with the SORTED
  * multiset of its neighbours' labels, so after r rounds two nodes
  * share a label only if their radius-r neighbourhoods are
  * indistinguishable — the structural fingerprint behind graph
  * dedup/canonicalization ("are these two interaction graphs the same
  * shape?") and the feature map of the WL kernel. Structure-only: it
  * refines POSITIONS, where LPA (q289) coarsens into communities.
  * Engine-original (the reference's graph surface stops at pairwise
  * duplicate audits, `/root/reference/scripts/02_idempotency_test.js:125`).
  *
  * Label algebra is deliberately oracle-portable: new = 60-bit sha256
  * prefix of `old || '|' || comma-joined sorted neighbour labels` —
  * the exact string an external SQL engine can rebuild with
  * string_agg(... ORDER BY), making every round hash-gateable.
  *
  * Scale design (100 TB):
  *   - each round is ONE keyed join (edges ⋈ labels on the neighbour
  *     end) and one groupBy(node) with sort_array(collect_list) — the
  *     per-node state is bounded by DEGREE, so degree-capped graphs
  *     (mutual-KNN: ≤ k) carry O(k) longs per node through the
  *     shuffle, never strings;
  *   - rounds are fixed and small (r hops of context — WL converges
  *     in diameter rounds, and kernel practice uses 2–5);
  *   - lineage is cut every round ([[ConnectedComponents]]
  *     discipline), keeping the per-round plan constant-size.
  */
object WlRefinement {

  /** `rounds` WL refinements of `labels` over symmetric `edges`.
    *
    * @param edges  SYMMETRIC edge list (both directions present, no
    *               self-loops); first two columns are (node, neighbor)
    * @param labels initial integer labels; first two columns are
    *               (node, label) — degree is the classic seed
    * @param rounds number of refinement rounds (≥ 1)
    * @return (wl_node, wl_label) after `rounds` rounds; nodes absent
    *         from `edges` keep re-hashing their own label alone
    */
  def relabel(edges: DataFrame, labels: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, "rounds must be at least 1")
    val Array(srcCol, dstCol, _*) = edges.columns
    val e = edges.select(col(srcCol).as("wl_node"),
        col(dstCol).as("wl_nbr"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val Array(nodeCol, labelCol, _*) = labels.columns
    var lab = Frames.cut(labels.select(col(nodeCol).as("wl_node"),
      col(labelCol).cast("long").as("wl_label")))
    var r = 0
    while (r < rounds) {
      r += 1
      val neigh = e
        .join(lab.select(col("wl_node").as("wl_nbr"),
            col("wl_label").as("nbr_label")),
          Seq("wl_nbr"))
        .groupBy("wl_node")
        .agg(sort_array(collect_list(col("nbr_label"))).as("nl"))
      lab = Frames.cut(lab.join(neigh, Seq("wl_node"), "left")
        .select(col("wl_node"),
          sha256PrefixLong15(concat(
            col("wl_label").cast("string"), lit("|"),
            concat_ws(",", transform(
              coalesce(col("nl"), array().cast("array<long>")),
              x => x.cast("string"))))).as("wl_label")))
    }
    e.unpersist(blocking = false)
    lab
  }
}
