package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Community detection by SYNCHRONOUS label propagation (Raghavan et
  * al. 2007, public): every node starts with its own label and each
  * round adopts the most frequent label among its neighbours — ties
  * broken by the SMALLEST label, updates applied simultaneously — the
  * density-sensitive complement of [[ConnectedComponents]] (which
  * merges anything reachable; LPA keeps sparsely-linked dense regions
  * apart, e.g. two near-dup clusters bridged by one borderline pair).
  *
  * Deterministic by construction: synchronous rounds + total
  * (count desc, label asc) tie order — no random node order, so the
  * same input gives the same communities on any cluster. The classic
  * LPA caveat applies and is handled: synchronous updates can 2-cycle
  * (bipartite oscillation), so convergence is "label multiset stopped
  * changing OR oscillation detected" — on oscillation each node keeps
  * the SMALLER of its two alternating labels (deterministic), which is
  * also what breaks the trivial 2-node flip. The SAME damping applies
  * when `maxIter` is exhausted before either stop condition fires:
  * the result is always least(label_H, label_{H−1}) — a single output
  * law covering converged runs (the two coincide), detected 2-cycles
  * (least of the alternating pair, phase-independent since least is
  * symmetric), and still-churning runs (deterministic cutoff) — so a
  * fixed-horizon oracle can reproduce the operator bit-for-bit without
  * knowing which round it stopped at.
  *
  * Scale shape per round: one |E| join to look up neighbour labels,
  * one (node, label) count aggregate, one top-1-per-node reduction via
  * max_by on the packed (count, −label) key — NO window over the edge
  * frame — and an eager localCheckpoint lineage cut (the CC iteration
  * discipline). Rounds are O(1) plans over |V|+|E| rows.
  */
object LabelPropagation {

  /** @param edges (src, dst) — undirected, deduped by caller if needed
    * @param nodes one column of node ids (isolated nodes keep their id)
    * @param maxIter hard round cap; LPA typically settles in < 10
    * @return (<nodes' id column>, community_id) */
  def communities(edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 20): DataFrame = {
    val idCol = nodes.columns.head
    val Array(srcCol, dstCol, _*) = edges.columns
    // the vote rounds run under the loop conf (Fixpoint), sized by
    // 2·|edges|: it bounds the symmetric edge count and reads off the
    // caller's upstream cache without materializing sym twice.
    val edgeRows = 2L * edges.count()
    val loop = new Fixpoint(edges.sparkSession)
    loop.run(edgeRows) {
    val sym = edges
      .select(col(srcCol).as("lp_id"), col(dstCol).as("lp_nbr"))
      .union(edges.select(col(dstCol).as("lp_id"), col(srcCol).as("lp_nbr")))
      // ONE keyed exchange builds both the dedup and the reusable layout:
      // hashpartitioning(lp_nbr) clusters every (lp_id, lp_nbr) group, so
      // dropDuplicates plans no second exchange, and the persisted frame
      // joins each round's label frame without a fresh exchange (the
      // label side is already hash-partitioned on the same key by the
      // previous round's aggregation)
      .repartition(col("lp_nbr"))
      .dropDuplicates(Seq("lp_id", "lp_nbr"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    val init = loop.cut(nodes.select(col(idCol).cast("long").as("lp_id"))
      .distinct()
      .withColumn("lp_label", col("lp_id")))
    val damped = least(col("lp_label"), col("lp_prev_label")).as("lp_label")
    // state: the round N−1 labeling and the round N−2 one, for 2-cycle
    // detection
    val ((labeled, _), _) = loop.iterate((init, Option.empty[DataFrame]),
        maxIter)(s => s._1 +: s._2.toSeq) { case ((labeled, prev), round) =>
      val nbr = labeled.select(col("lp_id").as("lp_nbr"),
        col("lp_label").as("lp_nbr_label"))
      // most frequent neighbour label, ties to the smallest label:
      // max_by over the exact packed key (count, -label) — count and
      // label both fit comfortably; no window, no collect
      val voted = sym.join(nbr, "lp_nbr")
        .groupBy("lp_id", "lp_nbr_label")
        .agg(count(lit(1)).as("lp_n"))
        .groupBy("lp_id")
        .agg(max_by(col("lp_nbr_label"),
          struct(col("lp_n"), (-col("lp_nbr_label")).as("lp_neg")))
          .as("lp_vote"))
      // the changed-vs-N−1 count rides the cut job as an observed
      // metric, so convergence is tested every round at no extra
      // action. The output law — least(label_N, label_N−1) — makes
      // when-we-stop cost-only: stable labels repeat, so stopping the
      // round convergence happens (or any round later) yields
      // identical communities.
      val (next, changed) = loop.observedCut(
        labeled.join(voted, Seq("lp_id"), "left")
          .select(col("lp_id"),
            coalesce(col("lp_vote"), col("lp_label")).as("lp_label"),
            col("lp_label").as("lp_prev_label")),
        sum(when(col("lp_label") =!= col("lp_prev_label"), 1L).otherwise(0L)))
      // 2-cycle detection (round N equals round N−2 everywhere) still
      // needs the N−2 join, so it keeps the every-4th-round cadence —
      // phase-independent by the same output law.
      def twoCycle: Boolean = prev.exists { p =>
        next.join(p.select(col("lp_id"), col("lp_label").as("lp_label_2ago")),
            "lp_id")
          .agg(coalesce(sum(when(
            col("lp_label") =!= col("lp_label_2ago"), 1L)
            .otherwise(0L)), lit(0L)))
          .first().getLong(0) == 0L
      }
      if (changed == 0L) ((labeled, prev), true)
      else if (round % 4 == 0 && round < maxIter && twoCycle)
        // deterministic break keeps the smaller alternating label
        ((loop.cut(next.select(col("lp_id"), damped)), None), true)
      else if (round < maxIter)
        ((next.select("lp_id", "lp_label"), Some(labeled)), false)
      else // horizon exhausted: same damping as the 2-cycle break, so
        // the output law is least(label_H, label_{H−1}) in every stop
        // mode (see scaladoc)
        ((next.select(col("lp_id"), damped), Some(labeled)), false)
    }
    sym.unpersist(blocking = false)
    labeled.select(col("lp_id").as(idCol), col("lp_label").as("community_id"))
    }
  }
}
