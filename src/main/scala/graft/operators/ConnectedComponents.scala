package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components by iterative min-label propagation —
  * the transitive-closure stage a near-dup dedup pipeline needs between
  * candidate pairs and "keep one document per duplicate group": A~B and
  * B~C put A, B, C in ONE cluster even when A and C never share a bucket
  * (the reference's dedup surface stops at pairwise duplicate audits —
  * `/root/reference/scripts/02_idempotency_test.js:125` — so grouping is
  * engine-original, after Kiveris et al., "Connected Components in
  * MapReduce and Beyond").
  *
  * Algorithm: every node starts labeled with its own id; each round
  * takes a neighbour step `label(v) ← min(label(v), min over neighbours
  * u of label(u))` followed by a pointer jump
  * `label(v) ← min(label(v), label(label(v)))` (path compression: a
  * label is itself a node of the same component, so the lookup doubles
  * the distance already covered); stop when a round changes nothing.
  * Labels are monotonically non-increasing and bounded, so the loop
  * terminates — in O(log diameter(G)) rounds every node carries the
  * minimum id of its component.
  *
  * Scale design (100 TB):
  *   - each round is one shuffle join (edges ⋈ labels on the neighbour
  *     id) plus one keyed min-aggregation — partial aggregation folds the
  *     per-neighbour mins map-side, so the shuffle carries |V| rows, and
  *     nothing ever collects to the driver (the loop reads back ONE
  *     scalar per round: the changed-row count).
  *   - round count is O(log diameter): the pointer jump doubles covered
  *     distance each round, so even the chain-shaped components that
  *     band-thresholded duplicate graphs produce (measured diameter ~12
  *     at sf0.1 → 12 plain-propagation rounds) finish in ~5. The jump is
  *     one extra keyed self-join per round — cheap against halving the
  *     round count, since per-round fixed cost (3 shuffles + 1 action)
  *     dominates at every scale where the loop isn't data-bound.
  *   - lineage is cut EVERY round at the new labeling, with the
  *     changed-row count observed on its job: the jump joins the
  *     pre-jump labeling with itself, so without a leaf boundary the
  *     logical plan would DOUBLE per round — exponential driver-side
  *     analysis cost. One |V|-row cut per round; [[Fixpoint]] frees it
  *     once the next round's labeling is materialized.
  */
object ConnectedComponents {

  /** Label every node with the minimum node id in its connected
    * component.
    *
    * @param edges undirected edge list; the FIRST TWO columns are the
    *              endpoint ids (symmetrized internally, self-loops ok)
    * @param nodes node universe; the FIRST column is the node id. Nodes
    *              with no edges become singleton clusters labeled with
    *              their own id.
    * @return one row per distinct node id: (<nodes' id column>,
    *         cluster_id) where cluster_id = min node id in the component.
    *         The frame reads the final round's cut (|V| rows), which
    *         lives until the driver GCs the frame.
    * @throws IllegalStateException if `maxIter` rounds pass without
    *         convergence (never silently returns a partial labeling)
    */
  def labels(edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 50): DataFrame =
    labelsWithHandle(edges, nodes, maxIter)._1

  /** [[labels]] plus a RELEASE closure that frees the loop's residual
    * storage (the final round's cut), for callers that COPY the result elsewhere (e.g. the
    * streaming monitors' per-batch state fold) and must not hold one
    * |V|-row cache entry per invocation until session end — call it
    * once the copy is materialized, after which the returned frame
    * must never be read again. */
  private[graft] def labelsWithHandle(edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 50): (DataFrame, () => Unit) = {
    val idCol = nodes.columns.head
    val Array(srcCol, dstCol, _*) = edges.columns

    // the edge frame is consumed once per round — persist it so the
    // (possibly expensive) candidate-generation lineage above it runs
    // once, not once per round; |E| rows, spills to disk at scale
    val sym = edges.select(col(srcCol).as("cc_id"), col(dstCol).as("cc_nbr"))
      .union(edges.select(col(dstCol).as("cc_id"), col(srcCol).as("cc_nbr")))
      .persist(StorageLevel.MEMORY_AND_DISK)

    // the count materializes the symmetrized edge cache UNDER SESSION
    // CONF first (candidate generation above it can be the heaviest
    // subplan in the engine and keeps AQE), then the rounds run under
    // the loop conf (Fixpoint) at a width matched to |E|
    val edgeRows = sym.count()
    val loop = new Fixpoint(edges.sparkSession)
    val out = loop.run(edgeRows) {
      val init = nodes.select(col(idCol).as("cc_id")).distinct()
        .withColumn("cc_label", col("cc_id"))
      val (labeled, converged) = loop.iterate(init, maxIter)(Seq(_)) {
        (labeled, _) =>
          // 1. neighbour step: cc_mid(v) = min(label(v), min of
          //    neighbours' labels) — advances one hop per round
          val nbrLabels = labeled
            .select(col("cc_id").as("cc_nbr"), col("cc_label").as("cc_nbr_label"))
          val nbrMin = sym.join(nbrLabels, "cc_nbr")
            .groupBy("cc_id")
            .agg(min(col("cc_nbr_label")).as("cc_nbr_min"))
          // not cut: the pointer jump below joins cand with ITSELF, so
          // a round's plan holds two copies of it, but the round's
          // labeling is cut below, so the plan stays constant-size
          // across rounds instead of doubling
          val cand = labeled.join(nbrMin, Seq("cc_id"), "left")
            .select(col("cc_id"), col("cc_label").as("cc_old"),
              least(col("cc_label"), coalesce(col("cc_nbr_min"), col("cc_label")))
                .as("cc_mid"))
          // 2. pointer jump: label(v) ← min(cc_mid(v), cc_mid(cc_mid(v))).
          //    Every label IS a node id of the same component, so looking
          //    the label up in the labeling doubles the distance already
          //    covered — rounds drop from O(diameter) to O(log diameter),
          //    which is what makes chain-shaped duplicate clusters
          //    (common after band-thresholding) cheap. One extra keyed
          //    join per round.
          val jump = cand
            .select(col("cc_id").as("cc_jump_key"), col("cc_mid").as("cc_jump_label"))
          val label =
            least(col("cc_mid"), coalesce(col("cc_jump_label"), col("cc_mid")))
          // the round's one cut: the new labeling, with the
          // changed-row count riding its job
          val (next, changed) = loop.observedCut(cand
            .join(jump.withColumnRenamed("cc_jump_key", "cc_mid"), Seq("cc_mid"), "left")
            .select(col("cc_id"), label.as("cc_label"),
              (label < col("cc_old")).as("cc_changed")),
            sum(col("cc_changed").cast("long")))
          (next.select(col("cc_id"), col("cc_label")), changed == 0L)
      }
      sym.unpersist(blocking = false)
      if (!converged) throw new IllegalStateException(
        s"connected components did not converge in $maxIter rounds " +
          "(graph diameter exceeds maxIter — raise it)")
      labeled.select(col("cc_id").as(idCol), col("cc_label").as("cluster_id"))
    }
    // the final round's cut backs the result until the caller has
    // copied it out (StreamingClustersSpec's bounded-storage gate)
    (out, () => Frames.freeCheckpoint(out))
  }

  /** Duplicate clusters over a candidate-pair frame: every document
    * labeled with its cluster's minimum doc id plus the cluster size
    * (singletons get their own id and size 1). The canonical consumer
    * feeds [[TextDedup.candidatePairs]] (optionally Jaccard-filtered)
    * in as `pairs`. */
  def dupClusters(docIds: DataFrame, pairs: DataFrame): DataFrame = {
    val lbl = labels(pairs, docIds)
    val sizes = lbl.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size"))
    lbl.join(sizes, "cluster_id")
      .select(col(docIds.columns.head), col("cluster_id"), col("cluster_size"))
  }
}
