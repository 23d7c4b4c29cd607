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
  *   - lineage is cut EVERY round at the pre-jump labeling: the jump
  *     joins that frame with itself, so without a leaf boundary the
  *     logical plan would DOUBLE per round — exponential driver-side
  *     analysis cost. The cut is an eager [[Frames.cut]].
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
    *         The frame references executor-cached state (|V| rows — the
    *         final round's persist/localCheckpoint, which the truncated
    *         lineage depends on); it is evicted LRU or on
    *         `spark.catalog.clearCache()`.
    * @throws IllegalStateException if `maxIter` rounds pass without
    *         convergence (never silently returns a partial labeling)
    */
  def labels(edges: DataFrame, nodes: DataFrame,
      maxIter: Int = 50): DataFrame =
    labelsWithHandle(edges, nodes, maxIter)._1

  /** [[labels]] plus a RELEASE closure that frees the loop's residual
    * storage (the final round's persisted labeling + its lineage-cut
    * blocks), for callers that COPY the result elsewhere (e.g. the
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

    // loop-sized shuffles + AQE off for the propagation rounds
    // (LoopTuning): the count materializes the symmetrized edge cache
    // UNDER SESSION CONF first (candidate generation above it can be
    // the heaviest subplan in the engine and keeps AQE), then the
    // rounds run at a width matched to |E| instead of the session's
    val edgeRows = sym.count()
    LoopTuning.withLoopConf(edges.sparkSession, edgeRows) {
    // `handle` is always the EXACT Dataset object that was persisted:
    // CacheManager's cascade=false uncache matches the whole plan by
    // sameResult, so unpersisting a select() WRAPPER of the cached
    // frame is a silent no-op — the round-12 DebugCacheLeak probe
    // measured 14 leaked RDD caches from one 64-node-chain labels()
    // call under the old select-then-unpersist form.
    var handle = nodes.select(col(idCol).as("cc_id")).distinct()
      .withColumn("cc_label", col("cc_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    var labeled = handle
    // the previous round's lineage-cut frame: its blocks back nothing
    // once the CURRENT round's persisted labeling is materialized (the
    // ContextCleaner would free them eventually, but a loop must not
    // lease storage memory to driver-GC timing)
    var prevCut: Option[DataFrame] = None
    var round = 0
    var converged = false
    while (!converged && round < maxIter) {
      round += 1
      // 1. neighbour step: cc_mid(v) = min(label(v), min of neighbours'
      //    labels) — advances one hop per round
      val nbrLabels = labeled
        .select(col("cc_id").as("cc_nbr"), col("cc_label").as("cc_nbr_label"))
      val nbrMin = sym.join(nbrLabels, "cc_nbr")
        .groupBy("cc_id")
        .agg(min(col("cc_nbr_label")).as("cc_nbr_min"))
      // eager checkpoint cut, not persist: the pointer jump below joins
      // cand with ITSELF, so a plain persist doubles the logical plan
      // every round — exponential tree growth that stalls the DRIVER in
      // plan analysis/rendering long before any data moves. Cutting
      // lineage to a leaf here makes every round's plan constant-size
      // (|V| rows per round, freed by the ContextCleaner as references
      // drop).
      val cand = Frames.cut(labeled.join(nbrMin, Seq("cc_id"), "left")
        .select(col("cc_id"), col("cc_label").as("cc_old"),
          least(col("cc_label"), coalesce(col("cc_nbr_min"), col("cc_label")))
            .as("cc_mid")))
      // 2. pointer jump: label(v) ← min(cc_mid(v), cc_mid(cc_mid(v))).
      //    Every label IS a node id of the same component, so looking the
      //    label up in the labeling doubles the distance already covered
      //    — rounds drop from O(diameter) to O(log diameter), which is
      //    what makes chain-shaped duplicate clusters (common after
      //    band-thresholding) cheap. One extra keyed join per round.
      val jump = cand
        .select(col("cc_id").as("cc_jump_key"), col("cc_mid").as("cc_jump_label"))
      val stepped = cand
        .join(jump.withColumnRenamed("cc_jump_key", "cc_mid"), Seq("cc_mid"), "left")
        .select(col("cc_id"),
          least(col("cc_mid"), coalesce(col("cc_jump_label"), col("cc_mid")))
            .as("cc_label"),
          (least(col("cc_mid"), coalesce(col("cc_jump_label"), col("cc_mid")))
            < col("cc_old")).as("cc_changed"))
      val next = stepped.persist(StorageLevel.MEMORY_AND_DISK)
      converged = next.filter(col("cc_changed")).count() == 0L
      // the count above materialized next's cache from THIS round's cut
      // frame, so the previous round's cache and cut blocks are dead
      handle.unpersist(blocking = false)
      prevCut.foreach(Frames.freeCheckpoint)
      prevCut = Some(cand)
      handle = next
      labeled = next.select(col("cc_id"), col("cc_label"))
    }
    sym.unpersist(blocking = false)
    if (!converged) throw new IllegalStateException(
      s"connected components did not converge in $maxIter rounds " +
        "(graph diameter exceeds maxIter — raise it)")
    // the final round's cut frame stays while the result is live (it
    // is the persisted result's recompute lineage); the release
    // closure frees BOTH residuals once the caller has copied the
    // result out (StreamingClustersSpec's bounded-storage gate
    // measured +1 leaked checkpoint per batch without this)
    val finalHandle = handle
    val finalCut = prevCut
    val release = () => {
      finalHandle.unpersist(blocking = false)
      finalCut.foreach(Frames.freeCheckpoint)
    }
    (labeled.select(col("cc_id").as(idCol), col("cc_label").as("cluster_id")),
      release)
    }
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
