package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-source breadth-first search: minimum hop distance from each
  * seed to every node reachable within `maxHops` — the shortest-path
  * primitive the graph suite (components, communities, PageRank,
  * triangles, k-core, link prediction) still lacked. "How far is this
  * document from a known-bad cluster" / "which vectors sit within 2
  * hops of a curated seed set" are the curation queries this answers.
  * Engine-original (the reference's graph surface stops at pairwise
  * duplicate audits, `/root/reference/scripts/02_idempotency_test.js:125`).
  *
  * Algorithm: level-synchronous frontier expansion. The frontier at
  * hop h joins the edge list once; first touch IS the minimum
  * distance (BFS invariant), enforced by anti-joining the visited
  * set, so no per-node min aggregation is ever needed.
  *
  * Scale design (100 TB):
  *   - each hop is ONE keyed join (frontier ⋈ edges on the node id),
  *     a distinct on (seed, node) — map-side partials — and one
  *     anti-join against visited; all shuffles are keyed, nothing
  *     collects to the driver (the loop reads back one scalar per
  *     hop: the frontier size, which doubles as the early-exit test).
  *   - state is |seeds|·|reached| rows — bound the seed set (it
  *     multiplies everything) and `maxHops` (it bounds rounds).
  *   - lineage is cut EVERY hop (the ConnectedComponents discipline):
  *     visited/frontier become leaves, so the plan is constant-size
  *     per hop however deep the search runs.
  */
object Bfs {

  /** Hop distances from every seed.
    *
    * @param edges   DIRECTED edge list, traversed as given (pass a
    *                symmetric list for undirected semantics); first
    *                two columns are (from, to) node ids
    * @param seeds   seed nodes; the FIRST column is the node id
    * @param maxHops inclusive hop bound (≥ 1); nodes beyond it are
    *                absent from the result
    * @return (bfs_seed, bfs_node, bfs_dist): one row per (seed,
    *         reached node) with the MINIMUM hop count, including
    *         (seed, seed, 0)
    */
  def distances(edges: DataFrame, seeds: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1, "maxHops must be at least 1")
    val Array(srcCol, dstCol, _*) = edges.columns
    // eRaw deliberately NOT persisted (r15, ADVICE r14: persisting both
    // eRaw and its repartitioned copy double-cached the full edge list
    // for the whole hop loop): the sizing count below runs off the
    // caller's upstream cache, and only the repartitioned copy — the one
    // every hop actually joins — is kept in storage.
    val eRaw = edges.select(col(srcCol).as("bfs_node"), col(dstCol).as("bfs_next"))
    // the count runs under SESSION conf — candidate generation above
    // the edge frame can be the heaviest subplan in the engine and
    // keeps AQE; it sizes the hop loop's conf (Fixpoint)
    val edgeRows = eRaw.count()
    val loop = new Fixpoint(edges.sparkSession)
    loop.run(edgeRows) {
    // Pre-partition the edge frame ON THE JOIN KEY at loop width, once
    // (guide §2.4: repeated joins on the same key reuse a persisted
    // partitioning): the cached scan partitioning carries no
    // distribution info, so every hop's frontier⋈edges was re-shuffling
    // the WHOLE edge list — rounds × |E| shuffle rows; after this one
    // keyed exchange the per-hop join shuffles only the frontier.
    val e = eRaw.repartition(col("bfs_node"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seed = loop.cut(seeds
      .select(col(seeds.columns.head).as("bfs_seed")).distinct()
      .select(col("bfs_seed"), col("bfs_seed").as("bfs_node"),
        lit(0L).as("bfs_dist")))
    // BFS visited state is APPEND-ONLY (first touch is the minimum
    // distance), so the visited set is kept as the UNION of the per-hop
    // cut frontier levels (head = the frontier) instead of being re-cut
    // every hop: each level is already a lineage leaf, the union of
    // ≤ maxHops leaves keeps the per-hop plan flat, and no hop pays an
    // extra action re-materializing O(|reached|) rows (measured on
    // q322/q281).
    val (levels, _) = loop.iterate(List(seed), maxHops)(identity) {
      (levels, hop) =>
        val visited = levels.map(_.select("bfs_seed", "bfs_node"))
          .reduce(_ union _)
        // the frontier size rides the cut job as an observed metric —
        // one scheduler round-trip per hop, not two; an empty level
        // joins no result, so the driver frees it
        val (next, n) = loop.observedCut(levels.head.join(e, "bfs_node")
          .select(col("bfs_seed"), col("bfs_next").as("bfs_node"))
          .distinct()
          .join(visited, Seq("bfs_seed", "bfs_node"), "left_anti")
          .select(col("bfs_seed"), col("bfs_node"),
            lit(hop.toLong).as("bfs_dist")), count(lit(1)))
        if (n == 0L) (levels, true) else (next :: levels, false)
    }
    e.unpersist(blocking = false)
    levels.reduce(_ union _)
    }
  }
}
