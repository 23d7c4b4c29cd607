package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Greedy MAXIMAL MATCHING over an undirected weighted edge list —
  * round-synchronous locally-dominant-edge selection (Preis): the
  * vertex-disjoint edge set produced by scanning edges in the total
  * order (w, u, v) and taking every edge whose endpoints are both
  * still free. Local dominance makes that sequential scan
  * distributed: an edge that is the minimum incident edge of BOTH its
  * endpoints (under the same total order) is exactly an edge the
  * sequential scan would accept — no earlier-ordered edge can touch
  * it, because any such edge would beat it at the shared endpoint. So
  * matching dominant edges, removing their vertices, and iterating
  * reproduces the sequential greedy result EXACTLY (the total order
  * breaks all ties), the way Borůvka reproduces Kruskal's forest in
  * [[Mst]]. Greedy matching is a ½-approximation of maximum weight /
  * cardinality matching and the standard degree-constrained pairing
  * primitive (dedup pairing, 1:1 record linkage, resource pairing).
  *
  * Scale design (100 TB):
  *   - each round: ONE map-side-combining min per endpoint (8-byte
  *     node key, struct candidate), two broadcast-or-shuffle
  *     equality joins to test dominance at both endpoints, and two
  *     anti-joins to drop saturated vertices — all keyed on node ids,
  *     nothing collects (the loop reads back one scalar: the alive
  *     count, which is also the termination certificate).
  *   - the alive edge set only SHRINKS; on hash-weighted similarity
  *     graphs the expected round count is O(log E) (every round
  *     removes all locally-dominant edges, not just the global
  *     minimum). `maxRounds` bounds adversarial chains (an ascending
  *     path matches one edge per round) — the oracle gate would
  *     expose an early exit as a missing match.
  *   - weights are caller-supplied integers (fixed-point encode
  *     first), so min() is exact and the matching is bit-reproducible
  *     across cluster sizes and partitionings.
  *   - lineage is cut every round (the [[ConnectedComponents]]
  *     discipline) so the per-round plan stays constant-size.
  */
object Matching {

  /** The greedy maximal matching of `edges` under (w, u, v).
    *
    * @param edges undirected weighted edge list; first three columns
    *              (u, v, weight), weight integral; endpoint order
    *              irrelevant, duplicate rows tolerated
    * @param maxRounds dominance-round bound; the loop exits early
    *              when no edge survives. 0 (the default) DERIVES the
    *              bound from the data as ⌈V/2⌉ + 4: every round
    *              matches at least the globally minimum alive edge
    *              (it is locally dominant by definition), saturating
    *              two vertices, so the derived cap can never
    *              spuriously throw — even on the adversarial
    *              ascending-weight path that matches one edge per
    *              round — while still bounding a runaway loop. Costs
    *              one distinct-count job over the (cut) edge frame.
    * @return (m_u, m_v, m_w): the matched pairs, m_u < m_v
    */
  def matching(edges: DataFrame, maxRounds: Int = 0): DataFrame = {
    require(maxRounds >= 0, "maxRounds must be >= 0 (0 = derive from data)")
    val Array(uCol, vCol, wCol, _*) = edges.columns
    val spark = edges.sparkSession
    import spark.implicits._
    val loop = new Fixpoint(spark)
    val alive0 = loop.cut(edges.select(
        least(col(uCol), col(vCol)).cast("long").as("m_u"),
        greatest(col(uCol), col(vCol)).cast("long").as("m_v"),
        col(wCol).cast("long").as("m_w"))
      .filter(col("m_u") =!= col("m_v"))
      .distinct())
    // the count sizes the dominance rounds' loop conf (Fixpoint)
    val edgeRows = alive0.count()
    // derived cap: each round saturates ≥ 2 vertices (the global
    // (w,u,v)-minimum alive edge is dominant at both endpoints), so
    // ⌈V/2⌉ + slack bounds the rounds — one cheap distinct count over
    // the already-checkpointed edge frame, only paid when deriving
    val cap =
      if (maxRounds > 0) maxRounds
      else {
        val v = alive0.select(col("m_u").as("n"))
          .union(alive0.select(col("m_v").as("n"))).distinct().count()
        math.min(v / 2L + 4L, Int.MaxValue.toLong).toInt
      }
    loop.run(edgeRows) {
    // state: (alive edges, matched parts). The matched-pair accumulator
    // is APPEND-ONLY: keep the per-round cut frames and union once at
    // the end instead of re-cutting the growing accumulator every
    // round (chosen rounds are disjoint, so the final union is exact);
    // the liveness test rides the alive-cut job as an observed metric —
    // 2 jobs per round
    val init = (alive0, List(spark.emptyDataset[(Long, Long, Long)]
      .toDF("m_u", "m_v", "m_w")))
    val ((_, accParts), done) =
      if (edgeRows == 0L) (init, true)
      else loop.iterate(init, cap)(s => s._1 :: s._2) {
        case ((alive, accParts), _) =>
          val cand = struct(col("m_w"), col("m_u"), col("m_v"))
          // Per-endpoint minimum incident edge under (w, u, v).
          val best = alive.select(col("m_u").as("node"), cand.as("c"))
            .union(alive.select(col("m_v").as("node"), cand.as("c")))
            .groupBy("node").agg(min(col("c")).as("b"))
          // Dominant = best at BOTH endpoints.
          val chosen = loop.cut(alive
            .join(best.select(col("node").as("m_u"), col("b").as("bu")),
              "m_u")
            .join(best.select(col("node").as("m_v"), col("b").as("bv")),
              "m_v")
            .filter(cand === col("bu") && cand === col("bv"))
            .select("m_u", "m_v", "m_w"))
          val sat = chosen.select(col("m_u").as("node"))
            .union(chosen.select(col("m_v").as("node")))
          val (next, n) = loop.observedCut(alive
            .join(sat.select(col("node").as("m_u")), Seq("m_u"), "left_anti")
            .join(sat.select(col("node").as("m_v")), Seq("m_v"), "left_anti")
            .select("m_u", "m_v", "m_w"), count(lit(1)))
          ((next, chosen :: accParts), n == 0L)
      }
    // Cap exhausted with edges still alive: every alive edge has two
    // free endpoints, so the matching below is not MAXIMAL — refuse
    // rather than silently returning a partial matching.
    if (!done) throw new IllegalStateException(
      s"Matching.matching: maxRounds=$cap exhausted with unmatched " +
        "edges still alive — the result would not be a maximal matching; " +
        "raise maxRounds (an ascending-weight path matches one edge per " +
        "round, so the longest such chain bounds the rounds needed)")
    accParts.reduce(_ union _)
    }
  }
}
