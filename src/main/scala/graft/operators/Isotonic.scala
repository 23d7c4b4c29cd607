package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Isotonic regression by POOL ADJACENT VIOLATORS (PAVA; Best &
  * Chakravarti 1990, public): per key, the unique nondecreasing step
  * function minimizing Σ(y − ŷ)² over the x-ordered series — the
  * monotone-trend extractor behind "is this metric really still
  * growing, and where are the plateaus" screens (and the classic
  * probability calibrator).
  *
  * Determinism and cross-engine exactness come from PAVA's CONFLUENCE:
  * the minimizer is unique and pooling adjacent violators in ANY order
  * reaches it, so this operator's parallel merge schedule and a
  * sequential oracle agree exactly. Block sums and counts stay exact
  * BIGINT; the fitted value is emitted as ONE double division s/c —
  * equal rationals divide to the identical IEEE double in any engine,
  * so even tie-split block boundaries (strict-violation pooling keeps
  * equal-mean blocks apart) cannot perturb the gate.
  *
  * Scale shape: state is a (key, block) frame that only shrinks; each
  * round runs a fixed set of lag/lead windows ALL PARTITIONED BY KEY
  * (per-key cost ∝ series length — calendar-bounded in the intended
  * uses, never SF-bounded), merges every OTHER violating boundary of
  * each violating run (disjoint by construction, so all merges in a
  * round are simultaneously valid poolings), and cuts lineage every
  * round ([[Fixpoint]]). ≥ half of each violating run pools per
  * round, and new violations only surface where a merge lowered a
  * block mean, so rounds are O(log series) typical, ≤ series worst case; total work
  * is bounded by the ≤ n−1 merges PAVA can ever do.
  */
object Isotonic {

  /** @param df input frame
    * @param keyCol series key (fits run per key, keys in parallel)
    * @param xCol   BIGINT-castable ordering column (distinct per key)
    * @param yCol   BIGINT-castable response
    * @param maxRounds hard cap on merge rounds; throws if exceeded
    *                  (a series of length n can need at most n−1)
    * @return (keyCol, xCol, yCol, fit_num, fit_den, fit) — fit_num/
    *         fit_den the pooled block's exact Σy and count, fit the
    *         single double division */
  def fit(df: DataFrame, keyCol: String, xCol: String, yCol: String,
      maxRounds: Int = 64): DataFrame = {
    val pts = df.select(col(keyCol).as("iso_k"),
      col(xCol).cast("long").as("iso_x"),
      col(yCol).cast("long").as("iso_y"))
    val w = Window.partitionBy("iso_k").orderBy("iso_start")
    val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val loop = new Fixpoint(df.sparkSession)
    val blocks0 = loop.cut(pts.select(col("iso_k"),
      col("iso_x").as("iso_start"), col("iso_y").as("iso_s"),
      lit(1L).as("iso_c")))
    // the merge rounds run under the loop conf (Fixpoint); the block
    // table only shrinks from |points|
    loop.run(blocks0.count()) {
    val (blocks, done) = loop.iterate(blocks0, maxRounds)(Seq(_)) {
      (blocks, _) =>
      // a boundary violates when the left block's mean exceeds the
      // right's: ps/pc > s/c ⇔ ps·c > s·pc — exact cross-multiplied
      // BIGINT, no division
      val marked = blocks
        .withColumn("iso_ps", lag("iso_s", 1).over(w))
        .withColumn("iso_pc", lag("iso_c", 1).over(w))
        .withColumn("iso_viol", col("iso_ps").isNotNull &&
          col("iso_ps") * col("iso_c") > col("iso_s") * col("iso_pc"))
        .withColumn("iso_pviol",
          coalesce(lag("iso_viol", 1).over(w), lit(false)))
        .withColumn("iso_rn", row_number().over(w))
        .withColumn("iso_runid",
          sum(when(col("iso_viol") && !col("iso_pviol"), 1L)
            .otherwise(0L)).over(wCum))
      // every other violating boundary of each run (run-relative
      // offsets 0, 2, 4, …): selected boundaries are ≥ 2 apart, so
      // no block is both absorber and absorbed
      val wRun = Window.partitionBy("iso_k", "iso_runid")
        .orderBy("iso_rn")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      // the any-merge convergence test rides the cut job as an
      // observed metric — 2 jobs per round
      val (sel, merges) = loop.observedCut(marked
        .withColumn("iso_rstart",
          min(when(col("iso_viol"), col("iso_rn"))).over(wRun))
        .withColumn("iso_merge", col("iso_viol") &&
          (col("iso_rn") - col("iso_rstart")) % 2 === 0),
        sum(when(col("iso_merge"), 1L).otherwise(0L)))
      if (merges == 0L) (blocks, true)
      else (loop.cut(sel
        .withColumn("iso_nmerge",
          coalesce(lead("iso_merge", 1).over(w), lit(false)))
        .withColumn("iso_ns", lead("iso_s", 1).over(w))
        .withColumn("iso_nc", lead("iso_c", 1).over(w))
        .filter(!col("iso_merge")) // absorbed right blocks drop out
        .select(col("iso_k"), col("iso_start"),
          when(col("iso_nmerge"), col("iso_s") + col("iso_ns"))
            .otherwise(col("iso_s")).as("iso_s"),
          when(col("iso_nmerge"), col("iso_c") + col("iso_nc"))
            .otherwise(col("iso_c")).as("iso_c"))), false)
    }
    if (!done) throw new IllegalStateException(
      s"Isotonic.fit did not converge in $maxRounds rounds")
    // expand blocks back to points: equi-join on the key, range filter
    // inside the block span (blocks per key ≤ points per key)
    val spans = blocks
      .withColumn("iso_end",
        coalesce(lead("iso_start", 1).over(w), lit(Long.MaxValue)))
      .select(col("iso_k").as("iso_sk"), col("iso_start"), col("iso_end"),
        col("iso_s"), col("iso_c"))
    pts.join(spans, pts("iso_k") === col("iso_sk") &&
        pts("iso_x") >= col("iso_start") && pts("iso_x") < col("iso_end"))
      .select(col("iso_k").as(keyCol), col("iso_x").as(xCol),
        col("iso_y").as(yCol), col("iso_s").as("fit_num"),
        col("iso_c").as("fit_den"),
        (col("iso_s").cast("double") / col("iso_c").cast("double"))
          .as("fit"))
    }
  }
}
