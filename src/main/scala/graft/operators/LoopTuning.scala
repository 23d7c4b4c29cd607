package graft.operators

import org.apache.spark.sql.SparkSession

/** Session tuning for round-synchronous fixpoint loops (Mst, Matching,
  * StableMatching, …): size the loop's shuffle width from the DATA the
  * loop actually iterates over instead of the session default, and turn
  * AQE off for the loop's tiny scheduler-latency-bound jobs.
  *
  * Rationale (measured on q332, PLANS.md round-11 A/B table): the
  * session `spark.sql.shuffle.partitions` is tuned for the scan-bound
  * queries; a fixpoint loop over a gated slice shuffles a few thousand
  * rows dozens of times, so the fixed per-task scheduling cost of
  * 32-wide shuffles — and AQE's per-stage re-planning barrier — can be
  * 5-10× the actual work. One row count picks the width (~1 partition
  * per 50k rows, capped at the session value so big inputs keep their
  * parallelism); both settings restore on exit, success or failure.
  *
  * AQE off inside loops also sidesteps two measured AQE traps: the
  * empty-relation propagation that erases CollectMetrics nodes at a
  * loop's termination round, and per-round re-planning of plans that
  * never change shape (DETERMINISM.md / PLANS.md round-11 notes).
  *
  * CONCURRENCY CONTRACT (hard precondition): a SparkSession's runtime
  * conf is session-global, so while a tuned loop runs, ANY query
  * planned on the same session plans under the narrowed width with AQE
  * off. Callers must keep each SparkSession single-threaded across a
  * tuned loop — the engine's own surfaces (Verify, Bench, the specs)
  * all do. NESTED tuned loops on one session are handled: each level
  * restores its parent's width on exit and the session's original
  * width + AQE setting restore only at the outermost exit, so two
  * stacked loops can never leave the session mis-configured.
  * INTERLEAVED loops from different threads are NOT handled —
  * serialize them, or give each its own `spark.newSession()` (shares
  * catalog and cache, isolates runtime conf).
  */
private[graft] object LoopTuning {

  /** Per-session loop-nesting state: the stack of pre-entry shuffle
    * widths (head = innermost parent) and the original AQE + codegen
    * flags saved at the outermost entry. Mutations synchronize on
    * [[active]]. */
  private final class Nesting(var widths: List[(String, String)],
    val aqe: String)
  private val active = scala.collection.mutable.Map.empty[SparkSession, Nesting]

  /** Row count below which a fixpoint loop's rounds run with whole-stage
    * codegen OFF (measured r14 at sf0.1; Bench's `layers` record gives
    * each loop entry's build, job and driver time): every round's
    * plan carries fresh literals/expr-ids, so its generated source never
    * hits the codegen cache and each stage pays a ~10–50 ms Janino
    * compile that interpreted execution of a few-thousand-row frame
    * never earns back — the 8-query loop family measured 15–35% faster
    * with codegen off (q335 3.09→2.02 s, q316 4.42→3.00 s build).
    * Breakeven: compile ≈30 ms vs ≤2× per-row penalty on ~100 ns/row
    * expressions ⇒ ~10⁵–10⁶ rows; 4M sits safely above it, so big
    * production folds (q332's 36M-pref sf1 market) KEEP codegen while
    * scheduler-latency-bound benches drop it. Same scale-adaptive
    * discipline as widthFor — not a local[32] constant: the decision
    * input is the loop's own row count. SPARK_GRAFT_LOOP_CODEGEN=on|off
    * forces either side (the A/B kill-switch). */
  private val CodegenRowThreshold = 4000000L

  private def codegenFor(rows: Long): String =
    sys.env.get("SPARK_GRAFT_LOOP_CODEGEN") match {
      case Some("on") => "true"
      case Some("off") => "false"
      case _ => if (rows < CodegenRowThreshold) "false" else "true"
    }

  /** The session's TRUE shuffle width — the saved pre-loop value when a
    * tuned loop is running, else the live conf value. Keeps width
    * derivations capped at the user's setting even when read from
    * inside a loop that already narrowed the conf. */
  private def trueSessionWidth(spark: SparkSession): Long =
    active.synchronized {
      active.get(spark).flatMap(_.widths.lastOption).map(_._1.toLong)
        .getOrElse(spark.conf.get("spark.sql.shuffle.partitions").toLong)
    }

  /** Shuffle width for a loop iterating over `rows` rows. */
  def widthFor(spark: SparkSession, rows: Long): String =
    math.min(trueSessionWidth(spark),
      math.max(1L, rows / 50000L + 1L)).toString

  private def tuningOff: Boolean =
    sys.env.get("SPARK_GRAFT_LOOP_TUNING").contains("off")

  /** Re-derive the loop's shuffle width mid-loop from the CURRENT row
    * count — for loops whose working set can GROW across rounds
    * (transitive closure's reach frame tends toward |V|², far past the
    * seed edge count the loop entered with). Still capped at the true
    * session width; no-op when tuning is off or when no tuned loop is
    * active for the session (so a stray call can't narrow a session). */
  def updateWidth(spark: SparkSession, rows: Long): Unit = {
    if (tuningOff) return
    val inLoop = active.synchronized(active.contains(spark))
    if (inLoop) {
      spark.conf.set("spark.sql.shuffle.partitions", widthFor(spark, rows))
      // a working set that grew past the threshold re-earns codegen
      spark.conf.set("spark.sql.codegen.wholeStage", codegenFor(rows))
    }
  }

  // NOTE (round-11 A/B, revised r14): an `evalWithoutAqe` variant for
  // LAZY unrolled plans — materialize the FINAL frame once with AQE
  // off — was tried and REJECTED: the final-frame eager checkpoint
  // forces every column that a consumer's count would have pruned
  // (7.6 → 14.8 s on q284). That finding stands for FINAL frames. In
  // r14 Hits moved to eager per-half-step cuts of its NARROW score
  // frames (no wide columns to force) under this loop conf, which is a
  // different trade and measured 6.7 → 3.0 s — see Hits.scoresFp.

  /** Run `body` with loop-sized shuffles and AQE off; restore after.
    * `SPARK_GRAFT_LOOP_TUNING=off` bypasses (the A/B kill-switch). */
  def withLoopConf[T](spark: SparkSession, rows: Long)(body: => T): T = {
    if (tuningOff) return body
    active.synchronized {
      val n = active.getOrElseUpdate(spark,
        new Nesting(Nil, spark.conf.get("spark.sql.adaptive.enabled")))
      n.widths ::= (spark.conf.get("spark.sql.shuffle.partitions"),
        spark.conf.get("spark.sql.codegen.wholeStage", "true"))
    }
    spark.conf.set("spark.sql.shuffle.partitions", widthFor(spark, rows))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.codegen.wholeStage", codegenFor(rows))
    try body
    finally active.synchronized {
      val n = active(spark)
      val (parentWidth, parentCodegen) = n.widths.head
      n.widths = n.widths.tail
      spark.conf.set("spark.sql.shuffle.partitions", parentWidth)
      spark.conf.set("spark.sql.codegen.wholeStage", parentCodegen)
      if (n.widths.isEmpty) {
        spark.conf.set("spark.sql.adaptive.enabled", n.aqe)
        active.remove(spark)
      }
    }
  }
}
