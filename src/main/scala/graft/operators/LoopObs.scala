package graft.operators

import org.apache.spark.sql.{DataFrame, Observation}

/** Fold a fixpoint loop's per-round row count into the round's eager
  * checkpoint job via `observe()` — the loops previously ran a separate
  * `count()` action per round for their convergence test, one whole
  * extra scheduler round-trip on a frame the checkpoint job had JUST
  * materialized (r14 optimization; the q332 Observation A/B proved the
  * pattern in round 11).
  *
  * `Dataset.localCheckpoint()`/`checkpoint()` run under `withAction`, so
  * the SQLExecutionEnd event fires and `Observation.get` returns the
  * metric collected DURING the materialization (pinned for both cut
  * modes, including the zero-row case with AQE off, in
  * DurableCheckpointParitySpec). The checkpoint truncates lineage to a
  * leaf, so the CollectMetrics node never appears in downstream plans
  * (no observed-name clashes, no DeduplicateRelations trap — the q332
  * round-11 lessons).
  *
  * Robustness: the wait rides `Observation.future` — the listener-side
  * promise — under a bounded `Await`, so a dropped event (bus overload)
  * costs one 30 s timeout plus a plain-action fallback on the already-
  * cached checkpoint frame (same value, one cheap extra job), never a
  * hang. r15: the r14 version wrapped the UNBOUNDED blocking `obs.get`
  * in a Future on the global EC — every timeout leaked one permanently
  * blocked pool thread and only TimeoutException fell back (ADVICE
  * r14). Awaiting the promise's own future blocks no extra thread, and
  * the catch is NonFatal so a listener-path error degrades to the
  * fallback instead of killing the loop. */
private[graft] object LoopObs {

  private val WaitFor = scala.concurrent.duration.Duration(30, "s")

  private def awaitRow(obs: Observation): org.apache.spark.sql.Row =
    scala.concurrent.Await.result(obs.future, WaitFor)

  /** The observed non-null metric `n` collected during a just-run
    * checkpoint job; `fallback` recomputes the same value with a plain
    * action if the listener event never arrives (it must be semantically
    * IDENTICAL to the observed aggregate, not merely similar). */
  def metric(obs: Observation)(fallback: => Long): Long =
    try {
      val row = awaitRow(obs)
      row.get(row.fieldIndex("n")) match {
        case l: java.lang.Long => l.longValue()
        case other => other.toString.toLong
      }
    } catch {
      case scala.util.control.NonFatal(_) => fallback
    }

  /** [[metric]] for aggregates that can legitimately observe NULL (e.g.
    * `sum` over zero rows): None = observed NULL. */
  def metricOpt(obs: Observation)(fallback: => Option[Long]): Option[Long] =
    try {
      val row = awaitRow(obs)
      row.get(row.fieldIndex("n")) match {
        case null => None
        case l: java.lang.Long => Some(l.longValue())
        case other => Some(other.toString.toLong)
      }
    } catch {
      case scala.util.control.NonFatal(_) => fallback
    }

  /** [[metric]] for the common case where the observed aggregate is
    * `count(lit(1))` over the checkpointed frame itself. */
  def count(obs: Observation, cut: DataFrame): Long =
    metric(obs)(cut.count())
}
