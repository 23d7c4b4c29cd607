package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one driver of the engine's fixpoint loops (ConnectedComponents,
  * Bfs, Sssp, KCore, LabelPropagation, Closure, Isotonic, Matching,
  * Mst, Hits, Betweenness, StableMatching, Mmr). One instance drives
  * one operator call and owns four things:
  *
  *   1. the loop conf: [[run]] executes the operator's body under
  *      [[LoopTuning.withLoopConf]] with the row count the operator
  *      passes in (loop-sized shuffles, AQE off, codegen by size);
  *   2. the round counter and the cap: [[iterate]] runs rounds until
  *      the operator's round reports done or `maxRounds` have run, and
  *      returns the final state with whether the loop converged — each
  *      operator applies its own cap rule to that flag (return at a
  *      hop bound, or throw);
  *   3. the observed cut: [[observedCut]] folds one metric into the
  *      cut's own job with `observe()` instead of a second action. The
  *      checkpoint runs under `withAction`, so the SQLExecutionEnd
  *      event completes the observation with the metric collected
  *      while the cut materialized, and the cut truncates lineage, so
  *      the CollectMetrics node never reaches a downstream plan. The
  *      wait is bounded: a listener event that never arrives (bus
  *      overload) costs one timeout plus the SAME metric recomputed
  *      over the already-materialized cut — one cheap extra job, never
  *      a hang or a different value. Inside [[run]] AQE is off, so its
  *      empty-relation propagation cannot erase the node;
  *   4. the release of superseded cuts: every [[cut]] is tracked.
  *      After each round's new state is materialized (cuts are eager)
  *      the driver frees every tracked cut that is no longer a leaf of
  *      a live state frame, and when [[run]] ends it frees every one
  *      the returned frame does not read — or all of them, if the body
  *      threw. A freed cut's bytes ARE its data (lineage was truncated
  *      at it), so only a cut nothing will read again is freed; the
  *      operator names what stays readable through its `live` frames.
  *
  * Freeing sends block removals and deletes checkpoint-dir files; it
  * runs no Spark job.
  */
private[graft] final class Fixpoint(spark: SparkSession) {

  /** Cuts made through this driver and not yet freed. */
  private var cuts = List.empty[DataFrame]

  /** [[Frames.cut]] `df`, tracked for release. Usable before [[run]]
    * too, for a seed cut whose row count sizes the loop conf. */
  def cut(df: DataFrame): DataFrame = {
    val c = Frames.cut(df)
    cuts ::= c
    c
  }

  /** [[cut]] `df` and read `metric` (an aggregate over `df`'s columns,
    * which the cut keeps) off the cut's job. A NULL aggregate (a `sum`
    * over zero rows) reads as 0. */
  def observedCut(df: DataFrame, metric: Column): (DataFrame, Long) = {
    val obs = Observation()
    val c = cut(df.observe(obs, metric.as("n")))
    val row = Fixpoint.delivered(obs).getOrElse(c.agg(metric).first())
    (c, row.get(0) match {
      case null => 0L
      case n: Number => n.longValue()
    })
  }

  /** Run `body` under the loop conf for `rows` rows, then free every
    * tracked cut its result does not read. */
  def run(rows: Long)(body: => DataFrame): DataFrame = {
    var out: DataFrame = null
    try {
      out = LoopTuning.withLoopConf(spark, rows)(body)
      out
    } finally release(Option(out).toSeq)
  }

  /** Run rounds from `init` until `round(state, n)` (n = 1, 2, …)
    * returns done or `maxRounds` rounds have run; after each round
    * free the tracked cuts that no frame of `live(state)` reads.
    * Returns the final state and whether a round reported done. */
  def iterate[S](init: S, maxRounds: Int)(live: S => Seq[DataFrame])(
      round: (S, Int) => (S, Boolean)): (S, Boolean) = {
    var state = init
    var n = 0
    var done = false
    while (!done && n < maxRounds) {
      n += 1
      val (next, d) = round(state, n)
      state = next
      done = d
      release(live(state))
    }
    (state, done)
  }

  private def release(live: Seq[DataFrame]): Unit = {
    val read = live.flatMap(Fixpoint.cutIds).toSet
    val (kept, dead) = cuts.partition(c => Fixpoint.cutIds(c).forall(read))
    dead.foreach(Frames.freeCheckpoint)
    cuts = kept
  }
}

private[graft] object Fixpoint {

  private val WaitFor = scala.concurrent.duration.Duration(30, "s")

  /** The row `obs` collected, or None when it has not arrived within
    * the bounded wait. */
  def delivered(obs: Observation): Option[Row] =
    try Some(scala.concurrent.Await.result(obs.future, WaitFor))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Ids of the checkpointed RDDs `df` reads. */
  private def cutIds(df: DataFrame): Seq[Int] =
    df.queryExecution.analyzed.collectLeaves().collect {
      case lr: LogicalRDD => lr.rdd.id
    }
}
