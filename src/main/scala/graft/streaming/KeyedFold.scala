package graft.streaming

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** The one scaffold of the engine's keyed streaming folds: per key, each
  * micro-batch's events are sorted by `order` and folded into the key's
  * stored state (`zero` the first time) by `step`, which returns the new
  * state and the rows to emit. A key an empty batch touches emits nothing
  * and keeps its state. State never expires (NoTimeout): every folded
  * operator's state IS its baseline.
  *
  * `step` is pure: it never mutates the state it is given (array fields
  * are copied before they change), so `zero` can be shared and a fold
  * can be replayed. Because every batch is sorted by the same `order`,
  * folding a stream's events in one batch or cut at any points into
  * several must end in the same per-key state (KeyedFoldSpec checks this
  * for every folded operator). The fold is shipped to executors, so
  * every field must be serializable.
  *
  * Not every stateful operator fits: [[StatefulSessionizer]],
  * [[StreamingTransitions]] and [[StreamingDecayedRate]] set event-time
  * timeouts through their `GroupState`, and StreamingDecayedRate also
  * reads the watermark from it. A pure `step` could express that only if
  * the `GroupState` were handed back to it, and then this wrapper would
  * hide nothing, so they stay on raw `flatMapGroupsWithState`.
  */
final case class KeyedFold[E, K, S, O](key: E => K, order: Ordering[E],
    zero: S, step: (K, S, Seq[E]) => (S, Iterator[O])) {

  def run(events: Dataset[E])(implicit ke: Encoder[K], se: Encoder[S],
      oe: Encoder[O]): Dataset[O] =
    events.groupByKey(key).flatMapGroupsWithState[S, O](
      OutputMode.Append, GroupStateTimeout.NoTimeout) {
      (k: K, batch: Iterator[E], state: GroupState[S]) =>
        val sorted = batch.toSeq.sorted(order)
        if (sorted.isEmpty) Iterator.empty
        else {
          val (next, out) = step(k, state.getOption.getOrElse(zero), sorted)
          state.update(next)
          out
        }
    }
}
