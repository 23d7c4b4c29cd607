package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming Misra–Gries heavy-hitters monitor — the streaming twin of
  * the batch [[graft.operators.HeavyHitters]] aggregator: per stream key
  * (a tenant, a topic, the constant "" for global), at most `k` counters
  * survive in state, and each micro-batch that touches a key emits its
  * current top hitters with lower-bound counts. The trending-items /
  * hot-key alarm for a live feed at O(k) state per key.
  *
  * Same guarantee as the batch sketch (Misra–Gries): after n items,
  * true_count − n/(k+1) ≤ emitted count ≤ true_count, so every item with
  * frequency above n/(k+1) is guaranteed present. Which low-frequency
  * residue items also appear depends on fold order — within a batch the
  * fold is ordered by event_id, so a single-batch replay is
  * deterministic (the spec pins one).
  */
object StreamingHeavyHitters {

  final case class Item(event_id: Long, key: String, item: String)

  final case class MgState(n: Long, counts: Map[String, Long])

  final case class TopHits(key: String, n_items: Long, top: Seq[String],
      min_counts: Seq[Long])

  private def offer(counts: Map[String, Long], item: String,
      k: Int): Map[String, Long] = {
    val grown = counts.updatedWith(item) {
      case Some(c) => Some(c + 1L)
      case None    => Some(1L)
    }
    if (grown.size <= k) grown
    else {
      val kth = grown.values.toSeq.sortBy(-_)(Ordering.Long)(k)
      grown.flatMap { case (it, c) =>
        if (c - kth > 0) Some(it -> (c - kth)) else None
      }
    }
  }

  private[graft] def fold(k: Int, topN: Int)
      : KeyedFold[Item, String, MgState, TopHits] =
    KeyedFold(_.key, Ordering.by(_.event_id), MgState(0L, Map.empty),
      (key, pre, sorted) => {
        val st = sorted.foldLeft(pre) { (st, e) =>
          MgState(st.n + 1, offer(st.counts, e.item, k))
        }
        val top = st.counts.toSeq
          .sortBy { case (it, c) => (-c, it) }.take(topN)
        (st, Iterator.single(TopHits(key, st.n, top.map(_._1), top.map(_._2))))
      })

  /** One TopHits row per (key, micro-batch that touched it). `k` bounds
    * state; `topN ≤ k` bounds the emitted list. */
  def monitor(items: Dataset[Item], k: Int = 16, topN: Int = 5)(
      implicit spark: SparkSession): Dataset[TopHits] = {
    import spark.implicits._
    require(topN <= k, "topN cannot exceed the counter budget k")
    fold(k, topN).run(items)
  }
}
