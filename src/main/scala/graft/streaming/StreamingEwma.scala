package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming per-key EWMA level/deviation monitor — the streaming twin
  * of the batch EWMA smoother (q203): each key holds its exponentially
  * weighted mean AND exponentially weighted variance in O(1) state
  * (West's recurrences), emitting one reading per (key, micro-batch)
  * with an alarm when the batch's last value deviates from the
  * pre-batch level by more than `k`·EW-stddev.
  *
  * The deployment shape: q203 computes the smoothed level over the
  * warehouse daily frame; this monitor maintains the same α = 1/2
  * smoothing per event type at ingest time, so level shifts alarm
  * minutes — not a batch cycle — after they happen.
  *
  * State per key: (n, ewma, ewmvar) — three numbers, key-cardinality
  * safe at any scale. Intra-batch fold order is pinned by (ts, id) so
  * replays produce identical readings.
  */
object StreamingEwma {

  final case class ValueEvent(id: Long, ts: Long, key: String, value: Double)

  final case class EwmaState(n: Long, ewma: Double, ewmvar: Double)

  final case class EwmaReading(key: String, n_so_far: Long,
      ewma: Double, ew_stddev: Double, last_value: Double,
      alarm: Boolean)

  private[graft] def fold(alpha: Double, k: Double, minSamples: Long)
      : KeyedFold[ValueEvent, String, EwmaState, EwmaReading] =
    KeyedFold(_.key, Ordering.by(e => (e.ts, e.id)), EwmaState(0L, 0.0, 0.0),
      (key, pre, sorted) => {
        val st = sorted.foldLeft(pre) { (st, e) =>
          if (st.n == 0L) EwmaState(1L, e.value, 0.0)
          else {
            val diff = e.value - st.ewma
            val incr = alpha * diff
            EwmaState(st.n + 1, st.ewma + incr,
              (1.0 - alpha) * (st.ewmvar + diff * incr))
          }
        }
        val last = sorted.last.value
        val alarm = pre.n >= minSamples && pre.ewmvar > 0.0 &&
          math.abs(last - pre.ewma) > k * math.sqrt(pre.ewmvar)
        (st, Iterator.single(EwmaReading(key, st.n, st.ewma,
          math.sqrt(st.ewmvar), last, alarm)))
      })

  /** One reading per (key, micro-batch that touched it). State never
    * expires — the level IS the baseline. */
  def monitor(events: Dataset[ValueEvent], alpha: Double = 0.5,
      k: Double = 3.0, minSamples: Long = 5L)(
      implicit spark: SparkSession): Dataset[EwmaReading] = {
    import spark.implicits._
    fold(alpha, k, minSamples).run(events)
  }
}
