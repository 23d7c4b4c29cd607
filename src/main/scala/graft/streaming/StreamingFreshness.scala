package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming data-freshness monitor — the ops "is this source stale"
  * SLO panel (reference analog: the pipeline-health dashboard the ETL
  * reports into; every envelope carries an event timestamp that lags
  * its arrival). Per source the monitor keeps O(1) state: the max
  * event time seen, the event count, and an exact integer sum of
  * arrival lags — emitting one reading per (source, micro-batch) with
  * the mean and worst lag plus a staleness alarm when the batch's
  * max-event-time watermark has fallen more than `maxLagMs` behind the
  * batch's own arrival clock.
  *
  * Lag math stays in integer milliseconds (exact, order-free); replay
  * determinism is pinned by folding events in (arrival, id) order.
  */
object StreamingFreshness {

  /** `eventMs` — when the fact happened; `arrivalMs` — when the
    * pipeline received it (assigned at ingest). */
  final case class TimedEvent(id: Long, source: String,
      eventMs: Long, arrivalMs: Long)

  final case class FreshState(n: Long, maxEventMs: Long,
      lagSumMs: Long, maxLagMs: Long)

  final case class FreshReading(source: String, n_so_far: Long,
      max_event_ms: Long, mean_lag_ms: Double, worst_lag_ms: Long,
      watermark_behind_ms: Long, stale: Boolean)

  private[graft] def fold(maxAllowedLagMs: Long)
      : KeyedFold[TimedEvent, String, FreshState, FreshReading] =
    KeyedFold(_.source, Ordering.by(e => (e.arrivalMs, e.id)),
      FreshState(0L, Long.MinValue, 0L, 0L), (key, pre, sorted) => {
        val st = sorted.foldLeft(pre) { (st, e) =>
          val lag = math.max(0L, e.arrivalMs - e.eventMs)
          FreshState(st.n + 1, math.max(st.maxEventMs, e.eventMs),
            st.lagSumMs + lag, math.max(st.maxLagMs, lag))
        }
        val batchClock = sorted.map(_.arrivalMs).max
        val behind = batchClock - st.maxEventMs
        (st, Iterator.single(FreshReading(key, st.n, st.maxEventMs,
          st.lagSumMs.toDouble / st.n.toDouble, st.maxLagMs, behind,
          behind > maxAllowedLagMs)))
      })

  /** One freshness reading per (source, micro-batch that touched it). */
  def monitor(events: Dataset[TimedEvent], maxAllowedLagMs: Long = 60000L)(
      implicit spark: SparkSession): Dataset[FreshReading] = {
    import spark.implicits._
    fold(maxAllowedLagMs).run(events)
  }
}
