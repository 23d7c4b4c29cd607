package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming per-key Page–Hinkley upward-drift detector — the
  * streaming twin of the batch PH screen (q304): each key maintains
  * PH_t = m_t − min_{i≤t} m_i where m_t = Σ quantized deviations from
  * the RUNNING mean, and alarms when the statistic crosses the
  * threshold — the sequential change detector that fires on sustained
  * upward drift while staying quiet on symmetric noise (CUSUM's
  * running-mean sibling).
  *
  * The algebra is EXACTLY q304's integer quantization — with the
  * inclusive prefix sum s_t and 1-based counter t,
  *   dev_q = ((x_t·t − s_t) · 2²⁰) div t,  m_t = Σ dev_q,
  *   PH_t = m_t − min m_t
  * — all BIGINT, so a replayed partition reproduces bit-identical
  * readings and the monitor agrees with the batch twin on the same
  * sequence (pinned by spec, the StreamingBandJoin parity
  * discipline).
  *
  * State per key: (t, s_t, m_t, run_min) — four longs, key-cardinality
  * safe at any scale. Intra-batch fold order is pinned by (ts, id).
  */
object StreamingPageHinkley {

  final case class CentsEvent(id: Long, ts: Long, key: String, cents: Long)

  final case class PhState(t: Long, s: Long, m: Long, runMin: Long)

  final case class PhReading(key: String, t: Long, last_cents: Long,
      ph_q: Long, alarm: Boolean)

  /** q304's quantization scale (2^20). */
  val Scale: Long = 1048576L

  private[graft] def fold(thresholdCents: Long)
      : KeyedFold[CentsEvent, String, PhState, PhReading] =
    KeyedFold(_.key, Ordering.by(e => (e.ts, e.id)),
      PhState(0L, 0L, 0L, Long.MaxValue), (key, pre, sorted) => {
        val st = sorted.foldLeft(pre) { (st, e) =>
          val t = st.t + 1
          val s = st.s + e.cents
          val devQ = (e.cents * t - s) * Scale / t
          val m = st.m + devQ
          PhState(t, s, m, math.min(st.runMin, m))
        }
        val ph = st.m - st.runMin
        (st, Iterator.single(PhReading(key, st.t, sorted.last.cents, ph,
          ph > thresholdCents * Scale)))
      })

  /** One reading per (key, micro-batch that touched it). State never
    * expires — the running mean IS the baseline. */
  def monitor(events: Dataset[CentsEvent],
      thresholdCents: Long = 50000L)(
      implicit spark: SparkSession): Dataset[PhReading] = {
    import spark.implicits._
    fold(thresholdCents).run(events)
  }
}
