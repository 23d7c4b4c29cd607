package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming per-key quantile monitor using the P² algorithm (Jain &
  * Chlamtac 1985, the classic O(1)-state online quantile estimator):
  * five markers track the target quantile and its neighbours, adjusted
  * per observation with parabolic interpolation — no sample buffer, so
  * state per key is 10 doubles + a count regardless of stream length.
  * The streaming complement of the batch side's exact (q91) and
  * sketch (q58) percentile paths: a latency/value SLO panel needs "p99
  * so far" per key at ingest time, not at batch close.
  *
  * Determinism: intra-batch fold order is pinned by (ts, id); the
  * estimator itself is deterministic given the fold order.
  */
object StreamingQuantile {

  final case class ValueEvent(id: Long, ts: Long, key: String, value: Double)

  final case class P2State(n: Long, q: Array[Double], npos: Array[Double],
      des: Array[Double])

  final case class QuantileReading(key: String, n_so_far: Long,
      p_estimate: Double, exact_regime: Boolean)

  private def initState(p: Double): P2State =
    P2State(0L, new Array[Double](5),
      Array(1.0, 2.0, 3.0, 4.0, 5.0),
      Array(1.0, 1.0 + 2.0 * p, 1.0 + 4.0 * p, 3.0 + 2.0 * p, 5.0))

  /** One P² observation step. */
  private def observe(st: P2State, x: Double, p: Double): P2State = {
    if (st.n < 5) {
      val q = st.q.clone(); q(st.n.toInt) = x
      val st2 = P2State(st.n + 1, q, st.npos.clone(), st.des.clone())
      if (st2.n == 5) java.util.Arrays.sort(st2.q)
      return st2
    }
    val q = st.q.clone(); val npos = st.npos.clone(); val des = st.des.clone()
    // find cell k and update extremes
    var k =
      if (x < q(0)) { q(0) = x; 0 }
      else if (x < q(1)) 0
      else if (x < q(2)) 1
      else if (x < q(3)) 2
      else if (x <= q(4)) 3
      else { q(4) = x; 3 }
    var i = k + 1
    while (i < 5) { npos(i) += 1.0; i += 1 }
    des(1) += p / 2.0; des(2) += p; des(3) += (1.0 + p) / 2.0; des(4) += 1.0
    // adjust interior markers
    i = 1
    while (i < 4) {
      val d = des(i) - npos(i)
      if ((d >= 1.0 && npos(i + 1) - npos(i) > 1.0) ||
          (d <= -1.0 && npos(i - 1) - npos(i) < -1.0)) {
        val sgn = math.signum(d)
        val qp = q(i) + sgn / (npos(i + 1) - npos(i - 1)) *
          ((npos(i) - npos(i - 1) + sgn) * (q(i + 1) - q(i)) /
            (npos(i + 1) - npos(i)) +
            (npos(i + 1) - npos(i) - sgn) * (q(i) - q(i - 1)) /
              (npos(i) - npos(i - 1)))
        q(i) =
          if (q(i - 1) < qp && qp < q(i + 1)) qp
          else q(i) + sgn * (q((i + sgn).toInt) - q(i)) /
            (npos((i + sgn).toInt) - npos(i))
        npos(i) += sgn
      }
      i += 1
    }
    P2State(st.n + 1, q, npos, des)
  }

  private def estimate(st: P2State, p: Double): Double =
    if (st.n == 0) Double.NaN
    else if (st.n < 5) {
      // exact regime: pick the ceil(p·n)-th of the sorted sample
      val s = st.q.take(st.n.toInt).sorted
      s(math.min(s.length - 1, math.max(0,
        math.ceil(p * st.n).toInt - 1)))
    } else st.q(2)

  private[graft] def fold(p: Double)
      : KeyedFold[ValueEvent, String, P2State, QuantileReading] =
    KeyedFold(_.key, Ordering.by(e => (e.ts, e.id)), initState(p),
      (key, pre, sorted) => {
        val st = sorted.foldLeft(pre)((st, e) => observe(st, e.value, p))
        (st, Iterator.single(QuantileReading(key, st.n, estimate(st, p),
          st.n < 5)))
      })

  /** One quantile reading per (key, micro-batch that touched it). */
  def monitor(events: Dataset[ValueEvent], p: Double = 0.9)(
      implicit spark: SparkSession): Dataset[QuantileReading] = {
    import spark.implicits._
    require(p > 0.0 && p < 1.0, "p must be in (0,1)")
    fold(p).run(events)
  }
}
