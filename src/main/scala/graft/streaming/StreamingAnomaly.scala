package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming z-score anomaly detection with running moments — the
  * streaming-native twin of the batch outlier sweep (q93): each event is
  * scored against its type's statistics SO FAR, then folded into them.
  *
  * State per key is O(1) — three numbers (count, sum, sum of squares) —
  * so the operator is safe at any key cardinality, and the moments are
  * folded in event order WITHIN a micro-batch and across batches, which
  * makes the score reproducible for a fixed input sequence (a design
  * requirement the batch twin meets by fixed-point global moments; the
  * streaming form is inherently prefix-based — each event sees only its
  * past, which is exactly what an online monitor wants).
  *
  * Scoring starts once a key has `minSamples` events (moments of a
  * two-event history are noise, and z is undefined for sd = 0).
  */
object StreamingAnomaly {

  final case class ValueEvent(event_id: Long, event_type: String,
      ts: java.sql.Timestamp, value: Double)

  final case class Moments(n: Long, sum: Double, sumSq: Double)

  final case class Anomaly(event_id: Long, event_type: String,
      ts: java.sql.Timestamp, value: Double, z: Double, n_so_far: Long)

  private[graft] def fold(threshold: Double, minSamples: Long)
      : KeyedFold[ValueEvent, String, Moments, Anomaly] =
    KeyedFold(_.event_type, Ordering.by(e => (e.ts.getTime, e.event_id)),
      Moments(0L, 0.0, 0.0), (_, pre, sorted) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[Anomaly]
        val m = sorted.foldLeft(pre) { (m, e) =>
          if (m.n >= minSamples) {
            val mean = m.sum / m.n
            val variance = math.max(0.0, m.sumSq / m.n - mean * mean)
            val sd = math.sqrt(variance)
            if (sd > 0.0) {
              val z = (e.value - mean) / sd
              if (math.abs(z) > threshold)
                out += Anomaly(e.event_id, e.event_type, e.ts, e.value, z, m.n)
            }
          }
          Moments(m.n + 1, m.sum + e.value, m.sumSq + e.value * e.value)
        }
        (m, out.iterator)
      })

  /** Flag events whose value deviates more than `threshold` standard
    * deviations from their type's running mean. Works on a streaming or
    * batch Dataset; state never expires (the per-key footprint is three
    * numbers — expiry would forget the baseline). */
  def anomalies(events: Dataset[ValueEvent], threshold: Double = 3.0,
      minSamples: Long = 30L)(implicit spark: SparkSession): Dataset[Anomaly] = {
    import spark.implicits._
    fold(threshold, minSamples).run(events)
  }
}
