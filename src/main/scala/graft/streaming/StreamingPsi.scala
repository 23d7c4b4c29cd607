package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming population-stability monitor — the streaming-native twin of
  * the batch PSI drift report (q161): each key (a source, a tenant, a
  * model version) accumulates a live histogram of its value stream over
  * the SAME fixed 50-unit bins the batch report uses, and every
  * micro-batch emits a PSI reading against a fixed REFERENCE histogram
  * (computed batch-side from the training/launch window, supplied as
  * expected proportions). PSI ≥ 0.2 is the conventional "distribution
  * has shifted" alarm; 0.1–0.2 is the watch zone.
  *
  * State per key is `bins` longs — O(1), key-cardinality-safe, and the
  * running histogram IS the baseline so state never expires. Bin ids and
  * the 0.5-count smoothing mirror q161 exactly, so a streamed corpus and
  * the batch report agree on the statistic (StreamingPsiSpec pins this).
  */
object StreamingPsi {

  final case class ValueEvent(event_id: Long, key: String, cents: Long)

  final case class HistState(n: Long, counts: Array[Long])

  final case class PsiReading(key: String, n_so_far: Long, psi: Double,
      drifted: Boolean)

  /** q161's bin rule: 50-unit (5000-cent) fixed-width bins, top-capped. */
  def binOf(cents: Long, bins: Int): Int =
    math.min(cents / 5000L, bins - 1L).toInt

  /** PSI of an observed count histogram vs reference proportions, with
    * the q161 smoothing (+0.5 per bin, +bins/2 on the total). */
  def psiOf(counts: Array[Long], n: Long, reference: Array[Double]): Double = {
    var psi = 0.0
    var i = 0
    while (i < counts.length) {
      val p1 = (counts(i) + 0.5) / (n + counts.length / 2.0 * 1.0)
      val p0 = reference(i)
      psi += (p1 - p0) * math.log(p1 / p0)
      i += 1
    }
    psi
  }

  private[graft] def fold(reference: Array[Double], alarmAbove: Double,
      minSamples: Long): KeyedFold[ValueEvent, String, HistState, PsiReading] = {
    val bins = reference.length
    KeyedFold(_.key, Ordering.by(_.event_id),
      HistState(0L, new Array[Long](bins)), (key, pre, sorted) => {
        val st = sorted.foldLeft(pre) { (st, e) =>
          val c = st.counts.clone()
          c(binOf(e.cents, bins)) += 1L
          HistState(st.n + 1, c)
        }
        (st, if (st.n >= minSamples) {
          val psi = psiOf(st.counts, st.n, reference)
          Iterator.single(PsiReading(key, st.n, psi, psi > alarmAbove))
        } else Iterator.empty)
      })
  }

  /** One PSI reading per (key, micro-batch that touched it), once the
    * key has `minSamples` values. `reference` must be smoothed
    * proportions over the same bin rule (sum ≈ 1, all entries > 0). */
  def monitor(values: Dataset[ValueEvent], reference: Array[Double],
      alarmAbove: Double = 0.2, minSamples: Long = 20L)(
      implicit spark: SparkSession): Dataset[PsiReading] = {
    import spark.implicits._
    require(reference.forall(_ > 0.0), "reference bins must be smoothed > 0")
    fold(reference, alarmAbove, minSamples).run(values)
  }
}
