package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming embedding-centroid drift monitor — the streaming-native
  * twin of the batch per-source drift report (q126): each source's
  * running mean vector is maintained in O(dims) state and compared to a
  * fixed REFERENCE centroid (computed batch-side from the training
  * corpus, supplied as a constant), emitting one drift reading per
  * (source, micro-batch-update). The deployment shape: the reference is
  * what the model was trained on; the stream is what's arriving now; a
  * cosine below `alarmBelow` marks the source as drifted.
  *
  * State per key is the component-sum vector plus a count — O(dims),
  * key-cardinality-safe. Readings are emitted only once a source has
  * `minSamples` vectors (the mean of two embeddings is noise).
  */
object StreamingDrift {

  final case class VecEvent(vec_id: Long, source: String,
      embedding: Array[Double])

  final case class CentroidState(n: Long, sums: Array[Double])

  final case class DriftReading(source: String, n_so_far: Long,
      cos_to_reference: Double, drifted: Boolean)

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private[graft] def fold(reference: Array[Double], alarmBelow: Double,
      minSamples: Long)
      : KeyedFold[VecEvent, String, CentroidState, DriftReading] = {
    val dims = reference.length
    KeyedFold(_.source, Ordering.by(_.vec_id),
      CentroidState(0L, new Array[Double](dims)), (key, pre, sorted) => {
        val st = sorted.foldLeft(pre) { (st, e) =>
          require(e.embedding.length == dims,
            s"dim mismatch: got ${e.embedding.length}, reference has $dims")
          val s = st.sums.clone()
          var i = 0
          while (i < dims) { s(i) += e.embedding(i); i += 1 }
          CentroidState(st.n + 1, s)
        }
        (st, if (st.n >= minSamples) {
          // the mean is sums/n, but cosine is scale-invariant: compare sums
          val cos = cosine(st.sums, reference)
          Iterator.single(DriftReading(key, st.n, cos, cos < alarmBelow))
        } else Iterator.empty)
      })
  }

  /** One drift reading per (source, micro-batch that touched it), once
    * the source has `minSamples` vectors. State never expires — the
    * running centroid IS the baseline. */
  def drift(vecs: Dataset[VecEvent], reference: Array[Double],
      alarmBelow: Double = 0.8, minSamples: Long = 10L)(
      implicit spark: SparkSession): Dataset[DriftReading] = {
    import spark.implicits._
    fold(reference, alarmBelow, minSamples).run(vecs)
  }
}
