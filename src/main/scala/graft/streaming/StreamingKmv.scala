package graft.streaming

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming per-key KMV (k-minimum-values) distinct-count monitor —
  * the streaming twin of the batch bottom-k sketch (q321): each key
  * keeps the k smallest 60-bit sha256 hashes of the ids it has seen
  * and emits the running distinct estimate per micro-batch — the live
  * cardinality feed behind dictionary sizing, DISTINCT planning and
  * drift alarms.
  *
  * The hash is EXACTLY q321's ("kmv:<id>", first 15 hex chars — the
  * same 60-bit prefix [[graft.functions.CoreFunctions.sha256PrefixLong15]]
  * extracts), computed straight off the digest bytes; the state is a
  * SET, so arrival order, replays and duplicate ids cannot change it
  * (exact idempotence — the q321 merge property live: the state after
  * any partition of the feed equals the bottom-k of the union). Below
  * k distinct ids the estimate IS the exact count; above, it is the
  * same integer-rescaled (k−1)/F(h_k) estimator as the batch twin,
  * floor-for-floor.
  *
  * State per key: ≤ k longs — O(k) however many distinct ids flow by.
  */
object StreamingKmv {

  final case class IdEvent(id: Long, ts: Long, key: String, item: Long)

  final case class KmvState(mins: Seq[Long])

  final case class KmvReading(key: String, n_kept: Long, est: Long,
      saturated: Boolean)

  val K: Int = 256

  /** q321's 60-bit hash of "kmv:<item>": first 15 hex chars of the
    * sha256 digest = 60 bits off the first 8 bytes. */
  def hash60(item: Long): Long = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(s"kmv:$item".getBytes(StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    h >>> 4 // 64 bits read, keep the top 60 (15 hex chars)
  }

  /** q321's integer estimator: (n−1)·10¹² div (h_max div (2⁶⁰ div
    * 10¹²)) once saturated; the exact count below k. */
  def estimate(mins: Seq[Long]): Long =
    if (mins.size < K) mins.size.toLong
    else (K - 1).toLong * 1000000000000L /
      (mins.max / (1152921504606846976L / 1000000000000L))

  private[graft] def fold: KeyedFold[IdEvent, String, KmvState, KmvReading] =
    KeyedFold(_.key, Ordering.by(e => (e.ts, e.id)), KmvState(Seq.empty),
      (key, pre, sorted) => {
        val mins = (pre.mins ++ sorted.map(e => hash60(e.item)))
          .distinct.sorted.take(K)
        (KmvState(mins), Iterator.single(KmvReading(key, mins.size.toLong,
          estimate(mins), mins.size == K)))
      })

  /** One reading per (key, micro-batch that touched it). State never
    * expires — cardinality is a running property of the feed. */
  def monitor(events: Dataset[IdEvent])(
      implicit spark: SparkSession): Dataset[KmvReading] = {
    import spark.implicits._
    fold.run(events)
  }
}
