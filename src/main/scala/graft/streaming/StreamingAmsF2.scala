package graft.streaming

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming per-key AMS F₂ (second frequency moment) monitor — the
  * streaming twin of the batch sketch (q317): each key maintains the
  * same 32 ±1-signed counters over the ids it sees, and emits the
  * running F₂ estimate (Σc²) div 32 per micro-batch — the live
  * self-join-size / skew predictor. A hot key (one id dominating the
  * feed) drives F₂ toward n², a uniform feed toward n²/d; the ratio
  * est/n flags skew without tracking any per-id state.
  *
  * The sign algebra is EXACTLY q317's: sign_j(id) = 1 − 2·(parity of
  * the first-4-byte sha256 prefix of "ams<j>:<id>") — the same bit the
  * fused [[graft.functions.CoreFunctions.sha256PrefixLong]] Catalyst
  * expression extracts, computed here straight off the digest's 4th
  * byte (no hex round-trip). Counters are exact BIGINTs, so the
  * sketch is LINEAR: the state after any partition/replay order is
  * the same vector, a replayed batch reproduces bit-identical
  * readings, and the monitor agrees with the batch build on the same
  * rows (pinned by spec — the StreamingPageHinkley parity
  * discipline).
  *
  * State per key: 32 longs + a count — O(1) regardless of how many
  * distinct ids flow past (the whole point of the sketch).
  */
object StreamingAmsF2 {

  final case class IdEvent(id: Long, ts: Long, key: String, item: Long)

  final case class AmsState(n: Long, c: Seq[Long])

  final case class AmsReading(key: String, n: Long, f2_est: Long,
      counters: Seq[Long])

  val Counters: Int = 32

  /** q317's sign: parity of the uint32 sha256 prefix of
    * "ams<j>:<item>" — +1 on even, −1 on odd. */
  def sign(j: Int, item: Long): Long = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(s"ams$j:$item".getBytes(StandardCharsets.UTF_8))
    1L - 2L * (d(3) & 1)
  }

  private[graft] def fold: KeyedFold[IdEvent, String, AmsState, AmsReading] =
    KeyedFold(_.key, Ordering.by(e => (e.ts, e.id)),
      AmsState(0L, Seq.fill(Counters)(0L)), (key, pre, sorted) => {
        val c = pre.c.toArray
        sorted.foreach { e =>
          var j = 0
          while (j < Counters) { c(j) += sign(j, e.item); j += 1 }
        }
        val next = AmsState(pre.n + sorted.length, c.toSeq)
        val est = c.map(x => x * x).sum / Counters
        (next, Iterator.single(AmsReading(key, next.n, est, next.c)))
      })

  /** One reading per (key, micro-batch that touched it). State never
    * expires — F₂ is a running property of the whole feed. */
  def monitor(events: Dataset[IdEvent])(
      implicit spark: SparkSession): Dataset[AmsReading] = {
    import spark.implicits._
    fold.run(events)
  }
}
