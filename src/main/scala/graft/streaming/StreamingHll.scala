package graft.streaming

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import org.apache.spark.sql.{Dataset, SparkSession}

/** Streaming distinct-count monitor: per key a DETERMINISTIC
  * HyperLogLog (m = 256 registers over the 60-bit sha256-prefix hash)
  * — the same construction as the batch q197 sketch, so the streaming
  * state is not merely "approximately right": after any sequence of
  * micro-batches the register array is BIT-IDENTICAL to the batch
  * aggregate over the same rows (asserted in StreamingHllSpec). That
  * register-exactness is the streaming face of the engine's
  * partial-aggregate-shipping story (q257 proves max-merge ≡ direct
  * build across sources; this proves it across TIME), and it makes
  * the monitor replay-safe: reprocessing a batch max-merges the same
  * rhos into the same registers.
  *
  * State per key: 256 bytes + a count — O(1) regardless of stream
  * length. Reading per (key, batch): exact n_so_far, filled-register
  * count, and the standard bias-corrected harmonic estimate (the one
  * double division, same closed form as q197).
  */
object StreamingHll {

  final case class KeyedValue(key: String, value: String)

  final case class HllState(regs: Array[Byte], n: Long)

  final case class HllReading(key: String, n_so_far: Long,
      n_filled: Int, estimate: Double, regs: Seq[Byte])

  /** 60-bit hash: first 15 hex chars of sha256("hll:" + value) — the
    * exact q197 convention (Spark sha256/concat twin, JVM-side). */
  private[streaming] def hash60(value: String): Long = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(("hll:" + value).getBytes(StandardCharsets.UTF_8))
    // 15 hex chars = 7.5 bytes: top 7 bytes plus the high nibble of
    // the 8th, matching BigInt(hexPrefix, 16)
    var h = 0L
    var i = 0
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  private[streaming] def rho(w: Long): Byte =
    if (w == 0L) 53.toByte
    else (53 - (64 - java.lang.Long.numberOfLeadingZeros(w))).toByte

  /** Harmonic estimate from a register array (q197's closed form). */
  def estimate(regs: Array[Byte]): Double = {
    var sNum = 0L
    var i = 0
    while (i < 256) {
      sNum += (if (regs(i) == 0) 9007199254740992L // empty: 2^53
               else 1L << (53 - regs(i)))
      i += 1
    }
    (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 9007199254740992.0 /
      sNum.toDouble
  }

  private[graft] def fold
      : KeyedFold[KeyedValue, String, HllState, HllReading] =
    KeyedFold(_.key, Ordering.by(_.value), HllState(new Array[Byte](256), 0L),
      (key, pre, sorted) => {
        val regs = pre.regs.clone()
        sorted.foreach { e =>
          val h = hash60(e.value)
          val reg = (h % 256L).toInt
          val r = rho(h >>> 8)
          if (r > regs(reg)) regs(reg) = r
        }
        val n = pre.n + sorted.length
        (HllState(regs, n), Iterator.single(HllReading(key, n,
          regs.count(_ != 0), estimate(regs), regs.toSeq)))
      })

  /** One reading per (key, micro-batch that touched it). */
  def monitor(events: Dataset[KeyedValue])(
      implicit spark: SparkSession): Dataset[HllReading] = {
    import spark.implicits._
    fold.run(events)
  }
}
