package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Base64

/** The benchmark's own seeded envelope generator. It shares no code with
  * the program, so a program change cannot alter the workload.
  *
  * Every value is a pure function of (seed, row index), so a batch can be
  * generated in parallel on any partitioning and still come out
  * byte-identical. Declared shares of the base envelopes:
  *   - 1 % `invalid_json` (half non-JSON text, half undecodable base64),
  *   - 1 % `missing_fields` (no tenant_id),
  *   - the rest valid; their idempotency key is the payload call_id (85 %),
  *     else the payload message_id (10 %), else the envelope trace_id.
  * Redeliveries (10 % of the base count) repeat a base envelope verbatim.
  * DLQ-bound rows carry `replay_attempts` 0-3, so with the default
  * `maxAttempts = 3` both the replay and the parking route get rows.
  */
object Gen {
  val AuditRate = 0.8
  val MaxAttempts = 3
  val RedeliveryShare = 0.10

  final case class Envelope(message_id: String, ordering_key: String,
      replay_attempts: Int, data: String)

  sealed trait Kind
  case object InvalidJson extends Kind
  case object MissingFields extends Kind
  final case class Valid(key: String) extends Kind

  /** SplitMix64 finalizer: a fast, well-mixed 64-bit hash. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rnd(seed: Long, i: Long, salt: Int): Long =
    mix(mix(seed * 31 + salt) ^ i)

  /** Uniform in [0, n). */
  def pick(seed: Long, i: Long, salt: Int, n: Int): Int =
    java.lang.Long.remainderUnsigned(rnd(seed, i, salt), n.toLong).toInt

  def redeliveries(nBase: Long): Long = math.round(nBase * RedeliveryShare)

  /** Base envelope index that row `k` of a batch carries. */
  def baseIndex(seed: Long, nBase: Long, k: Long): Long =
    if (k < nBase) k
    else java.lang.Long.remainderUnsigned(rnd(seed, k, 7), nBase)

  private val tenants = Array("tenant-a", "tenant-b", "tenant-c", "tenant-d")
  private val eventTypes = Array("call.completed", "chat.message", "call.missed")
  private val statuses = Array("completed", "failed", "missed")
  private val channels = Array("voice", "sms", "chat")

  /** A phone number in one of the formats the normalizer must handle. */
  private def phone(seed: Long, i: Long, salt: Int): String = {
    val n = java.lang.Long.remainderUnsigned(rnd(seed, i, salt), 10000000L)
    val line = f"${n % 10000}%04d"
    val mid = f"${(n / 10000) % 1000}%03d"
    pick(seed, i, salt + 1, 6) match {
      case 0 => s"+1415$mid$line"
      case 1 => s"(415) $mid-$line"
      case 2 => s"415.$mid.$line"
      case 3 => s"1-415-$mid-$line"
      case 4 => s"+44 20 7$mid $line"
      case _ => s"415$mid$line"
    }
  }

  def kind(seed: Long, i: Long): Kind = {
    val r = pick(seed, i, 1, 1000)
    if (r < 10) InvalidJson
    else if (r < 20) MissingFields
    else {
      val k = pick(seed, i, 2, 100)
      Valid(if (k < 85) s"call-$seed-$i" else if (k < 95) s"msg-$seed-$i"
        else s"trace-$seed-$i")
    }
  }

  /** Base envelope `i` of the batch generated from `seed`. */
  def base(seed: Long, i: Long): Envelope = {
    val kd = kind(seed, i)
    val messageId = s"m-$seed-$i"
    val tenant = tenants(pick(seed, i, 3, tenants.length))
    val attempts = kd match {
      case Valid(_) => 0
      case _ => pick(seed, i, 4, MaxAttempts + 1)
    }
    val data = kd match {
      case InvalidJson =>
        if ((i & 1L) == 0) b64(s"not-json-$seed-$i")
        else s"%%not base64 $i%%"
      case _ =>
        val keyFields = pick(seed, i, 2, 100) match {
          case k if k < 85 => s""""call_id":"call-$seed-$i","message_id":"pm-$i","""
          case k if k < 95 => s""""message_id":"msg-$seed-$i","""
          case _ => ""
        }
        val day = 1 + pick(seed, i, 5, 28)
        val secs = pick(seed, i, 6, 86400)
        val occurred = f"2024-03-$day%02dT${secs / 3600}%02d:${secs / 60 % 60}%02d:${secs % 60}%02dZ"
        val payload =
          s"""{$keyFields"caller":"${phone(seed, i, 10)}","callee":"${phone(seed, i, 12)}",""" +
          s""""from_phone":"${phone(seed, i, 14)}","to_phone":"${phone(seed, i, 16)}",""" +
          s""""duration":${pick(seed, i, 8, 3600)}.5,"status":"${statuses(pick(seed, i, 9, 3))}",""" +
          s""""channel":"${channels(pick(seed, i, 18, 3))}","text_length":${pick(seed, i, 19, 500)},""" +
          s""""metadata":{"region":"us-west","seq":"$i"}}"""
        val tenantField = if (kd == MissingFields) "" else s""""tenant_id":"$tenant","""
        b64(s"""{"envelope_version":"1","event_type":"${eventTypes(pick(seed, i, 11, 3))}",""" +
          s""""schema_version":"2",$tenantField"occurred_at":"$occurred",""" +
          s""""trace_id":"trace-$seed-$i","source":"perfbench","payload":$payload}""")
    }
    Envelope(messageId, tenant, attempts, data)
  }

  /** Row `k` of a batch of `nBase` base envelopes plus redeliveries. */
  def row(seed: Long, nBase: Long, k: Long): Envelope =
    base(seed, baseIndex(seed, nBase, k))

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(UTF_8))

  /** sampling.js's rule, implemented independently of the program: the
    * first 8 hex digits of sha256(key) as an unsigned 32-bit integer,
    * divided by 0xffffffff, sampled when below the rate. */
  def sampled(key: String, rate: Double = AuditRate): Boolean = {
    val d = MessageDigest.getInstance("SHA-256").digest(key.getBytes(UTF_8))
    val bucket = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
      ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    bucket.toDouble / 0xffffffffL.toDouble < rate
  }

  /** Spark's `xxhash64` of a string, for the events key-set checksum. */
  def keyHash(key: String): Long =
    org.apache.spark.sql.catalyst.expressions.XXH64.hashUTF8String(
      org.apache.spark.unsafe.types.UTF8String.fromString(key), 42L)

  /** What one batch must produce, route by route. `keyXor` / `keySum`
    * fingerprint the set of event keys: the XOR and the sum of the low
    * 32 bits of each key's xxhash64. */
  final case class Expected(rowsIn: Long, eventsOut: Long, dlqRows: Long,
      replayRows: Long, parkedRows: Long, sampledOutRows: Long,
      dedupedRows: Long, keyXor: Long, keySum: Long)

  def expected(seed: Long, nBase: Long): Expected = {
    require(nBase <= Int.MaxValue)
    // per base envelope: 0 invalid, 1 valid+sampled, 2 valid+sampled-out
    val cls = new Array[Byte](nBase.toInt)
    val attempts = new Array[Byte](nBase.toInt)
    var events, dlq, parked, sampledOut = 0L
    var keyXor, keySum = 0L
    var i = 0L
    while (i < nBase) {
      kind(seed, i) match {
        case Valid(k) if sampled(k) =>
          cls(i.toInt) = 1; events += 1
          val h = keyHash(k); keyXor ^= h; keySum += h & 0xffffffffL
        case Valid(_) => cls(i.toInt) = 2; sampledOut += 1
        case _ =>
          val a = pick(seed, i, 4, MaxAttempts + 1)
          attempts(i.toInt) = a.toByte
          dlq += 1; if (a >= MaxAttempts) parked += 1
      }
      i += 1
    }
    var deduped = 0L
    val nRows = nBase + redeliveries(nBase)
    var k = nBase
    while (k < nRows) {
      val j = baseIndex(seed, nBase, k).toInt
      cls(j) match {
        case 1 => deduped += 1
        case 2 => sampledOut += 1
        case _ => dlq += 1; if (attempts(j) >= MaxAttempts) parked += 1
      }
      k += 1
    }
    Expected(nRows, events, dlq, dlq - parked, parked, sampledOut, deduped,
      keyXor, keySum)
  }

  /** The generator's self-test: determinism per seed, sensitivity to the
    * seed, and the declared shares. Returns the failures (empty = pass). */
  def selfTest(): Seq[String] = {
    val n = 200000L
    def bytes(seed: Long): Array[Byte] = {
      val md = MessageDigest.getInstance("SHA-256")
      var k = 0L
      while (k < n + redeliveries(n)) {
        val e = row(seed, n, k)
        md.update(s"${e.message_id}|${e.ordering_key}|${e.replay_attempts}|${e.data}\n"
          .getBytes(UTF_8))
        k += 1
      }
      md.digest()
    }
    val errs = Seq.newBuilder[String]
    val a = bytes(11L)
    if (!java.util.Arrays.equals(a, bytes(11L))) errs += "same seed gave different bytes"
    if (java.util.Arrays.equals(a, bytes(12L))) errs += "different seeds gave identical bytes"
    var ij, mf, valid, attemptsSeen = 0L
    val attemptHist = new Array[Long](MaxAttempts + 1)
    var i = 0L
    while (i < n) {
      kind(11L, i) match {
        case InvalidJson => ij += 1; attemptHist(pick(11L, i, 4, MaxAttempts + 1)) += 1
        case MissingFields => mf += 1; attemptHist(pick(11L, i, 4, MaxAttempts + 1)) += 1
        case Valid(_) => valid += 1
      }
      i += 1
    }
    def share(c: Long, want: Double, tol: Double, what: String): Unit =
      if (math.abs(c.toDouble / n - want) > tol)
        errs += f"$what share ${c.toDouble / n}%.4f, declared $want"
    share(ij, 0.01, 0.002, "invalid_json")
    share(mf, 0.01, 0.002, "missing_fields")
    if (attemptHist.exists(_ == 0)) errs += s"replay_attempts 0-3 not all present: ${attemptHist.mkString(",")}"
    val e = expected(11L, n)
    if (e.rowsIn != n + n / 10) errs += s"rows ${e.rowsIn}, declared ${n + n / 10}"
    val sampledShare = e.eventsOut.toDouble / valid
    if (math.abs(sampledShare - AuditRate) > 0.01)
      errs += f"sampled share $sampledShare%.4f, declared $AuditRate"
    if (e.replayRows == 0 || e.parkedRows == 0) errs += "a replay route is empty"
    if (e.dedupedRows == 0) errs += "no redelivery reached the dedup"
    errs.result()
  }
}
