package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** E.164 phone normalization of a string column under one region's
  * national rules (see [[CoreFunctions.normalizePhone]] for the rules) as
  * one native expression: a single scan of the UTF-8 bytes, then the
  * region's rule, writing the result bytes directly.
  *
  * Null in → null out; a string no rule matches → null. Only ASCII '0'-'9'
  * count as digits and only a '+' before the first digit marks the number
  * international, exactly as the regex form `regexp_replace(s, '[^0-9+]',
  * '')` / `regexp_replace(…, '[^0-9]', '')` reads a string (the DuckDB
  * oracle twins keep that form). A byte scan is exact because UTF-8
  * multi-byte sequences never contain bytes below 0x80.
  */
case class NormalizePhoneExpr(child: Expression, region: String)
    extends UnaryExpression {

  private val regionCode = PhoneNormalizer.regionCode(region)

  // Analysis-time input typing, spelled out like Sha256PrefixLongExpr's.
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING child, got ${child.dataType.sql}")

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    PhoneNormalizer.normalize(input.asInstanceOf[UTF8String], regionCode)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.PhoneNormalizer.normalize($c, $regionCode);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression)
      : NormalizePhoneExpr = copy(child = newChild)

  override def prettyName: String = "normalize_phone"
}

/** Static kernel (called from generated Java). */
object PhoneNormalizer {
  final val US = 0
  final val GB = 1
  final val DE = 2
  final val FR = 3
  final val IN = 4
  final val BR = 5
  final val AU = 6
  final val ES = 7
  final val IT = 8
  final val JP = 9

  /** Regions with national rules, indexed by their code. */
  val regions: IndexedSeq[String] =
    IndexedSeq("US", "GB", "DE", "FR", "IN", "BR", "AU", "ES", "IT", "JP")

  /** Code of a region (case-insensitive); -1 = international format only. */
  def regionCode(region: String): Int = regions.indexOf(region.toUpperCase)

  // Every rule needs 8..15 digits, so at most 15 are kept; the longest
  // prefix ("+44") is written into the slack in front of them.
  private final val MaxDigits = 15
  private final val Slack = 3

  def normalize(s: UTF8String, region: Int): UTF8String = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    val buf = new Array[Byte](Slack + MaxDigits)
    var n = 0
    var hasPlus = false
    var seen = false // a digit or '+' already read
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, off + i)
      if (b >= '0' && b <= '9') {
        if (n < MaxDigits) buf(Slack + n) = b
        n += 1
        seen = true
      } else if (b == '+' && !seen) {
        hasPlus = true
        seen = true
      }
      i += 1
    }
    if (n < 8 || n > MaxDigits) return null
    if (hasPlus) return emit(buf, "+", n, drop0 = false)
    val d0 = buf(Slack)
    val d1 = buf(Slack + 1)
    val d2 = buf(Slack + 2)
    def mobile(d: Byte) = d >= '6' && d <= '9'
    region match {
      case US =>
        if (n == 10) emit(buf, "+1", n, drop0 = false)
        else if (n == 11 && d0 == '1') emit(buf, "+", n, drop0 = false)
        else null
      case GB =>
        if (n >= 10 && n <= 11 && d0 == '0') emit(buf, "+44", n, drop0 = true)
        else if (n >= 9 && n <= 10 && d0 != '0')
          emit(buf, "+44", n, drop0 = false)
        else null
      case DE =>
        if (n <= 12 && d0 == '0') emit(buf, "+49", n, drop0 = true) else null
      case FR =>
        if (n == 10 && d0 == '0') emit(buf, "+33", n, drop0 = true) else null
      case IN =>
        if (n == 10 && mobile(d0)) emit(buf, "+91", n, drop0 = false)
        else if (n == 11 && d0 == '0' && mobile(d1))
          emit(buf, "+91", n, drop0 = true)
        else null
      case BR =>
        if (d0 != '0' && (n == 10 || n == 11 && d2 == '9'))
          emit(buf, "+55", n, drop0 = false)
        else null
      case AU =>
        if (n == 10 && d0 == '0') emit(buf, "+61", n, drop0 = true) else null
      case ES =>
        if (n == 9 && mobile(d0)) emit(buf, "+34", n, drop0 = false) else null
      case IT =>
        if (n >= 9 && (d0 == '0' && n <= 11 || d0 == '3' && n <= 10))
          emit(buf, "+39", n, drop0 = false)
        else null
      case JP =>
        if (n >= 10 && n <= 11 && d0 == '0') emit(buf, "+81", n, drop0 = true)
        else null
      case _ => null
    }
  }

  /** `prefix` ++ the n digits in `buf` (without the first when drop0),
    * written in place in front of the digits. */
  private def emit(buf: Array[Byte], prefix: String, n: Int,
      drop0: Boolean): UTF8String = {
    val from = Slack + (if (drop0) 1 else 0)
    val start = from - prefix.length
    var i = 0
    while (i < prefix.length) {
      buf(start + i) = prefix.charAt(i).toByte
      i += 1
    }
    UTF8String.fromBytes(buf, start, prefix.length + n - (from - Slack))
  }
}
