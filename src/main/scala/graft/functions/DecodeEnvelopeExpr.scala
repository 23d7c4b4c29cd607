package graft.functions

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.regex.Pattern
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, TryEval, UnBase64, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.json.{GetJsonObjectEvaluator, JsonTupleEvaluator}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** A base64 push body decoded into its envelope as one native
  * expression: one read of the body gives the struct
  * [[EnvelopeDecoder.schema]] (see [[EnvelopeDecoder]]), field for field
  * the values of
  *   - `__raw_json`: `cast(try_to_binary(data, 'base64') as string)`;
  *   - each of `fields`: `json_tuple(__raw_json, fields…)`;
  *   - `payload_id`: `coalesce(get_json_object(payload, '$.id'), …)` over
  *     `ids` in order, where `payload` is the field of that name;
  *   - `invalid_json`: `__raw_json IS NULL OR (NOT __raw_json RLIKE
  *     '^\s*\{' AND get_json_object(__raw_json, '$.probe') IS NULL)`.
  * Null in → null raw JSON and fields, `invalid_json` true.
  */
case class DecodeEnvelopeExpr(child: Expression, fields: Seq[String],
    payload: String, ids: Seq[String], probe: String) extends UnaryExpression {

  // built with the expression, so a bad layout fails on the driver
  private val kernel = new EnvelopeDecoder(fields, payload, ids, probe)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING child, got ${child.dataType.sql}")

  override val dataType: DataType = EnvelopeDecoder.schema(fields)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    kernel.decode(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("envelopeDecoder", kernel)
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      |InternalRow ${ev.value} = $k.decode(${c.isNull} ? null : ${c.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : DecodeEnvelopeExpr = copy(child = newChild)

  override def prettyName: String = "decode_envelope"
}

/** The envelope kernel (called from generated Java through a reference
  * object). Its scan slots and the reference's evaluators are built on
  * first use and reused across rows; each task deserializes its own copy
  * of the plan, and so of the kernel and its state, and nothing outlives
  * the task.
  *
  * Fast path: the body is decoded, its JSON scanned once from its bytes,
  * and every output is a slice of the decoded bytes. It takes only input
  * whose output it can prove equal to the reference's:
  *   - strict standard base64: length a multiple of 4, padding only at
  *     the end, zero trailing bits;
  *   - well-formed UTF-8 with no NUL that opens with `{`
  *     ([[PayloadNormalizer.wellFormed]]), at most `MaxBytes` long;
  *   - one compact JSON object, nothing after it: no whitespace outside
  *     strings, double-quoted strings with no backslash and no control
  *     character, nesting at most `MaxDepth` deep;
  *   - no known field twice, and no payload id twice in the payload;
  *   - the payload an object or null;
  *   - inside a value `json_tuple` or `get_json_object` re-serializes (an
  *     object, an array, a number, a literal): numbers that Jackson writes
  *     back as read (an integer of at most 18 characters other than `-0`,
  *     a fraction or exponent equal to its `Double.toString`) and no
  *     4-byte UTF-8 (Jackson's byte generator escapes it as a surrogate
  *     pair).
  * Every other input is computed by the reference, Spark's own
  * evaluators: `UnBase64` under `try`, `JsonTupleEvaluator`,
  * `GetJsonObjectEvaluator` and the `RLIKE` pattern.
  */
final class EnvelopeDecoder(fields: Seq[String], payload: String,
    ids: Seq[String], probe: String) extends Serializable {
  import EnvelopeDecoder._

  private val n = fields.size
  private val payloadAt = fields.indexOf(payload)
  require(payloadAt >= 0, s"the payload field $payload is not among $fields")
  require(schema(fields).fieldNames.distinct.length == n + 3,
    s"duplicate output names: ${schema(fields).simpleString}")
  require(ids.nonEmpty && ids.distinct.size == ids.size, s"payload ids must be distinct: $ids")
  private val fieldKeys = fields.map(_.getBytes(UTF_8)).toArray
  private val idKeys = ids.map(_.getBytes(UTF_8)).toArray

  @transient private lazy val state = new State

  def decode(data: UTF8String): InternalRow = {
    val out = fastOrNull(data)
    if (out != null) out else state.reference(data)
  }

  /** The fast path's result; null when the body leaves its grammar. */
  private[graft] def fastOrNull(data: UTF8String): InternalRow =
    if (data == null) null else state.fast(data)

  /** The kernel's scan slots and reference evaluators. */
  private final class State {
    /** The decoded body being scanned. */
    private var b: Array[Byte] = _
    /** Per known field and per payload id: seen yet, and its value's
      * output slice (`from` < 0: none, or null). */
    private val seen = new Array[Boolean](n)
    private val from = new Array[Int](n)
    private val until = new Array[Int](n)
    private val idSeen = new Array[Boolean](ids.size)
    private val idFrom = new Array[Int](ids.size)
    private val idUntil = new Array[Int](ids.size)

    def fast(data: UTF8String): InternalRow = {
      val raw = unbase64(data)
      if (raw == null || raw.length > MaxBytes) return null
      val json = UTF8String.fromBytes(raw)
      if (!PayloadNormalizer.wellFormed(json)) return null
      b = raw
      java.util.Arrays.fill(seen, false)
      java.util.Arrays.fill(from, -1)
      java.util.Arrays.fill(idSeen, false)
      java.util.Arrays.fill(idFrom, -1)
      if (root() != raw.length) return null
      val row = new GenericInternalRow(n + 3)
      row.update(0, json)
      var i = 0
      while (i < n) {
        if (from(i) >= 0) row.update(1 + i, UTF8String.fromBytes(raw, from(i), until(i) - from(i)))
        i += 1
      }
      i = 0
      while (i < idKeys.length && idFrom(i) < 0) i += 1
      if (i < idKeys.length) row.update(1 + n, UTF8String.fromBytes(raw, idFrom(i), idUntil(i) - idFrom(i)))
      row.update(2 + n, false)
      row
    }

    /** The byte at `i` as 0-255, or -1 past the end. */
    private def at(i: Int): Int = if (i < b.length) b(i) & 0xff else -1

    /** Index of the known key `b[ks, ke)` in `keys`, or -1. */
    private def known(ks: Int, ke: Int, keys: Array[Array[Byte]]): Int = {
      var k = 0
      while (k < keys.length) {
        val key = keys(k)
        if (key.length == ke - ks) {
          var m = 0
          while (m < key.length && key(m) == b(ks + m)) m += 1
          if (m == key.length) return k
        }
        k += 1
      }
      -1
    }

    /** Scan the root object (`b(0)` is `{`), filling the field slots;
      * the index past it, or -1 outside the grammar. */
    private def root(): Int = {
      var i = 1
      if (at(i) == '}') return i + 1
      while (true) {
        val ke = string(i, copied = false)
        if (ke < 0 || at(ke) != ':') return -1
        val f = known(i + 1, ke - 1, fieldKeys)
        val vs = ke + 1
        val v = at(vs)
        val ve =
          if (f == payloadAt && v == '{') obj(vs, copied = true, depth = 1, track = true)
          else if (f == payloadAt && v != 'n') -1
          // json_tuple writes a string field raw, everything else copied
          else value(vs, copied = f >= 0 && v != '"', depth = 1)
        if (ve < 0) return -1
        if (f >= 0) {
          if (seen(f)) return -1
          seen(f) = true
          slot(vs, ve, from, until, f)
        }
        val c = at(ve)
        if (c == '}') return ve + 1
        if (c != ',') return -1
        i = ve + 1
      }
      -1
    }

    /** Record value `b[vs, ve)` as slot `k`: a string without its
      * quotes, null as none, anything else as written. */
    private def slot(vs: Int, ve: Int, lo: Array[Int], hi: Array[Int], k: Int): Unit =
      if (at(vs) == '"') { lo(k) = vs + 1; hi(k) = ve - 1 }
      else if (at(vs) != 'n') { lo(k) = vs; hi(k) = ve }

    /** The index past the value at `i`, or -1 outside the grammar. */
    private def value(i: Int, copied: Boolean, depth: Int): Int = {
      val c = at(i)
      if (c == '"') string(i, copied)
      else if (c == '{') obj(i, copied, depth, track = false)
      else if (c == '[') arr(i, copied, depth)
      else if (c == 't') word(i, True)
      else if (c == 'f') word(i, False)
      else if (c == 'n') word(i, Null)
      else if (c == '-' || c >= '0' && c <= '9') number(i)
      else -1
    }

    /** A string with no backslash and no control character; a copied
      * one also holds no 4-byte UTF-8. */
    private def string(i: Int, copied: Boolean): Int = {
      if (at(i) != '"') return -1
      var j = i + 1
      while (j < b.length) {
        val c = b(j) & 0xff
        if (c == '"') return j + 1
        if (c == '\\' || c < 0x20 || copied && c >= 0xf0) return -1
        j += 1
      }
      -1
    }

    /** An object; with `track`, its own keys fill the payload-id slots. */
    private def obj(i0: Int, copied: Boolean, depth: Int, track: Boolean): Int = {
      if (depth > MaxDepth) return -1
      var i = i0 + 1
      if (at(i) == '}') return i + 1
      while (true) {
        val ke = string(i, copied)
        if (ke < 0 || at(ke) != ':') return -1
        val ve = value(ke + 1, copied, depth + 1)
        if (ve < 0) return -1
        if (track) {
          val k = known(i + 1, ke - 1, idKeys)
          if (k >= 0) {
            if (idSeen(k)) return -1
            idSeen(k) = true
            slot(ke + 1, ve, idFrom, idUntil, k)
          }
        }
        val c = at(ve)
        if (c == '}') return ve + 1
        if (c != ',') return -1
        i = ve + 1
      }
      -1
    }

    private def arr(i0: Int, copied: Boolean, depth: Int): Int = {
      if (depth > MaxDepth) return -1
      var i = i0 + 1
      if (at(i) == ']') return i + 1
      while (true) {
        val ve = value(i, copied, depth + 1)
        if (ve < 0) return -1
        val c = at(ve)
        if (c == ']') return ve + 1
        if (c != ',') return -1
        i = ve + 1
      }
      -1
    }

    private def word(i: Int, w: Array[Byte]): Int = {
      var m = 0
      while (m < w.length && at(i + m) == w(m)) m += 1
      if (m == w.length) i + m else -1
    }

    /** A JSON number Jackson writes back unchanged. */
    private def number(i: Int): Int = {
      def digits(k: Int): Int = { var j = k; while (at(j) >= '0' && at(j) <= '9') j += 1; j }
      var j = if (at(i) == '-') i + 1 else i
      j = if (at(j) == '0') j + 1 else if (at(j) >= '1' && at(j) <= '9') digits(j) else return -1
      val intEnd = j
      if (at(j) == '.') { j = digits(j + 1); if (j == intEnd + 1) return -1 }
      if (at(j) == 'e' || at(j) == 'E') {
        val s = if (at(j + 1) == '+' || at(j + 1) == '-') j + 2 else j + 1
        j = digits(s)
        if (j == s) return -1
      }
      if (j == intEnd) {
        if (j - i > 18 || j - i == 2 && b(i) == '-' && b(i + 1) == '0') -1 else j
      } else {
        val s = new String(b, i, j - i, ISO_8859_1)
        if (java.lang.Double.toString(java.lang.Double.parseDouble(s)) == s) j else -1
      }
    }

    private val dataRow = new GenericInternalRow(1)
    private lazy val unbase64Ref =
      TryEval(UnBase64(BoundReference(0, StringType, nullable = true), failOnError = true))
    private lazy val tuple = JsonTupleEvaluator(fields.map(Option(_)).toArray)
    private lazy val tupleFields = fields.map(UTF8String.fromString).toArray
    private lazy val idPaths =
      ids.map(id => GetJsonObjectEvaluator(UTF8String.fromString("$." + id)))
    private lazy val probePath = GetJsonObjectEvaluator(UTF8String.fromString("$." + probe))
    private lazy val opensObject = Pattern.compile("^\\s*\\{")

    /** Spark's own expressions, one after another. */
    def reference(data: UTF8String): InternalRow = {
      dataRow.update(0, data)
      val bytes = unbase64Ref.eval(dataRow).asInstanceOf[Array[Byte]]
      val raw = if (bytes == null) null else UTF8String.fromBytes(bytes)
      val row = new GenericInternalRow(n + 3)
      row.update(0, raw)
      val parsed = tuple.evaluate(raw, tupleFields).iterator.next()
      var i = 0
      while (i < n) { row.update(1 + i, parsed.getUTF8String(i)); i += 1 }
      val body = parsed.getUTF8String(payloadAt)
      var id: UTF8String = null
      if (body != null) {
        val paths = idPaths.iterator
        while (id == null && paths.hasNext) {
          val p = paths.next()
          p.setJson(body)
          id = p.evaluate().asInstanceOf[UTF8String]
        }
      }
      row.update(1 + n, id)
      row.update(2 + n, raw == null || !opensObject.matcher(raw.toString).find(0) && {
        probePath.setJson(raw)
        probePath.evaluate() == null
      })
      row
    }
  }
}

object EnvelopeDecoder {
  final val RawJson = "__raw_json"
  final val PayloadId = "payload_id"
  final val InvalidJson = "invalid_json"

  /** The kernel's output: the decoded JSON, the fields, the payload id
    * and the invalid-JSON flag, in that order. */
  def schema(fields: Seq[String]): StructType = StructType(
    (RawJson +: fields :+ PayloadId).map(StructField(_, StringType)) :+
      StructField(InvalidJson, BooleanType, nullable = false))

  /** Bounds under Jackson's read constraints (names under 50,000 chars,
    * nesting under 500), so the fast path never accepts what they
    * reject. */
  private final val MaxBytes = 32768
  private final val MaxDepth = 32

  private val True = "true".getBytes(ISO_8859_1)
  private val False = "false".getBytes(ISO_8859_1)
  private val Null = "null".getBytes(ISO_8859_1)

  /** Base64 alphabet value of each byte; -1 outside it. */
  private val Sextet: Array[Int] = {
    val t = Array.fill(256)(-1)
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789+/"
      .zipWithIndex.foreach { case (c, i) => t(c) = i }
    t
  }

  /** The bytes of strict standard base64 (length a multiple of 4, `=`
    * padding only at the end, zero trailing bits); null otherwise. */
  private def unbase64(s: UTF8String): Array[Byte] = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    if (len == 0 || (len & 3) != 0) return null
    def sextet(i: Int): Int = Sextet(Platform.getByte(base, off + i) & 0xff)
    val pad = if (Platform.getByte(base, off + len - 1) != '=') 0
      else if (Platform.getByte(base, off + len - 2) != '=') 1 else 2
    val out = new Array[Byte](len / 4 * 3 - pad)
    val whole = if (pad == 0) len else len - 4
    var i = 0
    var o = 0
    while (i < whole) {
      val v = sextet(i) << 18 | sextet(i + 1) << 12 | sextet(i + 2) << 6 | sextet(i + 3)
      if (v < 0) return null
      out(o) = (v >> 16).toByte
      out(o + 1) = (v >> 8).toByte
      out(o + 2) = v.toByte
      i += 4
      o += 3
    }
    if (pad == 2) {
      val v = sextet(i) << 6 | sextet(i + 1)
      if (v < 0 || (v & 0xf) != 0) return null
      out(o) = (v >> 4).toByte
    } else if (pad == 1) {
      val v = sextet(i) << 12 | sextet(i + 1) << 6 | sextet(i + 2)
      if (v < 0 || (v & 0x3) != 0) return null
      out(o) = (v >> 10).toByte
      out(o + 1) = (v >> 2).toByte
    }
    out
  }
}
