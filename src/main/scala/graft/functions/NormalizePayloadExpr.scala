package graft.functions

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator, JsonParser, JsonToken}
import java.io.CharArrayWriter
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.json.{JsonToStructsEvaluator, StructsToJsonEvaluator}
import org.apache.spark.sql.catalyst.json.JSONOptions
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import scala.util.control.NonFatal

/** A JSON payload rewritten with its phone fields normalized, as one
  * native expression: the value of
  * `to_json(struct(f1, …, normalize_phone(phone), …))` over
  * `from_json(payload, schema)`, byte for byte, from one read of the
  * payload and one write of the result (see [[PayloadNormalizer]]).
  *
  * The output keeps the schema's fields in schema order, skips null
  * fields (unless `spark.sql.jsonGenerator.ignoreNullFields` is false
  * when the query runs), drops unknown fields, and replaces each phone
  * field by its [[NormalizePhoneExpr]] value under `region`. Null in →
  * the serialization of an all-null row (`{}`), as `to_json(struct(…))`
  * returns.
  */
case class NormalizePayloadExpr(child: Expression, schema: StructType,
    phoneFields: Seq[String], region: String) extends UnaryExpression {

  // built with the expression, so an unwritable schema fails on the driver
  private val kernel = new PayloadNormalizer(schema, phoneFields, region)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING child, got ${child.dataType.sql}")

  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    kernel.normalize(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("payloadNormalizer", kernel)
    val c = child.genCode(ctx)
    ev.copy(code = code"""${c.code}
      |UTF8String ${ev.value} = $k.normalize(${c.isNull} ? null : ${c.value});""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression)
      : NormalizePayloadExpr = copy(child = newChild)

  override def prettyName: String = "normalize_payload"
}

/** The payload kernel (called from generated Java through a reference
  * object). Its parse and write state is built on first use and reused
  * across rows. Each task deserializes its own copy of the plan, and so
  * of the kernel and its state, as Spark's own `JsonToStructs` keeps its
  * evaluator; nothing outlives the task. The state reads
  * `spark.sql.jsonGenerator.ignoreNullFields` when it is built, inside
  * the task, where `SQLConf.get` is the running query's conf.
  *
  * Fast path: the UTF-8 bytes are parsed once with the factory Spark's
  * own `from_json` options build, each known field is kept in a slot,
  * and the slots are written in schema order with the generator class
  * `to_json` uses. It takes only this grammar:
  *   - the root is an object;
  *   - a string field holds a JSON string or null;
  *   - a double field holds a JSON int or float (or null);
  *   - a bigint field holds a JSON int that fits in a long (or null);
  *   - a map field holds an object of string values with distinct keys
  *     (or null);
  *   - an unknown key is skipped, unless it equals a known name ignoring
  *     case.
  * Every other input is computed by the reference: Spark's
  * `JsonToStructsEvaluator`, the phone rule, `StructsToJsonEvaluator`.
  * That covers duplicate known keys, other token types, a non-object
  * root, trailing tokens, parse errors, bytes that are not well-formed
  * UTF-8 (`from_json` reads them through a replacing decoder), and
  * `ignoreNullFields = false`.
  */
final class PayloadNormalizer(schema: StructType, phoneFields: Seq[String],
    region: String) extends Serializable {
  import PayloadNormalizer._

  private val names = schema.fieldNames
  private val kinds = schema.fields.map(f => f.dataType match {
    case StringType => Str
    case DoubleType => Dbl
    case LongType => Lng
    case MapType(StringType, StringType, _) => Obj
    case _ => -1
  })
  require(kinds.forall(_ >= 0), "normalize_payload writes string, double, " +
    s"bigint and map<string,string> fields only: ${schema.simpleString}")
  private val isPhone = names.map(phoneFields.contains)
  require(phoneFields.forall(p => names.contains(p) && kinds(names.indexOf(p)) == Str),
    s"phone fields must be string fields of the schema: $phoneFields")
  private val regionCode = PhoneNormalizer.regionCode(region)
  private val index = {
    val m = new java.util.HashMap[String, Integer]
    names.indices.foreach(i => m.put(names(i), i))
    m
  }

  @transient private lazy val state = new State

  def normalize(payload: UTF8String): UTF8String = {
    val out = fastOrNull(payload)
    if (out != null) out else state.reference(payload)
  }

  /** The fast path's result; null when the payload leaves its grammar. */
  private[graft] def fastOrNull(payload: UTF8String): UTF8String =
    if (!state.ignoreNullFields || !wellFormed(payload)) null
    else state.fast(payload)

  /** The kernel's parse and write state. */
  private final class State {
    val ignoreNullFields: Boolean = SQLConf.get.jsonGeneratorIgnoreNullFields
    private val factory: JsonFactory =
      new JSONOptions(Map.empty[String, String], TimeZone, CorruptRecord)
        .buildJsonFactory()
    private val writer = new CharArrayWriter
    private val gen: JsonGenerator =
      new JsonFactory().createGenerator(writer).setRootValueSeparator(null)
    private val n = names.length
    /** Known keys read so far, and those among them holding a value. */
    private val seen = new Array[Boolean](n)
    private val present = new Array[Boolean](n)
    private val strs = new Array[String](n)
    private val dbls = new Array[Double](n)
    private val lngs = new Array[Long](n)
    /** A map field's keys and values, interleaved. */
    private val objs = Array.fill(n)(new java.util.ArrayList[String])
    private val keys = new java.util.HashSet[String]

    /** The normalized payload, or null when the input leaves the grammar
      * (a parse error included). */
    def fast(payload: UTF8String): UTF8String =
      if (try read(payload) catch { case NonFatal(_) => false }) write()
      else null

    /** Read the payload into the slots; false = outside the grammar. */
    private def read(payload: UTF8String): Boolean = {
      java.util.Arrays.fill(seen, false)
      java.util.Arrays.fill(present, false)
      val bb = payload.getByteBuffer
      val p = factory.createParser(bb.array, bb.arrayOffset + bb.position, bb.remaining)
      try {
        if (p.nextToken() != JsonToken.START_OBJECT) return false
        while (p.nextToken() == JsonToken.FIELD_NAME) {
          val name = p.currentName
          val i = index.get(name)
          if (i == null) {
            if (names.exists(_.equalsIgnoreCase(name))) return false
            p.nextToken()
            p.skipChildren()
          } else if (seen(i) || !readField(p, i)) return false
          else seen(i) = true
        }
        p.currentToken == JsonToken.END_OBJECT && p.nextToken() == null
      } finally p.close()
    }

    /** Read field `i`'s value into its slot; false = outside the grammar. */
    private def readField(p: JsonParser, i: Int): Boolean = {
      val t = p.nextToken()
      if (t == JsonToken.VALUE_NULL) return true
      present(i) = true
      kinds(i) match {
        case Str =>
          t == JsonToken.VALUE_STRING && { strs(i) = p.getText; true }
        case Dbl =>
          (t == JsonToken.VALUE_NUMBER_INT || t == JsonToken.VALUE_NUMBER_FLOAT) &&
            { dbls(i) = p.getDoubleValue; true }
        case Lng =>
          t == JsonToken.VALUE_NUMBER_INT &&
            p.getNumberType != JsonParser.NumberType.BIG_INTEGER &&
            { lngs(i) = p.getLongValue; true }
        case _ =>
          if (t != JsonToken.START_OBJECT) return false
          val kv = objs(i)
          kv.clear()
          keys.clear()
          while (p.nextToken() == JsonToken.FIELD_NAME) {
            val k = p.currentName
            if (!keys.add(k) || p.nextToken() != JsonToken.VALUE_STRING) return false
            kv.add(k)
            kv.add(p.getText)
          }
          true
      }
    }

    private def write(): UTF8String = {
      gen.writeStartObject()
      var i = 0
      while (i < n) {
        if (present(i)) kinds(i) match {
          case Str =>
            val v = if (!isPhone(i)) strs(i) else {
              val e = PhoneNormalizer.normalize(UTF8String.fromString(strs(i)), regionCode)
              if (e == null) null else e.toString
            }
            if (v != null) { gen.writeFieldName(names(i)); gen.writeString(v) }
          case Dbl => gen.writeFieldName(names(i)); gen.writeNumber(dbls(i))
          case Lng => gen.writeFieldName(names(i)); gen.writeNumber(lngs(i))
          case _ =>
            gen.writeFieldName(names(i))
            gen.writeStartObject()
            val kv = objs(i)
            var j = 0
            while (j < kv.size) {
              gen.writeFieldName(kv.get(j))
              gen.writeString(kv.get(j + 1))
              j += 2
            }
            gen.writeEndObject()
        }
        i += 1
      }
      gen.writeEndObject()
      gen.flush()
      val out = UTF8String.fromString(writer.toString)
      writer.reset()
      out
    }

    private lazy val fromJson = JsonToStructsEvaluator(Map.empty[String, String],
      schema, CorruptRecord, Some(TimeZone), false)
    private lazy val toJson = StructsToJsonEvaluator(
      Map("ignoreNullFields" -> ignoreNullFields.toString), schema, Some(TimeZone))

    /** `to_json(struct(…normalize_phone…))` over `from_json(payload)`. */
    def reference(payload: UTF8String): UTF8String = {
      val parsed: InternalRow =
        if (payload == null) null
        else fromJson.evaluate(payload).asInstanceOf[InternalRow]
      val row = new GenericInternalRow(n)
      if (parsed != null) {
        var i = 0
        while (i < n) {
          val v = parsed.get(i, schema.fields(i).dataType)
          row.update(i, if (v != null && isPhone(i))
            PhoneNormalizer.normalize(v.asInstanceOf[UTF8String], regionCode)
          else v)
          i += 1
        }
      }
      toJson.evaluate(row).asInstanceOf[UTF8String]
    }
  }
}

object PayloadNormalizer {
  private final val Str = 0
  private final val Dbl = 1
  private final val Lng = 2
  private final val Obj = 3

  // The fast path writes no type that depends on a time zone or on the
  // corrupt-record column (both only matter to timestamp fields and to a
  // schema that names that column).
  private final val TimeZone = "UTC"
  private final val CorruptRecord = "_corrupt_record"

  /** True when `s` is well-formed UTF-8 (what a strict decoder accepts:
    * no overlong forms, no surrogates, nothing above U+10FFFF), holds no
    * NUL byte and starts with `{`. Only then does a byte-level JSON
    * parser read the same characters as `from_json`'s replacing reader:
    * a leading `{` and no NUL also rule out the parser's BOM and
    * UTF-16/32 detection. */
  def wellFormed(s: UTF8String): Boolean = {
    if (s == null) return false
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val len = s.numBytes
    if (len == 0 || Platform.getByte(base, off) != '{') return false
    def cont(i: Int, lo: Int, hi: Int): Boolean = i < len && {
      val b = Platform.getByte(base, off + i) & 0xff
      b >= lo && b <= hi
    }
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, off + i) & 0xff
      if (b >= 0x01 && b < 0x80) i += 1
      else if (b >= 0xc2 && b <= 0xdf && cont(i + 1, 0x80, 0xbf)) i += 2
      else if (b >= 0xe0 && b <= 0xef &&
          cont(i + 1, if (b == 0xe0) 0xa0 else 0x80, if (b == 0xed) 0x9f else 0xbf) &&
          cont(i + 2, 0x80, 0xbf)) i += 3
      else if (b >= 0xf0 && b <= 0xf4 &&
          cont(i + 1, if (b == 0xf0) 0x90 else 0x80, if (b == 0xf4) 0x8f else 0xbf) &&
          cont(i + 2, 0x80, 0xbf) && cont(i + 3, 0x80, 0xbf)) i += 4
      else return false
    }
    true
  }
}
