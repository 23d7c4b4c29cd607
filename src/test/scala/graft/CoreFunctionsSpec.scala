package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.functions.CoreFunctions._
import graft.functions.PhoneNormalizer

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[threads, maxFailures]: task retries ON (cluster default is
      // 4; bare local[4] pins maxFailures=1) so TaskChaosSpec can inject
      // first-attempt task failures and every other suite runs under the
      // retry semantics a real cluster has
      .master("local[4, 4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.chunkBase64String.enabled", "false")
      // strict codegen: a generated method failing to compile (e.g. the
      // 64 KB JVM limit) fails the test instead of silently dropping the
      // stage to interpreted execution — every suite is a codegen check
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `body` with a fresh checkpoint dir set on the shared context,
    * so every lineage cut inside it is reliable (`Frames.cut`). Every
    * later suite shares this context, so the setting must not leak: it
    * must be unset on entry, and is unset (and the dir deleted) on
    * exit. */
  def withCheckpointDir[T](body: java.nio.file.Path => T): T = {
    val sc = spark.sparkContext
    org.scalatest.Assertions.assert(sc.getCheckpointDir.isEmpty,
      s"a checkpoint dir leaked from an earlier test: ${sc.getCheckpointDir}")
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
    sc.setCheckpointDir(dir.toString)
    try body(dir)
    finally {
      sc.setCheckpointDir(null)
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }
}

class CoreFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Pinned vectors computed from the reference algorithm
    * (sampling.js:15-24): uint32(first 8 hex of sha256) / 0xffffffff. */
  private val samplingVectors = Seq(
    ("call-123", 1814378258L, 0.4224428577400844),
    ("msg-456", 317275444L, 0.0738714458592868),
    ("trace-789", 2098074263L, 0.488495981201645),
    ("key-a", 4044322834L, 0.9416422888035053),
    ("key-b", 2735027365L, 0.6367981819521632),
    ("tenant-a:42", 2307771631L, 0.5373199543769751))

  test("hash bucket is bit-exact vs the reference JS algorithm") {
    val rows = samplingVectors.map(_._1).toDF("key")
      .select(col("key"), hexPrefixToLong(sha2(col("key"), 256)),
        hashBucket(col("key")))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    samplingVectors.foreach { case (k, u32, bucket) =>
      assert(rows(k)._1 === u32, s"u32 for $k")
      assert(rows(k)._2 === bucket, s"bucket for $k")
    }
  }

  test("fused sha256_prefix_long is bit-identical to hex_prefix_long(sha2(s))") {
    // exercises both nHex parities (8: whole bytes, 15: trailing nibble)
    // over unicode, empty, long, and random ASCII strings
    val gen = Gen.oneOf(Gen.alphaNumStr, Gen.asciiPrintableStr,
      Gen.const(""), Gen.const("héllo wörld ✓"), Gen.const("x" * 5000))
    val samples = (1 to 200).flatMap(_ => gen.sample) :+ "syn:42:42"
    val df = samples.toDF("s").select(
      sha256PrefixLong(col("s")).as("fused8"),
      hexPrefixToLong(sha2(col("s"), 256)).as("chain8"),
      sha256PrefixLong15(col("s")).as("fused15"),
      hexPrefixToLong15(sha2(col("s"), 256)).as("chain15"))
    df.collect().foreach { r =>
      assert(r.getLong(0) === r.getLong(1))
      assert(r.getLong(2) === r.getLong(3))
    }
  }

  test("sha256_prefix_long rejects a non-string child at analysis time") {
    // the type error must surface at resolution (like the sha2 chain it
    // replaced), not as a runtime ClassCastException in generated code
    val df = Seq(1L, 2L).toDF("n")
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      df.select(sha256PrefixLong(col("n"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("string"))
  }

  test("sortedIntersectCount equals size(array_intersect) on sorted distinct arrays") {
    val rnd = new scala.util.Random(42)
    val cases = (0 until 40).map { _ =>
      def arr() = rnd.shuffle((0L until 200L).toVector)
        .take(rnd.nextInt(60)).distinct.sorted
      (arr(), arr())
    } :+ ((Vector.empty[Long], Vector(1L, 2L))) :+
      ((Vector(5L), Vector(5L))) // boundary: empty side, full overlap
    val df = cases.toDF("a", "b")
      .select(col("a"), col("b"),
        sortedIntersectCount(col("a"), col("b")).as("merge_n"),
        size(array_intersect(col("a"), col("b"))).as("builtin_n"))
    assert(df.filter(col("merge_n") =!= col("builtin_n")).count() === 0)
    // analysis-time type check, as with the other custom expressions
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((1L, 2L)).toDF("x", "y")
        .select(sortedIntersectCount(col("x"), col("y"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("array"))
  }

  test("stratifiedSample: constant rate matches shouldSample; strata sample independently") {
    val df = samplingVectors.map(_._1).toDF("key")
    // constant in-(0,1) rate ⇒ identical decisions to the scalar path
    for (rate <- Seq(0.25, 0.5, 0.75)) {
      val scalar = df.filter(shouldSample(col("key"), rate))
        .collect().map(_.getString(0)).toSet
      val strat = df.filter(stratifiedSample(col("key"), lit(rate)))
        .collect().map(_.getString(0)).toSet
      assert(strat === scalar, s"rate=$rate")
    }
    // per-stratum rates: a row's decision depends only on its own stratum's
    // rate, so the union of two single-rate runs equals one stratified run
    val strata = df.withColumn("stratum",
      when(length(col("key")) % 2 === 0, "even").otherwise("odd"))
    val rateCol = when(col("stratum") === "even", 0.25).otherwise(0.75)
    val stratified = strata.filter(stratifiedSample(col("key"), rateCol))
      .collect().map(_.getString(0)).toSet
    val manual = strata
      .filter((col("stratum") === "even" && shouldSample(col("key"), 0.25)) ||
        (col("stratum") === "odd" && shouldSample(col("key"), 0.75)))
      .collect().map(_.getString(0)).toSet
    assert(stratified === manual)
  }

  test("shouldSample: rate >= 1 keeps all, rate <= 0 drops all (sampling.js:16-17)") {
    val df = samplingVectors.map(_._1).toDF("key")
    assert(df.filter(shouldSample(col("key"), 1.0)).count() === 6)
    assert(df.filter(shouldSample(col("key"), 1.5)).count() === 6)
    assert(df.filter(shouldSample(col("key"), 0.0)).count() === 0)
    assert(df.filter(shouldSample(col("key"), -1.0)).count() === 0)
  }

  test("shouldSample is deterministic and monotone in rate") {
    val keys = Gen.listOfN(30, Gen.alphaNumStr.suchThat(_.nonEmpty)).sample
      .getOrElse(Seq("a", "b", "c").toList)
    val df = keys.toDF("key").cache()
    val at25 = df.filter(shouldSample(col("key"), 0.25)).as[String].collect().toSet
    val at25again = df.filter(shouldSample(col("key"), 0.25)).as[String].collect().toSet
    val at75 = df.filter(shouldSample(col("key"), 0.75)).as[String].collect().toSet
    assert(at25 === at25again)
    assert(at25.subsetOf(at75))
  }

  test("idempotency key priority chain: call_id > message_id > trace_id (validation.js:33-42)") {
    val rows = Seq(
      ("""{"call_id":"c1","message_id":"m1"}""", "t1", "c1"),
      ("""{"message_id":"m1"}""", "t1", "m1"),
      ("""{}""", "t1", "t1"),
      ("""{"other":1}""", null, null))
      .toDF("payload", "trace_id", "expected")
    val got = rows.select(
      idempotencyKey(col("payload"), Seq("$.call_id", "$.message_id"),
        col("trace_id")).as("key"), col("expected"))
      .collect()
    got.foreach(r => assert(r.get(0) === r.get(1)))
  }

  test("phone normalization matches the reference's published goldens (01_smoke_publish.js:156-161)") {
    val goldens = Seq(
      ("(415) 555-0001", "+14155550001"),
      ("415-555-0002", "+14155550002"),
      ("+44 20 7123 4567", "+442071234567"),
      ("555.123.4567", "+15551234567"),
      ("+1-555-987-6543", "+15559876543"),
      ("not-a-phone", null),
      ("123", null),
      (null, null))
    val got = goldens.toDF("raw", "expected")
      .select(normalizePhone(col("raw")).as("got"), col("expected"))
      .collect()
    got.foreach(r => assert(r.get(0) === r.get(1)))
  }

  test("phone normalization: regional national rules (GB/DE/FR/IN trunk handling)") {
    def check(region: String, cases: Seq[(String, String)]): Unit = {
      val got = cases.toDF("raw", "expected")
        .select(normalizePhone(col("raw"), region).as("got"), col("expected"))
        .collect()
      got.foreach(r => assert(r.get(0) === r.get(1), s"region=$region"))
    }
    check("GB", Seq(
      ("020 7123 4567", "+442071234567"),   // trunk 0 dropped
      ("20 7123 4567", "+442071234567"),    // no trunk
      ("+1 415 555 0001", "+14155550001"))) // intl wins regardless of region
    check("DE", Seq(
      ("030 901820", "+4930901820"),        // Berlin, short NSN
      ("0151 12345678", "+4915112345678"),  // mobile, long NSN
      ("151 12345678", null)))              // no trunk 0 → no national rule
    check("FR", Seq(
      ("01 42 68 53 00", "+33142685300"),
      ("06 12 34 56 78", "+33612345678"),
      ("1 42 68 53 00", null),              // 9 digits, no trunk
      ("01 42 68 53 001", null)))           // 11 digits → not national
    check("IN", Seq(
      ("98765 43210", "+919876543210"),     // 10-digit mobile (starts 9)
      ("09876543210", "+919876543210"),     // trunk-0 variant
      ("12345 43210", null),                // starts 1 → not a mobile
      ("01234543210", null)))               // trunk-0 of a non-mobile → null too
    check("BR", Seq(
      ("11 98765-4321", "+5511987654321"),  // mobile: area 11, NSN starts 9
      ("11 3456-7890", "+551134567890"),    // 10-digit landline
      ("11 88765-4321", null),              // 11 digits, NSN not 9-led
      ("011 3456-7890", null)))             // 0-led area → not national
    check("AU", Seq(
      ("02 9374 4000", "+61293744000"),     // trunk 0 dropped
      ("0412 345 678", "+61412345678"),     // mobile
      ("2 9374 4000", null)))               // no trunk → no rule
    check("ES", Seq(
      ("612 34 56 78", "+34612345678"),     // mobile
      ("917 70 10 00", "+34917701000"),     // landline
      ("512 34 56 78", null)))              // 5-led → no rule
    check("IT", Seq(
      ("06 6982 0001", "+390669820001"),    // landline keeps the 0
      ("347 123 4567", "+393471234567"),    // mobile
      ("47 123 4567", null)))               // neither 0- nor 3-led
    check("JP", Seq(
      ("03-1234-5678", "+81312345678"),     // Tokyo, trunk 0 dropped
      ("090-1234-5678", "+819012345678"),   // mobile
      ("3-1234-5678", null)))               // no trunk → no rule
    // unknown region: international only
    check("ZZ", Seq(
      ("+44 20 7123 4567", "+442071234567"),
      ("020 7123 4567", null)))
  }

  test("normalizePhone output is always null or well-formed E.164, and idempotent") {
    val inputs = (1 to 300).flatMap(_ => Gen.oneOf(
      Gen.asciiPrintableStr, Gen.numStr,
      Gen.chooseNum(0L, 999999999999999L).map("+" + _),
      Gen.chooseNum(0L, 99999999999L).map("0" + _)).sample) ++
      Seq("", "+", "++44", "abc", "(415) 555-0001", null)
    for (region <- Seq("US", "GB", "DE", "FR", "IN", "BR", "AU", "ES", "IT", "JP", "ZZ")) {
      val rows = inputs.toDF("raw")
        .select(col("raw"), normalizePhone(col("raw"), region).as("e164"),
          normalizePhone(normalizePhone(col("raw"), region), region)
            .as("twice"))
        .collect()
      rows.foreach { r =>
        val out = r.getAs[String]("e164")
        if (out != null) {
          assert(out.matches("^\\+[0-9]{8,15}$"),
            s"region=$region raw='${r.get(0)}' produced malformed '$out'")
          // a normalized number re-normalizes to itself (intl rule)
          assert(r.getAs[String]("twice") === out,
            s"region=$region not idempotent on '${r.get(0)}'")
        }
      }
    }
  }

  /** The phone rules as the regex `CASE` composition they were first
    * written in (and the DuckDB twins still use): the spec that
    * [[graft.functions.NormalizePhoneExpr]]'s byte kernel must equal. */
  private def regexNormalizePhone(phone: Column, region: String): Column = {
    val cleaned = regexp_replace(phone, "[^0-9+]", "")
    val hasPlus = startswith(cleaned, lit("+"))
    val digits = regexp_replace(cleaned, "[^0-9]", "")
    val n = length(digits)
    val intl = when(phone.isNull, lit(null).cast("string"))
      .when(hasPlus && n.between(8, 15), concat(lit("+"), digits))
    val withNational = region.toUpperCase match {
      case "US" => intl
        .when(!hasPlus && n === 10, concat(lit("+1"), digits))
        .when(!hasPlus && n === 11 && startswith(digits, lit("1")),
          concat(lit("+"), digits))
      case "GB" => intl
        .when(!hasPlus && n.between(10, 11) && startswith(digits, lit("0")),
          concat(lit("+44"), digits.substr(lit(2), lit(14))))
        .when(!hasPlus && n.between(9, 10) && !startswith(digits, lit("0")),
          concat(lit("+44"), digits))
      case "DE" => intl
        .when(!hasPlus && n.between(8, 12) && startswith(digits, lit("0")),
          concat(lit("+49"), digits.substr(lit(2), lit(14))))
      case "FR" => intl
        .when(!hasPlus && n === 10 && startswith(digits, lit("0")),
          concat(lit("+33"), digits.substr(lit(2), lit(14))))
      case "IN" => intl
        .when(!hasPlus && n === 10 && digits.substr(lit(1), lit(1))
            .isin("6", "7", "8", "9"),
          concat(lit("+91"), digits))
        .when(!hasPlus && n === 11 && startswith(digits, lit("0")) &&
            digits.substr(lit(2), lit(1)).isin("6", "7", "8", "9"),
          concat(lit("+91"), digits.substr(lit(2), lit(14))))
      case "BR" => intl
        .when(!hasPlus && n === 10 && !startswith(digits, lit("0")),
          concat(lit("+55"), digits))
        .when(!hasPlus && n === 11 && !startswith(digits, lit("0")) &&
            digits.substr(lit(3), lit(1)) === "9",
          concat(lit("+55"), digits))
      case "AU" => intl
        .when(!hasPlus && n === 10 && startswith(digits, lit("0")),
          concat(lit("+61"), digits.substr(lit(2), lit(14))))
      case "ES" => intl
        .when(!hasPlus && n === 9 && digits.substr(lit(1), lit(1))
            .isin("6", "7", "8", "9"),
          concat(lit("+34"), digits))
      case "IT" => intl
        .when(!hasPlus && n.between(9, 11) && startswith(digits, lit("0")),
          concat(lit("+39"), digits))
        .when(!hasPlus && n.between(9, 10) && startswith(digits, lit("3")),
          concat(lit("+39"), digits))
      case "JP" => intl
        .when(!hasPlus && n.between(10, 11) && startswith(digits, lit("0")),
          concat(lit("+81"), digits.substr(lit(2), lit(14))))
      case _ => intl
    }
    withNational.otherwise(lit(null).cast("string"))
  }

  /** Strings around every rule's edges: ASCII and non-ASCII noise,
    * non-ASCII digits (Arabic-Indic, fullwidth), a '+' after digits, and
    * digit runs of 6-17 led by each digit the rules test. */
  private def phoneInputs(seed: Long, count: Int): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    val noise = IndexedSeq(" ", "-", ".", "(", ")", "/", "x", "+", "\u00a0",
      "\u0663", "\u0669", "\uff10", "\uff17", "\u00e9", "\ud83d\ude00", "\u4e2d")
    def pick(xs: IndexedSeq[String]) = xs(rnd.nextInt(xs.size))
    def digitRun(k: Int) = (1 to k).map(_ => ('0' + rnd.nextInt(10)).toChar)
      .map(c => if (rnd.nextInt(5) == 0) pick(noise) + c else c.toString)
      .mkString
    val generated = (1 to count).map { _ =>
      rnd.nextInt(5) match {
        case 0 => (1 to rnd.nextInt(20)).map(_ => (32 + rnd.nextInt(95)).toChar)
          .mkString
        case 1 => (1 to rnd.nextInt(20)).map(_ => pick(noise ++
          (0 to 9).map(_.toString))).mkString
        case 2 => digitRun(rnd.nextInt(6)) + "+" + digitRun(4 + rnd.nextInt(10))
        case _ =>
          val lead = pick(IndexedSeq("", "", "", "+", "00", " +", "\u0663+"))
          val first = pick(IndexedSeq("0", "1", "3", "6", "9", "2", "5"))
          lead + first + digitRun(5 + rnd.nextInt(12))
      }
    }
    generated ++ Seq("", "+", "++", "+44", "12345678+", null,
      "+\u0664\u0661\u0665 555 0001")
  }

  test("normalizePhone kernel equals the regex CASE composition in every region, codegen'd and interpreted") {
    import graft.functions.NormalizePhoneExpr
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val inputs = phoneInputs(seed = 1234L, count = 3000)
    // an RDD-backed frame: a local Seq would be folded into a
    // LocalRelation by the optimizer and never reach generated code
    val df = spark.sparkContext.parallelize(inputs.map(Tuple1(_)), 4)
      .toDF("raw")
    for (region <- PhoneNormalizer.regions :+ "ZZ") {
      val both = df.select(col("raw"),
        normalizePhone(col("raw"), region).as("kernel"),
        regexNormalizePhone(col("raw"), region).as("spec"))
      assert(both.queryExecution.executedPlan.exists(
        _.isInstanceOf[WholeStageCodegenExec]), "codegen'd")
      val mismatches = both.filter(!(col("kernel") <=> col("spec"))).collect()
      assert(mismatches.isEmpty,
        s"region=$region codegen'd: ${mismatches.take(5).mkString("; ")}")
      // interpreted: the expression evaluated directly, against the spec
      val spec = both.select("raw", "spec").collect()
      assert(spec.length === inputs.length)
      spec.foreach { r =>
        val raw = r.getString(0)
        val got = NormalizePhoneExpr(Literal(raw), region).eval()
        assert(Option(got).map(_.toString).orNull === r.getString(1),
          s"region=$region interpreted raw='$raw'")
      }
    }
    // the rules fire: the inputs are not all null under every region
    assert(df.select(normalizePhone(col("raw"), "GB")).na.drop().count() > 100)
  }

  /** The normalized payload as the pipeline first computed it: a typed
    * struct round trip, `from_json` into a column, then `to_json` over a
    * struct rebuilt from its fields with the phone fields through
    * [[normalizePhone]]. The spec that
    * [[graft.functions.NormalizePayloadExpr]]'s kernel must equal byte
    * for byte. The parse stays one projection below the rebuild, as it
    * was: inlined into the rebuild, the optimizer would prune it into one
    * single-field parse per field, whose results differ on malformed
    * input. */
  private def referencePayload(df: DataFrame, region: String): DataFrame = {
    import graft.ingest.IngestPipeline.{payloadSchema, phoneFields}
    val parsed = df.withColumn("payload_struct",
      from_json(col("payload"), payloadSchema))
    val p = col("payload_struct")
    val rebuilt = struct(payloadSchema.fields.toIndexedSeq.map { f =>
      val v = p.getField(f.name)
      (if (phoneFields.contains(f.name)) normalizePhone(v, region) else v).as(f.name)
    }: _*)
    parsed.withColumn("payload_normalized", to_json(rebuilt))
  }

  /** Seeded payload bytes: random subsets of the known fields in random
    * order, with nulls, escapes, non-ASCII and emoji, unknown and nested
    * fields; then values outside the fast path's grammar (a number in a
    * phone field, a string in `duration`, 1e400, a long overflow, a float
    * in `text_length`, null and nested map values, duplicate and
    * case-variant keys, single quotes, NaN, a non-object root, malformed
    * JSON, trailing text), invalid UTF-8 bytes and null. */
  private def payloadInputs(seed: Long, count: Int): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: IndexedSeq[T]) = xs(rnd.nextInt(xs.size))
    val chars = IndexedSeq("a", "Z", "0", "7", " ", "-", "+", "(", ")", ".",
      "\\\"", "\\\\", "\\/", "\\n", "\\t", "\\u00e9", "\\u0041", "\\ud83d\\ude00",
      "\\ud800", "é", "中", "😀", "٣", "\u00a0", "/", "'")
    def text(k: Int) = (1 to k).map(_ => pick(chars)).mkString
    def phone() = pick(IndexedSeq("", "+", "00", "(", "0", "1")) +
      (1 to 6 + rnd.nextInt(10)).map(_ => if (rnd.nextInt(6) == 0) pick(chars)
        else ('0' + rnd.nextInt(10)).toChar.toString).mkString
    def str(s: String) = if (rnd.nextInt(40) == 0) s"'$s'" else "\"" + s + "\""
    def num() = pick(IndexedSeq(rnd.nextInt(4000).toString,
      (rnd.nextDouble() * 1000).toString, "-0.0", "0", "1e-320", "2.5E10",
      "123456789012345678", "-7"))
    def meta() = "{" + (0 until rnd.nextInt(4)).map(j =>
      s"${str("k" + j + text(rnd.nextInt(3)))}:${str(text(rnd.nextInt(5)))}")
      .mkString(",") + "}"
    def unknown() = pick(IndexedSeq("{\"a\":[1,{\"b\":null}],\"c\":\"x\"}", "[1,2,3]",
      "\"u\"", "12.5", "true", "null", "{}"))
    val good: IndexedSeq[(String, () => String)] = IndexedSeq(
      "call_id" -> (() => str("call-" + text(rnd.nextInt(6)))),
      "message_id" -> (() => str(text(rnd.nextInt(8)))),
      "caller" -> (() => str(phone())), "callee" -> (() => str(phone())),
      "from_phone" -> (() => str(phone())), "to_phone" -> (() => str(phone())),
      "duration" -> (() => num()),
      "status" -> (() => str(pick(IndexedSeq("completed", "failed", text(3))))),
      "channel" -> (() => str(text(rnd.nextInt(4)))),
      "text_length" -> (() => rnd.nextInt(100000).toString),
      "metadata" -> (() => meta()))
    val bad: IndexedSeq[String => String] = IndexedSeq(
      o => o.replaceFirst("^\\{", "{\"caller\":4155550123,"),
      o => o.replaceFirst("^\\{", "{\"duration\":\"12\","),
      o => o.replaceFirst("^\\{", "{\"duration\":1e400,"),
      o => o.replaceFirst("^\\{", "{\"duration\":NaN,"),
      o => o.replaceFirst("^\\{", "{\"duration\":\"NaN\","),
      o => o.replaceFirst("^\\{", "{\"text_length\":99999999999999999999,"),
      o => o.replaceFirst("^\\{", "{\"text_length\":1.5,"),
      o => o.replaceFirst("^\\{", "{\"metadata\":{\"a\":null,\"b\":\"c\"},"),
      o => o.replaceFirst("^\\{", "{\"metadata\":{\"a\":{\"n\":1}},"),
      o => o.replaceFirst("^\\{", "{\"metadata\":{\"a\":\"1\",\"a\":\"2\"},"),
      o => o.replaceFirst("^\\{", "{\"metadata\":\"flat\","),
      o => o.replaceFirst("^\\{", "{\"status\":\"x\",\"status\":\"y\","),
      o => o.replaceFirst("^\\{", "{\"Caller\":\"4155550123\","),
      o => o.replaceFirst("^\\{", "{\"CALL_ID\":\"c\","),
      o => o.replaceFirst("^\\{", "{'caller':'+44 20 7946 0958',"),
      o => o.replaceFirst("^\\{", "{\"call_id\":[1],"),
      o => o.replaceFirst("^\\{", "{\"call_id\":{\"x\":\"y\"},"),
      o => "[" + o + "]", o => "\"" + o.replace("\"", "'") + "\"", _ => "42",
      _ => "null", _ => "", o => " " + o, o => "\uFEFF" + o,
      o => o.dropRight(1), o => o + " trailing", o => o + "{}",
      o => o.replaceFirst(",", ",,"), o => o.replaceFirst("\\}$", ",}"))
    val badBytes = IndexedSeq(Array(0xff), Array(0xc0, 0x80), Array(0xed, 0xa0, 0x80),
      Array(0xf4, 0x90, 0x80, 0x80), Array(0xe2, 0x82), Array(0x80), Array(0x00),
      Array(0xf0, 0x9f, 0x98, 0x80)).map(_.map(_.toByte))
    def obj(): String = {
      val fields = rnd.shuffle(good).take(rnd.nextInt(good.size + 1)).map { case (k, v) =>
        s"\"$k\":" + (if (rnd.nextInt(8) == 0) "null" else v())
      } ++ (if (rnd.nextInt(4) == 0) Seq(s"\"extra_${rnd.nextInt(3)}\":${unknown()}")
        else Nil)
      rnd.shuffle(fields).mkString("{", ",", "}")
    }
    val generated = (1 to count).map { _ =>
      val o = obj()
      rnd.nextInt(10) match {
        case 0 | 1 | 2 => pick(bad)(o).getBytes("UTF-8")
        case 3 =>
          // raw bytes spliced inside a string value (or anywhere)
          val b = o.getBytes("UTF-8")
          val quote = b.indices.filter(b(_) == '"')
          val at = if (quote.nonEmpty && rnd.nextBoolean()) quote(rnd.nextInt(quote.size)) + 1
            else rnd.nextInt(b.length + 1)
          b.take(at) ++ pick(badBytes) ++ b.drop(at)
        case _ => o.getBytes("UTF-8")
      }
    }
    generated :+ null
  }

  test("normalizePayload kernel equals from_json → normalizePhone → to_json, byte for byte, codegen'd and interpreted") {
    import graft.functions.{NormalizePayloadExpr, PayloadNormalizer}
    import graft.ingest.IngestPipeline.{payloadSchema, phoneFields}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val inputs = payloadInputs(seed = 4321L, count = 3000)
    // an RDD-backed frame, so the kernel reaches generated code; binary →
    // string keeps invalid UTF-8 bytes as they are
    val df = spark.sparkContext.parallelize(inputs.zipWithIndex.map {
      case (b, i) => (i, b) }, 4).toDF("i", "bin")
      .select(col("i"), col("bin").cast("string").as("payload"))
    def bytes(out: DataFrame) = out.select(col("i"), col("payload_normalized").cast("binary"))
      .collect().map(r => r.getInt(0) -> r.getAs[Array[Byte]](1).toSeq).toMap
    def check(region: String, what: String): Unit = {
      val kernel = df.withColumn("payload_normalized",
        normalizePayload(col("payload"), payloadSchema, phoneFields, region))
      val projects = kernel.queryExecution.executedPlan.collect {
        case w: WholeStageCodegenExec => w.collect { case p: ProjectExec => p }
      }.flatten
      assert(projects.exists(_.projectList.exists(_.find(
        _.isInstanceOf[NormalizePayloadExpr]).isDefined)), "the kernel runs codegen'd")
      val got = bytes(kernel)
      val want = bytes(referencePayload(df, region))
      val diff = inputs.indices.filter(i => got(i) != want(i))
      assert(diff.isEmpty, s"$what codegen'd: " + diff.take(5).map(i =>
        s"in=${Option(inputs(i)).map(new String(_, "UTF-8")).orNull} " +
        s"got=${new String(got(i).toArray, "UTF-8")} want=${new String(want(i).toArray, "UTF-8")}")
        .mkString("; "))
      inputs.indices.foreach { i =>
        val lit = Literal(Option(inputs(i)).map(UTF8String.fromBytes).orNull, StringType)
        val out = NormalizePayloadExpr(lit, payloadSchema, phoneFields, region)
          .eval().asInstanceOf[UTF8String]
        assert(out.getBytes.toSeq == want(i), s"$what interpreted: input $i")
      }
    }
    for (region <- Seq("US", "GB")) check(region, s"region=$region")
    // both paths are exercised: most inputs take the fast path, and a
    // large share falls back to the reference
    val kernel = new PayloadNormalizer(payloadSchema, phoneFields, "US")
    val fast = inputs.count(b => b != null &&
      kernel.fastOrNull(UTF8String.fromBytes(b)) != null)
    assert(fast > inputs.size / 2 && inputs.size - fast > inputs.size / 4,
      s"fast path took $fast of ${inputs.size}")
    // the null-fields setting is read when the kernel first runs, as
    // to_json reads it, so an expression built before a change follows it
    val builtBefore = NormalizePayloadExpr(Literal(
      UTF8String.fromString("{\"caller\":null,\"duration\":1.5}"), StringType),
      payloadSchema, phoneFields, "US")
    val prev = spark.conf.get("spark.sql.jsonGenerator.ignoreNullFields")
    spark.conf.set("spark.sql.jsonGenerator.ignoreNullFields", "false")
    try {
      check("US", "ignoreNullFields=false")
      val late = builtBefore.eval().toString
      assert(late.contains("\"caller\":null,") && late.contains("\"duration\":1.5"), late)
    } finally spark.conf.set("spark.sql.jsonGenerator.ignoreNullFields", prev)
  }

  test("normalizePayload: a used kernel is collectable while its thread lives on") {
    import graft.functions.PayloadNormalizer
    import graft.ingest.IngestPipeline.{payloadSchema, phoneFields}
    import java.lang.ref.WeakReference
    import org.apache.spark.unsafe.types.UTF8String
    // every task deserializes its own kernel on a pooled executor thread;
    // the kernel's parse state must go with it, not stay on the thread.
    // Both paths run, so both halves of the state are built.
    def used(): WeakReference[PayloadNormalizer] = {
      val k = new PayloadNormalizer(payloadSchema, phoneFields, "US")
      for (in <- Seq("""{"caller":"4155550123"}""", """ {"caller":"4155550123"}"""))
        assert(k.normalize(UTF8String.fromString(in)).toString === """{"caller":"+14155550123"}""")
      new WeakReference(k)
    }
    val refs = (1 to 8).map(_ => used())
    var gcs = 0
    while (refs.exists(_.get != null) && gcs < 50) {
      System.gc()
      Thread.sleep(20)
      gcs += 1
    }
    assert(refs.count(_.get != null) === 0, s"kernels still reachable after $gcs GCs")
  }

  /** The envelope fields the pipeline surfaces, in its order. */
  private val envelopeFields = Seq("envelope_version", "event_type",
    "schema_version", "tenant_id", "occurred_at", "trace_id", "source",
    "payload")

  /** Decode and validation as the pipeline first computed them:
    * `try_to_binary` → cast → `json_tuple`, the key's `get_json_object`s
    * over the payload, and the `invalid_json` test over the raw JSON —
    * the spec [[graft.functions.DecodeEnvelopeExpr]]'s kernel must equal
    * byte for byte. Kept verbatim from `IngestPipeline.decoded` and
    * `validated`. */
  private def referenceEnvelope(raw: DataFrame): DataFrame = {
    val json = col("__raw_json")
    val decoded = raw.withColumn("__raw_json",
        noInline(expr("cast(try_to_binary(data, 'base64') as string)")))
      .select(col("*"), json_tuple(json, envelopeFields: _*).as(envelopeFields))
    val requiredOk = Seq("envelope_version", "event_type", "schema_version",
      "tenant_id", "occurred_at", "payload").map(col(_).isNotNull)
      .reduce(_ && _)
    val tsOk = expr("try_to_timestamp(occurred_at)").isNotNull
    val key = noInline(idempotencyKey(col("payload"),
      Seq("$.call_id", "$.message_id"), col("trace_id")))
    decoded.withColumn("idempotency_key", key)
      .withColumn("error_type",
        when(col("__raw_json").isNull ||
            !col("__raw_json").rlike("^\\s*\\{") &&
            get_json_object(col("__raw_json"), "$.event_type").isNull,
            lit("invalid_json"))
          .when(!requiredOk, lit("missing_fields"))
          .when(!tsOk, lit("invalid_timestamp"))
          .when(col("idempotency_key").isNull, lit("no_idempotency_key"))
          .otherwise(lit(null).cast("string")))
      .withColumn("is_valid", col("error_type").isNull)
  }

  /** Seeded push bodies (as bytes, so malformed ones survive): envelopes
    * with random subsets of the fields in random order, nulls, unknown
    * fields, nested values, numbers, non-ASCII and emoji, payloads with
    * and without ids; then, for about 40 %, one edge: whitespace, escapes,
    * single quotes, duplicate fields and payload ids (null first or not),
    * case-variant keys, non-object roots, trailing tokens, `1.50`/`1e3`/
    * `-0` numbers, deep nesting, an oversized body, malformed UTF-8 and
    * NUL bytes, or bad, padded, unpadded, URL-safe, spaced and
    * non-canonical base64; and a null body. */
  private def envelopeInputs(seed: Long, count: Int): Seq[Array[Byte]] = {
    val rnd = new scala.util.Random(seed)
    def pick[T](xs: IndexedSeq[T]) = xs(rnd.nextInt(xs.size))
    val plain = IndexedSeq("a", "Z", "7", " ", "-", ".", ":", "é", "中", "/", "(", ")")
    val odd = IndexedSeq("😀", "\\\"", "\\\\", "\\/", "\\n", "\\u0041",
      "\\ud83d\\ude00", "\\ud800", "'", "\t", "\u007f")
    def text(k: Int) = {
      val t = (1 to k).map(_ => pick(plain)).mkString
      if (rnd.nextInt(40) > 0) t else {
        val at = rnd.nextInt(k + 1)
        t.take(at) + pick(odd) + t.drop(at)
      }
    }
    def str(s: String) = "\"" + s + "\""
    val numbers = IndexedSeq("0", "7", "42", "-3", "1.5", "42.5", "0.1",
      "1.0E10", "2.5E-3", "1.50", "1e3", "-0", "-0.0", "1E400",
      "123456789012345678901", "3600")
    def num() = if (rnd.nextInt(6) == 0) pick(numbers) else rnd.nextInt(4000).toString
    def nested(d: Int): String = rnd.nextInt(if (d > 2) 4 else 6) match {
      case 0 => str(text(rnd.nextInt(6)))
      case 1 => num()
      case 2 => pick(IndexedSeq("true", "false", "null"))
      case 3 => "[]"
      case 4 => (0 until 1 + rnd.nextInt(3)).map(_ => nested(d + 1)).mkString("[", ",", "]")
      case _ => (0 until rnd.nextInt(3)).map(j => s"${str("k" + j)}:${nested(d + 1)}")
        .mkString("{", ",", "}")
    }
    def payload(): String = rnd.nextInt(40) match {
      case 0 => "null"
      case 1 => str(pick(IndexedSeq("""{\"call_id\":\"s\"}""", "{'call_id':'q'}", "text")))
      case 2 => pick(IndexedSeq("5", "[1,2]", "true", "[{\"call_id\":\"x\"}]"))
      case _ =>
        val id = () => rnd.nextInt(12) match {
          case 0 => "null"
          case 1 => num()
          case 2 => nested(2)
          case _ => str("id-" + text(1 + rnd.nextInt(6)))
        }
        val fields = Seq(
          Option.when(rnd.nextInt(4) > 0)(s"${str("call_id")}:${id()}"),
          Option.when(rnd.nextInt(3) > 0)(s"${str("message_id")}:${id()}"),
          Some(s"${str("caller")}:${str("(415) 555-" + rnd.nextInt(10000))}"),
          Some(s"${str("duration")}:${num()}"),
          Option.when(rnd.nextBoolean())(s"${str("metadata")}:${nested(1)}"),
          Option.when(rnd.nextInt(4) == 0)(s"${str("nested")}:{${str("call_id")}:${str("inner")}}"))
          .flatten
        rnd.shuffle(fields).mkString("{", ",", "}")
    }
    val known: IndexedSeq[(String, () => String)] = IndexedSeq(
      "envelope_version" -> (() => if (rnd.nextInt(10) == 0) "1" else str("1")),
      "event_type" -> (() => str(pick(IndexedSeq("call.completed", "chat.message", text(3))))),
      "schema_version" -> (() => if (rnd.nextInt(10) == 0) num() else str("2")),
      "tenant_id" -> (() => if (rnd.nextInt(15) == 0) nested(1) else str("tenant-" + text(2))),
      "occurred_at" -> (() => str(pick(IndexedSeq("2024-05-01T10:00:00Z",
        "2024-03-09T23:59:59Z", "2024-05-01 10:00:00", "not-a-date")))),
      "trace_id" -> (() => str("trace-" + text(1 + rnd.nextInt(5)))),
      "source" -> (() => str(text(rnd.nextInt(8)))),
      "payload" -> (() => payload()))
    def envelope(): String = {
      val fields = known.filter(_ => rnd.nextInt(12) > 0).map { case (k, v) =>
        s"${str(k)}:" + (if (rnd.nextInt(15) == 0) "null" else v())
      } ++ (if (rnd.nextInt(5) == 0) Seq(s"${str("extra")}:${nested(1)}") else Nil)
      rnd.shuffle(fields).mkString("{", ",", "}")
    }
    val edits: IndexedSeq[String => String] = IndexedSeq(
      o => " " + o, o => o + " ", o => o + "\n", o => "\u000b" + o, o => "﻿" + o,
      o => o.replace("\":", "\": "), o => o.replace(",", " ,"),
      o => o + " junk", o => o + "{}", o => o.dropRight(1), o => o.replaceFirst(",", ",,"),
      o => o.replaceFirst("\\}$", ",}"),
      o => "[" + o + "]", _ => "\"{}\"", _ => "42", _ => "null", _ => "", _ => "not json",
      o => o.replaceFirst("^\\{", "{\"tenant_id\":null,"),
      o => o.replaceFirst("^\\{", "{\"tenant_id\":\"dup\","),
      o => o + o.replaceFirst("^\\{", ","),
      o => o.replace("\"payload\":{", "\"payload\":{\"call_id\":null,"),
      o => o.replace("\"payload\":{", "\"payload\":{\"call_id\":\"first\","),
      o => o.replace("\"payload\":{", "\"payload\":{\"message_id\":\"m\",\"message_id\":null,"),
      o => o.replaceFirst("^\\{", "{'source':'sq',"),
      o => o.replaceFirst("^\\{", "{\"Tenant_ID\":\"case\","),
      o => o.replaceFirst("^\\{", "{\"source\":\"a\\\\\"b\","),
      o => o.replaceFirst("^\\{", "{\"source\":\"tab\there\","),
      o => o.replaceFirst("^\\{", "{\"tenant_id\":1.50,"),
      o => o.replaceFirst("^\\{", "{\"schema_version\":1e3,"),
      o => o.replaceFirst("^\\{", "{\"schema_version\":-0,"),
      o => o.replaceFirst("^\\{", "{\"extra\":" + "[" * 40 + "]" * 40 + ","),
      o => o.replaceFirst("^\\{", "{\"extra\":\"" + "x" * 40000 + "\","))
    val badBytes = IndexedSeq(Array(0xff), Array(0xc0, 0x80), Array(0xed, 0xa0, 0x80),
      Array(0xf4, 0x90, 0x80, 0x80), Array(0xe2, 0x82), Array(0x80), Array(0x00),
      Array(0x0b), Array(0xf0, 0x9f, 0x98, 0x80)).map(_.map(_.toByte))
    val b64 = java.util.Base64.getEncoder
    val b64edits: IndexedSeq[String => String] = IndexedSeq(
      _.dropRight(1), _ + "=", _.replace("=", ""), _.replace('+', '-').replace('/', '_'),
      s => s.take(s.length / 2) + " " + s.drop(s.length / 2),
      s => s.take(s.length / 2) + "\n" + s.drop(s.length / 2),
      s => s.take(4) + "=" + s.drop(4), "%%" + _ + "%%", _ => "!!!not-base64!!!", _ => "",
      _ + "é",
      // a non-zero trailing bit, which lenient decoders drop
      s => if (s.endsWith("=")) {
        val k = s.indexOf('=') - 1
        s.take(k) + (if (s(k) == 'A') 'B' else 'A') + s.drop(k + 1)
      } else s)
    val bodies = (1 to count).map { _ =>
      val o = envelope()
      val json = rnd.nextInt(20) match {
        case k if k < 5 => pick(edits)(o).getBytes("UTF-8")
        case 5 =>
          val b = o.getBytes("UTF-8")
          val at = rnd.nextInt(b.length + 1)
          b.take(at) ++ pick(badBytes) ++ b.drop(at)
        case _ => o.getBytes("UTF-8")
      }
      val data = b64.encodeToString(json)
      (if (rnd.nextInt(12) == 0) pick(b64edits)(data) else data).getBytes("UTF-8")
    }
    bodies :+ null
  }

  test("decodeEnvelope equals base64 → json_tuple → get_json_object, byte for byte, codegen'd and interpreted") {
    import graft.functions.{DecodeEnvelopeExpr, EnvelopeDecoder}
    import graft.ingest.IngestPipeline
    import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
    import org.apache.spark.unsafe.types.UTF8String
    val inputs = envelopeInputs(seed = 9021L, count = 3000)
    // an RDD-backed frame, so the kernel reaches generated code; binary →
    // string keeps malformed bytes as they are
    val raw = spark.sparkContext.parallelize(inputs.zipWithIndex.map {
      case (b, i) => (i, b) }, 4).toDF("i", "bin")
      .select(col("i"), col("bin").cast("string").as("data"))
    val outputs = ("__raw_json" +: envelopeFields) ++ Seq("idempotency_key", "error_type")
    def rows(df: DataFrame) = df.select(col("i") +: outputs.map(col(_).cast("binary")) :+
        col("is_valid"): _*)
      .collect().map(r => r.getInt(0) -> r.toSeq.tail.map {
        case b: Array[Byte] => b.toSeq
        case v => v
      }).toMap
    val want = rows(referenceEnvelope(raw))
    def check(what: String): Unit = {
      val kernel = IngestPipeline.validated(IngestPipeline.decoded(raw))
      val got = rows(kernel)
      val diff = inputs.indices.filter(i => got(i) != want(i))
      assert(diff.isEmpty, s"$what: ${diff.size} differ; " + diff.take(5).map { i =>
        val col = outputs.indices.find(k => got(i)(k) != want(i)(k)).map(outputs).getOrElse("is_valid")
        s"in=${Option(inputs(i)).map(new String(_, "UTF-8")).orNull} first diff in $col"
      }.mkString("; "))
    }
    // codegen'd, with no interpreted fall-back
    assert(spark.conf.get("spark.sql.codegen.fallback") === "false")
    val plan = IngestPipeline.validated(IngestPipeline.decoded(raw)).queryExecution.executedPlan
    assert(plan.collect { case w: WholeStageCodegenExec => w.collect { case p: ProjectExec => p } }
      .flatten.exists(_.projectList.exists(_.find(_.isInstanceOf[DecodeEnvelopeExpr]).isDefined)),
      s"the kernel runs codegen'd: $plan")
    check("codegen'd")
    // interpreted: every projection evaluates its expressions through eval
    val confs = Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try check("interpreted")
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    // both paths carry a large share of the inputs
    val kernel = new EnvelopeDecoder(envelopeFields, "payload", Seq("call_id", "message_id"),
      "event_type")
    val fast = inputs.count(b => b != null && kernel.fastOrNull(UTF8String.fromBytes(b)) != null)
    assert(fast > inputs.size / 2 && inputs.size - fast > inputs.size / 4,
      s"fast path took $fast of ${inputs.size}")
  }

  test("maskPhones: E.164 masked to +D***DD, non-phones untouched, count matches") {
    val rows = Seq(
      // E.164 from normalizePhone: masked, keep '+', first digit, last two
      ("""{"caller":"+14155550123","callee":"+442071838750"}""",
        """{"caller":"+1***23","callee":"+4***50"}""", 2L),
      // bare 8-digit minimum still matches; 7 digits after '+' does not
      ("call +12345678 or +1234567", "call +1***78 or +1234567", 1L),
      // a run LONGER than the 15-digit E.164 ceiling: the audit counts it
      // (first 15 digits match), so the mask must swallow the whole run —
      // no trailing digits may survive in clear text
      ("+12345678901234567890", "+1***90", 1L),
      // digits without '+' (durations, ids, national formats) untouched
      ("""{"duration":3600,"id":"(415) 555-0123"}""",
        """{"duration":3600,"id":"(415) 555-0123"}""", 0L),
      ("no phones here", "no phones here", 0L))
      .toDF("payload", "expected", "expected_n")
    rows.select(maskPhones(col("payload")).as("got"), col("expected"),
        phoneCount(col("payload")).as("got_n"), col("expected_n"))
      .collect().foreach { r =>
        assert(r.getString(0) === r.getString(1))
        assert(r.getLong(2) === r.getLong(3))
      }
  }

  test("error categorization taxonomy (handler.js:16-32)") {
    val rows = Seq(
      ("invalid_json", 422), ("malformed_envelope", 422),
      ("missing_fields", 400), ("no_idempotency_key", 400),
      ("invalid_timestamp", 400), ("bq_timeout", 503), ("anything", 503))
      .toDF("error_type", "expected")
    rows.select(categorizeError(col("error_type")).as("got"), col("expected"))
      .collect().foreach(r => assert(r.getInt(0) === r.getInt(1)))
  }
}
