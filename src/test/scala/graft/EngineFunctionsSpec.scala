package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.EngineFunctions

class EngineFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("engine functions are callable from SQL and plan as pure expressions") {
    EngineFunctions.registerAll(spark)
    assert(spark.sql("SELECT normalize_phone('(415) 555-0001')")
      .head().getString(0) === "+14155550001")
    assert(spark.sql("SELECT normalize_phone('junk')").head().isNullAt(0))
    // bit-exact vs the pinned reference vector for 'call-123'
    assert(spark.sql("SELECT hex_prefix_long(sha2('call-123', 256))")
      .head().getLong(0) === 1814378258L)
    assert(spark.sql("SELECT hash_bucket('call-123')")
      .head().getDouble(0) === 0.4224428577400844)
    assert(spark.sql("SELECT deterministic_sample('call-123', 0.5)")
      .head().getBoolean(0))
    assert(!spark.sql("SELECT deterministic_sample('call-123', 0.25)")
      .head().getBoolean(0))
    // no UDF barrier: the SQL form stays an expression tree over a scan
    val plan = spark.range(10)
      .selectExpr("hash_bucket(cast(id as string)) AS b")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan)
  }

  test("SQL normalize_phone equals the DataFrame normalizePhone") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    EngineFunctions.registerAll(spark)
    val raws = Seq("(415) 555-0001", "+44 20 7123 4567", "1-415-555-0001",
      "555.123.4567", "+1", "", "junk", "\u0664\u0661\u0665 555 0001", null)
    val df = spark.sparkContext.parallelize(raws.map(Tuple1(_)), 2).toDF("raw")
      .select(expr("normalize_phone(raw)").as("sql"),
        graft.functions.CoreFunctions.normalizePhone(col("raw")).as("df"))
    val rows = df.collect()
    assert(rows.count(!_.isNullAt(0)) >= 4)
    rows.foreach(r => assert(r.get(0) === r.get(1), r.toString))
    // a number is read as its decimal string
    assert(spark.sql("SELECT normalize_phone(4155550001)").head()
      .getString(0) === "+14155550001")
  }

  test("dot_product expression is bit-identical to the HOF fold it replaces") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // deterministic pseudo-random vectors, incl. negatives and a zero
    val rows = (0 until 50).map { i =>
      val a = Array.tabulate(64)(j => math.sin(i * 64 + j) * (j - 31))
      val b = Array.tabulate(64)(j => math.cos(i * 64 + j + 7) * 0.125)
      (a, b)
    }.toDF("a", "b")
    val got = rows.select(
        graft.functions.CoreFunctions.dotProduct(col("a"), col("b")).as("fast"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x).as("hof"))
      .collect()
    got.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"fast=${r.getDouble(0)} hof=${r.getDouble(1)} must be bit-equal")
    }
    // typed-check failure on non-double arrays
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Array(1L), Array(2L))).toDF("a", "b")
        .select(graft.functions.CoreFunctions.dotProduct(col("a"), col("b")))
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("array<double>"))
    // a malformed (length-mismatched) embedding row fails loudly rather
    // than silently folding the shorter prefix into a plausible score
    val mismatch = intercept[Exception] {
      Seq((Array(1.0, 2.0), Array(1.0))).toDF("a", "b")
        .select(graft.functions.CoreFunctions.dotProduct(col("a"), col("b")))
        .collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(mismatch).exists(_.getMessage != null) &&
      causes(mismatch).flatMap(c => Option(c.getMessage))
        .exists(_.contains("length mismatch")), mismatch.toString)
  }
}
