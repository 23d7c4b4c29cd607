package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingHll
import graft.streaming.StreamingHll.{HllReading, KeyedValue}

/** Streaming HLL: the register array after any micro-batch sequence
  * must be BIT-IDENTICAL to the batch sketch built with Spark SQL's
  * own sha256 over the same rows — cross-validating the JVM-side hash
  * against the SQL-side one AND the state recurrence against the
  * batch aggregate (the stream-over-time face of q257's max-merge
  * proof). */
class StreamingHllSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  /** Batch twin: q197's register construction via Spark SQL exprs. */
  private def batchRegs(values: Seq[String]): Array[Byte] = {
    val rows = values.toDF("v")
      .select(expr(
        "cast(conv(substring(sha2(concat('hll:', v), 256), 1, 15), 16, 10) as bigint)")
        .as("h"))
      .select(pmod(col("h"), lit(256L)).as("reg"),
        shiftright(col("h"), 8).as("w"))
      .groupBy("reg")
      .agg(max(when(col("w") === 0L, lit(53))
        .otherwise(lit(53) - length(bin(col("w"))))).as("m_rho"))
      .collect()
    val regs = new Array[Byte](256)
    rows.foreach(r => regs(r.getLong(0).toInt) = r.getInt(1).toByte)
    regs
  }

  test("streaming registers equal the batch sketch after multi-batch ingest") {
    val b1 = (1 to 400).map(i => s"user-$i")
    val b2 = (200 to 700).map(i => s"user-$i") // overlaps b1: replays merge
    val b3 = Seq("user-1", "user-1", "user-999") // duplicates are no-ops
    val readings = StreamDriver.run(
      Seq(b1, b2, b3).map(_.map(KeyedValue("k", _))))(StreamingHll.monitor(_))
      .filter(_.key == "k").sortBy(_.n_so_far)
    assert(readings.length == 3)
    val last = readings.last
    assert(last.n_so_far == b1.size + b2.size + b3.size)
    val want = batchRegs(b1 ++ b2 ++ b3)
    assert(last.regs.toArray.sameElements(want),
      "streaming registers must equal the batch sketch bit-for-bit")
    // estimate from those registers lands within 10% of the exact 701
    val exact = (b1 ++ b2 ++ b3).distinct.size
    assert(math.abs(last.estimate - exact) / exact <= 0.10,
      s"estimate ${last.estimate} vs exact $exact")
    // monotone fill: registers only ever gain
    assert(readings.map(_.n_filled).sorted.sameElements(
      readings.map(_.n_filled)))
  }

  test("per-key isolation: two keys keep independent sketches") {
    val byKey = StreamDriver.run(Seq(
      (1 to 300).map(i => KeyedValue("a", s"x-$i")) ++
        Seq(KeyedValue("b", "only-one"))))(StreamingHll.monitor(_))
      .groupBy(_.key)
    assert(byKey("a").head.regs.toArray.sameElements(
      batchRegs((1 to 300).map(i => s"x-$i"))))
    assert(byKey("b").head.regs.toArray.sameElements(
      batchRegs(Seq("only-one"))))
    assert(byKey("b").head.n_filled == 1)
  }
}
