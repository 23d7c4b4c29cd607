package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingHll
import graft.streaming.StreamingHll.{HllReading, KeyedValue}

/** Bench-scale streaming HLL (r11 VERDICT ask #7 — the sketch-monitor
  * leg of the scale-evidence tier): the FULL sf0.1 events table
  * streamed through [[StreamingHll.monitor]] as micro-batches, keyed
  * by event_type over user ids, must end with register arrays
  * BIT-IDENTICAL to the batch sketch built by Spark SQL's own sha256
  * register construction (q197's formulation) over the same rows —
  * per key, all 256 registers, no tolerance. Register equality is the
  * strongest possible sketch gate: it proves the streaming state
  * recurrence (per-event max-merge) IS the batch aggregate at corpus
  * scale, so partial sketches shipped from executors merge to the
  * identical answer however the 100 TB stream is partitioned.
  */
class StreamingHllScaleSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  /** Batch twin: q197's register construction via Spark SQL exprs,
    * per key (the StreamingHllSpec twin, grouped). */
  private def batchRegsByKey(kv: Seq[(String, String)])
      : Map[String, Array[Byte]] = {
    val rows = kv.toDF("k", "v")
      .select(col("k"), expr(
        "cast(conv(substring(sha2(concat('hll:', v), 256), 1, 15), 16, 10) as bigint)")
        .as("h"))
      .select(col("k"), pmod(col("h"), lit(256L)).as("reg"),
        shiftright(col("h"), 8).as("w"))
      .groupBy("k", "reg")
      .agg(max(when(col("w") === 0L, lit(53))
        .otherwise(lit(53) - length(bin(col("w"))))).as("m_rho"))
      .collect()
    rows.groupBy(_.getString(0)).map { case (k, rs) =>
      val regs = new Array[Byte](256)
      rs.foreach(r => regs(r.getLong(1).toInt) = r.getInt(2).toByte)
      k -> regs
    }
  }

  test("sf0.1 events streamed in micro-batches end register-exact vs the batch sketch") {
    val kv = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_type").cast("string").as("k"),
        col("user_id").cast("string").as("v"))
      .as[(String, String)].collect()
    val want = batchRegsByKey(kv.toSeq)
    val exactByKey = kv.groupBy(_._1).map { case (k, vs) =>
      k -> vs.map(_._2).distinct.length }

    val batchSize = 5000
    val batches = kv.grouped(batchSize)
      .map(_.map { case (k, v) => KeyedValue(k, v) }.toSeq).toSeq
    val t0 = System.nanoTime()
    val rows = StreamDriver.run(batches)(StreamingHll.monitor(_))
    val secs = (System.nanoTime() - t0) / 1e9

    // final reading per key = the one with the highest n_so_far
    val finals = rows
      .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.n_so_far) }
    assert(finals.keySet === want.keySet)
    finals.foreach { case (k, reading) =>
      assert(reading.regs.toArray.sameElements(want(k)),
        s"key $k: streaming registers diverge from the batch sketch")
      val exact = exactByKey(k)
      assert(math.abs(reading.estimate - exact) / exact <= 0.15,
        s"key $k: estimate ${reading.estimate} vs exact $exact")
    }
    val total = finals.values.map(_.n_so_far).sum
    assert(total === kv.length.toLong,
      "every event must be folded exactly once")

    val rate = kv.length / secs
    println(f"[stream-hll] ${kv.length}%d events / " +
      f"${kv.grouped(batchSize).size}%d micro-batches in $secs%.1f s " +
      f"= $rate%.0f events/s; keys=${finals.size}%d")
    PerfGate.check(rate, 100.0, "streaming HLL")
  }
}
