package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CoreFunctions.sha256PrefixLong
import graft.streaming.StreamingAmsF2
import graft.streaming.StreamingAmsF2.{AmsReading, IdEvent}

/** Bench-scale streaming AMS F₂ (the round-12 extension of the
  * r11-established scale-evidence tier): the FULL sf0.1 events table
  * streamed through [[StreamingAmsF2.monitor]] as micro-batches, keyed
  * by event_type over user ids, must end with all 32 signed counters
  * COUNTER-EXACT vs the batch sketch built by q317's own Spark SQL
  * sign construction (Catalyst sha256 + pmod — a different code path
  * from the monitor's digest-byte parity) over the same rows. The AMS
  * sketch is linear, so counter equality at corpus scale proves the
  * streaming recurrence IS the batch aggregate: partial sketches
  * shipped from executors sum to the identical vector however a
  * 100 TB stream partitions or replays.
  */
class StreamingAmsF2ScaleSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  /** Batch twin: q317's sign algebra via Spark SQL exprs, grouped per
    * key — counters c(key, j) = Σ_rows sign_j(user_id). */
  private def batchCountersByKey(): Map[String, Array[Long]] = {
    val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_type").cast("string").as("k"),
        col("user_id").cast("string").as("v"))
    val signs = (0 until StreamingAmsF2.Counters).map(j =>
      struct(lit(j.toLong).as("j"),
        (lit(1L) - lit(2L) * pmod(sha256PrefixLong(
          concat(lit(s"ams$j:"), col("v"))), lit(2L))).as("sgn")))
    val rows = ev
      .select(col("k"), explode(array(signs: _*)).as("js"))
      .select(col("k"), col("js.j").as("j"), col("js.sgn").as("sgn"))
      .groupBy("k", "j").agg(sum("sgn").as("c"))
      .collect()
    rows.groupBy(_.getString(0)).map { case (k, rs) =>
      val c = new Array[Long](StreamingAmsF2.Counters)
      rs.foreach(r => c(r.getLong(1).toInt) = r.getLong(2))
      k -> c
    }
  }

  test("sf0.1 events streamed in micro-batches end counter-exact vs the batch sketch") {
    val kv = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_type").cast("string").as("k"),
        col("user_id").as("v"))
      .as[(String, Long)].collect()
    val want = batchCountersByKey()
    val nByKey = kv.groupBy(_._1).map { case (k, vs) => k -> vs.length.toLong }

    val batchSize = 5000
    var id = 0L
    val batches = kv.grouped(batchSize).map(_.map { case (k, v) =>
      id += 1; IdEvent(id, id, k, v) }.toSeq).toSeq
    val t0 = System.nanoTime()
    val rows = StreamDriver.run(batches)(StreamingAmsF2.monitor(_))
    val secs = (System.nanoTime() - t0) / 1e9

    // final reading per key = the one with the highest n (monotone)
    val finals = rows
      .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.n) }
    assert(finals.keySet === want.keySet)
    finals.foreach { case (k, reading) =>
      assert(reading.counters.toArray.sameElements(want(k)),
        s"key $k: streaming counters diverge from the batch sketch")
      assert(reading.n === nByKey(k),
        s"key $k: every event must be folded exactly once")
      assert(reading.f2_est ===
        reading.counters.map(x => x * x).sum / StreamingAmsF2.Counters)
    }

    val rate = kv.length / secs
    println(f"[stream-ams] ${kv.length}%d events / " +
      f"${kv.grouped(batchSize).size}%d micro-batches in $secs%.1f s " +
      f"= $rate%.0f events/s; keys=${finals.size}%d")
    PerfGate.check(rate, 100.0, "streaming AMS")
  }
}
