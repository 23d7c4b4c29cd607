package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingEwma
import graft.streaming.StreamingEwma.{EwmaReading, ValueEvent}

/** Bench-scale streaming EWMA (the round-12 smoother leg of the
  * scale-evidence tier): the FULL sf0.1 events table streamed through
  * [[StreamingEwma.monitor]] keyed by event_type must end with level
  * AND deviation BIT-IDENTICAL to the same West recurrence evaluated
  * by Spark SQL's `aggregate` higher-order function over the
  * (ts, id)-sorted value array — Catalyst codegen vs the monitor's JVM
  * fold, identical operation order, so double equality is exact, not
  * tolerance-based. Equality after 20 micro-batch folds proves the
  * O(1) carried state (n, ewma, ewmvar) is the whole-history fold —
  * however a 100 TB stream batches, the smoother emits the same level.
  */
class StreamingEwmaScaleSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  /** Batch twin: the identical recurrence as a Catalyst `aggregate`
    * fold over the sorted per-key value array (alpha = 1/2, exact in
    * binary; every subexpression written in the monitor's op order). */
  private def batchFold(): Map[String, (Long, Double, Double)] = {
    spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_type").cast("string").as("k"),
        unix_timestamp(col("ts").cast("timestamp")).as("tsl"),
        col("event_id"), col("value").cast("double").as("v"))
      .groupBy("k")
      .agg(expr(
        """aggregate(
          |  transform(
          |    array_sort(collect_list(struct(tsl, event_id, v))),
          |    e -> e.v),
          |  struct(cast(0 as bigint) as n, cast(0 as double) as ewma,
          |         cast(0 as double) as ewmvar),
          |  (acc, x) -> if(acc.n = 0,
          |    struct(cast(1 as bigint) as n, x as ewma,
          |           cast(0 as double) as ewmvar),
          |    struct(acc.n + 1L as n,
          |           acc.ewma + 0.5d * (x - acc.ewma) as ewma,
          |           (1.0d - 0.5d) * (acc.ewmvar +
          |             (x - acc.ewma) * (0.5d * (x - acc.ewma)))
          |             as ewmvar)))""".stripMargin).as("st"))
      .select(col("k"), col("st.n"), col("st.ewma"), col("st.ewmvar"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
  }

  test("sf0.1 events streamed in micro-batches end bit-exact vs the SQL aggregate fold") {
    val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_id"),
        unix_timestamp(col("ts").cast("timestamp")).as("tsl"),
        col("event_type").cast("string").as("k"),
        col("value").cast("double").as("v"))
      .as[(Long, Long, String, Double)].collect()
      .sortBy(e => (e._2, e._1))
      .map { case (id, tsl, k, v) => ValueEvent(id, tsl, k, v) }
    val want = batchFold()

    val t0 = System.nanoTime()
    val rows = StreamDriver.run(ev.grouped(5000).map(_.toSeq).toSeq)(
      StreamingEwma.monitor(_, alpha = 0.5))
    val secs = (System.nanoTime() - t0) / 1e9

    val finals = rows
      .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.n_so_far) }
    assert(finals.keySet === want.keySet)
    finals.foreach { case (k, reading) =>
      val (n, ewma, ewmvar) = want(k)
      assert(reading.n_so_far === n,
        s"key $k: every event must be folded exactly once")
      assert(reading.ewma === ewma,
        s"key $k: streaming level ${reading.ewma} != SQL fold $ewma")
      assert(reading.ew_stddev === math.sqrt(ewmvar),
        s"key $k: streaming deviation diverges from the SQL fold")
    }

    val rate = ev.length / secs
    println(f"[stream-ewma] ${ev.length}%d events / " +
      f"${ev.grouped(5000).size}%d micro-batches in $secs%.1f s " +
      f"= $rate%.0f events/s; keys=${finals.size}%d")
    PerfGate.check(rate, 100.0, "streaming EWMA")
  }
}
