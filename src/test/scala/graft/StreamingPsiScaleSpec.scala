package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingPsi
import graft.streaming.StreamingPsi.{PsiReading, ValueEvent}

/** Bench-scale streaming PSI (the round-12 drift leg of the
  * scale-evidence tier): the FULL sf0.1 events table streamed through
  * [[StreamingPsi.monitor]] keyed by event_type — reference
  * proportions built batch-side from the sf0.01 table (the deployment
  * shape: the reference is the launch window, the stream is live
  * traffic) — must end with each key's PSI EXACTLY equal to
  * [[StreamingPsi.psiOf]] over the histogram built independently by a
  * Spark SQL group-by on the same bin rule. The monitor's state is an
  * integer histogram, so double-equality of the statistic over
  * integer-equal counts (plus the n gate) proves the streamed fold
  * lost or double-counted nothing across 20 micro-batch boundaries.
  */
class StreamingPsiScaleSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  private val Bins = 50

  private def cents = (col("value").cast("decimal(18,2)") * 100)
    .cast("bigint").as("cents")

  /** Histogram counts per (key, bin) via Spark SQL — q161's bin rule
    * (50-unit fixed-width, top-capped) on a different code path. */
  private def sqlHistogram(dir: String): Map[String, Array[Long]] = {
    val rows = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_type").cast("string").as("k"), cents)
      .select(col("k"), least(expr("cents div 5000"),
        lit(Bins - 1L)).as("bin"))
      .groupBy("k", "bin").agg(count(lit(1)).as("c"))
      .collect()
    rows.groupBy(_.getString(0)).map { case (k, rs) =>
      val h = new Array[Long](Bins)
      rs.foreach(r => h(r.getLong(1).toInt) = r.getLong(2))
      k -> h
    }
  }

  test("sf0.1 events streamed in micro-batches end PSI-exact vs the SQL histogram") {
    // reference: smoothed proportions of the sf0.01 launch window,
    // pooled over all keys (one fixed reference, the q161 smoothing)
    val ref = {
      val pooled = new Array[Long](Bins)
      sqlHistogram("/root/testdata/sf0.01").values
        .foreach(h => (0 until Bins).foreach(i => pooled(i) += h(i)))
      val n = pooled.sum
      pooled.map(c => (c + 0.5) / (n + Bins / 2.0))
    }

    val ev = spark.read.parquet("/root/testdata/sf0.1/events.parquet")
      .select(col("event_id"), col("event_type").cast("string").as("k"),
        cents)
      .as[(Long, String, Long)].collect()
      .sortBy(_._1)
      .map { case (id, k, c) => ValueEvent(id, k, c) }
    val want = sqlHistogram("/root/testdata/sf0.1")
    val nByKey = ev.groupBy(_.key).map { case (k, xs) => k -> xs.length.toLong }

    val t0 = System.nanoTime()
    val rows = StreamDriver.run(ev.grouped(5000).map(_.toSeq).toSeq)(
      StreamingPsi.monitor(_, ref))
    val secs = (System.nanoTime() - t0) / 1e9

    val finals = rows
      .groupBy(_.key).map { case (k, rs) => k -> rs.maxBy(_.n_so_far) }
    assert(finals.keySet === want.keySet)
    finals.foreach { case (k, reading) =>
      assert(reading.n_so_far === nByKey(k),
        s"key $k: every event must be folded exactly once")
      val psiWant = StreamingPsi.psiOf(want(k), nByKey(k), ref)
      assert(reading.psi === psiWant,
        s"key $k: streaming PSI ${reading.psi} != $psiWant over the " +
          "SQL-built histogram — the integer state diverged")
      assert(reading.drifted === (psiWant > 0.2))
    }

    val rate = ev.length / secs
    println(f"[stream-psi] ${ev.length}%d events / " +
      f"${ev.grouped(5000).size}%d micro-batches in $secs%.1f s " +
      f"= $rate%.0f events/s; keys=${finals.size}%d " +
      f"psi=${finals.values.map(_.psi).max}%.4f")
    PerfGate.check(rate, 100.0, "streaming PSI")
  }
}
