package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingAmsF2
import graft.streaming.StreamingAmsF2.{AmsReading, IdEvent}

/** The q317 batch AMS sketch's streaming twin: identical sha256-parity
  * signs (pinned against the Catalyst sha256PrefixLong expression),
  * exact cross-batch counter carry (linearity), batch parity of the
  * estimate, and the skew-detection property the estimator exists
  * for. */
class StreamingAmsF2Spec extends AnyFunSuite {
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Driver-side batch build with the same sign function. */
  private def counters(items: Seq[Long]): Seq[Long] =
    (0 until StreamingAmsF2.Counters).map(j =>
      items.map(StreamingAmsF2.sign(j, _)).sum)

  private def run(batches: Seq[Seq[Long]]): Seq[AmsReading] = {
    var id = 0L
    StreamDriver.run(batches.map(_.map { it =>
      id += 1; IdEvent(id, id, "feed", it) }))(StreamingAmsF2.monitor(_))
      .toSeq.sortBy(_.n)
  }

  test("sign matches the Catalyst sha256PrefixLong parity") {
    val items = Seq(0L, 1L, 7L, 42L, 999983L)
    val rows = items.toDF("item")
      .select((lit(1L) - lit(2L) * pmod(
        graft.functions.CoreFunctions.sha256PrefixLong(
          concat(lit("ams3:"), col("item").cast("string"))),
        lit(2L))).as("s"))
      .collect().map(_.getLong(0)).toSeq
    assert(rows === items.map(StreamingAmsF2.sign(3, _)))
  }

  test("counters carry exactly across batches (linearity)") {
    val b1 = Seq(1L, 2L, 3L, 2L, 1L)
    val b2 = Seq(4L, 1L, 1L)
    val got = run(Seq(b1, b2))
    assert(got.length == 2)
    assert(got(0).counters === counters(b1))
    assert(got(1).counters === counters(b1 ++ b2))
    assert(got(1).n === 8L)
    val c = counters(b1 ++ b2)
    assert(got(1).f2_est === c.map(x => x * x).sum / 32)
  }

  test("hot key drives the estimate toward n², uniform stays near n²/d") {
    val hot = Seq.fill(64)(7L)
    val gotHot = run(Seq(hot))
    // a single repeated id: every counter is ±64, so est = 64² exactly
    assert(gotHot.last.f2_est === 64L * 64L)
    val uniform = (1L to 64L).toSeq
    val gotU = run(Seq(uniform))
    // 64 distinct singletons: F₂ = 64; the estimate concentrates well
    // below the hot-key 4096
    assert(gotU.last.f2_est < 1024L,
      s"uniform feed must not look skewed: ${gotU.last.f2_est}")
  }
}
