package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingPageHinkley
import graft.streaming.StreamingPageHinkley.{CentsEvent, PhReading}

/** The q304 batch Page–Hinkley screen's streaming twin: the identical
  * quantized-BIGINT recurrence folded per key in O(1) state, with
  * cross-batch carry, exact batch parity (the same fold re-derived in
  * the test), drift alarm on sustained upward shift, and quiet on
  * symmetric noise. */
class StreamingPageHinkleySpec extends AnyFunSuite {
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  /** q304's exact integer recurrence on the driver. */
  private def fold(cents: Seq[Long]): (Long, Boolean, Long) = {
    var t = 0L; var s = 0L; var m = 0L; var runMin = Long.MaxValue
    cents.foreach { x =>
      t += 1; s += x
      m += (x * t - s) * 1048576L / t
      runMin = math.min(runMin, m)
    }
    (m - runMin, (m - runMin) > 50000L * 1048576L, t)
  }

  private def run(batches: Seq[Seq[Long]], threshold: Long = 50000L)
      : Seq[PhReading] = {
    var id = 0L
    StreamDriver.run(batches.map(_.map { c =>
      id += 1; CentsEvent(id, id, "revenue", c) }))(
      StreamingPageHinkley.monitor(_, threshold))
      .toSeq.sortBy(_.t)
  }

  test("readings match the batch recurrence exactly across batches") {
    val b1 = Seq(100000L, 110000L, 90000L, 105000L)
    val b2 = Seq(95000L, 120000L)
    val got = run(Seq(b1, b2))
    assert(got.length == 2)
    val (ph1, a1, t1) = fold(b1)
    assert((got(0).ph_q, got(0).alarm, got(0).t) === ((ph1, a1, t1)))
    val (ph2, a2, t2) = fold(b1 ++ b2)
    assert((got(1).ph_q, got(1).alarm, got(1).t) === ((ph2, a2, t2)))
    assert(got(1).last_cents === 120000L)
  }

  test("sustained upward drift alarms; symmetric noise stays quiet") {
    // quiet: symmetric ±10k wobble around 100k
    val quiet = Seq.fill(20)(Seq(110000L, 90000L)).flatten
    val gotQuiet = run(Seq(quiet))
    assert(!gotQuiet.last.alarm,
      s"symmetric noise must not alarm: ${gotQuiet.last}")
    // drift: baseline 100k then a sustained +200k shift
    val drift = Seq.fill(10)(100000L) ++ Seq.fill(15)(300000L)
    val gotDrift = run(Seq(drift))
    assert(gotDrift.last.alarm, s"drift must alarm: ${gotDrift.last}")
    // and the fold agrees
    assert(gotDrift.last.ph_q === fold(drift)._1)
  }

  test("negative deviations exercise toward-zero truncation") {
    // decreasing series → negative dev terms; parity must still hold
    val dec = Seq(500000L, 400000L, 300000L, 200000L, 100000L)
    val got = run(Seq(dec))
    assert(got.last.ph_q === fold(dec)._1)
    assert(!got.last.alarm, "downward drift must not fire the UPWARD test")
  }
}
