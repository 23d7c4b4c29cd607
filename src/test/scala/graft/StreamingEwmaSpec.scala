package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingEwma
import graft.streaming.StreamingEwma.{EwmaReading, ValueEvent}

/** The q203 batch EWMA's streaming twin: per-key level + EW-variance in
  * O(1) state, cross-batch carry, and a level-shift alarm. The expected
  * values are re-derived with the same recurrences in the test, so the
  * assertion is exact equality, not a tolerance. */
class StreamingEwmaSpec extends AnyFunSuite {
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fold(values: Seq[Double], alpha: Double = 0.5)
      : (Double, Double) =
    values.foldLeft((0.0, 0.0, 0L)) { case ((m, v, n), x) =>
      if (n == 0L) (x, 0.0, 1L)
      else {
        val diff = x - m; val incr = alpha * diff
        (m + incr, (1.0 - alpha) * (v + diff * incr), n + 1)
      }
    } match { case (m, v, _) => (m, v) }

  test("EWMA state carries across batches and a level shift alarms") {
    // batch 1: a steady level-10 signal with ±1 wobble (6 samples)
    val b1 = Seq(10.0, 11.0, 9.0, 10.0, 11.0, 9.0)
    val got = StreamDriver.run(Seq(
      b1.zipWithIndex.map { case (v, i) =>
        ValueEvent(i.toLong, i.toLong, "purchases", v) },
      // batch 2: the level jumps to 100 — far beyond 3 EW-stddevs
      Seq(ValueEvent(100L, 100L, "purchases", 100.0))))(
      StreamingEwma.monitor(_, alpha = 0.5, k = 3.0, minSamples = 5L))
      .sortBy(_.n_so_far)
    assert(got.length == 2)
    val (m1, v1) = fold(b1)
    assert(got(0).ewma === m1)
    assert(got(0).ew_stddev === math.sqrt(v1))
    assert(!got(0).alarm, "steady batch must not alarm")
    val (m2, v2) = fold(b1 :+ 100.0)
    assert(got(1).ewma === m2)
    assert(got(1).ew_stddev === math.sqrt(v2))
    assert(got(1).n_so_far == 7L)
    assert(got(1).alarm, "7x level jump must alarm")
  }

  test("below minSamples a batch updates state but cannot alarm") {
    val got = StreamDriver.run(Seq(
      Seq(ValueEvent(0L, 0L, "k", 1.0), ValueEvent(1L, 1L, "k", 2.0)),
      Seq(ValueEvent(2L, 2L, "k", 1000.0))))(
      StreamingEwma.monitor(_, alpha = 0.5, k = 3.0, minSamples = 5L))
    assert(got.length == 2 && got.forall(!_.alarm))
    assert(got.map(_.n_so_far).sorted.toSeq == Seq(2L, 3L))
  }
}
