package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingPsi
import graft.streaming.StreamingPsi.{PsiReading, ValueEvent}

class StreamingPsiSpec extends AnyFunSuite {
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  // a 4-bin reference: 40% / 30% / 20% / 10%
  private val reference = Array(0.4, 0.3, 0.2, 0.1)

  private def cents(bin: Int): Long = bin * 5000L + 100L

  test("stable stream stays under the alarm; shifted stream trips it") {
    // batch 1, key "stable": 40 values matching the reference mix
    val stable = (0 until 16).map(i => ValueEvent(i, "stable", cents(0))) ++
      (16 until 28).map(i => ValueEvent(i, "stable", cents(1))) ++
      (28 until 36).map(i => ValueEvent(i, "stable", cents(2))) ++
      (36 until 40).map(i => ValueEvent(i, "stable", cents(3)))
    // batch 2, key "shifted": 40 values all in the top bin
    val shifted = (100 until 140).map(i =>
      ValueEvent(i, "shifted", cents(3)))
    val got = StreamDriver.run(Seq(stable, shifted))(
      StreamingPsi.monitor(_, reference, alarmAbove = 0.2, minSamples = 20L))
      .map(r => r.key -> r).toMap
    assert(!got("stable").drifted,
      s"stable stream flagged: psi=${got("stable").psi}")
    assert(got("stable").psi < 0.05)
    assert(got("shifted").drifted,
      s"shifted stream not flagged: psi=${got("shifted").psi}")
    assert(got("shifted").psi > 1.0)
  }

  test("streamed histogram reproduces the hand-computed PSI exactly") {
    // 30 values: 10/10/5/5 over the 4 bins vs the 40/30/20/10 reference
    val counts = Array(10L, 10L, 5L, 5L)
    val n = 30L
    var expected = 0.0
    for (i <- counts.indices) {
      val p1 = (counts(i) + 0.5) / (n + 2.0)
      expected += (p1 - reference(i)) * math.log(p1 / reference(i))
    }
    assert(StreamingPsi.psiOf(counts, n, reference) === expected)
    // and the bin rule matches q161's floor-division exactly
    assert(StreamingPsi.binOf(0L, 10) === 0)
    assert(StreamingPsi.binOf(4999L, 10) === 0)
    assert(StreamingPsi.binOf(5000L, 10) === 1)
    assert(StreamingPsi.binOf(49000L, 10) === 9)
    assert(StreamingPsi.binOf(900000L, 10) === 9)
  }

  test("PSI is nonnegative for every histogram and zero on a self-match (property)") {
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Prop.forAll
    val gen = for {
      bins <- Gen.choose(2, 12)
      counts <- Gen.listOfN(bins, Gen.choose(0L, 10000L))
    } yield counts.toArray
    val prop = forAll(gen) { counts =>
      val n = counts.sum
      // reference = the SAME smoothed distribution → psi must be ~0
      val ref = counts.map(c =>
        (c + 0.5) / (n + counts.length / 2.0 * 1.0))
      val self = StreamingPsi.psiOf(counts, n, ref)
      // any OTHER smoothed reference → psi must be nonnegative
      // (every (p1−p0)·ln(p1/p0) term has matching signs)
      val shifted = ref.reverse
      val cross = StreamingPsi.psiOf(counts, n, shifted)
      Prop(math.abs(self) < 1e-12 && cross >= -1e-12)
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(200),
      prop)
    assert(result.passed, result.status.toString)
  }
}
