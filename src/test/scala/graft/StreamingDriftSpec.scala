package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingDrift
import graft.streaming.StreamingDrift.{DriftReading, VecEvent}

/** The q126 batch drift report's streaming twin: running per-source
  * centroids vs a fixed reference, alarms across micro-batches. */
class StreamingDriftSpec extends AnyFunSuite {
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dims = 4
  private val reference = Array(1.0, 0.0, 0.0, 0.0)

  private def vec(axis: Int, scale: Double = 1.0) = {
    val a = new Array[Double](dims); a(axis) = scale; a
  }

  test("running centroid tracks the reference, alarms on drift, state survives batches") {
    val got = StreamDriver.run(Seq(
      // batch 1: aligned source emits 6 reference-direction vectors
      // (cos 1), drifting source emits only 3 (below minSamples — no
      // reading yet)
      (0 until 6).map(i => VecEvent(i.toLong, "aligned", vec(0))) ++
        (0 until 3).map(i => VecEvent(100L + i, "drifting", vec(0))),
      // batch 2: the drifting source swings to an orthogonal axis — its
      // centroid (3 on axis0 + 4 on axis1) falls below the 0.8 alarm
      (0 until 4).map(i => VecEvent(200L + i, "drifting", vec(1)))))(
      StreamingDrift.drift(_, reference, alarmBelow = 0.8, minSamples = 5L))
    val aligned = got.filter(_.source == "aligned")
    assert(aligned.map(_.n_so_far).toSeq === Seq(6L))
    assert(aligned.head.cos_to_reference === 1.0 && !aligned.head.drifted)
    // drifting: NO batch-1 reading (3 < minSamples); batch-2 reading
    // folds the axis-0 history carried in state with the new axis-1
    // vectors: cos = 3/5 = 0.6 < 0.8 → alarm
    val drifting = got.filter(_.source == "drifting")
    assert(drifting.map(_.n_so_far).toSeq === Seq(7L))
    assert(math.abs(drifting.head.cos_to_reference - 0.6) < 1e-12)
    assert(drifting.head.drifted)
  }

  test("dimension mismatch is a hard error, not a silent wrong cosine") {
    import org.apache.spark.sql.Encoders
    val bad = spark.createDataset(Seq(
      VecEvent(1L, "s", Array(1.0, 2.0))))(Encoders.product[VecEvent])
    val ex = intercept[Exception] {
      StreamingDrift.drift(bad, reference, minSamples = 0L).collect()
    }
    assert(ex.getMessage.contains("dim mismatch") ||
      ex.getCause != null && ex.getCause.getMessage.contains("dim mismatch"))
  }
}
