package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingDrift
import graft.streaming.StreamingDrift.{DriftReading, VecEvent}

/** Bench-scale streaming centroid drift (the round-12 embedding leg of
  * the scale-evidence tier): the FULL sf0.1 embeddings table streamed
  * through [[StreamingDrift.drift]] keyed by label — reference centroid
  * built from the sf0.01 table (the launch-window deployment shape) —
  * must end with each source's cosine BIT-IDENTICAL to the one
  * computed from component sums rebuilt by a Spark SQL `aggregate` +
  * `zip_with` fold in the same vec_id order (Catalyst codegen vs the
  * monitor's JVM loop; float→double widening is exact, per-dim adds
  * associate identically left-to-right, and the cosine accumulators
  * run the same index order). Equality after 20 micro-batch folds
  * proves the O(dims) carried sums are the whole-history fold at
  * corpus scale.
  */
class StreamingDriftScaleSpec extends AnyFunSuite {
  implicit lazy val spark: org.apache.spark.sql.SparkSession = TestSpark.spark
  import spark.implicits._

  /** The monitor's cosine, transcribed: same accumulator order. */
  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Component sums per key via a Catalyst fold in vec_id order. */
  private def sqlSums(dir: String, keyed: Boolean)
      : Map[String, (Long, Array[Double])] = {
    val df = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(
        (if (keyed) col("label").cast("string") else lit("all")).as("k"),
        col("vec_id"),
        col("embedding").cast("array<double>").as("emb"))
      .groupBy("k")
      .agg(count(lit(1)).as("n"), expr(
        """aggregate(
          |  transform(array_sort(collect_list(struct(vec_id, emb))),
          |    e -> e.emb),
          |  array_repeat(cast(0 as double), 64),
          |  (acc, v) -> zip_with(acc, v, (a, b) -> a + b))"""
          .stripMargin).as("sums"))
    df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getSeq[Double](2).toArray)).toMap
  }

  test("sf0.1 embeddings streamed in micro-batches end cosine-exact vs the SQL fold") {
    val reference = sqlSums("/root/testdata/sf0.01", keyed = false)("all")._2
    val ev = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
      .select(col("vec_id"), col("label").cast("string").as("k"),
        col("embedding").cast("array<double>").as("emb"))
      .as[(Long, String, Array[Double])].collect()
      .sortBy(_._1)
      .map { case (id, k, emb) => VecEvent(id, k, emb) }
    val want = sqlSums("/root/testdata/sf0.1", keyed = true)

    val t0 = System.nanoTime()
    val rows = StreamDriver.run(ev.grouped(100).map(_.toSeq).toSeq)(
      StreamingDrift.drift(_, reference,
        alarmBelow = 0.8, minSamples = 10L))
    val secs = (System.nanoTime() - t0) / 1e9

    val finals = rows
      .groupBy(_.source).map { case (k, rs) => k -> rs.maxBy(_.n_so_far) }
    assert(finals.keySet === want.keySet)
    finals.foreach { case (k, reading) =>
      val (n, sums) = want(k)
      assert(reading.n_so_far === n,
        s"source $k: every vector must be folded exactly once")
      val cosWant = cosine(sums, reference)
      assert(reading.cos_to_reference === cosWant,
        s"source $k: streaming cosine ${reading.cos_to_reference} != " +
          s"$cosWant from the SQL-rebuilt sums")
      assert(reading.drifted === (cosWant < 0.8))
    }

    val rate = ev.length / secs
    println(f"[stream-drift] ${ev.length}%d vectors / " +
      f"${ev.grouped(100).size}%d micro-batches in $secs%.1f s " +
      f"= $rate%.0f vectors/s; sources=${finals.size}%d")
    PerfGate.check(rate, 10.0, "streaming drift")
  }
}
