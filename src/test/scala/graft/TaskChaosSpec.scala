package graft

import java.nio.file.Files
import org.apache.spark.TaskContext
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ConnectedComponents, Mst, Sssp}
import graft.streaming.StreamingEwma
import graft.streaming.StreamingEwma.{EwmaReading, ValueEvent}

/** Task-retry chaos (round-13 VERDICT ask #3): the retry-safety half of
  * the executor-loss story. The restart specs kill the DRIVER and prove
  * state restores from checkpoints; this spec fails individual TASKS —
  * a deterministic throw on the first attempt of partition 0 of every
  * stage that scans the injected input — and asserts the results are
  * bit-identical to the uninjected run. TestSpark runs `local[4, 4]`
  * (maxFailures=4, the cluster default), so Spark retries the failed
  * task instead of failing the job; what is being proven is that the
  * operators' lineage cuts, persists, and per-round checkpoints are all
  * RECOMPUTE-SAFE — a retried task re-derives exactly the rows the
  * failed attempt would have produced (deterministic expressions, no
  * attempt-varying state), so chaos cannot perturb a single cell.
  */
object TaskChaosSpec {
  /** Throw on the FIRST attempt of partition 0 of any stage that pulls
    * this iterator; retries (attemptNumber ≥ 1) pass through. Lives on
    * the companion so the closure serializes without the suite. */
  def chaos[T](it: Iterator[T]): Iterator[T] = {
    val tc = TaskContext.get()
    if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
      throw new RuntimeException(
        "injected chaos: first attempt of partition 0")
    it
  }
}

class TaskChaosSpec extends AnyFunSuite {
  import TaskChaosSpec.chaos
  implicit lazy val spark = TestSpark.spark
  import spark.implicits._

  test("ConnectedComponents survives first-attempt task failures " +
      "bit-identically") {
    // two components + a bridge-free singleton; enough rows that every
    // test partition is non-empty
    val edges = ((0L until 40L).map(i => (i, i + 1)) ++
      (100L until 120L).map(i => (i, i + 2))).toDF("src", "dst")
    val nodes = ((0L to 41L) ++ (100L to 121L) :+ 999L).toDF("id")
    val clean = ConnectedComponents.labels(edges, nodes)
      .as[(Long, Long)].collect().sorted
    val chaosEdges = edges.as[(Long, Long)].mapPartitions(chaos _)
      .toDF("src", "dst")
    val injected = ConnectedComponents.labels(chaosEdges, nodes)
      .as[(Long, Long)].collect().sorted
    assert(injected === clean,
      "task retry changed the CC labeling")
  }

  test("Mst.forest survives first-attempt task failures bit-identically") {
    val edges = (0L until 60L).flatMap(i =>
      Seq((i, (i + 1) % 60L, (i * 7 + 3) % 50L),
        (i, (i + 13) % 60L, (i * 11 + 5) % 50L)))
      .toDF("u", "v", "w")
    val clean = Mst.forest(edges)
      .as[(Long, Long, Long)].collect().sorted
    val chaosEdges = edges.as[(Long, Long, Long)].mapPartitions(chaos _)
      .toDF("u", "v", "w")
    val injected = Mst.forest(chaosEdges)
      .as[(Long, Long, Long)].collect().sorted
    assert(injected === clean, "task retry changed the MST forest")
  }

  test("Sssp.distances survives first-attempt task failures " +
      "bit-identically") {
    // the loop frees each superseded cut once the next state is
    // materialized: a retried task must never find a cut it reads freed
    val edges = (0L until 60L).flatMap(i =>
      Seq((i, (i + 1) % 60L, (i * 7 + 3) % 50L + 1L),
        (i, (i + 13) % 60L, (i * 11 + 5) % 50L + 1L)))
      .toDF("src", "dst", "w")
    val seeds = Seq(0L, 30L).toDF("id")
    val clean = Sssp.distances(edges, seeds, 20)
      .as[(Long, Long, Long)].collect().sorted
    val chaosEdges = edges.as[(Long, Long, Long)].mapPartitions(chaos _)
      .toDF("src", "dst", "w")
    val injected = Sssp.distances(chaosEdges, seeds, 20)
      .as[(Long, Long, Long)].collect().sorted
    assert(injected === clean, "task retry changed the SSSP distances")
    assert(clean.length === 120, "fixture sanity: every node is reached")
  }

  test("StreamingEwma emits identical readings under task chaos") {
    implicit val sqlCtx = spark.sqlContext
    def run(name: String, inject: Boolean): Seq[EwmaReading] = {
      val input = MemoryStream[ValueEvent]
      val src =
        if (inject) input.toDS().mapPartitions(chaos _)
        else input.toDS()
      val q = StreamingEwma.monitor(src, alpha = 0.5, k = 3.0,
          minSamples = 5L)
        .writeStream.outputMode("append")
        .format("memory").queryName(name)
        .option("checkpointLocation",
          Files.createTempDirectory(s"graft-chaos-$name").toString)
        .start()
      val b1 = Seq(10.0, 11.0, 9.0, 10.0, 11.0, 9.0)
      input.addData(b1.zipWithIndex.map { case (v, i) =>
        ValueEvent(i.toLong, i.toLong, "purchases", v) }: _*)
      q.processAllAvailable()
      input.addData(ValueEvent(100L, 100L, "purchases", 100.0))
      q.processAllAvailable()
      q.stop()
      spark.table(name).as[EwmaReading].collect().toSeq
        .sortBy(_.n_so_far)
    }
    val clean = run("chaos_ewma_clean", inject = false)
    val injected = run("chaos_ewma_injected", inject = true)
    assert(injected === clean,
      "task retry changed the streaming EWMA readings")
    assert(clean.length == 2 && clean(1).alarm,
      "fixture sanity: the level jump must alarm")
  }
}
