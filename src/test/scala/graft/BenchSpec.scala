package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Bench's per-entry layer record ([[Bench.timeEntry]]): every field is
  * present and non-negative, the counters see the entry's jobs,
  * `plan_s` is read from the `count` action's own QueryExecution, and
  * Bench never plans the entry frame itself (the timed action stays
  * exactly `fn(spark, sfDir).count()`).
  */
class BenchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sf = "/root/testdata/sf0.001"
  private val fields = Seq("build_s", "plan_s", "exec_s", "jobs_s", "jobs",
    "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "input_bytes",
    "executor_run_s", "executor_cpu_s")

  test("each timed entry records its layer split from its own count action") {
    val counts = scala.collection.mutable.ArrayBuffer.empty[QueryExecution]
    val probe = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (f == "count") counts.synchronized(counts += qe)
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(probe)
    val recorder = new Bench.Recorder(spark)
    try for (name <- Seq("q06_counts_by_user_type", "q10_star_join")) {
      var built: DataFrame = null
      val fn = SparkEntry.queries(name)
      val (wall, layers) = Bench.timeEntry(spark, sf, recorder, name,
        (s, d) => { built = fn(s, d); built })
        .getOrElse(fail(s"$name failed"))
      val record = """"(\w+)":(-?[0-9.Ee+-]+)""".r
        .findAllMatchIn(layers.json).map(m => m.group(1) -> m.group(2).toDouble)
        .toMap
      assert(record.keySet === fields.toSet, s"$name: ${layers.json}")
      record.foreach { case (k, v) => assert(v >= 0.0, s"$name: $k = $v") }
      assert(layers.counters.jobs >= 1, s"$name ran no job")
      assert(math.abs(layers.buildS + layers.planS + layers.execS - wall) < 1e-6)
      // the recorder drained the bus, so the probe has the count event too
      val countQe = counts.synchronized(counts.last)
      assert(countQe ne built.queryExecution)
      assert(layers.planS ===
        countQe.tracker.phases.values.map(_.durationMs).sum / 1e3)
      val phases = built.queryExecution.tracker.phases.keySet
      assert(!phases.contains("optimization") && !phases.contains("planning"),
        s"$name: Bench planned the entry frame itself ($phases)")
    } finally {
      recorder.close()
      spark.listenerManager.unregister(probe)
    }
  }
}
