package graft

import org.apache.spark.sql.SparkSession

/** Optimization-round profiler (guide §1: measure first) — NOT part of
  * the driver contract. For every registry query (optionally filtered by
  * SPARK_GRAFT_BENCH_FILTER), runs one warm-up pass then measures, on a
  * fresh DataFrame build per sample:
  *
  *   - t_build: DataFrame construction (query-side driver work before
  *     Spark sees a plan — includes any eager sub-actions an operator
  *     runs while composing, e.g. fold loops with per-round counts)
  *   - t_plan:  analysis + optimization + physical planning + AQE prep
  *     (forcing queryExecution.executedPlan)
  *   - t_exec:  the count() action on the planned frame
  *   - jobs / stages / tasks launched by the action, shuffle bytes
  *     written, input bytes read, summed executor run/CPU time
  *   - exchange count in the final executed plan string
  *
  * Output: one TSV line per query on stdout, machine-parsable, written
  * to SPARK_GRAFT_PROFILE_OUT (default profile_out.tsv) too.
  */
object ProfileBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.chunkBase64String.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // same warm-up as Bench
    for (t <- Tables.starTables)
      try Tables.table(spark, sfDir, t).count() catch { case _: Throwable => }
    try Tables.events(spark, sfDir).count() catch { case _: Throwable => }

    val listener = new org.apache.spark.scheduler.SparkListener {
      @volatile var jobs = 0
      @volatile var stages = 0
      @volatile var tasks = 0
      @volatile var shuffleWrite = 0L
      @volatile var input = 0L
      @volatile var runTimeMs = 0L
      @volatile var cpuTimeNs = 0L
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        synchronized { jobs += 1 }
      override def onStageCompleted(s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        synchronized {
          stages += 1
          tasks += s.stageInfo.numTasks
          val m = s.stageInfo.taskMetrics
          if (m != null) {
            shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            input += m.inputMetrics.bytesRead
            runTimeMs += m.executorRunTime
            cpuTimeNs += m.executorCpuTime
          }
        }
      def reset(): Unit = synchronized {
        jobs = 0; stages = 0; tasks = 0; shuffleWrite = 0L; input = 0L
        runTimeMs = 0L; cpuTimeNs = 0L
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    val ordered = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => nameFilter.forall(_.exists(name.contains)) }

    // pass 1 (warm-up: shared-frame builds, codegen compile)
    for ((name, fn) <- ordered)
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[profile] warmup $name failed: ${e.getMessage}") }

    val sb = new StringBuilder
    def emit(s: String): Unit = { println(s); sb.append(s).append('\n') }
    emit("query\tt_build\tt_plan\tt_exec\tjobs\tstages\ttasks\tshuffleMB\tinputMB\trunSec\tcpuSec\texchanges")
    for ((name, fn) <- ordered) {
      try {
        // listener events post asynchronously; give the bus a moment to
        // drain the previous query's events before resetting counters
        Thread.sleep(150)
        listener.reset()
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        val plan = df.queryExecution.executedPlan
        val t2 = System.nanoTime()
        df.count()
        val t3 = System.nanoTime()
        Thread.sleep(150)
        val planStr =
          try df.queryExecution.executedPlan.toString
          catch { case _: Throwable => plan.toString }
        val exchanges = "(?i)exchange".r.findAllIn(planStr).length
        emit(f"$name\t${(t1 - t0) / 1e9}%.3f\t${(t2 - t1) / 1e9}%.3f\t${(t3 - t2) / 1e9}%.3f\t${listener.jobs}\t${listener.stages}\t${listener.tasks}\t${listener.shuffleWrite / 1e6}%.1f\t${listener.input / 1e6}%.1f\t${listener.runTimeMs / 1e3}%.2f\t${listener.cpuTimeNs / 1e9}%.2f\t$exchanges")
      } catch { case e: Throwable =>
        emit(s"$name\tFAIL\t${e.getMessage}")
      }
    }
    val outPath = sys.env.getOrElse("SPARK_GRAFT_PROFILE_OUT", "profile_out.tsv")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      sb.toString.getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[profile] could not write $outPath: ${e.getMessage}") }
    Shared.reset(spark)
    spark.stop()
  }
}
