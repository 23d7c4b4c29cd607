package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark main and the engine's one profiler: runs
  * every registry query on SPARK_GRAFT_SF_DIR at local[N], prints ONE
  * JSON line with per-query wall-clock seconds, and writes the detail
  * record (`bench_out.json`) with each query's layer split (`layers`:
  * build, plan and execute seconds, job time, and the Spark counters of
  * the sample whose wall time is the reported minimum).
  *
  * Hygiene: a warm-up pass (JVM/JIT/classloader + parquet footers) runs
  * before timing; failed queries are recorded as -1 and excluded from the
  * total instead of polluting it. SPARK_GRAFT_BENCH_FILTER narrows a
  * profiling run to a few entries; its pass 1 is the cold sample and the
  * minimum the steady one.
  */
object Bench {
  type Entry = (SparkSession, String) => DataFrame

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local(32)
    val cpus = spark.sparkContext.defaultParallelism
    warmUp(spark, sfDir)

    // 3 timed passes per query, report the per-query MIN: environmental
    // noise (page-cache eviction, CPU contention) only ever inflates a
    // wall-clock sample, so the min is the stable engine-cost estimate.
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val sentinel = new Sentinel("bench")
    val recorder = new Recorder(spark)

    // Flagship ingest throughput pass: one end-to-end run of the full
    // decode→validate→sample→normalize→dedup chain over 500k synthetic
    // envelopes (`IngestPipeline.run` leaves its routed batch cached, and
    // the next pass's run replaces it) — comparable to the reference's
    // msgs/min step-load numbers (BASELINE.md). Per-pass failures are
    // tolerated like the per-query timings; fatal JVM errors propagate.
    // 500k envelopes per throughput pass: at 200k the ~0.5-1 s fixed
    // job cost (stage scheduling + codegen reuse checks) was a third of
    // the pass, understating steady-state env/s — the measured rate is
    // the marginal one a sustained stream would see.
    val envCount = sys.env.getOrElse("SPARK_GRAFT_INGEST_ENVS", "500000").toLong
    def ingestPassSec(): Option[Double] =
      try {
        val t0 = System.nanoTime()
        val kept = graft.ingest.IngestPipeline
          .run(graft.ingest.SyntheticData.envelopes(spark, envCount))
          .events.count()
        require(kept > 0, "ingest produced no rows")
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] ingest throughput pass failed: ${e.getMessage}")
        None
      }
    // ALL ingest samples run BEFORE the query passes: the r7 bench ran
    // two of the three after them, inside the storage-memory pressure of
    // the fully-built shared-frame persist set, and the best-of-runs
    // throughput halved (193k → 78k env/s) from harness context alone.
    // The step-load profile between sample 1 and samples 2..n keeps two
    // separated time windows, so a load spike during either window still
    // can't poison every sample.
    sentinel.window("ingest_early")
    val earlyIngest = ingestPassSec()

    // Step-load ingest profile (reference scripts/04_step_load_test.js:
    // 9-15,174): ramp 50→100→500→1000→100 msgs/min; each step pushes one
    // minute's volume at that rate through the full pipeline and records
    // throughput plus the error rate. "Error" means what the reference's
    // <0.5% gate means — a message neither written, deduped, DLQ-routed,
    // nor sampled-out (i.e. LOST): malformed envelopes that route to the
    // DLQ are accounted deliveries, so the expected rate is exactly 0.
    // Each step also carries the Spark counters of its window.
    case class StepResult(rate: Int, n: Long, sec: Double, lost: Long,
        counters: Counters)
    def runStep(rate: Int): Option[StepResult] = {
      val n = rate * 60L
      recorder.start()
      val t0 = System.nanoTime()
      val prep = graft.ingest.IngestPipeline
        .prepare(graft.ingest.SyntheticData.envelopes(spark, n))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val res = graft.ingest.IngestPipeline.split(prep)
        val kept = res.events.count()
        // accounting: every input row must land in exactly one ROUTE —
        // count the actual route outputs (dlq, sampled-out) plus the
        // events branch's pre-dedup population (dedup collapses are
        // accounted deliveries, the reference's duplicate-as-success),
        // so a route-predicate bug that drops rows into no route shows
        // up as lost > 0 (a bare prep.count() would always equal n).
        val validSampled = prep
          .filter(col("is_valid") && col("sampled")).count()
        val routed = validSampled + res.dlq.count() + res.sampledOut.count()
        require(kept > 0 && kept <= validSampled,
          s"step $rate kept $kept of $validSampled valid rows")
        val sec = (System.nanoTime() - t0) / 1e9
        recorder.drain()
        Some(StepResult(rate, n, sec, n - routed, recorder.counters()))
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] step $rate failed: ${e.getMessage}")
        None
      } finally prep.unpersist(blocking = false)
    }
    // per-step isolation: one failed step reports itself and the other
    // steps' measurements survive
    sentinel.window("step_load")
    val steps = Seq(50, 100, 500, 1000, 100).flatMap(runStep)
    val stepJson = steps.map { s =>
      val rateSec = if (s.sec > 0) s.n / s.sec else -1.0
      s"""{"rate_per_min":${s.rate},"n_envelopes":${s.n},"sec":${s.sec},""" +
        s""""env_per_sec":${rateSec.round},"error_rate":${
          if (s.n > 0) s.lost.toDouble / s.n else -1.0},"counters":{${
          s.counters.fields}}}"""
    }.mkString("[", ",", "]")
    // 5 samples minimum: single ingest passes are ~1-2.5 s jobs whose
    // wall-clock swings ~2× with box state (measured across back-to-back
    // bench runs), so a 3-sample min is still noisy — extra samples cost
    // ~2 s each and stabilize the best-of estimate
    sentinel.window("ingest_late")
    val lateIngest = (2 to math.max(runs, 5)).flatMap(_ => ingestPassSec())
    // the last pass's batch is still the session's cached `Shared`
    // ingest entry: evict it so the query passes start with no ingest
    // RDD cached
    Shared.invalidate("ingest")

    // SPARK_GRAFT_BENCH_ORDER=reverse runs the query passes in reverse
    // name order — the order-independence check: shared-frame build costs
    // land on whichever consumer runs first, so comparing the two
    // orderings' steady totals pins attribution vs real regressions.
    val ordered =
      if (sys.env.get("SPARK_GRAFT_BENCH_ORDER").contains("reverse"))
        entries().reverse
      else entries()
    // per-pass persist accounting (round-10 q26 adjudication): log the
    // shared-frame cache state after EVERY pass so "did the persist set
    // survive into pass N" is on record, not inferred. Which pass paid a
    // shared-frame build shows in each entry's `layers` record (its
    // build_s and job counts).
    // per-pass SPILL + storage-pressure accounting (round-11 drift
    // attribution): the pass's summed spill bytes and the block-manager
    // high-water (max used storage memory seen at any pass boundary)
    // ride the same line — if mins drift between rounds with zero spill
    // and no evictions, the drift is session/context pressure
    // (scheduler, GC, codegen cache), not plan regressions. A persist
    // set evicted during the passes (cached fraction < 1) means later
    // passes re-paid materialization and the per-query mins are NOT
    // warm steady state (the r7 q26/q30/q32 diagnosis).
    def storageUsedMB(): Double =
      try spark.sparkContext.getExecutorMemoryStatus.values
        .map { case (total, remaining) => total - remaining }.sum / 1e6
      catch { case scala.util.control.NonFatal(_) => -1.0 }
    def logPersistSet(tag: String, spillBytes: Long): Unit =
      try {
        val store = spark.sparkContext.getRDDStorageInfo
        val partial = store.filter(r => r.numCachedPartitions < r.numPartitions)
        System.err.println(f"[bench] persist set $tag: ${store.length} RDDs, " +
          f"${store.map(_.memSize).sum / 1e6}%.1f MB mem + " +
          f"${store.map(_.diskSize).sum / 1e6}%.1f MB disk, " +
          f"storageUsed=${storageUsedMB()}%.1f MB, " +
          f"spill=${spillBytes / 1e6}%.1f MB" +
          (if (partial.nonEmpty)
            partial.map(r => s" EVICTED[id=${r.id} ${r.numCachedPartitions}/${r.numPartitions}]").mkString
          else ", no evictions"))
      } catch { case scala.util.control.NonFatal(_) => }
    val samples = (1 to runs).map { pass =>
      sentinel.window(s"pass_$pass")
      val m = ordered.map { case (name, fn) =>
        name -> timeEntry(spark, sfDir, recorder, name, fn) }.toMap
      logPersistSet(s"after pass $pass",
        m.values.flatten.map(_._2.counters.spillBytes).sum)
      m
    }
    recorder.close()
    // the minimum-wall sample of each entry, with its layer split
    val best = ordered.map { case (name, _) =>
      name -> samples.flatMap(_(name)).minByOption(_._1) }
    val results = best.map { case (name, b) => name -> b.fold(-1.0)(_._1) }
    // pass-1 times ride along so warm-min and cold-ish costs are both on
    // record (pass 1 pays one-time compile/pipeline cost the min excludes)
    val firsts = ordered.map { case (name, _) =>
      name -> samples.headOption.flatMap(_(name)).fold(-1.0)(_._1)
    }
    def jsonMap(m: Seq[(String, Double)]) =
      m.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val layersJson = best.collect { case (name, Some((_, l))) =>
      "\"" + name + "\":" + l.json }.mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val totalFirst = firsts.collect { case (_, v) if v >= 0 => v }.sum
    val ingestSecs = earlyIngest.toSeq ++ lateIngest
    val envThroughput =
      if (ingestSecs.nonEmpty) envCount / ingestSecs.min else -1.0
    val loadFlagThreshold = sys.env.get("SPARK_GRAFT_LOAD_FLAG")
      .map(_.toDouble).getOrElse(cpus.toDouble / 2)
    val (sentinelJson, flaggedWindows, verdict) =
      sentinel.summary(loadFlagThreshold)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":${jsonMap(results)},"sf":"$sfDir","runs":$runs,"total_first_run":$totalFirst,"queries_first_run":${jsonMap(firsts)},"ingest_envelopes_per_sec":${envThroughput.round},"verdict":"$verdict","sentinel":$sentinelJson,"ingest_step_profile":$stepJson,"layers":$layersJson}"""
    // Full-precision record goes to disk (path overridable via
    // SPARK_GRAFT_BENCH_OUT) — the driver's stdout capture keeps only the
    // last ~2000 chars, so the detailed line (119+ timings at full float
    // precision, ~4 KB) can never parse from there.
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    writeRecord(outPath, line, "bench")
    // Stdout gets a compact twin built to FIT the tail capture — see
    // compactJson below. The detail pointer names the on-disk record.
    println(compactJson(results, total, totalFirst, runs,
      new java.io.File(sfDir).getName, envThroughput.round, outPath,
      flaggedWindows, verdict))
    Shared.reset(spark)
    spark.stop()
  }

  /** Warm-up before any timing: JIT + codegen + parquet footer/page-cache
    * priming over every table, plus one small registry entry. */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = {
    for (t <- Tables.starTables) {
      try Tables.table(spark, sfDir, t).count()
      catch { case _: Throwable => }
    }
    try Tables.events(spark, sfDir).count() catch { case _: Throwable => }
    try SparkEntry.queries("q06_counts_by_user_type")(spark, sfDir).count()
    catch { case _: Throwable => }
  }

  /** Registry entries in name order. SPARK_GRAFT_BENCH_FILTER=q309,q316
    * keeps the entries whose name contains any of the comma-separated
    * substrings — the lever for profiling or tuning one query without a
    * full-registry run. Totals from filtered runs are NOT comparable to
    * full runs (shared-frame builds land on fewer consumers); per-query
    * steady minima are. */
  private def entries(): Seq[(String, Entry)] = {
    val nameFilter = sys.env.get("SPARK_GRAFT_BENCH_FILTER")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => nameFilter.forall(_.exists(name.contains)) }
  }

  private def writeRecord(path: String, line: String, tag: String): Unit =
    try java.nio.file.Files.write(java.nio.file.Paths.get(path),
      (line + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[$tag] could not write $path: ${e.getMessage}")
    }

  /** One timed sample of a registry entry. The clock covers exactly
    * `fn(spark, sfDir).count()`; the listener bus drains after it,
    * outside the timing. Bench never plans the entry frame itself:
    * `plan_s` is read from the `count` action's own QueryExecution,
    * which `count()` builds over the frame (its analysis, optimization
    * and planning phases), so the split is
    *   - build_s: `fn(spark, sfDir)`, including any eager sub-actions
    *     (fold loops, shared-frame builds);
    *   - plan_s: the count QueryExecution's phases;
    *   - exec_s: the rest of the wall time.
    * The counters cover the whole sample. None when the entry fails. */
  private[graft] def timeEntry(spark: SparkSession, sfDir: String,
      recorder: Recorder, name: String, fn: Entry): Option[(Double, Layers)] = {
    recorder.start()
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, sfDir)
      val t1 = System.nanoTime()
      df.count()
      val t2 = System.nanoTime()
      recorder.drain()
      val wall = (t2 - t0) / 1e9
      val build = (t1 - t0) / 1e9
      val plan = recorder.countPlanS
      Some(wall -> Layers(build, plan, math.max(0.0, wall - build - plan),
        recorder.counters()))
    } catch { case e: Throwable =>
      System.err.println(s"[bench] $name failed: ${e.getMessage}"); None
    }
  }

  /** Spark's account of one measured window: `jobsS` is the union of the
    * job run intervals, so the window's driver time is its wall time
    * minus `jobsS`; the rest sum the completed stages' task metrics. */
  private[graft] final case class Counters(jobsS: Double, jobs: Int,
      stages: Int, tasks: Long, shuffleWriteBytes: Long, spillBytes: Long,
      inputBytes: Long, executorRunS: Double, executorCpuS: Double) {
    /** The JSON fields, without braces. */
    def fields: String =
      s""""jobs_s":$jobsS,"jobs":$jobs,"stages":$stages,"tasks":$tasks,""" +
        s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
        s""""input_bytes":$inputBytes,"executor_run_s":$executorRunS,""" +
        s""""executor_cpu_s":$executorCpuS"""
  }

  /** One entry's layer split: build + plan + exec = its wall time. */
  private[graft] final case class Layers(buildS: Double, planS: Double,
      execS: Double, counters: Counters) {
    def json: String =
      s"""{"build_s":$buildS,"plan_s":$planS,"exec_s":$execS,${counters.fields}}"""
  }

  /** The bench's one listener pair on a session: job, stage and task
    * counters from the scheduler, and the planning phases of the last
    * `count` action from the SQL execution listener. [[start]] opens a
    * window, [[drain]] waits for its events, then [[counters]] and
    * [[countPlanS]] read it. */
  private[graft] final class Recorder(spark: SparkSession)
      extends SparkListener with QueryExecutionListener {
    private var jobStarts = Map.empty[Int, Long]
    private val jobSpans = ArrayBuffer.empty[(Long, Long)]
    private var jobs, stages = 0
    private var tasks, shuffleWrite, spill, input, runMs, cpuNs = 0L
    private var planS = 0.0
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)

    override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      jobStarts += j.jobId -> j.time
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.get(j.jobId).foreach(t => jobSpans += t -> j.time)
      jobStarts -= j.jobId
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        tasks += s.stageInfo.numTasks
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          spill += m.memoryBytesSpilled + m.diskBytesSpilled
          input += m.inputMetrics.bytesRead
          runMs += m.executorRunTime
          cpuNs += m.executorCpuTime
        }
      }
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit =
      if (funcName == "count") synchronized {
        planS = qe.tracker.phases.values.map(_.durationMs).sum / 1e3
      }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()

    def drain(): Unit = GraftColumnBridge.waitUntilEmpty(spark.sparkContext)

    /** Open a window: deliver the previous window's events, then zero. */
    def start(): Unit = {
      drain()
      synchronized {
        jobStarts = Map.empty; jobSpans.clear()
        jobs = 0; stages = 0
        tasks = 0L; shuffleWrite = 0L; spill = 0L; input = 0L
        runMs = 0L; cpuNs = 0L
        planS = 0.0
      }
    }

    def countPlanS: Double = synchronized(planS)

    def counters(): Counters = synchronized {
      // union of the job intervals: concurrent jobs count once
      var (busyMs, end) = (0L, Long.MinValue)
      for ((s, e) <- jobSpans.sortBy(_._1)) {
        busyMs += math.max(0L, e - math.max(s, end))
        end = math.max(end, e)
      }
      Counters(busyMs / 1e3, jobs, stages, tasks, shuffleWrite, spill,
        input, runMs / 1e3, cpuNs / 1e9)
    }

    def close(): Unit = {
      spark.sparkContext.removeSparkListener(this)
      spark.listenerManager.unregister(this)
    }
  }

  // CONTENTION SENTINEL: a fixed calibration
  // probe timed at the start of every measurement window — identical
  // code over identical data every time, so any sample >1.5× the run's
  // own median is HOST contention, not engine cost. The r11 ambiguity
  // this resolves mechanically: one full run landed at 299 s and ingest
  // swung 2,363→610 env/s on identical code (box load); with the
  // sentinel, any reader can reject or trust a pass from the artifact
  // alone. Samples print per-window on stderr, and the summary ships in
  // the JSON lines.
  // The probe is a PURE-JVM allocation-free hash loop on the driver
  // thread, deliberately NOT a Spark query: a Spark probe measures
  // session context too — the same 64M-row range scan ran 0.12 s in
  // the pre-persist-set windows and 0.58 s inside the built-up session
  // on a CLEAN box, false-flagging every late pass.
  // The loop catches single-core CPU steal but is blind to MULTI-CORE
  // occupancy: round 12 recorded a board-wide 256→178 s shift between
  // sessions with the single-thread sentinel STABLE — competing
  // multi-threaded work (a DuckDB sweep, a second Spark JVM) slows wide
  // stages while a lone thread still gets a full core. So each window
  // also measures the cores OTHER processes kept busy during the probe:
  // (system CPU load − this process's CPU load) × cores. The 1-min load
  // average it replaces counted the bench's own threads (2.97 right
  // after one perfbench run on a quiet 4-core box, over the cores/2
  // threshold); it stays in the record as information only.

  /** The bench's contention sentinel: each [[window]] times
    * the probe and reads the foreign busy cores over the same interval;
    * [[summary]] adjudicates the windows. */
  private[graft] final class Sentinel(logTag: String) {
    private val os = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val samples = ArrayBuffer.empty[(String, Double)]
    val foreign = ArrayBuffer.empty[(String, Double)]
    val loadavg = ArrayBuffer.empty[(String, Double)]
    // observable sink so JIT cannot drop the loop; one untimed warm-up so
    // every timed sample runs fully JIT-compiled
    private var sink = sentinelWork()

    def window(tag: String): Unit = {
      // prime: each load read covers the time since its previous call
      // (the very first call reads 0)
      os.getCpuLoad; os.getProcessCpuLoad
      val t0 = System.nanoTime()
      sink ^= sentinelWork()
      val sec = (System.nanoTime() - t0) / 1e9
      val cores = foreignCores(os.getCpuLoad, os.getProcessCpuLoad,
        os.getAvailableProcessors)
      val load = os.getSystemLoadAverage
      samples += tag -> sec
      foreign += tag -> cores
      loadavg += tag -> load
      System.err.println(f"[$logTag] sentinel $tag: $sec%.3f s, " +
        f"foreign $cores%.2f cores, loadavg $load%.1f")
    }

    /** (detail JSON, flagged window count, verdict). */
    def summary(loadThreshold: Double): (String, Int, String) = {
      val (median, stealFlagged, loadFlagged, verdict) =
        adjudicate(samples.toSeq, foreign.toSeq, loadThreshold)
      System.err.println(f"[$logTag] sentinel median=$median%.3f s, " +
        s"flagged=${stealFlagged.mkString("[", ",", "]")}, " +
        s"load_flagged=${loadFlagged.mkString("[", ",", "]")} " +
        f"(threshold $loadThreshold%.1f foreign cores), verdict=$verdict" +
        s" sink=${sink == 42L}")
      def obj(m: ArrayBuffer[(String, Double)]) =
        m.map { case (t, v) => "\"" + t + "\":" + v }.mkString("{", ",", "}")
      def arr(tags: Seq[String]) =
        tags.map("\"" + _ + "\"").mkString("[", ",", "]")
      val json = s"""{"median":$median,"samples":${obj(samples)},"flagged":${
        arr(stealFlagged)},"foreign_cores":${obj(foreign)},"loadavg":${
        obj(loadavg)},"load_flagged":${arr(loadFlagged)},"load_threshold":$loadThreshold,"verdict":"$verdict"}"""
      // DISTINCT union: a window flagged by both rules counts once, so
      // this number always agrees with the record's two lists
      (json, (stealFlagged ++ loadFlagged).distinct.length, verdict)
    }
  }

  /** Cores other processes kept busy: the system's CPU load minus this
    * process's, as a share of all cores, times the core count. -1 when
    * the OS does not report either load. */
  private[graft] def foreignCores(systemLoad: Double, processLoad: Double,
      cores: Int): Double =
    if (systemLoad < 0 || processLoad < 0) -1.0
    else math.max(0.0, systemLoad - processLoad) * cores

  /** The CPU-steal probe loop — 300M mul-xor-rotate steps, no
    * allocation, no GC, ~0.4 s warm; wall time moves only when the OS
    * gives the thread less CPU. */
  private[graft] def sentinelWork(): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0L
    while (i < 300000000L) {
      h = java.lang.Long.rotateLeft(h * 0x9E3779B97F4A7C15L ^ i, 31)
      i += 1L
    }
    h
  }

  /** Run-acceptance adjudication — PURE so BenchFlagSpec can pin its
    * constants (the 1.5× steal threshold and the load threshold) the way
    * the pow 2-ulp tolerance is pinned.
    *
    * Two flag paths, one verdict:
    *   - CPU-steal: a sentinel sample (fixed pure-JVM hash loop) >1.5×
    *     the run's own median marks its window. 1.5× because the probe
    *     is tight — measured CLEAN spread ≤1.11× across a full run,
    *     while 64 background hogs pushed a loaded window to 1.84×; the
    *     threshold sits well clear of both sides.
    *   - Multi-core occupancy: the single-thread probe is blind to it
    *     (r12's 256→178 s shift happened with a STABLE sentinel), so
    *     any window whose load reading exceeds `loadThreshold` (default
    *     cores/2) flags independently. The bench passes the foreign
    *     busy cores of each window ([[Sentinel]]), which exclude the
    *     bench's own threads.
    * `verdict` is "canonical" ONLY when no window is flagged by either
    * rule — a contended run keeps its numbers (mins are still lower
    * bounds) but can never be recorded as a round's canonical time.
    */
  private[graft] def adjudicate(samples: Seq[(String, Double)],
      loads: Seq[(String, Double)], loadThreshold: Double)
      : (Double, Seq[String], Seq[String], String) = {
    val sorted = samples.map(_._2).sorted
    val median = if (sorted.isEmpty) -1.0 else sorted(sorted.length / 2)
    val stealFlagged = samples.filter(_._2 > 1.5 * median).map(_._1)
    val loadFlagged = loads.filter(_._2 > loadThreshold).map(_._1)
    val verdict =
      if (stealFlagged.isEmpty && loadFlagged.isEmpty) "canonical"
      else "contended"
    (median, stealFlagged, loadFlagged, verdict)
  }

  /** The one stdout JSON line, sized for the driver's ~2000-char stdout
    * tail capture (r7/r8 post-mortem: the full-precision line is ~4 KB and
    * `parsed` came back null both rounds). Short query keys (the qNN
    * prefix), fixed decimals, and — should the registry outgrow even
    * that — the slowest-N subset with an explicit omitted count. The
    * first candidate under the 1870-char budget wins; the budget leaves
    * headroom for sbt's trailing "[success] …" line (~75 chars) inside
    * the 2000-char capture window. The 1-decimal rung keeps FULL query
    * coverage ahead of the slowest-N fallbacks — per-query precision
    * lives in bench_out.json either way.
    */
  private[graft] def compactJson(
      results: Seq[(String, Double)], total: Double, totalFirst: Double,
      runs: Int, sfName: String, ingestPerSec: Long, outPath: String,
      sentinelFlagged: Int = 0, verdict: String = "canonical"): String = {
    def fmt(v: Double, dec: Int): String =
      ("%." + dec + "f").formatLocal(java.util.Locale.ROOT, v)
    def candidate(dec: Int, topN: Int): String = {
      val shortKeys = results.map { case (k, v) => k.takeWhile(_ != '_') -> v }
      val kept =
        if (topN >= shortKeys.size) shortKeys
        else shortKeys.sortBy(-_._2).take(topN)
      val omitted = shortKeys.size - kept.size
      val qj = kept.map { case (k, v) => "\"" + k + "\":" + fmt(v, dec) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","queries":$qj,"sf":"$sfName","runs":$runs,"total_first_run":${fmt(totalFirst, 3)},"ingest_envelopes_per_sec":$ingestPerSec,"sentinel_flagged":$sentinelFlagged,"verdict":"$verdict"""" +
        (if (omitted > 0) s""","queries_omitted":$omitted""" else "") +
        s""","detail":"$outPath"}"""
    }
    val budget = 1870
    Seq(candidate(3, Int.MaxValue), candidate(2, Int.MaxValue),
      candidate(1, Int.MaxValue), candidate(1, 100), candidate(2, 60))
      .find(_.length <= budget).getOrElse(candidate(1, 40))
  }
}
