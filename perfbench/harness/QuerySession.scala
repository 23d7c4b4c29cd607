package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.Observation
import org.apache.spark.sql.functions.{count, lit}
import graft.SparkEntry

/** `query_session`: closed loop, one client, one warm analyst session over
  * the sf0.1 tables. A pass runs the floor list, then the heavy list, each
  * in an order shuffled by the seed. The timed action writes every output
  * column to the noop sink (`.count()` would let Catalyst prune columns
  * and drop the final sort), and an `observe()` row count on the same
  * write checks each entry against its recorded row count. */
object QuerySession {
  /** Short entries, one per registry family: of the family's six entries
    * in the planned floor list, the one whose time in the program's own
    * bench (min of 3 runs) was nearest the median over the whole family. */
  val floor: Seq[(String, Seq[String])] = Seq(
    "pipeline" -> Seq("q06"),
    "relational" -> Seq("q14"),
    "window" -> Seq("q22"),
    "text" -> Seq("q33"),
    "similarity" -> Seq("q141"),
    "stats" -> Seq("q243"),
    "battery" -> Seq("q162"),
    "corpus" -> Seq("q179"),
    "operator" -> Seq("q41"))

  /** Kernel entries, one per operator kernel: TextDedup's SimHash
    * near-duplicate join (q30), Similarity's IVF probe sweep (q133) and
    * the HITS loop operator (q284). */
  val heavy: Seq[String] = Seq("q30", "q133", "q284")

  private lazy val entries = SparkEntry.queries

  /** Registry name of a short id such as `q06`. */
  def resolve(short: String): String =
    entries.keys.filter(_.startsWith(short + "_")).toSeq match {
      case Seq(n) => n
      case other => sys.error(s"$short matches ${other.size} registry entries")
    }

  def floorNames: Seq[String] = floor.flatMap(_._2).map(resolve)
  def heavyNames: Seq[String] = heavy.map(resolve)
  private lazy val familyOf: Map[String, String] =
    floor.flatMap { case (f, qs) => qs.map(q => resolve(q) -> f) }.toMap

  /** Expected row count per entry, recorded in expected_queries.json. */
  def expectedRows(ctx: Ctx): Map[String, Long] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"${ctx.root}/perfbench/expected_queries.json"))
    tree.get("entries").properties().iterator().asScala
      .map(e => e.getKey -> e.getValue.get("rows").asLong).toMap
  }

  final case class Timing(name: String, wallS: Double, buildS: Double,
      planS: Double, execS: Double, counters: Counters)

  /** Runs one entry as a checked op. With a live tracer the build (the
    * registry call), the plan (`executedPlan`) and the action are timed
    * apart, and the probe's counters are read around the entry. */
  def runOne(ctx: Ctx, name: String, want: Map[String, Long], rep: Report,
      tracer: Tracer, probe: Option[Probe]): Option[Timing] = {
    rep.attempted += 1
    try {
      val obs = Observation()
      val before = probe.map(_.snapshot())
      val t0 = System.nanoTime()
      val df = tracer.span(s"queries.$name.build") {
        entries(name)(ctx.spark, ctx.dataDir)
      }
      val t1 = System.nanoTime()
      if (tracer.enabled) tracer.span(s"queries.$name.plan") {
        df.queryExecution.executedPlan
      }
      val t2 = System.nanoTime()
      tracer.span(s"queries.$name.exec") {
        df.observe(obs, count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
      }
      val t3 = System.nanoTime()
      val counters = probe.map(_.snapshot() - before.get).getOrElse(Counters.zero)
      val rows = obs.get("n").asInstanceOf[Long]
      System.err.println(f"[perfbench] $name%-32s ${(t3 - t0) / 1e9}%.3f s")
      if (!want.get(name).contains(rows)) {
        rep.fail(s"$name returned $rows rows, expected ${want.get(name)}"); None
      } else Some(Timing(name, (t3 - t0) / 1e9, (t1 - t0) / 1e9,
        (t2 - t1) / 1e9, (t3 - t2) / 1e9, counters))
    } catch {
      case scala.util.control.NonFatal(e) => rep.fail(s"$name: $e"); None
    }
  }

  final case class Pass(floor: Seq[Timing], heavy: Seq[Timing])

  /** One untraced pass: the floor list, then the heavy list, each in an
    * order shuffled by the seed and the pass number. */
  def pass(ctx: Ctx, n: Int, want: Map[String, Long], rep: Report): Pass = {
    val rnd = new scala.util.Random(ctx.seed * 1000 + n)
    val off = new Tracer(false)
    def run(names: Seq[String]) =
      rnd.shuffle(names).flatMap(runOne(ctx, _, want, rep, off, None))
    Pass(run(floorNames), run(heavyNames))
  }

  /** A traced pass. Each floor entry runs twice, untraced and traced,
    * with the order alternating from entry to entry so that neither side
    * is always the later, warmer one; heavy entries run once, traced.
    * Returns the traced timings and the tracing overhead in percent: the
    * mean, over the two orders, of the median traced-over-untraced
    * difference, so the warmth the second run of a pair gains cancels. */
  private def tracedPass(ctx: Ctx, n: Int, want: Map[String, Long],
      rep: Report, tracer: Tracer, probe: Probe): (Pass, Double) = {
    val rnd = new scala.util.Random(ctx.seed * 1000 + n)
    def traced(name: String) = runOne(ctx, name, want, rep, tracer, Some(probe))
    def plain(name: String) = runOne(ctx, name, want, rep, new Tracer(false), None)
    val paired = rnd.shuffle(floorNames).zipWithIndex.map { case (name, k) =>
      if (k % 2 == 0) { val p = plain(name); (p, traced(name)) }
      else { val t = traced(name); (plain(name), t) }
    }
    val byOrder = paired.zipWithIndex.collect { case ((Some(p), Some(t)), k) =>
      (k % 2, 100 * (t.wallS / p.wallS - 1))
    }.groupBy(_._1).values.map(d => Stats.median(d.map(_._2))).toSeq
    val overhead = if (byOrder.size == 2) byOrder.sum / 2 else Double.NaN
    (Pass(paired.flatMap(_._2), rnd.shuffle(heavyNames).flatMap(traced)), overhead)
  }

  private def qps(ts: Seq[Timing]): Double =
    if (ts.isEmpty) Double.NaN else ts.size / ts.map(_.wallS).sum

  def measure(ctx: Ctx, rep: Report): Unit = {
    val want = expectedRows(ctx)
    pass(ctx, 0, want, rep) // warm-up: JIT, codegen and the shared-frame builds
    rep.put("setup_s", ctx.sinceStart, "s")
    val start = System.nanoTime()
    val passes = Iterator.from(1)
      .takeWhile(_ => (System.nanoTime() - start) / 1e9 < ctx.seconds)
      .map(pass(ctx, _, want, rep)).toList
    val all = passes.flatMap(p => p.floor ++ p.heavy)
    // Entries per second weighs each entry by its time, so the heavy
    // entries carry it; the geometric mean weighs each entry the same, so
    // the nine floor entries carry it.
    rep.put("throughput_per_s", qps(all), "1/s")
    rep.put("op_ms_geomean", 1e3 * Stats.geomean(all.map(_.wallS)), "ms")
  }

  /** The traced sweep of the query layers: a first pass (the warm-up of
    * an untraced run), then a traced pass: the build/plan/exec split and
    * runtime counters per traced entry, summed per floor/heavy segment,
    * and the tracing overhead measured on the floor entries. */
  def traced(ctx: Ctx, rep: Report, tracer: Tracer, probe: Probe): Unit = {
    val want = expectedRows(ctx)
    val t0 = System.nanoTime()
    pass(ctx, 0, want, rep)
    rep.put("queries.first_pass_s", (System.nanoTime() - t0) / 1e9, "s")
    val (traced, overhead) = tracedPass(ctx, 1, want, rep, tracer, probe)
    rep.put("trace.overhead_pct.query_session", overhead, "%")
    for ((seg, ts) <- Seq("floor" -> traced.floor, "heavy" -> traced.heavy)) {
      val c = ts.map(_.counters).foldLeft(Counters.zero)(_ + _)
      val segWall = ts.map(_.wallS).sum
      rep.put(s"queries.build_s.$seg", ts.map(_.buildS).sum, "s")
      rep.put(s"queries.plan_s.$seg", ts.map(_.planS).sum, "s")
      rep.put(s"queries.exec_s.$seg", ts.map(_.execS).sum, "s")
      rep.put(s"spark.jobs.$seg", c.jobs.toDouble, "count")
      rep.put(s"spark.stages.$seg", c.stages.toDouble, "count")
      rep.put(s"spark.tasks.$seg", c.tasks.toDouble, "count")
      rep.put(s"spark.core_idle_share.$seg", 1 - c.runMs / 1e3 / (segWall * ctx.cores), "share")
      rep.put(s"spark.executor_cpu_s.$seg", c.cpuNs / 1e9, "s")
      rep.put(s"spark.shuffle_write_mb.$seg", c.shuffleWriteBytes / 1e6, "MB")
      rep.put(s"spark.spill_mb.$seg", c.spillBytes / 1e6, "MB")
      rep.put(s"spark.gc_s.$seg", c.gcMs / 1e3, "s")
    }
    for (t <- traced.heavy) {
      val short = t.name.takeWhile(_ != '_')
      rep.put(s"queries.$short.wall_s", t.wallS, "s")
      rep.put(s"queries.$short.jobs", t.counters.jobs.toDouble, "count")
    }
    for ((family, _) <- floor)
      rep.put(s"queries.floor.${family}_s",
        traced.floor.filter(t => familyOf(t.name) == family).map(_.wallS).sum, "s")
    val storage = ctx.spark.sparkContext.getRDDStorageInfo
    rep.put("engine.storage_mb", storage.map(r => r.memSize + r.diskSize).sum / 1e6, "MB")
    rep.put("engine.cached_rdds", ctx.spark.sparkContext.getPersistentRDDs.size.toDouble, "count")
  }

  /** Writes every listed entry's output to `out/<name>` as parquet, with
    * the DuckDB twins in `out/oracle_sql.json`, to record and confirm the
    * expected results (record_expected.py). */
  def dumpOutputs(ctx: Ctx, out: String): Unit = {
    val names = floorNames ++ heavyNames
    for (n <- names) {
      val t0 = System.nanoTime()
      entries(n)(ctx.spark, ctx.dataDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$out/$n")
      System.err.println(f"[perfbench] $n%-40s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val twins = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$out/oracle_sql.json"),
      twins.mkString("{", ",\n", "}"))
  }
}
