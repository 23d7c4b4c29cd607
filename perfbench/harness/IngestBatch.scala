package perfbench

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import graft.ingest.{DlqReplay, IngestPipeline}
import graft.operators.WarehouseWriter

/** `ingest_batch`: closed loop, one client. One op pushes one batch of
  * generated envelopes plus redeliveries through `IngestPipeline.run`,
  * writes the events with `WarehouseWriter.write` into a fresh directory,
  * routes the DLQ with `DlqReplay.route` and counts the sampled-out rows.
  * Every op is checked against the generator's record through
  * `observe()` metrics on the outputs it writes, so the check adds no
  * pass over the data. */
object IngestBatch {
  /** Base envelopes per op; redeliveries add 10 % on top. On a 4-core box
    * a 55k-envelope op took 5.8 s and a 275k one 15.3 s: about 3.3 s of an
    * op is fixed, so per-row work is about 60 % of a 110k op. Larger ops
    * would not fit the time budget of a full comparison. */
  val BaseEnvelopes = 100000L
  /** Base envelopes of the traced sweep's batch, smaller so that the sweep
    * of every layer fits one run. */
  val TracedBaseEnvelopes = 50000L
  /** Untimed ops before the timed region, so the JIT and codegen are warm:
    * of three 275k ops the first took 22.9 s, the second 15.6 s and the
    * third 15.3 s. */
  val WarmupOps = 1
  val cfg = IngestPipeline.Config(auditRate = Gen.AuditRate)

  /** Writes the seed's batch of `n` base envelopes to parquet inside the
    * work dir. */
  def generate(ctx: Ctx, n: Long): String = {
    val spark = ctx.spark
    import spark.implicits._
    val path = s"${ctx.work}/ingest-input"
    val seed = ctx.seed
    spark.range(0L, n + Gen.redeliveries(n), 1L, ctx.cores * 2)
      .map(k => Gen.row(seed, n, k))
      .write.mode("overwrite").parquet(path)
    path
  }

  final case class Counts(events: Long, keyXor: Long, keySum: Long,
      replay: Long, parked: Long, sampledOut: Long)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def rows(o: Observation): Long = o.get("n").asInstanceOf[Long]

  /** One op; returns its wall seconds and what it produced. */
  def op(ctx: Ctx, input: String, id: Int, tracer: Tracer): (Double, Counts) = {
    val spark = ctx.spark
    val dir = s"${ctx.work}/warehouse/op-$id"
    val (ev, rp, pk, so) = (Observation(), Observation(), Observation(), Observation())
    val t0 = System.nanoTime()
    tracer.op(id) {
      tracer.span("ingest.op") {
        val res = tracer.span("ingest.run") {
          IngestPipeline.run(spark.read.parquet(input), cfg)
        }
        val h = xxhash64(col("idempotency_key"))
        tracer.span("operators.warehouse_write") {
          WarehouseWriter.write(res.events.observe(ev, count(lit(1)).as("n"),
            bit_xor(h).as("x"), sum(h.bitwiseAND(lit(0xffffffffL))).as("s")), dir)
        }
        val routed = tracer.span("ingest.dlq_route") { DlqReplay.route(res.dlq) }
        tracer.span("ingest.replay_write") {
          noop(routed.replay.observe(rp, count(lit(1)).as("n")))
        }
        tracer.span("ingest.parked_write") {
          noop(routed.parked.observe(pk, count(lit(1)).as("n")))
        }
        tracer.span("ingest.sampled_out_write") {
          noop(res.sampledOut.observe(so, count(lit(1)).as("n")))
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    System.err.println(f"[perfbench] ingest op $id%-4d $wall%.3f s")
    val e = ev.get
    val counts = Counts(e("n").asInstanceOf[Long], e("x").asInstanceOf[Long],
      e("s").asInstanceOf[Long], rows(rp), rows(pk), rows(so))
    deleteRecursively(new java.io.File(dir))
    (wall, counts)
  }

  def check(exp: Gen.Expected, c: Counts): Option[String] = {
    val want = Counts(exp.eventsOut, exp.keyXor, exp.keySum, exp.replayRows,
      exp.parkedRows, exp.sampledOutRows)
    if (c == want) None else Some(s"ingest op produced $c, expected $want")
  }

  /** Runs one checked op; a mismatch or an exception counts as failed. */
  def checkedOp(ctx: Ctx, input: String, exp: Gen.Expected, id: Int,
      rep: Report, tracer: Tracer): Option[(Double, Counts)] = {
    rep.attempted += 1
    try {
      val r = op(ctx, input, id, tracer)
      check(exp, r._2) match {
        case Some(msg) => rep.fail(msg); None
        case None => Some(r)
      }
    } catch {
      case scala.util.control.NonFatal(e) => rep.fail(s"ingest op $id: $e"); None
    }
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** Generation, the expected record and the warm-up ops. */
  private def setUp(ctx: Ctx, rep: Report, n: Long): (String, Gen.Expected) = {
    val input = generate(ctx, n)
    val exp = Gen.expected(ctx.seed, n)
    for (i <- 0 until WarmupOps) checkedOp(ctx, input, exp, -1 - i, rep, new Tracer(false))
    (input, exp)
  }

  def measure(ctx: Ctx, rep: Report): Unit = {
    val off = new Tracer(false)
    val (input, exp) = setUp(ctx, rep, BaseEnvelopes)
    rep.put("setup_s", ctx.sinceStart, "s")
    val start = System.nanoTime()
    val walls = Iterator.from(0)
      .takeWhile(_ => (System.nanoTime() - start) / 1e9 < ctx.seconds)
      .flatMap(i => checkedOp(ctx, input, exp, i, rep, off))
      .map(_._1).toList
    rep.put("throughput_per_s", exp.rowsIn / Stats.median(walls), "1/s")
    rep.put("op_ms_geomean", 1e3 * Stats.geomean(walls), "ms")
  }

  /** The traced sweep of the ingest layers, on a batch of
    * `TracedBaseEnvelopes`: per-stage times by prefix differencing, then a
    * traced op with runtime counters and an untraced op after it as the
    * overhead baseline. The untraced side runs later and warmer, so the
    * overhead reads high rather than low. */
  def traced(ctx: Ctx, rep: Report, tracer: Tracer, probe: Probe): Unit = {
    val off = new Tracer(false)
    val (input, exp) = setUp(ctx, rep, TracedBaseEnvelopes)
    probe.scanPath = Some(input)
    val sweep = prefixSweep(ctx, input, tracer, 300)
    val before = probe.snapshot()
    val op = checkedOp(ctx, input, exp, 200, rep, tracer)
      .map { case (wall, _) => (wall, probe.snapshot() - before) }
    val plain = checkedOp(ctx, input, exp, 100, rep, off).map(_._1)
    def perOp(f: Counters => Double) = op.map(r => f(r._2)).getOrElse(Double.NaN)
    rep.put("trace.overhead_pct.ingest_batch",
      (for (p <- plain; (t, _) <- op) yield 100 * (t / p - 1)).getOrElse(Double.NaN), "%")
    rep.put("spark.jobs_per_op", perOp(_.jobs.toDouble), "count")
    rep.put("spark.stages_per_op", perOp(_.stages.toDouble), "count")
    rep.put("spark.executor_cpu_s_per_op", perOp(_.cpuNs / 1e9), "s")
    rep.put("spark.gc_s_per_op", perOp(_.gcMs / 1e3), "s")
    rep.put("ingest.input_scans_per_op", perOp(_.inputScans.toDouble), "count")
    for (s <- Seq("decode", "validate", "sample", "normalize", "project",
        "dedup", "route", "replay"))
      rep.put(s"ingest.${s}_s", sweep(s), "s")
    rep.put("operators.warehouse_write_s",
      Stats.median(tracer.seconds("operators.warehouse_write")) - sweep("events"), "s")
    // exact route counts, checked against the generator's record
    val counts = Seq("rows_in" -> exp.rowsIn, "events_out" -> exp.eventsOut,
      "dlq_rows" -> exp.dlqRows, "sampled_out_rows" -> exp.sampledOutRows,
      "deduped_rows" -> exp.dedupedRows, "parked_rows" -> exp.parkedRows)
    counts.foreach { case (n, _) => rep.put(s"ingest.$n", sweep(n), "count") }
    rep.attempted += 1
    val wrong = counts.filter { case (n, want) => sweep(n).toLong != want }
    if (wrong.nonEmpty)
      rep.fail(s"ingest route counts differ from the record: ${wrong.map(_._1).mkString(", ")}")
  }

  /** Times each pipeline prefix with a noop write of every column; a
    * stage's self time is its prefix's time minus the previous prefix's.
    * Also returns the exact route counts, observed on the same writes. */
  private def prefixSweep(ctx: Ctx, input: String, tracer: Tracer, id: Int)
      : Map[String, Double] = {
    val raw = ctx.spark.read.parquet(input)
    val p1 = IngestPipeline.decoded(raw)
    val p2 = IngestPipeline.validated(p1)
    val p3 = IngestPipeline.sampled(p2, cfg)
    val p3f = p3.filter(col("is_valid") && col("sampled"))
    val p4 = IngestPipeline.phoneNormalized(p3f, cfg.defaultRegion)
    val p5 = IngestPipeline.projected(p4, cfg)
    val res = IngestPipeline.run(raw, cfg)
    val routed = DlqReplay.route(res.dlq)
    val obs = scala.collection.mutable.Map.empty[String, Observation]
    def timed(name: String, df: DataFrame): Double = tracer.op(id) {
      tracer.span(s"ingest.prefix.$name") {
        val o = Observation(); obs(name) = o
        val t0 = System.nanoTime()
        noop(df.observe(o, count(lit(1)).as("n")))
        (System.nanoTime() - t0) / 1e9
      }
    }
    val t = Seq("raw" -> raw, "decoded" -> p1, "validated" -> p2,
      "sampled" -> p3, "kept" -> p3f, "normalized" -> p4, "projected" -> p5,
      "events" -> res.events, "dlq" -> res.dlq, "sampled_out" -> res.sampledOut,
      "replay" -> routed.replay, "parked" -> routed.parked)
      .map { case (n, df) => n -> timed(n, df) }.toMap
    def n(name: String) = rows(obs(name)).toDouble
    Map(
      "decode" -> (t("decoded") - t("raw")),
      "validate" -> (t("validated") - t("decoded")),
      "sample" -> (t("sampled") - t("validated")),
      "normalize" -> (t("normalized") - t("kept")),
      "project" -> (t("projected") - t("normalized")),
      "dedup" -> (t("events") - t("projected")),
      "route" -> (t("dlq") + t("sampled_out") - 2 * t("sampled")),
      "replay" -> (t("replay") + t("parked") - 2 * t("dlq")),
      "events" -> t("events"),
      "rows_in" -> n("raw"), "events_out" -> n("events"), "dlq_rows" -> n("dlq"),
      "sampled_out_rows" -> n("sampled_out"),
      "deduped_rows" -> (n("kept") - n("events")), "parked_rows" -> n("parked"))
  }
}
