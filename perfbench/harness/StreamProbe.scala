package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.streaming.StreamingIngest

/** The streaming layer, measured in the traced sweep: an open loop of
  * 1,000 envelopes/s sent in 100 ms ticks from one generator thread into
  * `eventsStream` and `dlqStream`, both at trigger 0 with noop
  * `foreachBatch` sinks. About 10 % of the envelopes are redeliveries of
  * envelopes sent 3 s earlier, so the watermark dedup state does work.
  *
  * An envelope's latency runs from its due time at the generator to the
  * end of the events micro-batch that wrote it. */
object StreamProbe {
  val PerSecond = 1000
  val TickMs = 100
  val WarmupS = 5.0
  val MeasureS = 8.0
  private val PerTick = PerSecond * TickMs / 1000
  private val RedeliverLagRows = 3L * PerSecond

  /** Row `k` of the stream: a fresh envelope, or every tenth row a
    * redelivery of the one sent 3 s earlier. */
  def envelope(seed: Long, k: Long): Gen.Envelope =
    if (k >= RedeliverLagRows && Gen.pick(seed, k, 20, 10) == 0)
      Gen.base(seed, k - RedeliverLagRows)
    else Gen.base(seed, k)

  /** Last MemoryStream offset a progress report covers; -1 before any. */
  private def endOffset(p: StreamingQueryProgress): Long =
    Option(p).flatMap(p => Option(p.sources(0).endOffset)).map(_.toLong)
      .getOrElse(-1L)

  private def sink(batch: DataFrame, id: Long): Unit =
    batch.write.format("noop").mode("overwrite").save()

  final class Listener(eventsId: java.util.UUID) extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val all = new AtomicLong
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      all.incrementAndGet()
      if (e.progress.id == eventsId && e.progress.numInputRows > 0)
        events.add(e.progress)
    }
  }

  def traced(ctx: Ctx, rep: Report, tracer: Tracer, probe: Probe): Unit = {
    val spark = ctx.spark
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val seed = ctx.seed + 1000003L // not the batch input's envelopes
    // one source per query: a MemoryStream drops what its reader commits,
    // so the two queries cannot share one
    val (input, dlqInput) = (MemoryStream[Gen.Envelope], MemoryStream[Gen.Envelope])
    val (eq, dq) = tracer.span("streaming.start") {
      (StreamingIngest.start(StreamingIngest.eventsStream(input.toDF(), IngestBatch.cfg),
          s"${ctx.work}/checkpoints/events")(sink),
        StreamingIngest.start(StreamingIngest.dlqStream(dlqInput.toDF()),
          s"${ctx.work}/checkpoints/dlq")(sink))
    }
    val listener = new Listener(eq.id)
    spark.streams.addListener(listener)
    // due time (epoch ms) of each tick, indexed by its MemoryStream offset
    val nTicks = ((WarmupS + MeasureS) * 1000 / TickMs).toInt
    val due = new Array[Long](nTicks)
    val late = new Array[Long](nTicks)
    val backlog = new Array[Long](nTicks)
    val t0 = System.currentTimeMillis() + 200
    var failure: Option[Throwable] = None
    val gen = new Thread(() => {
      try for (t <- 0 until nTicks) {
        due(t) = t0 + t.toLong * TickMs
        val wait = due(t) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        late(t) = System.currentTimeMillis() - due(t)
        val rows = (0 until PerTick).map(i => envelope(seed, t.toLong * PerTick + i))
        dlqInput.addData(rows)
        val off = input.addData(rows).json().toLong
        require(off == t, s"tick $t landed at offset $off")
        backlog(t) = (t - endOffset(eq.lastProgress)) * PerTick
      } catch { case e: Throwable => failure = Some(e) }
    }, "perfbench-stream-generator")
    val jobsBefore = probe.snapshot()
    val batchesBefore = listener.all.get
    tracer.span("streaming.run") {
      gen.start(); gen.join()
      // let the last ticks commit
      val deadline = System.currentTimeMillis() + 10000
      while (endOffset(eq.lastProgress) < nTicks - 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
    }
    val counters = probe.snapshot() - jobsBefore
    val batches = listener.all.get - batchesBefore
    eq.stop(); dq.stop()
    spark.streams.removeListener(listener)
    rep.attempted += 1
    failure.foreach(e => rep.fail(s"stream generator: $e"))
    Seq(eq, dq).flatMap(_.exception).foreach(e => rep.fail(s"stream: $e"))

    val firstMeasured = (WarmupS * 1000 / TickMs).toInt
    val progress = listener.events.asScala.toSeq
      .filter(p => endOffset(p) >= firstMeasured)
    val latencies = listener.events.asScala.toSeq.flatMap { p =>
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution")
      val from = Option(p.sources(0).startOffset).map(_.toLong + 1).getOrElse(0L)
      (from to endOffset(p))
        .filter(t => t >= firstMeasured && t < nTicks)
        .map(t => (end - due(t.toInt)).toDouble)
    }
    if (latencies.size < (nTicks - firstMeasured) * 9 / 10)
      rep.fail(s"stream committed ${latencies.size} of ${nTicks - firstMeasured} measured ticks")
    def dur(key: String) = progress.map(p => p.durationMs.getOrDefault(key, 0L).toDouble)
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      progress.flatMap(_.stateOperators.headOption).map(f)
    rep.put("streaming.latency_p50_ms", Stats.quantile(latencies, 0.5), "ms")
    rep.put("streaming.latency_p95_ms", Stats.quantile(latencies, 0.95), "ms")
    rep.put("streaming.trigger_ms_p50", Stats.median(dur("triggerExecution")), "ms")
    rep.put("streaming.trigger_ms_p95", Stats.quantile(dur("triggerExecution"), 0.95), "ms")
    rep.put("streaming.planning_ms_p50", Stats.median(dur("queryPlanning")), "ms")
    rep.put("streaming.wal_commit_ms_p50", Stats.median(dur("walCommit")), "ms")
    rep.put("streaming.commit_offsets_ms_p50", Stats.median(dur("commitOffsets")), "ms")
    rep.put("streaming.add_batch_ms_p50", Stats.median(dur("addBatch")), "ms")
    rep.put("streaming.state_commit_ms_p50", Stats.median(state(_.commitTimeMs.toDouble)), "ms")
    rep.put("streaming.state_rows", state(_.numRowsTotal.toDouble).lastOption.getOrElse(0.0), "count")
    rep.put("streaming.state_mb", state(_.memoryUsedBytes / 1e6).lastOption.getOrElse(0.0), "MB")
    rep.put("streaming.rows_per_batch_p50", Stats.median(progress.map(_.numInputRows.toDouble)), "count")
    rep.put("streaming.backlog_envelopes_max", backlog.max.toDouble, "count")
    rep.put("streaming.generator_late_ms_max", late.max.toDouble, "ms")
    rep.put("spark.jobs_per_batch", counters.jobs.toDouble / math.max(batches, 1), "count")
  }
}
