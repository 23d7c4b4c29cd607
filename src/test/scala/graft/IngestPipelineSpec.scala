package graft

import java.nio.file.Files
import java.util.Base64
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{DlqReplay, IngestPipeline, SyntheticData}

class IngestPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def b64(s: String) =
    Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))

  private val fixedTs = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
  private val cfg = IngestPipeline.Config(receivedAt = Some(fixedTs))

  private def envelope(
      tenantId: String = "\"tenant_id\":\"t1\",",
      occurredAt: String = "2024-05-01T10:00:00Z",
      callId: String = "call-1") =
    s"""{"envelope_version":"1","event_type":"call.completed",
       |"schema_version":"2",$tenantId"occurred_at":"$occurredAt",
       |"trace_id":"tr-9","source":"smoke",
       |"payload":{"call_id":"$callId","caller":"(415) 555-0001",
       |"callee":"415-555-0002","duration":42}}""".stripMargin.replace("\n", "")

  test("valid envelope → one warehouse row with casts, defaults, E.164 payload (bq.js:20-35)") {
    val raw = Seq(("m1", b64(envelope()))).toDF("message_id", "data")
    val res = IngestPipeline.run(raw, cfg)
    assert(res.dlq.count() === 0)
    val row = res.events.collect().head
    assert(row.getAs[String]("tenant_id") === "t1")
    assert(row.getAs[Long]("schema_version") === 2L)
    assert(row.getAs[Long]("envelope_version") === 1L)
    assert(row.getAs[String]("idempotency_key") === "call-1")
    assert(row.getAs[String]("source") === "smoke")
    assert(row.getAs[Boolean]("sampled"))
    assert(row.getAs[java.sql.Timestamp]("received_at") === fixedTs)
    val payload = row.getAs[String]("payload")
    assert(payload.contains("+14155550001") && payload.contains("+14155550002"))
  }

  test("missing tenant_id → DLQ missing_fields 400 (validation.js:16-18, handler.js:16-32)") {
    val raw = Seq(("m1", b64(envelope(tenantId = "")))).toDF("message_id", "data")
    val res = IngestPipeline.run(raw, cfg)
    assert(res.events.count() === 0)
    val d = res.dlq.collect().head
    assert(d.getAs[String]("error_type") === "missing_fields")
    assert(d.getAs[Int]("http_status") === 400)
  }

  test("unparseable timestamp → DLQ invalid_timestamp (validation.js:20-22)") {
    val raw = Seq(("m1", b64(envelope(occurredAt = "not-a-date"))))
      .toDF("message_id", "data")
    val d = IngestPipeline.run(raw, cfg).dlq.collect().head
    assert(d.getAs[String]("error_type") === "invalid_timestamp")
    assert(d.getAs[Int]("http_status") === 400)
  }

  test("broken JSON body → DLQ invalid_json 422 (handler.js:43-44,86-99)") {
    val raw = Seq(("m1", b64("this is not json"))).toDF("message_id", "data")
    val d = IngestPipeline.run(raw, cfg).dlq.collect().head
    assert(d.getAs[String]("error_type") === "invalid_json")
    assert(d.getAs[Int]("http_status") === 422)
  }

  test("malformed base64 body → DLQ invalid_json, no ANSI crash (handler.js:41-44)") {
    val raw = Seq(("m1", "!!!not-base64!!!")).toDF("message_id", "data")
    val d = IngestPipeline.run(raw, cfg).dlq.collect().head
    assert(d.getAs[String]("error_type") === "invalid_json")
  }

  test("5 duplicate envelopes collapse to exactly 1 row (scripts/02_idempotency_test.js:125,176)") {
    val raw = (1 to 5).map(i => (s"m$i", b64(envelope(callId = "dup-key"))))
      .toDF("message_id", "data")
    val res = IngestPipeline.run(raw, cfg)
    assert(res.events.count() === 1)
    assert(res.events.collect().head.getAs[String]("idempotency_key") === "dup-key")
  }

  test("key priority falls back to trace_id when payload has no ids (validation.js:33-42)") {
    val e = envelope().replace("\"call_id\":\"call-1\",", "")
    val raw = Seq(("m1", b64(e))).toDF("message_id", "data")
    val row = IngestPipeline.run(raw, cfg).events.collect().head
    assert(row.getAs[String]("idempotency_key") === "tr-9")
  }

  test("sampled-out rows are never written but are observable (handler.js:51-58)") {
    val raw = (1 to 40).map(i => (s"m$i", b64(envelope(callId = s"call-$i"))))
      .toDF("message_id", "data")
    val res = IngestPipeline.run(raw,
      IngestPipeline.Config(auditRate = 0.5, receivedAt = Some(fixedTs)))
    val kept = res.events.count()
    val dropped = res.sampledOut.count()
    assert(kept + dropped === 40)
    assert(kept > 0 && dropped > 0)
    // deterministic: same input → same split
    val res2 = IngestPipeline.run(raw,
      IngestPipeline.Config(auditRate = 0.5, receivedAt = Some(fixedTs)))
    assert(res2.events.count() === kept)
  }

  test("ingest dedup aggregate stays inside whole-stage codegen (no 64KB fallback)") {
    // With fallback disabled, a generated method blowing the JVM's 64 KB
    // limit fails the job instead of silently dropping to interpreted
    // execution — this pins the noInline decode barrier plus the
    // repartition stage-cut before the dedup aggregate (without them,
    // pushdown re-embedded the decode tree ~12× into one fused stage and
    // logged `ERROR CodeGenerator ... Code grows beyond 64 KB`).
    val prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val res = IngestPipeline.run(SyntheticData.envelopes(spark, 2000),
        IngestPipeline.Config(auditRate = 0.8, receivedAt = Some(fixedTs)))
      assert(res.events.count() > 1400)
      // the batch events route over run's cache, and the uncached route
      // the streaming path runs: no expression that opts out of codegen,
      // and no projection outside a whole-stage-codegen stage
      val uncached = IngestPipeline.eventRows(IngestPipeline.prepare(
        SyntheticData.envelopes(spark, 2000), cfg80), cfg80)
      val gaps = Seq("batch" -> res.events, "uncached" -> uncached).flatMap {
        case (route, df) =>
          assert(df.collect().length > 1400)
          val nodes = planNodes(df.queryExecution.executedPlan)
          val staged = nodes.collect { case w: WholeStageCodegenExec => stage(w.child) }
            .flatten
          nodes.filter(_.expressions.exists(
              _.find(_.isInstanceOf[CodegenFallback]).isDefined))
            .map(n => s"$route, codegen fallback: ${n.simpleString(200)}") ++
          nodes.collect { case p: ProjectExec if !staged.exists(_ eq p) =>
            s"$route, projection outside codegen: ${p.simpleString(200)}" }
      }
      assert(gaps.isEmpty, gaps.mkString("\n"))
    } finally spark.conf.set("spark.sql.codegen.fallback", prev)
  }

  /** Every node of an executed plan: through AQE's stages, and into the
    * plans of the caches it scans. */
  private def planNodes(plan: SparkPlan): Seq[SparkPlan] =
    Plans.collect(plan) { case p => p }.flatMap {
      case m: InMemoryTableScanExec => m +: planNodes(m.relation.cachedPlan)
      case p => Seq(p)
    }

  /** The nodes one whole-stage-codegen stage compiles, from its child. */
  private def stage(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case _: InputAdapter => Nil
    case _ => p.children.flatMap(stage)
  })

  private object Plans extends AdaptiveSparkPlanHelper

  /** 500 synthetic envelopes written as parquet; returns the path. */
  private def envelopeFile(seed: Long = 42L): String = {
    val path = Files.createTempDirectory("graft-ingest").toString + "/in"
    SyntheticData.envelopes(spark, 500, seed).write.parquet(path)
    path
  }

  private val cfg80 =
    IngestPipeline.Config(auditRate = 0.8, receivedAt = Some(fixedTs))

  private def cacheScans(df: DataFrame): Seq[InMemoryTableScanExec] =
    Plans.collect(df.queryExecution.executedPlan) {
      case m: InMemoryTableScanExec => m
    }

  private def inputScans(df: DataFrame, input: String): Seq[FileSourceScanExec] =
    Plans.collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains(input)) => f
    }

  /** The id of the cached RDD `df` reads; fails if it reads no cache. */
  private def cacheId(df: DataFrame): Int = {
    val mem = cacheScans(df)
    assert(mem.size === 1, s"one cache scan expected in ${df.queryExecution.executedPlan}")
    mem.head.relation.cacheBuilder.cachedColumnBuffers.id
  }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("run materializes the prepared batch once: the DLQ and sampled-out outputs read the cache, not the input") {
    val input = envelopeFile()
    val res = IngestPipeline.run(spark.read.parquet(input), cfg80)
    assert(res.events.count() > 300)
    for ((name, df) <- Seq("dlq" -> res.dlq, "sampledOut" -> res.sampledOut)) {
      assert(cacheScans(df).nonEmpty, s"$name reads no cache")
      assert(inputScans(df, input).isEmpty, s"$name scans the input")
    }
    assert(res.dlq.count() > 0 && res.sampledOut.count() > 0)
  }

  test("a re-run over the same input replaces the session's cached batch and still reads the cache") {
    val s = spark.newSession()
    val input = envelopeFile()
    val before = persistedIds
    val r1 = IngestPipeline.run(s.read.parquet(input), cfg80)
    assert(r1.dlq.count() > 0)
    val id1 = cacheId(r1.dlq)
    assert(persistedIds -- before === Set(id1))
    val r2 = IngestPipeline.run(s.read.parquet(input), cfg80)
    assert(r2.events.count() > 300)
    // evicting the first batch after persisting the second would drop
    // the one cache entry both identical plans share
    val id2 = cacheId(r2.dlq)
    assert(persistedIds -- before === Set(id2))
    assert(id2 !== id1)
    for (df <- Seq(r2.dlq, r2.sampledOut)) {
      assert(cacheId(df) === id2)
      assert(inputScans(df, input).isEmpty)
    }
    Shared.reset(s)
  }

  test("an IngestResult used after a newer run returns the same rows") {
    val s = spark.newSession()
    val r1 = IngestPipeline.run(s.read.parquet(envelopeFile()), cfg80)
    val rows1 = Seq(r1.events, r1.dlq, r1.sampledOut).map(sortedRows)
    val r2 = IngestPipeline.run(s.read.parquet(envelopeFile(seed = 7L)), cfg80)
    assert(r2.events.count() > 300)
    assert(Seq(r1.events, r1.dlq, r1.sampledOut).map(sortedRows) === rows1)
    assert(sortedRows(r2.events) !== rows1.head)
    Shared.reset(s)
  }

  test("Shared.reset drops the session's cached ingest batch") {
    val s = spark.newSession()
    val res = IngestPipeline.run(s.read.parquet(envelopeFile()), cfg80)
    assert(res.dlq.count() > 0)
    val id = cacheId(res.dlq)
    assert(persistedIds(id))
    Shared.reset(s)
    assert(!persistedIds(id))
    // a fresh plan: res.dlq's own executed plan was fixed when first used
    assert(cacheScans(res.dlq.select("*")).isEmpty,
      "the evicted batch is no longer cached")
  }

  test("prepare parses each payload id once and the events path runs no regex replace") {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GetJsonObject, RegExpReplace}
    val in = spark.read.parquet(envelopeFile())
    val v = IngestPipeline.prepare(in, cfg80)
    def exprs(df: DataFrame) = Plans.collect(df.queryExecution.executedPlan) {
      case p => p.expressions
    }.flatten
    def payloadParses(df: DataFrame) = exprs(df).flatMap(_.collect {
      case g @ GetJsonObject(a: AttributeReference, _) if a.name == "payload" => g
    })
    assert(payloadParses(v).size === 2, v.queryExecution.executedPlan.toString)
    val events = IngestPipeline.eventRows(v, cfg80)
    // uncached, the validity filter must not copy the key's parses
    assert(payloadParses(events).size === 2, events.queryExecution.executedPlan.toString)
    assert(exprs(events).forall(_.find(_.isInstanceOf[RegExpReplace]).isEmpty),
      events.queryExecution.executedPlan.toString)
    assert(events.count() > 300)
  }

  test("synthetic generator: deterministic, with planted invalid slices (load-test.js:22-55)") {
    val a = SyntheticData.envelopes(spark, 500).collect()
    val b = SyntheticData.envelopes(spark, 500).collect()
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    val res = IngestPipeline.run(SyntheticData.envelopes(spark, 500), cfg)
    val dlqTypes = res.dlq.groupBy("error_type").count()
      .as[(String, Long)].collect().toMap
    assert(dlqTypes.contains("missing_fields"))
    assert(dlqTypes.contains("invalid_json"))
    assert(res.events.count() > 400)
  }

  test("full DLQ cycle: invalid → DLQ → corrected replay → ingested (scripts/03_dlq_and_replay.js)") {
    import graft.ingest.DlqReplay
    // 1. envelope missing tenant_id lands in the DLQ
    val bad = envelope(tenantId = "")
    val res1 = IngestPipeline.run(
      Seq(("m1", b64(bad))).toDF("message_id", "data"), cfg)
    assert(res1.events.count() === 0)
    assert(res1.dlq.collect().head.getAs[String]("error_type") === "missing_fields")
    // 2. replay routing stamps the attempt counter
    val routed = DlqReplay.route(res1.dlq, maxAttempts = 3)
    assert(routed.replay.collect().head.getAs[Int]("replay_attempts") === 1)
    // 3. the corrected envelope re-ingests cleanly
    val corrected = routed.replay.select("data").as[String].collect().map { d =>
      val fixed = new String(Base64.getDecoder.decode(d), "UTF-8")
        .replace("\"occurred_at\"", "\"tenant_id\":\"t1\",\"occurred_at\"")
      ("m1-replay", b64(fixed))
    }.toSeq.toDF("message_id", "data")
    val res2 = IngestPipeline.run(corrected, cfg)
    assert(res2.dlq.count() === 0)
    assert(res2.events.collect().head.getAs[String]("tenant_id") === "t1")
  }

  test("DLQ replay routing: attempts >= 3 park, others increment (replay-dlq-job.js:76-92)") {
    val dlq = Seq(
      ("d1", "missing_fields", 0), ("d2", "missing_fields", 2),
      ("d3", "invalid_json", 3), ("d4", "invalid_json", 7))
      .toDF("data", "error_type", "replay_attempts")
    val routed = DlqReplay.route(dlq, maxAttempts = 3)
    val replay = routed.replay.select("data", "replay_attempts")
      .as[(String, Int)].collect().toMap
    val parked = routed.parked.select("data", "x_final_attempt_count")
      .as[(String, Int)].collect().toMap
    assert(replay === Map("d1" -> 1, "d2" -> 3))
    // the parking pass counts itself (replay-dlq-job.js:23-24,45)
    assert(parked === Map("d3" -> 4, "d4" -> 8))
    assert(routed.parked.select("x_parked_reason").distinct()
      .as[String].collect().toSeq === Seq("Exceeded max replay attempts (3)"))
  }

  test("replay attribute hygiene strips googclient_* and the counter (replay-dlq-job.js:31-34)") {
    val df = Seq(1).toDF("id").select(
      map(lit("googclient_deliveryattempt"), lit("4"),
        lit("x-replay-attempts"), lit("2"),
        lit("orderingKey"), lit("k1")).as("attrs"))
    val cleaned = df.select(DlqReplay.cleanAttributes(col("attrs")).as("attrs"))
      .select(map_keys(col("attrs"))).as[Seq[String]].collect().head
    assert(cleaned === Seq("orderingKey"))
  }
}
