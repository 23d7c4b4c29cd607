package graft.ingest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel
import graft.functions.CoreFunctions._
import graft.functions.EnvelopeDecoder

/** The reference's ingest pipeline (SURVEY §2A A2–A14) as one declarative
  * Spark transform chain: decode → validate → key-derive → sample →
  * phone-normalize → project → split(events, dlq).
  *
  * The whole chain is column expressions over a single scan — Catalyst
  * fuses it into one whole-stage-codegen'd stage (SURVEY §3.1), so the
  * same code serves batch DataFrames and Structured Streaming inputs.
  * Reference behavior mirrored from handler.js:37-109, validation.js,
  * sampling.js, phone.js, bq.js:20-35.
  */
object IngestPipeline {

  /** Pipeline configuration (reference env vars, README.md:160-168).
    * defaultRegion mirrors DEFAULT_PHONE_REGION (phone.js:7). */
  final case class Config(
      auditRate: Double = 1.0,
      defaultRegion: String = CoreFunctionsDefaultRegion,
      /** Fixed ingest timestamp for deterministic tests; None = now(). */
      receivedAt: Option[java.sql.Timestamp] = None)

  private def CoreFunctionsDefaultRegion =
    graft.functions.CoreFunctions.defaultPhoneRegion

  /** Typed view of the known payload fields (load-test.js:35-47,
    * scripts/01_smoke_publish.js:71-77); unknown fields survive inside
    * the raw JSON string column. */
  val payloadSchema: StructType = StructType(Seq(
    StructField("call_id", StringType),
    StructField("message_id", StringType),
    StructField("caller", StringType),
    StructField("callee", StringType),
    StructField("from_phone", StringType),
    StructField("to_phone", StringType),
    StructField("duration", DoubleType),
    StructField("status", StringType),
    StructField("channel", StringType),
    StructField("text_length", LongType),
    StructField("metadata", MapType(StringType, StringType))))

  /** The top-level envelope fields [[decoded]] surfaces. */
  private val envelopeFields = Seq("envelope_version", "event_type",
    "schema_version", "tenant_id", "occurred_at", "trace_id", "source",
    "payload")

  /** Transport attributes the DLQ carries when the source has them. */
  private val transportFields = Seq("message_id", "ordering_key")

  /** The payload fields whose first non-null value keys a message
    * (validation.js:33-42); `trace_id` is the fallback. */
  private val payloadIds = Seq("call_id", "message_id")

  /** The kernel's struct column, read by [[validated]] and dropped there. */
  private val Envelope = "__envelope"

  /** A2 — base64-decode a Pub/Sub push body column and surface the
    * envelope fields (handler.js:43-44). Bad base64 / non-JSON rows get
    * null envelope fields and are routed by [[validated]].
    *
    * One native expression reads each body once
    * ([[graft.functions.CoreFunctions.decodeEnvelope]]): the decoded JSON
    * (`__raw_json`), the eight fields, and for [[validated]] the payload
    * id and the invalid-JSON test, in an internal struct column,
    * `__envelope`, which [[validated]] drops. Each value is byte-identical
    * to the expression chain it replaces: `try_to_binary(data, 'base64')`
    * cast to string, `json_tuple` over the eight fields, and
    * `get_json_object` over the payload (CoreFunctionsSpec keeps that
    * chain and checks the kernel against it).
    *
    * noInline: the fields are struct-field reads of the one kernel column;
    * without the barrier, predicate pushdown would copy the kernel into
    * every filter that reads a field — one decode per reference per row.
    * The barrier also stops predicates on SIBLING columns from crossing
    * this projection (Catalyst tests all fields of a Project), so apply
    * source-column filters — partition pruning, attribute predicates — to
    * `raw` BEFORE calling decoded(). */
  def decoded(raw: DataFrame, dataCol: String = "data"): DataFrame = {
    val env = col(Envelope)
    raw.select(col("*"), noInline(decodeEnvelope(col(dataCol), envelopeFields,
        "payload", payloadIds, "event_type")).as(Envelope))
      .select(col("*") +: (EnvelopeDecoder.RawJson +: envelopeFields)
        .map(f => env.getField(f).as(f)): _*)
  }

  /** A3+A4+A5 — envelope validation + key derivation (validation.js:12-66):
    * adds is_valid, error_type, idempotency_key. Reads the `__envelope`
    * column [[decoded]] adds, and drops it. */
  def validated(df: DataFrame): DataFrame = {
    val env = col(Envelope)
    val requiredOk = Seq("envelope_version", "event_type", "schema_version",
      "tenant_id", "occurred_at", "payload").map(col(_).isNotNull)
      .reduce(_ && _)
    // try_ variant: malformed timestamps must route to the DLQ, not throw
    // (ANSI mode is on)
    val tsOk = expr("try_to_timestamp(occurred_at)").isNotNull
    df.withColumn("idempotency_key",
        coalesce(env.getField(EnvelopeDecoder.PayloadId), col("trace_id")))
      .withColumn("error_type",
        when(env.getField(EnvelopeDecoder.InvalidJson), lit("invalid_json"))
          .when(!requiredOk, lit("missing_fields"))
          .when(!tsOk, lit("invalid_timestamp"))
          .when(col("idempotency_key").isNull, lit("no_idempotency_key"))
          .otherwise(lit(null).cast("string")))
      .withColumn("is_valid", col("error_type").isNull)
      .drop(Envelope)
  }

  /** A6+A7 — deterministic sampling decision column (sampling.js). */
  def sampled(df: DataFrame, cfg: Config): DataFrame =
    df.withColumn("sampled",
      shouldSample(col("idempotency_key"), cfg.auditRate))

  /** The payload fields that hold phone numbers (phone.js:36-56). */
  val phoneFields: Seq[String] = Seq("caller", "callee", "from_phone", "to_phone")

  /** A9 — normalize the four phone fields inside the payload JSON
    * (phone.js:36-56) and re-serialize the payload (bq.js:20-35) with one
    * native expression ([[graft.functions.CoreFunctions.normalizePayload]]):
    * the [[payloadSchema]] fields in schema order, nulls skipped, unknown
    * top-level fields dropped; nested metadata survives. */
  def phoneNormalized(df: DataFrame,
      region: String = graft.functions.CoreFunctions.defaultPhoneRegion)
      : DataFrame =
    df.withColumn("payload_normalized",
      normalizePayload(col("payload"), payloadSchema, phoneFields, region))

  /** A10 — warehouse-row projection (bq.js:20-35): INT casts, defaults,
    * ingest timestamp, sampled flag, normalized payload re-serialized. */
  def projected(df: DataFrame, cfg: Config): DataFrame = {
    val receivedAt = cfg.receivedAt
      .map(ts => lit(ts).cast("timestamp"))
      .getOrElse(current_timestamp())
    df.select(
      col("tenant_id"),
      col("event_type"),
      col("schema_version").cast("long").as("schema_version"),
      col("envelope_version").cast("long").as("envelope_version"),
      col("trace_id"),
      expr("try_to_timestamp(occurred_at)").as("occurred_at"),
      receivedAt.as("received_at"),
      coalesce(col("source"), lit("unknown")).as("source"),
      lit(true).as("sampled"),
      col("idempotency_key"),
      col("payload_normalized").as("payload"))
  }

  /** Result of a pipeline run: warehouse-ready rows, DLQ rows with error
    * routing, and rows dropped by sampling (observability only). */
  final case class IngestResult(events: DataFrame, dlq: DataFrame,
      sampledOut: DataFrame)

  /** Shared front half of the pipeline: decode → validate → sample. All
    * three outputs ([[split]]) derive from this one frame, lazily: each
    * output's action re-runs the fused decode/validate tree over the
    * input unless the frame is cached. [[run]] caches it once per batch;
    * a caller that splits a prepared frame itself and reads several
    * outputs caches it itself. */
  def prepare(raw: DataFrame, cfg: Config = Config()): DataFrame =
    sampled(validated(decoded(raw)), cfg)

  /** Back half: route a prepared frame into (events, dlq, sampled-out).
    * A12's dedup: events are dropDuplicates on idempotency_key — stronger
    * than the reference's best-effort BigQuery insertId (SURVEY A12).
    * IngestPipelineSpec asserts every projection on the path stays inside
    * whole-stage codegen with spark.sql.codegen.fallback=false; the dedup
    * aggregate itself does not (below). */
  def split(v: DataFrame, cfg: Config = Config()): IngestResult = {
    // The explicit repartition IS the dedup's shuffle (hashpartitioning on
    // the key satisfies the aggregate's distribution — EnsureRequirements
    // adds no second exchange). The map side carries the column work
    // (normalize → project, a codegen'd projection); the reduce side
    // dedups 11 already-materialized attributes. That dedup runs outside
    // whole-stage codegen: `first()` over string columns has no
    // fixed-width buffer, so Spark plans it as two SortAggregates
    // (plans/r18/ingest_events_batch_after.txt).
    val events = eventRows(v, cfg)
      .repartition(col("idempotency_key"))
      .dropDuplicates("idempotency_key")
    // A13/A14 — terminal errors route to the DLQ with an HTTP-status
    // taxonomy (handler.js:16-32); transient (5xx) rows stay re-playable.
    // Transport attributes (message_id, ordering_key) ride along when the
    // source carries them, so replay can reconstruct the message
    // (replay-dlq-job.js:36-51).
    val transport = transportFields.filter(v.columns.contains)
    // the replay counter is a transport attribute (x-replay-attempts,
    // replay-dlq-job.js:25): a re-ingested replay carries its incremented
    // count, so a row that keeps failing accumulates attempts across
    // DLQ→replay→DLQ cycles until DlqReplay.route parks it
    val attemptsIn =
      if (v.columns.contains("replay_attempts")) col("replay_attempts")
      else lit(0)
    val dlq = v.filter(!col("is_valid"))
      .withColumn("http_status", categorizeError(col("error_type")))
      .withColumn("replay_attempts", attemptsIn)
      .select(("data" +: transport ++: Seq("error_type", "http_status",
        "replay_attempts")).map(col): _*)
    val sampledOut = v.filter(col("is_valid") && !col("sampled"))
      .select("idempotency_key", "tenant_id", "event_type")
    IngestResult(events, dlq, sampledOut)
  }

  /** A9+A10 — the warehouse rows of a prepared frame before dedup:
    * valid, sampled rows with normalized phones, projected. [[split]]
    * dedups them per batch; `StreamingIngest.eventsStream` within a
    * watermark. */
  def eventRows(v: DataFrame, cfg: Config): DataFrame =
    projected(phoneNormalized(v.filter(col("is_valid") && col("sampled")),
      cfg.defaultRegion), cfg)

  /** Full pipeline: raw push bodies → (events, dlq, sampled-out), all
    * three routed from one materialization of the prepared frame, as the
    * reference decodes and routes each message once (handler.js:37-109).
    * The frame, cut to the columns [[split]] reads, is persisted
    * (MEMORY_AND_DISK) as the session's one ingest batch in
    * [[graft.Shared]]; the first action on any output fills the cache and
    * the other outputs read it instead of the input.
    *
    * Lifetime: the next `run` in the session evicts the batch before it
    * persists its own (Spark's cache matches frames by plan, so a re-run
    * over the same input would otherwise lose its cache to the
    * eviction), and `Shared.reset` or a stopped context evicts it too. An
    * older [[IngestResult]] stays correct after eviction: the outputs
    * keep their lineage and recompute from the input. */
  def run(raw: DataFrame, cfg: Config = Config()): IngestResult =
    split(graft.Shared.replace(raw.sparkSession, "ingest", "batch")(
      routeColumns(prepare(raw, cfg)).persist(StorageLevel.MEMORY_AND_DISK)), cfg)

  /** The columns of a prepared frame that [[split]] reads: no decoded
    * JSON string, and the raw body and transport attributes only on
    * invalid rows, the only ones the DLQ keeps. */
  private def routeColumns(v: DataFrame): DataFrame = {
    val dlqOnly = ("data" +: transportFields :+ "replay_attempts")
      .filter(v.columns.contains)
    v.select(envelopeFields.map(col) ++
      Seq("idempotency_key", "error_type", "is_valid", "sampled").map(col) ++
      dlqOnly.map(c => when(!col("is_valid"), col(c)).as(c)): _*)
  }
}
