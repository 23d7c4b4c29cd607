package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Shared, Tables}
import graft.ingest.{DlqReplay, IngestPipeline, SyntheticData}
import graft.functions.CoreFunctions.{maskPhones, phoneCount, sha256PrefixLong}
import graft.operators.Multimodal

/** Library-operator queries (SURVEY §2A A2–A15, A18 + multimodal EXT):
  * full pipeline runs over deterministic synthetic envelopes.
  *
  * The synthetic corpus derives every field from
  * sha256('syn:' || id || ':' || seed) — expressible in both engines — so
  * the DuckDB oracle regenerates the identical 2000 envelopes from
  * range(2000) and replays the whole pipeline's semantics in SQL. That
  * upgrades q41–q43 from rows-only to full hash-checked entries: the
  * payload kernel (`CoreFunctions.normalizePayload`) writes the payload
  * fields in schema order and skips nulls, so the oracle concatenates the
  * identical normalized-payload string.
  */
object OperatorQueries {

  private val fixedTs = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  /** Shared replay cap for q43 — interpolated into BOTH the engine call
    * and the oracle SQL so the two can't silently diverge. */
  private val dlqMaxAttempts = 3

  /** Oracle twin of Multimodal.{mediaFromDocuments, stubDecode} metadata
    * — shared by q44/q63/q64. */
  private val mediaMetaSql =
    """m AS (
      |  SELECT doc_id AS media_id,
      |    CASE WHEN doc_id % 3 = 0 THEN 'image/png'
      |         WHEN doc_id % 3 = 1 THEN 'audio/wav'
      |         ELSE 'video/mp4' END AS mime,
      |    CAST(octet_length(encode(text)) AS INT) AS n_bytes,
      |    CAST('0x' || substr(sha256(text), 1, 8) AS BIGINT) AS h
      |  FROM documents),
      |meta AS (
      |  SELECT media_id, mime, n_bytes,
      |    CAST(CASE WHEN n_bytes = 0 THEN 0 ELSE 64 + h % 577 END AS INT) AS width,
      |    CAST(CASE WHEN n_bytes = 0 THEN 0 ELSE 64 + (h // 7) % 433 END AS INT) AS height,
      |    CAST(CASE WHEN mime = 'video/mp4' THEN 1 + h % 240 ELSE 1 END AS INT) AS n_frames
      |  FROM m)""".stripMargin
  private def cfg = IngestPipeline.Config(auditRate = 0.8,
    receivedAt = Some(fixedTs))

  /** One shared pipeline materialization per SparkSession: q41/q42/q43
    * consume the same prepared (decode→validate→sample) frame, persisted
    * so its fused expression tree is codegen-compiled and executed ONCE
    * per verify/bench run instead of once per query (~1/4 of round-2
    * bench time was exactly this recompilation). The corpus is read from
    * no table dir, so the memo entry's dir is a fixed label;
    * [[Shared.reset]] evicts. */
  private def pipeline(s: SparkSession): IngestPipeline.IngestResult =
    IngestPipeline.split(Shared.frame(s, "synthetic", "ingestPrepared")(
      IngestPipeline.prepare(SyntheticData.envelopes(s, 2000), cfg)
        .persist(StorageLevel.MEMORY_AND_DISK)), cfg)

  /** Shared oracle front half: regenerate the synthetic corpus + envelope
    * JSON in DuckDB SQL (same sha256-derived fields as SyntheticData). */
  private val genSql =
    """gen AS (
      |  SELECT i,
      |    CAST('0x' || substr(sha256('syn:' || CAST(i AS VARCHAR) || ':42'), 1, 15) AS BIGINT) AS h
      |  FROM range(2000) t(i)),
      |fields AS (
      |  SELECT i, h,
      |    CASE h % 3 WHEN 0 THEN 'tenant-a' WHEN 1 THEN 'tenant-b' ELSE 'tenant-c' END AS tenant,
      |    CASE (h // 7) % 2 WHEN 0 THEN 'call.completed' ELSE 'chat.message' END AS event_type,
      |    '+1415555' || lpad(CAST(h % 10000 AS VARCHAR), 4, '0') AS caller_raw,
      |    '(415) 555-' || lpad(CAST((h // 3) % 10000 AS VARCHAR), 4, '0') AS callee_raw,
      |    '+1415555' || lpad(CAST((h // 3) % 10000 AS VARCHAR), 4, '0') AS callee_norm,
      |    strftime(TIMESTAMP '2024-01-01 00:00:00' + (h % 2592000) * INTERVAL 1 SECOND,
      |      '%Y-%m-%dT%H:%M:%SZ') AS occurred_str,
      |    TIMESTAMP '2024-01-01 00:00:00' + (h % 2592000) * INTERVAL 1 SECOND AS occurred_ts,
      |    h % 3600 AS dur,
      |    CASE (h // 11) % 3 WHEN 0 THEN 'completed' WHEN 1 THEN 'failed' ELSE 'missed' END AS status
      |  FROM gen),
      |env AS (
      |  SELECT i, tenant, event_type,
      |    '{"envelope_version":"1","event_type":"' || event_type ||
      |    '","schema_version":"2","tenant_id":"' || tenant ||
      |    '","occurred_at":"' || occurred_str ||
      |    '","trace_id":"trace-' || CAST(i AS VARCHAR) ||
      |    '","source":"load-test","payload":{"call_id":"call-' || CAST(i AS VARCHAR) ||
      |    '","caller":"' || caller_raw || '","callee":"' || callee_raw ||
      |    '","duration":' || CAST(dur AS VARCHAR) || ',"status":"' || status ||
      |    '","metadata":{"test":"true","sequence":"' || CAST(i AS VARCHAR) || '"}}}' AS envelope
      |  FROM fields),
      |dlq0 AS (
      |  SELECT i, tenant,
      |    to_base64(CAST(CASE WHEN i % 100 = 0 THEN 'not-json-at-all'
      |      ELSE regexp_replace(envelope, '"tenant_id":"[^"]*",', '') END AS BLOB)) AS data,
      |    CASE WHEN i % 100 = 0 THEN 'invalid_json' ELSE 'missing_fields' END AS error_type,
      |    CAST(CASE WHEN i % 100 = 0 THEN 422 ELSE 400 END AS INT) AS http_status
      |  FROM env WHERE i % 50 = 0)""".stripMargin

  /** DuckDB twin of the warehouse-row payload JSON (the payload kernel's
    * contract: schema order, nulls skipped, phones normalized) — shared by
    * q41 and q77 so the two oracles cannot silently diverge. */
  private val eventsPayloadSql =
    """'{"call_id":"call-' || CAST(i AS VARCHAR) ||
      |    '","caller":"' || caller_raw || '","callee":"' || callee_norm ||
      |    '","duration":' || CAST(CAST(dur AS DOUBLE) AS VARCHAR) ||
      |    ',"status":"' || status ||
      |    '","metadata":{"test":"true","sequence":"' || CAST(i AS VARCHAR) || '"}}'""".stripMargin

  /** DuckDB twin of the q41 events-row filter (validation pass + sampled
    * in) — shared by q41 and q77. */
  private val eventsRowFilterSql =
    """i % 50 <> 0
      |  AND CAST('0x' || substr(sha256('call-' || CAST(i AS VARCHAR)), 1, 8) AS BIGINT)
      |      / 4294967295.0 < 0.8""".stripMargin

  val all: Seq[EngineQuery] = Seq(

    // A2–A12,A18 — synthetic push bodies through the full ingest chain.
    // Timestamps surface as NTZ so parquet annotations match the oracle's
    // naive TIMESTAMPs (session TZ is UTC end to end).
    EngineQuery("q41_ingest_e2e",
      (s, _) => pipeline(s).events
        .withColumn("occurred_at", col("occurred_at").cast("timestamp_ntz"))
        .withColumn("received_at", col("received_at").cast("timestamp_ntz"))
        .orderBy("idempotency_key"),
      Some(s"""WITH $genSql
              |SELECT
              |  tenant AS tenant_id,
              |  event_type,
              |  CAST(2 AS BIGINT) AS schema_version,
              |  CAST(1 AS BIGINT) AS envelope_version,
              |  'trace-' || CAST(i AS VARCHAR) AS trace_id,
              |  occurred_ts AS occurred_at,
              |  TIMESTAMP '2026-01-01 00:00:00' AS received_at,
              |  'load-test' AS source,
              |  true AS sampled,
              |  'call-' || CAST(i AS VARCHAR) AS idempotency_key,
              |  $eventsPayloadSql AS payload
              |FROM fields
              |WHERE $eventsRowFilterSql
              |ORDER BY idempotency_key""".stripMargin)),

    // EXT — PII masking for export: every E.164 phone in the warehouse
    // payload masked to '+D***DD' plus a pre-mask phone-count audit
    // column; the hygiene pass a training-data pipeline runs before text
    // leaves the trust boundary (the reference's domain is exactly this
    // phone-call metadata). Pure codegen'd regexp over the scan — no
    // shuffle beyond q41's own pipeline.
    EngineQuery("q77_pii_mask",
      (s, _) => pipeline(s).events
        .select(col("idempotency_key"),
          maskPhones(col("payload")).as("payload_masked"),
          phoneCount(col("payload")).as("n_phones"))
        .orderBy("idempotency_key"),
      Some(s"""WITH $genSql
              |SELECT
              |  'call-' || CAST(i AS VARCHAR) AS idempotency_key,
              |  regexp_replace($eventsPayloadSql,
              |    '(\\+\\d)\\d{5,}(\\d{2})', '\\1***\\2', 'g') AS payload_masked,
              |  CAST(len(regexp_extract_all($eventsPayloadSql,
              |    '\\+\\d{8,15}')) AS BIGINT) AS n_phones
              |FROM fields
              |WHERE $eventsRowFilterSql
              |ORDER BY idempotency_key""".stripMargin)),

    // A13/A14 — DLQ side output with the HTTP-status taxonomy; transport
    // attributes (message_id, ordering_key) ride along for replay.
    EngineQuery("q42_ingest_dlq",
      (s, _) => pipeline(s).dlq.orderBy("data"),
      Some(s"""WITH $genSql
              |SELECT data,
              |  'msg-' || CAST(i AS VARCHAR) AS message_id,
              |  tenant AS ordering_key,
              |  error_type, http_status,
              |  CAST(0 AS INT) AS replay_attempts
              |FROM dlq0 ORDER BY data""".stripMargin)),

    // A15 — replay routing over the DLQ with attempt counts + the
    // reference's replay metadata (x-original-message-id,
    // x-replay-timestamp, preserved orderingKey — replay-dlq-job.js:36-51).
    EngineQuery("q43_dlq_replay_routed",
      (s, _) => {
        val dlq = pipeline(s).dlq.withColumn("replay_attempts",
          pmod(sha256PrefixLong(col("data")), lit(5)).cast("int"))
        val routed = DlqReplay.route(dlq, maxAttempts = dlqMaxAttempts,
          replayTimestamp = Some(fixedTs))
        routed.replay.withColumn("route", lit("replay"))
          .unionByName(routed.parked
            .withColumn("route", lit("park"))
            .withColumn("replay_attempts", col("x_final_attempt_count")),
            allowMissingColumns = true)
          .select(col("data"), col("ordering_key"), col("error_type"),
            col("replay_attempts"), col("route"), col("x_original_message_id"),
            col("x_replay_timestamp").cast("timestamp_ntz")
              .as("x_replay_timestamp"),
            col("x_parked_reason"))
          .orderBy("data", "route")
      },
      Some(s"""WITH $genSql,
              |attempts AS (
              |  SELECT *, CAST('0x' || substr(sha256(data), 1, 8) AS BIGINT) % 5 AS a
              |  FROM dlq0)
              |SELECT data, tenant AS ordering_key, error_type,
              |  CAST(a + 1 AS INT) AS replay_attempts,
              |  CASE WHEN a >= $dlqMaxAttempts THEN 'park' ELSE 'replay' END AS route,
              |  'msg-' || CAST(i AS VARCHAR) AS x_original_message_id,
              |  TIMESTAMP '2026-01-01 00:00:00' AS x_replay_timestamp,
              |  CASE WHEN a >= $dlqMaxAttempts THEN 'Exceeded max replay attempts ($dlqMaxAttempts)' END AS x_parked_reason
              |FROM attempts ORDER BY data, route""".stripMargin)),

    // EXT — multimodal binary pipeline: bytes → partition-batched stub
    // decode → flat feature rows. The stub's metadata derives from a
    // sha256-prefix uint32 of the content bytes, so the whole pipeline is
    // hash-checked against the DuckDB twin (embedding surfaces as its
    // dimension — the vector itself is float-seeded, not SQL-portable).
    EngineQuery("q44_multimodal_pipeline",
      (s, dir) => {
        implicit val sp = s
        Multimodal.extractFeatures(
            Multimodal.mediaFromDocuments(Tables.table(s, dir, "documents")))
          .toDF()
          .select(col("media_id"), col("mime"), col("n_bytes"),
            col("width"), col("height"), col("n_frames"),
            size(col("embedding")).as("embedding_dim"))
          .orderBy("media_id")
      },
      Some(s"""WITH $mediaMetaSql
              |SELECT media_id, mime, n_bytes, width, height, n_frames,
              |  CAST(16 AS INT) AS embedding_dim
              |FROM meta ORDER BY media_id""".stripMargin)),

    // EXT — resize planning over the decoded metadata: fit a 224×224 box
    // preserving aspect ratio, never upscale, floor 1px. The pixel
    // resample lives behind the codec seam; the plan arithmetic is
    // hash-checked.
    EngineQuery("q63_multimodal_resize",
      (s, dir) => {
        implicit val sp = s
        Multimodal.resizePlan(
            Multimodal.extractFeatures(
              Multimodal.mediaFromDocuments(Tables.table(s, dir, "documents")))
            .toDF())
          .select(col("media_id"), col("width"), col("height"),
            col("out_w"), col("out_h"))
          .orderBy("media_id")
      },
      Some(s"""WITH $mediaMetaSql,
              |scaled AS (
              |  SELECT media_id, width, height,
              |    CASE WHEN width = 0 OR height = 0 THEN 0.0
              |         ELSE least(${Multimodal.DefaultResizeBox}.0 / width, ${Multimodal.DefaultResizeBox}.0 / height, 1.0) END AS scale
              |  FROM meta)
              |SELECT media_id, width, height,
              |  CASE WHEN scale = 0.0 THEN 0
              |       ELSE greatest(1, CAST(round(width * scale) AS INT)) END AS out_w,
              |  CASE WHEN scale = 0.0 THEN 0
              |       ELSE greatest(1, CAST(round(height * scale) AS INT)) END AS out_h
              |FROM scaled ORDER BY media_id""".stripMargin)),

    // EXT — frame sampling: every 30th synthetic frame index per media
    // row (videos contribute n_frames, stills exactly frame 0).
    EngineQuery("q64_frame_sample",
      (s, dir) => {
        implicit val sp = s
        Multimodal.sampleFrames(
            Multimodal.extractFeatures(
              Multimodal.mediaFromDocuments(Tables.table(s, dir, "documents"))),
            stride = 30)
          .orderBy("media_id", "frame_idx")
      },
      Some(s"""WITH $mediaMetaSql
              |SELECT media_id, mime,
              |  CAST(unnest(generate_series(0, greatest(n_frames - 1, 0), 30)) AS INT) AS frame_idx
              |FROM meta ORDER BY media_id, frame_idx""".stripMargin)),

    // EXT — pure NON-equi temporal band join (operators/BandJoin): for
    // every purchase, the count of clicks by ANY user within ±30
    // minutes, plus the closest gap — cross-key temporal proximity, the
    // join class Spark would plan as a cartesian/BNLJ without bucket
    // decomposition (q14 is the other class: a theta band riding an
    // equi key). One equi shuffle on the 30-min bucket id; pair volume
    // is bounded by per-window event density. min_gap_us is exact
    // integer microseconds, so the row hashes cross-engine.
    EngineQuery("q262_temporal_band_join",
      (s, dir) => {
        import graft.operators.BandJoin
        val ev = Tables.events(s, dir)
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_event_id"),
            unix_micros(col("ts").cast("timestamp")).as("p_us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id").as("c_event_id"),
            unix_micros(col("ts").cast("timestamp")).as("c_us"))
        BandJoin.band(purchases, clicks, "p_us", "c_us", 1800000000L)
          .groupBy(col("p_event_id").as("event_id"))
          .agg(count(lit(1)).as("n_nearby_clicks"),
            min(abs(col("p_us") - col("c_us"))).as("min_gap_us"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_nearby_clicks,
             |  CAST(MIN(abs(epoch_us(p.ts) - epoch_us(c.ts))) AS BIGINT)
             |    AS min_gap_us
             |FROM events p JOIN events c
             |  ON c.event_type = 'click'
             |  AND abs(epoch_us(p.ts) - epoch_us(c.ts)) <= 1800000000
             |WHERE p.event_type = 'purchase'
             |GROUP BY 1 ORDER BY p.event_id""".stripMargin)),

    // EXT — interval CONTAINMENT join (BandJoin.intervalContain): for
    // every purchase, how many OTHER users had a 30-min-gap session
    // open at that instant ("concurrent-audience at purchase time") —
    // point-in-interval with no equi key, variable-length intervals.
    // Sessions replicate across the 30-min buckets they span (bounded
    // by session length), purchases stay single-bucket, and the exact
    // [start, end) containment filter runs after one equi shuffle.
    EngineQuery("q263_session_containment",
      (s, dir) => {
        import graft.operators.BandJoin
        val ev = Tables.events(s, dir)
        val sessions = ev
          .groupBy(session_window(col("ts"), "30 minutes"),
            col("user_id").as("s_user"))
          .agg(count(lit(1)).as("s_events"))
          .select(col("s_user"),
            unix_micros(col("session_window.start").cast("timestamp"))
              .as("s_start_us"),
            unix_micros(col("session_window.end").cast("timestamp"))
              .as("s_end_us"))
        val purchases = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_event_id"),
            col("user_id").as("p_user"),
            unix_micros(col("ts").cast("timestamp")).as("p_us"))
        BandJoin.intervalContain(purchases, sessions,
            "p_us", "s_start_us", "s_end_us", 1800000000L)
          .filter(col("s_user") =!= col("p_user"))
          .groupBy(col("p_event_id").as("event_id"))
          .agg(count(lit(1)).as("n_open_sessions"),
            countDistinct(col("s_user")).as("n_other_users"))
          .orderBy("event_id")
      },
      Some("""WITH flags AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
             |      THEN 1 ELSE 0 END AS new_session
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id AS s_user,
             |    epoch_us(MIN(ts)) AS s_start_us,
             |    epoch_us(MAX(ts)) + 1800000000 AS s_end_us
             |  FROM (
             |    SELECT user_id, ts,
             |      SUM(new_session) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        AS session_id
             |    FROM flags) g
             |  GROUP BY user_id, session_id)
             |SELECT p.event_id,
             |  CAST(COUNT(*) AS BIGINT) AS n_open_sessions,
             |  CAST(COUNT(DISTINCT s.s_user) AS BIGINT) AS n_other_users
             |FROM events p JOIN sess s
             |  ON epoch_us(p.ts) >= s.s_start_us
             |  AND epoch_us(p.ts) < s.s_end_us
             |  AND s.s_user <> p.user_id
             |WHERE p.event_type = 'purchase'
             |GROUP BY 1 ORDER BY p.event_id""".stripMargin)),

    // EXT — interval OVERLAP join (BandJoin.intervalOverlap): the
    // co-presence matrix of the 50 most active users — for each user
    // pair, how many of their 30-min-gap sessions overlapped in time
    // and for how long in total. interval×interval with no equi key;
    // the top-50 prefilter (a 50-row broadcast semi-join) bounds the
    // pair surface the way any real co-presence query would (the
    // all-users matrix is O(users²) and not a query anyone runs).
    // Pairs are produced exactly once via the greatest(start)-bucket
    // rule — no distinct, one equi shuffle. overlap_us is exact
    // integer microseconds (least/greatest on BIGINT), so the row
    // hashes cross-engine.
    EngineQuery("q268_session_copresence",
      (s, dir) => {
        import graft.operators.BandJoin
        val ev = Tables.events(s, dir)
        val top = ev.groupBy("user_id").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("user_id")).limit(50)
          .select("user_id")
        val sess = ev.join(broadcast(top), Seq("user_id"))
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_ev"))
          .select(col("user_id"),
            unix_micros(col("session_window.start").cast("timestamp"))
              .as("start_us"),
            unix_micros(col("session_window.end").cast("timestamp"))
              .as("end_us"))
        val a = sess.select(col("user_id").as("a_user"),
          col("start_us").as("a_s"), col("end_us").as("a_e"))
        val b = sess.select(col("user_id").as("b_user"),
          col("start_us").as("b_s"), col("end_us").as("b_e"))
        BandJoin.intervalOverlap(a, b, "a_s", "a_e", "b_s", "b_e",
            1800000000L)
          .filter(col("a_user") < col("b_user"))
          .groupBy("a_user", "b_user")
          .agg(count(lit(1)).as("n_overlaps"),
            sum(least(col("a_e"), col("b_e")) -
              greatest(col("a_s"), col("b_s"))).as("overlap_us"))
          .orderBy("a_user", "b_user")
      },
      Some("""WITH top50 AS (
             |  SELECT user_id FROM events
             |  GROUP BY 1 ORDER BY COUNT(*) DESC, user_id LIMIT 50),
             |flags AS (
             |  SELECT user_id, ts, event_id,
             |    CASE WHEN lag(ts) OVER w IS NULL
             |      OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
             |      THEN 1 ELSE 0 END AS new_session
             |  FROM events
             |  WHERE user_id IN (SELECT user_id FROM top50)
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |sess AS (
             |  SELECT user_id,
             |    epoch_us(MIN(ts)) AS s_us,
             |    epoch_us(MAX(ts)) + 1800000000 AS e_us
             |  FROM (
             |    SELECT user_id, ts,
             |      SUM(new_session) OVER (PARTITION BY user_id
             |        ORDER BY ts, event_id
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |        AS sid
             |    FROM flags) g
             |  GROUP BY user_id, sid)
             |SELECT a.user_id AS a_user, b.user_id AS b_user,
             |  CAST(COUNT(*) AS BIGINT) AS n_overlaps,
             |  CAST(SUM(least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us))
             |    AS BIGINT) AS overlap_us
             |FROM sess a JOIN sess b
             |  ON a.user_id < b.user_id
             |  AND a.s_us < b.e_us AND b.s_us < a.e_us
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))
  )
}
