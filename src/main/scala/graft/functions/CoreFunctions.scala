package graft.functions

import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Scalar column functions reproducing the reference pipeline semantics
  * (SURVEY.md §2A) as pure Catalyst expressions — codegen'd, pushdown-
  * friendly, and each with a DuckDB-expressible twin for the oracle.
  *
  * No UDFs in the hot path: each function composes built-in functions or
  * is one native codegen'd expression (the `*Expr` classes beside this
  * file), so whole-stage codegen stays intact and the optimizer can
  * reason about the expressions.
  */
object CoreFunctions {

  /** First 8 hex chars of a lowercase hex string → uint32 as Long, via
    * the native codegen'd expression (no intermediate strings).
    * DuckDB twin: CAST('0x' || substr(h, 1, 8) AS BIGINT). */
  def hexPrefixToLong(hex: Column): Column =
    GraftColumnBridge.column(
      HexPrefixToLongExpr(GraftColumnBridge.expression(hex), 8))

  /** First 15 hex chars → 60-bit non-negative Long (SimHash/token hashes).
    * DuckDB twin: CAST('0x' || substr(h, 1, 15) AS BIGINT). */
  def hexPrefixToLong15(hex: Column): Column =
    GraftColumnBridge.column(
      HexPrefixToLongExpr(GraftColumnBridge.expression(hex), 15))

  /** Fused sha256 → first 8 hex chars as uint32 Long: one thread-local
    * digest, no intermediate hex string (see [[Sha256PrefixLongExpr]]).
    * Bit-identical to `hexPrefixToLong(sha2(c, 256))` and to the DuckDB
    * twin CAST('0x' || substr(sha256(c), 1, 8) AS BIGINT). */
  def sha256PrefixLong(c: Column): Column =
    GraftColumnBridge.column(
      Sha256PrefixLongExpr(GraftColumnBridge.expression(c), 8))

  /** Fused sha256 → first 15 hex chars as 60-bit Long. */
  def sha256PrefixLong15(c: Column): Column =
    GraftColumnBridge.column(
      Sha256PrefixLongExpr(GraftColumnBridge.expression(c), 15))

  /** Two-pointer `size(array_intersect(a, b))` for SORTED distinct long
    * arrays — no per-row hash-set build, no materialized intersection
    * array (see [[SortedIntersectCountExpr]] for the contract). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    GraftColumnBridge.column(SortedIntersectCountExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Codegen'd dot product of two double-array columns — bit-identical
    * to the `aggregate(zip_with(...))` fold it replaces (see
    * [[DotProductExpr]] for the contract). */
  def dotProduct(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProductExpr(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  /** Optimizer inline-barrier: identity on the value, but stops predicate
    * pushdown / project collapse from re-embedding the column's defining
    * tree at every reference (see [[NoInlineExpr]]). For expensive derived
    * columns with many downstream consumers. */
  def noInline(c: Column): Column =
    GraftColumnBridge.column(NoInlineExpr(GraftColumnBridge.expression(c)))

  /** Deterministic SHA-256 hash bucket in [0, 1].
    * Mirrors reference sampling.js:15-24: sha256(key) hex, first 8 hex
    * chars as uint32, divided by 0xffffffff. */
  def hashBucket(key: Column): Column =
    sha256PrefixLong(key) / lit(4294967295.0)

  /** Deterministic sampling decision (reference sampling.js shouldSample):
    * rate >= 1 keeps all, rate <= 0 drops all, else hash-bucket compare.
    * Bit-exact vs the JS original and the DuckDB twin. */
  def shouldSample(key: Column, rate: Double): Column =
    if (rate >= 1.0) lit(true)
    else if (rate <= 0.0) lit(false)
    else hashBucket(key) < lit(rate)

  /** Stratified deterministic sampling: a per-ROW rate column (e.g. one
    * rate per language or source stratum) against the same sha256 hash
    * bucket as [[shouldSample]] — the decision stays reproducible across
    * runs and engines, unlike `sampleBy`. For in-(0,1) rates this equals
    * shouldSample at the row's rate; rate <= 0 drops all, and rate >= 1
    * keeps all but the single max-hash key (the bucket compare is strict —
    * pass literal-true upstream if an exact keep-all stratum is needed). */
  def stratifiedSample(key: Column, rate: Column): Column =
    hashBucket(key) < rate

  /** Idempotency-key derivation (reference validation.js:33-42):
    * coalesce of payload call_id, payload message_id, envelope trace_id.
    * Generalized: coalesce over JSON extracts then fallback columns. */
  def idempotencyKey(payload: Column, jsonPaths: Seq[String],
      fallbacks: Column*): Column =
    coalesce(jsonPaths.map(p => get_json_object(payload, p)) ++ fallbacks: _*)

  /** Default parsing region for national-format numbers, the engine's
    * equivalent of the reference's DEFAULT_PHONE_REGION env knob
    * (phone.js:7). Read once at class-load from the same-named variable;
    * falls back to US like the reference. */
  val defaultPhoneRegion: String =
    sys.env.getOrElse("DEFAULT_PHONE_REGION", "US").toUpperCase

  /** E.164 phone normalization (reference phone.js:15-29 semantics,
    * engine-defined edge behavior — see SURVEY §7 "hard parts").
    * Deterministic rules parameterized by region (reference
    * `normalizePhone(phoneInput, region)`), evaluated by one native
    * expression, [[NormalizePhoneExpr]]: a single scan of the string's
    * bytes, then the region's rule. Every rule is also expressible in
    * SQL as a `CASE` over `regexp_replace(s, '[^0-9+]', '')` and
    * `regexp_replace(s, '[^0-9]', '')` — the form the DuckDB oracle twins
    * use and CoreFunctionsSpec checks the kernel against:
    *   - keep ASCII digits (and a '+' before the first digit) only
    *   - '+' prefixed and 8..15 digits → '+' ++ digits  (region-independent)
    *   - else region-specific national rules:
    *     US: bare 10 digits → '+1' ++ digits;
    *         bare 11 digits starting '1' → '+' ++ digits
    *     GB: bare 10-11 digits with trunk '0' → '+44' ++ digits minus the 0;
    *         bare 9-10 digits without trunk '0' → '+44' ++ digits
    *     DE: bare 8-12 digits with trunk '0' → '+49' ++ digits minus the 0
    *         (German NSNs are variable-length, always trunk-prefixed
    *         nationally)
    *     FR: bare 10 digits with trunk '0' → '+33' ++ digits minus the 0
    *         (French national format is exactly 0 + 9 digits)
    *     IN: bare 10 digits starting 6-9 → '+91' ++ digits (mobile);
    *         bare 11 digits with trunk '0' and post-trunk digit 6-9 →
    *         '+91' ++ digits minus the 0 (same mobile-prefix validity
    *         either way)
    *     BR: bare 10 digits (2-digit area + 8) or 11 digits with 9-led
    *         NSN (mobile), area never 0-led → '+55' ++ digits
    *     AU: bare 10 digits with trunk '0' → '+61' ++ digits minus the 0
    *     ES: bare 9 digits starting 6-9 → '+34' ++ digits (no trunk)
    *     IT: bare 9-11 digits starting '0' (the 0 is part of the number —
    *         no trunk drop) or 9-10 digits starting '3' (mobile)
    *         → '+39' ++ digits
    *     JP: bare 10-11 digits with trunk '0' → '+81' ++ digits minus
    *         the 0
    *   - unknown region or no rule match → null
    * (The reference delegates to libphonenumber; these are the documented
    * engine-defined subset of its national rules for the listed regions.
    * NANP digit-validity — area code/exchange must not start 0/1 — is
    * deliberately NOT enforced: the reference's own published goldens
    * accept `555.123.4567` (01_smoke_publish.js:159), which real NANP
    * validation rejects, and the engine matches the reference's
    * documented behavior over the stricter standard.)
    */
  def normalizePhone(phone: Column,
      region: String = defaultPhoneRegion): Column =
    // the cast keeps numeric inputs working as under the regex form (a
    // no-op on strings, which the optimizer drops)
    GraftColumnBridge.column(NormalizePhoneExpr(
      GraftColumnBridge.expression(phone.cast("string")), region))

  /** A JSON payload string re-serialized with [[normalizePhone]] applied
    * to its `phoneFields`: the fields of `schema` in schema order, null
    * fields skipped (as `spark.sql.jsonGenerator.ignoreNullFields` says
    * when the query runs), unknown fields dropped. One native
    * expression, [[NormalizePayloadExpr]], byte-identical to
    * `to_json(struct(…))` over `from_json(payload, schema)`. */
  def normalizePayload(payload: Column, schema: StructType,
      phoneFields: Seq[String], region: String): Column =
    GraftColumnBridge.column(NormalizePayloadExpr(
      GraftColumnBridge.expression(payload), schema, phoneFields, region))

  /** A base64 push body decoded into its envelope by one native
    * expression, [[DecodeEnvelopeExpr]]: a struct of the decoded JSON
    * (`__raw_json`), each of `fields`, the first non-null of the `ids`
    * inside the `payload` field (`payload_id`) and `invalid_json`, each
    * byte-identical to the Spark expression its scaladoc names
    * (`try_to_binary`, `json_tuple`, `get_json_object`). */
  def decodeEnvelope(data: Column, fields: Seq[String], payload: String,
      ids: Seq[String], probe: String): Column =
    GraftColumnBridge.column(DecodeEnvelopeExpr(
      GraftColumnBridge.expression(data), fields, payload, ids, probe))

  /** E.164 phone occurrences: '+' then 8-15 digits — the shape every
    * number leaves [[normalizePhone]] in, matchable identically by Java
    * regex (engine) and RE2 (oracle): no lookaround, no backreferences. */
  val E164Pattern = "\\+\\d{8,15}"

  /** PII-mask every E.164 phone embedded in a string column (the
    * warehouse payload JSON): keep '+', the first digit and the last two,
    * star the middle — '+14155550123' → '+1***23'. Runs AFTER
    * normalization so one pattern covers every region; a training-data
    * export pipeline applies this before text leaves the trust boundary.
    * The fixed-width mask keeps the replacement expressible in both
    * regex dialects (Java '$1***$2' / RE2 '\\1***\\2').
    *
    * The middle is `\\d{5,}` — UNBOUNDED above, deliberately wider than
    * the 15-digit E.164 ceiling [[phoneCount]] audits: a '+'-prefixed
    * 20-digit run is counted as a phone by the audit (its first 15
    * digits match [[E164Pattern]]), so the mask must swallow the WHOLE
    * run — a bounded `{5,12}` would leave the trailing digits in clear
    * text past a trust boundary while the audit reports them masked.
    * Greedy `\\d{5,}` consumes everything except the final two digits
    * identically in Java regex and RE2 (leftmost match, greedy
    * quantifier — no lookaround needed). */
  def maskPhones(c: Column): Column =
    regexp_replace(c, "(\\+\\d)\\d{5,}(\\d{2})", "$1***$2")

  /** Count of E.164 phones a string column carries (pre-mask audit
    * metric; pairs with [[maskPhones]]). */
  def phoneCount(c: Column): Column =
    regexp_count(c, lit(E164Pattern)).cast("long")

  /** Error categorization (reference handler.js:16-32) as a routing
    * expression over an error-type column: terminal 4xx vs transient 5xx. */
  def categorizeError(errorType: Column): Column =
    when(errorType.isin("invalid_json", "malformed_envelope"), lit(422))
      .when(errorType.isin("missing_fields", "no_idempotency_key",
        "invalid_timestamp"), lit(400))
      .otherwise(lit(503))

  /** Exact money arithmetic: cast a double column that carries 2-decimal
    * money values to DECIMAL so sums are exact and order-independent
    * (then cast the aggregate back to double for a stable cross-engine
    * comparison). */
  def money(c: Column): Column = c.cast("decimal(18,2)")

  /** Exact decimal sum of a money column, surfaced as double. */
  def moneySum(c: Column): Column = sum(money(c)).cast("double")

  /** Deterministic DECIMAL→DOUBLE for exact sums whose scaled integer
    * may exceed 2^53: Spark's decimal→double cast rounds correctly, but
    * DuckDB's hugeint-backed conversion does not (the q09 sf1-sweep
    * 1-ulp class), so past 2^53 the two engines disagree. Route the
    * exact integer c = sum·10^s through a 2^30 hi/lo split of BIGINTs —
    * hi·2^30 is exactly representable while hi itself fits in a double
    * (hi ≤ 2^53, i.e. c ≤ 2^83), lo < 2^30 is exact, and the single
    * rounding point (the final add) is the same hardware op in both
    * engines. Valid for nonneg sums up to ~2^83: past that, hi's own
    * int→double conversion rounds, and DuckDB's hugeint→double path
    * reintroduces the sloppy-rounding divergence this primitive exists
    * to fix (a second split level would extend the bound if ever
    * needed — 2^83 is ~9.7e24, far past any reachable scale here).
    * [[graft.queries.RelationalQueries]] carries the SQL twin macro.
    */
  def decimalSumFp(sumDec: Column, scale: Long): Column = {
    val c = sumDec * lit(scale) // integral-valued decimal
    val hi = call_function("div", c, lit(1073741824L)) // IntegralDivide → long
    ((hi.cast("double") * lit(1073741824.0) +
      (c % lit(1073741824L)).cast("double")) / lit(scale.toDouble))
  }
}
