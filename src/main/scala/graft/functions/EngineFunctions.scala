package graft.functions

import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL registration of the engine's scalar functions, so `spark.sql`
  * users get the same surface as the DataFrame API:
  *
  *   normalize_phone(str)           — E.164 normalization (A8)
  *   deterministic_sample(key, r)   — reference sampling decision (A6)
  *   hash_bucket(key)               — the underlying [0,1] bucket
  *   hex_prefix_long(hex)           — native codegen'd hex prefix parse
  *   morton_code(x, y)              — 16-bit Z-order interleave (layout keys)
  *   damerau_levenshtein(a, b)      — true DL edit distance (UTF-8 bytes)
  *
  * All are Catalyst expressions, no UDF barrier: built-in compositions or
  * the engine's native codegen'd expressions (normalize_phone,
  * hex_prefix_long, morton_code, damerau_levenshtein). The SQL form plans
  * identically to the DataFrame form.
  */
object EngineFunctions {

  private def col(e: Expression) = GraftColumnBridge.column(e)

  /** Name → expression builder for every engine scalar function. One
    * source of truth for both registration paths: the per-session
    * [[registerAll]] and the cluster-wide [[graft.GraftExtensions]]
    * (spark.sql.extensions) injection. */
  val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "normalize_phone" -> ((exprs: Seq[Expression]) =>
      GraftColumnBridge.expression(
        CoreFunctions.normalizePhone(col(exprs.head)))),
    "hash_bucket" -> ((exprs: Seq[Expression]) =>
      GraftColumnBridge.expression(
        CoreFunctions.hashBucket(col(exprs.head)))),
    "deterministic_sample" -> ((exprs: Seq[Expression]) =>
      GraftColumnBridge.expression(
        CoreFunctions.hashBucket(col(exprs.head)) <
          col(exprs(1)).cast("double"))),
    "hex_prefix_long" -> ((exprs: Seq[Expression]) =>
      HexPrefixToLongExpr(exprs.head, 8)),
    "morton_code" -> ((exprs: Seq[Expression]) =>
      GraftColumnBridge.expression(
        MortonCode(col(exprs.head), col(exprs(1)), 8))),
    "damerau_levenshtein" -> ((exprs: Seq[Expression]) =>
      GraftColumnBridge.expression(
        DamerauLevenshteinCol(col(exprs.head), col(exprs(1))))))

  def registerAll(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    builders.foreach { case (name, builder) =>
      registry.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
  }
}
