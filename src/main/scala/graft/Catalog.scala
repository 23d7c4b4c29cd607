package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** SQL entry point (SURVEY §3.3): registers the test-data star schema as
  * temp views so the full Catalyst path — parse → analyze → optimize →
  * execute — is first-class: `spark.sql("SELECT ... FROM lineitem ...")`.
  */
object Catalog {

  val tableNames: Seq[String] = Tables.starTables :+ "events"

  /** Register every table under `dir` as a temp view. The registration
    * is the session's one `catalog` entry of [[Shared]]: registering the
    * same dir again is a no-op (the temp views would be replaced with
    * identical plans — ~70 ms of catalog writes per call, paid by every
    * SQL-entry query per bench pass), a different dir replaces it, and
    * [[Shared.invalidate]] of the dir or of a table in it drops it, so
    * the next call re-registers the views over fresh readers. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    if (!Shared.contains(spark, dir, "catalog"))
      Shared.replace(spark, dir, "catalog") {
        tableNames.foreach { t =>
          Tables.table(spark, dir, t).createOrReplaceTempView(t)
        }
        spark.emptyDataFrame
      }

  /** Convenience: register + run one SQL statement. */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerAll(spark, dir)
    spark.sql(query)
  }
}
