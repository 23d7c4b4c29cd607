package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [nameFilter]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // optional comma-separated substring filter for fast local iteration
    val filter: String => Boolean = args.lift(2) match {
      case Some(f) => n => f.split(',').exists(n.contains)
      case None    => _ => true
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // DuckDB's to_base64 is unchunked; Spark 4 MIME-chunks by default
      .config("spark.sql.chunkBase64String.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (filter(name)) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => filter(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // shared-frame manifest (SPARK_GRAFT_ORACLE_SHARED_DIR): the
    // dependency-ordered SQL that builds each once-materialized oracle
    // frame — verify_local.py --shared COPYs these before the sweep
    val shared = graft.queries.OracleShared.manifest
    if (shared.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/oracle_shared.json"),
        shared.map { case (n, sql) =>
          s"""{"name":${q(n)},"sql":${q(sql)}}""" }
          .mkString("[", ",", "]"))
    // equivalence-gate manifest (ADVICE r13): for frames whose
    // materialized build is a structurally different algorithm than the
    // inline twin, the inline form over the same upstream frames —
    // verify_local.py asserts EXCEPT-both-ways emptiness at small SF
    val gates = graft.queries.OracleShared.gates
    if (gates.nonEmpty)
      Files.writeString(Paths.get(s"$outDir/oracle_shared_gates.json"),
        gates.map { case (n, sql) =>
          s"""{"name":${q(n)},"inline_sql":${q(sql)}}""" }
          .mkString("[", ",", "]"))
    Shared.reset(spark)
    spark.stop()
  }
}
