package graft
import org.apache.spark.sql.DataFrame
import graft.ingest.{IngestPipeline, SyntheticData}
object Plans {
  def main(args: Array[String]): Unit = {
    // the session Bench measures, so committed plan dumps (plans/rNN/)
    // show the exact shapes the bench runs
    val spark = Session.local(32)
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // besides registry entries: the ingest front half (`ingest_prepare`),
    // its uncached events route (`ingest_events`, the streaming shape) and
    // the cached, deduped events route of a batch run
    // (`ingest_events_batch`), over a parquet of synthetic envelopes, the
    // input shape the ingest benchmark reads
    val tmp = java.nio.file.Files.createTempDirectory("graft-plans").toFile
    lazy val envelopes = {
      val path = s"$tmp/envelopes"
      SyntheticData.envelopes(spark, 1000).write.parquet(path)
      spark.read.parquet(path)
    }
    def plan(q: String): DataFrame = q match {
      case "ingest_prepare" => IngestPipeline.prepare(envelopes)
      case "ingest_events" => IngestPipeline.eventRows(
        IngestPipeline.prepare(envelopes), IngestPipeline.Config())
      case "ingest_events_batch" =>
        // run once, so the dump is AQE's final plan with its codegen stages
        val events = IngestPipeline.run(envelopes).events
        events.collect()
        events
      case _ => SparkEntry.queries(q)(spark, dir)
    }
    try for (q <- args) {
      println(s"===== $q =====")
      println(plan(q).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    } finally org.apache.hadoop.fs.FileUtil.fullyDelete(tmp)
    spark.stop()
  }
}
