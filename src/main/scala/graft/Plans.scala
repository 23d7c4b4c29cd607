package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ingest.{IngestPipeline, SyntheticData}
object Plans {
  def main(args: Array[String]): Unit = {
    // same master/width/AQE as Bench so committed plan dumps (plans/rNN/)
    // show the exact shapes the driver's bench runs
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.chunkBase64String.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // besides registry entries: the ingest front half (`ingest_prepare`)
    // and its events route (`ingest_events`), over a parquet of synthetic
    // envelopes, the input shape the ingest benchmark reads
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
