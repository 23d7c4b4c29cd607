package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The specs' one streaming driver: runs `op` over a `MemoryStream` from
  * a fresh temp checkpoint, feeds each of `batches` as one micro-batch
  * (drained with `processAllAvailable`), stops the query, and returns
  * every row its memory sink received. */
object StreamDriver {
  private val queries = new AtomicLong()

  def run[E: Encoder, O: Encoder](batches: Seq[Seq[E]])(
      op: Dataset[E] => Dataset[O])(implicit spark: SparkSession): Array[O] = {
    val input = MemoryStream[E](implicitly[Encoder[E]], spark)
    val name = s"stream_driver_${queries.incrementAndGet()}"
    val q = op(input.toDS()).writeStream.outputMode("append")
      .format("memory").queryName(name)
      .option("checkpointLocation",
        Files.createTempDirectory("graft-stream").toString)
      .start()
    try batches.foreach { b => input.addData(b); q.processAllAvailable() }
    finally q.stop()
    try spark.table(name).as[O].collect()
    finally spark.catalog.dropTempView(name)
  }
}
