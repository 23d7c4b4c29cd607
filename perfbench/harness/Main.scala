package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
  /** Linear-interpolated quantile; NaN on an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** What a run reports: metrics by name with units, and its op accounting. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  var attempted = 0L
  var failed = 0L
  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)
  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED: $what")
  }
  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s"""${Json.str(k)}: {"value": ${Json.num(v)}, "unit": ${Json.str(u)}}"""
    }.mkString(", ")
    val correct = failed == 0 && attempted > 0 &&
      metrics.values.forall(v => !v._1.isNaN)
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}

/** Everything a workload needs from the command line and the session. */
final case class Ctx(spark: SparkSession, root: String, work: String,
    seed: Long, seconds: Double, cores: Int, t0Ms: Long) {
  def dataDir: String = s"$root/perfbench/data/sf0.1"
  /** Seconds since the launcher started the JVM. */
  def sinceStart: Double = (System.currentTimeMillis() - t0Ms) / 1e3
}

object Main {
  private def log(s: String): Unit = System.err.println(s"[perfbench] $s")

  /** The session settings of the program's own Bench main: local[cores],
    * shuffle partitions = cores, AQE on. Scratch space stays in `work`. */
  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.chunkBase64String.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opts.getOrElse("mode", "run") match {
      case "selftest" =>
        val errs = Gen.selfTest()
        errs.foreach(e => log(s"generator self-test: $e"))
        println(if (errs.isEmpty) "generator self-test passed" else "generator self-test FAILED")
        sys.exit(if (errs.isEmpty) 0 else 1)
      case mode =>
        val work = opts("work")
        new File(work).mkdirs()
        val spark = session(work, opts("cores").toInt)
        val ctx = Ctx(spark, opts("root"), work, opts.getOrElse("seed", "1").toLong,
          opts.getOrElse("seconds", "10").toDouble, opts("cores").toInt,
          opts.getOrElse("t0-ms", System.currentTimeMillis().toString).toLong)
        val code =
          try mode match {
            case "run" => run(ctx, opts("workload"), opts.getOrElse("trace", "0") == "1",
              opts.get("spans"))
            case "expect" => QuerySession.dumpOutputs(ctx, opts("out")); 0
          } finally spark.stop()
        sys.exit(code)
    }
  }

  private def run(ctx: Ctx, workload: String, trace: Boolean,
      spansOut: Option[String]): Int = {
    val rep = new Report
    if (!trace) workload match {
      case "ingest_batch" => IngestBatch.measure(ctx, rep)
      case "query_session" => QuerySession.measure(ctx, rep)
    }
    else {
      // A traced run sweeps every layer whichever workload it is given,
      // so each traced run reports the whole per-layer set. Queries go
      // first, so their first pass starts from a cold JVM as in
      // `query_session`'s set-up.
      val tracer = new Tracer(true)
      val probe = new Probe(ctx.spark).register()
      try {
        QuerySession.traced(ctx, rep, tracer, probe)
        IngestBatch.traced(ctx, rep, tracer, probe)
        StreamProbe.traced(ctx, rep, tracer, probe)
      } finally probe.unregister()
      spansOut.foreach { p =>
        Files.createDirectories(Paths.get(p).getParent)
        Files.writeString(Paths.get(p), tracer.toJson)
        log(s"spans written to $p")
      }
    }
    println(rep.toJson)
    0
  }
}
