package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** What one run needs: the session, the generated inputs and where to
  * write. `setupFromUs` is when the benchmark process started setting up
  * (epoch microseconds), so `setup_s` covers input generation too. */
final case class Ctx(spark: SparkSession, workload: String, cores: Int, seed: Long,
    seconds: Double, data: String, work: String, setupFromUs: Long)

/** JVM side of the benchmark; `run.py` is the entry point. Runs one
  * workload and writes the run record (timings, per-call digests, per-layer
  * metrics on a traced run) as one JSON file. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cores = Runtime.getRuntime.availableProcessors
    val jvmStartUs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val spark = graft.GraftSession.create("perfbench", Some(s"local[$cores]"), Some(cores))
    val sessionUs = Clock.nowUs()
    spark.sparkContext.setLogLevel("WARN")
    // keep every micro-batch's progress for the latency bookkeeping
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val ctx = Ctx(spark, o("workload"), cores, o("seed").toLong, o("seconds").toDouble, o("data"),
      o("work"), o("setup-from-us").toLong)
    val traced = o("trace") == "1"
    val rec = ctx.workload match {
      case "board" | "curation" => Batch.run(ctx, traced)
      case "calls_stream" => Stream.run(ctx, traced)
      case w => sys.error(s"unknown workload $w")
    }
    rec("workload") = ctx.workload
    rec("seed") = ctx.seed
    rec("cores") = cores
    rec("peak_rss_mb") = Health.peakRssMb()
    def since(us: Long) = (us - ctx.setupFromUs) / 1e6
    rec("phases_s") = Map("jvm_start" -> since(jvmStartUs), "session" -> since(sessionUs),
      "done" -> since(Clock.nowUs()))
    Files.write(Paths.get(o("out")), Json.render(rec).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    System.exit(0)
  }
}
