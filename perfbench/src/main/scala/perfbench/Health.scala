package perfbench

import org.apache.spark.sql.SparkSession

/** Host health printed next to each run's metrics: the one-job dispatch
  * probe (a board is poisoned when its max exceeds 2x its median) and the
  * process's peak resident memory. */
object Health {
  def calProbes(spark: SparkSession): Seq[Double] = {
    val sc = spark.sparkContext
    sc.setJobGroup("cal", "one-job dispatch probe")
    val rdd = sc.parallelize(1 to 16, 1)
    val t = (1 to 11).map { _ =>
      val t0 = System.nanoTime()
      rdd.count()
      (System.nanoTime() - t0) / 1e6
    }
    sc.clearJobGroup()
    t
  }

  def cal(probes: Seq[Double]): Map[String, Double] = Map(
    "scheduler.cal_job_ms" -> Layers.median(probes),
    "scheduler.cal_job_max_ms" -> probes.max)

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
