package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The cost of `Dedup.components` against the size of its pair graph, on
  * synthetic near-dup graphs: clusters of four docs joined by all six of
  * their pairs, plus as many singleton docs as clustered ones. For each
  * size and path it prints, over `reps` calls after two warm-up calls
  * (the paths interleaved), the median wall time of the call plus a
  * count of its result, the jobs the call ran and the most bytes the
  * context held cached while it ran.
  *
  * {{{
  * ComponentsCurve <reps> <pairs,pairs,...> <path,path,...>
  * }}}
  *
  * Paths: `default` (`components` as its callers run it), `fixpoint`
  * (`driverCap = 0`) and `driver` (a `driverCap` above every size).
  * `default` also links against builds that predate the driver path, so
  * the same class times an earlier commit's classes. The session is
  * `Bench.session` (`local[SPARK_GRAFT_CPUS]`, one shuffle partition per
  * core).
  */
object ComponentsCurve {
  def main(args: Array[String]): Unit = {
    val reps = args(0).toInt
    val sizes = args(1).split(',').map(_.toInt)
    val paths = args(2).split(',').toSeq
    val spark = Bench.session("components-curve")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    })
    def cachedBytes(): Long = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    for (nPairs <- sizes) {
      val clusters = math.max(1, nPairs / 6)
      val clustered = 4L * clusters
      // a shuffle stands in for the pair plan, which the call must run once
      val pairs = spark.range(clustered).toDF("a")
        .join(spark.range(clustered).toDF("b"),
          floor(col("a") / 4) === floor(col("b") / 4) && col("a") < col("b"))
        .select(col("a").as("doc_a"), col("b").as("doc_b"))
      val docs = spark.range(2 * clustered).select(col("id").as("doc_id"))
      def once(path: String): (Double, Int, Long) = {
        val before = cachedBytes()
        @volatile var peak = 0L
        @volatile var sampling = true
        val sampler = new Thread(() => {
          while (sampling) { peak = math.max(peak, cachedBytes() - before); Thread.sleep(5) }
        })
        sampler.setDaemon(true)
        sampler.start()
        val jobs0 = jobs.get
        val t0 = System.nanoTime
        val (out, release) = path match {
          case "default" => (Dedup.components(docs, pairs), () => ())
          case "fixpoint" => Dedup.componentsWithRelease(docs, pairs, driverCap = 0)
          case "driver" => Dedup.componentsWithRelease(docs, pairs, driverCap = 1 << 26)
        }
        require(out.count() == 2 * clustered, s"$path: wrong row count")
        release()
        val ms = (System.nanoTime - t0) / 1e6
        val ran = jobs.get - jobs0
        sampling = false
        sampler.join()
        // `components` leaves its final cache to the caller on the fixpoint path
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.sharedState.cacheManager.clearCache()
        (ms, ran, peak)
      }
      // paths interleaved rep by rep, so drift in the host spreads evenly
      paths.foreach { p => once(p); once(p) }
      val runs = Seq.fill(reps)(paths.map(p => p -> once(p))).flatten.groupMap(_._1)(_._2)
      for (path <- paths) {
        val sorted = runs(path).sortBy(_._1)
        val (ms, ran, peak) = sorted(sorted.length / 2)
        println(f"[curve] pairs=${6L * clusters}%9d path=$path%-8s ms=$ms%9.1f " +
          f"(min ${sorted.head._1}%.1f max ${sorted.last._1}%.1f) jobs=$ran%3d cached_bytes=$peak%d")
      }
    }
    spark.stop()
  }
}
