package graft

import graft.ops.PlanScope
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.functions._

/** The plan scope is what makes wrapping operators in conf overrides safe
  * for callers: a scope must never leak confs to the caller's session (a
  * concurrent query plans under AQE as usual, mid-scope, and scoped
  * operators run concurrently on one session), and a frame entering a
  * scope must keep reading its cached blocks without dispatching a job. */
class PlanScopeSpec extends SparkTestBase {

  private val Key = "spark.sql.adaptive.enabled"

  /** Jobs dispatched by `f` on this thread: a job-group listener plus a
    * closing marker job, whose start event proves every earlier event of
    * the group has been delivered (the listener bus is ordered). */
  private def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"planscope-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).filter(_.getProperty("spark.jobGroup.id") == group)
          .foreach { p =>
            if (p.getProperty("graft.test.marker") != null) markerSeen.countDown()
            else { jobs.incrementAndGet(); () }
          }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "PlanScopeSpec job count", false)
    try {
      val out = f
      sc.setLocalProperty("graft.test.marker", "1")
      sc.parallelize(Seq(1), 1).count()
      assert(markerSeen.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus never delivered the marker job")
      (out, jobs.get())
    } finally {
      sc.setLocalProperty("graft.test.marker", null)
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  test("loopPartitions rounds up to a power of two below the session cap") {
    import graft.operators.Graphs.loopPartitions
    assert(loopPartitions(32, nEdges = 1L, nNodes = 1L) === 1)
    // 3 size units → 4 (pow2 round-up), capped by the session value
    assert(loopPartitions(32, nEdges = 3L << 22, nNodes = 1L) === 4)
    assert(loopPartitions(32, nEdges = 100L << 22, nNodes = 1L) === 32)
    assert(loopPartitions(3, nEdges = 3L << 22, nNodes = 1L) === 3) // cap wins
    // the reachable values are {1,2,4,...} ∪ {sessionSp} — bounded pool
    val vals = (1L to 40L).map(f => loopPartitions(32, f << 22, 1L)).toSet
    assert(vals.subsetOf(Set(1, 2, 4, 8, 16, 32)))
  }

  test("isolated scope: the caller's session keeps AQE mid-scope") {
    val df = spark.range(100).toDF("x")
    PlanScope.isolatedStatic(spark) { clone =>
      assert(clone.conf.get(Key) === "false")
      // the caller's session is untouched — a concurrent query there
      // still plans adaptively while the scope is live
      assert(spark.conf.get(Key) === "true")
      val concurrent = df.groupBy(col("x") % 7).count()
      assert(concurrent.queryExecution.executedPlan.toString
        .contains("AdaptiveSparkPlan"))
      // clone semantics match the caller (seeded conf): same timezone,
      // same shuffle partitions
      assert(clone.conf.get("spark.sql.session.timeZone")
        === spark.conf.get("spark.sql.session.timeZone"))
      assert(clone.conf.get("spark.sql.shuffle.partitions")
        === spark.conf.get("spark.sql.shuffle.partitions"))
    }
    assert(spark.conf.get(Key) === "true")
  }

  test("rebind re-plans a caller frame under the clone's conf") {
    val df = spark.range(1000).toDF("x").withColumn("k", col("x") % 13)
    val (rows, adaptive) = PlanScope.isolatedStatic(spark) { clone =>
      val re = PlanScope.rebind(df, clone)
      val agg = re.groupBy("k").agg(sum("x").as("s"))
      (agg.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1),
        agg.queryExecution.executedPlan.toString.contains("AdaptiveSparkPlan"))
    }
    assert(!adaptive, "plan built on the clone must be static (AQE off)")
    val oracle = df.groupBy("k").agg(sum("x").as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows === oracle)
  }

  test("isolated clones POOL by conf fingerprint and reuse in-scope") {
    // same confs → the same clone session (its conf is immutable, so
    // sharing is safe and the SessionState warmup is paid once); a scope
    // opened on a session that already satisfies the confs runs THERE
    // (operator composition re-uses the enclosing scope's clone)
    val (a, b, nested) = PlanScope.isolatedStatic(spark) { c1 =>
      val inner = PlanScope.isolatedStatic(c1) { c2 => c2 }
      (c1, PlanScope.isolatedStatic(spark) { c2 => c2 }, inner)
    }
    assert(a eq b, "equal fingerprints must share one pooled clone")
    assert(nested eq a, "a satisfied scope must run on the enclosing clone")
    val other = PlanScope.isolated(spark,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "2") { c => c }
    assert(!(other eq a), "different fingerprints get their own clone")
  }

  test("sizedPartitions: plan-estimate sizing, power-of-2, session cap") {
    import spark.implicits._
    // a tiny local frame sizes to 1 partition
    assert(PlanScope.sizedPartitions(Seq(1L, 2L, 3L).toDF("x")) === 1)
    // a huge estimate is capped by the session's own setting
    val sessionSp = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val big = Seq.fill(64)("y" * 1024).toDF("t")
    assert(PlanScope.sizedPartitions(big, bytesPerPartition = 16) === sessionSp)
    // between the extremes the count rounds UP to a power of two, so the
    // clone pool stays bounded as data grows
    val mid = PlanScope.sizedPartitions(big, bytesPerPartition = 40000)
    assert(mid >= 1 && mid <= sessionSp && Integer.bitCount(mid) === 1)
  }

  private def readsCacheStatically(plan: SparkPlan): Boolean =
    plan.collectFirst { case s: InMemoryTableScanExec => s }.isDefined &&
      plan.collectFirst { case a: AdaptiveSparkPlanExec => a }.isEmpty

  /** Global temp views: `listTables(db)` also lists local temp views. */
  private def globalTempViews(): Seq[String] =
    spark.catalog.listTables("global_temp").collect().toSeq
      .filter(_.database == "global_temp").map(_.name)

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("rebind of a PERSISTED frame reads its cache on the clone, 0 jobs at bind") {
    val df = spark.range(200).toDF("x").withColumn("k", col("x") % 9).persist()
    try {
      df.count()
      val oracle = sortedRows(df.groupBy("k").agg(sum("x").as("s")))
      val (rows, planOk, bindJobs) = PlanScope.isolatedStatic(spark) { clone =>
        val (re, jobs) = jobsDuring(PlanScope.rebind(df, clone))
        // an exchange on top, so AQE would wrap the plan were it on
        val agg = re.groupBy("k").agg(sum("x").as("s"))
        (sortedRows(agg), readsCacheStatically(agg.queryExecution.executedPlan), jobs)
      }
      assert(bindJobs === 0, "rebind must not dispatch a job")
      assert(planOk, "the rebound frame must read InMemoryTableScan with AQE off")
      assert(rows === oracle)
      assert(globalTempViews().isEmpty)
    } finally df.unpersist()
  }

  test("rebind of a persisted SUBTREE under an uncached projection reads the cache") {
    val base = spark.range(300).toDF("x").withColumn("k", col("x") % 7).persist()
    try {
      base.count()
      // resolved through a caller-session temp view: the analyzed plan
      // has it inlined, so the clone needs no catalog entry
      base.createOrReplaceTempView("planscope_base")
      val top = spark.table("planscope_base")
        .filter(col("k") =!= 3).select(col("x"), (col("k") * 2).as("k2"))
      val oracle = sortedRows(top.groupBy("k2").count())
      val (rows, planOk, bindJobs) = PlanScope.isolatedStatic(spark) { clone =>
        val (re, jobs) = jobsDuring(PlanScope.rebind(top, clone))
        val agg = re.groupBy("k2").count()
        (sortedRows(agg), readsCacheStatically(agg.queryExecution.executedPlan), jobs)
      }
      assert(bindJobs === 0, "rebind must not dispatch a job")
      assert(planOk, "the cached subtree must read InMemoryTableScan with AQE off")
      assert(rows === oracle)
      assert(globalTempViews().isEmpty)
    } finally {
      spark.catalog.dropTempView("planscope_base")
      base.unpersist()
    }
  }

  test("concurrent fit loops on one session: sequential results, conf untouched") {
    import spark.implicits._
    val docs = (0 until 40).map(i => s"a b c ${"d e " * (i % 4)}a b f${i % 3}").toDF("text")
    val emb = (0L until 120L).map { i =>
      (i, Array.tabulate(6)(d => ((i * 7 + d * 13) % 11).toFloat - 5f))
    }.toDF("vec_id", "embedding")
    def bpe() = graft.operators.Bpe.trainMerges(spark, docs, k = 4).collect().toSeq
    def kmeans() = sortedRows(
      graft.operators.Similarity.kmeansCentroids(emb, nCells = 4, iters = 3, sampleMod = 2))
    val confBefore = spark.conf.getAll
    val (bpeSeq, kmeansSeq) = (bpe(), kmeans())
    val start = new java.util.concurrent.CyclicBarrier(2)
    def released[T](f: => T) = new java.util.concurrent.Callable[T] {
      def call(): T = { start.await(); f }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val bpeF = pool.submit(released(bpe()))
      val kmeansF = pool.submit(released(kmeans()))
      assert(bpeF.get() === bpeSeq)
      assert(kmeansF.get() === kmeansSeq)
    } finally pool.shutdown()
    assert(spark.conf.getAll === confBefore)
  }

  test("rebindRows hands a clone-planned result back without the clone") {
    val out = PlanScope.isolatedStatic(spark) { clone =>
      val re = PlanScope.rebind(spark.range(50).toDF("x"), clone)
        .groupBy((col("x") % 5).as("k")).agg(count(lit(1)).as("n"))
      PlanScope.rebindRows(re, spark)
    }
    // materializes AFTER the scope ended, under the caller's session,
    // replaying the clone-planned lineage
    assert(out.sparkSession eq spark)
    assert(out.schema.fieldNames.toSeq === Seq("k", "n"))
    assert(out.collect().map(_.getLong(1)).sum === 50L)
  }
}
