package graft

import graft.ops.PlanScope
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  RoundRobinPartitioning}
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._

/** The plan scope is what makes wrapping operators in conf overrides safe
  * for callers: a scope must never leak confs to the caller's session (a
  * concurrent query plans under AQE as usual, mid-scope, and scoped
  * operators run concurrently on one session), and a frame entering a
  * scope must keep reading its cached blocks without dispatching a job. */
class PlanScopeSpec extends SparkTestBase {

  private val Key = "spark.sql.adaptive.enabled"

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

  /** The output partitionings of the spread exchanges (`repartition(n…)`)
    * `df` plans, read from its physical plan without running it. */
  private def spreads(df: DataFrame): Seq[Partitioning] = {
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    plan.collect {
      case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM => e.outputPartitioning
    }
  }

  private def hashedOn(names: String*): Partitioning => Boolean = {
    case HashPartitioning(es, 4) => es.collect { case a: Attribute => a.name } == names
    case _ => false
  }

  test("spreadIfSmall: one gate for all three overloads") {
    def frame(rows: Long) = spark.range(rows).toDF("x").withColumn("y", col("x") % 3)
    val tiny = frame(100)
    val huge = frame(1L << 40)
    assert(huge.queryExecution.optimizedPlan.stats.sizeInBytes > (BigInt(1) << 40))
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    val overloads: Seq[(String, DataFrame => DataFrame, Partitioning => Boolean)] = Seq(
      ("key", PlanScope.spreadIfSmall(_, "x"), hashedOn("x")),
      ("keys", PlanScope.spreadIfSmall(_, Seq(col("x"), col("y"))), hashedOn("x", "y")),
      ("keyless", PlanScope.spreadIfSmall(_), {
        case RoundRobinPartitioning(4) => true
        case _ => false
      }))
    overloads.foreach { case (name, spread, expected) =>
      val got = spreads(spread(tiny))
      assert(got.size === 1 && expected(got.head), s"$name: $got")
      assert(spread(huge) eq huge, s"$name: a terabyte estimate must not be spread")
      PlanScope.isolated(spark, "spark.sql.shuffle.partitions" -> "1") { scoped =>
        val in = PlanScope.rebind(tiny, scoped)
        assert(spread(in) eq in, s"$name: a 1-wide spread is an idle stage")
      }
    }
  }

  test("brute-force kNN and hard negatives plan no repartition exchange") {
    val sfEmb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // a terabyte size estimate: a spread of it would shuffle the corpus
    val hugeEmb = spark.range(1L << 40).select(col("id").as("vec_id"),
      (col("id") % 2).as("label"), array(lit(1f), lit(0f)).as("embedding"))
    Seq("sf fixture" -> sfEmb, "terabyte estimate" -> hugeEmb).foreach {
      case (name, emb) =>
        val queries = emb.filter(col("vec_id") < 3)
        val knn = graft.operators.Similarity.bruteForceKnn(emb, queries, k = 2)
        val neg = graft.operators.Similarity.hardNegatives(emb, queries, k = 2,
          loE6 = -1000000L, hiE6 = 1000000L)
        // the static scope sizes the sf fixture to one partition (a
        // 1-wide spread); the terabyte frame is too big to spread
        assert(spreads(knn).isEmpty, s"bruteForceKnn over the $name")
        assert(spreads(neg).isEmpty, s"hardNegatives over the $name")
    }
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

  test("a result persisted in the scope leaves through rebind, read from its cache") {
    def registered() = spark.sparkContext.getPersistentRDDs.size
    val before = registered()
    def agg(df: DataFrame) = df.groupBy((col("x") % 5).as("k")).agg(count(lit(1)).as("n"))
    val oracle = sortedRows(agg(spark.range(50).toDF("x")))
    // persisted and materialized INSIDE the static scope, then re-bound
    // onto the caller: the way a loop result leaves Graphs
    val (out, bindJobs) = PlanScope.isolatedStatic(spark) { clone =>
      val inScope = agg(PlanScope.rebind(spark.range(50).toDF("x"), clone)).persist()
      inScope.queryExecution.toRdd.count()
      jobsDuring(PlanScope.rebind(inScope, spark))
    }
    assert(out.sparkSession eq spark)
    assert(bindJobs === 0, "rebind must not dispatch a job")
    assert(readsCacheAdaptively(out.groupBy().count()),
      "the caller-bound result must read InMemoryTableScan under the caller's AQE")
    assert(sortedRows(out) === oracle)
    assert(registered() === before + 1)
    // the caller-bound frame names the scope's cache entry: one release
    out.unpersist(blocking = true)
    assert(registered() === before)
  }

  // ---- PlanScope.cut: the one stage boundary ----

  private def persistedIds(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A four-partition frame hashed on `k`, with a deterministic payload. */
  private def keyed(): DataFrame = spark.range(0, 200, 1, 4).toDF("x")
    .withColumn("k", col("x") % 11).repartition(4, col("k"))

  /** `body(cut)` over a fresh cut of `df`, released afterwards. */
  private def withCut[T](df: DataFrame)(body: PlanScope.Cut => T): T = {
    val c = PlanScope.cut(df)
    try body(c) finally c.release()
  }

  private val cutCases: Seq[(String, () => Unit)] = Seq(
    "flat's analyzed plan is a single LogicalRDD leaf" -> (() => withCut(keyed()) { c =>
      assert(c.flat.queryExecution.analyzed.isInstanceOf[LogicalRDD],
        c.flat.queryExecution.analyzed.treeString)
    }),
    "a join on flat's hash key plans no exchange on flat's side" -> (() =>
      PlanScope.isolated(spark, "spark.sql.adaptive.enabled" -> "false",
          "spark.sql.autoBroadcastJoinThreshold" -> "-1") { scoped =>
        withCut(PlanScope.rebind(keyed(), scoped)) { c =>
          val other = scoped.range(50).toDF("k")
          val plan = c.flat.join(other, "k").queryExecution.executedPlan
          val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
          assert(exchanges.size === 1, plan.treeString)
          assert(exchanges.forall(_.collectFirst { case r: RDDScanExec => r }.isEmpty),
            s"the flat side was re-shuffled:\n${plan.treeString}")
        }
      }),
    "the first count fills the cache; a second action recomputes nothing" -> (() => {
      val evals = spark.sparkContext.longAccumulator("cut-evals")
      val counted = udf { (x: Long) => evals.add(1); x }
      withCut(spark.range(0, 100, 1, 4).toDF("x").withColumn("y", counted(col("x")))) { c =>
        assert(c.flat.count() === 100L)
        assert(evals.value === 100L)
        assert(sortedRows(c.flat).size === 100)
        assert(evals.value === 100L, "the second action recomputed the cut")
      }
    }),
    "cutting a persisted frame adds no persistent RDD" -> (() => {
      val df = keyed().persist()
      try {
        df.count()
        val before = persistedIds()
        withCut(df) { c =>
          assert(c.pinned eq df)
          c.flat.count()
          assert(persistedIds() === before)
        }
        assert(persistedIds() === before, "release dropped the caller's pin")
      } finally df.unpersist(blocking = true)
    }),
    "release, twice, leaves the persistent RDDs as they were" -> (() => {
      val before = persistedIds()
      val c = PlanScope.cut(keyed())
      c.flat.count()
      assert(persistedIds().size === before.size + 1)
      c.release()
      c.release()
      assert(persistedIds() === before)
    }),
    "a dropped cached block is recomputed from lineage" -> (() => {
      val before = persistedIds()
      withCut(keyed()) { c =>
        val rows = sortedRows(c.flat)
        val added = persistedIds() -- before
        assert(added.size === 1)
        added.foreach(org.apache.spark.GraftBlockShim.dropBlocks)
        // a local checkpoint face fails here: its lineage ends at the
        // dropped blocks
        assert(sortedRows(c.flat) === rows)
      }
    }))

  cutCases.foreach { case (name, check) => test(s"cut: $name")(check()) }
}
