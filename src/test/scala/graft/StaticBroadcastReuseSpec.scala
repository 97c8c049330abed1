package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

import graft.pipelines.CallsPipeline
import graft.streaming.{CallsStreamPipeline, StaticBroadcastReuse, StreamingOps}

/** `StaticBroadcastReuse`: a stream-static join builds its static side's
  * broadcast once per query run, rebuilds it whenever the static side can
  * read other rows, returns what a per-batch build returns, and frees it
  * when the run ends; batch and adaptive plans are left alone. */
class StaticBroadcastReuseSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._
  import StaticBroadcastReuseSpec.Run

  private lazy val tables: String = callsTables(seed = 11)

  /** The calls in four arrival chunks, one micro-batch each. */
  private lazy val chunks: Seq[Seq[RawCall]] = {
    val all = Tables.events(spark, tables).select($"ts", $"user_id", $"value").as[RawCall]
      .collect().toSeq
    all.grouped((all.length + 3) / 4).toSeq
  }

  private def enrichedOf(calls: DataFrame, customers: DataFrame): DataFrame =
    CallsStreamPipeline.enriched(CallsStreamPipeline.aggregate(calls), customers,
      custKey = "c_custkey", doc = "c_name", operator = "c_mktsegment",
      flag = "c_nationkey", days = "c_acctbal")

  /** Streams `chunks` through `out` into a `foreachBatch` sink whose body
    * collects `body(batch)`, one micro-batch per chunk, each drained
    * before the next; `before(i)` runs ahead of chunk `i`. Every job of a
    * run carries its run id as job group, so the census counts the run's
    * jobs. Returns with the query still running; the caller stops it. */
  private def stream[T](in: MemoryStream[T], out: DataFrame, chunks: Seq[Seq[T]],
      mode: OutputMode, before: Int => Unit = _ => ())(body: DataFrame => DataFrame = identity): Run =
    streamWith[T](c => { in.addData(c); () }, out, chunks, mode, before)(body)

  /** [[stream]] over any source: `add` appends one chunk to it. */
  private def streamWith[T](add: Seq[T] => Unit, out: DataFrame, chunks: Seq[Seq[T]],
      mode: OutputMode, before: Int => Unit = _ => ())(body: DataFrame => DataFrame = identity): Run = {
    val batches = new java.util.concurrent.ConcurrentSkipListMap[Long, Seq[Row]]()
    val inner = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val q = StreamingOps.foreachBatchSink(out,
        Files.createTempDirectory("sbr-ck").toString, mode) { (b, id) =>
      val df = body(b)
      batches.put(id, df.collect().toSeq)
      inner.add(df.queryExecution.executedPlan)
      ()
    }.start()
    val plans = Seq.newBuilder[SparkPlan]
    val (_, census) = Bench.jobsDuring(spark.sparkContext, q.runId.toString) {
      chunks.zipWithIndex.foreach { case (c, i) =>
        before(i)
        add(c)
        q.processAllAvailable()
        plans += q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      }
    }
    Run(q, batches.values.asScala.toSeq, census.jobs.count(_.contains(Bench.AnyStageFrames)),
      census.jobs, plans.result(), inner.asScala.toSeq)
  }

  private def reuses(p: SparkPlan): Boolean = collect(p) { case r: ReusedExchangeExec => r }.nonEmpty

  /** The latest row per (caller, window), as the reference's KTable keeps. */
  private def latest(batches: Seq[Seq[Row]]): Set[Row] =
    batches.flatten.groupBy(r => (r.getAs[String]("id_telef_origen"),
      r.getAs[String]("window_start_ts"))).values.map(_.last).toSet

  test("the calls stream builds its customer broadcast once over 4 micro-batches ≡ batch") {
    val in = MemoryStream[RawCall](spark)
    val r = stream(in, enrichedOf(in.toDF(), Tables.customer(spark, tables)), chunks,
      OutputMode.Update())()
    r.query.stop()
    assert(r.batches.size >= 4)
    assert(r.broadcastBuilds === 1, r.census.mkString("\n"))
    assert(r.plans.forall(p => !p.isInstanceOf[AdaptiveSparkPlanExec] && reuses(p)))
    val batch = CallsPipeline.callsEnriched(spark, tables).collect().toSet
    assert(latest(r.batches) === batch)
  }

  test("a nondeterministic static side is rebuilt on every micro-batch") {
    val in = MemoryStream[RawCall](spark)
    // the same values, through a nondeterministic expression
    val customers = Tables.customer(spark, tables)
      .withColumn("c_acctbal", $"c_acctbal" + rand(7) * 0.0)
    val r = stream(in, enrichedOf(in.toDF(), customers), chunks, OutputMode.Update())()
    r.query.stop()
    assert(r.batches.size >= 4)
    assert(r.broadcastBuilds === r.batches.size, r.census.mkString("\n") + r.plans.last.treeString)
    assert(r.plans.forall(p => !reuses(p)))
    assert(latest(r.batches) === CallsPipeline.callsEnriched(spark, tables).collect().toSet)
  }

  test("a static side whose listing changes between batches is rebuilt; " +
      "adaptive batches keep a per-batch build") {
    // each batch re-reads the directory, as a sink that picks up new
    // dimension files does: the file for callers 13-15 lands before the
    // third batch, so its read lists one file more
    def run(adaptive: Boolean): Run =
      withSessionConf("spark.sql.adaptive.enabled" -> adaptive.toString) {
        val dir = Files.createTempDirectory("sbr-dim").toString
        customerRows(1L to 12L).write.mode("append").parquet(dir)
        val in = MemoryStream[RawCall](spark)
        val r = stream(in, in.toDF(), chunks, OutputMode.Append(), before = i =>
          if (i == 2) customerRows(13L to 15L).write.mode("append").parquet(dir)) { b =>
          b.sparkSession.catalog.refreshByPath(dir)
          val dim = b.sparkSession.read.parquet(dir)
          b.join(broadcast(dim), $"user_id" === dim("c_custkey"), "left")
            .select($"ts", $"user_id", $"value", $"c_name")
        }
        // the new listing replaced the run's entry; adaptive runs keep none
        assert(StaticBroadcastReuse.entries(r.query.runId) === (if (adaptive) 0 else 1))
        r.query.stop()
        r
      }
    val reused = run(adaptive = false)
    val adaptive = run(adaptive = true)
    assert(reused.batches.size === 4 && adaptive.batches.size === 4)
    // one build per listing when the rule fires, one per batch under AQE
    assert(reused.broadcastBuilds === 2, reused.census.mkString("\n"))
    assert(reused.inner.forall(reuses))
    assert(adaptive.broadcastBuilds === 4, adaptive.census.mkString("\n"))
    assert(adaptive.inner.forall(p => p.isInstanceOf[AdaptiveSparkPlanExec] && !reuses(p)))
    // the new file's customers are joined from the third batch on
    def named(batches: Seq[Seq[Row]]) =
      batches.map(_.count(r => r.getLong(1) >= 13L && !r.isNullAt(3)))
    assert(named(adaptive.batches).take(2).forall(_ == 0) &&
      named(adaptive.batches).drop(2).forall(_ > 0))
    assert(reused.batches.map(_.toSet) === adaptive.batches.map(_.toSet))
  }

  test("a broadcast of the stream side is rebuilt per batch and its scan stays in the plan") {
    withSessionConf("spark.sql.adaptive.enabled" -> "false") {
      val src = Files.createTempDirectory("sbr-src").toString
      val in = spark.readStream.schema(spark.emptyDataset[RawCall].schema).parquet(src)
      val customers = Tables.customer(spark, tables)
      // a file source's batch is a FileSourceScanExec too
      val out = customers.join(broadcast(in), $"user_id" === $"c_custkey")
        .select($"ts", $"user_id", $"value", $"c_name")
      val r = streamWith[RawCall](c => c.toDS().coalesce(1).write.mode("append").parquet(src),
        out, chunks, OutputMode.Append())()
      r.query.stop()
      assert(r.batches.size === 4)
      assert(r.broadcastBuilds === 4, r.census.mkString("\n"))
      assert(r.plans.forall(p => !reuses(p) &&
        collect(p) { case b: BroadcastExchangeExec => b }.nonEmpty))
      // the progress still finds the batch's scan
      assert(r.query.recentProgress.map(_.numInputRows).sum === chunks.flatten.size)
      val batch = customers.join(chunks.flatten.toDS(), $"user_id" === $"c_custkey")
        .select($"ts", $"user_id", $"value", $"c_name").collect()
      assert(r.batches.flatten.groupMapReduce(identity)(_ => 1)(_ + _) ===
        batch.toSeq.groupMapReduce(identity)(_ => 1)(_ + _))
    }
  }

  test("a batch query plans no ReusedExchange, adaptive or not") {
    for (adaptive <- Seq(true, false))
      withSessionConf("spark.sql.adaptive.enabled" -> adaptive.toString) {
        val df = CallsPipeline.callsEnriched(spark, tables)
        df.collect()
        val plan = df.queryExecution.executedPlan
        assert(collect(plan) { case b: BroadcastExchangeExec => b }.nonEmpty, plan)
        assert(!reuses(plan), plan)
      }
  }

  test("a stopped run holds no cache entry and no broadcast blocks") {
    val in = MemoryStream[RawCall](spark)
    val r = stream(in, enrichedOf(in.toDF(), Tables.customer(spark, tables)), chunks.take(2),
      OutputMode.Update())()
    val runId = r.query.runId
    val ids = r.plans.flatMap(p => collect(p) { case ReusedExchangeExec(_, b: BroadcastExchangeExec) =>
      b.completionFuture.value.get.get.id }).distinct
    assert(ids.size === 1)
    assert(StaticBroadcastReuse.entries(runId) === 1)
    assert(org.apache.spark.GraftBlockShim.broadcastBlocks(ids.head).nonEmpty)
    r.query.stop()
    // the termination event reaches the listener through the bus
    val deadline = System.nanoTime() + 30L * 1000000000L
    while ((StaticBroadcastReuse.entries(runId) > 0 ||
        org.apache.spark.GraftBlockShim.broadcastBlocks(ids.head).nonEmpty) &&
        System.nanoTime() < deadline) Thread.sleep(50)
    assert(StaticBroadcastReuse.entries(runId) === 0)
    assert(org.apache.spark.GraftBlockShim.broadcastBlocks(ids.head).isEmpty)
  }
}

object StaticBroadcastReuseSpec {

  /** One run of a stream: the rows of each batch, the broadcast builds
    * among the run's jobs (the census marks a broadcast build with
    * [[Bench.AnyStageFrames]]), the plan each batch executed and, in
    * `inner`, the plan of what the sink body ran. */
  final case class Run(query: StreamingQuery, batches: Seq[Seq[Row]],
      broadcastBuilds: Int, census: Seq[String], plans: Seq[SparkPlan], inner: Seq[SparkPlan])
}
