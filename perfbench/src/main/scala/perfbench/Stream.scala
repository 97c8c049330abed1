package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.streaming.CallsStreamPipeline

final case class CallEvent(ts: Timestamp, user_id: Long, value: Double)

/** `calls_stream`: the reference topology as a stream. One generator
  * thread appends a tick of calls on a fixed schedule (open loop) to a
  * `MemoryStream`; `CallsStreamPipeline.aggregate` feeds `enriched`
  * against the customer table; an update-mode `foreachBatch` sink keeps
  * the latest row per (caller, window), like the reference's KTable
  * changelog. A tick's latency runs from its due time to the return of
  * the sink call for the first micro-batch whose end offset covers it. */
object Stream {
  val TickMs = 10L
  val EventsPerTick = 20 // 2,000 events/s
  /** Event time advances 3 h per wall second, so hourly windows close and
    * the 24 h watermark starts evicting state about 8 s into the run. */
  val EventMsPerTick: Long = TickMs * 3 * 3600L
  val OutOfOrderMs: Long = 10 * 60 * 1000L
  val Callers = 16500
  /** Ticks before the timed schedule: the backlog behind the cold first
    * trigger drains, trigger time settles and the state store fills to its
    * evicting level. */
  val WarmupTicks = 1500
  val BlockTicks = 250
  /** Micro-batch every second: a fixed batch size, so a slow trigger does
    * not feed a bigger next batch. */
  val TriggerMs = 1000L
  val EventTime0: Long = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  /** Zipf(1) over caller ranks, ranks mapped to ids by a seeded permutation;
    * ids at or above the customer table's size miss the join. */
  final class CallGen(seed: Long) {
    private val cdf = {
      val w = (1 to Callers).map(r => 1.0 / r)
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    private val ids = {
      val a = Array.tabulate(Callers)(_.toLong)
      val r = new SplittableRandom(seed)
      for (i <- a.length - 1 to 1 by -1) {
        val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
      }
      a
    }
    def tick(k: Long): Array[CallEvent] = {
      val r = new SplittableRandom(seed * 1000003L + k)
      val base = EventTime0 + k * EventMsPerTick
      Array.fill(EventsPerTick) {
        val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
        val id = ids(math.min(if (i >= 0) i else -i - 1, Callers - 1))
        val dur = math.round(-math.log(1.0 - r.nextDouble()) * 120.0 * 100.0) / 100.0
        CallEvent(new Timestamp(base - r.nextLong(OutOfOrderMs)), id, dur)
      }
    }
  }

  /** Open-loop appender. Tick k is due at start + k * TickMs; a late tick
    * is appended at once, and the lag is recorded. */
  final class Generator(in: MemoryStream[CallEvent], gen: CallGen) extends Thread("call-generator") {
    setDaemon(true)
    @volatile var stopAt: Long = Long.MaxValue
    @volatile var startUs = 0L
    val dueUs = mutable.ArrayBuffer.empty[Long]
    val offset = mutable.ArrayBuffer.empty[Long]
    val lagUs = mutable.ArrayBuffer.empty[Long]
    val events = mutable.ArrayBuffer.empty[Array[CallEvent]]
    @volatile var ticks = 0
    override def run(): Unit = {
      startUs = Clock.nowUs()
      var k = 0L
      while (k < stopAt) {
        val due = startUs + k * TickMs * 1000L
        val wait = due - Clock.nowUs()
        if (wait > 0) Thread.sleep(wait / 1000L, ((wait % 1000L) * 1000L).toInt)
        val batch = gen.tick(k)
        val o = in.addData(batch.toSeq)
        dueUs += due
        lagUs += Clock.nowUs() - due
        offset += o.json().toLong
        events += batch
        k += 1
        ticks = k.toInt
      }
    }
  }

  def run(ctx: Ctx, traced: Boolean): mutable.Map[String, Any] = {
    val spark = ctx.spark
    val rec = mutable.LinkedHashMap.empty[String, Any]
    import spark.implicits._
    val customers = spark.read.parquet(s"${ctx.data}/customer.parquet")
    // one partition per core per micro-batch, however many ticks it holds
    val in = MemoryStream[CallEvent](spark, ctx.cores)
    val enriched = CallsStreamPipeline.enriched(
      CallsStreamPipeline.aggregate(in.toDF(), tsCol = "ts", caller = "user_id", duration = "value"),
      customers, "c_custkey", "c_name", "c_mktsegment", "c_nationkey", "c_acctbal")
    val sink = mutable.HashMap.empty[(String, String), Row]
    val batchEndUs = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    var columns = Seq.empty[String]
    val sinkFn: (DataFrame, Long) => Unit = (df, id) => {
      val rows = df.collect()
      columns = df.schema.fieldNames.toSeq
      rows.foreach(r => sink((r.getAs[String]("id_telef_origen"), r.getAs[String]("window_start_ts"))) = r)
      batchEndUs.put(id, Clock.nowUs())
    }
    val calBefore = Health.calProbes(spark)
    val query: StreamingQuery = enriched.writeStream
      .outputMode("update")
      .option("checkpointLocation", s"${ctx.work}/checkpoint")
      .foreachBatch(sinkFn)
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .start()
    val gen = new Generator(in, new CallGen(ctx.seed))
    // The timed schedule is cut into blocks of BlockTicks; a traced run
    // runs twice as many and traces them in the order U T T U U T T U, so
    // a drift over the run falls on both kinds alike.
    val windowTicks = math.round(ctx.seconds * 1000 / TickMs).toInt
    val nBlocks = math.max(if (traced) 4 else 1, (if (traced) 2 else 1) * windowTicks / BlockTicks)
    def tracedBlock(j: Int) = traced && Set(1, 2)(j % 4)
    def blockStart(j: Int) = WarmupTicks + j * BlockTicks
    val end = blockStart(nBlocks)
    gen.stopAt = end
    gen.start()
    def awaitTick(k: Int): Unit = while (gen.ticks < k && gen.isAlive) Thread.sleep(2)
    awaitTick(WarmupTicks)
    rec("setup_s") = (gen.startUs + WarmupTicks * TickMs * 1000L - ctx.setupFromUs) / 1e6
    val trace = if (traced) Some(new Trace(spark)) else None
    for (j <- 0 until nBlocks) {
      if (tracedBlock(j)) { awaitTick(blockStart(j)); trace.foreach(_.register()) }
      awaitTick(blockStart(j + 1))
      if (tracedBlock(j)) trace.foreach { t => t.drain(); t.unregister() }
    }
    gen.join()
    query.processAllAvailable()
    query.stop()
    val calAfter = Health.calProbes(spark)

    // batch -> end offset, from the query's own progress record
    val progress = query.recentProgress.toSeq
    val batchOffset = progress.flatMap { p =>
      p.sources.headOption.flatMap(s => Option(s.endOffset)).flatMap(_.trim.toLongOption).map(p.batchId -> _)
    }.sortBy(_._1)
    val latencyUs = Array.fill(gen.ticks)(-1L)
    var next = 0
    batchOffset.foreach { case (b, endOff) =>
      Option(batchEndUs.get(b)).foreach { doneUs =>
        while (next < gen.ticks && gen.offset(next) <= endOff) {
          latencyUs(next) = doneUs - gen.dueUs(next)
          next += 1
        }
      }
    }
    def startUs(p: StreamingQueryProgress) = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000L
    def durMs(p: StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    def blockUs(j: Int) = (gen.dueUs(blockStart(j)), gen.dueUs(blockStart(j + 1) - 1) + TickMs * 1000L)
    def inBlocks(blocks: Seq[Int], p: StreamingQueryProgress) = blocks.exists { j =>
      val (s, e) = blockUs(j)
      startUs(p) >= s && startUs(p) + durMs(p, "triggerExecution") * 1000L <= e
    }
    def e2e(blocks: Seq[Int]): Map[String, Double] = {
      val ticks = blocks.flatMap(j => blockStart(j) until blockStart(j + 1))
      val lat = ticks.map(latencyUs(_)).filter(_ >= 0).map(_ / 1000.0)
      val ps = progress.filter(inBlocks(blocks, _))
      val busyS = ps.map(durMs(_, "triggerExecution")).sum / 1000.0
      Map(
        "op_ms" -> Layers.median(lat),
        "op_tail_ms" -> Layers.tailMean(lat, 0.99),
        "throughput_per_s" -> ps.map(_.numInputRows.toDouble).sum / busyS,
        "timed_ticks" -> lat.size.toDouble,
        "uncovered_ticks" -> (ticks.size - lat.size).toDouble)
    }
    val (tBlocks, uBlocks) = (0 until nBlocks).partition(tracedBlock)
    rec("e2e") = e2e(uBlocks)
    val timedLag = uBlocks.flatMap(j => blockStart(j) until blockStart(j + 1)).map(gen.lagUs(_))
    val health = Map(
      "generator.lag_ms" -> Layers.quantile(timedLag.map(_ / 1000.0), 0.99),
      "generator.backlog_ticks" -> timedLag.map(_ / (TickMs * 1000L)).max.toDouble) ++
      Health.cal(calBefore ++ calAfter)
    rec("cal") = health
    trace.foreach { t =>
      rec("e2e_traced") = e2e(tBlocks)
      val traced = t.synchronized(t.progress.filter(inBlocks(tBlocks, _)).toSeq)
      val layers = Layers.stream(traced, tBlocks.size * BlockTicks * TickMs.toDouble, t, ctx.cores)
      layers ++= health
      rec("layers") = layers
      val spans = mutable.ArrayBuffer(Span(0, -1, "run", "", blockUs(0)._1, blockUs(nBlocks - 1)._2))
      traced.foreach { p =>
        val id = spans.size
        spans += Span(id, 0, "trigger", s"batch-${p.batchId}", startUs(p),
          startUs(p) + durMs(p, "triggerExecution") * 1000L)
        var at = startUs(p)
        Seq("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets").foreach { k =>
          spans += Span(spans.size, id, k, s"batch-${p.batchId}", at, at + durMs(p, k) * 1000L)
          at += durMs(p, k) * 1000L
        }
      }
      rec("spans") = spans.toSeq
    }

    // inputs and sink state for the oracle check
    def writer(name: String) =
      Files.newBufferedWriter(Paths.get(ctx.work, name), StandardCharsets.UTF_8)
    val ev = writer("events.csv")
    try {
      ev.write("user_id,value,ts_us\n")
      gen.events.foreach(_.foreach(e => ev.write(s"${e.user_id},${e.value},${e.ts.getTime * 1000L}\n")))
    } finally ev.close()
    val out = writer("sink.txt")
    try {
      out.write(columns.sorted.mkString("\u0001") + "\n")
      Digest.rows(columns, sink.values.toArray).foreach(r => out.write(r + "\n"))
    } finally out.close()
    rec("ticks") = gen.ticks
    rec("events") = gen.ticks.toLong * EventsPerTick
    rec("sink_rows") = sink.size
    rec("batches") = progress.size
    rec("triggers") = progress.map(p => Seq(p.batchId, startUs(p) - gen.startUs,
      durMs(p, "triggerExecution"), durMs(p, "addBatch"), p.numInputRows))
    rec("oracle_sql") = Map("q_calls_enriched" -> graft.SparkEntry.oracleSql("q_calls_enriched"))
    rec
  }
}
