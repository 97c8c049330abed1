package perfbench

import scala.collection.mutable

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** One timed call of a batch workload: `fn(spark, dir)` is the build
  * (anything the query builder runs eagerly), `collect()` is the action. */
final case class OpRun(name: String, pass: Int, index: Int, startUs: Long, buildEndUs: Long,
    endUs: Long, error: String, digest: String, rows: Long, leaked: Int) {
  def group: String = s"op-$pass-$index"
  def wallS: Double = (endUs - startUs) / 1e6
}

/** Per-layer metrics from a traced window. Every metric of every layer is
  * reported on every workload (0 where the workload does not reach the
  * layer). Counts and times are per operation: per call on the batch
  * workloads, per trigger on the stream. */
object Layers {
  val Names: Seq[String] = Seq(
    "ops.eager_s", "ops.eager_jobs", "serving.artifact_build_s",
    "planner.plan_ms", "planner.executions",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.single_task_stage_s",
    "scheduler.driver_gap_s", "scheduler.cal_job_ms", "scheduler.cal_job_max_ms",
    "executor.run_s", "executor.cpu_s", "executor.busy_frac", "executor.gc_s", "executor.task_skew",
    "shuffle.write_mb", "shuffle.read_mb", "shuffle.spill_mb",
    "storage.leaked_rdds",
    "streaming.trigger_ms", "streaming.query_planning_ms", "streaming.add_batch_ms",
    "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "streaming.jobs_per_trigger",
    "streaming.rows_per_trigger",
    "state.rows_total", "state.memory_mb", "state.commit_ms", "state.update_ms",
    "state.dropped_by_watermark",
    "generator.lag_ms", "generator.backlog_ticks")

  private val MB = 1024.0 * 1024.0

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Mean of the values at or above the q-quantile: the slowest share
    * of operations, steadier than the quantile itself. */
  def tailMean(xs: Seq[Double], q: Double): Double = {
    val cut = quantile(xs, q)
    val tail = xs.filter(_ >= cut)
    if (tail.isEmpty) 0.0 else tail.sum / tail.size
  }

  /** Length of the union of intervals, clipped to [from, to). */
  def covered(intervals: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  private def skew(stages: Iterable[StageRec]): Double = {
    val r = stages.filter(_.taskMs.size >= 2).flatMap { s =>
      val m = median(s.taskMs.map(_.toDouble).toSeq)
      if (m > 0) Some(s.taskMs.max / m) else None
    }
    if (r.isEmpty) 1.0 else r.sum / r.size
  }

  /** Executor and shuffle layers over a set of stages, per operation. */
  private def executor(st: Iterable[StageRec], n: Double, wallMs: Double, cores: Int,
      out: mutable.Map[String, Double]): Unit = {
    out("scheduler.stages") = st.size / n
    out("scheduler.tasks") = st.map(_.numTasks).sum / n
    out("scheduler.single_task_stage_s") =
      st.filter(s => s.numTasks == 1 && s.completeMs >= s.submitMs)
        .map(s => s.completeMs - s.submitMs).sum / 1000.0 / n
    out("executor.run_s") = st.map(_.runMs).sum / 1000.0 / n
    out("executor.cpu_s") = st.map(_.cpuNs).sum / 1e9 / n
    out("executor.gc_s") = st.map(_.gcMs).sum / 1000.0 / n
    out("executor.busy_frac") = if (wallMs > 0) st.map(_.runMs).sum / (wallMs * cores) else 0.0
    out("executor.task_skew") = skew(st)
    out("shuffle.write_mb") = st.map(_.shuffleWrite).sum / MB / n
    out("shuffle.read_mb") = st.map(_.shuffleRead).sum / MB / n
    out("shuffle.spill_mb") = st.map(_.spill).sum / MB / n
  }

  def zero: mutable.Map[String, Double] = mutable.LinkedHashMap(Names.map(_ -> 0.0): _*)

  /** Layers of the batch workloads over the given timed calls. */
  def batch(ops: Seq[OpRun], t: Trace, cores: Int): mutable.Map[String, Double] = t.synchronized {
    val out = zero
    val n = math.max(1, ops.size).toDouble
    val groups = ops.map(_.group).toSet
    def opOf(g: String) = g.stripSuffix("-build").stripSuffix("-action")
    val jobs = t.jobs.values.filter(j => groups(opOf(j.group))).toSeq
    val st = t.stages.values.filter(s => groups(opOf(s.group)))
    out("ops.eager_s") = ops.map(o => (o.buildEndUs - o.startUs) / 1e6).sum / n
    out("ops.eager_jobs") = jobs.count(_.group.endsWith("-build")) / n
    val windows = ops.map(o => (o.startUs / 1000, o.endUs / 1000))
    val plans = t.plans.filter(p => windows.exists { case (s, e) => p.startMs >= s && p.startMs <= e })
    out("planner.plan_ms") = plans.map(_.planMs).sum / n
    out("planner.executions") = plans.size / n
    out("scheduler.jobs") = jobs.size / n
    val byOp = jobs.groupBy(j => opOf(j.group))
    out("scheduler.driver_gap_s") = ops.map { o =>
      val iv = byOp.getOrElse(o.group, Nil).filter(_.endMs > 0).map(j => (j.startMs * 1000, j.endMs * 1000))
      (o.endUs - o.startUs - covered(iv, o.startUs, o.endUs)) / 1e6
    }.sum / n
    executor(st, n, ops.map(_.wallS).sum * 1000, cores, out)
    out("storage.leaked_rdds") = ops.map(_.leaked).sum / n
    out
  }

  /** Layers of the stream over the progress of the traced triggers. */
  def stream(ps: Seq[StreamingQueryProgress], wallMs: Double, t: Trace, cores: Int): mutable.Map[String, Double] =
    t.synchronized {
      val out = zero
      val batches = ps.map(_.batchId).toSet
      val n = math.max(1, ps.size).toDouble
      def dur(k: String) = ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / n
      out("streaming.trigger_ms") = dur("triggerExecution")
      out("streaming.query_planning_ms") = dur("queryPlanning")
      out("streaming.add_batch_ms") = dur("addBatch")
      out("streaming.wal_commit_ms") = dur("walCommit")
      out("streaming.commit_offsets_ms") = dur("commitOffsets")
      out("streaming.rows_per_trigger") = ps.map(_.numInputRows.toDouble).sum / n
      val jobs = t.jobs.values.filter(j => batches(j.batch)).toSeq
      out("streaming.jobs_per_trigger") = jobs.size / n
      out("scheduler.jobs") = jobs.size / n
      val st = t.stages.values.filter(s => batches(s.batch))
      executor(st, n, wallMs, cores, out)
      val triggerWindows = ps.map { p =>
        val s = java.time.Instant.parse(p.timestamp).toEpochMilli
        (s, s + Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
      }
      out("scheduler.driver_gap_s") = triggerWindows.map { case (s, e) =>
        val iv = jobs.filter(j => j.endMs > 0 && j.startMs >= s && j.startMs <= e).map(j => (j.startMs, j.endMs))
        (e - s - covered(iv, s, e)) / 1000.0
      }.sum / n
      val plans = t.plans.filter(p => triggerWindows.exists { case (s, e) => p.startMs >= s && p.startMs <= e })
      out("planner.plan_ms") = out("streaming.query_planning_ms") + plans.map(_.planMs).sum / n
      out("planner.executions") = 1.0 + plans.size / n
      val state = ps.flatMap(_.stateOperators.headOption)
      state.lastOption.foreach { s =>
        out("state.rows_total") = s.numRowsTotal.toDouble
        out("state.memory_mb") = s.memoryUsedBytes / MB
      }
      out("state.commit_ms") = state.map(_.commitTimeMs.toDouble).sum / n
      out("state.update_ms") = state.map(_.allUpdatesTimeMs.toDouble).sum / n
      out("state.dropped_by_watermark") = state.map(_.numRowsDroppedByWatermark.toDouble).sum
      out
    }
}
