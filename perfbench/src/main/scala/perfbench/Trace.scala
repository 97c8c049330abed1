package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds with nanoTime resolution, so spans
  * taken here line up with the epoch-millisecond times Spark's listener
  * events carry. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

/** A span of the run: `run > pass > op > {build, action}` for the batch
  * workloads, `run > trigger > phase` for the stream. Spans of one
  * operation share its `op` id. */
final case class Span(id: Int, parent: Int, name: String, op: String, startUs: Long, endUs: Long)

final class StageRec(val id: Int, val group: String, val batch: Long) {
  var numTasks = 0
  var submitMs = 0L
  var completeMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

final class JobRec(val id: Int, val group: String, val batch: Long, val startMs: Long) {
  var endMs = 0L
}

/** Planning phases of one SQL execution, as QueryExecutionListener sees them. */
final case class PlanRec(startMs: Long, planMs: Long)

/** Spark's public listeners, registered only while a traced run traces. Everything
  * stays in memory; `Main` writes it out once when the run exits. Jobs and
  * stages are attributed to an operation through the job group the
  * benchmark sets around each call, and to a micro-batch through the
  * batch id Spark sets on streaming jobs. */
final class Trace(spark: SparkSession) {
  val jobs = mutable.Map.empty[Int, JobRec]
  val stages = mutable.Map.empty[Int, StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = prop(e.properties, "spark.jobGroup.id")
      val batch = prop(e.properties, "streaming.sql.batchId").toLongOption.getOrElse(-1L)
      jobs(e.jobId) = new JobRec(e.jobId, group, batch, e.time)
      e.stageInfos.foreach { s =>
        stages.getOrElseUpdate(s.stageId, new StageRec(s.stageId, group, batch)).numTasks = s.numTasks
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val i = e.stageInfo
      stages.get(i.stageId).foreach { s =>
        s.numTasks = i.numTasks
        s.submitMs = i.submissionTime.getOrElse(0L)
        s.completeMs = i.completionTime.getOrElse(0L)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
        s.taskMs += e.taskInfo.duration
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val execListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      if (ph.nonEmpty) synchronized {
        plans += PlanRec(ph.values.map(_.startTimeMs).min, ph.values.map(_.durationMs).sum)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(execListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(execListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until the listener bus has delivered every event posted so far:
    * run one marker job and wait for its end event. */
  def drain(): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("trace-drain", "listener drain marker")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000L
    def seen = synchronized(jobs.values.exists(j => j.group == "trace-drain" && j.endMs > 0))
    while (!seen && System.currentTimeMillis() < deadline) Thread.sleep(10)
    synchronized(jobs.filterInPlace((_, j) => j.group != "trace-drain"))
  }
}

/** Served-artifact builds during warm-up: the SQL executions that write a
  * table (`saveAsTable`), start to end. Registered for the warm-up only. */
final class ArtifactWatch(spark: SparkSession) extends SparkListener {
  import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
  private val writes = mutable.Map.empty[Long, Long]
  private var buildMs = 0L
  private var marker = -1
  @volatile private var drained = false

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart
        if s.physicalPlanDescription.contains("CreateDataSourceTableAsSelect") =>
      synchronized(writes(s.executionId) = s.time)
    case x: SparkListenerSQLExecutionEnd =>
      synchronized(writes.remove(x.executionId).foreach(t0 => buildMs += x.time - t0))
    case _ =>
  }
  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == "artifact-drain"))
      synchronized { marker = e.jobId }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (synchronized(e.jobId == marker)) drained = true

  def start(): Unit = spark.sparkContext.addSparkListener(this)

  /** Seconds spent building artifacts, once every earlier event is in. */
  def stop(): Double = {
    val sc = spark.sparkContext
    sc.setJobGroup("artifact-drain", "listener drain marker")
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 10000L
    while (!drained && System.currentTimeMillis() < deadline) Thread.sleep(10)
    sc.removeSparkListener(this)
    synchronized(buildMs / 1000.0)
  }
}
