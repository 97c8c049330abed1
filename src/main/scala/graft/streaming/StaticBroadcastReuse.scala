package graft.streaming

import java.util.{Collections, UUID, WeakHashMap}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{GraftStreamingShim, SparkSession}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CollapseCodegenStages, FileSourceScanExec,
  LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryManager}

/** Builds the broadcast of a stream-static join's static side once per
  * query run instead of once per micro-batch.
  *
  * A micro-batch plans its static side afresh, so without this rule every
  * trigger of the calls stream runs one more job: a 1-task stage over the
  * unchanged customer parquet, a driver-side `HashedRelation` build and a
  * `TorrentBroadcast`, all before its main job is submitted. On a thread
  * that plans a micro-batch (Spark sets the local property
  * `sql.streaming.queryId` there) the rule replaces each eligible
  * `BroadcastExchangeExec` with `ReusedExchangeExec(output, first)`, where
  * `first` is the exchange the same run planned for the same key, first
  * in this batch or in an earlier one. It is stored with its child's
  * whole-stage codegen already collapsed, since the plan's own collapse
  * no longer reaches below the reuse node.
  *
  * Eligible: no node of the exchange's subtree was planned from a
  * streaming logical plan, every node is deterministic and holds no
  * subquery, and every leaf is a `FileSourceScanExec` over an
  * `InMemoryFileIndex` or a `LocalTableScanExec`, so the same subtree
  * reads the same rows in every batch. The first test matters because a
  * file source's batch is a `FileSourceScanExec` too: a broadcast of the
  * stream side would hide the batch's scan and watermark operators from
  * the progress and watermark bookkeeping that looks them up in the plan,
  * and would key one entry per batch. The key is the run id, the
  * exchange's canonical form and the listing (path, length, mtime) of each
  * file leaf: `InMemoryFileIndex` compares only its root paths, so a
  * re-read or a refreshed index that lists new files keys a new build, and
  * reuse returns exactly the rows Spark would have read again.
  *
  * Lifetime: entries are keyed by run, not by query id, so a restart on
  * the same checkpoint never meets its previous run's broadcasts. A run
  * holds one entry per canonical form: a changed listing replaces it.
  * When a run terminates, a `StreamingQueryListener` on the manager of
  * the session that started it drops the run's entries and destroys their
  * broadcasts.
  *
  * Inert elsewhere: off a stream thread there is no query id, so batch
  * plans never change. An adaptive micro-batch (a stateless query under
  * `spark.sql.adaptive.streaming.stateless.enabled`, on by default) is an
  * `AdaptiveSparkPlanExec` leaf here, and AQE runs this rule only on one
  * broadcast query stage at a time, whose root must stay a broadcast
  * exchange; such a batch keeps building its broadcast per batch.
  *
  * Injected by [[graft.GraftExtensions]] through
  * `injectColumnar(...).postColumnarTransitions`, the one physical hook
  * after `EnsureRequirements` in a non-adaptive plan.
  */
final case class StaticBroadcastReuse(spark: SparkSession) extends Rule[SparkPlan] {
  import StaticBroadcastReuse._

  override def apply(plan: SparkPlan): SparkPlan = plan match {
    case _: BroadcastExchangeExec => plan // an adaptive query stage being created
    case _ => GraftStreamingShim.activeRun(spark).fold(plan) { case (runId, manager) =>
      plan.transformDown {
        case e: BroadcastExchangeExec => staticListing(e).fold[SparkPlan](e)(files =>
          ReusedExchangeExec(e.output, first(runId, manager, e, files)))
      }
    }
  }
}

object StaticBroadcastReuse {

  /** The exchange a run built for one canonical form, and the listing of
    * its file leaves when it was built. */
  private final case class Built(listing: Seq[Seq[(String, Long, Long)]],
      exchange: BroadcastExchangeExec)

  private val built = new ConcurrentHashMap[(UUID, SparkPlan), Built]()
  private val listening =
    Collections.synchronizedSet(Collections.newSetFromMap(new WeakHashMap[StreamingQueryManager, java.lang.Boolean]()))

  /** The listing (path, length, mtime) of each file leaf of `e`, when `e`
    * is eligible (see the class doc); None when it is not. */
  private def staticListing(e: BroadcastExchangeExec): Option[Seq[Seq[(String, Long, Long)]]] = {
    val leaves = e.collectLeaves().map {
      case s: FileSourceScanExec => s.relation.location match {
        case i: InMemoryFileIndex =>
          Some(i.allFiles().toSeq.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)))
        case _ => None
      }
      case _: LocalTableScanExec => Some(Nil)
      case _ => None
    }
    val static = !e.exists(p => p.logicalLink.exists(_.isStreaming) || p.subqueries.nonEmpty ||
      p.expressions.exists(!_.deterministic))
    if (static && leaves.forall(_.isDefined)) Some(leaves.flatten) else None
  }

  private def first(runId: UUID, manager: StreamingQueryManager, e: BroadcastExchangeExec,
      files: Seq[Seq[(String, Long, Long)]]): BroadcastExchangeExec = {
    if (listening.add(manager)) manager.addListener(Release)
    // a new listing replaces the entry: plans of earlier batches may still
    // hold the old exchange, so its broadcast is left to Spark's
    // ContextCleaner, which frees it once nothing references it
    built.compute((runId, e.canonicalized), (_, old) =>
      if (old != null && old.listing == files) old
      else Built(files, e.copy(child = CollapseCodegenStages()(e.child)))).exchange
  }

  /** Broadcasts the run `runId` holds for reuse. */
  private[graft] def entries(runId: UUID): Int = built.keySet.asScala.count(_._1 == runId)

  /** Drops the run's entries and destroys the broadcasts they built. */
  private[graft] def release(runId: UUID): Unit =
    built.keySet.asScala.filter(_._1 == runId).foreach { k =>
      Option(built.remove(k)).flatMap(_.exchange.completionFuture.value).flatMap(_.toOption)
        .foreach(_.destroy())
    }

  private object Release extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      release(e.runId)
  }
}
