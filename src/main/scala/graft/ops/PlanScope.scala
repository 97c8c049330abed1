package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Plan-scope control for operators whose plan shape is known ahead of
  * time. Spark's AQE charges one driver job per materialized exchange
  * (each shuffle stage is submitted, measured, and re-planned before the
  * next), which is the right trade for ad-hoc corpus queries — and pure
  * overhead for a SERVING-shaped operator that re-executes the same
  * known plan per batch: a per-batch dedup admits the same band joins
  * every call, a fixpoint loop re-runs the same two exchanges every
  * round. There AQE re-planning buys no information while charging a
  * driver walk plus a job dispatch per exchange per call — on a
  * dispatch-floor-bound host (or a busy cluster scheduler) that floor IS
  * the latency. Measured on the board: d12_delta_dedup 45 → ~4 driver
  * jobs with identical results.
  *
  * Static planning deliberately gives up two AQE behaviors, both
  * irrelevant to the shapes this is used for: runtime join-strategy
  * switches (the operators' joins are on DERIVED frames whose static
  * size estimates would never broadcast anyway, or on frames the
  * operator already pre-partitioned) and skew-split (LSH band / minhash
  * bucket keys are uniform by construction).
  *
  * There is one scope, [[isolated]] (and its static forms
  * [[isolatedStatic]]/[[isolatedStaticFor]]): the body runs on a pooled
  * `newSession()` CLONE — isolated SQLConf, shared SparkContext and cache
  * manager — so a concurrent query on the caller's session NEVER observes
  * the scope's confs (it plans under AQE as usual while the scope runs),
  * and nothing is ever set on or restored to a caller's conf. A frame
  * crosses a scope boundary, in either direction, only through
  * [[rebind]]: inputs enter the clone that way, and results either cross
  * back as values built on the caller's session (driver-side fits), are
  * returned as-is (they keep planning under the clone's immutable conf),
  * or — when the caller's conf must plan downstream — are persisted and
  * materialized inside the scope and re-bound onto the caller, whose
  * plans then read the shared cache entry (`InMemoryTableScan`). */
object PlanScope {

  /** One clone per (caller session, effective-conf fingerprint), never
    * mutated after creation: scopes with the same confs share it (safe —
    * its conf is read-only for life), frames returned from a scope keep
    * planning under the conf they were built with, and the ~0.5 s
    * first-action SessionState warmup a fresh session costs (measured on
    * the board: analyzer/planner instantiation plus catalog init,
    * charged to the first two actions) is paid once, not per call.
    *
    * The outer map is WEAK-KEYED on the caller session (synchronized
    * WeakHashMap): a pooled clone references the shared SparkContext,
    * never the caller session object, so once a caller session becomes
    * unreachable its whole clone sub-pool is collectable — a long-lived
    * process cycling through sessions doesn't accumulate dead pools. */
  private val clonePool = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[
      SparkSession, java.util.concurrent.ConcurrentHashMap[String, SparkSession]]())

  /** Run `f` against a conf-isolated clone of `spark`: same
    * SparkContext and cache manager, but its own
    * SQLConf — the caller's current explicitly-set MODIFIABLE conf
    * values (so timezone / ANSI / shuffle-partition semantics match
    * exactly) with `confs` applied on top. No concurrent query on
    * `spark` can ever observe the overrides, and nothing is restored —
    * the clone's conf is immutable (pooled by fingerprint; a body that
    * needs different confs mid-operator opens a second scope rather
    * than calling `clone.conf.set`). Frames bound to `spark` cross in
    * via [[rebind]]; frames crossing back out may simply be returned —
    * planning on them stays under the clone's (immortal, immutable) conf
    * — or, when the caller needs its own planning conf downstream, be
    * persisted and materialized in the scope and re-bound onto `spark`
    * via [[rebind]] (`graft.operators.Graphs` hands every loop result
    * back this way). */
  def isolated[T](spark: SparkSession, confs: (String, String)*)(
      f: SparkSession => T): T = {
    // Scope reuse: when `spark` already holds every requested conf (an
    // operator composed inside another operator's scope — e.g. the IVF
    // fit inside a probe wrapper), it IS a suitable scope — run there.
    // rebind() against the same session is the identity hop.
    if (confs.forall { case (k, v) => spark.conf.get(k, null) == v })
      return f(spark)
    val seed = spark.conf.getAll.filter { case (k, _) => spark.conf.isModifiable(k) }
    val eff = seed ++ confs // overrides win
    val fp = eff.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("\u0000")
    val pool = clonePool.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, SparkSession]())
    val clone = pool.computeIfAbsent(fp, _ => {
      val c = spark.newSession()
      eff.foreach { case (k, v) => if (c.conf.isModifiable(k)) c.conf.set(k, v) }
      c
    })
    f(clone)
  }

  /** [[isolated]] with AQE off — one driver job per action instead of
    * one per exchange, visible only to plans built on the clone. */
  def isolatedStatic[T](spark: SparkSession)(f: SparkSession => T): T =
    isolated(spark, "spark.sql.adaptive.enabled" -> "false")(f)

  /** Shuffle-partition count sized to `df`'s optimizer size estimate at
    * ~64 MB per partition, rounded UP to a power of two (so the
    * [[isolated]] clone pool stays bounded as data grows) and capped by
    * the session's own `spark.sql.shuffle.partitions` (the caller sized
    * that for the corpus). Costs no job — the estimate is the plan
    * statistic (file sizes for scans, accurate stats for cached frames);
    * when no estimate exists the session value stands. Static scopes
    * need this because nothing coalesces post-shuffle partitions with
    * AQE off: a small corpus through session-width exchanges pays one
    * near-empty task per partition per exchange — measured at 4-5× an
    * operator's whole compute on a dispatch-floor-bound host. */
  def sizedPartitions(df: DataFrame, bytesPerPartition: Long = 64L << 20): Int = {
    val sessionSp = scala.util.Try(
      df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(200)
    sizeEstimate(df) match {
      case Some(bytes) if bytes >= 0 && bytes < BigInt(Long.MaxValue) =>
        val raw = ((bytes + bytesPerPartition - 1) / bytesPerPartition).max(1)
        val pow2 = if (raw < (1 << 30)) Integer.highestOneBit(raw.toInt * 2 - 1)
          else sessionSp
        math.max(1, math.min(sessionSp, pow2))
      case _ => math.max(1, sessionSp)
    }
  }

  /** `df`'s optimizer size estimate: the plan statistic, read without a
    * job. None when the plan cannot be optimized. */
  private def sizeEstimate(df: DataFrame): Option[BigInt] =
    scala.util.Try(df.queryExecution.optimizedPlan.stats.sizeInBytes).toOption

  /** Spread a provably SMALL input across the session's cores before a
    * kernel-heavy chain. The driver's tables are single-row-group parquet
    * files, so a scan is ONE task no matter the split config — every
    * narrow kernel stage over it (minhash banding, shingling, quality
    * scoring, heavy partial aggregation, a pair-generating join that
    * inherits its stream side's partitioning) serializes on one core
    * while the rest idle.
    *
    * This is the one place that decides whether to spread, with one
    * gate ([[spreadWidth]]): spread to the session's shuffle width `w`
    * only when the optimizer SIZE ESTIMATE is under 4 file splits AND
    * `w > 1`. Anything bigger already fans out with its file splits and
    * must never pay an unconditional full-text exchange (at 100 TB the
    * frame returns untouched); an unknown estimate skips the spread; and
    * a 1-wide spread (a static scope sized to one partition) would be an
    * extra stage with no parallelism. The estimate is read, never
    * `.rdd` — materializing an adaptive plan's RDD executes upstream
    * stages just to read a partition count.
    *
    * This overload hash-partitions on the unique row key (not
    * round-robin): deterministic row placement under task retry
    * (SPARK-38388), no round-robin pre-shuffle local sort, and
    * downstream equi-joins on the same key can REUSE the exchange.
    * Callers must not route the spread claim into both branches of a
    * union that later co-partition-joins (reproduced SMJ zip failure in
    * the curation domain stage — the spread there sits after the union). */
  def spreadIfSmall(df: DataFrame, keyCol: String): DataFrame =
    spreadWidth(df).fold(df)(df.repartition(_, org.apache.spark.sql.functions.col(keyCol)))

  /** [[spreadIfSmall]] keyed on a MULTI-column key — for spreading
    * straight into a downstream `groupBy(cols…)`: the hash exchange this
    * adds already satisfies the aggregation's distribution requirement,
    * so the spread costs no extra exchange, it just moves the one the
    * aggregate would have paid BELOW the heavy partial-aggregation work
    * (the r16 q28 case: a (group, value) histogram whose partial agg
    * barely reduces ran on the scan's 3 row-group tasks; spread first,
    * the whole aggregate runs at session width and the plan's exchange
    * count is unchanged). Same gate and determinism rationale as the
    * single-key overload. */
  def spreadIfSmall(df: DataFrame, keyCols: Seq[org.apache.spark.sql.Column]): DataFrame =
    spreadWidth(df).fold(df)(df.repartition(_, keyCols: _*))

  /** [[spreadIfSmall]] for frames WITHOUT a usable row key (a bare text
    * projection, a nested-loop join's stream side): round-robin instead
    * of hash-by-key. The pre-shuffle local sort (SPARK-23207, on by
    * default) keeps row placement deterministic under task retry; the
    * sort itself is bounded because the spread only fires on provably
    * small inputs. */
  def spreadIfSmall(df: DataFrame): DataFrame =
    spreadWidth(df).fold(df)(df.repartition(_))

  /** The gate of [[spreadIfSmall]]: the width to spread `df` to, None
    * when it must not be spread. `Bpe.trainMerges` caps the width. */
  private[graft] def spreadWidth(df: DataFrame): Option[Int] = {
    val conf = df.sparkSession.sessionState.conf
    Some(conf.numShufflePartitions).filter(w => w > 1 &&
      sizeEstimate(df).exists(_ < BigInt(4L) * conf.filesMaxPartitionBytes))
  }

  /** The static scope most operators want: AQE off AND shuffle
    * partitions sized to the dominant input frame (see
    * [[sizedPartitions]]). */
  def isolatedStaticFor[T](df: DataFrame)(f: SparkSession => T): T =
    isolated(df.sparkSession,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> sizedPartitions(df).toString)(f)

  /** Re-bind `df`'s ANALYZED logical plan onto `target` (a session
    * sharing the same SparkContext), so downstream optimization and
    * physical planning — AQE on/off, shuffle partitions, broadcast
    * thresholds — happen under `target`'s conf. Costs no job and no
    * catalog entry. The plan is unchanged, so the shared CacheManager
    * still matches it: a persisted frame, or a persisted subtree under an
    * uncached projection, reads its cached blocks (`InMemoryTableScan`)
    * on `target`. Use for INPUT frames entering an [[isolated]]
    * scope whose whole derivation should plan under the scope's conf, and
    * for results leaving one: persist and materialize the result inside
    * the scope, then rebind it onto the caller — its downstream plans read
    * that cache entry under the caller's conf, and `unpersist()` on the
    * returned frame releases it. */
  def rebind(df: DataFrame, target: SparkSession): DataFrame =
    if (df.sparkSession eq target) df
    else org.apache.spark.sql.GraftDatasetShim.ofRows(target, df.queryExecution.analyzed)

  /** A stage boundary made by [[cut]]: `flat` is the frame downstream
    * stages plan from, `pinned` the persisted frame whose blocks it reads,
    * and `release()` drops the cache entry the cut added (idempotent; a
    * no-op when the input was already persisted, since its pin is the
    * caller's). */
  final case class Cut(flat: DataFrame, pinned: DataFrame, release: () => Unit)

  /** The one "materialise here, plan downstream from a flat node"
    * boundary, for iterative loops and multi-consumer stages. `df` is
    * persisted at MEMORY_AND_DISK (an input that is already persisted gets
    * no second entry), and `flat` re-roots it as one `LogicalRDD` leaf over
    * the persisted frame's executed RDD — the face `Dataset.checkpoint`
    * builds. So downstream plans:
    *
    *  - analyze and optimize one leaf instead of the whole upstream tree.
    *    Cached adaptive plans nested round-in-round send AQE's plan-update
    *    walk exponential (measured in the graph loops: 80 s per round by
    *    depth 12, OOM by depth 15, on a six-node graph);
    *  - keep the persisted frame's output partitioning, ordering and
    *    statistics, so a join on the key the frame is hashed on plans no
    *    exchange on that side, and the size estimate still drives join
    *    choice;
    *  - keep RDD lineage: a lost block is recomputed through the chain,
    *    where a local checkpoint would have truncated it.
    *
    * Costs no job of its own: the blocks fill on the first full action
    * over `flat` (or `pinned`; both read the same cached RDD). Building
    * the face prepares the persisted plan inside one SQL execution, as
    * `Dataset.checkpoint` does, so a broadcast build in that plan runs
    * there, once, under the session's job context; under AQE its shuffle
    * stages run there too (every site cuts inside a static scope). `flat`
    * is bound afresh from the persisted analyzed plan, so it reads the
    * cache even when `df`'s own plan was compiled before the persist.
    *
    * `flat` carries its statistics as they were at the cut — the plan
    * estimate, not the cached size — and downstream frames should read
    * `flat` rather than persist over it: Spark compares a `LogicalRDD`'s
    * partitioning by raw expression id, so a plain persist over `flat`
    * misses its cache entry in any query that re-instances the leaf (the
    * analyzer's self-join dedup). */
  def cut(df: DataFrame): Cut = {
    val owned = df.storageLevel == StorageLevel.NONE
    val pinned = if (owned) df.persist(StorageLevel.MEMORY_AND_DISK) else df
    val face = org.apache.spark.sql.GraftDatasetShim.ofRows(
      pinned.sparkSession, pinned.queryExecution.analyzed)
    val released = new java.util.concurrent.atomic.AtomicBoolean(!owned)
    Cut(org.apache.spark.sql.GraftDatasetShim.logicalRdd(face), pinned,
      () => if (released.compareAndSet(false, true)) pinned.unpersist(blocking = false))
  }
}
