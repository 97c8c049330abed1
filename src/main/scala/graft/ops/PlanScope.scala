package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}

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
  * and nothing is ever set on or restored to a caller's conf. Input
  * frames enter the clone via [[rebind]]; results either cross back as
  * values built on the caller's session (driver-side fits), are returned
  * as-is (they keep planning under the clone's immutable conf), or are
  * handed back through [[rebindRows]] when the caller's conf must plan
  * downstream. */
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
    * via [[rebind]]; frames crossing back out may simply
    * be returned — planning on them stays under the clone's (immortal,
    * immutable) conf — or re-bound via [[rebindRows]] when the caller
    * needs its own planning conf downstream. */
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
    val est = scala.util.Try(
      df.queryExecution.optimizedPlan.stats.sizeInBytes).toOption
    est match {
      case Some(bytes) if bytes >= 0 && bytes < BigInt(Long.MaxValue) =>
        val raw = ((bytes + bytesPerPartition - 1) / bytesPerPartition).max(1)
        val pow2 = if (raw < (1 << 30)) Integer.highestOneBit(raw.toInt * 2 - 1)
          else sessionSp
        math.max(1, math.min(sessionSp, pow2))
      case _ => math.max(1, sessionSp)
    }
  }

  /** Spread a provably SMALL input across the session's cores before a
    * kernel-heavy chain. The driver's tables are single-row-group parquet
    * files, so a scan is ONE task no matter the split config — every
    * narrow kernel stage over it (minhash banding, shingling, quality
    * scoring, heavy partial aggregation) serializes on one core while 31
    * idle. One deterministic hash exchange on the row key spreads it; a
    * big or unknown-size input returns untouched — this must never become
    * an unconditional full-text exchange at 100 TB, where the scan
    * already fans out with its file splits. The smallness test is the
    * optimizer SIZE ESTIMATE (the Dedup.bandFrame rule: under ~4 file
    * splits is genuinely under-split for a 32-core kernel stage), never
    * `.rdd` — materializing an adaptive plan's RDD executes upstream
    * stages just to read a partition count. Hash-partitioning on the
    * unique row key (not round-robin): deterministic row placement under
    * task retry (SPARK-38388), no round-robin pre-shuffle local sort,
    * and downstream equi-joins on the same key can REUSE the exchange.
    * Callers must not route the spread claim into both branches of a
    * union that later co-partition-joins (reproduced SMJ zip failure in
    * the curation domain stage — the spread there sits after the union). */
  def spreadIfSmall(df: DataFrame, keyCol: String): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val est = scala.util.Try(
      df.queryExecution.optimizedPlan.stats.sizeInBytes).toOption
    est match {
      case Some(b) if b < BigInt(4L) * conf.filesMaxPartitionBytes =>
        df.repartition(conf.numShufflePartitions,
          org.apache.spark.sql.functions.col(keyCol))
      case _ => df
    }
  }

  /** [[spreadIfSmall]] keyed on a MULTI-column key — for spreading
    * straight into a downstream `groupBy(cols…)`: the hash exchange this
    * adds already satisfies the aggregation's distribution requirement,
    * so the spread costs no extra exchange, it just moves the one the
    * aggregate would have paid BELOW the heavy partial-aggregation work
    * (the r16 q28 case: a (group, value) histogram whose partial agg
    * barely reduces ran on the scan's 3 row-group tasks; spread first,
    * the whole aggregate runs at session width and the plan's exchange
    * count is unchanged). Same estimate gate and determinism rationale
    * as the single-key overload; no-op at scale. */
  def spreadIfSmall(df: DataFrame, keyCols: Seq[org.apache.spark.sql.Column]): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val est = scala.util.Try(
      df.queryExecution.optimizedPlan.stats.sizeInBytes).toOption
    est match {
      case Some(b) if b < BigInt(4L) * conf.filesMaxPartitionBytes =>
        df.repartition(conf.numShufflePartitions, keyCols: _*)
      case _ => df
    }
  }

  /** [[spreadIfSmall]] for frames WITHOUT a usable row key (a bare text
    * projection): round-robin instead of hash-by-key. The pre-shuffle
    * local sort (SPARK-23207, on by default) keeps row placement
    * deterministic under task retry; the sort itself is bounded because
    * the spread only fires on provably small inputs. */
  def spreadIfSmall(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    val est = scala.util.Try(
      df.queryExecution.optimizedPlan.stats.sizeInBytes).toOption
    est match {
      case Some(b) if b < BigInt(4L) * conf.filesMaxPartitionBytes =>
        df.repartition(conf.numShufflePartitions)
      case _ => df
    }
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
    * inside the scope. Use for INPUT frames entering an [[isolated]]
    * scope whose whole derivation should plan under the scope's conf. */
  def rebind(df: DataFrame, target: SparkSession): DataFrame =
    if (df.sparkSession eq target) df
    else org.apache.spark.sql.GraftDatasetShim.ofRows(target, df.queryExecution.analyzed)

  /** Re-bind `df` onto `target` keeping its CURRENT plan as concrete
    * lineage: the frame `target` sees is an RDD scan whose recompute
    * replays the plan exactly as `df`'s own session would have run it.
    * Use at the exit boundary of an [[isolated]] scope, when the
    * returned frame must plan downstream under the caller's conf rather
    * than the clone's. Costs no job at bind time; the Row↔InternalRow
    * hop it adds is paid by whatever materializes the result — size the
    * call accordingly (|V|-sized loop results, per-batch serving
    * outputs). */
  def rebindRows(df: DataFrame, target: SparkSession): DataFrame =
    target.createDataFrame(df.rdd, df.schema)
}
