package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-handling operators for the 100 TB path.
  *
  * AQE's skew-join splitting handles most skew automatically; salted
  * aggregation is the explicit fallback for *aggregation* skew — a single
  * hot grouping key (the empty-string document, the null caller, the
  * heartbeat event type) that would otherwise pin one reducer while the
  * other 999 idle.
  */
object ScaleOps {

  /** One metric of a salted aggregation: `partial` computes per
    * (key, salt) in phase 1; `merge` re-combines the named partial column
    * in phase 2. Any algebraic aggregate decomposes this way
    * (sum/sum, count/sum, max/max, min/min; avg = sum+count merged then
    * divided by the caller). */
  final case class SaltedMetric(name: String, partial: Column, merge: Column => Column)

  object SaltedMetric {
    def sumOf(name: String, c: Column): SaltedMetric =
      SaltedMetric(name, sum(c), sum)
    def countAll(name: String): SaltedMetric =
      SaltedMetric(name, count(lit(1)), sum)
    def maxOf(name: String, c: Column): SaltedMetric =
      SaltedMetric(name, max(c), max)
    def minOf(name: String, c: Column): SaltedMetric =
      SaltedMetric(name, min(c), min)
  }

  /** Two-phase skew-safe aggregation.
    *
    * Phase 1 groups by (keys…, salt) with `buckets` random salts, so a hot
    * key's rows spread across `buckets` reducers; phase 2 merges the
    * partials by the true keys. The extra shuffle carries one row per
    * (key, salt) — negligible against the skewed phase it replaces. The
    * result is identical to a direct `groupBy(keys).agg(...)` for any
    * algebraic metric (asserted by ScaleShapeSpec), independent of how the
    * salt lands.
    */
  def saltedAgg(
      df: DataFrame,
      keys: Seq[String],
      metrics: Seq[SaltedMetric],
      buckets: Int = 16): DataFrame = {
    require(metrics.nonEmpty && buckets > 0)
    val keyCols = keys.map(col)
    val phase1 = df
      .withColumn("__salt", floor(rand(42) * buckets))
      .groupBy(keyCols :+ col("__salt"): _*)
      .agg(
        metrics.head.partial.as(s"__p_${metrics.head.name}"),
        metrics.tail.map(m => m.partial.as(s"__p_${m.name}")): _*)
    phase1
      .groupBy(keyCols: _*)
      .agg(
        metrics.head.merge(col(s"__p_${metrics.head.name}")).as(metrics.head.name),
        metrics.tail.map(m => m.merge(col(s"__p_${m.name}")).as(m.name)): _*)
  }

  /** Skew-safe equi-join for a hot join key: the left side gains a
    * deterministic content-hash salt in [0, nSalts), the right side is
    * replicated once per salt value, and the join keys on (key, salt) —
    * so a hot key's rows spread over nSalts reducers instead of pinning
    * one. Results are EXACTLY the plain join: each left row meets every
    * right row of its key exactly once, in its single salt bucket
    * (asserted ≡ plain join by ScaleShapeSpec).
    *
    * When to reach for it: AQE's skew-join split already handles most
    * sort-merge skew; this is the explicit fallback when the right side
    * cannot broadcast AND the plan shape defeats AQE (e.g. the skewed
    * join feeds a co-partitioned downstream op that must not re-split).
    * Cost: the right side shuffles nSalts× its size — use when right ≪
    * the hot key's row count, which is exactly the skew regime.
    *
    * The salt is `xxhash64` over the full left row — deterministic and
    * replayable (no rand), so two runs salt identically. Identical
    * duplicate left rows share a bucket; if the skew IS duplicate rows,
    * dedup first. `joinType`: "inner" or "left"/"left_outer" only —
    * types whose semantics replication would corrupt (semi/anti/right/
    * full) are rejected. Null left keys behave as in the plain join
    * (match nothing; kept with null right columns under left_outer). */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      nSalts: Int = 16, joinType: String = "inner"): DataFrame = {
    require(nSalts > 0, s"nSalts must be positive, got $nSalts")
    val jt = joinType.toLowerCase.replace("outer", "").stripSuffix("_")
    require(jt == "inner" || jt == "left",
      s"saltedJoin supports inner and left_outer joins, got '$joinType'")
    require(left.columns.contains(key) && right.columns.contains(key),
      s"join key '$key' must exist on both sides")
    require(!left.columns.contains("__salt") && !right.columns.contains("__salt"),
      "input column __salt collides with saltedJoin's working column; rename first")
    // hash every hashable left column (MapType has no stable hash in
    // Spark and would fail analysis); any deterministic function of the
    // row is a valid salt, so dropping map columns only affects how
    // finely duplicate-except-for-maps rows spread
    val hashable = left.schema.fields
      .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
      .map(f => col(f.name))
    require(hashable.nonEmpty,
      "saltedJoin needs at least one non-map column to derive the salt from")
    val l0 = left.withColumn("__salt",
      pmod(xxhash64(hashable.toIndexedSeq: _*), lit(nSalts.toLong)))
    // Spread a provably SMALL probe side on exactly the salted join key
    // (r16, guide §2): the fixture's single-row-group parquet scans as
    // ~1 busy task, and when the replicated right side BROADCASTS there
    // is no exchange anywhere — probe + partial aggregate serialize on
    // the scan task (q34 census: one 3-task stage, 580 ms wall ≈
    // taskSum). The (key, __salt) hash exchange IS the salted
    // distribution this operator exists to create; under SMJ it is the
    // join's own required exchange (no extra shuffle). Estimate-gated:
    // no-op at scale, where the scan fans out with its file splits and
    // the join exchange does the spreading.
    val l = graft.ops.PlanScope.spreadIfSmall(l0, Seq(col(key), col("__salt")))
    val r = right.withColumn("__salt",
      explode(sequence(lit(0L), lit(nSalts.toLong - 1L))))
    l.join(r, Seq(key, "__salt"), if (jt == "left") "left_outer" else "inner")
      .drop("__salt")
  }

  /** Bloom-prefiltered anti-join: keep `big` rows whose `bigKey` is NOT in
    * `small`'s key set — with results EXACTLY equal to a plain left-anti
    * join, but most of the corpus never reaching the join.
    *
    * Shape: `small` collapses to ONE fixed-size binary filter
    * ([[graft.expressions.BloomFilterBuild]]) broadcast to every scan
    * task. Rows the filter rejects are *definitely absent* (Bloom filters
    * have no false negatives) and pass straight through map-side — no
    * shuffle, no join. Only the false-positive sliver (rate set by
    * `numBits`/`numHashes` sizing) continues into an exact left-anti join
    * for verification. At 100 TB against a million-key blocklist that is
    * the difference between shuffling the corpus and shuffling ~p·corpus.
    *
    * Null `bigKey` rows are kept (SQL semantics: NULL matches nothing).
    * Keys must be integral (the filter hashes longs — hash strings first,
    * e.g. `TextFunctions.hash60`).
    *
    * The filter is built EAGERLY (one small driver action over `small` —
    * O(driver-state) like the k-means and quantile fits) and embedded as a
    * foldable literal, so codegen holds ONE blob reference instead of
    * re-fetching (= copying) a row-carried binary per scanned row, and the
    * build doesn't re-execute per consuming branch. The blocklist is
    * therefore frozen at plan-build time — exactly the artifact semantics
    * a production blocklist has ([[bloomAntiJoinWith]] takes the persisted
    * blob directly). */
  def bloomAntiJoin(big: DataFrame, bigKey: String, small: DataFrame, smallKey: String,
      numBits: Int = 1 << 20, numHashes: Int = 5): DataFrame = {
    val t = small.schema(smallKey).dataType
    require(integral(t),
      s"bloomAntiJoin needs an integral key (the filter hashes longs); '$smallKey' is $t")
    val blob = small.agg(
      graft.expressions.BloomFilterBuild.bloom(col(smallKey), numBits, numHashes)
        .as("__bloom")).head().getAs[Array[Byte]](0)
    bloomAntiJoinWith(big, bigKey, small, smallKey, blob)
  }

  /** [[bloomAntiJoin]] with a prebuilt filter blob — the serving path: a
    * blocklist is built once per release ([[graft.expressions
    * .BloomFilterBuild.bloom]]), persisted (the blob round-trips through
    * parquet unchanged), and probed here by every scan without touching
    * the blocklist keys again except for the false-positive sliver.
    *
    * `blob` MUST have been built over exactly `small`'s `smallKey` set —
    * a missing key is a false negative and silently breaks the anti-join
    * guarantee (Bloom false negatives are impossible only for keys that
    * were inserted). */
  def bloomAntiJoinWith(big: DataFrame, bigKey: String, small: DataFrame,
      smallKey: String, blob: Array[Byte]): DataFrame = {
    val t = big.schema(bigKey).dataType
    require(integral(t),
      s"bloomAntiJoin needs an integral key (the filter hashes longs); '$bigKey' is $t")
    require(!big.columns.contains("__maybe") && !big.columns.contains("__bk"),
      "bloomAntiJoin reserves column names __maybe/__bk")
    // null key ⇒ probe is null ⇒ treat as definitely-absent: an anti
    // join keeps null keys (NULL equals nothing), so must we
    val probed = big.withColumn("__maybe", coalesce(
      graft.expressions.BloomFilterBuild.mightContain(lit(blob), col(bigKey)),
      lit(false)))
    // two pruned scans of `big` (one per branch), by intention: the
    // definitely-absent bulk must BYPASS the join, and routing it around
    // one costs a second column-pruned scan — far cheaper at 100 TB than
    // the alternative single-scan plan (a full shuffle of `big` on the
    // join key, which is precisely what the Bloom filter exists to avoid).
    val certain = probed.filter(!col("__maybe")).drop("__maybe")
    val maybes = probed.filter(col("__maybe")).drop("__maybe")
      .join(small.select(col(smallKey).as("__bk")), col(bigKey) === col("__bk"), "left_anti")
    certain.unionByName(maybes)
  }

  private def integral(t: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    t == LongType || t == IntegerType || t == ShortType || t == ByteType
  }

  /** Join/aggregation-key skew diagnosis — the report to run BEFORE
    * choosing between a plain join, [[saltedJoin]], or an AQE skew hint:
    * one row of per-key-count statistics. `skew_permille` is
    * `⌊1000 · max/avg⌋` rows-per-key (1000 = perfectly uniform; 50000 =
    * the hottest key carries 50× its fair share — salt it). p50/p99 come
    * from the exact definitional-rank quantile machinery, so the whole
    * report is integer math and engine-reproducible.
    *
    * Shape: one count aggregate keyed on `keyCol` (map-side partials),
    * then ONE global aggregate over the per-key counts whose state is
    * O(distinct counts) — no window, no sort, nothing driver-side but
    * the single output row. Null keys count as a key (they hash to one
    * reducer like any other value — the usual skew culprit).
    *
    * With `by` (caller-named columns, e.g. `window(ts, "1 hour").as("window")`)
    * there is one report per group, led by the `by` columns; over
    * `withWatermark` that is `StreamingOps.windowedSkewStream`. */
  def skewReport(df: DataFrame, keyCol: String, by: Column*): DataFrame = {
    val counts = df.groupBy(by :+ col(keyCol): _*).agg(count(lit(1)).as("__cnt"))
    val groups = counts.columns.toSeq.take(by.length).map(col)
    counts
      .groupBy(groups: _*)
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("__cnt")).as("n_rows"),
        max(col("__cnt")).as("max_rows_per_key"),
        graft.expressions.QuantileHistogram.quantiles(col("__cnt"), Seq(500, 990)).as("__q"))
      .select(groups ++ Seq(col("n_keys"), col("n_rows"), col("max_rows_per_key"),
        element_at(col("__q.qs"), 1).as("p50_rows_per_key"),
        element_at(col("__q.qs"), 2).as("p99_rows_per_key"),
        expr("CAST((1000 * max_rows_per_key * n_keys) DIV n_rows AS BIGINT)")
          .as("skew_permille")): _*)
  }

  /** Incremental aggregate maintenance (the IVM move): merge a NEW
    * batch's aggregate state into the standing aggregate WITHOUT
    * rescanning the base data — `merged = base ⊞ delta` where every
    * non-key column is additive (counts, long sums; avg = keep sum+count
    * and divide downstream, the [[SaltedMetric]] decomposition). The
    * 100 TB shape: history is touched never — the join's left side is
    * the key-cardinality aggregate STATE, the right side one batch's
    * state (typically broadcast), so refreshing a dashboard over years
    * of events costs one delta scan + one state-sized join.
    *
    * Keys appearing on one side pass through with the other side's
    * contribution as 0; both frames must share the schema exactly.
    */
  def mergeAggregates(base: DataFrame, delta: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "mergeAggregates needs at least one key column")
    require(base.columns.toSeq == delta.columns.toSeq,
      s"aggregate state schemas differ: ${base.columns.mkString(",")} vs ${delta.columns.mkString(",")}")
    val vals = base.columns.filterNot(keys.contains).toSeq
    require(vals.nonEmpty, "mergeAggregates needs at least one additive value column")
    val clash = vals.filter(v => base.columns.contains(s"__d_$v"))
    require(clash.isEmpty, s"mergeAggregates reserves __d_* names: ${clash.mkString(",")}")
    val d2 = vals.foldLeft(delta)((df, v) => df.withColumnRenamed(v, s"__d_$v"))
    base.join(d2, keys, "full_outer")
      .select(keys.map(col) ++ vals.map(v =>
        (coalesce(col(v), lit(0L)) + coalesce(col(s"__d_$v"), lit(0L))).as(v)): _*)
  }

  /** Incremental JOIN-view maintenance (insert-only deltas): the new rows
    * an equi-join view gains when batch ΔA arrives on the left and ΔC on
    * the right are exactly
    *
    *   ΔV  =  ΔA ⋈ C₀  ∪  A₀ ⋈ ΔC  ∪  ΔA ⋈ ΔC
    *
    * — the cross-term included once, never the old⋈old term: V₀ is not
    * rescanned, which is the whole point at 100 TB (the maintained view
    * `V₀ ∪ ΔV` equals the full recompute by distributivity of ⋈ over ∪).
    *
    * Scale shape: both deltas are batch-sized, so the two mixed terms are
    * broadcast joins against the big frames (one pass over each old side,
    * no shuffle of A₀/C₀) and the delta⋈delta term is broadcast⋈broadcast
    * — the caller holds the old sides as they already sit (bucketed,
    * partitioned); nothing here repartitions them. Updates/deletes are
    * [[graft.ops.Temporal.applyChanges]]' keyed-upsert territory — apply
    * them to A/C first, then rebuild affected keys; this operator is the
    * append-only fast path ingestion pipelines live on.
    */
  def incrementalJoin(aOld: DataFrame, aDelta: DataFrame,
      cOld: DataFrame, cDelta: DataFrame,
      aKey: String, cKey: String): DataFrame = {
    val cond = col(aKey) === col(cKey)
    broadcast(aDelta).join(cOld, cond)
      .unionByName(aOld.join(broadcast(cDelta), cond))
      .unionByName(aDelta.join(broadcast(cDelta), cond))
  }
}
