package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.KmvSketch

/** Percentile and cardinality sketches for corpus curation — the "what does
  * my data look like" aggregates a training pipeline runs before and after
  * every filter: quantiles of document length / quality, distinct counts of
  * url/domain/fingerprint.
  *
  * Both operators are exact-deterministic (pure functions of the input
  * set), unlike Spark's built-in `approx_percentile`/`approx_count_distinct`
  * whose sketch layouts are implementation-defined — determinism is what
  * makes results reproducible across engines and runs, and oracle-checkable.
  */
object Sketches {

  /** The exact-quantile family computes on `valueCol.cast(long)`: a
    * fractional column would TRUNCATE before the rank math (every score
    * in [0,1) collapsing to 0 — all-zero quantiles, MAD 0, garbage
    * outlier tags) with no error anywhere. Reject it loudly; callers
    * pre-scale to integers (micro-units, cents, token counts). */
  private def requireIntegralValue(df: DataFrame, valueCol: String, op: String): Unit = {
    val t = df.schema(valueCol).dataType
    val integral = t match {
      // scale-0 decimals (money in cents, exact counts) are integral by
      // construction and cast to long losslessly up to precision 18 —
      // they computed exactly here before this fence existed, so keep
      // accepting them; fractional-scale decimals would truncate like
      // doubles and stay rejected
      // (values beyond long range still fail loudly at the cast: the
      // engine runs ANSI, so an overflowing decimal→long errors rather
      // than wrapping)
      case d: org.apache.spark.sql.types.DecimalType => d.scale == 0
      case _ => Seq("byte", "short", "integer", "long").contains(t.typeName)
    }
    require(integral,
      s"$op computes on integral values; '$valueCol' is ${t.typeName} — pre-scale " +
        "fractional scores to integers (e.g. micro-units) first")
  }

  /** Exact discrete quantiles per group, computed over the VALUE HISTOGRAM
    * rather than the rows.
    *
    * Quantile definition (explicit, engine-portable): for permille q over a
    * group of n rows, the element at 0-based index `(q*(n-1)) div 1000` of
    * the value-sorted multiset — i.e. the smallest value whose cumulative
    * count exceeds that index. All integer math; no interpolation, so the
    * result is always an element of the input and hashes identically
    * everywhere.
    *
    * Scale shape: one shuffle builds the per-group distinct-value histogram
    * (map-side partial counts), the running sum then runs over |distinct
    * values| rows per group — bounded by the value domain (e.g. price
    * cents, token counts), NOT by row count, which is what makes a window
    * here safe at 100 TB where a row-level rank would funnel a group's
    * every row through one task. Group totals broadcast back.
    *
    * @param quantiles output column name -> permille (e.g. "p50" -> 500)
    * @return one row per group: groupCols ++ quantile columns ++ n_rows
    */
  def exactQuantiles(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      quantiles: Seq[(String, Int)]): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    quantiles.foreach { case (nm, p) =>
      require(p >= 0 && p <= 1000, s"quantile $nm permille must be in [0,1000], got $p")
    }
    requireIntegralValue(df, valueCol, "exactQuantiles")
    val g = groupCols.map(col)
    val v = col(valueCol).cast("long")
    // Null values are dropped up front (SQL-aggregate semantics: quantiles
    // over the non-null multiset, n_rows = non-null count). Without this,
    // nulls would inflate the ranks yet never be selectable by the
    // min(when(...)) pick, silently sliding boundary quantiles to the
    // smallest non-null value.
    // entry spread on the HISTOGRAM KEY (r16, guide §2): a small input
    // arrives in a few row-group splits, and the (group, value) partial
    // aggregate — which barely reduces when values are near-distinct —
    // ran on those 3-ish tasks while the rest of the session idled
    // (q28 stage census: 1.1 s in a 3-task scan+partial stage). Keyed on
    // exactly the histogram's grouping, the added exchange IS the one
    // the aggregate needed — same exchange count, full parallelism.
    // No-op at scale (estimate gate) and on unknown-stats frames.
    val hist = graft.ops.PlanScope.spreadIfSmall(
        df.filter(col(valueCol).isNotNull), g :+ v)
      .groupBy((g :+ v.as(valueCol)): _*)
      .agg(count(lit(1)).as("__cnt"))
    val cum = hist.withColumn("__cum",
      sum(col("__cnt")).over(Window.partitionBy(g: _*).orderBy(col(valueCol))))
    // per-group totals and target ranks, broadcast back onto the histogram;
    // integer DIV keeps the rank exact at any n (a double floor would lose
    // bits past 2^53)
    val ranks = quantiles.map { case (nm, p) =>
      expr(s"CAST(($p * (__n - 1)) DIV 1000 AS BIGINT)").as(s"__i_$nm")
    }
    val totals = hist
      .groupBy(g: _*)
      .agg(sum(col("__cnt")).as("__n"))
      .select(g ++ (col("__n") +: ranks): _*)
    val picks = quantiles.map { case (nm, _) =>
      min(when(col("__cum") > col(s"__i_$nm"), col(valueCol))).as(nm)
    } :+ max(col("__n")).as("n_rows")
    cum
      .join(broadcast(totals), groupCols)
      .groupBy(g: _*)
      .agg(picks.head, picks.tail: _*)
  }

  /** [[exactQuantiles]] for value domains too wide for a single
    * cumulative pass: identical results, but the running sum never runs
    * over the full distinct-value domain of a group.
    *
    * Two-stage rank localization. Values are coarsened to buckets of
    * `bucketWidth` (`v DIV w` — truncating division is monotone in v, so
    * buckets are ordered intervals and cumulative bucket counts are
    * meaningful). Stage 1 accumulates over BUCKETS (domain/width rows per
    * group) to find each quantile's boundary bucket and the row count
    * before it; stage 2 accumulates within single buckets (≤ width
    * distinct values, partitioned by (group, bucket) — parallel across
    * buckets) and picks the element whose within-bucket cumulative count
    * crosses the remaining rank. Each window is bounded by
    * max(domain/width, width); √domain-ish widths keep both tiny.
    *
    * Same explicit quantile definition as [[exactQuantiles]] — the
    * element at 0-based index `(p*(n-1)) div 1000` — so the two forms are
    * interchangeable (spec-asserted equal).
    */
  def exactQuantilesBucketed(
      df: DataFrame,
      groupCols: Seq[String],
      valueCol: String,
      quantiles: Seq[(String, Int)],
      bucketWidth: Long): DataFrame = {
    require(quantiles.nonEmpty, "need at least one quantile")
    require(bucketWidth > 0, s"bucketWidth must be positive, got $bucketWidth")
    quantiles.foreach { case (nm, p) =>
      require(p >= 0 && p <= 1000, s"quantile $nm permille must be in [0,1000], got $p")
    }
    requireIntegralValue(df, valueCol, "exactQuantilesBucketed")
    val g = groupCols.map(col)
    val v = col(valueCol).cast("long")
    // same keyed entry spread as exactQuantiles (r16) — see that comment
    val hist = graft.ops.PlanScope.spreadIfSmall(
        df.filter(col(valueCol).isNotNull), g :+ v)
      .groupBy((g :+ v.as(valueCol)): _*)
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__bkt", expr(s"`$valueCol` DIV $bucketWidth"))
    // ---- stage 1: cumulative over buckets ----
    val bkts = hist.groupBy((g :+ col("__bkt")): _*).agg(sum(col("__cnt")).as("__bcnt"))
    val bcum = bkts.withColumn("__bcum",
      sum(col("__bcnt")).over(Window.partitionBy(g: _*).orderBy(col("__bkt"))))
    val ranks = quantiles.map { case (nm, p) =>
      expr(s"CAST(($p * (__n - 1)) DIV 1000 AS BIGINT)").as(s"__i_$nm")
    }
    val totals = bkts
      .groupBy(g: _*)
      .agg(sum(col("__bcnt")).as("__n"))
      .select(g ++ (col("__n") +: ranks): _*)
    // per quantile: the smallest bucket whose cumulative count crosses the
    // target rank, carried with the count of all rows BEFORE that bucket
    // (min over struct picks by bucket id — its first field)
    val boundaryPicks = quantiles.map { case (nm, _) =>
      min(when(col("__bcum") > col(s"__i_$nm"),
        struct(col("__bkt").as("b"), (col("__bcum") - col("__bcnt")).as("before"))))
        .as(s"__q_$nm")
    }
    val boundaries = bcum
      .join(broadcast(totals), groupCols)
      .groupBy(g: _*)
      .agg((boundaryPicks :+ max(col("__n")).as("__n")).head,
        (boundaryPicks :+ max(col("__n")).as("__n")).tail: _*)
    // ---- stage 2: cumulative within single buckets ----
    val vcum = hist.withColumn("__vcum",
      sum(col("__cnt")).over(
        Window.partitionBy((g :+ col("__bkt")): _*).orderBy(col(valueCol))))
    val bcols = quantiles.map { case (nm, _) => col(s"__q_$nm") }
    val picks = quantiles.map { case (nm, _) =>
      min(when(
        col("__bkt") === col(s"__q_$nm.b") &&
          (col(s"__q_$nm.before") + col("__vcum")) > col(s"__i_$nm"),
        col(valueCol))).as(nm)
    } :+ max(col("__n")).as("n_rows")
    vcum
      .join(broadcast(boundaries.select(g ++ bcols ++ ranks :+ col("__n"): _*)), groupCols)
      .groupBy(g: _*)
      .agg(picks.head, picks.tail: _*)
  }

  /** [[exactQuantiles]] as ONE bounded [[graft.expressions
    * .QuantileHistogram]] aggregate of `value` cast to long: columns `by`
    * (the caller names them), one per named permille, then `n_rows`. One
    * stateful stage, not two, so it also runs under `window()` or
    * `session_window()` on a stream: q30, and over `withWatermark`
    * `StreamingOps.windowedQuantilesStream` and `sessionQuantilesStream`.
    *
    * @param quantiles output column name -> permille, as in exactQuantiles
    */
  def histogramQuantiles(df: DataFrame, value: Column, quantiles: Seq[(String, Int)],
      by: Column*): DataFrame = {
    val agg = df.groupBy(by: _*).agg(
      graft.expressions.QuantileHistogram.quantiles(value.cast("long"), quantiles.map(_._2)).as("__q"))
    agg.select(agg.columns.toSeq.init.map(col) ++ quantiles.zipWithIndex.map { case ((nm, _), i) =>
      col("__q.qs").getItem(i).as(nm)
    } :+ col("__q.n_rows").as("n_rows"): _*)
  }

  /** KMV sketch aggregate over a pre-hashed column: `struct<kk, hk>` of the
    * k smallest distinct hashes. See [[graft.expressions.KmvSketch]]. */
  def kmv(hash: Column, k: Int): Column = KmvSketch.kmv(hash, k)

  /** Distinct-count estimate from a KMV sketch struct column: exactly `kk`
    * while the sketch is unsaturated (kk < k — every distinct hash is still
    * in the set), else the KMV estimator `(k-1) * 2^bits / hk`, floor
    * division, where `bits` is the hash width. Constant numerator computed
    * in Scala so the column-side math stays in exact BIGINT (requires
    * (k-1)*2^bits to fit a long: bits <= 48 with k <= 2^14 is safe).
    * CALLER CONTRACT: the hashes fed to the matching [[kmv]] aggregate
    * must be non-negative values in [0, 2^bits) — [[KmvSketch]] itself
    * accepts any long, so narrow at the call site (e.g.
    * `shiftright(hash60(x), 12)` turns 60-bit hashes into the 48-bit
    * range). Feeding wider hashes silently collapses the saturated
    * estimate toward zero. */
  def kmvEstimate(sketchCol: String, k: Int, bits: Int): Column = {
    // bits >= 63 would defeat the overflow check below: 1L << 63 is
    // negative and shifts are mod 64 on the JVM, so guard the range first
    require(bits >= 1 && bits <= 48, s"bits must be in [1,48], got $bits")
    require(k >= 2, s"k must be >= 2 for the (k-1) estimator, got $k")
    val numerator = (k - 1).toLong * (1L << bits)
    require(numerator / (1L << bits) == (k - 1).toLong, s"(k-1)*2^$bits overflows long")
    expr(s"CAST(CASE WHEN $sketchCol.kk < $k THEN $sketchCol.kk " +
      s"ELSE $numerator DIV $sketchCol.hk END AS BIGINT)")
  }

  /** KMV sketch aggregate keeping the FULL sorted k-min array — the set-
    * algebra form: see [[kmvUnionEstimate]]. Same caller contract as
    * [[kmvEstimate]] (non-negative hashes in [0, 2^bits)). */
  def kmvMins(hash: Column, k: Int): Column =
    graft.expressions.KmvMins.kmvMins(hash, k)

  /** Distinct-count estimate from a sorted k-min array (`kmvMins` output):
    * exact size while unsaturated, else the `(k-1)*2^bits/hk` estimator —
    * the same rule as [[kmvEstimate]], applied to the array form. */
  def kmvEstimateFromMins(mins: Column, k: Int, bits: Int): Column =
    estimateSortedMins(slice(mins, 1, k), k, bits)

  /** Distinct-count estimate of the UNION of two k-min arrays: the merged
    * k smallest distinct hashes are exactly the k-min sketch of the unioned
    * value sets (KMV's closure property), so the union estimate is the
    * plain estimator over the merged array — no rescan of either input.
    * Intersection estimates follow by inclusion–exclusion:
    * `greatest(0, est_a + est_b - est_union)`. */
  def kmvUnionEstimate(a: Column, b: Column, k: Int, bits: Int): Column =
    estimateSortedMins(slice(array_sort(array_union(a, b)), 1, k), k, bits)

  /** Shared estimator over a sorted ≤k-element min array. True BIGINT
    * integral division (Catalyst IntegralDivide ≡ SQL `DIV` ≡ DuckDB
    * `//`): the former `(num - num mod hk) / hk` double division was only
    * exact while the dividend stayed under 2^53 — at bits = 48 any
    * k > 33 pushes (k-1)·2^bits past that, and the rounded double could
    * truncate to one below the true quotient, silently diverging from
    * the struct-form [[kmvEstimate]] and the oracle. */
  private def estimateSortedMins(m: Column, k: Int, bits: Int): Column = {
    require(bits >= 1 && bits <= 48, s"bits must be in [1,48], got $bits")
    require(k >= 2, s"k must be >= 2 for the (k-1) estimator, got $k")
    val numerator = (k - 1).toLong * (1L << bits)
    require(numerator / (1L << bits) == (k - 1).toLong, s"(k-1)*2^$bits overflows long")
    val hk = element_at(m, k)
    val quot = org.apache.spark.sql.GraftColumnShim.column(
      org.apache.spark.sql.catalyst.expressions.IntegralDivide(
        org.apache.spark.sql.GraftColumnShim.expression(lit(numerator)),
        org.apache.spark.sql.GraftColumnShim.expression(hk)))
    when(size(m) < k, size(m).cast("long")).otherwise(quot.cast("long"))
  }

  /** HyperLogLog register aggregate over a pre-hashed column (hash60
    * output): `array<bigint>` of `2^p` rho-max registers. See
    * [[graft.expressions.HllSketch]]. */
  def hll(hash: Column, p: Int): Column =
    graft.expressions.HllSketch.hll(hash, p)

  /** Distinct-count estimate from an [[hll]] register column — the
    * classic two-regime estimator, with the raw-HLL branch in EXACT
    * integer arithmetic (a first: no float harmonic mean):
    *
    *   raw = ⌊α_m·m²/Σ 2^-M_j⌋ computed as the exact rational
    *         `7213·m³·2^mmax DIV (10·(1000m+1079)·S)` with
    *         `S = Σ 2^(mmax−M_j)` — every term a power of two, summed in
    *         DECIMAL(38,0), so any engine agreeing on the registers agrees
    *         on the estimate to the last digit (α_m = 0.7213/(1+1.079/m)
    *         as the exact rational 7213m/(10(1000m+1079)));
    *   linear counting `round(m·ln(m/V))` when V > 0 zero registers
    *         remain and raw ≤ 5m/2 — the standard small-range correction
    *         (ln replayed with the same IEEE association, BM25-style).
    *
    * An empty sketch estimates 0 through the linear branch (V = m). */
  def hllEstimate(sketchCol: String, p: Int): Column = {
    require(p >= 7 && p <= 16, s"p must be in [7,16], got $p")
    val m = 1L << p
    val m3 = m * m * m // <= 2^48, exact in a long
    val den = 10L * (1000L * m + 1079L)
    val mmax = s"array_max($sketchCol)"
    val sSum = s"aggregate($sketchCol, CAST(0 AS DECIMAL(38,0)), (acc, x) -> " +
      s"acc + CAST(shiftleft(CAST(1 AS BIGINT), CAST($mmax - x AS INT)) AS DECIMAL(38,0)))"
    val raw = s"CAST((CAST(7213 AS DECIMAL(38,0)) * CAST($m3 AS DECIMAL(38,0)) * " +
      s"CAST(shiftleft(CAST(1 AS BIGINT), CAST($mmax AS INT)) AS DECIMAL(38,0))) " +
      s"DIV (CAST($den AS DECIMAL(38,0)) * $sSum) AS BIGINT)"
    val v = s"size(filter($sketchCol, x -> x = 0))"
    val lin = s"CAST(ROUND(CAST($m AS DOUBLE) * ln(CAST($m AS DOUBLE) / $v)) AS BIGINT)"
    expr(s"CASE WHEN $v > 0 AND $raw <= ${5L * m / 2L} THEN $lin ELSE $raw END")
  }

  /** Count-min sketch aggregate over a string item column: `array<bigint>`
    * of `depth*width` row-major counters. See
    * [[graft.expressions.CmsSketch]]. */
  def cms(item: Column, depth: Int, width: Int): Column =
    graft.expressions.CmsSketch.cms(item, depth, width)

  /** Point-frequency lookup in a [[cms]] sketch column: the minimum of the
    * item's `depth` counters — `count(item) <= cmsCount(item)` always, with
    * overshoot bounded by the collision mass per row. The bucket math
    * (`hash60(i:item) mod width`) must mirror the aggregate's exactly, so
    * both live here. Pure per-row expression — probing N items against a
    * broadcast one-row sketch is shuffle-free. */
  def cmsCount(sketch: Column, item: Column, depth: Int, width: Int): Column = {
    require(depth > 0 && width > 0, s"need positive depth/width, got $depth x $width")
    val reads = (0 until depth).map { i =>
      element_at(sketch,
        (lit(i * width) + pmod(graft.functions.TextFunctions.hash60(
          concat(lit(i.toString + ":"), item)), lit(width.toLong))).cast("int") + 1)
    }
    if (reads.length == 1) reads.head else least(reads: _*)
  }

  /** Robust outlier tagging by median absolute deviation — the
    * length/score anomaly gate that, unlike mean±k·σ, a few giant
    * outliers cannot drag: `outlier ⇔ |x − median| · 1000 > kMilli · MAD`
    * with `MAD = median(|x − median|)` (kMilli = 3000 ≈ the classic
    * "3 MADs out"). Everything is the same definitional rank rule as
    * [[exactQuantiles]], so the whole gate is exact integer math —
    * no σ, no sqrt, engine-portable.
    *
    * Scale shape: TWO [[graft.expressions.QuantileHistogram]] aggregates
    * (median, then median of deviations) — each ONE driver action holding
    * O(1) state — and a final pure per-row tag; no window, no sort. The
    * histogram aggregate's state is bounded by the value DOMAIN (lengths,
    * permille scores), the operator's stated contract.
    *
    * Null values get null `deviation`/`is_outlier` (unknown, not
    * outlying). A degenerate MAD of 0 (over half the mass on one value)
    * flags any nonzero deviation when kMilli > 0 — the conventional
    * fallback. Empty/all-null input returns all-null tags. */
  def madOutliers(df: DataFrame, valueCol: String, kMilli: Long = 3000L): DataFrame = {
    require(kMilli >= 0, s"kMilli must be >= 0, got $kMilli")
    requireIntegralValue(df, valueCol, "madOutliers")
    val reserved = Seq("deviation", "is_outlier").filter(df.columns.contains)
    require(reserved.isEmpty,
      s"madOutliers reserves column names: ${reserved.mkString(", ")}")
    val v = col(valueCol).cast("long")
    def p50(frame: DataFrame, c: Column): Option[Long] = {
      val fit = frame
        .agg(graft.expressions.QuantileHistogram.quantiles(c, Seq(500)).as("__q"))
        .select(col("__q.qs")).collect()(0)
      if (fit.isNullAt(0)) None else Some(fit.getSeq[Long](0).head)
    }
    p50(df, v) match {
      case None =>
        df.withColumn("deviation", lit(null).cast("long"))
          .withColumn("is_outlier", lit(null).cast("long"))
      case Some(med) =>
        val dev = abs(v - lit(med))
        val mad = p50(df.filter(v.isNotNull), dev).get // nonempty by med's existence
        df.withColumn("deviation", when(v.isNotNull, dev))
          .withColumn("is_outlier",
            when(v.isNotNull, (dev * 1000L > lit(kMilli) * lit(mad)).cast("long")))
    }
  }

  /** Per-group winsorization (quantile clipping) — the robust feature
    * normalization that tames heavy-tailed numeric columns before model
    * training: within each group, values below the group's `loPermille`
    * quantile are raised to it and values above `hiPermille` lowered to
    * it, with both edges computed by the same definitional rank rule as
    * [[quantileBuckets]]/q30 (exact integer, engine-portable).
    *
    * Scale shape: the fit is ONE grouped [[graft.expressions
    * .QuantileHistogram]] aggregate (per-group state bounded by the value
    * domain; the fit output is |groups| rows — dimension-table sized),
    * broadcast back onto the big side, so the clip itself is a pure
    * per-row map with NO second shuffle of the data. This is the
    * fit/transform split every 100 TB normalizer needs: the big table is
    * touched twice read-only, never re-partitioned.
    *
    * Null values keep null `winsorized`/`clipped` tags (unknown, not
    * clipped); a group whose values are all null never reaches the fit
    * and likewise tags null.
    *
    * @return df ++ (winsorized: long clipped into [lo, hi],
    *         clipped: long 0/1 — whether the value moved)
    */
  def winsorize(df: DataFrame, groupCols: Seq[String], valueCol: String,
      loPermille: Int, hiPermille: Int): DataFrame = {
    require(groupCols.nonEmpty, "winsorize needs at least one group column")
    require(0 <= loPermille && loPermille < hiPermille && hiPermille <= 1000,
      s"need 0 <= lo < hi <= 1000 permille, got [$loPermille, $hiPermille]")
    val reserved = Seq("__lo", "__hi", "winsorized", "clipped").filter(df.columns.contains)
    require(reserved.isEmpty, s"winsorize reserves column names: ${reserved.mkString(", ")}")
    val v = col(valueCol).cast("long")
    val keys = groupCols.map(col)
    val fit = df.filter(v.isNotNull)
      .groupBy(keys: _*)
      .agg(graft.expressions.QuantileHistogram.quantiles(v, Seq(loPermille, hiPermille)).as("__q"))
      .select(keys :+ element_at(col("__q.qs"), 1).as("__lo")
        :+ element_at(col("__q.qs"), 2).as("__hi"): _*)
    df.join(broadcast(fit), groupCols, "left")
      .withColumn("winsorized", when(v.isNotNull, least(greatest(v, col("__lo")), col("__hi"))))
      .withColumn("clipped", when(v.isNotNull, (v < col("__lo") || v > col("__hi")).cast("long")))
      .drop("__lo", "__hi")
  }

  /** Quantile-bucket assignment — the curation move that composes the
    * quantile machinery: fit global breakpoints of `valueCol` at the given
    * permilles (ONE [[graft.expressions.QuantileHistogram]] aggregate; the
    * driver holds |permilles| longs — index-build state, not a data
    * collect), then tag every row with `bucket` = the number of
    * breakpoints STRICTLY below its value, in [0, |permilles|]. Rows equal
    * to a breakpoint land in the lower bucket, so bucket edges follow the
    * same definitional rank rule as q28/q30 and the assignment is a pure
    * per-row map — no shuffle, reproducible on any engine.
    *
    * Both the fit and the tag see `valueCol` CAST TO LONG — the histogram
    * aggregate takes long input, and tagging raw fractional values against
    * long-truncated breakpoints would silently misbucket (e.g. every 0.x
    * value landing above a breakpoint of 0). Null values are skipped by
    * the fit and tagged with a NULL bucket, never bucket 0 — a null score
    * is "unknown quality", not "lowest quality".
    *
    * The canonical use: score documents (quality, length, toxicity), cut
    * at p25/p50/p75, then mix or filter by bucket (curriculum data
    * ordering, low-quality drops) — all downstream of one aggregate over
    * the corpus (ONE driver action; the empty/all-null case falls out of
    * the same aggregate returning null, no extra isEmpty job). */
  def quantileBuckets(df: DataFrame, valueCol: String, permilles: Seq[Int]): DataFrame =
    applyQuantileBuckets(df, valueCol, quantileFit(df, valueCol, permilles))

  /** The FIT half of [[quantileBuckets]]: exact breakpoint VALUES at the
    * given permille ranks (definitional rank rule, engine-portable) —
    * the release artifact a serving pipeline freezes once per corpus
    * release and applies to every delta batch
    * ([[graft.pipelines.CurationPipeline.curateDelta]]); re-fitting on a
    * small batch would drift the gate with the batch mix. One bounded
    * aggregate + a |permilles|-row collect; empty when the column has no
    * non-null values. */
  def quantileFit(df: DataFrame, valueCol: String, permilles: Seq[Int]): Seq[Long] = {
    require(permilles.nonEmpty, "need at least one breakpoint permille")
    val v = col(valueCol).cast("long")
    val fit = df
      .agg(graft.expressions.QuantileHistogram.quantiles(v, permilles).as("__q"))
      .select(col("__q.qs")).collect()(0)
    if (fit.isNullAt(0)) Seq.empty else fit.getSeq[Long](0)
  }

  /** The APPLY half of [[quantileBuckets]]: tag each row's bucket (count
    * of breakpoints strictly below the value) from GIVEN breakpoint
    * values — a pure per-row map, no fit scan. An empty fit (no non-null
    * training values) tags every non-null row 0, matching
    * [[quantileBuckets]]' degenerate case. */
  def applyQuantileBuckets(df: DataFrame, valueCol: String,
      breakValues: Seq[Long]): DataFrame = {
    require(!df.columns.contains("bucket"),
      "applyQuantileBuckets writes column 'bucket', which already exists in the input; rename first")
    requireIntegralValue(df, valueCol, "applyQuantileBuckets")
    val v = col(valueCol).cast("long")
    val bucket = breakValues.foldLeft(lit(0L)) { (acc, bp) =>
      acc + when(v > bp, lit(1L)).otherwise(lit(0L))
    }
    df.withColumn("bucket", when(v.isNotNull, bucket))
  }
}
