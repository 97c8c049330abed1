package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset mixture weighting: resample a corpus so each
  * source contributes at its target rate — the "data mixing" step every
  * pretraining run does (e.g. wiki ×2.5, crawl ×0.3) — with no RNG and no
  * row-order dependence, so the same mixture is bit-reproducible across
  * runs, engines, and months.
  *
  * Rates are permille and may exceed 1000: a rate of 2500 means every row
  * is emitted twice and rows whose permille slot ([[Splits.slotColumn]],
  * the same frozen v1 hash as the split operators) falls below 500 get a
  * third copy — exact epoch weighting, `E[copies] = rate/1000` with the
  * fractional part carried by the hash slot, not a coin flip. A rate of 0
  * drops the source entirely.
  *
  * Scale: a per-row map plus a generator (explode over a
  * `sequence(0, copies-1)`) — no shuffle, no state, composes with every
  * downstream operator. Use a different `salt` than any split of the same
  * corpus, or the sampled-away fraction would correlate with the test
  * fence.
  */
object Mixture {

  /** Adds a `copy` column (0-based replica index) and keeps `copies(row)`
    * replicas of every row: `rate DIV 1000` guaranteed copies plus one
    * more when `slot < rate MOD 1000`. Sources absent from `rates` use
    * `defaultPermille`. */
  def sampleByRates(df: DataFrame, keyCol: String, sourceCol: String,
      rates: Map[String, Int], defaultPermille: Int = 1000,
      salt: String = ""): DataFrame = {
    (rates.toSeq.map { case (s, r) => s"rate($s)" -> r } :+
      ("defaultPermille" -> defaultPermille)).foreach { case (nm, r) =>
      require(r >= 0, s"$nm must be >= 0 permille, got $r")
    }
    // withColumn silently REPLACES an existing column — a caller's own
    // `copy`/`__copies` would be overwritten, not errored (same clash
    // policy as AsofJoin/Packing)
    val clash = Seq("copy", "__copies").filter(df.columns.contains)
    require(clash.isEmpty,
      s"column(s) ${clash.mkString(",")} collide with sampleByRates's working/output names; rename first")
    val rate: Column = rates.foldRight(lit(defaultPermille)) {
      case ((src, r), elseCol) => when(col(sourceCol) === src, lit(r)).otherwise(elseCol)
    }
    val slot = Splits.slotColumn(col(keyCol), salt)
    val copies = (rate.cast("long") / 1000L).cast("long") +
      when(slot < rate.cast("long") % 1000L, 1L).otherwise(0L)
    df.withColumn("__copies", copies)
      .filter(col("__copies") > 0)
      .withColumn("copy", explode(sequence(lit(0L), col("__copies") - 1L)))
      .drop("__copies")
  }

  /** Temperature-balanced mixture rates — the Gopher/Pile-style "data
    * mixing" fit: source `s` is sampled with probability ∝ `count_s^τ`,
    * normalized so the expected output size stays ≈ the input size
    * (τ = 1 is the natural mixture and returns all-1000; τ = 0 is
    * uniform-over-sources, upsampling rare sources and capping hot ones;
    * τ = ½ — the common compromise — square-root-balances).
    *
    * The returned permille map feeds [[sampleByRates]]:
    * `rate_s = ⌊1000 · w_s · N / (Σw · n_s)⌋` with `w_s = n_s^τ`.
    *
    * τ comes in HALF-steps (`tauHalves` ∈ {0, 1, 2}) so every weight is
    * exact integer math — `1`, `isqrt(n)` (`BigInteger.sqrt`, exact at
    * any corpus size), or `n` — and a SQL oracle replays the rates
    * bit-for-bit (`FLOOR(SQRT(n))` matches exact isqrt for counts up to
    * ~2^52; beyond that only the SQL replay needs care, not this fit).
    * Driver state is O(#sources) — one small count aggregate, the same
    * fit pattern as the k-means and quantile breakpoints.
    *
    * A source so rare that its temperature-boosted rate overflows the
    * permille Int fails loudly: upsampling one row by millions of copies
    * is a data-shape problem no mixture should silently encode. */
  def temperatureRates(df: DataFrame, sourceCol: String,
      tauHalves: Int = 1): Map[String, Int] =
    temperatureRatesImpl(df, sourceCol, tauHalves, MaxMixtureSources)

  /** Driver-side fence on the [[temperatureRates]] fit: one row per
    * DISTINCT source — bounded by contract (mixture domains are tens to
    * thousands of sources) but nothing used to stop a caller passing a
    * per-document column as the source, an O(#docs) silent driver
    * collect. The fetch is `limit(cap+1)`, so an over-cap fit transfers
    * cap+1 rows and fails loudly, never the full domain. */
  private[graft] val MaxMixtureSources = 1 << 16

  /** The fetch cap rides as a parameter so the spec can drive the
    * over-cap path on a tiny fixture; production entry points always
    * pass [[MaxMixtureSources]]. */
  private[graft] def temperatureRatesImpl(df: DataFrame, sourceCol: String,
      tauHalves: Int, fetchCap: Int): Map[String, Int] = {
    require(tauHalves >= 0 && tauHalves <= 2,
      s"tauHalves must be 0 (uniform), 1 (sqrt) or 2 (natural), got $tauHalves")
    // cast the source key to string driver-side: sampleByRates accepts
    // any source type (its match is ===), so the fit half of the flow
    // must not ClassCastException on an int source id
    val countsDf = df.groupBy(col(sourceCol).cast("string").as("__s"))
      .agg(count(lit(1)).as("__n"))
    // limit at full initial width, like budgetSelect's fit fetch: the
    // incremental limit-collect (1 partition, ×4 per retry) would pay
    // extra driver jobs re-reading the fit when, as always in the
    // in-contract case, the source domain is far under the cap
    val fetched = graft.ops.PlanScope.isolated(df.sparkSession,
      "spark.sql.limit.initialNumPartitions" -> "100000") { scoped =>
      graft.ops.PlanScope.rebind(countsDf, scoped)
        .limit(fetchCap + 1).collect()
    }
    require(fetched.length <= fetchCap,
      s"temperatureRates: more than $fetchCap distinct values in '$sourceCol' — " +
        "that is a per-document column, not a mixture source domain; " +
        "bucket or map it to a bounded source space before fitting")
    val counts = fetched.map { r =>
        require(r.get(0) != null,
          "temperatureRates: null source — filter or fill before fitting the mixture")
        r.getString(0) -> r.getLong(1)
      }.toMap
    require(counts.nonEmpty, "temperatureRates on an empty corpus: nothing to weight")
    val w: Map[String, BigInt] = counts.map { case (s, n) =>
      s -> (tauHalves match {
        case 0 => BigInt(1)
        case 1 => BigInt(java.math.BigInteger.valueOf(n).sqrt())
        case _ => BigInt(n)
      })
    }
    val nTotal = counts.values.map(BigInt(_)).sum
    val wTotal = w.values.sum
    counts.map { case (s, n) =>
      val rate = (BigInt(1000) * w(s) * nTotal) / (wTotal * BigInt(n))
      require(rate <= Int.MaxValue,
        s"temperatureRates: source '$s' ($n rows) would be upsampled to $rate permille — " +
          "raise tauHalves toward the natural mixture or pre-filter degenerate sources")
      // the symmetric floor guard: a dominant source over MANY sources
      // can floor to 0 permille (e.g. uniform over 2000 sources with one
      // holding 90% of rows), and sampleByRates drops 0-rate sources
      // entirely — silently deleting most of the corpus is as much a
      // data-shape problem as the overflow above
      require(rate >= 1,
        s"temperatureRates: source '$s' ($n rows) would be downsampled to 0 permille " +
          "(dropped entirely) — raise tauHalves toward the natural mixture or " +
          "consolidate the source space")
      s -> rate.toInt
    }
  }

  /** Budget-constrained greedy selection: rank rows by (`scoreCol` desc,
    * `idCol` asc) and keep the PREFIX whose running `costCol` total
    * (inclusive) stays ≤ `budget` — "take the best documents until the
    * token budget is spent", the final cut of a data-curation run.
    *
    * This is the prefix rule, not a knapsack: a row that would overflow
    * the budget stops the scan even if later (smaller) rows would fit —
    * the same semantics as `SUM(cost) OVER (ORDER BY score DESC, id)
    * <= budget`, reproducible on any engine.
    *
    * Scale shape: the naive window form funnels the whole corpus through
    * ONE task (global ORDER BY). Instead: (1) one grouped aggregate builds
    * per-score cost totals — driver holds O(|score domain|) longs (scores
    * are permille-like by contract, same bounded-domain fit as
    * quantileBuckets); (2) the driver walks the totals to find the
    * boundary score s* and the budget remaining when reaching it; (3) rows
    * with score > s* pass wholesale (a pure pushdown filter), and only the
    * boundary CLASS pays a cumulative window — partitioned on the score
    * column, so the single hot partition is one class, not the corpus.
    * For a pathologically large boundary class, re-apply the same
    * localization on id buckets (the exactQuantilesBucketed trick).
    *
    * Rows with a null score or null cost carry no rank/cost evidence and
    * are excluded. Negative costs are rejected loudly — a negative token
    * count would make the running total non-monotone and the prefix rule
    * meaningless. */
  def budgetSelect(df: DataFrame, idCol: String, scoreCol: String,
      costCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    budgetSelectImpl(df, idCol, scoreCol, costCol, _ => budget)
  }

  /** [[budgetSelect]] with the budget as a FRACTION `num/den` of the
    * TOTAL cost ("keep the best half of the corpus by tokens") — the
    * total comes from the same per-score fit the selection already runs,
    * so the fractional form costs one corpus pass less than computing
    * the total separately and passing it to [[budgetSelect]]. */
  def budgetSelectFraction(df: DataFrame, idCol: String, scoreCol: String,
      costCol: String, num: Long, den: Long): DataFrame = {
    require(num >= 0 && den > 0, s"need num >= 0 and den > 0, got $num/$den")
    budgetSelectImpl(df, idCol, scoreCol, costCol, total => total * num / den)
  }

  /** Driver-side fence on [[budgetSelectImpl]]'s per-class walk: the fit
    * holds one row per DISTINCT score value, which is bounded by contract
    * (permille-like quality classes) but nothing used to stop a caller
    * passing a continuous score — an O(#docs) silent driver collect. The
    * cap is far above any bucketed-score domain and far below corpus
    * cardinality; the fetch is `limit(cap+1)`, so an over-cap fit
    * transfers cap+1 rows and fails loudly, never the full domain. */
  private[graft] val MaxScoreClasses = 1 << 20

  private def budgetSelectImpl(df: DataFrame, idCol: String, scoreCol: String,
      costCol: String, budgetOf: Long => Long): DataFrame =
    budgetSelectImpl(df, idCol, scoreCol, costCol, budgetOf, MaxScoreClasses)

  /** The fetch cap rides as a parameter so the spec can drive the
    * localized path on a tiny fixture (forcing >2^20 real classes in a
    * unit test would be its own corpus); production entry points always
    * pass [[MaxScoreClasses]]. */
  private[graft] def budgetSelectImpl(df: DataFrame, idCol: String,
      scoreCol: String, costCol: String, budgetOf: Long => Long,
      fetchCap: Int): DataFrame = {
    val score = col(scoreCol).cast("long")
    val cost = col(costCol).cast("long")
    // Materialize the filtered input ONCE (r16, guide §1.2/§5): the
    // selection consumes it three times — the fit aggregate plus the
    // `whole`/`partial` legs below — and each leg's pushed-down score
    // filter substitutes the caller's score expression into the SCAN
    // filter, so an expensive score (t32: qualityScore + tokenCount)
    // re-evaluated per row per leg, serialized in the under-split scan
    // stage (census: two 330 ms single-task stages).
    // The checkpoint is FULL width — every column of `df`, text included —
    // because the legs below filter it and the call returns them. It is
    // an eager localCheckpoint: one job at the call, blocks outside the
    // CacheManager, and a LogicalRDD face the scope hop below needs no
    // cache-match care for. Its blocks outlive the call: the
    // ContextCleaner reclaims them only once the returned frame is
    // garbage-collected, and a lost block fails the read instead of
    // recomputing (the lineage is truncated). A narrow (id, score, cost)
    // cut re-joined on `idCol` would need `idCol` to be unique, which
    // nothing here checks.
    val rows = df.filter(score.isNotNull && cost.isNotNull).localCheckpoint()
    val totalsDf = rows
      .groupBy(score.as("__s"))
      .agg(sum(cost).as("__c"), min(cost).as("__cmin"))
    // limit at full initial width: the incremental limit-collect (1
    // partition, ×4 per retry) would pay ~4 driver jobs re-reading the
    // fit when, as always in the in-contract case, total classes < cap
    val fetched = graft.ops.PlanScope.isolated(df.sparkSession,
      "spark.sql.limit.initialNumPartitions" -> "100000") { scoped =>
      graft.ops.PlanScope.rebind(totalsDf, scoped)
        .limit(fetchCap + 1).collect()
    }
    // (score, budget left at the class's start) of the boundary class —
    // None = everything fits
    val boundary: Option[(Long, Long)] =
      if (fetched.length <= fetchCap) {
        // in-contract path (bounded score domain): one fetch, driver walk
        val totals = fetched.map { r => (r.getLong(0), r.getLong(1), r.getLong(2)) }
        totals.foreach { case (s, _, cmin) =>
          require(cmin >= 0, s"budgetSelect: negative $costCol in score class $s")
        }
        boundaryClass(totals.toSeq.map { case (s, c, _) => (s, c) },
          budgetOf(totals.map(_._2).sum))
      } else
        // continuous / unbounded score domain: AUTO-LOCALIZE instead of
        // rejecting (the former 2^20-class cliff) — recursive range
        // bucketing finds the boundary class with one bounded collect
        // per level, never a driver fetch over the full domain
        localizedBoundary(totalsDf, scoreCol, costCol, budgetOf, fetchCap)
    boundary match {
      case None => rows // everything fits
      case Some((bScore, remaining)) =>
        val whole = rows.filter(score > lit(bScore))
        val wB = org.apache.spark.sql.expressions.Window
          .partitionBy(score).orderBy(col(idCol))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
        val partial = rows.filter(score === lit(bScore))
          .withColumn("__cum", sum(cost).over(wB))
          .filter(col("__cum") <= lit(remaining))
          .drop("__cum")
        whole.unionByName(partial)
    }
  }

  /** The budget walk over `(score, cost)` classes: best class first, the
    * first class whose cost overflows what is left of `budget` is the
    * boundary class, returned with the budget left at its start (None =
    * everything fits). */
  private def boundaryClass(classes: Seq[(Long, Long)], budget: Long): Option[(Long, Long)] = {
    // reverse ordering, not negation: -Long.MinValue overflows to itself
    // and would walk the WORST class first
    var remaining = budget
    classes.sortBy(_._1)(Ordering[Long].reverse).find { case (_, c) =>
      val overflows = c > remaining
      if (!overflows) remaining -= c
      overflows
    }.map { case (s, _) => (s, remaining) }
  }

  /** Boundary-class search for score domains wider than the driver fetch
    * cap — the [[graft.operators.Sketches.exactQuantilesBucketed]] trick
    * applied to the budget walk. Each level coarsens the live score range
    * into ≤ `LocalizeBuckets` ordered intervals (`(__s - lo) DIV w` —
    * the shift makes truncating division a true floor, so buckets are
    * ordered), collects one bounded row per bucket (cost sum + class
    * count), walks them best-first on the driver, and recurses into the
    * single bucket whose inclusive total overflows the remaining budget.
    * The recursion bottoms out when the live range's class count fits
    * the fetch cap, where the exact per-class walk of the direct path
    * runs on just that sliver. Depth is logarithmic in the score RANGE
    * (range shrinks ×`LocalizeBuckets` per level: ≤ 4 levels past 2^63);
    * driver state per level is ≤ `LocalizeBuckets` + at the base
    * ≤ `fetchCap` rows. The class fit is persisted for the walk — it is
    * re-read once per level — and released before returning. */
  private[graft] val LocalizeBuckets = 4096L

  private def localizedBoundary(totalsDf: DataFrame, scoreCol: String,
      costCol: String, budgetOf: Long => Long, fetchCap: Int): Option[(Long, Long)] = {
    val t = totalsDf.persist()
    try {
      val g = t.agg(sum(col("__c")).as("total"), min(col("__cmin")).as("cmin"),
        min(col("__s")).as("lo"), max(col("__s")).as("hi")).collect()(0)
      require(g.getLong(1) >= 0,
        s"budgetSelect: negative $costCol (min ${g.getLong(1)}) — a negative " +
          "cost makes the running total non-monotone and the prefix rule " +
          "meaningless")
      var lo = g.getLong(2)
      var hi = g.getLong(3)
      require(BigInt(hi) - BigInt(lo) < BigInt(Long.MaxValue),
        s"budgetSelect: $scoreCol spans more than 2^63 distinct values " +
          s"($lo .. $hi) — the range arithmetic of the localized walk " +
          "would overflow; rescale the score first")
      var remaining = budgetOf(g.getLong(0))
      // classes alive in [lo, hi]; parent levels hand the exact count down
      var liveClasses = Long.MaxValue
      var result: Option[Option[(Long, Long)]] = None // Some(None) = all fits
      while (result.isEmpty) {
        if (liveClasses <= fetchCap) {
          // base: exact per-class walk over the localized sliver
          result = Some(boundaryClass(t.filter(col("__s") >= lo && col("__s") <= hi)
            .collect().toSeq.map(r => (r.getLong(0), r.getLong(1))), remaining))
        } else {
          val w = math.max(1L, (hi - lo) / LocalizeBuckets + 1)
          val bks = t.filter(col("__s") >= lo && col("__s") <= hi)
            .groupBy(expr(s"(__s - ${lo}L) DIV ${w}L").as("__b"))
            .agg(sum(col("__c")).as("__bc"), count(lit(1)).as("__ncls"))
            .collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            .sortBy(_._1)(Ordering[Long].reverse) // bucket ids >= 0; uniform style
          var descended = false
          bks.foreach { case (b, bc, ncls) =>
            if (!descended) {
              if (bc > remaining) {
                // the boundary class lives in THIS bucket — narrow to it
                val bLo = lo + b * w
                hi = math.min(hi, bLo + w - 1)
                lo = bLo
                liveClasses = ncls
                descended = true
              } else remaining -= bc
            }
          }
          if (!descended) result = Some(None) // every class fits
        }
      }
      result.get
    } finally { t.unpersist(blocking = false); () }
  }

  /** Deterministic stratified sample: the `kPerGroup` rows of each group
    * whose salted key hash ranks smallest — "take a random k per source"
    * with no RNG, reproducible on any engine (hash rank replaces the
    * random draw; a fixed salt freezes the draw, a new salt is a fresh
    * one).
    *
    * Shape: ONE grouped bounded-heap aggregate ([[graft.expressions
    * .TopKByScore]]) with map-side partials — each partition contributes
    * at most `kPerGroup` rows per group to the exchange. The usual
    * window-rank formulation (`row_number over (partition by group order
    * by hash)`) shuffles and sorts the WHOLE corpus; this shuffles
    * `O(partitions × groups × k)` rows. The hash is truncated to 48 bits
    * (`>> 12`, the KMV trick) so the heap's double-typed score stays
    * exact; ranking is (hash asc, key asc) — ties deterministic, so the
    * DuckDB oracle reproduces the sample bit-for-bit.
    *
    * Output: `(groupCol, rank, keyCol)`, rank 1-based within each group.
    */
  def stratifiedSample(df: DataFrame, keyCol: String, groupCol: String,
      kPerGroup: Int, salt: String = ""): DataFrame = {
    require(kPerGroup > 0, s"kPerGroup must be positive, got $kPerGroup")
    // the bounded-heap aggregate carries ids as LONG; a non-integral key
    // would be implicitly cast, null out, and be silently dropped by the
    // aggregate — an empty "sample" with no error. Fail loudly instead.
    val keyType = df.schema(keyCol).dataType
    require(Seq("byte", "short", "integer", "long").contains(keyType.typeName),
      s"stratifiedSample needs an integral key column (TopKByScore ids are long); '$keyCol' is $keyType")
    // same clash policy as sampleByRates/AsofJoin/Packing: withColumn
    // silently replaces an existing column, so a caller's own __h48
    // must be rejected loudly, not overwritten
    require(!df.columns.contains("__h48"),
      "column __h48 collides with stratifiedSample's working name; rename first")
    val h48 = shiftright(
      graft.functions.TextFunctions.hash60(Splits.saltedKey(col(keyCol), salt)), 12)
    df.withColumn("__h48", h48)
      .groupBy(col(groupCol))
      // TopKByScore keeps (score desc, id asc): negate the hash so the
      // smallest-hash rows win; -h48 is exact in a double (48-bit)
      .agg(graft.expressions.TopKByScore.topK(-col("__h48").cast("double"),
        col(keyCol), kPerGroup).as("top"))
      .select(col(groupCol), posexplode(col("top")).as(Seq("pos", "kv")))
      .select(col(groupCol), (col("pos") + 1).cast("int").as("rank"),
        col("kv.id").as(keyCol))
  }

  /** Per-source KL divergence from the corpus-wide token distribution —
    * the mixture-drift monitor: KL(source ‖ corpus) spikes when a
    * source's unigram distribution departs from the blend it feeds
    * (crawl drift, a broken extractor, boilerplate injection), exactly
    * the signal that decides re-weighting between releases.
    *
    *   KL(s) = Σ_t p_s(t) · ln(p_s(t) / q(t)),  p_s = ct/st, q = gt/T
    *
    * in micro-nats, each term micro-rounded BEFORE the per-source sum so
    * both engines add the same longs in any order (the t29 bigram-LM
    * portability recipe); within-term double arithmetic is written with
    * one fixed association mirrored verbatim by the oracle. Every
    * source term has q(t) > 0 by construction (the corpus includes the
    * source), so no smoothing is needed and KL is finite and ≥ 0 up to
    * per-term rounding.
    *
    * Scale shape: three grouped aggregates (by (source, token), by
    * source, by token — all map-side partial) + one 1-row stat frame
    * broadcast; join keys are the aggregate keys, nothing quadratic.
    *
    * @return (source, n_tokens, n_terms, kl_e6) — one row per source
    */
  def klBySource(docs0: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    // one known-shape drift report (three partial aggregates + a 1-row
    // broadcast): conf-isolated static scope, see PlanScope — board
    // census read its exchanges as pure AQE dispatch
    graft.ops.PlanScope.isolatedStatic(docs0.sparkSession) { scoped =>
    val docs = graft.ops.PlanScope.rebind(docs0, scoped)
    val toks = docs.select(col(sourceCol).as("source"),
      explode(graft.functions.TextFunctions.tokens(col(textCol))).as("token"))
    val ct = toks.groupBy(col("source"), col("token")).agg(count(lit(1)).as("c"))
    val st = ct.groupBy(col("source")).agg(sum(col("c")).as("st"))
    val gt = ct.groupBy(col("token")).agg(sum(col("c")).as("gt"))
    val tot = ct.agg(sum(col("c")).as("tt"))
    ct.join(st, "source")
      .join(gt, "token")
      .crossJoin(broadcast(tot))
      .withColumn("k", expr(
        "CAST(ROUND(1e6 * ((CAST(c AS DOUBLE) / st) * " +
          "ln((CAST(c AS DOUBLE) * tt) / (CAST(st AS DOUBLE) * gt)))) AS BIGINT)"))
      .groupBy(col("source"))
      .agg(max(col("st")).as("n_tokens"), count(lit(1)).as("n_terms"),
        sum(col("k")).as("kl_e6"))
    }
  }
}
