package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.RelationalOps._

/** The relational superset the engine gets from Spark built-ins — operators
  * with *no instance* in the reference (SURVEY.md §2.6) but part of a
  * complete engine: sort/limit/top-k, set ops, distinct, analytic windows,
  * session windows, rollup, semi/anti/theta/full joins, TPC-H-style
  * aggregation pipelines.
  *
  * All aggregates use exact integer cents (RelationalOps.cents) so hashes
  * can't drift on float summation order.
  */
object RelationalQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q10_topk" -> ((s, d) => {
      // ORDER BY ... LIMIT k. At scale this is TakeOrderedAndProject —
      // per-partition heaps + driver merge of k rows, no global sort.
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), cents(col("c_acctbal")).as("acct_cents"))
        .orderBy(col("acct_cents").desc, col("c_custkey"))
        .limit(10)
    }),
    "q11_intersect" -> ((s, d) => {
      // INTERSECT (set semantics) — distinct keys seen both as event actors
      // and as customers.
      Tables.events(s, d).select(col("user_id").as("id"))
        .intersect(Tables.customer(s, d).select(col("c_custkey").as("id")))
    }),
    "q12_except" -> ((s, d) => {
      // EXCEPT (set semantics) — customers that never produced an event.
      Tables.customer(s, d).select(col("c_custkey").as("id"))
        .except(Tables.events(s, d).select(col("user_id").as("id")))
    }),
    "q13_union_agg" -> ((s, d) => {
      // UNION ALL + re-aggregation across heterogeneous sources.
      Tables.events(s, d).select(col("user_id").as("id"))
        .union(Tables.customer(s, d).select(col("c_custkey").as("id")))
        .groupBy(col("id")).agg(count(lit(1)).as("n"))
    }),
    "q14_distinct" -> ((s, d) => {
      // dropDuplicates == SELECT DISTINCT (hash aggregate, map-side partial).
      Tables.events(s, d).select(col("user_id"), col("event_type"))
        .dropDuplicates()
    }),
    "q15_analytic_window" -> ((s, d) => {
      // Ranking + offset + running-frame analytic functions.
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("price_cents", cents(col("o_totalprice")))
        .withColumn("rn", row_number().over(w))
        .withColumn("prev_price_cents", lag(col("price_cents"), 1).over(w))
        .withColumn("running_cents",
          sum(col("price_cents")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("o_custkey"), col("o_orderkey"), col("price_cents"),
          col("rn"), col("prev_price_cents"), col("running_cents"))
    }),
    "q16_session_window" -> ((s, d) => {
      // Session (gap-based) windows — the windowing kind Kafka Streams has
      // as SessionWindows but the reference never uses. 2h inactivity gap
      // per user; one shuffle on user_id, sessions merged within partition.
      graft.ops.CoreOps.countCents(Tables.events(s, d), col("value"),
          session_window(col("ts"), "2 hours").as("w"), col("user_id"))
        .select(
          col("user_id"),
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          col("n_events"), col("sum_cents"))
    }),
    "q17_rollup" -> ((s, d) => {
      // ROLLUP grouping sets with subtotal + grand-total rows.
      Tables.events(s, d)
        .rollup(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
        .select(coalesce(col("event_type"), lit("ALL")).as("event_type"), col("n"), col("sum_cents"))
    }),
    "q18_semi_join" -> ((s, d) => {
      // LEFT SEMI (EXISTS): customers having at least one order.
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q19_anti_join" -> ((s, d) => {
      // LEFT ANTI (NOT EXISTS): customers who never produced an event.
      val c = Tables.customer(s, d)
      val e = Tables.events(s, d)
      c.join(e, c("c_custkey") === e("user_id"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q20_theta_join" -> ((s, d) => {
      // Equi + theta conjunct: orders costlier than the buyer's balance.
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey") && cents(o("o_totalprice")) > cents(c("c_acctbal")))
        .select(col("o_orderkey"), col("o_custkey"),
          cents(col("o_totalprice")).as("price_cents"),
          cents(col("c_acctbal")).as("acct_cents"))
    }),
    "q21_full_outer" -> ((s, d) => {
      // FULL OUTER join over partially-overlapping key spaces.
      val c = Tables.customer(s, d)
      val su = Tables.supplier(s, d)
      c.join(su, c("c_custkey") === su("s_suppkey"), "full_outer")
        .select(
          coalesce(c("c_custkey"), su("s_suppkey")).as("id"),
          coalesce(c("c_name"), lit("no-customer")).as("cust_name"),
          coalesce(su("s_name"), lit("no-supplier")).as("supp_name"))
    }),
    "q22_pricing_summary" -> ((s, d) => {
      // TPC-H Q1-shaped pricing summary (bench headliner): wide scan +
      // grouped aggregate; partial aggregation makes the shuffle carry only
      // group rows. Exact integer math: cents and cent-percent units.
      val li = Tables.lineitem(s, d).filter(col("l_shipdate") <= lit("1998-09-02"))
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(asLong(col("l_quantity"))).as("sum_qty"),
          sum(cents(col("l_extendedprice"))).as("sum_base_cents"),
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("sum_disc_c2"),
          count(lit(1)).as("count_order"),
          intAvg(sum(asLong(col("l_quantity"))), count(lit(1))).as("avg_qty"))
    }),
    "q23_top_revenue" -> ((s, d) => {
      // TPC-H Q3-shaped: selective filters on both sides of a 3-way join,
      // grouped revenue, top-10. Filters push to the scans; the customer
      // dimension broadcasts.
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1998-01-01"))
      val li = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1998-01-01"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate"))
        .agg(sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("revenue_c2"))
        .select(col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
          col("revenue_c2"))
        .orderBy(col("revenue_c2").desc, col("o_orderkey"))
        .limit(10)
    }),
    "q27_hopping_agg" -> ((s, d) => {
      // Hopping (sliding) windows — Kafka Streams TimeWindows.advanceBy,
      // present in the DSL but unused by the reference (SURVEY.md §2.6).
      // 1-hour windows every 30 minutes: each event lands in 2 windows;
      // Spark's window() expands rows then aggregates in one shuffle.
      graft.ops.CoreOps.countCents(Tables.events(s, d), col("value"),
          window(col("ts"), "1 hour", "30 minutes").as("w"), col("user_id"))
        .select(
          date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("user_id"), col("n_events"), col("sum_cents"))
    }),
    "q25_cube" -> ((s, d) => {
      // CUBE grouping sets: all 4 combinations of (event_type, cohort)
      // subtotals in one pass — Catalyst expands to a single shuffle with
      // a grouping-id column, not 4 scans.
      Tables.events(s, d)
        .withColumn("cohort", pmod(col("user_id"), lit(4)))
        .cube(col("event_type"), col("cohort"))
        .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("sum_cents"))
        .select(
          coalesce(col("event_type"), lit("ALL")).as("event_type"),
          coalesce(col("cohort").cast("string"), lit("ALL")).as("cohort"),
          col("n"), col("sum_cents"))
    }),
    "q36_grouping_sets" -> ((s, d) => {
      // Explicit GROUPING SETS (not the rollup/cube shorthands): exactly
      // the requested combinations — (type), (cohort), and grand total,
      // but NOT (type, cohort) — in ONE shuffle with a grouping-id
      // column; grouping_id() disambiguates real NULL keys from
      // subtotal rows, which COALESCE alone cannot.
      Tables.events(s, d)
        .withColumn("cohort", pmod(col("user_id"), lit(4)))
        .createOrReplaceTempView("ev_gs")
      s.sql("""
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(CAST(cohort AS STRING), 'ALL') AS cohort,
               CAST(grouping_id(event_type, cohort) AS BIGINT) AS gid,
               COUNT(*) AS n,
               SUM(CAST(ROUND(value * 100) AS BIGINT)) AS sum_cents
        FROM ev_gs
        GROUP BY GROUPING SETS ((event_type), (cohort), ())""")
    }),
    "q38_zorder_key" -> ((s, d) => {
      // Z-order (Morton) clustering key: the 2-D layout key that makes
      // parquet min/max stats prunable on BOTH (custkey, orderkey) axes.
      // One codegen'd bit-interleave per row; z_cell is the coarse
      // 256-cell curve prefix a compactor would group files by. The
      // range-partitioned writer on top of this key is Layout
      // .clusterZOrder (BucketedJoinSpec: disjoint slices, box contiguity).
      Tables.orders(s, d).select(
        col("o_orderkey"),
        graft.expressions.BitExpressions.zorder(
          col("o_custkey"), col("o_orderkey"), 16).as("z_key"))
        .withColumn("z_cell", shiftright(col("z_key"), 24).cast("long"))
    }),
    "q37_range_frame" -> ((s, d) => {
      // RANGE-frame analytic window: per user, the sum of event value
      // cents within the trailing 2 hours of each event — a time-based
      // frame (RANGE BETWEEN INTERVAL ... PRECEDING), not a row-count
      // frame like q15's. One shuffle on user, per-user ordered scan.
      // order by epoch MICROS on both sides (Spark unix_micros ≡ DuckDB
      // epoch_us) — second-truncation would move frame boundaries
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-7200L * 1000000L, 0L)
      Tables.events(s, d)
        .withColumn("vc", cents(col("value")))
        .withColumn("trail_2h_cents", sum(col("vc")).over(w))
        .withColumn("trail_2h_n", count(lit(1)).over(w))
        .select(col("event_id"), col("user_id"), col("vc"),
          col("trail_2h_cents"), col("trail_2h_n"))
    }),
    "q26_pivot" -> ((s, d) => {
      // PIVOT: event counts per user spread into one column per event kind.
      // With explicit values the plan is a single hash aggregate with 5
      // conditional counts — no per-value scan.
      Tables.events(s, d)
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }),
    "q24_grouped_join_agg" -> ((s, d) => {
      // Star-join rollup across 4 tables (bench headliner): revenue per
      // nation; dimensions broadcast, fact shuffles once on the group key.
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      val n = Tables.nation(s, d)
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("revenue_c2"),
          count(lit(1)).as("n_items"))
    }),
    "q28_quantiles" -> ((s, d) => {
      // Exact discrete percentiles of price cents per return flag — the
      // distribution profile a curation pass reads before choosing cut
      // thresholds. Histogram-based: the running sum ranks distinct VALUES
      // (domain-bounded), never rows; see Sketches.exactQuantiles.
      // RE-MEASURED r16 (stage census at the healthy ~9 ms floor): the
      // single-pass form's per-flag window had become the bottleneck —
      // ONE task per flag (3 tasks, 1.1 s wall) sorting ~198k distinct
      // cents each while 29 cores idled. The two-stage bucketed form
      // (≈√domain width: domain ~10.4M cents → 4096) bounds stage 1 to
      // ~2.5k bucket rows per flag and fans stage 2 across ~7.6k
      // (flag, bucket) groups — 10-rep fixed-class A/B 1.66 → ~1.0 s.
      // (The opposite r2-era verdict — 1.6 vs 1.8 — was measured at an
      // ~80 ms dispatch floor where the extra stages dominated.)
      // Spec-asserted result-identical to exactQuantiles; q30 keeps the
      // independent one-operator plan against the same oracle.
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"), cents(col("l_extendedprice")).as("cents"))
      graft.operators.Sketches.exactQuantilesBucketed(li, Seq("flag"), "cents",
        Seq("p25_cents" -> 250, "p50_cents" -> 500, "p75_cents" -> 750, "p95_cents" -> 950),
        bucketWidth = 4096L)
    }),
    "q30_quantile_agg" -> ((s, d) => {
      // Same quantile profile as q28, through the ONE-OPERATOR
      // QuantileHistogram aggregate (the streaming-capable form): a single
      // bounded TypedImperativeAggregate instead of histogram + value
      // window. Two different physical plans, one definitional oracle —
      // if either drifts from the explicit quantile rule, its hash breaks.
      val names = Seq("p25_cents" -> 250, "p50_cents" -> 500,
        "p75_cents" -> 750, "p95_cents" -> 950)
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"), cents(col("l_extendedprice")).as("cents"))
      graft.operators.Sketches.histogramQuantiles(li, col("cents"), names, col("flag"))
    }),
    "q29_distinct_sketch" -> ((s, d) => {
      // KMV distinct-count sketch vs the exact count, side by side. The
      // sketch pass shuffles at most k=256 longs per partition (bounded
      // TypedImperativeAggregate); count_distinct next to it is the exact
      // reference the estimate is judged against. 48-bit hash = hash60>>12
      // so the estimator numerator stays in exact BIGINT. l_partkey spans
      // both regimes across SFs: 200 distinct at sf0.001 (unsaturated,
      // exact), 2000+ at sf0.01+ (saturated, estimator path).
      import graft.operators.Sketches
      val li = Tables.lineitem(s, d)
      li.agg(
          Sketches.kmv(shiftright(graft.functions.TextFunctions.hash60(
            col("l_partkey").cast("string")), 12), 256).as("sk"),
          count_distinct(col("l_partkey")).as("exact_distinct"),
          count(lit(1)).as("n_rows"))
        .select(
          Sketches.kmvEstimate("sk", 256, 48).as("est_distinct"),
          col("exact_distinct"), col("n_rows"))
    }),
    "q31_asof_join" -> ((s, d) => {
      // As-of (point-in-time) join: each error event tagged with the same
      // user's most recent purchase at or before it. One shuffle + one
      // sorted window pass (AsofJoin) — no per-key range join. Purchases
      // are pre-aggregated per (user, ts) to satisfy the uniqueness
      // contract; unmatched errors keep -1/null sentinels.
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"),
          cents(col("value")).as("err_cents"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(cents(col("value"))).as("pc"))
      graft.operators.AsofJoin.asofJoin(
          errors, purchases, Seq("user_id"), "ts", "ts", Seq("pc"))
        .select(col("event_id"), col("user_id"), col("err_cents"),
          coalesce(col("asof_pc"), lit(-1L)).as("purchase_cents"),
          date_format(col("asof_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"))
    }),
    "q33_range_join" -> ((s, d) => {
      // PURE range join (no equi key) as a banded equi-join: line items
      // priced inside overlapping price bands, then a per-band rollup.
      // Naively this is a nested-loop join; banding turns it into one
      // shuffle on the band index with a residual filter — each pair
      // meets in exactly one band, so multiplicity is exact.
      val li = Tables.lineitem(s, d)
        .select(cents(col("l_extendedprice")).as("price_cents"))
      val bands = s.range(0, 100).select(col("id").as("band_id"),
        (col("id") * 100000L).as("lo_cents"),
        (col("id") * 100000L + 250000L).as("hi_cents"))
      graft.ops.RelationalOps.bandedRangeJoin(
          li, "price_cents", bands, "lo_cents", "hi_cents", bandWidth = 100000L)
        .groupBy(col("band_id"))
        .agg(count(lit(1)).as("n_items"), sum(col("price_cents")).as("sum_cents"))
    }),
    "q67_percentile_rank" -> ((s, d) => {
      // Within-group percentile rank: each customer's balance position
      // inside its segment as exact permille (1000·(rank−1) div (n−1) —
      // the integer form of percent_rank, which both engines define but
      // emit as engine-rounded doubles). Total (cents, custkey) order
      // makes ranks unique; one window partition, no corpus sort.
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("acct_cents"), col("c_custkey"))
      val wn = Window.partitionBy(col("c_mktsegment"))
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"),
          cents(col("c_acctbal")).as("acct_cents"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .select(col("c_custkey"), col("c_mktsegment"), col("acct_cents"),
          when(col("n") === 1L, lit(0L))
            .otherwise(expr("(1000 * (rk - 1)) div (n - 1)")).as("pct_permille"))
    }),
    "q66_twap" -> ((s, d) => {
      // Time-weighted average value per user (the TWAP metric): each
      // observation weighted by how long it held (seconds until the next
      // event; the final observation carries zero weight — the standard
      // left-closed convention). ONE per-user window for the lead, exact
      // integer cents×seconds products (well inside long range), floor
      // division at the end — no float accumulation anywhere.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("ts"), col("event_id"),
          cents(col("value")).as("v_c"))
        .withColumn("dur_s",
          (unix_timestamp(lead(col("ts"), 1).over(w)) - unix_timestamp(col("ts")))
            .cast("long"))
        .filter(col("dur_s").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum(col("v_c") * col("dur_s")).as("wsum"), sum(col("dur_s")).as("tsum"))
        .filter(col("tsum") > 0L)
        .select(col("user_id"), expr("wsum div tsum").as("twap_c"),
          col("tsum").as("span_s"))
    }),
    "q64_seasonal_residual" -> ((s, d) => {
      // Seasonal (day-of-week) normalization: each series day scored
      // against its type's dow baseline — the first stage of any
      // seasonality-aware anomaly detector. Two tiny aggregates (daily
      // rollup is the only corpus exchange; baselines are |types|×7
      // rows, broadcast back); residuals in exact milli-units with floor
      // division, so the oracle replays them bit-for-bit.
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .withColumn("dow", dayofweek(col("day")))
      val base = daily.groupBy(col("event_type"), col("dow"))
        .agg(expr("(1000 * sum(y)) div count(1)").as("base_e3"))
      daily.join(base, Seq("event_type", "dow"))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("y"), col("base_e3"),
          (col("y") * 1000L - col("base_e3")).as("residual_e3"))
    }),
    "q65_revenue_share" -> ((s, d) => {
      // Share-of-total contribution: per-nation revenue and its permille
      // of the grand total. The ratio rides an unpartitioned window over
      // the ALREADY-AGGREGATED |nations| rows — a 25-row frame, not a
      // corpus sort; the corpus is touched by exactly one partial-agg
      // exchange.
      Tables.lineitem(s, d)
        .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
        .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("l_extendedprice"))).as("revenue_c"))
        .withColumn("share_permille",
          expr("(1000 * revenue_c) div sum(revenue_c) over ()"))
    }),
    "q63_supplier_cap" -> ((s, d) => {
      // TPC-H Q16 shape through the SQL surface: distinct suppliers per
      // (brand, size) with a NOT IN exclusion subquery. NOT IN is the
      // null-aware anti-join — semantically NOT the plain left-anti (one
      // null in the subquery annuls every row), and Spark plans it as a
      // broadcast null-aware anti join; the exclusion list is tiny at
      // any scale, the distinct count is the usual two-phase Expand.
      Tables.part(s, d).createOrReplaceTempView("part_v")
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.supplier(s, d).createOrReplaceTempView("supplier_v")
      s.sql("""
        SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS n_supp
        FROM part_v JOIN lineitem_v ON p_partkey = l_partkey
        WHERE l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier_v WHERE s_acctbal < 0)
        GROUP BY p_brand, p_size""")
    }),
    "q62_json_extract" -> ((s, d) => {
      // Semi-structured column processing: the events table's `props` is
      // a JSON string; parse it ONCE per row with an EXPLICIT schema
      // (from_json — no inference pass, no per-field re-parse like
      // chained get_json_object) and aggregate the extracted field. The
      // log-analytics reality: schema-on-read with the parse fused into
      // the scan projection, malformed JSON → null field, never a task
      // failure.
      // entry spread: the JSON parse is per-row kernel work fused into
      // the scan projection — single-task on the one-split events table.
      // KEYLESS round-robin (r16, advice item): the former hash spread on
      // `props` keyed on a ~100-distinct-value column — a lumpy ~2×-skewed
      // spread across 32 partitions — and nothing downstream reuses a
      // props partitioning (the next exchange keys on event_type).
      graft.ops.PlanScope.spreadIfSmall(
          Tables.events(s, d).select(col("event_type"), col("props")))
        .select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          count(col("k")).as("n_parsed"),
          sum(col("k")).cast("long").as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    }),
    "q61_copurchase_pairs" -> ((s, d) => {
      // Market-basket pair mining (the A-priori candidate step): part
      // pairs co-occurring in the same order, top-20 by support. The
      // pair generation is a self-equi-join on the ORDER key — quadratic
      // only in per-order basket size (bounded ~7 in TPC-H-shaped data,
      // capped upstream in a real pipeline), linear in orders; the
      // support count partial-aggregates and top-k is a bounded
      // TakeOrdered. Duplicate parts within an order collapse first so
      // support counts orders, not lineitems. The board query mines
      // every basket (cap off — the oracle replays the full pair set);
      // production callers pass maxBasketSize to make the bound
      // enforceable in-plan (see Baskets.copurchasePairs).
      graft.operators.Baskets.copurchasePairs(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey")
        .select(col("item_a").as("part_a"), col("item_b").as("part_b"),
          col("n_baskets").as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(20)
    }),
    "q73_copurchase_capped" -> ((s, d) => {
      // The CAPPED face of q61: identical pair mining with the
      // count-and-reject basket fence ON (maxBasketSize = 5) — the
      // production posture Baskets.copurchasePairs documents. The cap is
      // SQL-expressible (a HAVING on per-basket distinct items), so the
      // fenced operator is oracle-checked end-to-end, not just spec'd:
      // hash-green here proves oversized baskets are excluded WHOLE and
      // surviving supports are untouched. sf0.1 baskets span the cap
      // (~7 avg), so both sides of the fence are populated.
      graft.operators.Baskets.copurchasePairs(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey",
          maxBasketSize = Some(5))
        .select(col("item_a").as("part_a"), col("item_b").as("part_b"),
          col("n_baskets").as("n_orders"))
        .orderBy(col("n_orders").desc, col("part_a"), col("part_b"))
        .limit(20)
    }),
    "q60_bfs_hops" -> ((s, d) => {
      // Multi-source BFS: trade-hops from any ASIA nation (distance 0 at
      // the seeds, null = unreachable within 3 rounds) — the
      // "hops-from-a-trusted-hub" trust signal. Frontier-driven: each
      // round relaxes only newly-settled nodes (equi-join + anti-join),
      // stops at convergence; a fixed-round min-relax replay (the
      // oracle) agrees wherever it covers the true eccentricity. Edges
      // probe the served link-graph artifact (Serving.tradePairCounts —
      // built once per session, warmup-prepaid; q72 keeps the in-call
      // derive measured), so the search never touches the fact table.
      val edges = Serving.tradePairCounts(s, d).select(col("src"), col("dst"))
      val seeds = Tables.nation(s, d).filter(col("n_regionkey") === 2)
        .select(col("n_nationkey").cast("long").as("node"))
      // nation-sized result → detachSmall (zero blocks left registered);
      // the tiny tail join runs static (caller-AQE stage jobs were its
      // only dispatch)
      graft.ops.PlanScope.isolatedStaticFor(Tables.nation(s, d)) { scoped =>
        graft.ops.PlanScope.rebind(graft.operators.Graphs.detachSmall(
            graft.operators.Graphs.bfsHops(edges, seeds, maxRounds = 3)), scoped)
          .join(Tables.nation(scoped, d), col("node") === col("n_nationkey"))
          .select(col("n_name"), col("dist"))
      }
    }),
    "q69_triangle_count" -> ((s, d) => {
      // Per-nation triangle participation in the undirected trade graph —
      // the local-closure signal that separates organic link
      // neighborhoods from star-shaped spam at corpus scale. Runs the
      // library DEFAULT plan (degree-ordered orientation: wedges form at
      // each triangle's minimum-degree vertex, O(|E|^1.5) on any graph —
      // hub-safe at 100 TB); q72 replays the same graph + oracle through
      // the raw-id orientation AND the in-call adaptive derive as the
      // independent cross-check — this entry probes the served
      // link-graph artifact (Serving.tradePairCounts), hash-equality
      // between the two proves artifact ≡ derivation every round.
      val edges = Serving.tradePairCounts(s, d).select(col("src"), col("dst"))
      // nation-sized result: detachSmall releases the operator's
      // persisted frame (same contract as the iterative graph queries);
      // the tiny tail join runs static (see q60)
      graft.ops.PlanScope.isolatedStaticFor(Tables.nation(s, d)) { scoped =>
        graft.ops.PlanScope.rebind(graft.operators.Graphs.detachSmall(
            graft.operators.Graphs.triangles(edges)), scoped)
          .join(Tables.nation(scoped, d), col("node") === col("n_nationkey"))
          .select(col("n_name"), col("n_triangles"))
      }
    }),
    "q72_triangle_degree" -> ((s, d) => {
      // q69's triangle count through the RAW-ID orientation — the
      // independent wedge formulation (a<b<c by id; Σ deg² fan-out,
      // fine on this nation-sized graph, the wrong default at 100 TB —
      // which is why the library default q69 runs is degree-ordered).
      // Same graph, same oracle as q69: the two plans hash-agreeing IS
      // the equivalence proof at data scale.
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val edges = Tables.lineitem(s, d)
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey").cast("long").as("src"),
          col("c_nationkey").cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
      graft.operators.Graphs.trianglesRawOriented(edges)
        .join(Tables.nation(s, d), col("node") === col("n_nationkey"))
        .select(col("n_name"), col("n_triangles")) // stays fully adaptive: the cross-check plan
    }),
    "q59_running_distinct" -> ((s, d) => {
      // Cumulative distinct users per day — COUNT(DISTINCT) OVER, which
      // Spark (and most engines) refuse to plan. The canonical rewrite:
      // mark each user's FIRST day (one aggregate, map-side partial),
      // count first-appearances per day, then one running sum over the
      // tiny per-day frame. The corpus is touched once; the window runs
      // over ≤ span-days rows, never over events.
      val firstDay = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .groupBy(col("user_id")).agg(min(col("day")).as("fday"))
        .groupBy(col("fday")).agg(count(lit(1)).as("n_new"))
      val allDays = Tables.events(s, d)
        .select(to_date(col("ts")).as("day")).distinct()
      val w = Window.orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      allDays
        .join(firstDay, col("day") === col("fday"), "left")
        .select(col("day"), coalesce(col("n_new"), lit(0L)).as("n_new"))
        .withColumn("cum_distinct_users", sum(col("n_new")).over(w))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("n_new"), col("cum_distinct_users"))
    }),
    "q58_incremental_join" -> ((s, d) => {
      // Materialized JOIN-view maintenance: orders⋈customer kept fresh
      // under insert-only batches on BOTH sides (every-10th order and
      // every-7th customer arrive as deltas). The maintained view is
      // V0 ∪ ΔV with ΔV = ΔA⋈C0 ∪ A0⋈ΔC ∪ ΔA⋈ΔC — V0's join is the
      // only old⋈old work, done once; the delta terms broadcast the
      // batch side and never reshuffle the base frames. The oracle is
      // the full recompute the algebra must equal, aggregated by
      // segment so the hash covers every maintained row.
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), cents(col("o_totalprice")).as("price_c"))
      val cust = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"))
      val a0 = ord.filter(pmod(col("o_orderkey"), lit(10)) =!= 0)
      val da = ord.filter(pmod(col("o_orderkey"), lit(10)) === 0)
      val c0 = cust.filter(pmod(col("c_custkey"), lit(7)) =!= 0)
      val dc = cust.filter(pmod(col("c_custkey"), lit(7)) === 0)
      val v0 = a0.join(c0, col("o_custkey") === col("c_custkey"))
      val dv = graft.ops.ScaleOps.incrementalJoin(a0, da, c0, dc, "o_custkey", "c_custkey")
      v0.unionByName(dv)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"), sum(col("price_c")).as("revenue_c"))
    }),
    "q56_rolling_dau" -> ((s, d) => {
      // 7-day rolling distinct active users per day. Exact rolling
      // DISTINCT cannot ride a running-sum window (distinct doesn't
      // subtract), and the naive form is a per-day self-join over the
      // lookback. The scale shape: distinct (user, day) once, explode
      // each into its 7 target days (pure map), then one two-phase
      // count-distinct per target day — shuffle volume is 7×|user-days|,
      // never |events|, and no window touches the corpus.
      val ud = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val activeDays = ud.select(col("day").as("tday")).distinct()
      ud.select(col("user_id"), col("day"),
          explode(sequence(lit(0), lit(6))).as("off"))
        .select(col("user_id"), date_add(col("day"), col("off")).as("tday"))
        .join(activeDays, "tday")
        .groupBy(col("tday"))
        .agg(countDistinct(col("user_id")).as("dau_7d"))
        .select(date_format(col("tday"), "yyyy-MM-dd").as("day"), col("dau_7d"))
    }),
    "q57_time_to_convert" -> ((s, d) => {
      // Signup→purchase conversion-latency histogram: per user, days
      // from first signup to first at-or-after purchase; never-converted
      // users land in the -1 bucket. Two filtered min-aggregates and one
      // key join (both map-side partial) — no per-user window, no
      // event-level self-join; the histogram is a second tiny aggregate.
      val ev = Tables.events(s, d)
      val su = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id")).agg(min(col("ts")).as("su_ts"))
      val pu = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"))
      su.join(pu, Seq("user_id"), "left")
        .groupBy(col("user_id"), col("su_ts"))
        .agg(min(when(col("ts") >= col("su_ts"), col("ts"))).as("fp_ts"))
        .select(when(col("fp_ts").isNull, lit(-1))
          .otherwise(datediff(to_date(col("fp_ts")), to_date(col("su_ts"))))
          .cast("int").as("days_to_convert"))
        .groupBy(col("days_to_convert"))
        .agg(count(lit(1)).as("n_users"))
    }),
    "q54_hierarchy_rollup" -> ((s, d) => {
      // WITH RECURSIVE semantics — Spark's missing SQL shape — as the
      // bounded iterative-join fixpoint (ops.Hierarchy): per-part subtree
      // totals over the derived decimal-digit forest (parent = id div 10,
      // roots below 10, depth ~log10 |parts|). The DuckDB oracle runs a
      // REAL recursive CTE; matching it pins the loop's semantics, not
      // just its arithmetic. Frontier-driven: depth is discovered by
      // convergence, one equi-join per level, closure rows = Σ depth(n).
      val nodes = Tables.part(s, d).select(
        col("p_partkey").as("id"),
        when(col("p_partkey") >= 10, expr("p_partkey DIV 10")).as("parent"),
        cents(col("p_retailprice")).as("value"))
      // |parts|-bounded rollup → detachSmall hands it over as a
      // LocalRelation and releases the loop's cache (leaked_rdds = 0)
      graft.operators.Graphs.detachSmall(
          graft.ops.Hierarchy.subtreeRollup(nodes), maxRows = 1 << 22)
        .select(col("id").as("part_id"), col("n_nodes"),
          col("subtree_value").as("subtree_retail_c"))
    }),
    "q55_attribution" -> ((s, d) => {
      // Last-touch marketing attribution: each purchase credits the
      // user's most recent non-purchase event within a 7-day lookback,
      // else 'direct'. The point-in-time lookup is the as-of join's
      // union+forward-carry shape (ONE shuffle on user_id, no per-key
      // range join); the lookback bound is a post-carry filter, exact to
      // the microsecond. Touch ties at one timestamp collapse
      // deterministically to the highest event_id before the join.
      val ev = Tables.events(s, d)
      val purch = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"),
          cents(col("value")).as("value_c"))
        .withColumn("ts_m1", col("ts") - expr("INTERVAL 1 MICROSECOND"))
      val touches = ev.filter(col("event_type") =!= "purchase")
        .groupBy(col("user_id"), col("ts").as("tts"))
        .agg(max_by(col("event_type"), col("event_id")).as("ch"))
      graft.operators.AsofJoin.asofJoin(
          purch, touches.select(col("user_id"), col("tts"), col("ch")),
          Seq("user_id"), "ts_m1", "tts", Seq("ch"))
        .select(col("value_c"),
          when(col("asof_ts").isNotNull &&
            col("asof_ts") >= col("ts") - expr("INTERVAL 7 DAYS"),
            col("asof_ch")).otherwise(lit("direct")).as("channel"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_conversions"), sum(col("value_c")).as("revenue_c"))
    }),
    "q51_local_supplier_volume" -> ((s, d) => {
      // TPC-H Q5 shape — the canonical star join: one fact table
      // (lineitem) against four dimensions plus the c_nationkey =
      // s_nationkey "local supplier" constraint that correlates two
      // dimension arms. The 100 TB plan: date filter pushed to the
      // orders scan, region/nation/supplier broadcast (dims are tiny at
      // any scale), lineitem⋈orders is the single big shuffle on
      // orderkey; customer joins on custkey post-filter. Revenue in
      // exact cents² so the hash can't drift on float order.
      val reg = Tables.region(s, d).filter(col("r_name") === "ASIA")
      val nat = Tables.nation(s, d)
      val sup = Tables.supplier(s, d)
      val cust = Tables.customer(s, d)
      val ord = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1996-01-01") &&
          col("o_orderdate") < lit("1997-01-01"))
      val li = Tables.lineitem(s, d)
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(sup, li("l_suppkey") === sup("s_suppkey") &&
          cust("c_nationkey") === sup("s_nationkey"))
        .join(nat, sup("s_nationkey") === nat("n_nationkey"))
        .join(reg, nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(cents(col("l_extendedprice")) *
          (lit(100L) - cents(col("l_discount")))).as("revenue_c2"))
    }),
    "q52_small_qty_revenue" -> ((s, d) => {
      // TPC-H Q17 shape — a correlated aggregate join: revenue from
      // lineitems whose quantity is below 20% of their part's average.
      // The per-part stats are ONE grouped aggregate over the already
      // part-filtered fact slice, joined back on partkey (at 100 TB the
      // stats side is |parts-of-brand| rows — broadcast); the threshold
      // compare is exact integer (5·qty·n < Σqty ⟺ qty < avg/5 since
      // quantities are integral), so no float avg can flip a row.
      val p = Tables.part(s, d).filter(col("p_brand") === "Brand#12")
        .select(col("p_partkey"))
      val li = Tables.lineitem(s, d)
        .join(p, col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          cents(col("l_extendedprice")).as("price_c"))
      val stats = li.groupBy(col("l_partkey"))
        .agg(sum(col("qty")).as("tq"), count(lit(1)).as("nq"))
      li.join(stats, "l_partkey")
        .filter(lit(5L) * col("qty") * col("nq") < col("tq"))
        .agg(sum(col("price_c")).as("small_qty_revenue_c"),
          count(lit(1)).as("n_small"))
    }),
    "q68_peak_concurrency" -> ((s, d) => {
      // Sweep-line occupancy: each event opens a session [ts, ts +
      // floor(value·60) seconds); per day, the peak number concurrently
      // open. The distributed sweep (day-partitioned running sums + a
      // #days-sized carry prefix) lives in Temporal.peakConcurrency —
      // no global ordered window anywhere near the event volume.
      val ev = Tables.events(s, d)
      graft.ops.Temporal.peakConcurrency(ev,
          col("ts"),
          expr("ts + make_interval(0, 0, 0, 0, 0, 0, CAST(FLOOR(value * 60) AS INT))"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("peak_concurrency"))
    }),
    "q53_activity_islands" -> ((s, d) => {
      // Gaps-and-islands: maximal runs of consecutive active days per
      // user (the classic streak/sessionization-by-day analysis). One
      // distinct on (user, day), one per-user window (row_number), and
      // the island group-by reuses the same user partitioning — day −
      // row_number is constant within a run, so islands fall out of a
      // plain groupBy with no self-join and no per-row gap scan.
      val days = Tables.events(s, d)
        .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("grp",
          datediff(col("day"), lit("2024-01-01")) - row_number().over(w))
        .groupBy(col("user_id"), col("grp"))
        .agg(date_format(min(col("day")), "yyyy-MM-dd").as("island_start"),
          date_format(max(col("day")), "yyyy-MM-dd").as("island_end"),
          count(lit(1)).as("n_days"))
        .drop("grp")
    }),
    "q50_snapshot_diff" -> ((s, d) => {
      // Data diff between two table versions (the pre-promotion audit):
      // snapshot B deterministically drops every 7th customer, rewrites
      // every 5th's segment, and adds a shifted copy of every 11th; the
      // diff classifies each key in ONE full-outer key join, null-safe
      // per-column compare, no row hashing.
      val a = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val b = a.filter(pmod(col("c_custkey"), lit(7)) =!= 0)
        .withColumn("c_mktsegment",
          when(pmod(col("c_custkey"), lit(5)) === 0, lit("REWRITTEN"))
            .otherwise(col("c_mktsegment")))
        .unionByName(a.filter(pmod(col("c_custkey"), lit(11)) === 0)
          .select((col("c_custkey") + 1000000).as("c_custkey"),
            col("c_name"), col("c_mktsegment")))
      graft.ops.RelationalOps.snapshotDiff(a, b, Seq("c_custkey"))
    }),
    "q49_resample_ffill" -> ((s, d) => {
      // Daily gap-filled value series per user: closing cents per active
      // day, dense grid over each user's own span, forward-filled — one
      // (key, day) close exchange + a span-bounded per-key window; the
      // window never sees raw events.
      graft.ops.Temporal.resampleDailyFfill(
          Tables.events(s, d)
            .select(col("user_id"), col("ts"), col("event_id"),
              cents(col("value")).as("cents")),
          keyCol = "user_id", tsCol = "ts", tieCol = "event_id", valueCol = "cents")
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("close"), col("filled"))
    }),
    "q48_incremental_agg" -> ((s, d) => {
      // Incremental view maintenance: the standing per-user aggregate
      // refreshed by MERGING the new batch's aggregate state — base
      // events are never rescanned; the join touches key-cardinality
      // state only. Oracle = the full recompute it must equal.
      val ev = Tables.events(s, d)
      def aggOf(df: DataFrame) = graft.ops.CoreOps.countCents(df, col("value"), col("user_id"))
      graft.ops.ScaleOps.mergeAggregates(
        aggOf(ev.filter(col("ts") < lit("2024-01-20"))),
        aggOf(ev.filter(col("ts") >= lit("2024-01-20"))),
        Seq("user_id"))
    }),
    "q47_lateral_topk" -> ((s, d) => {
      // LATERAL correlated subquery (SQL surface): each BUILDING-segment
      // customer's top-2 priciest orders. Catalyst decorrelates the
      // lateral into a join + per-key rank — no per-row re-execution;
      // the DataFrame twin is a window rank, pinned equal by the oracle.
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c.c_custkey, t.o_orderkey, t.price_cents
        FROM (SELECT c_custkey FROM customer_v WHERE c_mktsegment = 'BUILDING') c,
        LATERAL (
          SELECT o.o_orderkey,
                 CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS price_cents
          FROM orders_v o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY price_cents DESC, o.o_orderkey
          LIMIT 2) t""")
    }),
    "q35_scalar_subquery" -> ((s, d) => {
      // SQL-surface query: a correlated scalar subquery authored as raw
      // SQL through spark.sql — Catalyst decorrelates it into an outer
      // join + aggregate (no per-row re-execution), the rewrite that
      // makes subqueries viable at scale. Every other query drives the
      // DataFrame API; this one pins the SQL path end to end.
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c.c_custkey,
               CAST((SELECT COUNT(*) FROM orders_v o
                     WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders,
               CAST(COALESCE((SELECT CAST(ROUND(MAX(o.o_totalprice) * 100) AS BIGINT)
                              FROM orders_v o
                              WHERE o.o_custkey = c.c_custkey), -1) AS BIGINT) AS max_cents
        FROM customer_v c""")
    }),
    "q34_salted_join" -> ((s, d) => {
      // Skew-safe salted join: lineitem⋈orders keyed on (l_orderkey,
      // content-hash salt) with orders replicated 4×, then the usual
      // grouped rollup. The salt is a pure load-balancing device — the
      // result is EXACTLY the plain join, so the oracle is the unsalted
      // SQL join; the plan's exchange carries the salt in its key.
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), cents(col("l_extendedprice")).as("price_cents"))
      val ord = Tables.orders(s, d)
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.ops.ScaleOps.saltedJoin(li, ord, "l_orderkey", nSalts = 4)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"), sum(col("price_cents")).as("sum_cents"))
    }),
    "q32_bloom_anti_join" -> ((s, d) => {
      // Bloom-prefiltered anti-join: events whose user is NOT in the
      // banned segment. The segment collapses to ONE broadcast binary
      // filter; definitely-absent rows pass map-side, only the
      // false-positive sliver reaches the exact anti-join — result is
      // EXACTLY the plain anti-join (no false negatives by construction).
      val ev = Tables.events(s, d).select(
        col("event_id"), col("user_id"), col("event_type"))
      val banned = Tables.customer(s, d)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      graft.ops.ScaleOps.bloomAntiJoin(ev, "user_id", banned, "c_custkey")
    }),
    "q43_funnel" -> ((s, d) => {
      // Behavioral funnel: furthest view -> click -> purchase stage each
      // user reaches as an ordered subsequence, rolled up to stage
      // counts. One exchange on user_id, a per-key fold, no per-stage
      // self-joins. Restricted to the first three days — over the full
      // month every user completes and the report collapses to one row.
      graft.ops.Temporal.funnelStages(
          Tables.events(s, d).filter(col("ts") < lit("2024-01-04")),
          keyCol = "user_id", tsCol = "ts",
          tieCol = "event_id", typeCol = "event_type",
          stages = Seq("view", "click", "purchase"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users"))
    }),
    "q42_scd2_snapshot" -> ((s, d) => {
      // Point-in-time snapshot over the q39 history — the time-travel
      // read SCD2 exists to serve ("every user's attribute as of Jan 15
      // noon"): a pure interval-containment filter over the history,
      // pushdown/partition-pruning friendly; exactly one row per key
      // whose history started by then.
      val hist = graft.ops.Temporal.scd2(
        Tables.events(s, d), keyCols = Seq("user_id"), tsCol = "ts",
        tieCols = Seq("event_id"), valueCols = Seq("event_type"))
      hist
        .filter(graft.ops.Temporal.asOfTime(hist,
          to_timestamp(lit("2024-01-15 12:00:00"))))
        .select(col("user_id"), col("event_type"), col("version"))
    }),
    "q41_skew_report" -> ((s, d) => {
      // Key-skew diagnosis for the events:user_id join key — the report
      // that decides plain join vs saltedJoin vs AQE hints. Two
      // aggregates, exact integer stats, one output row.
      graft.ops.ScaleOps.skewReport(Tables.events(s, d), "user_id")
    }),
    "q40_unpivot" -> ((s, d) => {
      // UNPIVOT (melt): wide per-row metric columns into long
      // (metric, value) form — the normalization inverse of q26's pivot.
      // One generator per row, no shuffle; metrics pre-cast to exact
      // integer units so the shared value column has one type.
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
          asLong(col("l_quantity")).as("qty"),
          cents(col("l_extendedprice")).as("price_cents"),
          cents(col("l_discount")).as("discount_cents"),
          cents(col("l_tax")).as("tax_cents"))
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("qty"), col("price_cents"), col("discount_cents"), col("tax_cents")),
          "metric", "value")
    }),
    "q39_scd2" -> ((s, d) => {
      // SCD type-2 history build: the events change-log collapsed into
      // per-user validity intervals of the tracked attribute (event_type).
      // One shuffle on user_id; change detection and interval stitching
      // share the partitioning (Temporal.scd2). valid_to is open-ended on
      // the current row; version is the dense per-key change index.
      graft.ops.Temporal.scd2(
          Tables.events(s, d), keyCols = Seq("user_id"), tsCol = "ts",
          tieCols = Seq("event_id"), valueCols = Seq("event_type"))
        .select(col("user_id"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("version"), col("is_current"))
    }),
    "q44_cohort_retention" -> ((s, d) => {
      // Cohort retention triangle: users bucketed by first-active day,
      // counted on each later active day — ONE exchange on user_id (the
      // per-user distinct-day set is calendar-bounded), no activity-vs-
      // first-activity self-join.
      graft.ops.Temporal.cohortRetention(Tables.events(s, d), "user_id", "ts")
    }),
    "q46_event_paths" -> ((s, d) => {
      // Top-10 three-step behavioral paths ("what do users do next"):
      // per-user ordered type sequences from ONE exchange on user_id,
      // n-grams exploded per row, counted, TakeOrdered tail.
      graft.ops.Temporal.eventPaths(Tables.events(s, d),
          keyCol = "user_id", tsCol = "ts", tieCol = "event_id",
          typeCol = "event_type", n = 3)
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(10)
    }),
    "q45_merge_changes" -> ((s, d) => {
      // MERGE-style CDC apply: the events stream read as a change log
      // over the customer segment snapshot — 'error' deletes the key,
      // anything else upserts a derived segment; last (ts, event_id)
      // writer wins. One max_by aggregate + one key join; intermediate
      // change states never materialize.
      val base = Tables.customer(s, d)
        .select(col("c_custkey").as("id"), col("c_mktsegment").as("segment"))
      val changes = Tables.events(s, d).select(
        col("user_id").as("id"), col("ts"), col("event_id"),
        when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"),
        concat(lit("seg_"), col("event_type")).as("segment"))
      graft.ops.Temporal.applyChanges(base, changes,
        keyCols = Seq("id"), tsCol = "ts", tieCols = Seq("event_id"), opCol = "op")
    }),
    "q71_sssp" -> ((s, d) => {
      // Cheapest weighted trade path from any ASIA nation within 3 hops:
      // edge weight = 1000 DIV shipment count, so heavily-traded lanes
      // are cheap — the "trust distance" a domain-authority pipeline
      // computes over a weighted link graph. Bounded Bellman-Ford
      // min-relax (3 synchronous rounds, exactly what the unrolled
      // oracle replays); null = unreachable within the budget. Edge
      // weights derive from the served link-graph artifact's pair
      // counts (see q60) — one tiny projection, no fact-table pass.
      val edges = Serving.tradePairCounts(s, d)
        .select(col("src"), col("dst"),
          floor(lit(1000) / col("n")).cast("long").as("w"))
      val seeds = Tables.nation(s, d).filter(col("n_regionkey") === 2)
        .select(col("n_nationkey").cast("long").as("node"))
      // nation-sized result → detachSmall (zero blocks left registered);
      // the tiny tail join runs static (see q60)
      graft.ops.PlanScope.isolatedStaticFor(Tables.nation(s, d)) { scoped =>
        graft.ops.PlanScope.rebind(graft.operators.Graphs.detachSmall(
            graft.operators.Graphs.ssspBounded(edges, seeds, rounds = 3)), scoped)
          .join(Tables.nation(scoped, d), col("node") === col("n_nationkey"))
          .select(col("n_name"), col("dist"))
      }
    }),
    "q70_kcore" -> ((s, d) => {
      // 2-core of the co-purchase graph (part pairs supported by >= 2
      // orders): peel leaves until every surviving part keeps >= 2
      // co-purchase neighbors — the organic-density filter that drops
      // tree-like chaff and star-spam neighborhoods a raw support
      // threshold keeps. Peel converges in <= 5 rounds at both test SFs
      // (8-round budget; loop early-exits at fixpoint, and the unrolled
      // oracle's extra levels are no-ops past it). The peel probes the
      // served co-purchase artifact (Serving.copurchasePairCounts —
      // built once per session, warmup-prepaid; q61 keeps the self-join
      // derive measured ad-hoc), with the support filter pruning at the
      // artifact scan.
      val edges = Serving.copurchasePairCounts(s, d)
        .filter(col("n_orders") >= 2)
        .select(col("src"), col("dst"))
      // core is a bounded slice of the part universe → detachSmall
      graft.operators.Graphs.detachSmall(
          graft.operators.Graphs.kCore(edges, k = 2, maxRounds = 8))
        .select(col("node").as("part_key"), col("deg").as("core_deg"))
    }),
  )

  /** Unrolled bounded-round k-core replay for q70: level i recomputes
    * degrees over edges whose BOTH endpoints survived level i-1 — the
    * same filter-then-recount the Spark peel loop runs, so a fixpoint
    * reached within `rounds` (spec-pinned at the test SFs) makes every
    * further level a no-op and the two engines bit-agree. Every CTE is
    * MATERIALIZED: each a_i is referenced twice by d_i, so default CTE
    * inlining would expand the chain into 2^rounds copies of the base
    * co-purchase join (measured: the un-hinted form runs for MINUTES at
    * sf0.01 and never finishes at sf0.1; hinted, milliseconds). */
  private def kCoreOracleSql(k: Int, rounds: Int): String = {
    val levels = (1 to rounds).map { i =>
      s"""a$i AS MATERIALIZED (SELECT node FROM d${i - 1} WHERE deg >= $k),
         |d$i AS MATERIALIZED (SELECT dir.node, COUNT(*) AS deg FROM dir
         |        JOIN a$i x ON dir.node = x.node
         |        JOIN a$i y ON dir.other = y.node GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
       |e AS MATERIALIZED (
       |      SELECT CAST(a.l_partkey AS BIGINT) AS a, CAST(b.l_partkey AS BIGINT) AS b
       |      FROM op a JOIN op b
       |        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
       |      GROUP BY 1, 2 HAVING COUNT(*) >= 2),
       |dir AS MATERIALIZED (SELECT a AS node, b AS other FROM e
       |        UNION ALL SELECT b, a FROM e),
       |d0 AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM dir GROUP BY node),
       |$levels
       |SELECT node AS part_key, CAST(deg AS BIGINT) AS core_deg
       |FROM d$rounds WHERE deg >= $k""".stripMargin
  }

  /** Shared definitional quantile oracle for q28 (multi-stage plan) and
    * q30 (one-operator aggregate): same explicit rank rule as
    * Sketches.exactQuantiles / QuantileHistogram. */
  private val QuantileOracleSql: String =
    """WITH h AS (
        |  SELECT l_returnflag AS flag,
        |         CAST(ROUND(l_extendedprice*100) AS BIGINT) AS cents,
        |         COUNT(*) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (
        |  SELECT flag, cents,
        |         CAST(SUM(cnt) OVER (PARTITION BY flag ORDER BY cents) AS BIGINT) AS cum,
        |         CAST(SUM(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
        |  FROM h)
        |SELECT flag,
        |       MIN(CASE WHEN cum > (250*(n-1))//1000 THEN cents END) AS p25_cents,
        |       MIN(CASE WHEN cum > (500*(n-1))//1000 THEN cents END) AS p50_cents,
        |       MIN(CASE WHEN cum > (750*(n-1))//1000 THEN cents END) AS p75_cents,
        |       MIN(CASE WHEN cum > (950*(n-1))//1000 THEN cents END) AS p95_cents,
        |       MAX(n) AS n_rows
        |FROM w GROUP BY flag ORDER BY flag""".stripMargin

  /** Per-nation triangle participation over the trade graph — shared by
    * q69 (raw-id orientation) and q72 (degree-ordered orientation): both
    * plans must hash-match this single replay. */
  private def triangleOracleSql: String =
    """WITH e0 AS (
      |  SELECT DISTINCT
      |    LEAST(CAST(s_nationkey AS BIGINT), CAST(c_nationkey AS BIGINT)) AS a,
      |    GREATEST(CAST(s_nationkey AS BIGINT), CAST(c_nationkey AS BIGINT)) AS b
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  WHERE s_nationkey <> c_nationkey),
      |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
      |        FROM e0 e1 JOIN e0 e2 ON e1.b = e2.a
      |        JOIN e0 e3 ON e3.a = e1.a AND e3.b = e2.b),
      |nd AS (SELECT unnest([x, y, z]) AS node FROM tri),
      |ag AS (SELECT node, COUNT(*) AS n_triangles FROM nd GROUP BY node)
      |SELECT n_name, CAST(n_triangles AS BIGINT) AS n_triangles
      |FROM ag JOIN nation ON node = n_nationkey
      |ORDER BY n_name""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q10_topk" ->
      """SELECT c_custkey, c_name, CAST(ROUND(c_acctbal*100) AS BIGINT) AS acct_cents
        |FROM customer ORDER BY acct_cents DESC, c_custkey LIMIT 10""".stripMargin,
    "q11_intersect" ->
      """SELECT user_id AS id FROM events
        |INTERSECT SELECT c_custkey AS id FROM customer ORDER BY id""".stripMargin,
    "q12_except" ->
      """SELECT c_custkey AS id FROM customer
        |EXCEPT SELECT user_id AS id FROM events ORDER BY id""".stripMargin,
    "q13_union_agg" ->
      """SELECT id, COUNT(*) AS n FROM (
        |  SELECT user_id AS id FROM events
        |  UNION ALL SELECT c_custkey AS id FROM customer)
        |GROUP BY id ORDER BY id""".stripMargin,
    "q14_distinct" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    "q15_analytic_window" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_cents,
        |       ROW_NUMBER() OVER w AS rn,
        |       LAG(CAST(ROUND(o_totalprice*100) AS BIGINT), 1) OVER w AS prev_price_cents,
        |       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT))
        |         OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rn""".stripMargin,
    "q16_session_window" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 2 HOUR
        |              THEN 1 ELSE 0 END AS new_sess
        |  FROM events),
        |sess AS (
        |  SELECT user_id, ts, value,
        |         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM flagged)
        |SELECT user_id,
        |       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM sess GROUP BY user_id, sess_id
        |ORDER BY user_id, session_start""".stripMargin,
    "q17_rollup" ->
      """SELECT COALESCE(event_type, 'ALL') AS event_type, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY ROLLUP(event_type)
        |ORDER BY event_type""".stripMargin,
    "q18_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q19_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q20_theta_join" ->
      """SELECT o_orderkey, o_custkey,
        |       CAST(ROUND(o_totalprice*100) AS BIGINT) AS price_cents,
        |       CAST(ROUND(c_acctbal*100) AS BIGINT) AS acct_cents
        |FROM orders JOIN customer
        |  ON o_custkey = c_custkey
        | AND CAST(ROUND(o_totalprice*100) AS BIGINT) > CAST(ROUND(c_acctbal*100) AS BIGINT)
        |ORDER BY o_orderkey""".stripMargin,
    "q21_full_outer" ->
      """SELECT COALESCE(c_custkey, s_suppkey) AS id,
        |       COALESCE(c_name, 'no-customer') AS cust_name,
        |       COALESCE(s_name, 'no-supplier') AS supp_name
        |FROM customer FULL OUTER JOIN supplier ON c_custkey = s_suppkey
        |ORDER BY id""".stripMargin,
    "q22_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(SUM(CAST(ROUND(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
        |           * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS sum_disc_c2,
        |       COUNT(*) AS count_order,
        |       CAST(FLOOR(SUM(CAST(ROUND(l_quantity) AS BIGINT)) / COUNT(*)) AS BIGINT) AS avg_qty
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q23_top_revenue" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
        |           * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c2
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1998-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue_c2 DESC, o_orderkey LIMIT 10""".stripMargin,
    "q27_hopping_agg" ->
      """WITH hop AS (
        |  SELECT user_id, value, ts,
        |         unnest([date_trunc('hour', ts),
        |                 date_trunc('hour', ts - INTERVAL 30 MINUTE) + INTERVAL 30 MINUTE]) AS ws
        |  FROM events)
        |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, user_id,
        |       COUNT(*) AS n_events,
        |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM hop
        |WHERE ts >= ws AND ts < ws + INTERVAL 1 HOUR
        |GROUP BY ws, user_id""".stripMargin,
    "q25_cube" ->
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        |       COALESCE(CAST(cohort AS VARCHAR), 'ALL') AS cohort,
        |       COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM (SELECT event_type, user_id % 4 AS cohort, value FROM events)
        |GROUP BY CUBE(event_type, cohort)""".stripMargin,
    "q26_pivot" ->
      """SELECT user_id,
        |       COUNT(*) FILTER (event_type = 'click') AS click,
        |       COUNT(*) FILTER (event_type = 'error') AS error,
        |       COUNT(*) FILTER (event_type = 'purchase') AS purchase,
        |       COUNT(*) FILTER (event_type = 'signup') AS signup,
        |       COUNT(*) FILTER (event_type = 'view') AS view
        |FROM events GROUP BY user_id""".stripMargin,
    "q24_grouped_join_agg" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
        |           * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c2,
        |       COUNT(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    // same explicit quantile definition as Sketches.exactQuantiles: element
    // at 0-based rank (q*(n-1)) // 1000 of the value-sorted multiset —
    // engine-agnostic integer math, no interpolation
    "q28_quantiles" -> QuantileOracleSql,
    // q30 runs the same definitional quantile rule through the bounded
    // one-operator aggregate against the SAME oracle string — one
    // definition, two engine plans; an edit to the rule cannot decouple
    // the cross-check
    "q30_quantile_agg" -> QuantileOracleSql,
    // KMV = k smallest distinct 48-bit hashes; the estimate is a pure
    // function of that set, so DISTINCT + ORDER BY + LIMIT k reproduces the
    // bounded aggregate bit-for-bit. 71776119061217280 = 255 * 2^48.
    "q29_distinct_sketch" ->
      """WITH hs AS (
        |  SELECT DISTINCT (('0x'||substr(md5(CAST(l_partkey AS VARCHAR)),1,15))::BIGINT) // 4096 AS h48
        |  FROM lineitem),
        |km AS (SELECT h48 FROM hs ORDER BY h48 LIMIT 256),
        |m AS (SELECT MAX(h48) AS hk, CAST(COUNT(*) AS BIGINT) AS kk FROM km),
        |e AS (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_distinct,
        |             CAST(COUNT(*) AS BIGINT) AS n_rows FROM lineitem)
        |SELECT CAST(CASE WHEN kk < 256 THEN kk ELSE 71776119061217280 // hk END AS BIGINT) AS est_distinct,
        |       exact_distinct, n_rows
        |FROM m, e""".stripMargin,
    // DuckDB's native ASOF LEFT JOIN is the definitional check for the
    // union+window forward-carry plan: greatest purchase ts <= error ts
    // per user, nulls when no prior purchase exists
    "q31_asof_join" ->
      """WITH e AS (SELECT event_id, user_id, ts, CAST(ROUND(value*100) AS BIGINT) AS err_cents
        |           FROM events WHERE event_type = 'error'),
        |p AS (SELECT user_id, ts, MAX(CAST(ROUND(value*100) AS BIGINT)) AS pc
        |      FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT e.event_id, e.user_id, e.err_cents,
        |       COALESCE(p.pc, -1) AS purchase_cents,
        |       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts
        |FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND p.ts <= e.ts
        |ORDER BY event_id""".stripMargin,
    // the banding is a pure optimization (each pair meets in exactly one
    // band), so the definitional check is the naive BETWEEN range join
    "q33_range_join" ->
      """WITH b AS (SELECT r AS band_id, r*100000 AS lo, r*100000+250000 AS hi
        |           FROM range(100) t(r)),
        |l AS (SELECT CAST(ROUND(l_extendedprice*100) AS BIGINT) AS pc FROM lineitem)
        |SELECT band_id, CAST(COUNT(*) AS BIGINT) AS n_items,
        |       CAST(SUM(pc) AS BIGINT) AS sum_cents
        |FROM l JOIN b ON pc BETWEEN lo AND hi
        |GROUP BY band_id ORDER BY band_id""".stripMargin,
    // explicit grouping sets with the same bit encoding for grouping_id
    // (leftmost key = most significant bit, 1 when aggregated away)
    "q36_grouping_sets" ->
      """SELECT COALESCE(event_type, 'ALL') AS event_type,
        |       COALESCE(CAST(cohort AS VARCHAR), 'ALL') AS cohort,
        |       CAST(GROUPING(event_type, cohort) AS BIGINT) AS gid,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM (SELECT event_type, user_id % 4 AS cohort, value FROM events)
        |GROUP BY GROUPING SETS ((event_type), (cohort), ())
        |ORDER BY gid, event_type, cohort""".stripMargin,
    // time-based RANGE frame replayed over epoch micros
    // the interleave unrolled term-by-term in SQL — bit i of custkey at
    // position 2i+1, bit i of orderkey at 2i, both masked to 16 bits
    "q38_zorder_key" -> {
      def z(x: String, y: String, bits: Int): String = {
        val xm = s"($x & ${(1L << bits) - 1})"
        val ym = s"($y & ${(1L << bits) - 1})"
        (0 until bits).map(i =>
          s"((($xm >> $i) & 1) << ${2 * i + 1}) | ((($ym >> $i) & 1) << ${2 * i})")
          .mkString(" | ")
      }
      s"""SELECT o_orderkey,
         |       CAST(${z("o_custkey", "o_orderkey", 16)} AS BIGINT) AS z_key,
         |       CAST((${z("o_custkey", "o_orderkey", 16)}) >> 24 AS BIGINT) AS z_cell
         |FROM orders ORDER BY o_orderkey""".stripMargin
    },
    "q37_range_frame" ->
      """SELECT event_id, user_id,
        |       CAST(ROUND(value * 100) AS BIGINT) AS vc,
        |       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT) AS trail_2h_cents,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS trail_2h_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 7200000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // same correlated scalar subqueries, natively
    "q35_scalar_subquery" ->
      """SELECT c.c_custkey,
        |       CAST((SELECT COUNT(*) FROM orders o
        |             WHERE o.o_custkey = c.c_custkey) AS BIGINT) AS n_orders,
        |       CAST(COALESCE((SELECT CAST(ROUND(MAX(o.o_totalprice) * 100) AS BIGINT)
        |                      FROM orders o
        |                      WHERE o.o_custkey = c.c_custkey), -1) AS BIGINT) AS max_cents
        |FROM customer c ORDER BY c.c_custkey""".stripMargin,
    // the salt is a pure load-balancing device (each pair meets in one
    // salt bucket), so the definitional check is the plain unsalted join
    "q34_salted_join" ->
      """SELECT o.o_orderpriority,
        |       CAST(COUNT(*) AS BIGINT) AS n_items,
        |       CAST(SUM(CAST(ROUND(l.l_extendedprice*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""".stripMargin,
    // the bloom prefilter is a pure optimization (no false negatives), so
    // the definitional check is the plain anti-join; NOT EXISTS keeps
    // null-key rows exactly like the operator's coalesce(probe, false)
    "q32_bloom_anti_join" ->
      """SELECT e.event_id, e.user_id, e.event_type
        |FROM events e
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                  WHERE c.c_mktsegment = 'BUILDING'
        |                    AND c.c_custkey = e.user_id)
        |ORDER BY event_id""".stripMargin,
    // greedy earliest-match per stage: min position of each stage type
    // strictly after the previous stage's match — greedy ≡ subsequence
    // existence, so the k-join replay equals the operator's single fold
    "q43_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos
        |  FROM events WHERE ts < TIMESTAMP '2024-01-04 00:00:00'),
        |p1 AS (SELECT user_id, MIN(pos) AS v FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |p2 AS (SELECT e.user_id, MIN(pos) AS c FROM e JOIN p1 USING (user_id)
        |       WHERE event_type = 'click' AND pos > p1.v GROUP BY 1),
        |p3 AS (SELECT e.user_id, MIN(pos) AS p FROM e JOIN p2 USING (user_id)
        |       WHERE event_type = 'purchase' AND pos > p2.c GROUP BY 1),
        |u AS (SELECT DISTINCT user_id FROM e),
        |st AS (SELECT u.user_id,
        |         CASE WHEN p3.user_id IS NOT NULL THEN 3
        |              WHEN p2.user_id IS NOT NULL THEN 2
        |              WHEN p1.user_id IS NOT NULL THEN 1 ELSE 0 END AS stage
        |       FROM u LEFT JOIN p1 USING (user_id) LEFT JOIN p2 USING (user_id)
        |                 LEFT JOIN p3 USING (user_id))
        |SELECT CAST(stage AS BIGINT) AS stage, CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM st GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_scd2_snapshot" ->
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_type, ts, event_id FROM o
        |  WHERE prev IS NULL OR prev <> event_type),
        |iv AS (
        |  SELECT user_id, event_type, ts AS vf,
        |         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version
        |  FROM ch)
        |SELECT user_id, event_type, version
        |FROM iv
        |WHERE vf <= TIMESTAMP '2024-01-15 12:00:00'
        |  AND (vt IS NULL OR vt > TIMESTAMP '2024-01-15 12:00:00')
        |ORDER BY user_id""".stripMargin,
    "q41_skew_report" ->
      """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS cnt
        |           FROM events GROUP BY 1),
        |h AS (SELECT cnt, COUNT(*) AS k FROM c GROUP BY 1),
        |w AS (SELECT cnt, CAST(SUM(k) OVER (ORDER BY cnt) AS BIGINT) AS cum,
        |             CAST(SUM(k) OVER () AS BIGINT) AS n FROM h),
        |q AS (SELECT MIN(CASE WHEN cum > (500*(n-1))//1000 THEN cnt END) AS p50,
        |             MIN(CASE WHEN cum > (990*(n-1))//1000 THEN cnt END) AS p99 FROM w),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |             CAST(SUM(cnt) AS BIGINT) AS n_rows,
        |             CAST(MAX(cnt) AS BIGINT) AS mx FROM c)
        |SELECT t.n_keys, t.n_rows, t.mx AS max_rows_per_key,
        |       q.p50 AS p50_rows_per_key, q.p99 AS p99_rows_per_key,
        |       CAST((1000 * t.mx * t.n_keys) // t.n_rows AS BIGINT) AS skew_permille
        |FROM t, q""".stripMargin,
    "q40_unpivot" ->
      """WITH b AS (SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |       CAST(ROUND(l_quantity) AS BIGINT) AS qty,
        |       CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_cents,
        |       CAST(ROUND(l_discount*100) AS BIGINT) AS discount_cents,
        |       CAST(ROUND(l_tax*100) AS BIGINT) AS tax_cents
        |FROM lineitem)
        |SELECT l_orderkey, l_linenumber, 'qty' AS metric, qty AS value FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'price_cents', price_cents FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'discount_cents', discount_cents FROM b
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'tax_cents', tax_cents FROM b
        |ORDER BY l_orderkey, l_linenumber, metric""".stripMargin,
    "q39_scd2" ->
      """WITH o AS (
        |  SELECT user_id, event_type, ts, event_id,
        |         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events),
        |ch AS (
        |  SELECT user_id, event_type, ts, event_id FROM o
        |  WHERE prev IS NULL OR prev <> event_type),
        |iv AS (
        |  SELECT user_id, event_type, ts AS vf,
        |         LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS vt,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS version
        |  FROM ch)
        |SELECT user_id, event_type,
        |       strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |       strftime(vt, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |       version,
        |       CAST(CASE WHEN vt IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM iv ORDER BY user_id, version""".stripMargin,
    // two-scan replay of the single-exchange operator: distinct activity
    // days joined against each user's first day; COUNT(*) is per-user
    // distinct by construction (d is DISTINCT)
    "q44_cohort_retention" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1)
        |SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
        |       CAST(d.day - c.cohort_day AS BIGINT) AS day_offset,
        |       CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM d JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q67_percentile_rank" ->
      """WITH c AS (
        |  SELECT c_custkey, c_mktsegment,
        |         CAST(ROUND(c_acctbal*100) AS BIGINT) AS acct_cents
        |  FROM customer),
        |r AS (
        |  SELECT c_custkey, c_mktsegment, acct_cents,
        |         ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |           ORDER BY acct_cents, c_custkey) AS rk,
        |         COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
        |  FROM c)
        |SELECT c_custkey, c_mktsegment, acct_cents,
        |       CAST(CASE WHEN n = 1 THEN 0
        |            ELSE (1000 * (rk - 1)) // (n - 1) END AS BIGINT) AS pct_permille
        |FROM r""".stripMargin,
    // per-timestamp floor-seconds FIRST, then the difference — mirroring
    // Spark's unix_timestamp exactly (an epoch-µs diff floored would
    // round differently when fractional parts straddle a second)
    "q66_twap" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ROUND(value*100) AS BIGINT) AS v_c,
        |         epoch_us(ts)//1000000 AS sec,
        |         LEAD(epoch_us(ts)//1000000) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS nsec
        |  FROM events),
        |g AS (SELECT user_id, SUM(v_c*(nsec-sec)) AS wsum,
        |             SUM(nsec-sec) AS tsum
        |      FROM e WHERE nsec IS NOT NULL GROUP BY user_id)
        |SELECT user_id, CAST(wsum // tsum AS BIGINT) AS twap_c,
        |       CAST(tsum AS BIGINT) AS span_s
        |FROM g WHERE tsum > 0""".stripMargin,
    // dow numbering differs across engines (Spark 1-7, DuckDB 0-6) but is
    // a bijection of the weekday and never emitted — grouping is identical
    "q64_seasonal_residual" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         COUNT(*) AS y
        |  FROM events GROUP BY event_type, day),
        |d2 AS (SELECT event_type, day, y, dayofweek(day) AS dow FROM daily),
        |base AS (SELECT event_type, dow,
        |                (1000 * SUM(y)) // COUNT(*) AS base_e3
        |         FROM d2 GROUP BY event_type, dow)
        |SELECT d2.event_type, strftime(d2.day, '%Y-%m-%d') AS day, y,
        |       CAST(base_e3 AS BIGINT) AS base_e3,
        |       CAST(y*1000 - base_e3 AS BIGINT) AS residual_e3
        |FROM d2 JOIN base
        |  ON d2.event_type = base.event_type AND d2.dow = base.dow""".stripMargin,
    "q65_revenue_share" ->
      """WITH rev AS (
        |  SELECT n_name,
        |         CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |  FROM lineitem
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT n_name, revenue_c,
        |       CAST((1000 * revenue_c) // SUM(revenue_c) OVER () AS BIGINT)
        |         AS share_permille
        |FROM rev""".stripMargin,
    "q63_supplier_cap" ->
      """SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS n_supp
        |FROM part JOIN lineitem ON p_partkey = l_partkey
        |WHERE l_suppkey NOT IN
        |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        |GROUP BY p_brand, p_size""".stripMargin,
    "q62_json_extract" ->
      """SELECT event_type, COUNT(*) AS n_events,
        |       COUNT(CAST(props->>'k' AS INTEGER)) AS n_parsed,
        |       CAST(SUM(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
        |       CAST(MIN(CAST(props->>'k' AS INTEGER)) AS INTEGER) AS min_k,
        |       CAST(MAX(CAST(props->>'k' AS INTEGER)) AS INTEGER) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q61_copurchase_pairs" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |       COUNT(*) AS n_orders
        |FROM op a JOIN op b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY part_a, part_b
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin,
    // the fence replayed relationally: baskets keep <= 5 DISTINCT parts,
    // then the identical pair rule — a support drift or a partially
    // dropped basket hash-mismatches immediately
    "q73_copurchase_capped" ->
      """WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |kept AS (SELECT l_orderkey FROM op
        |         GROUP BY l_orderkey HAVING COUNT(*) <= 5),
        |bop AS (SELECT op.l_orderkey, op.l_partkey
        |        FROM op JOIN kept ON op.l_orderkey = kept.l_orderkey)
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |       COUNT(*) AS n_orders
        |FROM bop a JOIN bop b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY part_a, part_b
        |ORDER BY n_orders DESC, part_a, part_b LIMIT 20""".stripMargin,
    // 3 unrolled min-relax rounds ≡ the frontier BFS within the covered
    // eccentricity
    // same canonical a<b edge set; wedges joined on the middle vertex,
    // closed by the third join — the oracle replays the oriented count
    "q69_triangle_count" -> triangleOracleSql,
    // the degree-ordered plan answers the SAME question over the same
    // graph — one oracle covers both orientations, and a hash mismatch
    // between them would expose an orientation/count bug immediately
    "q72_triangle_degree" -> triangleOracleSql,

    "q60_bfs_hops" ->
      """WITH edges AS (
        |  SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS src,
        |                  CAST(c_nationkey AS BIGINT) AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey <> c_nationkey),
        |seeds AS (SELECT CAST(n_nationkey AS BIGINT) AS node FROM nation
        |          WHERE n_regionkey = 2),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges
        |          UNION SELECT node FROM seeds),
        |d0 AS (SELECT node, 0 AS dist FROM seeds),
        |d1 AS (SELECT node, MIN(dist) AS dist FROM (
        |         SELECT node, dist FROM d0
        |         UNION ALL
        |         SELECT e.dst, p.dist + 1 FROM edges e JOIN d0 p ON e.src = p.node
        |       ) GROUP BY node),
        |d2 AS (SELECT node, MIN(dist) AS dist FROM (
        |         SELECT node, dist FROM d1
        |         UNION ALL
        |         SELECT e.dst, p.dist + 1 FROM edges e JOIN d1 p ON e.src = p.node
        |       ) GROUP BY node),
        |d3 AS (SELECT node, MIN(dist) AS dist FROM (
        |         SELECT node, dist FROM d2
        |         UNION ALL
        |         SELECT e.dst, p.dist + 1 FROM edges e JOIN d2 p ON e.src = p.node
        |       ) GROUP BY node)
        |SELECT n_name, CAST(d3.dist AS INTEGER) AS dist
        |FROM nodes n LEFT JOIN d3 ON n.node = d3.node
        |JOIN nation ON n.node = n_nationkey""".stripMargin,
    // DuckDB CAN plan COUNT(DISTINCT) OVER — the oracle uses the real
    // thing against the first-seen rewrite
    "q59_running_distinct" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |fd AS (SELECT user_id, MIN(day) AS fday FROM ud GROUP BY user_id),
        |days AS (SELECT DISTINCT day FROM ud)
        |SELECT strftime(d.day, '%Y-%m-%d') AS day,
        |       CAST(COUNT(fd.user_id) AS BIGINT) AS n_new,
        |       CAST(SUM(COUNT(fd.user_id))
        |         OVER (ORDER BY d.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
        |         AS cum_distinct_users
        |FROM days d LEFT JOIN fd ON fd.fday = d.day
        |GROUP BY d.day""".stripMargin,
    // the full recompute the maintained view must equal by join-∪
    // distributivity — if any delta term is lost or double-counted the
    // counts/sums drift and the hash catches it
    "q58_incremental_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |       CAST(SUM(CAST(ROUND(o_totalprice*100) AS BIGINT)) AS BIGINT) AS revenue_c
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q56_rolling_dau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |ad AS (SELECT DISTINCT day AS tday FROM ud),
        |c AS (SELECT user_id, day + CAST(r.o AS INTEGER) AS tday
        |      FROM ud CROSS JOIN (SELECT unnest(range(7)) AS o) r)
        |SELECT strftime(c.tday, '%Y-%m-%d') AS day,
        |       COUNT(DISTINCT user_id) AS dau_7d
        |FROM c JOIN ad ON c.tday = ad.tday
        |GROUP BY c.tday""".stripMargin,
    "q57_time_to_convert" ->
      """WITH su AS (
        |  SELECT user_id, MIN(ts) AS su_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |pu AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
        |fp AS (
        |  SELECT su.user_id, su.su_ts,
        |         MIN(CASE WHEN pu.ts >= su.su_ts THEN pu.ts END) AS fp_ts
        |  FROM su LEFT JOIN pu ON su.user_id = pu.user_id
        |  GROUP BY su.user_id, su.su_ts)
        |SELECT CAST(CASE WHEN fp_ts IS NULL THEN -1
        |            ELSE datediff('day', CAST(date_trunc('day', su_ts) AS DATE),
        |                          CAST(date_trunc('day', fp_ts) AS DATE)) END AS INTEGER)
        |         AS days_to_convert,
        |       COUNT(*) AS n_users
        |FROM fp GROUP BY days_to_convert""".stripMargin,
    // the oracle runs DuckDB's REAL recursive CTE against the iterative
    // fixpoint — semantics pinned, not just arithmetic
    "q54_hierarchy_rollup" ->
      """WITH RECURSIVE up AS (
        |  SELECT p_partkey AS node, p_partkey AS anc FROM part
        |  UNION ALL
        |  SELECT node, anc // 10 AS anc FROM up WHERE anc >= 10)
        |SELECT anc AS part_id, COUNT(*) AS n_nodes,
        |       CAST(SUM(CAST(ROUND(p_retailprice*100) AS BIGINT)) AS BIGINT) AS subtree_retail_c
        |FROM up JOIN part ON node = p_partkey
        |GROUP BY anc""".stripMargin,
    "q55_attribution" ->
      """WITH purch AS (
        |  SELECT event_id, user_id, ts, CAST(ROUND(value*100) AS BIGINT) AS value_c
        |  FROM events WHERE event_type = 'purchase'),
        |touch AS (
        |  SELECT user_id, ts, arg_max(event_type, event_id) AS ch
        |  FROM events WHERE event_type <> 'purchase' GROUP BY user_id, ts),
        |att AS (
        |  SELECT p.value_c,
        |         (SELECT t.ch FROM touch t
        |          WHERE t.user_id = p.user_id AND t.ts < p.ts
        |            AND t.ts >= p.ts - INTERVAL 7 DAY
        |          ORDER BY t.ts DESC LIMIT 1) AS ch
        |  FROM purch p)
        |SELECT COALESCE(ch, 'direct') AS channel, COUNT(*) AS n_conversions,
        |       CAST(SUM(value_c) AS BIGINT) AS revenue_c
        |FROM att GROUP BY channel""".stripMargin,
    "q51_local_supplier_volume" ->
      """SELECT n_name,
        |       CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)
        |           * (100 - CAST(ROUND(l_discount*100) AS BIGINT))) AS BIGINT) AS revenue_c2
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name""".stripMargin,
    "q52_small_qty_revenue" ->
      """WITH li AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |         CAST(ROUND(l_extendedprice*100) AS BIGINT) AS price_c
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_brand = 'Brand#12'),
        |st AS (SELECT l_partkey, SUM(qty) AS tq, COUNT(*) AS nq
        |       FROM li GROUP BY l_partkey)
        |SELECT CAST(SUM(price_c) AS BIGINT) AS small_qty_revenue_c,
        |       COUNT(*) AS n_small
        |FROM li JOIN st USING (l_partkey)
        |WHERE 5*qty*nq < tq""".stripMargin,
    // same distributed-sweep construction: ±1 deltas, within-day running
    // sum ordered (t, delta) so ends drain before starts at ties, plus a
    // day-level carry prefix for intervals crossing midnight
    "q68_peak_concurrency" ->
      """WITH dl AS (
        |  SELECT ts AS t, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT ts + to_seconds(CAST(FLOOR(value * 60) AS BIGINT)), -1 FROM events),
        |dd AS (SELECT t, delta, CAST(t AS DATE) AS day FROM dl),
        |ds AS (SELECT day, SUM(delta) AS day_sum FROM dd GROUP BY 1),
        |cr AS (SELECT day, COALESCE(SUM(day_sum) OVER (ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
        |       FROM ds),
        |rn AS (SELECT day, SUM(delta) OVER (PARTITION BY day ORDER BY t, delta
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |       FROM dd)
        |SELECT strftime(rn.day, '%Y-%m-%d') AS day,
        |       CAST(GREATEST(MAX(run + carry), MAX(carry)) AS BIGINT)
        |         AS peak_concurrency
        |FROM rn JOIN cr USING (day) GROUP BY 1 ORDER BY 1""".stripMargin,
    "q53_activity_islands" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        |  FROM events),
        |w AS (
        |  SELECT user_id, day,
        |         datediff('day', DATE '2024-01-01', day)
        |           - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM days)
        |SELECT user_id,
        |       strftime(MIN(day), '%Y-%m-%d') AS island_start,
        |       strftime(MAX(day), '%Y-%m-%d') AS island_end,
        |       COUNT(*) AS n_days
        |FROM w GROUP BY user_id, grp""".stripMargin,
    // the same B derivation; FULL OUTER + IS NOT DISTINCT FROM replays
    // the null-safe per-column compare
    "q50_snapshot_diff" ->
      """WITH a AS (SELECT c_custkey, c_name, c_mktsegment FROM customer),
        |b AS (SELECT c_custkey, c_name,
        |        CASE WHEN c_custkey % 5 = 0 THEN 'REWRITTEN'
        |             ELSE c_mktsegment END AS c_mktsegment
        |      FROM a WHERE c_custkey % 7 <> 0
        |      UNION ALL
        |      SELECT c_custkey + 1000000, c_name, c_mktsegment
        |      FROM a WHERE c_custkey % 11 = 0)
        |SELECT COALESCE(a.c_custkey, b.c_custkey) AS c_custkey,
        |       CASE WHEN b.c_custkey IS NULL THEN 'removed'
        |            WHEN a.c_custkey IS NULL THEN 'added'
        |            WHEN a.c_name IS NOT DISTINCT FROM b.c_name
        |             AND a.c_mktsegment IS NOT DISTINCT FROM b.c_mktsegment
        |            THEN 'same' ELSE 'changed' END AS status
        |FROM a FULL OUTER JOIN b ON a.c_custkey = b.c_custkey
        |ORDER BY c_custkey""".stripMargin,
    // generate_series grid + rank-1 close + IGNORE NULLS running last —
    // the definitional replay of the close/ffill rules
    "q49_resample_ffill" ->
      """WITH ev AS (SELECT user_id, ts, event_id,
        |        CAST(ROUND(value*100) AS BIGINT) AS cents FROM events),
        |dd AS (SELECT user_id, day, cents AS close FROM (
        |        SELECT user_id, CAST(ts AS DATE) AS day, cents,
        |               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                 ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM ev) WHERE rn = 1),
        |b AS (SELECT user_id, MIN(CAST(ts AS DATE)) AS d0,
        |             MAX(CAST(ts AS DATE)) AS d1 FROM ev GROUP BY 1),
        |g AS (SELECT user_id,
        |        CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
        |      FROM b)
        |SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day, dd.close,
        |       LAST_VALUE(dd.close IGNORE NULLS) OVER (
        |         PARTITION BY g.user_id ORDER BY g.day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        |FROM g LEFT JOIN dd ON dd.user_id = g.user_id AND dd.day = g.day
        |ORDER BY g.user_id, g.day""".stripMargin,
    // the definitional check: the merged state must equal a full
    // recompute over base ∪ delta
    "q48_incremental_agg" ->
      """SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
        |       CAST(SUM(CAST(ROUND(value*100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same LATERAL shape; inner-join semantics (customers with no orders
    // contribute nothing), identical tie order
    "q47_lateral_topk" ->
      """SELECT c.c_custkey, t.o_orderkey, t.price_cents
        |FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING') c,
        |LATERAL (
        |  SELECT o.o_orderkey,
        |         CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS price_cents
        |  FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY price_cents DESC, o.o_orderkey
        |  LIMIT 2) t
        |ORDER BY c.c_custkey, t.price_cents DESC, t.o_orderkey""".stripMargin,
    // lead-window replay of the grouped ordered-sequence n-grams: a
    // trigram exists exactly where two leads are non-null
    "q46_event_paths" ->
      """WITH o AS (SELECT user_id, event_type,
        |  LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t2,
        |  LEAD(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t3
        |  FROM events),
        |p AS (SELECT event_type || '>' || t2 || '>' || t3 AS path
        |      FROM o WHERE t3 IS NOT NULL)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n
        |FROM p GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,
    // window-rank replay of the max_by reduction; FULL OUTER + op filter
    // reproduces upsert/insert/delete/pass-through in one pass
    "q45_merge_changes" ->
      """WITH ch AS (SELECT user_id AS id, ts, event_id,
        |        CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
        |        'seg_' || event_type AS segment
        |      FROM events),
        |last AS (SELECT id, op, segment FROM (
        |        SELECT id, op, segment,
        |               ROW_NUMBER() OVER (PARTITION BY id
        |                 ORDER BY ts DESC, event_id DESC) AS rn
        |        FROM ch) WHERE rn = 1),
        |b AS (SELECT c_custkey AS id, c_mktsegment AS segment FROM customer)
        |SELECT COALESCE(b.id, l.id) AS id,
        |       CASE WHEN l.id IS NOT NULL THEN l.segment ELSE b.segment END AS segment
        |FROM b FULL OUTER JOIN last l ON b.id = l.id
        |WHERE l.op IS NULL OR l.op <> 'D'
        |ORDER BY id""".stripMargin,
    "q70_kcore" -> kCoreOracleSql(k = 2, rounds = 8),
    // 3 unrolled weighted min-relax rounds ≡ the bounded Bellman-Ford;
    // every CTE MATERIALIZED (each d_i is referenced twice by d_{i+1})
    "q71_sssp" ->
      """WITH edges AS MATERIALIZED (
        |  SELECT src, dst, CAST(FLOOR(1000.0 / n) AS BIGINT) AS w FROM (
        |    SELECT CAST(s_nationkey AS BIGINT) AS src,
        |           CAST(c_nationkey AS BIGINT) AS dst, COUNT(*) AS n
        |    FROM lineitem
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN supplier ON l_suppkey = s_suppkey
        |    WHERE s_nationkey <> c_nationkey
        |    GROUP BY 1, 2)),
        |seeds AS MATERIALIZED (SELECT CAST(n_nationkey AS BIGINT) AS node
        |          FROM nation WHERE n_regionkey = 2),
        |nodes AS MATERIALIZED (SELECT src AS node FROM edges
        |          UNION SELECT dst FROM edges UNION SELECT node FROM seeds),
        |d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds),
        |d1 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
        |         SELECT node, dist FROM d0
        |         UNION ALL
        |         SELECT e.dst, p.dist + e.w FROM edges e JOIN d0 p ON e.src = p.node
        |       ) GROUP BY node),
        |d2 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
        |         SELECT node, dist FROM d1
        |         UNION ALL
        |         SELECT e.dst, p.dist + e.w FROM edges e JOIN d1 p ON e.src = p.node
        |       ) GROUP BY node),
        |d3 AS MATERIALIZED (SELECT node, MIN(dist) AS dist FROM (
        |         SELECT node, dist FROM d2
        |         UNION ALL
        |         SELECT e.dst, p.dist + e.w FROM edges e JOIN d2 p ON e.src = p.node
        |       ) GROUP BY node)
        |SELECT n_name, CAST(d3.dist AS BIGINT) AS dist
        |FROM nodes n LEFT JOIN d3 ON n.node = d3.node
        |JOIN nation ON n.node = n_nationkey""".stripMargin,
  )
}
