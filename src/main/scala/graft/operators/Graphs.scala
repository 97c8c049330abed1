package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.PlanScope

/** Iterative graph algorithms beyond the transitive-closure fixpoint in
  * [[Dedup.components]]: PageRank (plain and edge-weighted) — the
  * "importance over a link graph" signal a web-scale curation pipeline
  * uses to weight domains/documents — plus multi-source BFS hop distance
  * ([[bfsHops]]), bounded Bellman-Ford shortest paths ([[ssspBounded]]),
  * clamped label propagation ([[labelPropagate]]) and bounded k-core
  * peel ([[kCore]]).
  *
  * All rank arithmetic is exact integer micro-units with floor division on
  * non-negative operands, so every engine (and the DuckDB oracle's
  * unrolled-CTE replay) produces bit-identical ranks — no float summation
  * order, no convergence epsilon.
  *
  * == Plan scoping ==
  * Every loop operator runs one protocol ([[iterate]]) on conf-ISOLATED
  * session clones ([[graft.ops.PlanScope.isolated]], pooled by conf
  * fingerprint): a concurrent query on the caller's session NEVER
  * observes the loop's confs — it plans under AQE as usual while a
  * fixpoint runs. Two scopes per operator:
  *
  *  - the edge DERIVATION runs in the static scope
  *    ([[graft.ops.PlanScope.isolatedStatic]], AQE off) and is
  *    materialized by one count, which also sizes the loop. Static
  *    planning pays one driver job per action instead of one per
  *    exchange — priced by an interleaved 5-rep A/B at sf0.1 (uniform
  *    AND an 80%-hot-key skewed derivation): the adaptive derivation
  *    paid +3 dispatch jobs and ~1.2-1.6 s on a dispatch-floor-bound
  *    host, with identical results. A derivation that does need AQE (a
  *    skewed join key in a 100 TB multi-join, where skew-split keeps one
  *    straggler partition from owning the job) is materialized by the
  *    caller under its own conf first: `persist()` the edge frame and
  *    `count()` it before the call. The derivation scope then reads
  *    those cached blocks (`InMemoryTableScan`, nothing recomputes) —
  *    the rebind-reads-the-cache property `PlanScopeSpec` pins.
  *  - a LOOP scope (AQE off, partitions pinned to the measured edge
  *    count, broadcasts off): every round re-executes the same known
  *    shape (|V|-sized frame shuffled to the pre-partitioned edge cache,
  *    then a map-side-partial aggregate), so per-round re-planning buys
  *    no information while charging a driver walk and a stage-job
  *    dispatch per exchange per round — measured on the board's graph
  *    queries: identical results, 25 → 3 driver jobs, ~2× wall-time.
  *    AQE's skew-join split could not help these joins anyway (the big
  *    side is a CACHED pre-partitioned frame, not a re-splittable
  *    shuffle), and dst-skew collapses in the partial aggregate before
  *    the exchange. Broadcasts are off because a loop join's big side is
  *    the edge cache, so a broadcast could only replace the |V|-sized
  *    side's one-exchange shuffle — while charging a broadcast-build
  *    driver job per round.
  *
  * Results leave the way inputs enter, through
  * [[graft.ops.PlanScope.rebind]] ([[handoff]]): the loop's result is
  * persisted and materialized INSIDE the loop scope (one driver job), the
  * loop's scaffolding pins are released, and the frame is re-bound onto
  * the caller's session. Spark's cache manager is shared across sessions,
  * so the caller-bound frame reads the scope's cached blocks
  * (`InMemoryTableScan`) while any query composed on it (e.g.
  * `pageRank(e).join(bigFact)`) plans under the caller's own conf — AQE,
  * broadcasts, corpus-sized partitions — not the loop clone's static
  * conf. `result.unpersist()` (or [[detachSmall]]) releases the one cache
  * entry the call leaves registered.
  */
object Graphs {

  /** PageRank over an edge list, `iters` synchronous iterations in exact
    * integer micro-units (per-node formulation, teleport base
    * `1e6·(100-dampE2)/100`, so ranks sum to ≈ 1e6·|V|):
    *
    *   r0(v)   = 1_000_000
    *   r_i(v)  = teleport + (dampE2 · Σ_{u→v} (r_{i-1}(u) div od(u))) div 100
    *
    * Dangling mass (nodes with no out-edges) is dropped, matching the
    * "toolbar" PageRank variant; nodes with no in-edges settle at the
    * teleport base. Self-loops are the caller's choice — edges pass
    * through distinct() but are otherwise taken as given.
    *
    * Scale shape (the Pregel cost model): the edge list joined with its
    * out-degrees is computed ONCE, hash-partitioned by `src`, and
    * persisted — each iteration then pays exactly two exchanges, ranks
    * shuffled to the edge partitioning (join on src) and contributions
    * aggregated by dst (map-side partial sums). Ranks are |V|-sized,
    * edges |E|-sized; nothing corpus-sized is ever collected. Lineage is
    * cut ([[Cuts]], the [[graft.ops.PlanScope.cut]] boundary
    * `Dedup.components` takes every round) at the CutEvery cadence, so
    * every action plans at bounded depth, executor loss replays at most
    * CutEvery rounds, and deep iteration counts stay linear-cost while
    * shallow runs pay a single materialization: the exit's. The returned frame is
    * persisted and bound to the caller's session (see the object doc).
    *
    * @param edges (src: long-castable, dst: long-castable) directed edges
    * @return (node: long, rank_e6: long)
    */
  def pageRank(edges: DataFrame, iters: Int, dampE2: Int = 85): DataFrame =
    pageRankWeighted(
      edges.select(col("src"), col("dst")).distinct().withColumn("w", lit(1L)),
      iters, dampE2)

  /** A loop's lineage cuts through [[graft.ops.PlanScope.cut]]: cut,
    * count the pinned frame (which fills its blocks), release the previous
    * cut, and hand downstream rounds the flat face. [[held]] is the pinned
    * frame of the cut still held, for the exit's release list. */
  private final class Cuts {
    private var last: Option[PlanScope.Cut] = None

    /** Cut `next` now: (the cut, row count). */
    def apply(next: DataFrame): (PlanScope.Cut, Long) = {
      val cut = PlanScope.cut(next)
      val n = cut.pinned.count()
      last.foreach(_.release())
      last = Some(cut)
      (cut, n)
    }

    /** Cut at round `r` of `rounds` on the CutEvery cadence, else pass
      * `next` through lazily. The last round never cuts: the exit's
      * count is its materialization (≤ CutEvery rounds over the last cut
      * — an iteration count that is a multiple of CutEvery leaves the
      * full-cadence suffix lazy, still far below the AQE-nesting onset,
      * and loops run AQE-off). */
    def atCadence(r: Int, rounds: Int, next: DataFrame): DataFrame =
      if (r % CutEvery == 0 && r != rounds) apply(next)._1.flat else next

    def held: Seq[DataFrame] = last.map(_.pinned).toSeq
  }

  /** Exit boundary of every loop operator (see the object doc): persist
    * `out` and materialize it inside the loop scope through the
    * InternalRow RDD — ONE driver job, vs `count()` whose SQL aggregate
    * adds a shuffle for a number nobody reads. Safe because nothing has
    * forced `out`'s query execution yet, so its lazy planning sees the
    * persist() entry. `out` usually arrives LAZY (the final rounds, see
    * [[Cuts.atCadence]]), making this count the loop's last
    * materialization too. `releaseAfter` holds the scaffolding pins (edge
    * cache, node cache, last cut): they feed this count, so they release
    * only after it — and since `out` is loaded by then, releasing them
    * never re-plans it. An `out` that is already persisted and
    * materialized (kCore's converged cut) passes through without a
    * second count. The caller-bound frame is [[graft.ops.PlanScope.rebind]]
    * of `out`: it reads the same cache entry, so `result.unpersist()`
    * releases it. */
  private def handoff(out: DataFrame, caller: SparkSession,
      releaseAfter: Seq[DataFrame]): DataFrame = {
    if (out.storageLevel == StorageLevel.NONE) {
      out.persist(StorageLevel.MEMORY_AND_DISK)
      out.queryExecution.toRdd.count()
    }
    releaseAfter.foreach(_.unpersist(blocking = false))
    PlanScope.rebind(out, caller)
  }

  /** Lineage-cut cadence for the iterative loops: materialize + re-root
    * every CutEvery rounds (never at the last). Shallow runs — the 2-5
    * iteration shapes a board query uses — pay exactly ONE materialization
    * (identical action count to a cut-at-the-end-only loop), while deep
    * runs keep every action's plan at depth ≤ CutEvery, far below the
    * measured AQE-nesting blowup onset (~11 nested rounds; see
    * [[graft.ops.PlanScope.cut]]). Executor loss replays at most
    * CutEvery rounds from the previous cut's cached blocks. */
  private val CutEvery = 4

  /** Shuffle-partition count for an iterative loop whose per-round frames
    * are |V|-sized and whose cached edge side is |E|-sized: enough
    * partitions that no task sorts more than ~4M edge rows or ~64k node
    * rows, but NEVER above the session's `spark.sql.shuffle.partitions` —
    * the caller sized that for the corpus, and a loop only shrinks it when
    * the graph is measurably smaller (a nation/domain graph inside a
    * corpus-sized session). Both counts are already on hand: the loops
    * materialize their edge and node caches before iterating. */
  private[graft] def loopPartitions(sessionSp: Int, nEdges: Long, nNodes: Long): Int = {
    val sized = math.max(1L, math.max((nEdges + (1L << 22) - 1) >> 22,
      (nNodes + (1L << 16) - 1) >> 16))
    // round UP to a power of two before the session cap: the count feeds
    // the loop scope's conf fingerprint (PlanScope.isolated pools one
    // immortal session clone per distinct fingerprint), so quantizing
    // keeps the pool bounded at log2 distinct sizes as graphs vary —
    // the same rationale as PlanScope.sizedPartitions' rounding. The
    // possible values are {1,2,4,...} ∪ {sessionSp}: still bounded.
    val pow2 = if (sized >= (1L << 30)) Int.MaxValue
      else Integer.highestOneBit(sized.toInt * 2 - 1)
    math.min(math.max(sessionSp, 1).toLong, pow2.toLong).toInt
  }

  /** The loop scope's conf fingerprint (see the object doc). */
  private def loopConfs(nPart: Int): Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "false",
    "spark.sql.shuffle.partitions" -> nPart.toString,
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  /** The protocol every loop operator shares (see the object doc):
    *
    *  1. derive the `projected` edge frame in the static derivation
    *     scope, persist it and count it — the caller's whole
    *     edge-building plan executes inside this one count;
    *  1. size the loop's partitions from the operator's
    *     `(nEdges, nNodes)` rule over that count ([[loopPartitions]]).
    *     The default rule sizes by |E| alone: |V| ≤ 2|E| whenever every
    *     node has an incident edge (seed-only nodes add |seeds|, and a
    *     seed set larger than the edge list is not a graph problem);
    *  1. open the loop scope and rebind the edge cache into it (the
    *     analyzed plan is unchanged, so the shared cache manager matches
    *     it and the loop reads its cached blocks — the derivation never
    *     re-executes in scope);
    *  1. run `body(scope, edges, nPart)`, which returns the lazy (or
    *     persisted-and-materialized) result and the scaffolding pins to
    *     release after it;
    *  1. [[handoff]] the result to the caller; the body's pins and the
    *     edge cache release after the exit count. A body that re-hangs
    *     the edges into its own cache may release the raw one early
    *     (`edges.unpersist`), so the edge bytes are not cached twice;
    *     unpersist is a no-op the second time. */
  private def iterate(edges: DataFrame, projected: DataFrame => DataFrame,
      sizes: Long => (Long, Long) = nE => (nE, 2 * nE))(
      body: (SparkSession, DataFrame, Int) => (DataFrame, Seq[DataFrame])): DataFrame = {
    val caller = edges.sparkSession
    val (derived, nE) = PlanScope.isolatedStatic(caller) { derive =>
      val e = projected(PlanScope.rebind(edges, derive))
        .persist(StorageLevel.MEMORY_AND_DISK)
      (e, e.count())
    }
    val (nEdges, nNodes) = sizes(nE)
    val nPart = loopPartitions(caller.sessionState.conf.numShufflePartitions, nEdges, nNodes)
    PlanScope.isolated(caller, loopConfs(nPart): _*) { scoped =>
      val e = PlanScope.rebind(derived, scoped)
      val (out, releaseAfter) = body(scoped, e, nPart)
      handoff(out, caller, releaseAfter :+ e)
    }
  }

  /** (src, dst, w) cast to longs — the weighted loops' projection. */
  private def weighted(edges: DataFrame): DataFrame = edges.select(
    col("src").cast("long").as("src"), col("dst").cast("long").as("dst"),
    col("w").cast("long").as("w"))

  /** The undirected simple graph: direction dropped, self-loops removed,
    * multi-edges collapsed, each edge once as `(a, b)` with `a < b`. */
  private def undirected(edges: DataFrame): DataFrame = edges
    .select(col("src").cast("long").as("s"), col("dst").cast("long").as("d"))
    .filter(col("s") =!= col("d"))
    .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
    .distinct()

  /** Cache-release contract for the iterative operators
    * ([[pageRank]]/[[pageRankWeighted]]/[[triangles]]/[[labelPropagate]]/
    * [[bfsHops]]/[[ssspBounded]]/[[kCore]]): each RETURNS the persisted,
    * already-materialized |V|-sized result frame — the pin is on the
    * returned frame itself, so `result.unpersist()` releases every block
    * the call left registered (edge/node/intermediate cuts are released
    * internally before return). A long-lived session calling these
    * per-batch MUST release: either `result.unpersist()` once consumed,
    * or — for results known bounded (a nation/domain-level graph, a
    * top-k report) — [[detachSmall]], which copies the rows into a
    * plan-free LocalRelation and releases immediately, leaving zero
    * registered blocks. Callers that feed the result into a further
    * iterative loop should re-root it with
    * `graft.ops.PlanScope.cut(result).flat` to keep AQE plan nesting at
    * depth 1: the result is already persisted, so the cut adds no cache
    * entry and `result.unpersist()` still releases it. */
  def detachSmall(df: DataFrame, maxRows: Int = 1 << 20): DataFrame =
    graft.ops.Detach.toLocal(df, maxRows, df.sparkSession,
      s"detachSmall: result exceeds $maxRows rows — keep the persisted frame " +
        "and release with unpersist() after consumption instead") {
      df.unpersist(blocking = false); ()
    }

  /** [[pageRank]] with per-edge weights: node u spreads its rank in
    * proportion to edge weight, `contribution(u→v) = (r(u)·w_uv) div sw(u)`
    * with `sw(u) = Σ_v w_uv` — the domain-authority form where link
    * multiplicity (or trust) matters. The unweighted entry point is the
    * w=1 special case of this loop (`(r·1) div od` ≡ `r div od`, so its
    * results are bit-identical to the standalone formulation).
    *
    * Integer contract: ranks stay ≤ |V|·1e6 (mass is never created), so
    * the r·w product needs `max_weight < 2^63 / (|V|·1e6)` — loud
    * overflow territory only for weights beyond ~10¹² on a million-node
    * graph; weigh down (divide all weights by a constant) before calling
    * if the corpus is hotter than that.
    *
    * @param edges (src, dst, w: long-castable positive weights); duplicate
    *              (src,dst) rows are NOT collapsed — pre-aggregate weights
    */
  def pageRankWeighted(edges: DataFrame, iters: Int, dampE2: Int = 85): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(dampE2 >= 0 && dampE2 <= 100, s"dampE2 must be in [0,100], got $dampE2")
    val teleport = 1000000L * (100 - dampE2) / 100
    // The projected edge frame is cached FIRST (by iterate): it feeds the
    // eod join's probe side and the eod join's out-weight aggregate —
    // uncached, each would re-execute the caller's whole edge-building
    // plan (a multi-join at corpus scale). The node-universe distinct
    // runs INSIDE the scope at the loop's own partitioning.
    iterate(edges, weighted) { (_, e, nPart) =>
      // Out-weight rides with every edge so the per-iteration contribution
      // is a pure projection after the ranks join; partitioned by src once
      // so iterations shuffle only the |V|-sized ranks frame, never the
      // edges. Materialized eagerly so the raw edge cache can be released
      // before the loop (holding both doubles the cached edge bytes).
      val eod = e
        .join(e.groupBy("src").agg(sum(col("w")).as("sw")), "src")
        .repartition(nPart, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      eod.count()
      e.unpersist(blocking = false)
      // Node universe from the CACHED eod (the inner out-weight join keeps
      // every edge row, so src∪dst over eod ≡ over the raw edges). Lazily
      // persisted — the first round's cut (or the exit) materializes it;
      // no standalone driver job.
      val nodes = eod.select(col("src").as("node"))
        .union(eod.select(col("dst").as("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)

      var ranks = nodes.select(col("node"), lit(1000000L).as("rank_e6"))
      val cuts = new Cuts
      for (r <- 1 to iters) {
        val contrib = eod
          .join(ranks, eod("src") === ranks("node"))
          .select(col("dst"), expr("(rank_e6 * w) div sw").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("in_c"))
        val next = nodes
          .join(contrib, nodes("node") === contrib("dst"), "left")
          .select(col("node"),
            (lit(teleport) +
              expr(s"($dampE2 * coalesce(in_c, CAST(0 AS BIGINT))) div 100"))
              .as("rank_e6"))
        ranks = cuts.atCadence(r, iters, next)
      }
      (ranks, Seq(eod, nodes) ++ cuts.held)
    }
  }

  /** Per-node triangle participation counts of the UNDIRECTED simple
    * graph induced by `edges` (direction dropped, self-loops ignored,
    * multi-edges collapsed) — the local clustering signal link-graph
    * curation uses to separate organic neighborhoods (high closure) from
    * spam farms and crawler artifacts (star-shaped, closure ≈ 0).
    *
    * DEFAULT PLAN: the degree-ordered orientation
    * ([[trianglesDegreeOrdered]]) — O(|E|^1.5) wedge work on ANY graph,
    * including power-law hubs. [[trianglesRawOriented]] keeps the
    * simpler raw-id orientation as the spec cross-check (identical
    * counts by construction, but Σ deg(v)² wedge fan-out — quadratic in
    * the hub degree, the wrong default for a 100 TB link graph).
    *
    * Returns a persisted, materialized frame — same release contract as
    * [[pageRank]] (`result.unpersist()` once consumed, or
    * [[detachSmall]] for bounded reports).
    *
    * @param edges (src, dst) long-castable; orientation ignored
    * @return (node: long, n_triangles: long)
    */
  def triangles(edges: DataFrame): DataFrame = trianglesDegreeOrdered(edges)

  /** Extend an additive edge-weight artifact with a delta batch's pair
    * counts: union + one re-aggregate on the pair key. EXACT because the
    * weight is a sum over disjoint fact slices —
    * `mergeEdgeCounts(counts(base), counts(delta)) ≡ counts(base ∪ delta)`
    * — the graph-family analogue of `TextSearch.extendTextIndex` /
    * `Similarity.extendIvf`: a link-graph release artifact stays fresh
    * under new crawl batches without a fact-table rescan (oracle-checked
    * by d23_link_extend against a full rebuild; the streaming face is
    * `StreamingOps.linkGraphSink`).
    *
    * Scale shape: the base side is the already-reduced |pairs|-sized
    * artifact, the delta side scans only the new facts; one exchange on
    * (src, dst) with map-side partials. Against a bucketed artifact
    * table (`Serving.tradePairCounts`'s layout) the base side reads
    * straight from its buckets.
    *
    * @param base   (`srcCol`, `dstCol`, `weightCol`) — the released artifact
    * @param delta  (`srcCol`, `dstCol`, `weightCol`) — the new batch, same reduction
    * @param srcCol / dstCol endpoint key columns (both frames must carry them)
    */
  def mergeEdgeCounts(base: DataFrame, delta: DataFrame,
      weightCol: String = "n",
      srcCol: String = "src", dstCol: String = "dst"): DataFrame = {
    Seq("base" -> base, "delta" -> delta).foreach { case (side, df) =>
      val missing = Seq(srcCol, dstCol, weightCol).filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"mergeEdgeCounts: $side side lacks column(s) ${missing.mkString(",")} " +
          s"— pass srcCol/dstCol/weightCol matching the artifact's schema")
    }
    base.select(col(srcCol), col(dstCol), col(weightCol))
      .unionByName(delta.select(col(srcCol), col(dstCol), col(weightCol)))
      .groupBy(col(srcCol), col(dstCol))
      .agg(sum(col(weightCol)).as(weightCol))
  }

  /** Raw-id-oriented wedge join, each triangle counted exactly once:
    * edges canonicalize to `a < b`, wedges `x < y < z` form by joining
    * on the middle vertex, and a left-semi probe against the canonical
    * edge set keeps only closed wedges. Two equi-joins over the edge
    * list — never nodes² — but wedge fan-out is Σ deg(v)² under the
    * raw-id orientation, quadratic in a power-law hub's degree: use
    * [[triangles]] (degree-ordered) anywhere the degree distribution is
    * not known to be flat. Kept as the independent formulation the spec
    * pins [[trianglesDegreeOrdered]]'s counts against. Only nodes in
    * ≥ 1 triangle appear; left-join the node universe for dense
    * reports. Not iterative — plans under the caller's own (adaptive)
    * conf like any ad-hoc corpus query.
    *
    * @param edges (src, dst) long-castable; orientation ignored
    * @return (node: long, n_triangles: long)
    */
  def trianglesRawOriented(edges: DataFrame): DataFrame = {
    val und = undirected(edges)
    val tri = und.as("e1")
      .join(und.as("e2"), col("e1.b") === col("e2.a"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))
      .join(und.select(col("a").as("x"), col("b").as("z")), Seq("x", "z"), "left_semi")
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** DEGREE-ORDERED triangle counting (what [[triangles]] runs) — the
    * node-iterator++ variant every corpus-scale triangle count needs:
    * edges orient from the (degree, id)-smaller endpoint to the larger,
    * so every wedge forms at its triangle's MINIMUM-degree vertex and
    * wedge fan-out is bounded by Σ out-deg(v)² with out-deg ≤ O(√|E|)
    * for ANY graph — O(|E|^1.5) total work even on power-law hubs,
    * where raw-id orientation ([[trianglesRawOriented]]) can go
    * quadratic in the hub degree (a 10⁶-degree hub contributes 5·10¹¹
    * wedges there, ~10⁶ here).
    * Identical counts by construction: each triangle is counted exactly
    * once either way (spec-pinned equality on skewed fixtures, and the
    * q72 board row replays q69's oracle over the same graph). Costs one
    * extra degree aggregate + two joins hanging the degrees on the edge
    * list — the price of hub safety, paid once before the wedge join.
    *
    * Runs the loop protocol ([[iterate]]) although it is one action: the
    * wedge chain is a FIXED shape whose skew is already bounded by the
    * orientation itself — max out-degree O(√|E|) by construction — so
    * AQE's skew-split insurance buys nothing there and its per-exchange
    * stage jobs were the only thing the chain dispatched (board census:
    * 14 of q69's 15 jobs). Static scope, partitions sized from the
    * measured |E|, broadcasts off (the closing-edge probe joins two
    * |E|-sized sides; degree frames shuffle-join against the same
    * partitioning); the exit's count runs the chain.
    *
    * @param edges (src, dst) long-castable; orientation ignored
    * @return (node: long, n_triangles: long)
    */
  def trianglesDegreeOrdered(edges: DataFrame): DataFrame =
    iterate(edges, undirected, nE => (nE, nE)) { (_, und, _) =>
      (trianglesDegreeOrderedChain(und), Nil)
    }

  /** The wedge chain on an already-derived canonical edge frame —
    * see [[trianglesDegreeOrdered]] for the plan rationale. */
  private def trianglesDegreeOrderedChain(und: DataFrame): DataFrame = {
    val deg = und.select(explode(array(col("a"), col("b"))).as("n"))
      .groupBy(col("n")).agg(count(lit(1)).as("dg"))
    // hang both endpoint degrees, orient by (degree, id): src = the
    // smaller endpoint under that order, its degree rides along so the
    // closing-edge probe can re-derive each candidate edge's orientation
    val withDeg = und
      .join(deg.select(col("n").as("a"), col("dg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("dg").as("db")), "b")
    val oriented = withDeg.select(
      when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
        struct(col("a").as("u"), col("b").as("v"), col("db").as("dv")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"), col("da").as("dv")))
        .as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"), col("e.dv").as("dv"))
    // wedges at the minimum vertex: pairs of out-neighbors of u; the
    // closing edge (y, z) is oriented from its own (degree, id)-smaller
    // endpoint, reconstructed from the carried degrees
    val tri = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.u") === col("e2.u") &&
          (col("e1.dv") < col("e2.dv") ||
            (col("e1.dv") === col("e2.dv") && col("e1.v") < col("e2.v"))))
      .select(col("e1.u").as("x"), col("e1.v").as("y"), col("e2.v").as("z"))
      .join(oriented.select(col("u").as("y"), col("v").as("z")),
        Seq("y", "z"), "left_semi")
    tri.select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
  }

  /** Multi-source BFS hop distance: for every node, the minimum number of
    * directed edges from ANY seed node (seeds at distance 0; unreachable
    * within `maxRounds` → null). The "how far from a trusted hub" signal
    * domain-trust pipelines compute.
    *
    * Frontier-driven like [[graft.ops.Hierarchy.ancestorClosure]]: round
    * i relaxes only the nodes first reached at distance i-1 (one
    * equi-join + anti-join against the settled set per round, each
    * keyed), so total work is O(|E|·rounds) worst case but each edge is
    * effectively traversed once per endpoint settlement; the loop stops
    * at convergence (empty frontier) or `maxRounds`, whichever first —
    * running past convergence cannot change the result, so a fixed-round
    * replay (the oracle) agrees whenever it covers the true eccentricity.
    * The seed frontier is not pre-counted: round 1's convergence count
    * materializes it (the sentinel entry), one driver job per round.
    *
    * @return (node, dist: int nullable)
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame, maxRounds: Int): DataFrame = {
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    iterate(edges, _.select(
        col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      .distinct()) { (scoped, e0, nPart) =>
      // Re-hang the edge cache on the JOIN key: distinct() leaves the
      // frame hash-partitioned on (src, dst), which does NOT satisfy the
      // per-round join's src-distribution — without this one-time
      // repartition, EVERY round re-shuffles the whole |E| frame to reach
      // the frontier (rounds × |E| exchange bytes at corpus scale; the
      // frontier is the side that should move).
      val e = e0.repartition(nPart, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // e's cache population RIDES the first counted round (round 2's
      // drain count is the loop's first action and fills it) instead of
      // paying its own driver job; e0's upstream cache releases right
      // after that first count (flag below), so the two edge caches
      // overlap for at most two rounds — not the whole loop
      var e0Released = false
      val seedNodes = PlanScope.rebind(seeds, scoped)
        .select(col("node").cast("long").as("node"))
      // settled is a lazy union of the per-round PERSISTED frontiers: the
      // only action per round is the (small) frontier count — the frame
      // that also decides convergence — never a re-materialization of the
      // whole settled set.
      var frontier = seedNodes.select(col("node"), lit(0).as("dist"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      var settled = frontier
      var spent = Vector(frontier)
      var round = 1
      var frontierSize = 1L // sentinel — the first counted round materializes it
      while (round <= maxRounds && frontierSize > 0) {
        val reached = e.join(frontier, e("src") === frontier("node"))
          .select(col("dst").as("node")).distinct()
        val fresh0 = reached.join(settled.select(col("node").as("__s")),
            reached("node") === col("__s"), "left_anti")
          .select(col("node"), lit(round).as("dist"))
        // STRIDE-2 drain checks (the kCore discipline): an empty frontier
        // stays empty, so counting every second round (and the bound
        // round) still detects the drain — halving the search's
        // driver-job count. Unlike kCore's peel, every bfs frontier has
        // TWO-PLUS consumers (the next round's relaxation join AND the
        // settled union the exit scans), so an uncounted round must still
        // PERSIST: the persist itself is free of driver jobs — the next
        // counted round's join materializes the cache as a side effect —
        // while a lazy odd frame re-executed its whole relaxation subtree
        // per consumer (measured +0.65 s norm on the sf0.1 board, erasing
        // the 2-job saving three times over). CutEvery (4) is even, so
        // every flat-re-rooted frame is a counted one.
        val fresh = {
          val p = fresh0.persist(StorageLevel.MEMORY_AND_DISK)
          spent :+= p
          if (round % 2 == 0 || round == maxRounds) {
            frontierSize = p.count()
            if (!e0Released) { e0.unpersist(blocking = false); e0Released = true }
          }
          p
        }
        // flat re-root at the CutEvery cadence: settled stays a union of
        // bounded-depth scans over the cached frontiers instead of nesting
        // every round's adaptive plan inside the next (the exponential AQE
        // walk — see PlanScope.cut). `fresh` is already persisted, so the
        // cut adds no cache entry; `spent` releases it at the exit.
        val freshFlat = if (round % CutEvery == 0) PlanScope.cut(fresh).flat else fresh
        settled = settled.unionByName(freshFlat)
        frontier = freshFlat
        round += 1
      }
      // node universe from the loop-cached edge frame + seeds — the whole
      // exit stays LAZY over the cached frontiers; handoff's count is the
      // single exit materialization
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .union(seedNodes)
        .distinct()
      val out = nodes
        .join(settled.select(col("node").as("__n"), col("dist")),
          nodes("node") === col("__n"), "left")
        .select(col("node"), col("dist"))
      (out, spent :+ e)
    }
  }

  /** Clamped synchronous label propagation over a weighted directed graph
    * (Zhu & Ghahramani style): seed nodes keep their label forever; every
    * other node re-decides each round as the weight-argmax of its in-
    * neighbors' current labels (ties → smallest label id; no labeled
    * in-neighbor → stays unlabeled). The graph-based semi-supervised
    * labeler a curation pipeline uses to spread a handful of human labels
    * (spam/quality/topic) over a link or similarity graph.
    *
    * Each round is ONE (edges ⋈ labels) equi-join + a grouped weight sum
    * + a per-node argmax aggregate — two exchanges, all map-side-partial;
    * votes are exact integer weight sums so the argmax (and the whole
    * propagation) is engine-portable.
    *
    * @param edges (src, dst, w: positive long weights)
    * @param seeds (node, label: long) — clamped
    * @return (node, label: long nullable)
    */
  def labelPropagate(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    iterate(edges, weighted) { (scoped, e0, nPart) =>
      // One-time re-hang on the join key (see bfsHops): the caller's edge
      // frame arrives with arbitrary partitioning, so without this every
      // round's labels join re-shuffles the whole |E| frame instead of
      // moving only the |V|-sized label frame.
      val e = e0.repartition(nPart, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      e.count()
      e0.unpersist(blocking = false)
      val seed = PlanScope.rebind(seeds, scoped)
        .select(col("node").cast("long").as("node"),
          col("label").cast("long").as("__seed"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // isolated seed nodes (no edges) stay in the output with their
      // clamped label — same node-universe contract as bfsHops. Lazily
      // persisted from the loop-cached edge frame: the first round's cut
      // materializes both caches, no standalone driver job.
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .union(seed.select(col("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      var lab = nodes.join(seed, Seq("node"), "left")
        .select(col("node"), col("__seed").as("label"))
      val cuts = new Cuts
      for (r <- 1 to rounds) {
        val win = e
          .join(lab.filter(col("label").isNotNull), e("src") === col("node"))
          .groupBy(col("dst"), col("label")).agg(sum(col("w")).as("v"))
          .groupBy(col("dst"))
          .agg(max_by(col("label"), struct(col("v"), -col("label"))).as("__win"))
        val next = nodes.join(seed, Seq("node"), "left")
          .join(win, nodes("node") === win("dst"), "left")
          .select(col("node"), coalesce(col("__seed"), col("__win")).as("label"))
        lab = cuts.atCadence(r, rounds, next)
      }
      (lab, Seq(e, nodes, seed) ++ cuts.held)
    }
  }

  /** Bounded-round multi-source weighted shortest paths (Bellman-Ford
    * min-relax): for every node, the minimum total edge weight from ANY
    * seed within `rounds` hops (seeds at distance 0; unreachable within
    * the budget → null). The weighted companion to [[bfsHops]] — the
    * "cheapest trust path" signal when edges carry counts or costs —
    * with the synchronous relax semantics every engine replays exactly:
    * round i improves each node once from all in-edges, so a
    * fixed-round unrolled SQL replay (the oracle) is bit-identical,
    * converged or not. Running past convergence cannot change distances
    * (min-relax is monotone), so a budget covering the true weighted
    * diameter returns the exact shortest paths.
    *
    * Scale shape: same as [[bfsHops]] — edges cached and repartitioned
    * once on `src` under the loop scope, each round ONE relax-join +
    * min-aggregate, the |V|-sized distance frame is the only moving
    * side; per-round cost O(|E|), rounds bounded. Unlike the frontier
    * BFS, every round relaxes ALL settled nodes (weighted distances can
    * improve after first settlement), which is the honest Bellman-Ford
    * cost model. Returns the persisted frame — the [[detachSmall]]
    * release contract.
    *
    * @param edges (src, dst, w: non-negative long weights)
    * @param seeds (node)
    * @return (node: long, dist: long nullable)
    */
  def ssspBounded(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 0, s"rounds must be >= 0, got $rounds")
    iterate(edges, weighted) { (scoped, e0, nPart) =>
      val e = e0.repartition(nPart, col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      e.count()
      e0.unpersist(blocking = false)
      val seedNodes = PlanScope.rebind(seeds, scoped)
        .select(col("node").cast("long").as("node"))
      var dist = seedNodes.select(col("node"), lit(0L).as("dist"))
        .distinct()
      val cuts = new Cuts
      for (r <- 1 to rounds) {
        val relaxed = e.join(dist, e("src") === dist("node"))
          .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
        val next = dist.unionByName(relaxed)
          .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        dist = cuts.atCadence(r, rounds, next)
      }
      // node universe from the loop-cached edge frame + seeds — the exit
      // stays lazy; handoff's count is the single exit materialization
      val nodes = e.select(col("src").as("node"))
        .union(e.select(col("dst").as("node")))
        .union(seedNodes)
        .distinct()
      val out = nodes
        .join(dist.select(col("node").as("__n"), col("dist")),
          nodes("node") === col("__n"), "left")
        .select(col("node"), col("dist"))
      (out, e +: cuts.held)
    }
  }

  /** Bounded-round k-core peel over an undirected graph: repeatedly drop
    * every node whose degree (within the surviving subgraph) is < `k`,
    * up to `maxRounds` rounds or to fixpoint, whichever first. At
    * fixpoint — which the loop detects and which a spec-pinned round
    * budget should cover — the result IS the k-core: the maximal
    * subgraph where every node keeps ≥ k neighbors. The graph-curation
    * use: a link or co-occurrence neighborhood that survives a 2- or
    * 3-core is organically dense; star-shaped spam and tree-like chaff
    * peel away entirely (their leaves fall first, then the hubs).
    *
    * Input edges are canonicalized (direction and multiplicity dropped,
    * self-loops removed); isolated nodes never enter (degree 0 < k ≤ 1).
    * If `maxRounds` is hit before fixpoint, the returned degrees are the
    * last recompute's — exactly the value an unrolled `maxRounds`-level
    * replay (the DuckDB oracle) produces, so bounded-round runs stay
    * engine-portable even un-converged.
    *
    * Scale shape: the doubled edge list is repartitioned ONCE on `node`
    * and cached; each round pays one semi-join per endpoint against the
    * |alive|-sized survivor frame plus one map-side-partial degree
    * aggregate, under the loop scope (AQE off, partitions sized to the
    * measured |E| — one driver job per round, the convergence count).
    * Nothing node²; peel work shrinks with the surviving set. Returns
    * the persisted frame itself — same release contract as [[pageRank]]
    * (see [[detachSmall]]).
    *
    * @param edges (src: long-castable, dst: long-castable), read undirected
    * @return (node: long, deg: long) — survivors with their core degree
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 0, s"maxRounds must be >= 0, got $maxRounds")
    iterate(edges, undirected, nE => (2 * nE, 2 * nE)) { (_, und, nPart) =>
      // both orientations, re-hung on the peel key (see bfsHops: without
      // this every round re-shuffles the whole edge frame)
      val dir = und.select(col("a").as("node"), col("b").as("other"))
        .unionByName(und.select(col("b").as("node"), col("a").as("other")))
        .repartition(nPart, col("node"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // dir stays EAGERLY populated (unlike bfsHops' ride-the-first-count
      // fusion): the peel's first counted plan references dir THREE times
      // (the degree aggregate and both alive semi-joins), and an uncached
      // InMemoryRelation recomputes per reference within that first job —
      // measured +0.3 s of duplicated pipeline at sf0.1 against the one
      // dispatch saved. One single-scan population job is the better
      // trade exactly when the loop body fans out over the cache.
      dir.count()
      und.unpersist(blocking = false)
      def peel(alive: DataFrame): DataFrame = dir
        .join(alive, Seq("node"), "left_semi")
        .join(alive.select(col("node").as("other")), Seq("other"), "left_semi")
        .groupBy(col("node")).agg(count(lit(1)).as("deg"))
      var deg = dir.groupBy(col("node")).agg(count(lit(1)).as("deg"))
      val cuts = new Cuts
      var prevAlive = -1L
      var round = 0
      var converged = false
      while (round < maxRounds && !converged) {
        round += 1
        // STRIDE-2 convergence checks: the alive set shrinks
        // monotonically, so count-equality across a two-round stride
        // still implies the fixpoint (nothing was removed in either
        // round) and the final set is identical — detection may land one
        // round later, costing one cheap peel over an already-converged
        // frame, while deep peels halve their driver count jobs. The
        // bound round always checks so maxRounds semantics (and the
        // bounded-round oracle) are untouched.
        if (round % 2 == 0 || round == maxRounds) {
          val (alive, nAlive) = cuts(deg.filter(col("deg") >= k))
          // equal counts: the filter removed nothing and deg was computed
          // over exactly this survivor set — the cut is the k-core with
          // its core degrees
          converged = nAlive == prevAlive
          if (!converged) {
            prevAlive = nAlive
            deg = peel(alive.flat.select(col("node")))
          }
        } else
          // un-counted stride round: peel lazily — the filter chains into
          // the next counted round's job (plan depth ≤ 2 between
          // materializations; the duplicated alive subtree's exchange is
          // deduped by ReuseExchange)
          deg = peel(deg.filter(col("deg") >= k).select(col("node")))
      }
      // converged: the last cut's PINNED frame, already persisted and
      // counted, IS the result (handoff skips its count only for a
      // persisted frame; the flat face would cost one more job).
      // maxRounds exhausted: one more LAZY filter over the last
      // recompute, matching the oracle's final ≥ k cut — the exit count
      // materializes it.
      if (converged) (cuts.held.head, Seq(dir))
      else (deg.filter(col("deg") >= k), dir +: cuts.held)
    }
  }
}
