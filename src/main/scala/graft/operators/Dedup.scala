package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.expressions.TextExpressions
import graft.functions.TextFunctions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard near-dup detection over a `(doc_id, text)`
  * corpus.
  *
  * Scale design (the point of these shapes at 100 TB):
  *   - No operator ever materializes the O(n²) pair space. Candidates come
  *     from equi-joins on hash buckets (LSH bands, simhash chunks) or from
  *     prefix-filtered rare shingles (AllPairs/PPJoin-style), so cost
  *     tracks *colliding* pairs, not n².
  *   - Signatures are computed with map-side-combinable aggregates
  *     (`min`/`sum` per group), never per-row interpreted lambdas — the
  *     hashing stays inside WholeStageCodegen and the shuffle carries one
  *     signature row per doc.
  *   - Exact verification runs only on candidate pairs, via a codegen'd
  *     merge-intersect over each doc's sorted shingle-hash set — the
  *     shuffle carries longs, not shingle strings.
  *   - Hashes are md5-derived (`hash60`) — deterministic across engines and
  *     runs, so results are reproducible and oracle-checkable.
  */
object Dedup {

  /** Exact dedup: group identical texts by md5, keep the smallest doc_id as
    * the canonical representative. One shuffle on the 128-bit digest. */
  def exactDedup(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Distinct word-n-gram shingles per doc, exploded: (doc_id, sh). */
  private def explodedShingles(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), explode(wordShingles(col("text"), n)).as("sh"))

  /** Per-doc shingle sets as sorted hash60 arrays (the verify-side and
    * candidate-side representation: ~4× fewer shuffled bytes than the
    * strings, and intersection is a primitive merge walk). */
  private def hashedShingleSets(docs: DataFrame, n: Int): DataFrame =
    docs.select(col("doc_id"), TextExpressions.shingleHashes(col("text"), n).as("s"))

  /** Exact-verify candidate pairs against a Jaccard threshold: intersect the
    * two shingle sets (both distinct), compare in exact integer math —
    * `1000*inter >= permille*union` — no float boundary can flip
    * membership. Runs only on candidates, so the intersect cost is
    * |candidates|·|avg set|, not pairwise. */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame, minPermille: Int): DataFrame =
    cand
      .join(sets.as("xa"), col("doc_a") === col("xa.doc_id"))
      .join(sets.as("xb"), col("doc_b") === col("xb.doc_id"))
      .withColumn("inter_cnt", TextExpressions.sortedIntersectCount(col("xa.s"), col("xb.s")))
      .withColumn("union_cnt",
        size(col("xa.s")).cast("long") + size(col("xb.s")).cast("long") - col("inter_cnt"))
      .filter(lit(1000) * col("inter_cnt") >= lit(minPermille) * col("union_cnt"))
      .select(col("doc_a"), col("doc_b"), col("inter_cnt"), col("union_cnt"),
        floor(lit(1000) * col("inter_cnt") / col("union_cnt")).cast("long").as("jac_permille"))

  /** MinHash + LSH banding near-dup pairs.
    *
    * The signature is one `groupBy(doc_id)` with `numHashes` min-aggregates
    * (mh_i = min over shingles of hash60(i:shingle)) — codegen'd, partial
    * aggregation on the map side, one shuffle, no hash-index explode. Bands
    * hash `rowsPerBand` adjacent signature columns; docs colliding on any
    * band become candidates (equi-join on (band, hash)); candidates are then
    * exactly verified against the Jaccard threshold. With 12 hashes /
    * 4 bands of 3 the capture probability at j=0.8 is 1-(1-0.8³)⁴ ≈ 0.94.
    */
  def minhashLshPairs(
      docs: DataFrame,
      shingleN: Int = 3,
      numHashes: Int = 12,
      rowsPerBand: Int = 3,
      minJaccardPermille: Int = 800): DataFrame =
    verifyJaccard(lshCandidatePairs(docs, shingleN, numHashes, rowsPerBand),
      hashedShingleSets(docs, shingleN), minJaccardPermille)

  /** The UNVERIFIED candidate pairs of [[minhashLshPairs]]'s banding —
    * docs colliding on at least one LSH band (equi-join on (band, hash),
    * `doc_a < doc_b`, distinct). Exposed for candidate-quality auditing
    * ([[lshEvalReport]]) and for callers composing their own verify. */
  def lshCandidatePairs(
      docs: DataFrame,
      shingleN: Int = 3,
      numHashes: Int = 12,
      rowsPerBand: Int = 3): DataFrame = {
    val bands = bandFrame(docs, shingleN, numHashes, rowsPerBand)
    bands.as("x")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
  }

  /** Candidate-quality audit of the MinHash-LSH banding against exact
    * n-gram-Jaccard ground truth — the dedup twin of the ANN recall
    * report ([[graft.operators.Similarity.recallAtK]]): ONE row
    * (n_candidates, n_truth, n_hits, precision_permille,
    * recall_permille). Recall < 1000 means the banding scheme
    * (numHashes × rowsPerBand) misses true near-dup pairs — the number
    * that decides whether to add bands before a 100 TB run; precision
    * says how much exact-verify work the candidates waste.
    *
    * Truth comes from [[ngramJaccardPairs]] (prefix-filtered, exact — no
    * all-pairs scan); the audit is meant for a SAMPLED corpus slice at
    * scale, like the recall report's query sample. Zero-denominator
    * edges (no candidates / no true pairs) report null rates rather
    * than dividing by zero.
    */
  def lshEvalReport(
      docs0: DataFrame,
      shingleN: Int = 3,
      numHashes: Int = 12,
      rowsPerBand: Int = 3,
      minJaccardPermille: Int = 800): DataFrame = {
    // One known-shape audit plan producing a 1-row report: conf-isolated
    // static scope (see PlanScope) — its ~10 exchanges were pure AQE
    // dispatch on the board (normalized compute ~0; 16 -> 8 driver
    // jobs), and a concurrent caller query keeps AQE. Session-width
    // partitions, NOT size-estimated: the exact-jaccard truth join is
    // compute-heavy per byte, and the estimate serialized it (measured
    // +0.9 s at 1 partition).
    graft.ops.PlanScope.isolatedStatic(docs0.sparkSession) { scoped =>
    val docs = graft.ops.PlanScope.rebind(docs0, scoped)
    val cand = lshCandidatePairs(docs, shingleN, numHashes, rowsPerBand)
    val truth = ngramJaccardPairs(docs, shingleN, minJaccardPermille)
      .select(col("doc_a"), col("doc_b"))
    // ONE union-aggregate over the two (already-distinct) pair sets
    // instead of the former three 1-row aggregates crossJoined: each
    // crossJoin was a broadcast-build driver job, and cand/truth each
    // re-executed per consuming aggregate (the board census read 8 jobs
    // with the band join run twice). Tag the side, collapse per pair,
    // sum the flags — candidate count, truth count, and the
    // intersection in one pass over each subtree.
    cand.select(col("doc_a"), col("doc_b"), lit(1L).as("__c"), lit(0L).as("__t"))
      .unionByName(truth.select(col("doc_a"), col("doc_b"),
        lit(0L).as("__c"), lit(1L).as("__t")))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("__c")).as("__ic"), max(col("__t")).as("__it"))
      .agg(coalesce(sum(col("__ic")), lit(0L)).as("n_candidates"),
        coalesce(sum(col("__it")), lit(0L)).as("n_truth"),
        coalesce(sum(col("__ic") * col("__it")), lit(0L)).as("n_hits"))
      .select(col("n_candidates"), col("n_truth"), col("n_hits"),
        when(col("n_candidates") > 0,
          expr("CAST((1000 * n_hits) DIV n_candidates AS BIGINT)"))
          .as("precision_permille"),
        when(col("n_truth") > 0,
          expr("CAST((1000 * n_hits) DIV n_truth AS BIGINT)"))
          .as("recall_permille"))
    }
  }

  /** `(doc_id, band, bh)` LSH bucket rows for a corpus: map-side min-agg
    * MinHash signatures, then the shared banding. The single batch-side
    * source of the bucketing, used by [[minhashLshPairs]] (within one
    * corpus) and [[dedupDelta]] (across corpus generations). */
  private def bandFrame(docs: DataFrame, shingleN: Int,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0, "numHashes must be divisible by rowsPerBand")
    // ONE kernel call per row (MinhashBandsExpr): signature minima AND
    // per-band md5s — same values as the former exploded
    // groupBy(doc_id) min-agg + bandStructs (BandRuleSpec pins the
    // lockstep), so the band build is shuffle-FREE. Slicing an exposed
    // signature column per band re-evaluated the signature kernel once
    // per band column after projection collapse — the s09 lesson.
    // Shingle-less docs return an empty array (no bands, like the agg
    // form's absent row).
    //
    // Parallelism note: at scale the kernel fans out with the file
    // splits; a SMALL corpus arriving as one split would serialize the
    // hashing in one task, so only then is the input round-robined
    // first (PlanScope.spreadIfSmall — never an unconditional exchange
    // of the full text at 100 TB). Unknown-stats plans (huge default
    // estimate) skip the spread — acceptable: they are mid-pipeline
    // frames whose upstream shuffle already spread them.
    graft.ops.PlanScope.spreadIfSmall(docs)
      .select(col("doc_id"), posexplode(
          TextExpressions.minhashBands(col("text"), shingleN, numHashes, rowsPerBand))
        .as(Seq("band", "bh")))
      .select(col("doc_id"), col("band").cast("long").as("band"), col("bh"))
  }

  /** LSH band structs over MinHash signature columns `mh0..mh{n-1}`: band
    * id + md5 of the comma-joined rows — the column-level statement of
    * the bucketing rule. Both production paths (batch bandFrame and
    * streaming streamingLshNearDup) now run the one-call
    * TextExpressions.minhashBands kernel; this form remains as the
    * independent reference BandRuleSpec locksteps the kernel against. */
  private[graft] def bandStructs(numBands: Int, rowsPerBand: Int): Seq[Column] =
    (0 until numBands).map { b =>
      val rows = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"mh$i").cast("string"))
      struct(lit(b.toLong).as("band"), md5(concat_ws(",", rows: _*)).as("bh"))
    }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming.
    *
    * The 32-bit simhash is aggregated, not computed per row: tokens explode
    * once, then one groupBy(doc_id) with 32 codegen'd ±1-vote sums — same
    * value as TextFunctions.simhash32 (votes are commutative integers) at a
    * fraction of the cost, and the shuffle carries 32 longs per doc.
    *
    * Banded exactly: the simhash splits into `maxHamming + 1` chunks; by
    * pigeonhole any pair within the distance budget collides on ≥1 whole
    * chunk, so the chunk equi-join loses nothing vs the O(n²) scan.
    * Docs with zero tokens have no simhash and are excluded.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3): DataFrame = {
    // 0 <= maxHamming <= 15: negative dies in a bare /-by-zero below, and
    // 16+ leaves chunks of <= 1 bit whose near-constant values degenerate
    // the banded equi-join toward the all-pairs product the file's header
    // promises never to materialize (at 32+ every mask is 0 = full n^2)
    require(maxHamming >= 0 && maxHamming <= 15,
      s"maxHamming must be in [0, 15], got $maxHamming")
    val nChunks = maxHamming + 1
    val bitsPerChunk = 32 / nChunks
    val voteCols = (0 until 32).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$j"))
    // entry spread (PlanScope.spreadIfSmall): tokenize + explode + the 32
    // map-side vote partials all run in the scan stage — ONE task on a
    // one-split input. No-op at scale.
    val sh = graft.ops.PlanScope.spreadIfSmall(docs, "doc_id")
      .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .withColumn("h", hash60(col("t")))
      .groupBy(col("doc_id"))
      .agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id"),
        (0 until 32).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("sim"))
    val chunks = sh.select(col("doc_id"), col("sim"),
      explode(array((0 until nChunks).map { k =>
        struct(lit(k).as("k"),
          shiftright(col("sim"), k * bitsPerChunk)
            .bitwiseAND(lit((1L << bitsPerChunk) - 1)).as("v"))
      }: _*)).as("c"))
    val cand = chunks.as("x")
      .join(chunks.as("y"),
        col("x.c.k") === col("y.c.k") && col("x.c.v") === col("y.c.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sim").as("sim_a"), col("y.sim").as("sim_b"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("doc_a"), col("doc_b"), col("sim_a"), col("sim_b"), col("hamming"))
  }

  /** Exact n-gram Jaccard similarity join with AllPairs/PPJoin-style prefix
    * filtering (Bayardo et al., WWW'07; Xiao et al., PPJoin).
    *
    * Shingles get a global rarity order (document frequency asc, shingle
    * hash asc — any consistent total order works). A doc with |S| shingles
    * keeps its `|S| - ceil(τ|S|) + 1` rarest
    * as its prefix; any pair with jaccard ≥ τ must collide on a prefix
    * shingle of both sides (pigeonhole), so the candidate join runs only
    * over prefixes — exactly excluding the high-df shingles that make a
    * naive inverted-index join quadratic. Candidates are then verified
    * exactly. Same output as the naive join, asserted by spec.
    */
  def ngramJaccardPairs(docs: DataFrame, shingleN: Int = 3, minPermille: Int = 500): DataFrame = {
    // jaccard ∈ (0, 1]: out-of-range thresholds would make the slice-based
    // prefix length negative (a runtime crash) instead of an empty result
    require(minPermille > 0 && minPermille <= 1000,
      s"minPermille must be in (0, 1000], got $minPermille")
    // entry spread (PlanScope.spreadIfSmall): the shingle-set kernel runs
    // per row on BOTH legs (prefix build here, verify fetch below); a
    // one-split input would serialize each kernel pass in one task.
    // No-op at scale.
    val docsSp = graft.ops.PlanScope.spreadIfSmall(docs, "doc_id")
    // explode_OUTER, not explode (r16, guide §4 expensive-expression
    // double-eval): plain explode lets Catalyst infer
    // `size(shingleHashes(text))>0 AND isnotnull(shingleHashes(text))`
    // from the Generate and push it BELOW the spread exchange — the
    // shingle kernel then runs per-row in the 1-task scan stage (the
    // exact serialization the spread exists to avoid) and AGAIN above
    // it, and the inferred filter makes this exchange canonically
    // different from the verify legs' (no AQE stage reuse; measured:
    // two ~330-400 ms single-task stages on the d04 census). Outer
    // explode infers nothing: the kernel runs once, post-spread, at
    // session width, and all legs share ONE exchange. Result-identical:
    // an empty shingle set yields sh=null, dropped by the inner
    // ex⋈dfreq join exactly as plain explode dropped the row.
    val ex = hashedShingleSets(docsSp, shingleN)
      .select(col("doc_id"), explode_outer(col("s")).as("sh"))
    val dfreq = ex.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // rank each doc's shingles by global rarity IN-ROW: one grouped
    // collect (map-side partial) + per-row sort of ≤|doc| structs, instead
    // of a window rank (shuffle + full partition sort over every exploded
    // shingle) plus a separate sizes join. Prefix length
    // L = n_sh - ceil(p*n_sh/1000) + 1, exact integer ceil.
    val prefix = ex.join(dfreq, "sh")
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("df"), col("sh")))).as("ranked"))
      .withColumn("n_sh", size(col("ranked")).cast("long"))
      .withColumn("pfx", slice(col("ranked"), lit(1),
        (col("n_sh") - floor((col("n_sh") * minPermille + 999) / 1000).cast("long") + 1)
          .cast("int")))
      .select(col("doc_id"), col("n_sh"), posexplode(col("pfx")).as(Seq("pos0", "e")))
      .select(col("doc_id"), col("e.sh").as("sh"), col("n_sh"),
        (col("pos0") + 1).cast("long").as("pos"))
    // two more exact prunes inside the join condition, before the distinct/
    // verify shuffles ever see the pair:
    //   - length filter (AllPairs): jaccard ≥ τ forces τ·max(|A|,|B|) ≤ min;
    //   - positional filter (PPJoin): both sets are sorted by the same
    //     global rarity order, so common elements occupy increasing
    //     positions in BOTH docs; at the globally-smallest shared shingle
    //     (which a qualifying pair must expose in both prefixes), overlap
    //     ≤ min(remaining suffix lengths), and jaccard ≥ τ needs overlap
    //     ≥ τ(|A|+|B|)/(1+τ) — integer-exact in permille.
    val cand = prefix.as("x")
      .join(prefix.as("y"),
        col("x.sh") === col("y.sh") && col("x.doc_id") < col("y.doc_id") &&
          lit(1000) * least(col("x.n_sh"), col("y.n_sh")) >=
            lit(minPermille) * greatest(col("x.n_sh"), col("y.n_sh")) &&
          lit(1000 + minPermille) *
            (least(col("x.n_sh") - col("x.pos"), col("y.n_sh") - col("y.pos")) + 1) >=
            lit(minPermille) * (col("x.n_sh") + col("y.n_sh")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, hashedShingleSets(docsSp, shingleN), minPermille)
  }

  /** Connected components over near-dup pairs: every doc labeled with the
    * minimum doc_id reachable through the pair graph (its canonical
    * representative; singletons label themselves). The rows are every
    * pair-graph vertex once (a vertex absent from `docs` included) plus
    * every doc that is not a vertex (duplicate doc_ids included).
    *
    * Two paths, picked from the size the call observes in its own fetch:
    * the pair graph is cut (run once, persisted) and at most
    * [[MaxDriverEdges]]` + 1` of its rows are fetched in one job
    * (`graft.ops.Detach.fetchAtMost`).
    *
    *  - Driver path, when the fetch holds at most [[MaxDriverEdges]]
    *    pairs (d06, d07 and d13 at sf0.01, whose LSH pair graph has 28
    *    pairs; `curate` on a small corpus): union-find over primitive
    *    arrays on the driver. The labels come back as a plan-free
    *    LocalRelation, unioned with the docs outside the graph (an
    *    anti-join against it). Exact at any component diameter, so
    *    `maxRounds` and `reliableCheckpoint` do not apply; no cache
    *    outlives the call.
    *  - Distributed path, above the cap, or when the ids are not
    *    integral or a pair holds a null: hash-min label
    *    propagation. Labels start as own ids; each round every node takes
    *    the min of its label and its neighbors' labels; converges in
    *    O(graph diameter) rounds — near-dup graphs are shallow (clusters
    *    of copies), so 3-5 rounds typical. Each round is one equi-join +
    *    one groupBy, both partitioned by node id; a per-round lineage cut
    *    keeps round N's plan from replaying rounds 1..N-1. The driver
    *    only ever sees a changed counter, never the data. A chain longer
    *    than `maxRounds` fails loudly ("did not converge").
    *
    * `reliableCheckpoint = true` switches the distributed path's
    * per-round lineage cut from cached persists to reliable `checkpoint`
    * files (requires `sparkContext.setCheckpointDir` on durable storage).
    * Cached blocks recompute from the previous round on loss — fine
    * locally, compounding on a 1000-executor cluster where some loss per
    * hour is the baseline; flip this on for production runs.
    *
    * Scope note: the returned frame is a LAZY plan (labels ∪ singleton
    * anti-join) bound to the call's static (AQE-off) scope clone — its
    * own consumption plans statically, which is right for the
    * |pairs|-sized label frame. Only the fetch runs where a limit-collect
    * starts at full width, so a take/show over the result still grows
    * from one partition. On the distributed path it reads the final round's
    * cache, which stays pinned for the caller's consuming action (use
    * [[componentsWithRelease]] to drop it). A caller composing it into a
    * further corpus-scale adaptive plan should re-root it on its own
    * session first: `PlanScope.cut(PlanScope.rebind(df, spark))` (both in
    * [[graft.ops.PlanScope]]), plan from the cut's `flat` and call its
    * `release()` after the consuming action
    * ([[graft.pipelines.CurationPipeline]] cuts it the same way, inside
    * its own scope).
    */
  def components(
      docs0: DataFrame,
      pairs0: DataFrame,
      maxRounds: Int = 20,
      reliableCheckpoint: Boolean = false): DataFrame =
    componentsWithRelease(docs0, pairs0, maxRounds, reliableCheckpoint)._1

  /** Most pair rows [[components]] settles on the driver: the largest
    * power of two at which the driver path still measured faster than
    * the fixpoint. `graft.ComponentsCurve` (test tree; 4-core VM, local
    * mode, 4-doc clique clusters, medians of 7, four runs; raw output in
    * `plans/pr17/components_curve.txt`): the driver path won at 32,766
    * pairs by 61–142 ms in 4 of 4 runs, lost at 65,532 in 3 of 4 and
    * lost at 131,070 by 160–273 ms in 4 of 4. Its cost grows with the
    * graph (the fetched rows, the union-find, a label LocalRelation
    * carried in the plan), where the fixpoint's is mostly fixed per
    * round. Above the cap the call pays the fetch too: one job more than
    * the fixpoint alone. */
  private[graft] val MaxDriverEdges = 1 << 15

  /** [[components]] plus an explicit RELEASE HOOK for the cache the
    * returned plan reads. On the distributed path that is the final
    * round's label cache: the public contract leaves it pinned for the
    * caller's consuming action (releasing it pre-return would recompute
    * the whole fixpoint on first consumption); a composed pipeline that
    * ends in a bounded handover (CurationPipeline's `detachBound`)
    * instead calls the hook once its own materialization is done, so
    * "zero blocks left registered" holds exactly. Idempotent; a no-op on
    * the driver path (nothing cached) and on the reliable-checkpoint path
    * (files, not cache blocks). `driverCap` rides as a parameter so the
    * specs can force the distributed path (0) on a tiny fixture; every
    * caller passes [[MaxDriverEdges]]. */
  private[graft] def componentsWithRelease(
      docs0: DataFrame,
      pairs0: DataFrame,
      maxRounds: Int = 20,
      reliableCheckpoint: Boolean = false,
      driverCap: Int = MaxDriverEdges): (DataFrame, () => Unit) = {
    componentsRuns.incrementAndGet()
    // Fixpoint loop = known shape re-executed per round (PlanScope
    // rationale, same as the Graphs loops): AQE re-planning buys no
    // information round-over-round and charges a driver job per exchange
    // per round. The scope is a conf-ISOLATED pooled session clone —
    // concurrent queries on the caller's session keep AQE while this
    // runs; the returned frame plans statically downstream (the clone's
    // conf is immutable).
    graft.ops.PlanScope.isolatedStatic(docs0.sparkSession) { scoped =>
    val docs = graft.ops.PlanScope.rebind(docs0, scoped)
    // The pair plan is the expensive part and both paths read it: cut it
    // first, so the fetch fills its blocks and the fixpoint's edges read
    // them — the pair stages run once whichever path is taken.
    val pairsCut = graft.ops.PlanScope.cut(
      graft.ops.PlanScope.rebind(pairs0, scoped).select(col("doc_a"), col("doc_b")))
    // both edge directions from ONE pass over pairs; the struct array
    // also fixes the id type both paths label with
    val edges = pairsCut.flat
      .select(explode(array(
        struct(col("doc_a").as("src"), col("doc_b").as("dst")),
        struct(col("doc_b").as("src"), col("doc_a").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
    val idType = edges.schema("src").dataType
    // min over a non-integral id, or a null endpoint: the fixpoint only.
    // Only the fetch starts its limit-collect at full width (ONE job;
    // curate's confs, so inside curate it runs in curate's scope). A
    // failed fetch drops the cut.
    val settled =
      try idType match {
        case ByteType | ShortType | IntegerType | LongType =>
          graft.ops.PlanScope.isolated(docs0.sparkSession,
              "spark.sql.adaptive.enabled" -> "false",
              "spark.sql.limit.initialNumPartitions" -> "100000") { fetchScope =>
            graft.ops.Detach.fetchAtMost(graft.ops.PlanScope.rebind(pairsCut.flat
                .select(col("doc_a").cast(LongType), col("doc_b").cast(LongType)), fetchScope),
              driverCap)
          }.filter(!_.exists(r => r.isNullAt(0) || r.isNullAt(1)))
        case _ => None
      } catch { case e: Throwable => pairsCut.release(); throw e }
    settled match {
      case Some(rows) =>
        pairsCut.release()
        (settleOnDriver(docs, rows, idType), () => ())
      case None =>
        fixpoint(docs, edges, pairsCut.release, maxRounds, reliableCheckpoint)
    }
    }
  }

  /** The driver path of [[componentsWithRelease]]: union-find labels as a
    * LocalRelation of `idType` ids, unioned with the docs outside them. */
  private def settleOnDriver(docs: DataFrame, pairs: Array[Row],
      idType: DataType): DataFrame = {
    val (ids, comps) = minLabels(pairs)
    val labels = docs.sparkSession.createDataFrame(
        java.util.Arrays.asList(ids.indices.map(i => Row(ids(i), comps(i))): _*),
        StructType(Seq(StructField("doc_id", LongType, nullable = false),
          StructField("component", LongType, nullable = false))))
      .select(col("doc_id").cast(idType), col("component").cast(idType))
    // the exact size estimate of a LocalRelation would pick a broadcast
    // anti-join, a build job of its own per call under a static scope:
    // pinned to sort-merge, as dedupDeltaWith's rejected-id anti-join
    val singletons = docs.select(col("doc_id"))
      .join(labels.select(col("doc_id")).hint("merge"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("component"))
    labels.union(singletons)
  }

  /** The distributed path of [[componentsWithRelease]]: hash-min label
    * propagation over `edges` (both directions of the cut pairs), then
    * the singletons anti-join. Returns the frame and the final round's
    * release hook; `releasePairs` (idempotent) drops the pair cut once
    * the first round has filled the edge cut from it. */
  private def fixpoint(docs: DataFrame, edges: DataFrame,
      releasePairs: () => Unit, maxRounds: Int,
      reliableCheckpoint: Boolean): (DataFrame, () => Unit) = {
    // One stage boundary per round: the local path takes a PlanScope.cut
    // (a lazy persist plus a flat one-leaf face), not an eager
    // checkpoint, so the per-round convergence count is the ONLY
    // driver-blocking action each round (it fills the blocks as it runs)
    // instead of a checkpoint job + a probe job. The flat face keeps every
    // round's analyzed plan one leaf deep (cached adaptive plans nested
    // round-in-round send AQE's plan-update walk exponential past ~11
    // levels, measured in the Graphs loops), keeps the round's
    // partitioning on doc_id, and keeps RDD lineage: on block loss Spark
    // recomputes from the previous round. The reliable path keeps eager
    // durable checkpoints — there, surviving executor loss is the point.
    // Each boundary is (frame the next stage reads, release hook).
    def cut(df: DataFrame): (DataFrame, () => Unit) =
      if (reliableCheckpoint) (df.checkpoint(true), () => ())
      else { val c = graft.ops.PlanScope.cut(df); (c.flat, c.release) }
    // hash edges by dst (the per-round join key) before checkpointing, at
    // the session's shuffle partitioning — the caller sized that for the
    // corpus; a small pair graph just runs light tasks per round (cheaper
    // than the per-round AQE coalesce jobs the old adaptive layout paid)
    val (edgesChk, releaseEdges) =
      try cut(edges.repartition(col("dst")))
      catch { case e: Throwable => releasePairs(); throw e }
    // propagate only over the pair graph's vertices — in a dedup corpus the
    // vast majority of docs are singletons and never need a round trip.
    // Initial labels fuse round 1: each vertex starts at min(self, direct
    // neighbors), one groupBy instead of a vertices-distinct plus a full
    // propagation round.
    var (labels, releasePrev) = cut(edgesChk
      .groupBy(col("src").as("doc_id"))
      .agg(least(min(col("dst")), col("src")).as("component")))
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      val propagated = edgesChk
        .join(labels, col("dst") === col("doc_id"))
        .groupBy(col("src").as("doc_id"))
        .agg(min(col("component")).as("nbr_min"))
      // fold the convergence test into the same pass: a row changed iff a
      // neighbor offered a smaller label
      val (next, releaseNext) = cut(labels.as("l")
        .join(propagated.as("p"), Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component"),
          coalesce(col("nbr_min") < col("component"), lit(false)).as("__changed")))
      // one action per round: counting the changed rows materializes the
      // whole round into the cache/checkpoint and decides convergence
      converged = next.filter(col("__changed")).count() == 0L
      // the previous round's cache is dead once this round is
      // materialized; the pair cut is dead once round 1 has filled the
      // edge cut, its only reader (a lost edge block recomputes from the
      // pair plan: correct, just slower)
      releasePrev()
      releasePairs()
      releasePrev = releaseNext
      labels = next.drop("__changed")
      round += 1
    }
    // truncated fixpoint = WRONG labels = silently under-deduped corpus
    // (a chain of diameter > maxRounds keeps several "canonical" docs in
    // one duplicate cluster, and the caller cannot tell a converged
    // labeling from a cut-off one) — fail loudly with the remedy instead
    if (!converged) {
      // release the pinned blocks BEFORE the loud diagnostic: a long-lived
      // session recovering from this throw must not keep the dead pair and
      // edge caches and final-round labels resident (reliable checkpoints
      // are managed by the checkpoint dir, nothing to unpersist)
      releasePairs()
      releaseEdges()
      releasePrev()
      throw new IllegalArgumentException(
        s"requirement failed: components did not converge within maxRounds=$maxRounds — " +
          "the pair graph has a min-label chain longer than the round budget; raise " +
          "maxRounds (rounds scale with component diameter, not corpus size)")
    }
    // the edge set is dead after convergence (every
    // propagation round is materialized); only the FINAL round's cache
    // stays pinned for the caller's consuming action — losing it
    // recomputes from the pair pipeline, which is correct, just slower
    releaseEdges()
    // the final labels carry exactly the pair-graph vertex set (each round
    // preserves all label rows), so singletons anti-join against it
    val singletons = docs.select(col("doc_id"))
      .join(labels.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("doc_id").as("component"))
    (labels.union(singletons), releasePrev)
  }

  /** Union-find over the fetched `(doc_a, doc_b)` pairs, all non-null:
    * returns the sorted distinct vertex ids and each one's component
    * label, the minimum id in its component. Vertices are indexed in id
    * order and a union always hangs the larger root under the smaller, so
    * every root is its set's minimum index, i.e. its minimum id — the
    * label the fixpoint converges to. */
  private def minLabels(pairs: Array[Row]): (Array[Long], Array[Long]) = {
    val ends = new Array[Long](2 * pairs.length)
    var i = 0
    while (i < pairs.length) {
      ends(2 * i) = pairs(i).getLong(0)
      ends(2 * i + 1) = pairs(i).getLong(1)
      i += 1
    }
    val sorted = ends.clone()
    java.util.Arrays.sort(sorted)
    var n = 0
    i = 0
    while (i < sorted.length) {
      if (n == 0 || sorted(n - 1) != sorted(i)) { sorted(n) = sorted(i); n += 1 }
      i += 1
    }
    val ids = java.util.Arrays.copyOf(sorted, n)
    val parent = Array.tabulate(n)(identity)
    def find(v: Int): Int = {
      var x = v
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    i = 0
    while (i < ends.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, ends(i)))
      val rb = find(java.util.Arrays.binarySearch(ids, ends(i + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      i += 2
    }
    (ids, Array.tabulate(n)(v => ids(find(v))))
  }

  /** End-to-end near-dedup: keep only each component's canonical document
    * (the min doc_id), dropping every other member — the operation a
    * training-data pipeline actually runs. Composes pairs → components →
    * semi-join; all three stages partition by doc id, no extra shuffle
    * shape beyond components itself. */
  def dedupCorpus(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val keep = components(docs, pairs)
      .filter(col("doc_id") === col("component"))
      .select(col("doc_id"))
    docs.join(keep, Seq("doc_id"), "left_semi")
  }

  /** Score-aware representative selection: per near-dup component, keep
    * the document with the highest `score` (ties → lowest doc_id) —
    * curation usually keeps the BEST duplicate (longest, highest
    * quality), not the first-seen one that [[dedupCorpus]]'s min-id rule
    * yields. Returns `(component, kept_doc_id, kept_score)`.
    *
    * Shape: the components join plus ONE grouped argmax with map-side
    * partials (`max_by` over `struct(score, -doc_id)`) — the shuffle
    * carries one row per component, not per doc. The score keeps its own
    * type (no cast — truncating a fractional quality score to long would
    * silently collapse the argmax to the id tie-break); `kept_score` is
    * typed like the input column.
    *
    * Runs the [[components]] fixpoint internally. A caller that ALSO
    * needs the component labels (e.g. for a leakage-safe split) must use
    * [[dedupCorpusByComponents]] with its own `components(...)` result —
    * calling this and `components` separately executes the most expensive
    * stage of the pipeline (the iterative fixpoint AND the pair join
    * feeding it) twice. */
  def dedupCorpusBy(docs: DataFrame, pairs: DataFrame, score: Column): DataFrame =
    dedupCorpusByComponents(docs, components(docs, pairs), score)

  /** [[dedupCorpusBy]] over a PRECOMPUTED component labeling — the form a
    * pipeline uses when the labels serve more than one stage (dedup +
    * split): one fixpoint execution, every consumer reads the same frame.
    * `comps` must be `(doc_id, component)` as produced by [[components]].
    * (Separate name, not an overload: the two erase to the same
    * `(DataFrame, DataFrame, Column)` signature.) */
  def dedupCorpusByComponents(docs: DataFrame, comps: DataFrame, score: Column): DataFrame =
    docs.withColumn("__score", score)
      .join(comps, "doc_id")
      .groupBy(col("component"))
      .agg(
        max_by(col("doc_id"), struct(col("__score"), (-col("doc_id")).as("tie")))
          .as("kept_doc_id"),
        max(col("__score")).as("kept_score"))

  /** Test instrumentation: count of [[components]] fixpoint executions in
    * this JVM. The fixpoint is eager (its convergence counts run at call
    * time) and is the dominant stage of a corpus-scale curation run, so
    * composition code is spec-checked to trigger it exactly once. */
  private[graft] val componentsRuns = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Cross-corpus contamination detection: every (train doc, eval doc)
    * pair whose shingle CONTAINMENT — the fraction of the eval document's
    * distinct n-gram shingles that also occur in the train document —
    * reaches `minPermille`. The check a pipeline runs before training so
    * benchmark/eval text that leaked into the crawl can be quarantined;
    * containment (not Jaccard) is the right metric because a short eval
    * prompt embedded in a long train document should still score 1000‰.
    *
    * Shape: inverted-index equi-join on shingle hash60s between the two
    * exploded corpora (eval-side set sizes carried on the exploded rows —
    * one pass over the eval shingles, no extra join), grouped exact
    * intersection counts, all-integer math (`1000*inter DIV n_ev`).
    * Pairs sharing no shingle never materialize, so containment-0 pairs
    * are (by design) absent from the output — `minPermille` >= 1.
    *
    * Cost is honest about hot shingles: the exact form joins every
    * (train doc, eval doc) pair that shares a shingle, so a stop-shingle
    * present in f·|train| docs and g·|eval| docs contributes f·g·|T|·|E|
    * rows — quadratic in the hot key, and AQE only rebalances it. At
    * corpus scale set `maxTrainDf`: shingles whose TRAIN document
    * frequency exceeds the cap are dropped from the index before the
    * join (the standard contamination-detector trick — a shingle in
    * thousands of train docs identifies nothing). That bounds the join
    * to cap·|eval-side rows| per shingle at the price of a documented
    * under-count: reported containment can only drop, never rise, so
    * flagged pairs remain trustworthy. Default None = exact.
    */
  def contaminationPairs(train: DataFrame, evalDocs: DataFrame,
      shingleN: Int = 3, minPermille: Int = 500,
      maxTrainDf: Option[Long] = None): DataFrame = {
    require(minPermille >= 1 && minPermille <= 1000,
      s"minPermille must be in [1,1000], got $minPermille")
    maxTrainDf.foreach(c => require(c > 0, s"maxTrainDf must be positive, got $c"))
    // entry spread on the TRAIN side only (the corpus-sized leg; the eval
    // side is a small release): the shingle-set kernel + explode run in
    // the scan stage — single-task on a one-split input, no-op at scale
    // and on the curation chains' already-spread mid-pipeline frames
    // explode_OUTER for the same reason as ngramJaccardPairs (r16, guide
    // §4): plain explode's inferred `size(shingleHashes(text))>0` filter
    // pushes the shingle kernel BELOW the spread exchange onto the
    // 1-task scan side (d08 census: the kernel ran per-row in the scan
    // filter AND again in the post-spread project). Null sh rows (empty
    // sets) die in the inner t⋈e join — and survive the maxTrainDf
    // anti-join like any non-hot shingle — so results are identical.
    val tAll = hashedShingleSets(
        graft.ops.PlanScope.spreadIfSmall(train, "doc_id"), shingleN)
      .select(col("doc_id").as("train_id"), explode_outer(col("s")).as("sh"))
    val t = maxTrainDf.fold(tAll) { cap =>
      val hot = tAll.groupBy(col("sh"))
        .agg(count(lit(1)).as("__df")).filter(col("__df") > cap).select(col("sh"))
      tAll.join(hot, Seq("sh"), "left_anti")
    }
    val e = evalShingleIndex(evalDocs, shingleN)
    t.join(e, "sh")
      .groupBy(col("train_id"), col("eval_id"), col("n_ev"))
      .agg(count(lit(1)).as("inter_cnt"))
      .withColumn("containment_permille",
        expr("CAST((1000 * inter_cnt) DIV n_ev AS BIGINT)"))
      .filter(col("containment_permille") >= minPermille)
      .select(col("train_id"), col("eval_id"), col("inter_cnt"),
        col("containment_permille"))
  }

  /** Static eval-shingle inverted index for contamination checks: one row
    * per (eval doc, distinct shingle hash60) with the doc's set size
    * carried on every row. The single source of the eval-side shape,
    * shared by [[contaminationPairs]] and the streaming quarantine
    * (`StreamingOps.streamingContamination`) so batch and stream can
    * never drift apart. Build once per eval-set release and persist (it
    * is tiny next to any train corpus). Shingle-less docs are excluded —
    * containment against an empty set is undefined.
    *
    * `maxEvalDf` is the eval-side twin of [[contaminationPairs]]'s
    * `maxTrainDf`: shingles present in more than that many EVAL docs are
    * dropped from the index. A boilerplate shingle shared by most eval
    * docs would otherwise join nearly every incoming doc to nearly every
    * eval doc — in the streaming quarantine that is one state row per
    * (window, doc, eval) pair, the same quadratic hot-key blowup the
    * batch cap bounds. Because the index is static the cap is paid once
    * at build time. Same documented trade as `maxTrainDf`: `n_ev` stays
    * the doc's FULL set size while intersections can only shrink, so
    * reported containment under-counts and never over-counts — flagged
    * pairs remain trustworthy. Default None = exact. */
  def evalShingleIndex(evalDocs: DataFrame, shingleN: Int = 3,
      maxEvalDf: Option[Long] = None): DataFrame = {
    maxEvalDf.foreach(c => require(c > 0, s"maxEvalDf must be positive, got $c"))
    // explode_OUTER + post-explode null filter instead of explode +
    // pre-explode `size(s) > 0` (r16, guide §4): the size filter (plus
    // explode's inferred non-null/non-empty predicates) substitutes the
    // shingle kernel into a pushed-down scan filter — measured on the
    // d08 plan, `shingleHashes(text)` evaluated 3× in the scan Filter
    // and again in the Project. The outer explode infers nothing and
    // emits sh=null exactly for the shingle-less docs the size filter
    // excluded, so `sh IS NOT NULL` above the Generate keeps the index
    // identical while the kernel runs once, in the Project.
    // coalesce(-1) makes n_ev NON-NULLABLE: downstream containment math
    // references it, and a nullable n_ev makes Catalyst infer
    // `isnotnull(size(shingleHashes(text)))` into the scan filter — one
    // more kernel eval per row. Value-identical: n_ev is null iff `s` is
    // null, and those rows die at the sh filter below (null s explodes
    // to the one sh=null row).
    val ex = hashedShingleSets(evalDocs, shingleN)
      .select(col("doc_id").as("eval_id"),
        coalesce(size(col("s")).cast("long"), lit(-1L)).as("n_ev"),
        explode_outer(col("s")).as("sh"))
      .filter(col("sh").isNotNull)
    maxEvalDf.fold(ex) { cap =>
      val hot = ex.groupBy(col("sh"))
        .agg(count(lit(1)).as("__df")).filter(col("__df") > cap).select(col("sh"))
      ex.join(hot, Seq("sh"), "left_anti")
    }
  }

  /** Incremental (delta) dedup — the ingestion-time shape: admit only the
    * `newDocs` that duplicate NEITHER the existing `corpus` NOR an
    * earlier-id doc in their own batch. Returns the accepted `newDocs`
    * rows unchanged.
    *
    * Rejection rules, all deterministic:
    *   1. exact: the doc's text digest already exists in the corpus, or a
    *      lower-id doc in the same batch has the same digest;
    *   2. near-dup: a verified MinHash-LSH pair (same banding and exact
    *      Jaccard verify as [[minhashLshPairs]]) links the doc to any
    *      corpus doc or to ANY lower-id batch doc — note "any lower-id",
    *      not "any lower-id ACCEPTED": the set-based rule needs no
    *      sequential chain through the batch, so admission is one
    *      parallel pass. It can over-reject relative to greedy admission
    *      only when a batch near-dup chain's middle link was itself
    *      rejected — at real ingestion ratios (batch ≪ corpus) a
    *      conservative extra rejection is the safe direction.
    *
    * Scale shape: the corpus is reduced to two pre-aggregated frames — a
    * distinct digest frame ([[corpusDigests]]) and a band frame (one row
    * per (doc, band), [[corpusBands]]) — and both joins are equi-joins
    * keyed on digest / (band, bucket). Corpus TEXT is re-read only for
    * the docs the LSH actually hit (a semi-join of the corpus on the
    * candidate ids), never the whole corpus. At steady state persist the
    * digest + band frames once per corpus release and call
    * [[dedupDeltaWith]]; then each batch touches the corpus only through
    * those frames plus the candidate-sliver text lookup.
    * Doc ids must be globally unique with batch ids above corpus ids (the
    * natural monotonic-ingestion layout; the "lower id wins" rules lean
    * on it). */
  def dedupDelta(corpus: DataFrame, newDocs: DataFrame, shingleN: Int = 3,
      numHashes: Int = 12, rowsPerBand: Int = 3,
      minJaccardPermille: Int = 800): DataFrame =
    dedupDeltaWith(corpus, corpusDigests(corpus),
      corpusBands(corpus, shingleN, numHashes, rowsPerBand), newDocs,
      shingleN, numHashes, rowsPerBand, minJaccardPermille)

  /** Distinct text digests of a corpus release (`fp`) — build once per
    * release, persist, and feed to [[dedupDeltaWith]]. */
  def corpusDigests(corpus: DataFrame): DataFrame =
    corpus.select(md5(col("text")).as("fp")).distinct()

  /** LSH band frame `(doc_id, band, bh)` of a corpus release — build once
    * per release WITH THE SAME (shingleN, numHashes, rowsPerBand) the
    * delta pass will use, persist, and feed to [[dedupDeltaWith]]. */
  def corpusBands(corpus: DataFrame, shingleN: Int = 3,
      numHashes: Int = 12, rowsPerBand: Int = 3): DataFrame =
    bandFrame(corpus, shingleN, numHashes, rowsPerBand)

  /** [[dedupDelta]] with prebuilt corpus-side frames — the per-batch
    * serving shape. `digests`/`bands` MUST come from [[corpusDigests]] /
    * [[corpusBands]] over exactly this `corpus` with the same banding
    * params: a missing digest or band row silently admits a duplicate
    * (the same build-over-the-exact-set contract as a persisted Bloom
    * blob). `corpus` itself is only consulted for the text of
    * candidate-hit docs. The batch's rejected ids are collected to the
    * driver inside the call (at most [[MaxRejectedIds]], else the call
    * fails loudly), so nothing of the call stays cached. */
  def dedupDeltaWith(corpus0: DataFrame, digests0: DataFrame, bands0: DataFrame,
      newDocs0: DataFrame, shingleN: Int = 3,
      numHashes: Int = 12, rowsPerBand: Int = 3,
      minJaccardPermille: Int = 800): DataFrame =
    dedupDeltaWithImpl(corpus0, digests0, bands0, newDocs0, shingleN, numHashes,
      rowsPerBand, minJaccardPermille, MaxRejectedIds)

  /** Most ids one [[dedupDeltaWith]] batch may reject. The rejected set is
    * O(batch) and is detached to the driver as a LocalRelation (one `long`
    * or id per row, ~100 bytes of driver heap each): 2^20 ids is about
    * 100 MB. A batch that rejects more is a bulk load, not a serving
    * batch; split it. */
  private[graft] val MaxRejectedIds = 1 << 20

  /** The cap rides as a parameter so the spec can drive the overflow on a
    * tiny fixture; [[dedupDeltaWith]] always passes [[MaxRejectedIds]]. */
  private[graft] def dedupDeltaWithImpl(corpus0: DataFrame, digests0: DataFrame,
      bands0: DataFrame, newDocs0: DataFrame, shingleN: Int, numHashes: Int,
      rowsPerBand: Int, minJaccardPermille: Int, rejectCap: Int): DataFrame =
    // Serving-shaped batch: the same known plan re-executes per ingestion
    // call, so AQE re-planning buys nothing and charges a driver job per
    // exchange per batch (measured: 45 → 4 driver jobs on the board
    // query, results identical). Join strategies don't regress — every
    // join here is on derived frames whose static estimates never
    // broadcast, and band/bucket keys are uniform by construction so
    // skew-split has nothing to do. The scope is a conf-ISOLATED pooled
    // session clone (PlanScope.isolated): concurrent ingestion batches
    // — the serving scenario this operator exists for — run fully in
    // parallel, and a concurrent ad-hoc query on the caller's session
    // plans under AQE as usual. Persisted corpus-side frames (the
    // steady-state digests/bands) cross in as cached-block scans; derived
    // ones re-plan statically in the scope. initialNumPartitions: the
    // rejected-id detach below is a `limit(cap+1)` collect, which starts
    // at full width so it is ONE job (same conf as curateDelta's scope,
    // so a curateDelta call runs this in its own clone).
    graft.ops.PlanScope.isolated(newDocs0.sparkSession,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.limit.initialNumPartitions" -> "100000") { scoped =>
    val corpus = graft.ops.PlanScope.rebind(corpus0, scoped)
    val digests = graft.ops.PlanScope.rebind(digests0, scoped)
    val bands = graft.ops.PlanScope.rebind(bands0, scoped)
    val newDocs = graft.ops.PlanScope.rebind(newDocs0, scoped)
    // Guard the id contract the "lower id wins" rules lean on: batch ids
    // strictly above corpus ids. An overlapping id would silently merge
    // two docs' shingle sets in the verify union below. The guard rides
    // the checkpoint action below as a 0-row-or-raise union branch
    // (assert_true over the 1-row aggregate pair) instead of paying its
    // own driver job — it still fires inside THIS call, before any
    // result is exposed, whether or not any duplicate was rejected.
    // one union-aggregate instead of agg × agg crossJoin: the 1-row × 1-row
    // join planned a broadcast exchange whose build is a driver job per
    // batch; the union arm scans exactly the same columns and folds both
    // extrema in a single shuffle-free global aggregate
    // __uncastable closes the guard's own escape hatch: a NON-NUMERIC
    // doc_id type casts to NULL, and a null extremum would otherwise ride
    // the isNull escape and silently PASS the very check it defeats —
    // count rows whose original id was non-null but whose long cast
    // nulled out, and fail on any
    // try_cast, not cast: under ANSI (the session default) a plain cast
    // of a malformed id THROWS a generic CAST_INVALID_INPUT before the
    // __uncastable accounting below ever runs — try_cast nulls instead,
    // so the guard itself gets to raise the crafted diagnostic
    val idGuard = corpus.select(
        expr("try_cast(doc_id AS long)").as("__id"),
        col("doc_id").isNotNull.as("__nn"), lit(0).as("__side"))
      .unionByName(newDocs.select(
        expr("try_cast(doc_id AS long)").as("__id"),
        col("doc_id").isNotNull.as("__nn"), lit(1).as("__side")))
      .agg(max(when(col("__side") === 0, col("__id"))).as("__mx"),
        min(when(col("__side") === 1, col("__id"))).as("__mn"),
        sum(when(col("__nn") && col("__id").isNull, 1L).otherwise(0L))
          .as("__uncastable"))
      .select(assert_true(
        coalesce(col("__uncastable"), lit(0L)) === 0L &&
          (col("__mx").isNull || col("__mn").isNull ||
            col("__mx") < col("__mn")),
        // concat is null-propagating: a null extremum (all-uncastable
        // side) would null the WHOLE diagnostic and the job would fail
        // with a bare "null" — coalesce each to the literal text instead
        concat(lit("dedupDelta id contract violated: max(corpus.doc_id)="),
          coalesce(col("__mx").cast("string"), lit("null")),
          lit(" >= min(newDocs.doc_id)="),
          coalesce(col("__mn").cast("string"), lit("null")),
          lit(", non-castable ids="), coalesce(col("__uncastable"), lit(0L)),
          lit(" — batch ids must be castable to long and sit strictly " +
            "above corpus ids (monotonic ingestion layout)"))).as("__guard"))
    val fpNew = newDocs.select(col("doc_id"), md5(col("text")).as("__fp"))
    val exactVsCorpus = fpNew
      .join(digests.select(col("fp").as("__fp")), Seq("__fp"), "left_semi")
      .select(col("doc_id"))
    // min-over-window instead of self-join against the per-digest argmin:
    // the join's aggregated side planned a broadcast build (one driver job
    // per batch); the window pays the same single exchange on the digest
    // and nothing else — partitions are per-digest dup groups, bounded
    val exactWithin = fpNew
      .withColumn("__keep", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("__fp"))))
      .filter(col("doc_id") =!= col("__keep"))
      .select(col("doc_id"))
    val bNew = bandFrame(newDocs, shingleN, numHashes, rowsPerBand)
    // ONE tagged self-join replaces the former corpus×new + new×new pair:
    // both sides shuffle the SAME union frame on (band, bh), so
    // ReuseExchange computes the exchange once (three exchanges → one).
    // Pair orientation is preserved exactly: corpus→new pairs need no id
    // ordering (the guard puts every corpus id below every batch id) and
    // new→new pairs keep the a<b canon. Per-side duplicates (a pair
    // colliding in several bands — bounded by the band count) ride to
    // the ONE final distinct, whose map-side partial aggregation already
    // collapses them.
    val bandsAll = bands.select(col("doc_id"), col("band"), col("bh"),
        lit(false).as("__new"))
      .unionByName(bNew.select(col("doc_id"), col("band"), col("bh"),
        lit(true).as("__new")))
    // pinned: consumed twice (the involved-ids semi-join below + the
    // verify), and its lineage re-runs the LSH band join — O(pairs) rows
    val cand = bandsAll.as("x")
      .join(bandsAll.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("y.__new") && (!col("x.__new") || col("x.doc_id") < col("y.doc_id")))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // only docs that actually appear in a candidate pair get their text
    // re-read and shingled for the exact verify — the verify join touches
    // nothing else, so shingling the rest (either side) is pure waste
    val involved = cand.select(col("doc_a").as("doc_id"))
      .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
    val sets = hashedShingleSets(
      corpus.select(col("doc_id"), col("text"))
        .unionByName(newDocs.select(col("doc_id"), col("text")))
        .join(involved, Seq("doc_id"), "left_semi"), shingleN)
    val rejectedNear = verifyJaccard(cand, sets, minJaccardPermille)
      .select(col("doc_b").as("doc_id"))
    // Detach the O(batch)-sized rejected-id frame to the driver in ONE
    // job, then drop the pinned pair cache: the LSH band joins run
    // exactly once per batch, and nothing stays registered across
    // repeated ingestion calls — neither in the CacheManager nor as
    // RDD blocks (the rows rebuild as a plan-free LocalRelation). The
    // pair cache is released on every exit, a failed or overflowing
    // collect included. The id-contract guard is a 0-row-or-raise union
    // branch on this same action (assert_true returns null on pass →
    // the row filters away; raises on violation), so the whole serving
    // pass is ONE job and the guard fires even when no duplicate was
    // rejected.
    // Spark-version assumption, pinned here and by NorthStarSpec's
    // "id contract fires with zero rejected docs" regression test: this
    // relies on Catalyst NOT constant-folding IsNotNull over assert_true's
    // NullType output and NOT pruning the statically-empty-looking union
    // arm (assert_true is non-foldable/non-deterministic-tagged in 4.x,
    // which blocks both rules today). If a future optimizer learns to drop
    // the branch, the spec fails loudly — switch to an eager one-job
    // idGuard.head() at that point rather than weakening the contract.
    val guardBranch = idGuard.filter(col("__guard").isNotNull)
      .select(lit(0L).as("doc_id"))
    val rejected =
      try graft.ops.Detach.toLocal(
          exactVsCorpus.unionByName(exactWithin)
            .unionByName(rejectedNear).unionByName(guardBranch).distinct(),
          rejectCap, scoped,
          s"dedupDelta: the batch rejects more than $rejectCap ids — split it " +
            "into smaller ingestion batches")(())
      finally cand.unpersist()
    // NOT a broadcast: measured r16 — hinting the O(batch) rejected frame
    // into a BroadcastHashJoin anti added a broadcast-build job per batch
    // and read WORSE at the healthy floor (10-rep BENCH_ONLY: d12 1.72 ->
    // 2.08 s, d09/d11 +1 job each). A LocalRelation's exact size estimate
    // would pick that broadcast on its own, so the sort-merge join is
    // pinned by hint.
    newDocs.join(rejected.hint("merge"), Seq("doc_id"), "left_anti")
  }

  /** Line-level (paragraph-level) dedup, the CCNet/RefinedWeb boilerplate
    * stage: drop every line that occurs more than `maxOccurrences` times
    * across the whole corpus (navigation chrome, cookie banners, footers),
    * keep everything else in original order.
    *
    * Returns one row per input doc: `idCol`, `clean_text` (kept lines
    * re-joined with `sep`, `""` when every line was boilerplate),
    * `n_kept`, `n_dropped`.
    *
    * Scale shape (100 TB): three exchanges, all key-bounded —
    *   1. line-frequency aggregate, grouped on the line itself with
    *      map-side partials, so corpus-wide boilerplate collapses to one
    *      row per distinct line before the shuffle;
    *   2. an anti-join of exploded lines against the HOT set (freq >
    *      threshold). The hot set is tiny by construction — only lines
    *      repeated more than `maxOccurrences` times survive the filter —
    *      so AQE turns this into a broadcast;
    *   3. re-assembly grouped by doc id (collect kept lines, sort by
    *      position in-memory per doc — bounded by doc length, never a
    *      corpus-wide sort).
    * Nothing is quadratic and no window function runs over the corpus.
    * Lines are compared as exact strings (not hashes) so results are
    * engine-reproducible and oracle-checkable; the frequency shuffle
    * still only carries one row per distinct line thanks to the partial
    * aggregate. */
  def dedupLines(docs: DataFrame, idCol: String, textCol: String,
      maxOccurrences: Long, sep: String = "\n"): DataFrame = {
    require(maxOccurrences > 0, s"maxOccurrences must be positive, got $maxOccurrences")
    require(!docs.columns.contains("__line") && !docs.columns.contains("__pos"),
      "dedupLines reserves column names __line/__pos")
    val lines = docs.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep))))
      .toDF(idCol, "__pos", "__line")
    // hot = the boilerplate set; grouping on the string keeps the oracle
    // exact, the map-side partial keeps the shuffle at one row per
    // distinct line
    val hot = lines.groupBy(col("__line"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxOccurrences)
      .select(col("__line"))
    val kept = lines.join(hot, Seq("__line"), "left_anti")
    val reassembled = kept.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
          x => x.getField("__line")), sep).as("clean_text"))
    docs.select(col(idCol),
        size(split(col(textCol), java.util.regex.Pattern.quote(sep)))
          .cast("long").as("__total"))
      .join(reassembled, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("__total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
  }

  /** Exact duplicated-SPAN detection (the substring-level dedup of Lee et
    * al. 2022, arXiv:2107.06499, re-shaped for Spark): find, per document,
    * every maximal run of tokens covered by length-`windowTokens` word
    * windows whose exact text occurs at least `minOccurrences` times in
    * the whole corpus (other docs or repeats within the same doc). This
    * is the span-granular complement of doc-level near-dup ([[minhashLshPairs]])
    * and line-level boilerplate ([[dedupLines]]): it catches licence
    * blocks, templated paragraphs, and quoted chunks embedded in
    * otherwise-unique documents, which neither of those stages flags.
    *
    * The suffix-array of the paper is a single-machine structure; the
    * Spark-native equivalent is fixed-width window hashing — a window hash
    * collides exactly when the L-token substring matches, so recall at
    * granularity L is exact (any duplicated run of ≥ L tokens contains a
    * duplicated L-window; runs shorter than L are below the detection
    * floor by design, as in the paper's min-match-length).
    *
    * Output: one row per maximal span — `(doc_id, span_start, span_end,
    * n_windows)`, token indices inclusive; overlapping or exactly-adjacent
    * duplicated windows merge into one span.
    *
    * Scale shape (100 TB): window rows are O(total tokens) but carry only
    * `(doc_id, pos, hash60)` — the shuffle moves longs, never window
    * text; the frequency pass is one map-side-combinable groupBy on the
    * window hash; the membership pass is an equi-join against the
    * (tiny, freq ≥ minOccurrences) hot-hash set, which AQE broadcasts;
    * the island merge is a per-document sort (`Window.partitionBy(doc)`) —
    * bounded by one document's windows, never a corpus-wide rank. No
    * doc×doc join anywhere, so a window shared by 10⁶ docs costs 10⁶
    * index rows, not 10¹² pairs. */
  def duplicatedSpans(docs: DataFrame, windowTokens: Int = 8,
      minOccurrences: Long = 2L): DataFrame = {
    require(windowTokens > 0, s"windowTokens must be positive, got $windowTokens")
    require(minOccurrences >= 2L,
      s"minOccurrences below 2 would flag every window, got $minOccurrences")
    // entry spread (PlanScope.spreadIfSmall): the window-hash explode is
    // the heavy per-row kernel here — single-task on a one-split input,
    // no-op at scale (and on the curation pipeline's already-spread
    // unknown-stats frames)
    val wins = graft.ops.PlanScope.spreadIfSmall(docs, "doc_id")
      .select(col("doc_id"),
        posexplode(ngramList(col("text"), windowTokens)).as(Seq("pos", "__g")))
      .select(col("doc_id"), col("pos"), hash60(col("__g")).as("__wh"))
    val hot = wins.groupBy(col("__wh"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minOccurrences)
      .select(col("__wh"))
    val dup = wins.join(hot, Seq("__wh"), "left_semi")
    val perDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
    // gaps-and-islands: a window starts a new span iff it neither overlaps
    // nor exactly abuts the previous one (pos > prev + L)
    val grouped = dup
      .withColumn("__new",
        when(col("pos") > lag(col("pos"), 1).over(perDoc) + lit(windowTokens), 1)
          .otherwise(when(lag(col("pos"), 1).over(perDoc).isNull, 1).otherwise(0)))
      .withColumn("__grp", sum(col("__new")).over(perDoc))
    grouped.groupBy(col("doc_id"), col("__grp"))
      .agg(
        min(col("pos")).cast("long").as("span_start"),
        (max(col("pos")) + lit(windowTokens) - 1).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  /** Remove every token covered by a [[duplicatedSpans]] span — the
    * scrubbing half of substring-level dedup (Lee et al. 2022 drop
    * duplicated spans from training text; this is the symmetric "drop all
    * occurrences" policy, the conservative direction for contamination:
    * keeping one canonical copy would require a global argmin per span
    * cluster, which a caller can build from [[duplicatedSpans]] output if
    * the looser policy is wanted).
    *
    * Output: one row per input doc — `doc_id`, `clean_text` (kept tokens
    * re-joined with single spaces — this operator works on the token
    * stream, as the paper does; original whitespace runs are not
    * preserved), `n_kept`, `n_dropped`.
    *
    * Scale shape: the span frame is grouped to one array row per
    * FLAGGED doc (few spans each), equi-joined back on doc_id, and the
    * removal itself is one per-row index-aware HOF over the token array —
    * no token-level explode, no shuffle beyond the span computation and
    * the doc-keyed join. */
  def scrubDuplicatedSpans(docs: DataFrame, windowTokens: Int = 8,
      minOccurrences: Long = 2L): DataFrame = {
    val spans = duplicatedSpans(docs, windowTokens, minOccurrences)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end"))).as("__spans"))
    // the scrub's own tokenize + index-aware filter HOF is per-row kernel
    // work too — spread this leg like duplicatedSpans' (no-op at scale)
    graft.ops.PlanScope.spreadIfSmall(docs, "doc_id")
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        TextExpressions.tokens(col("text")).as("__toks"),
        coalesce(col("__spans"), typedLit(Seq.empty[(Long, Long)])
          .cast("array<struct<span_start:bigint,span_end:bigint>>")).as("__spans"))
      .select(col("doc_id"),
        filter(col("__toks"), (_, i) =>
          !exists(col("__spans"), s =>
            i.cast("long").between(s.getField("span_start"), s.getField("span_end"))))
          .as("__kept"),
        size(col("__toks")).cast("long").as("__total"))
      .select(col("doc_id"),
        array_join(col("__kept"), " ").as("clean_text"),
        size(col("__kept")).cast("long").as("n_kept"),
        (col("__total") - size(col("__kept"))).cast("long").as("n_dropped"))
  }

  /** The naive inverted-index jaccard join (reference implementation used by
    * the prefix-filter equivalence spec; also fine when the corpus has no
    * hot shingles). */
  def ngramJaccardPairsNaive(docs: DataFrame, shingleN: Int = 3, minPermille: Int = 500): DataFrame = {
    val ex = hashedShingleSets(docs, shingleN)
      .select(col("doc_id"), explode(col("s")).as("sh"))
    val cand = ex.as("a")
      .join(ex.as("b"), col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyJaccard(cand, hashedShingleSets(docs, shingleN), minPermille)
  }
}
