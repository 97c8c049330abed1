package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Byte-pair-encoding merge-rule TRAINING at corpus scale (Sennrich et al.
  * 2016, word-level variant): learn the top-k merge rules by repeatedly
  * (a) counting every adjacent token-pair occurrence corpus-wide and
  * (b) greedily fusing the most frequent pair everywhere it occurs —
  * t22's one-step pair count iterated into the full trainer loop.
  *
  * Exactness trick (what makes the DuckDB oracle replayable): the corpus
  * state is each doc's tokens joined by a DOUBLE space, and a learned
  * pair is applied with a literal left-to-right non-overlapping string
  * `replace` of `"a  b"` by `"ab"`. Because adjacent pair
  * occurrences share only the separator (never characters), non-
  * overlapping replace IS the greedy left-to-right merge semantics of
  * reference BPE implementations ("a  a  a" → "a␁a  a"), and every
  * engine's `replace` agrees byte-for-byte. Ties on count break to the
  * lexicographically smallest pair, so the learned rules are total-order
  * deterministic.
  *
  * Scale shape: each merge round is ONE corpus pass (pair explode +
  * partial-agg count + TakeOrdered(1)) and one lazily-applied per-row
  * replace; the corpus state is persisted per round (the counting action
  * materializes it), so round i never replays rounds 1..i-1, and the
  * only driver state is the single winning (pair, count) row per round.
  * k rounds = k corpus passes — the true cost of exact BPE training;
  * production trainers cut it by sampling, which composes here as a
  * `docs.sample`/hash-mod filter upstream.
  *
  * @param docs  (text: string) — whitespace-tokenized internally
  * @param k     number of merge rules to learn
  * @return (step: int, pair: string "a  b" in current-vocab tokens,
  *         n_occurrences: long) — one row per learned rule, in order
  */
object Bpe {

  /** Intra-token joint for merged pairs: \u0001 can never occur in
    * whitespace-derived tokens, so a merged "a\u0001b" is always
    * distinguishable from a pre-existing token "ab" (and the DuckDB
    * oracle's chr(1) produces the identical byte). */
  private val Sep = "\u0001"

  def trainMerges(spark: SparkSession, docs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // one known count-and-argmax plan per merge rule over the cached
    // corpus state — the pure-dispatch iterative shape (PlanScope
    // rationale): static scope halves the per-rule driver jobs; the
    // learned rules are conf-independent, so the returned frame is built
    // on the caller's session
    val rules = graft.ops.PlanScope.isolatedStatic(spark) { scoped =>
    val docsS = graft.ops.PlanScope.rebind(docs, scoped)
    // NARROW entry spread (r16): the corpus state of a small input is ONE
    // cached partition, so every round's pair-explode kernel ran a
    // ~100-150 ms single task (6 rounds = most of t45's wall). The r15
    // session-width spread was measured WORSE (1.19 -> 1.95 s: 32
    // near-empty cache-read tasks per round out-cost the parallel
    // kernel); a FEW-way spread amortizes the kernel without paying the
    // width. Width sweep (10-rep medians, t45 at the ~9 ms floor):
    // 1 -> 1.01 s, 2 -> 0.96, 4 -> 0.79/0.88, 8 -> 0.87, 32 -> 1.95 —
    // 4 sits where kernel_ms/width crosses the per-task cache-read
    // floor. Estimate-gated like every spread site: no-op at scale,
    // where the scan fans out with its file splits.
    val conf = scoped.sessionState.conf
    val small = scala.util.Try(docsS.queryExecution.optimizedPlan.stats.sizeInBytes)
      .toOption.exists(_ < BigInt(4L) * conf.filesMaxPartitionBytes)
    val corpus0 = docsS
      .select(array_join(graft.functions.TextFunctions.tokens(col("text")), "  ").as("s"))
    var corpus = (if (small) corpus0.repartition(math.min(4, conf.numShufflePartitions))
      else corpus0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // cache discipline: at most TWO generations pinned at once — the one
    // being counted and its parent (released as soon as this round's
    // collect materializes the child; a lost block recomputes through
    // the replace lineage, correct just slower). Holding every
    // generation (the former `spent` vector) pinned k corpus copies
    // simultaneously, and a mid-training failure leaked them all —
    // the try/finally releases whatever is still pinned on ANY exit.
    var prevGen: Option[org.apache.spark.sql.DataFrame] = None
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var step = 1
    var dry = false
    try {
    while (step <= k && !dry) {
      // Pair counting rides the codegen'd ngramList kernel (single-space
      // joined bigrams over the whitespace-run-split state — the double
      // joints collapse, the  -joined merged tokens pass through).
      // Mapping to the double-space pair is bijective AND
      // order-preserving: tokens contain no spaces, so for any two pairs
      // the first differing character position compares identically
      // whether the joint is one space or two — the (count desc, pair
      // asc) winner is the same one the interpreted-HOF form (and the
      // oracle's double-space CTEs) would pick.
      val best = corpus
        .select(explode(graft.functions.TextFunctions.ngramList(col("s"), 2)).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("pair").asc)
        .limit(1)
        .collect()
      // this round's collect materialized `corpus` — its parent is dead
      prevGen.foreach(_.unpersist(blocking = false))
      prevGen = None
      if (best.isEmpty || best(0).getLong(1) < 2L) {
        // no pair occurs twice: merging is pointless; stop early (the
        // reference trainers' stopping rule) rather than learn noise
        dry = true
      } else {
        val pair = best(0).getString(0).replace(" ", "  ")
        val cnt = best(0).getLong(1)
        learned += ((step, pair, cnt))
        val next = corpus
          .select(replace(col("s"), lit(pair), lit(pair.replace("  ", Sep))).as("s"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        prevGen = Some(corpus)
        corpus = next
        step += 1
      }
    }
    } finally {
      prevGen.foreach(_.unpersist(blocking = false))
      corpus.unpersist(blocking = false)
    }
    learned.toSeq
    }
    import spark.implicits._
    rules.toDF("step", "pair", "n_occurrences")
  }

  /** Apply learned merges to a corpus: the ENCODE side of [[trainMerges]]
    * — tokens fused in rule order with the same greedy replace, returned
    * re-split. A pure per-row map over broadcast rules: no shuffle, no
    * state, linear in corpus bytes per rule.
    *
    * @param rules (step, pair, ...) as produced by [[trainMerges]]
    * @return docs with an extra `bpe_tokens: array<string>` column whose
    *         merged tokens use "" as the intra-token joint
    */
  def encode(docs: DataFrame, rules: Seq[String]): DataFrame = {
    val joined = docs.withColumn("__s",
      array_join(graft.functions.TextFunctions.tokens(col("text")), "  "))
    val merged = rules.foldLeft(joined) { (df, pair) =>
      df.withColumn("__s", replace(col("__s"), lit(pair), lit(pair.replace("  ", Sep))))
    }
    merged
      .withColumn("bpe_tokens",
        when(length(col("__s")) === 0, array().cast("array<string>"))
          .otherwise(split(col("__s"), "  ", -1)))
      .drop("__s")
  }
}
