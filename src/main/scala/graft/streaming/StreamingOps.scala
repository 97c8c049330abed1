package graft.streaming

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}


/** One (doc, LSH band) row of the streaming near-dup pipeline. `ts` is the
  * original event-time column: it must flow into the stateful operator
  * unmodified so its watermark metadata survives (a derived column would
  * drop it and event-time timeouts would be rejected). */
case class BandRow(doc_id: Long, ts: java.sql.Timestamp, band: Long, bh: String)

/** Per-bucket state: the canonical (minimum) doc_id seen in this bucket,
  * plus the max event time seen — the eviction timeout must never move
  * earlier when an out-of-order (older) record arrives. */
case class BucketState(canonical: Long, maxTsMillis: Long)

/** A streaming near-dup candidate: `doc_id` collided with the bucket whose
  * canonical (first/minimum) document is `dup_of`, on LSH band `band`. */
case class NearDupHit(doc_id: Long, dup_of: Long, band: Long)

/** One (cell-assigned vector) row of the streaming semantic near-dup
  * pipeline. `ts` is the original event-time column (watermark metadata
  * must survive into the stateful operator). */
case class CellVecRow(cell: Int, vec_id: Long, ts: java.sql.Timestamp, emb: Seq[Float])

/** Per-cell state: vectors retained within the watermark horizon — each
  * with its own event time so a continuously-active cell can still prune
  * its expired entries — plus the max event time seen (eviction must never
  * move earlier on out-of-order arrivals). */
case class CellVecState(vecs: Seq[(Long, Seq[Float], Long)], maxTsMillis: Long)

/** A streaming semantic near-dup pair (doc_a < doc_b) found in k-means
  * `cell` with exact micro-unit cosine `cos_e6`. */
case class SemanticHit(doc_a: Long, doc_b: Long, cell: Int, cos_e6: Long)

/** One tagged input row of the streaming as-of join (side 0 = right /
  * reference stream, 1 = left / probe stream), and the row it buffers
  * until the watermark certifies it. `ts` is the original event-time
  * column so watermark metadata survives into the stateful op. */
case class AsofInput(key: Long, side: Int, id: Long, ts: java.sql.Timestamp, value: Double)

/** The as-of floor: the latest certified right row of a key — the value
  * every later left row matches until a newer right certifies. `tsUs` is
  * event time in MICROseconds — Timestamp.getTime would truncate to
  * millis and the match comparison must run at the full precision the
  * batch operator compares at (the events table is sub-millisecond). */
case class AsofRight(tsUs: Long, value: Double)

/** Streaming as-of output: the left row plus the matched right value and
  * timestamp (None when no right row at-or-before the left's ts). */
case class AsofEnriched(id: Long, key: Long, ts: java.sql.Timestamp, value: Double,
    asof_value: Option[Double], asof_ts: Option[java.sql.Timestamp])

/** streamingScd2 input: one change-log record ((ts, seq) orders replays). */
case class Scd2Input(key: Long, ts: java.sql.Timestamp, seq: Long, value: String)

/** The still-open value run of one key (O(1) state). */
case class Scd2Run(fromUs: Long, value: String, version: Long)

/** A buffered row not yet certified by the watermark. */
case class Scd2Pending(tsUs: Long, seq: Long, value: String)

/** A CLOSED validity interval — append-mode output; never mutates. */
case class Scd2Closed(key: Long, value: String, valid_from: java.sql.Timestamp,
    valid_to: java.sql.Timestamp, version: Long)

/** streamingFunnel input: one behavioral event ((ts, seq) orders replays). */
case class FunnelInput(key: Long, ts: java.sql.Timestamp, seq: Long, etype: String)

/** streamingRetention input: one activity event. */
case class RetentionInput(key: Long, ts: java.sql.Timestamp)

/** A first-visit-of-a-day record — append-mode output; a (key, day) pair
  * emits exactly once, so `groupBy(cohort_day, day_offset).count` over
  * the sink IS the retention triangle. */
case class CohortVisit(key: Long, cohort_day: String, day_offset: Long)

/** A buffered event not yet certified by the watermark. */
case class FunnelPending(tsUs: Long, seq: Long, etype: String)

/** A stage ADVANCE — append-mode output; a key's stage only ever grows,
  * so each advance is final the moment it is emitted. */
case class FunnelAdvance(key: Long, stage: Long, ts: java.sql.Timestamp)

/** Per-key state of an ordered streaming operator (see
  * `StreamingOps.certifiedReplay`): the operator's fold over every row the
  * watermark has certified, and the rows it has not certified yet. */
case class Replay[S, P](fold: S, pending: Seq[P])

/** Structured Streaming counterparts of graft.ops.CoreOps — the engine's
  * re-expression of the reference's *streaming* runtime semantics
  * (Kafka Streams continuous topologies), on Spark's micro-batch model.
  *
  * Semantics mapping (SURVEY.md §2.3, §2.4):
  *   - Kafka Streams emits one KTable update per input record (no
  *     suppress()): `outputMode("update")` is the faithful analogue — each
  *     micro-batch emits the current value of every (key, window) it
  *     touched.
  *   - Kafka Streams' default 24h grace ≈ `withWatermark`; the reference
  *     never tunes it, we make it an explicit parameter.
  *   - KTable (latest value per key) = `flatMapGroupsWithState` keeping one
  *     state row per key, emitting on change — a true changelog, unlike the
  *     stream-static join which only sees periodic snapshots.
  *
  * A face that IS a batch operator is not written here a second time: it
  * runs per record over a watermarked frame or per batch inside
  * [[foreachBatchSink]]. A windowed face calls its batch operator over
  * `withWatermark` (`CallsStreamPipeline.aggregate` is
  * `CoreOps.tumblingAgg`; each face below names its own), and Spark drops
  * `withWatermark` over a batch frame, so the face applied to a batch
  * frame is its batch operator.
  *
  * Scale: streaming state lives in the executor state stores partitioned by
  * the grouping key (`StateStoreSaveExec` / `FlatMapGroupsWithStateExec`),
  * so a 1000-executor cluster shards state horizontally; nothing here
  * touches the driver.
  */
object StreamingOps {

  /** Delay of a watermark string in ms, converted exactly as Spark's
    * `EventTimeWatermark` converts it (IntervalUtils.getDuration, 31-day
    * months) — a hand-rolled 30-day month here would prune operator state
    * and set timeouts out of sync with the engine's actual watermark. */
  private def watermarkDelayMs(watermark: String): Long = {
    val iv = org.apache.spark.sql.catalyst.util.IntervalUtils.stringToInterval(
      org.apache.spark.unsafe.types.UTF8String.fromString(watermark))
    org.apache.spark.sql.catalyst.util.IntervalUtils.getDuration(
      iv, java.util.concurrent.TimeUnit.MILLISECONDS, 31)
  }

  /** `df` with its leading `window` struct replaced by the window's start,
    * named `name`. */
  private def startOf(df: DataFrame, name: String): DataFrame =
    df.select(col("window.start").as(name) +: df.columns.toSeq.tail.map(col): _*)

  /** Watermarked HOPPING-window aggregate — the streaming form of the
    * batch q27 (Kafka Streams `TimeWindows.of(width).advanceBy(slide)`,
    * SURVEY.md §2.6): each event lands in width/slide overlapping windows;
    * Spark's `window(ts, width, slide)` enumerates them at the scan, so
    * the aggregate itself is the same partial-then-final shape as the
    * tumbling form, with state per (window, key) evicted at the
    * watermark. [[graft.ops.CoreOps.countCents]] by (window, key). */
  def hoppingAggStream(
      events: DataFrame,
      tsCol: String,
      key: Column,
      value: Column,
      width: String = "1 hour",
      slide: String = "30 minutes",
      watermark: String = "24 hours"): DataFrame =
    graft.ops.CoreOps.countCents(events.withWatermark(tsCol, watermark), value,
      window(col(tsCol), width, slide).as("window"), key.as("user_id"))

  /** Watermarked SESSION-window aggregate — the streaming form of the
    * batch q16 (Kafka Streams `SessionWindows.with(gap)`): windows grow
    * with activity and close after `gap` of silence per key. Spark's
    * `session_window` merges overlapping per-event sessions in the state
    * store, evicting a session once the watermark passes its close.
    * [[graft.ops.CoreOps.countCents]] by (session, key). */
  def sessionAggStream(
      events: DataFrame,
      tsCol: String,
      key: Column,
      value: Column,
      gap: String = "2 hours",
      watermark: String = "24 hours"): DataFrame =
    graft.ops.CoreOps.countCents(events.withWatermark(tsCol, watermark), value,
      session_window(col(tsCol), gap).as("window"), key.as("user_id"))

  /** Watermarked windowed KMV distinct sketch over a stream — streaming
    * form of q29: per event-time window, the k smallest distinct hashes
    * and the derived distinct-count estimate. [[graft.expressions
    * .KmvSketch]] is a TypedImperativeAggregate whose partials merge, so it
    * composes with `window()` + update mode exactly like a `sum` — at most
    * k longs of state per window cross the store, no matter how many
    * distinct values arrive. */
  def windowedDistinctSketchStream(
      events: DataFrame,
      tsCol: String,
      hash: Column,
      k: Int,
      bits: Int,
      width: String = "1 hour",
      watermark: String = "24 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width).as("window"))
      .agg(graft.operators.Sketches.kmv(hash, k).as("sk"))
      .select(col("window.start").as("window_start"), col("sk"),
        graft.operators.Sketches.kmvEstimate("sk", k, bits).as("est_distinct"))

  /** Watermarked windowed count-min sketch over a stream — streaming form
    * of t25: per event-time window, the full depth×width counter grid.
    * [[graft.expressions.CmsSketch]] merges by elementwise sum, so it
    * composes with `window()` + update mode exactly like a `sum` — fixed
    * `depth*width` longs of state per window no matter how many distinct
    * items arrive, and the emitted grid equals the batch grid over the
    * same window's rows bit-for-bit. Probe the result with
    * [[graft.operators.Sketches.cmsCount]] downstream. */
  def windowedCmsStream(
      events: DataFrame,
      tsCol: String,
      item: Column,
      depth: Int,
      width: Int,
      windowWidth: String = "1 hour",
      watermark: String = "24 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowWidth).as("window"))
      .agg(graft.operators.Sketches.cms(item, depth, width).as("cms"))
      .select(col("window.start").as("window_start"), col("cms"))

  /** Watermarked windowed HyperLogLog registers over a stream — the
    * distinct-count face of [[windowedCmsStream]] (frequency) and the
    * fixed-state alternative to [[windowedDistinctSketchStream]]'s KMV:
    * `2^p` bytes of state per window regardless of cardinality, merged by
    * max (idempotent — replays and retries cannot inflate it). The grid
    * is bit-identical to the batch aggregate over the same window's rows
    * (StreamingSpec), so estimates via
    * [[graft.operators.Sketches.hllEstimate]] agree too. */
  def windowedHllStream(
      events: DataFrame,
      tsCol: String,
      hash: Column,
      p: Int,
      windowWidth: String = "1 hour",
      watermark: String = "24 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), windowWidth).as("window"))
      .agg(graft.operators.Sketches.hll(hash, p).as("hll"))
      .select(col("window.start").as("window_start"), col("hll"))

  /** Watermarked per-window key-skew monitor — the streaming face of
    * [[graft.ops.ScaleOps.skewReport]], for watching a join/grouping
    * key's hot-spot ratio drift in production: per closed window, one
    * row of per-key-count statistics (exact integer math, definitional-
    * rank p50/p99). TWO chained stateful aggregations on the same
    * event-time window (the Spark 3.5+ multiple-stateful-operator append
    * shape, as in [[streamingBm25]]): (window, key) counts first — a key
    * split across micro-batches still counts as one — then the
    * fixed-state stats aggregate. State: O(keys) per open window in
    * stage 1, O(distinct counts) in stage 2. */
  def windowedSkewStream(
      events: DataFrame,
      tsCol: String,
      keyCol: String,
      windowWidth: String = "1 hour",
      watermark: String = "24 hours"): DataFrame =
    startOf(graft.ops.ScaleOps.skewReport(events.withWatermark(tsCol, watermark), keyCol,
      window(col(tsCol), windowWidth).as("window")), "window_start")

  /** Watermarked windowed EXACT quantiles over a stream — streaming form
    * of q28/q30: [[graft.operators.Sketches.histogramQuantiles]] by
    * window, one bounded aggregate whose state per window is bounded by
    * the distinct-value domain, not the row count.
    *
    * @param quantiles output column name -> permille, as in exactQuantiles
    * @param slide     below `width`: hopping windows, each event landing in
    *                  width/slide of them, as in [[hoppingAggStream]]
    */
  def windowedQuantilesStream(
      events: DataFrame,
      tsCol: String,
      value: Column,
      quantiles: Seq[(String, Int)],
      width: String = "1 hour",
      watermark: String = "24 hours",
      slide: Option[String] = None): DataFrame = {
    val w = slide.fold(window(col(tsCol), width))(s => window(col(tsCol), width, s))
    startOf(graft.operators.Sketches.histogramQuantiles(
      events.withWatermark(tsCol, watermark), value, quantiles, w.as("window")), "window_start")
  }

  /** Watermarked windowed top-k leaderboard: the k best (score, id) rows
    * per time window through ONE bounded [[graft.expressions.TopKByScore]]
    * heap — the streaming form of the engine's top-k primitive (s01/t11's
    * aggregate), state O(k) per window regardless of stream volume. Rows
    * rank (score DESC, id ASC), the aggregate's frozen order. Emitted
    * exploded as (window_start, rank, id, score) so the output is a plain
    * relational leaderboard; the explode is a stateless projection after
    * the stateful agg, legal in every output mode. */
  def windowedTopKStream(
      events: DataFrame,
      tsCol: String,
      score: Column,
      id: Column,
      k: Int,
      width: String = "1 hour",
      watermark: String = "24 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(window(col(tsCol), width).as("window"))
      .agg(graft.expressions.TopKByScore.topK(score, id, k).as("__top"))
      .select(col("window.start").as("window_start"),
        posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("window_start"), (col("__pos") + 1).as("rank"),
        col("__e.id").as("id"), col("__e.score").as("score"))

  /** Windowed BM25 leaderboard over a pre-built static inverted index
    * ([[graft.operators.TextSearch.TextIndex]]) — the streaming face of
    * s08's serving shape: query EVENTS arrive on the stream, their terms
    * probe the static posting lists, and each event-time window closes
    * with a per-query top-k leaderboard.
    *
    * Three chained stateful aggregations on the SAME event-time window
    * (supported append-mode shape): (window, query, doc, term) max first
    * — the idempotency level that makes a re-delivered or cross-event
    * repeated term count once, like batch queryTerms' distinct term set —
    * then (window, query, doc) contribution sums — so a query whose
    * events (or term batches) split across micro-batches still scores as
    * one query — then the bounded [[graft.expressions.TopKByScore]] heap
    * per (window, query). All per-term contributions are micro-rounded
    * longs BEFORE the sum (the library-wide *_e6 convention), so
    * stream ≡ batch bit-for-bit.
    *
    * Corpus stats are read once at build time (1-row driver fetch, the
    * same class as the IVF centroid fetch) and embedded as literals with
    * the identical IEEE derivation the batch path uses; df comes from a
    * static re-aggregation of the postings. Scale shape: both probe joins
    * are stream-static equi-joins (broadcast when the model fits),
    * stateful state is O(matched docs) for open windows then O(k) after
    * the heap.
    */
  def streamingBm25(
      queries: DataFrame,
      tsCol: String,
      queryIdCol: String,
      textCol: String,
      index: graft.operators.TextSearch.TextIndex,
      k: Int,
      k1: Double = 1.5,
      b: Double = 0.75,
      width: String = "1 hour",
      watermark: String = "24 hours"): DataFrame =
    streamingBm25WithRelease(queries, tsCol, queryIdCol, textCol, index, k,
      k1, b, width, watermark)._1

  /** [[streamingBm25]] plus the release handle for its pinned df cache.
    * The df-by-term persist must outlive the SERVING STREAM, not the JVM:
    * a caller that rebuilds the stream (restart, test suite, several
    * indexes over one session) should invoke the handle after stopping
    * the query, or each build pins another cache entry for the process
    * lifetime. The plain entry point keeps the old signature for the
    * one-stream-per-process serving deployment where index lifetime ==
    * JVM lifetime. */
  def streamingBm25WithRelease(
      queries: DataFrame,
      tsCol: String,
      queryIdCol: String,
      textCol: String,
      index: graft.operators.TextSearch.TextIndex,
      k: Int,
      k1: Double = 1.5,
      b: Double = 0.75,
      width: String = "1 hour",
      watermark: String = "24 hours"): (DataFrame, () => Unit) = {
    val statsRow = index.stats.select(
      col("n_docs").cast("long"), col("sum_dl").cast("long")).head()
    val nDocs = statsRow.getLong(0)
    val sumDl = statsRow.getLong(1)
    require(nDocs > 0, "streamingBm25: empty index")
    // same IEEE value as the batch tail's sum_dl.cast(double)/n_docs
    val avgdl = sumDl.toDouble / nDocs
    // persisted: each micro-batch plans the static side of a stream-static
    // join again, and StaticBroadcastReuse builds it once per run only
    // when it is broadcast and reads files or local rows, so unpinned this
    // full-postings aggregation could still rerun per trigger just to
    // rederive constant df values (a sort-merge join, or an index over a
    // cached frame). The cache lives as long as the serving stream — the
    // same serving-artifact lifetime as the index itself.
    val dfByTerm = index.postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val contrib = queries
      .withWatermark(tsCol, watermark)
      .select(col(tsCol).as("__ts"), col(queryIdCol).as("query_id"),
        explode(array_distinct(graft.functions.TextFunctions.tokens(col(textCol))))
          .as("term"))
      .join(index.postings, "term")
      .join(dfByTerm, "term")
      .withColumn("contrib_e6",
        round(lit(1e6) *
          log((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
          (col("tf") * lit(k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / lit(avgdl))))
          .cast("long"))
    val leaderboard = contrib
      // idempotency level: a (window, query, term) delivered twice — an
      // at-least-once re-delivery, or one term repeated across a query's
      // split event batches — must count ONCE, as batch queryTerms'
      // distinct term set does. contrib_e6 is deterministic per
      // (term, doc), so max ≡ the single value; without this level the
      // per-(query, doc) sum below double-counts and stream ≢ batch.
      .groupBy(window(col("__ts"), width).as("window"), col("query_id"),
        col("doc_id"), col("term"))
      .agg(max(col("contrib_e6")).as("contrib_e6"))
      .groupBy(col("window"), col("query_id"), col("doc_id"))
      .agg(sum(col("contrib_e6")).as("score_e6"))
      .groupBy(col("window"), col("query_id"))
      .agg(graft.expressions.TopKByScore.topK(
        col("score_e6").cast("double"), col("doc_id"), k).as("__top"))
      .select(col("window.start").as("window_start"), col("query_id"),
        posexplode(col("__top")).as(Seq("__pos", "__e")))
      .select(col("window_start"), col("query_id"),
        (col("__pos") + 1).cast("int").as("rank"),
        col("__e.id").as("doc_id"),
        col("__e.score").cast("long").as("score_e6"))
    (leaderboard, () => dfByTerm.unpersist(blocking = false))
  }

  /** Watermarked per-key SESSION-window exact quantiles — the sketch
    * composed with the gap-based window kind: sessions grow with activity
    * and close after `gap` of silence, and the bounded
    * [[graft.expressions.QuantileHistogram]] state merges when sessions
    * merge (its `merge` is the additive histogram union, exactly what
    * session coalescing needs). Completes the sketch × window-kind
    * matrix: tumbling and hopping ([[windowedQuantilesStream]], whose
    * `slide` makes the windows hop), and session here.
    * [[graft.operators.Sketches.histogramQuantiles]] by (session, key).
    *
    * Append mode only (like [[sessionAggStream]]): Spark finalizes a
    * session once the watermark passes its close — the
    * suppressed-until-close shape; update-mode session aggregation is
    * rejected by the planner.
    */
  def sessionQuantilesStream(
      events: DataFrame,
      tsCol: String,
      key: Column,
      value: Column,
      quantiles: Seq[(String, Int)],
      gap: String = "2 hours",
      watermark: String = "24 hours"): DataFrame =
    startOf(graft.operators.Sketches.histogramQuantiles(
      events.withWatermark(tsCol, watermark), value, quantiles,
      session_window(col(tsCol), gap).as("window"), key.as("user_id")), "session_start")

  /** KTable semantics on a changelog stream: keep the latest value per key,
    * emit the new latest on every change (reference: `builder.table(topic)`,
    * CallsEnrichedApp.java:58).
    *
    * `ord` orders the buffered state and the incoming records — the
    * largest wins, so give every upsert a unique `ord` (its Kafka offset).
    * Equal-`ord` ties have no fixed winner: the last of them in
    * group-iterator order is kept, and Spark sorts that iterator by key
    * only, not by arrival.
    *
    * State is one row per key in the executor state store; use with
    * `outputMode("update")`.
    */
  def latestPerKey[T: Encoder, K: Encoder](
      ds: Dataset[T],
      keyFn: T => K,
      ord: T => Long): Dataset[T] =
    ds.groupByKey(keyFn)
      .flatMapGroupsWithState[T, T](OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (_: K, rows: Iterator[T], state: GroupState[T]) =>
          var latest: Option[T] = state.getOption
          var changed = false
          rows.foreach { r =>
            if (latest.forall(l => ord(r) >= ord(l))) { latest = Some(r); changed = true }
          }
          if (changed) {
            state.update(latest.get)
            Iterator.single(latest.get)
          } else Iterator.empty
      }

  /** Windowed stream-stream equi-join — the Kafka Streams
    * `KStream.join(KStream, JoinWindows.of(bound))` shape (not used by the
    * reference's two topologies, but part of the DSL surface; SURVEY.md
    * §2.6). Records join when keys match and their event times are within
    * `bound` of each other; both sides carry watermarks so join state is
    * evicted once the window can no longer match.
    *
    * Scale: state is partitioned by the join key across executors; the
    * watermark bounds state size to (rate × bound) per side.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      bound: String,
      watermark: String,
      joinType: String = "inner"): DataFrame = {
    // dataset aliases, not raw-name expr: two streams of the same schema
    // (the natural self-join shape — clicks vs views both keyed user_id/
    // ts) would make a name-based condition ambiguous and fail at
    // analysis; qualified refs resolve each side unambiguously
    val l = left.withWatermark(leftTs, watermark).alias("__l")
    val r = right.withWatermark(rightTs, watermark).alias("__r")
    l.join(r,
      col(s"__l.$leftKey") === col(s"__r.$rightKey") &&
        col(s"__r.$rightTs").between(
          col(s"__l.$leftTs") - expr(s"INTERVAL $bound"),
          col(s"__l.$leftTs") + expr(s"INTERVAL $bound")),
      joinType)
  }

  /** Streaming exact dedup: first record per key wins, later duplicates
    * dropped for as long as they can still arrive (the watermark delay) —
    * Spark's dropDuplicatesWithinWatermark, the streaming analogue of the
    * batch exact-dedup groupBy. State per key is evicted at the watermark,
    * so memory is bounded by (key rate × delay). */
  def streamingDedup(events: DataFrame, tsCol: String, keys: Seq[String], watermark: String): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Run `body(batch, batchId)` on every micro-batch of `stream`: the one
    * way a batch operator serves a stream. A micro-batch is a deterministic
    * batch computation (D-Streams), so calling the batch operator inside
    * `body` IS its streaming face, and stream ≡ batch per micro-batch by
    * construction. The batch faces run this way, against artifacts built
    * once and persisted by the caller (re-deriving them per trigger would
    * re-scan the corpus every batch): `Dedup.dedupDeltaWith` (survivors
    * of a frozen release's digest + band frames),
    * `CurationPipeline.curateDelta` / `curateDeltaWith` (the delta
    * admission gauntlet against explicit artifacts or a frozen `Release`),
    * `Similarity.bitextMarginMineWith` (prebuilt source/target IVF
    * indexes); [[hybridSearchSink]] and [[linkGraphSink]] add per-batch
    * logic of their own. Duplicates ACROSS batches are the release
    * cadence's concern: fold accepted batches into the next release cut,
    * or chain [[streamingLshNearDup]] upstream.
    *
    * `outputMode`: `Append` for a stream of raw records, `Update` for an
    * aggregated changelog (each batch carries the current value of every
    * key it touched; SURVEY.md §7.5: Kafka sinks give no append-only
    * guarantee under update-mode aggregation).
    *
    * REPLAY CONTRACT: after a restart, the last batch whose commit marker
    * did not land is re-delivered under the SAME batchId. A body that
    * overwrites by key, or upserts keyed on (key, batchId), is therefore
    * exactly-once from the reader's side. A body that is not idempotent
    * (an additive fold) must apply its write AND record the batchId in one
    * transaction, skipping any batchId at or below the recorded high-water
    * mark — the recipe Spark prescribes for any non-idempotent
    * foreachBatch body. */
  def foreachBatchSink(
      stream: DataFrame,
      checkpointDir: String,
      outputMode: OutputMode)(
      body: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) => body(batch.toDF(), batchId) }

  /** Streaming link-graph artifact maintenance — the serving face of
    * [[graft.operators.Graphs.mergeEdgeCounts]]: each micro-batch of
    * arriving edges is reduced to `(src, dst, n)` pair counts (one
    * grouped aggregate, map-side partial — self-loops dropped, matching
    * the batch derivation) and handed to `merge(batchCounts, batchId)`,
    * where the caller folds it into the released artifact with
    * `mergeEdgeCounts`. Stream ≡ batch by construction: count-merge is
    * associative over disjoint batches, so N triggers folded in order
    * equal one batch derivation over the concatenated edges exactly
    * (spec-pinned). Per batch nothing corpus-sized moves — the batch
    * reduces before it ever meets the |pairs|-sized artifact.
    *
    * The fold is additive, NOT idempotent: folding the same batch twice
    * double-counts its edges, so `merge` must keep the batchId
    * high-water mark of [[foreachBatchSink]]'s replay contract (the spec
    * models the guard). */
  def linkGraphSink(
      edges: DataFrame, // columns: src (long), dst (long), streaming
      checkpointDir: String)(
      merge: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    foreachBatchSink(edges, checkpointDir, OutputMode.Append()) { (batch, batchId) =>
      merge(batch
        .select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("n")), batchId)
    }

  /** Streaming hybrid retrieval — the serving face of the s16 shape: each
    * micro-batch of user queries `(query_id, text, embedding)` runs the
    * lexical leg against a prebuilt [[graft.operators.TextSearch.TextIndex]]
    * and the dense leg against a prebuilt
    * [[graft.operators.Similarity.IvfIndex]], fuses them with
    * [[graft.operators.TextSearch.rrfFuse]], and hands the fused top-k to
    * `sink(results, batchId)` (idempotent per-batch upsert — the replay
    * contract of [[foreachBatchSink]]). Batch ≡ stream by construction:
    * the per-batch body IS the batch operators.
    *
    * The batch's query TEXTS are collected to the driver — bounded state
    * by definition (a trigger's worth of user queries, not corpus data;
    * the BM25 leg needs literal terms to prune the postings scan). Both
    * indexes should be persisted by the caller — that is the point of the
    * serving shape. Empty micro-batches skip the sink call. */
  def hybridSearchSink(
      queries: DataFrame, // streaming: query_id (long), text (string), embedding (array<float>)
      textIndex: graft.operators.TextSearch.TextIndex,
      ivf: graft.operators.Similarity.IvfIndex,
      k: Int,
      nprobe: Int,
      rrfK: Int = 60,
      checkpointDir: String)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    foreachBatchSink(queries, checkpointDir, OutputMode.Append()) { (batch, batchId) =>
      val b = batch.persist()
      try {
        val qText = b.select(col("query_id").cast("long"), col("text"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
        if (qText.nonEmpty) {
          val lex = graft.operators.TextSearch.bm25TopKWith(textIndex, qText, k)
            .select(col("query_id"), col("doc_id"), col("rank"))
          // excludeSelf = false: query ids are USER query ids, not
          // corpus vec_ids — an id collision is coincidence, and the
          // default self-exclusion would silently drop that corpus doc
          // from the dense leg (the bitextMarginMineWith rule)
          val dense = graft.operators.Similarity.ivfKnnWith(ivf,
              b.select(col("query_id").as("vec_id"), col("embedding")), k, nprobe,
              excludeSelf = false)
            .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
          sink(graft.operators.TextSearch.rrfFuse(Seq(lex, dense), k, rrfK), batchId)
        }
      } finally { b.unpersist(blocking = false); () }
    }

  /** Streaming MinHash-LSH near-duplicate detection: the streaming
    * counterpart of Dedup.minhashLshPairs (same signature scheme, same
    * banding), emitting a candidate hit whenever an incoming document
    * collides with an earlier document's band bucket.
    *
    * Per record, the 12-hash MinHash signature is computed from the doc's
    * own shingles (a per-row scalar, so NO streaming aggregation is needed
    * before the stateful op — chaining two stateful operators is what
    * Spark's planner forbids); each of the `numHashes/rowsPerBand` band
    * hashes becomes a row, and a single flatMapGroupsWithState keyed by
    * (band, bucket-hash) keeps one long of state per live bucket: the
    * canonical (minimum) doc_id. Later docs in the bucket emit
    * `NearDupHit(doc, canonical, band)`.
    *
    * Exactly like the batch operator, hits are LSH *candidates* — the
    * downstream verify (exact Jaccard on the pair) runs in the sink
    * (see foreachBatchSink), where the doc bodies
    * can be fetched; a doc with no verified hit is kept.
    *
    * State is watermark-bounded: every bucket arms an event-time timeout at
    * (max event time seen + the watermark delay) and removes itself when
    * the watermark passes it, so memory tracks live buckets within the
    * dedup horizon, not corpus history. Out-of-order arrivals inside the
    * horizon are handled by keeping the MINIMUM doc_id as canonical: a doc
    * once flagged stays flagged, and when a late-arriving smaller id takes
    * over as canonical, the displaced previous canonical is emitted as a
    * hit against it — so the pair association is never lost and downstream
    * clustering (components) links the chain regardless of arrival order.
    */
  def streamingLshNearDup(
      docs: DataFrame, // columns: doc_id (long), text (string), <tsCol> (timestamp)
      tsCol: String = "ts",
      watermark: String = "1 hour",
      shingleN: Int = 3,
      numHashes: Int = 12,
      rowsPerBand: Int = 3): Dataset[NearDupHit] = {
    require(numHashes % rowsPerBand == 0, "numHashes must be divisible by rowsPerBand")
    import docs.sparkSession.implicits._
    // ONE kernel call per row (MinhashBandsExpr) — the same single-source
    // banding the batch bandFrame uses (BandRuleSpec pins the kernel ≡
    // the exploded agg + bandStructs rule), so batch and stream can never
    // drift. The former per-row HOF form re-walked the shingle array once
    // per hash with hash60 interpreted inside the lambda — the exact
    // per-column re-evaluation the kernel was built to remove (the s09
    // lesson, Dedup.scala bandFrame note). Shingle-less docs return an
    // empty array → no band rows, same as the old mh0-null filter.
    val bands = docs
      .withWatermark(tsCol, watermark)
      .select(col("doc_id"), col(tsCol).as("ts"),
        posexplode(graft.expressions.TextExpressions.minhashBands(
          col("text"), shingleN, numHashes, rowsPerBand)).as(Seq("band", "bh")))
      .select(col("doc_id"), col("ts"), col("band").cast("long").as("band"), col("bh"))
      .as[BandRow]
    val delayMs = watermarkDelayMs(watermark)
    bands
      .groupByKey(r => (r.band, r.bh))
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, String), rows: Iterator[BandRow], state: GroupState[BucketState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val rs = rows.toArray
            val prev = state.getOption.map(_.canonical)
            val canonical = (prev.toSeq ++ rs.map(_.doc_id)).min
            // never shrink the horizon: a late (older-ts) arrival must not
            // re-arm the eviction earlier than docs already in the bucket
            val maxTs = (state.getOption.map(_.maxTsMillis).toSeq ++
              rs.map(_.ts.getTime)).max
            state.update(BucketState(canonical, maxTs))
            state.setTimeoutTimestamp(maxTs + delayMs)
            // a smaller late arrival displaces the old canonical — emit the
            // displaced doc as a hit so the pair isn't silently lost (it
            // never was flagged when it arrived into an empty bucket)
            val displaced = prev
              .filter(p => p != canonical && !rs.exists(_.doc_id == p))
              .map(p => NearDupHit(p, canonical, key._1))
            rs.iterator.filter(_.doc_id != canonical)
              .map(r => NearDupHit(r.doc_id, canonical, key._1)) ++ displaced.iterator
          }
      }
  }

  /** Exact micro-unit cosine in driver-free Scala, bit-identical to the
    * batch expression path: float products widened to double and summed in
    * index order (≡ DotProductFF), norms over each vector's own full
    * length, HALF_UP rounding (≡ Spark `round`). */
  private def cosE6Jvm(a: Seq[Float], b: Seq[Float]): Long = {
    def dot(x: Seq[Float], y: Seq[Float]): Double = {
      val n = math.min(x.length, y.length)
      var s = 0.0; var i = 0
      while (i < n) { s += x(i).toDouble * y(i).toDouble; i += 1 }
      s
    }
    val c = dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))
    // Spark's Round(double) goes BigDecimal.valueOf (the shortest-decimal
    // path, NOT the exact-binary constructor) then HALF_UP — mirror it
    java.math.BigDecimal.valueOf(c * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).doubleValue().toLong
  }

  /** Streaming semantic near-dup (SemDeDup) — the streaming counterpart of
    * [[graft.operators.Similarity.semanticNearDupPairs]]: each arriving
    * vector is assigned to its k-means cell against a PREBUILT centroid
    * table (the serving posture: the fit is an offline artifact, e.g.
    * `Similarity.buildIvf(...).centroids` or `loadIvf(...).centroids`),
    * then compared by exact micro-unit cosine against the vectors retained
    * in that cell's watermark-bounded state. Pairs at or above `minCosE6`
    * emit in append mode.
    *
    * Assignment parity: per-row argmax of `dotWiden(v, cv)/(norm(v)·cn)`
    * over the centroid literals, ties to the lowest cell id — the same
    * doubles, comparisons, and tie order as the batch `assignToCells`
    * (greatest over (cos, -cid) structs ≡ max_by). Pair parity: the JVM
    * cosine above is bit-identical to the batch expression. So stream ≡
    * batch whenever both see the same data inside the horizon.
    *
    * State: the cell's vectors within the watermark horizon — size a cell
    * by choosing nCells so (arrival rate × horizon)/nCells vectors fit a
    * task, the streaming twin of the batch Σ|cell|² sizing. Two eviction
    * paths keep that bound real: idle cells drop wholesale via event-time
    * timeout, and ACTIVE cells prune per-vector on every invocation
    * (entries whose event time has fallen a full horizon behind the
    * watermark can never pair with a non-late arrival — without this a
    * continuously-busy cell would accumulate its whole history and turn
    * each arrival into a scan of it). */
  def streamingSemanticNearDup(
      vecs: DataFrame, // columns: vec_id (long), embedding (array<float>), <tsCol>
      centroids: DataFrame, // (cid int, cv array<double>) — static, prebuilt
      minCosE6: Long,
      tsCol: String = "ts",
      watermark: String = "1 hour"): Dataset[SemanticHit] = {
    import vecs.sparkSession.implicits._
    val cents = centroids.select(col("cid"), col("cv")).collect()
      .map { r =>
        val cv = r.getSeq[Double](1).toArray
        // the ONE codeword-norm definition (bit-compat with the batch
        // withCentNorm dotWiden order and the fit's replaying oracles)
        (r.getInt(0), cv, graft.expressions.VectorExpressions.normOf(cv))
      }.sortBy(_._1)
    require(cents.nonEmpty, "streamingSemanticNearDup needs a non-empty centroid table")
    val v = col("embedding")
    val scored = cents.map { case (cid, cv, cn) =>
      struct(
        (graft.expressions.VectorExpressions.dotWiden(v, typedLit(cv.toSeq))
          / (sqrt(graft.expressions.VectorExpressions.dotFF(v, v)) * lit(cn))).as("cos"),
        lit(-cid).as("neg"), lit(cid).as("cid"))
    }
    val delayMs = watermarkDelayMs(watermark)
    vecs
      .withWatermark(tsCol, watermark)
      .select(
        (if (scored.length == 1) scored.head else greatest(scored.toIndexedSeq: _*))
          .getField("cid").as("cell"),
        col("vec_id"), col(tsCol).as("ts"), v.as("emb"))
      .as[CellVecRow]
      .groupByKey(_.cell)
      .flatMapGroupsWithState[CellVecState, SemanticHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (cell: Int, rows: Iterator[CellVecRow], state: GroupState[CellVecState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // deterministic intra-batch order so reruns emit identical sets
            val rs = rows.toArray.sortBy(r => (r.ts.getTime, r.vec_id))
            // prune expired vectors BEFORE comparing: an entry a full
            // horizon behind the watermark can only pair with rows the
            // watermark already rejects, so keeping it would be pure
            // state bloat (quadratic scan cost in a busy cell)
            val wm = state.getCurrentWatermarkMs()
            val acc = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Float], Long)]
            state.getOption.foreach(s =>
              acc ++= s.vecs.filter { case (_, _, t) => t + delayMs >= wm })
            val hits = scala.collection.mutable.ArrayBuffer.empty[SemanticHit]
            // first delivery wins: a re-delivered vec_id (at-least-once
            // upstream, or repeated in one batch) must not append a second
            // state copy — that would re-emit every one of its pairs and
            // double the quadratic per-arrival scan until the horizon
            // pruned the copies
            val seen = scala.collection.mutable.HashSet.empty[Long]
            acc.foreach { case (id, _, _) => seen += id }
            rs.foreach { r =>
              if (seen.add(r.vec_id)) {
                acc.foreach { case (id, e, _) =>
                  if (id != r.vec_id) {
                    val c = cosE6Jvm(r.emb, e)
                    if (c >= minCosE6)
                      hits += SemanticHit(math.min(id, r.vec_id), math.max(id, r.vec_id), cell, c)
                  }
                }
                acc += ((r.vec_id, r.emb, r.ts.getTime))
              }
            }
            val maxTs = (state.getOption.map(_.maxTsMillis).toSeq ++
              rs.map(_.ts.getTime)).max
            state.update(CellVecState(acc.toSeq, maxTs))
            state.setTimeoutTimestamp(maxTs + delayMs)
            hits.iterator
          }
      }
  }

  /** The one per-key loop of the ordered streaming operators
    * ([[streamingAsofJoin]], [[streamingScd2]], [[streamingFunnel]],
    * [[streamingRetention]]): an order-sensitive fold is correct under
    * out-of-order arrival only if it sees rows in event-time order, so
    * rows wait in state until the watermark certifies them, and certified
    * rows fold in `Ordering[P]` order. Per call on a key:
    *   - a timed-out call reads no fresh rows (it has none);
    *   - each fresh row becomes a pending row (`pend`);
    *   - a pending row is certified once `tsUs < watermark`. The cutoff is
    *     STRICT: Spark's lateness cutoff lets a row at exactly ts == wm
    *     still arrive, and it might sort before a row certified now;
    *   - certified rows replay in `Ordering[P]` order through `step`, which
    *     returns the next fold state and at most one output row;
    *   - the state becomes `Replay(fold, rows still pending)`, and an
    *     event-time timeout is re-armed at the earliest pending row (at
    *     least `wm + 1`, as Spark requires) so pending rows flush when the
    *     watermark passes them even if the key sees no further record.
    *
    * A replayed micro-batch starts from the same state version and the
    * same watermark, so it recomputes the same state and the same output
    * (the D-Streams contract); StreamingSpec's restart table kills and
    * restarts every operator on its checkpoint, on both state stores.
    *
    * Append mode: every output row is final when emitted. The state row is
    * `Replay[S, P]` through `Encoders.product`; a checkpoint written by a
    * build whose per-operator state classes predate `Replay` does not
    * resume (the state schema differs). */
  private def certifiedReplay[In, P: TypeTag: Ordering, S: TypeTag, O: Encoder](
      rows: Dataset[In], key: In => Long, init: S, pend: In => P, tsUs: P => Long)(
      step: (Long, S, P) => (S, Option[O])): Dataset[O] =
    rows.groupByKey(key)(Encoders.scalaLong)
      .flatMapGroupsWithState[Replay[S, P], O](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (k: Long, fresh: Iterator[In], state: GroupState[Replay[S, P]]) =>
          val st = state.getOption.getOrElse(Replay(init, Seq.empty[P]))
          val wm = state.getCurrentWatermarkMs()
          val arrived = if (state.hasTimedOut) Nil else fresh.map(pend).toSeq
          val (ready, pending) = (st.pending ++ arrived).partition(tsUs(_) < wm * 1000L)
          var fold = st.fold
          val out = ready.sorted.flatMap { p =>
            val (next, o) = step(k, fold, p)
            fold = next
            o
          }
          state.update(Replay(fold, pending))
          pending.map(tsUs).minOption.foreach(t =>
            state.setTimeoutTimestamp(math.max(t / 1000L, wm + 1)))
          out.iterator
      }(Encoders.product[Replay[S, P]], implicitly[Encoder[O]])

  /** Streaming as-of join — the streaming counterpart of
    * [[graft.operators.AsofJoin]]: every left (probe) row is enriched with
    * the most recent right (reference) row of the same key at or before
    * its event time, exactly as the batch operator would compute it.
    *
    * Correctness under out-of-order arrival: a left row's answer is only
    * FINAL once no earlier right row can still arrive — i.e. once the
    * watermark passes the left row's timestamp. Both sides are pending
    * rows of one [[certifiedReplay]], replayed in (ts, side, id) order, so
    * at an equal ts a right sorts before a left (as-of is at-or-before).
    * The fold state is the FLOOR: the latest certified right row. A
    * right moves the floor; a left emits against it (append mode, one row
    * each). As-of lookback is unbounded, so the floor is kept for the
    * key's lifetime: O(1) state per idle key, the same bound as a KTable.
    *
    * Shape: both streams are watermarked, tagged, unioned (the batch
    * operator's union trick) and keyed by the join key. Contract as in
    * batch: right unique per (key, ts).
    *
    * The operator runs at the GLOBAL watermark — the minimum across both
    * inputs (Spark's default multipleWatermarkPolicy) — so a stalled
    * reference stream holds results back rather than emitting lookups
    * that a late reference row could still invalidate.
    */
  def streamingAsofJoin(
      left: DataFrame, // columns: key (long), id (long), ts (timestamp), value (double)
      right: DataFrame, // columns: key (long), ts (timestamp), value (double)
      watermark: String = "1 hour"): Dataset[AsofEnriched] = {
    import left.sparkSession.implicits._
    val l = left.withWatermark("ts", watermark)
      .select(col("key"), lit(1).as("side"), col("id"), col("ts"), col("value"))
    val r = right.withWatermark("ts", watermark)
      .select(col("key"), lit(0).as("side"), lit(-1L).as("id"), col("ts"), col("value"))
    implicit val rightsFirst: Ordering[AsofInput] = Ordering.by(x => (tsMicros(x.ts), x.side, x.id))
    certifiedReplay(l.unionByName(r).as[AsofInput], (x: AsofInput) => x.key,
        Option.empty[AsofRight], (x: AsofInput) => x, (x: AsofInput) => tsMicros(x.ts)) {
      (key, floor, x) =>
        if (x.side == 0) (Some(AsofRight(tsMicros(x.ts), x.value)), None)
        else (floor, Some(AsofEnriched(x.id, key, x.ts, x.value,
          floor.map(_.value), floor.map(f => microsTs(f.tsUs)))))
    }
  }

  /** Streaming SCD2 — the CDC face of [[graft.ops.Temporal.scd2]]: per
    * key, watermark-certified rows replay in (ts, seq) order through the
    * change detector; each value change CLOSES the previous run and emits
    * its finalized validity interval (append mode — a closed interval
    * never mutates, so downstream consumers can sink it blindly). The fold
    * state is the one open run; the rows wait under [[certifiedReplay]].
    * Expects columns `key: long, ts: timestamp, seq: long, value: string`.
    * StreamingSpec proves closed intervals ≡ the batch operator's closed
    * rows with out-of-order arrivals split across micro-batches. */
  def streamingScd2(events: DataFrame, watermark: String = "1 hour"): Dataset[Scd2Closed] = {
    import events.sparkSession.implicits._
    implicit val bySeq: Ordering[Scd2Pending] = Ordering.by(p => (p.tsUs, p.seq))
    certifiedReplay(events.withWatermark("ts", watermark)
        .select(col("key"), col("ts"), col("seq"), col("value")).as[Scd2Input],
        (x: Scd2Input) => x.key, Option.empty[Scd2Run],
        (x: Scd2Input) => Scd2Pending(tsMicros(x.ts), x.seq, x.value), (p: Scd2Pending) => p.tsUs) {
      (key, open, p) => open match {
        case Some(run) if run.value == p.value => (open, None) // unchanged: run extends
        case Some(run) => (Some(Scd2Run(p.tsUs, p.value, run.version + 1)),
          Some(Scd2Closed(key, run.value, microsTs(run.fromUs), microsTs(p.tsUs), run.version)))
        case None => (Some(Scd2Run(p.tsUs, p.value, 1L)), None)
      }
    }
  }

  /** Streaming funnel — the live face of
    * [[graft.ops.Temporal.funnelStages]]: per key, watermark-certified
    * events replay in (ts, seq) order through the same greedy fold, and
    * every time the furthest-stage counter ADVANCES the new stage is
    * emitted with the advancing event's timestamp (append mode — a
    * stage never regresses, so each advance is final on emission; the
    * live "conversions so far" feed a dashboard counts by stage).
    *
    * The fold state is one int (the stage); the rows wait under
    * [[certifiedReplay]], which is what makes the greedy fold correct
    * under out-of-order arrival (greedy matching is order-sensitive;
    * folding uncertified rows early could claim a match batch replay
    * would order differently). StreamingSpec proves final stages ≡ the
    * batch operator under multi-batch out-of-order arrival. Expects
    * columns `key: long, ts: timestamp, seq: long, etype: string`.
    */
  def streamingFunnel(events: DataFrame, stages: Seq[String],
      watermark: String = "1 hour"): Dataset[FunnelAdvance] = {
    require(stages.nonEmpty, "streamingFunnel needs at least one stage")
    require(stages.distinct.size == stages.size,
      "streamingFunnel: repeated stage names make the greedy fold ambiguous")
    import events.sparkSession.implicits._
    implicit val bySeq: Ordering[FunnelPending] = Ordering.by(p => (p.tsUs, p.seq))
    certifiedReplay(events.withWatermark("ts", watermark)
        .select(col("key"), col("ts"), col("seq"), col("etype")).as[FunnelInput],
        (x: FunnelInput) => x.key, 0,
        (x: FunnelInput) => FunnelPending(tsMicros(x.ts), x.seq, x.etype), (p: FunnelPending) => p.tsUs) {
      (key, stage, p) =>
        if (stage < stages.length && p.etype == stages(stage))
          (stage + 1, Some(FunnelAdvance(key, stage + 1L, microsTs(p.tsUs))))
        else (stage, None)
    }
  }

  /** Streaming cohort retention — the live face of
    * [[graft.ops.Temporal.cohortRetention]]: per key, the FIRST certified
    * active day fixes the cohort, and every later first-visit-of-a-day
    * emits one (key, cohort_day, day_offset) record in append mode (a
    * (key, day) pair emits exactly once, so a downstream
    * `groupBy(cohort_day, day_offset).count` over the sink is the live
    * retention triangle — counts only ever grow).
    *
    * The fold state is the cohort day (epoch days; -1 = unset) and the
    * key's distinct active days (the batch operator's calendar-bounded
    * per-key set); the rows wait under [[certifiedReplay]] — ordered
    * replay is what makes "first certified day" the true minimum under
    * out-of-order arrival. Expects `key: long, ts: timestamp`. Days are
    * UTC epoch days of the event time.
    */
  def streamingRetention(events: DataFrame,
      watermark: String = "1 hour"): Dataset[CohortVisit] = {
    import events.sparkSession.implicits._
    certifiedReplay(events.withWatermark("ts", watermark)
        .select(col("key"), col("ts")).as[RetentionInput],
        (x: RetentionInput) => x.key, (-1, Seq.empty[Int]),
        (x: RetentionInput) => tsMicros(x.ts), (us: Long) => us) {
      case (key, (cohort0, seen), us) =>
        val day = Math.floorDiv(us, 86400000000L).toInt
        val cohort = if (cohort0 < 0) day else cohort0
        if (seen.contains(day)) ((cohort, seen), None)
        else ((cohort, seen :+ day), Some(CohortVisit(key,
          java.time.LocalDate.ofEpochDay(cohort.toLong).toString, (day - cohort).toLong)))
    }
  }

  /** Timestamp → event-time microseconds (getTime alone truncates to ms). */
  private def tsMicros(t: java.sql.Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  /** Microseconds → Timestamp, sub-second part restored exactly. */
  private def microsTs(us: Long): java.sql.Timestamp = {
    val secs = Math.floorDiv(us, 1000000L)
    val t = new java.sql.Timestamp(secs * 1000L)
    t.setNanos(((us - secs * 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming contamination quarantine — the streaming counterpart of
    * Dedup.contaminationPairs: every incoming document is checked against
    * a STATIC eval-shingle inverted index
    * ([[graft.operators.Dedup.evalShingleIndex]] output — build it once
    * per eval-set release, persist or bucket it by `sh`), and documents
    * whose shingle containment of any eval doc reaches `minPermille` are
    * flagged before they can enter a training mix.
    *
    * Shape: the document's distinct shingle hash60s are computed per row
    * with the SAME codegen'd expression the batch operator uses
    * (`TextExpressions.shingleHashes` — single source, no drift), exploded,
    * stream-static equi-joined to the index on the hash, and the exact
    * intersection count per (window, doc, eval doc) runs as the ONE
    * stateful aggregation (watermark-bounded, append mode emits each
    * window once finalized). All-integer containment math, identical to
    * batch: `1000*inter DIV n_ev`.
    *
    * Scale: the index is |eval shingles| rows — thousands of docs, so it
    * broadcasts; state is one count per (window, doc, eval) pair that
    * shares ≥1 shingle, bounded by the watermark horizon. A doc with no
    * eval collision produces zero state (the inner join drops it). The
    * state-size caveat: a boilerplate shingle shared by most eval docs
    * joins nearly every incoming doc to nearly every eval doc — one
    * state row each. Build the index with `evalShingleIndex(...,
    * maxEvalDf = Some(cap))` to drop such hot shingles once at build
    * time (documented under-count, flagged pairs stay trustworthy);
    * with the cap in place the quarantine only pays for real suspects.
    *
    * Output: `(window_start, doc_id, eval_id, inter_cnt,
    * containment_permille)` — one row per flagged (doc, eval) pair.
    */
  def streamingContamination(
      docs: DataFrame, // columns: doc_id (long), text (string), <tsCol> (timestamp)
      evalIndex: DataFrame, // static Dedup.evalShingleIndex output: (eval_id, n_ev, sh)
      tsCol: String = "ts",
      watermark: String = "1 hour",
      windowDuration: String = "1 hour",
      shingleN: Int = 3,
      minPermille: Int = 500): DataFrame = {
    require(minPermille >= 1 && minPermille <= 1000,
      s"minPermille must be in [1,1000], got $minPermille")
    val sh = docs
      .withWatermark(tsCol, watermark)
      .select(col("doc_id"), col(tsCol).as("__ts"),
        explode(graft.expressions.TextExpressions.shingleHashes(col("text"), shingleN)).as("sh"))
    // stream-static inner join: each micro-batch plans the index again; a
    // broadcast of it is built once per run (StaticBroadcastReuse) when
    // the index reads files or local rows
    sh.join(evalIndex, "sh")
      // idempotency level (the streamingBm25 pattern): a re-delivered doc
      // event re-joins every one of its shingles, and a plain count would
      // double inter_cnt (containment could read > 1000‰) — collapsing to
      // the distinct (window, doc, eval, shingle) grain first makes the
      // count a true intersection size under at-least-once delivery
      .groupBy(window(col("__ts"), windowDuration).as("window"),
        col("doc_id"), col("eval_id"), col("n_ev"), col("sh"))
      .agg(first(lit(1)).as("__one"))
      .groupBy(col("window"), col("doc_id"), col("eval_id"), col("n_ev"))
      .agg(count(lit(1)).as("inter_cnt"))
      .withColumn("containment_permille",
        expr("CAST((1000 * inter_cnt) DIV n_ev AS BIGINT)"))
      .filter(col("containment_permille") >= minPermille)
      .select(col("window.start").as("window_start"), col("doc_id"), col("eval_id"),
        col("inter_cnt"), col("containment_permille"))
  }
}
