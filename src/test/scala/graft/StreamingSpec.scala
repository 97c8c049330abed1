package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{AsofInput, CallsStreamPipeline, KafkaIO, RetentionInput, StreamingOps}
import org.apache.spark.sql.types._

case class CallEvent(ts: Timestamp, user_id: Long, value: Long)
case class RawCall(ts: Timestamp, user_id: Long, value: Double)
case class CustUpsert(phone: Long, doc: String, offset: Long)
case class StreamDocFixture(doc_id: Long, text: String, ts: Timestamp)
case class StreamVecFixture(vec_id: Long, embedding: Seq[Float], ts: Timestamp)
case class AsofLeftFix(key: Long, id: Long, ts: Timestamp, value: Double)
case class AsofRightFix(key: Long, ts: Timestamp, value: Double)
case class QueryEvent(ts: Timestamp, query_id: Long, text: String)
case class Scd2Fix(key: Long, ts: Timestamp, seq: Long, value: String)
case class FunnelFix(key: Long, ts: Timestamp, seq: Long, etype: String)
case class HybridQueryFix(query_id: Long, text: String, embedding: Seq[Float])
case class BitextQueryFix(vec_id: Long, embedding: Seq[Float])
case class EdgeFix(src: Long, dst: Long)

/** Streaming semantics mirrored from the reference's TopologyTestDriver
  * tests (CallsEnrichedAppTest.java) on MemoryStream micro-batches:
  * update-mode changelog emission, watermark late-data policy, KTable
  * latest-per-key state, stream-static enrichment.
  */
class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-01-01 $hhmm:00")

  private def runUpdate(df: DataFrame, name: String)(feed: => Unit): DataFrame = {
    val q = df.writeStream
      .format("memory").queryName(name).outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory(s"ck-$name").toString)
      .start()
    try { feed; q.processAllAvailable() } finally q.stop()
    spark.table(name)
  }

  test("update mode emits a changelog row per touched (key, window) per batch") {
    val in = MemoryStream[CallEvent](spark)
    val agg = CallsStreamPipeline.aggregate(in.toDF())
    val q = agg.writeStream
      .format("memory").queryName("agg_updates").outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("ck-agg").toString)
      .start()
    try {
      // fixture stream: 5 calls, one caller, one hour — durations 3,2,3,2,2
      // (count=5, max=3, total=12, avg=2: CallsEnrichedAppTest.java:115-122)
      in.addData(CallEvent(ts("10:05"), 600000000L, 3), CallEvent(ts("10:10"), 600000000L, 2))
      q.processAllAvailable()
      in.addData(CallEvent(ts("10:20"), 600000000L, 3), CallEvent(ts("10:40"), 600000000L, 2),
        CallEvent(ts("10:59"), 600000000L, 2))
      q.processAllAvailable()
    } finally q.stop()

    val rows = spark.table("agg_updates")
      .select("calls_count", "max_duracion_origen", "total_duracion_origen", "avg_duracion_origen")
      .collect().map(_.toSeq)
    // one update per micro-batch that touched the (key, window) — the
    // KTable-changelog behavior (running aggregate), then the final value
    assert(rows.length === 2)
    assert(rows(0) === Seq(2L, 3L, 5L, 2L))
    assert(rows(1) === Seq(5L, 3L, 12L, 2L))
  }

  test("append mode + watermark drops data later than the grace period") {
    val in = MemoryStream[CallEvent](spark)
    val agg = CallsStreamPipeline.aggregate(in.toDF(), watermark = "10 minutes")
    val q = agg.writeStream
      .format("memory").queryName("agg_append").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-append").toString)
      .start()
    try {
      in.addData(CallEvent(ts("10:05"), 1L, 3), CallEvent(ts("10:30"), 1L, 2))
      q.processAllAvailable()
      // advance event time well past 11:00 + 10min → closes the 10:00 window
      in.addData(CallEvent(ts("12:00"), 1L, 7))
      q.processAllAvailable()
      // too late: watermark is now 11:50, the 10:00–11:00 window is finalized
      in.addData(CallEvent(ts("10:45"), 1L, 100))
      q.processAllAvailable()
      in.addData(CallEvent(ts("14:00"), 1L, 1))
      q.processAllAvailable()
    } finally q.stop()

    val byWindow = spark.table("agg_append")
      .select(col("window.start").cast("string"), col("calls_count"), col("total_duracion_origen"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // finalized 10:00 window has only the two on-time calls; the late
    // duration=100 record was discarded, not merged or re-emitted
    assert(byWindow("2024-01-01 10:00:00") === ((2L, 5L)))
    assert(byWindow("2024-01-01 12:00:00") === ((1L, 7L)))
  }

  test("latestPerKey is a KTable: state keeps the newest row, emits on change") {
    val in = MemoryStream[CustUpsert](spark)
    val table = StreamingOps.latestPerKey[CustUpsert, Long](in.toDS(), _.phone, _.offset)
    val q = table.writeStream
      .format("memory").queryName("ktable").outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("ck-kt").toString)
      .start()
    try {
      in.addData(CustUpsert(600L, "old-doc", 1), CustUpsert(700L, "other", 2))
      q.processAllAvailable()
      in.addData(CustUpsert(600L, "new-doc", 3)) // upsert key 600
      q.processAllAvailable()
      in.addData(CustUpsert(600L, "stale", 0)) // out-of-order older offset: ignored
      q.processAllAvailable()
    } finally q.stop()

    val emitted = spark.table("ktable").as[CustUpsert].collect()
    assert(emitted.length === 3) // batch1: 600+700, batch2: 600 upsert, batch3: nothing
    val latest = emitted.groupBy(_.phone).map { case (k, vs) => k -> vs.maxBy(_.offset).doc }
    assert(latest === Map(600L -> "new-doc", 700L -> "other"))
  }

  test("stream-static enrichment left join null-defaults misses (golden fixture)") {
    val customers = Seq(
      (600000000L, "0000000R", "MOVISTAR", 1, 100.0)
    ).toDF("phone", "doc", "operator", "flag", "days")

    val in = MemoryStream[CallEvent](spark)
    val out = CallsStreamPipeline.enriched(
      CallsStreamPipeline.aggregate(in.toDF()),
      customers, "phone", "doc", "operator", "flag", "days")

    val result = runUpdate(out, "enriched_stream") {
      in.addData(
        CallEvent(ts("10:05"), 600000000L, 3), CallEvent(ts("10:10"), 600000000L, 2),
        CallEvent(ts("10:20"), 600000000L, 3), CallEvent(ts("10:40"), 600000000L, 2),
        CallEvent(ts("10:59"), 600000000L, 2),
        CallEvent(ts("10:30"), 999999999L, 5)) // no such customer → defaults
    }

    val hit = result.filter($"id_telef_origen" === "600000000").collect().head
    assert(hit.getAs[String]("window_start_ts") === "01/01/2024 10:00")
    assert(hit.getAs[String]("window_end_ts") === "01/01/2024 11:00")
    assert(hit.getAs[Long]("calls_count") === 5L)
    assert(hit.getAs[Long]("max_duracion_origen") === 3L)
    assert(hit.getAs[Long]("total_duracion_origen") === 12L)
    assert(hit.getAs[Long]("avg_duracion_origen") === 2L)
    assert(hit.getAs[String]("doc_cliente") === "0000000R")
    assert(hit.getAs[String]("operador_actual") === "MOVISTAR")

    val miss = result.filter($"id_telef_origen" === "999999999").collect().head
    assert(miss.getAs[String]("doc_cliente") === "Unknown")
    assert(miss.getAs[String]("operador_actual") === "Unknown")
    assert(miss.getAs[Int]("cliente_orange") === 0)
    assert(miss.getAs[Long]("days_excliente") === 0L)
  }

  test("interval join matches records within the time bound, drops the rest") {
    val calls = MemoryStream[CallEvent](spark)
    val acks = MemoryStream[CallEvent](spark)
    val joined = StreamingOps.intervalJoin(
      calls.toDF().select($"ts".as("l_ts"), $"user_id".as("l_key"), $"value".as("l_v")),
      acks.toDF().select($"ts".as("r_ts"), $"user_id".as("r_key"), $"value".as("r_v")),
      leftKey = "l_key", rightKey = "r_key",
      leftTs = "l_ts", rightTs = "r_ts",
      bound = "10 MINUTES", watermark = "1 hour")
    val q = joined.writeStream
      .format("memory").queryName("ivj").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-ivj").toString)
      .start()
    try {
      calls.addData(CallEvent(ts("10:00"), 1L, 100), CallEvent(ts("12:00"), 2L, 200))
      acks.addData(
        CallEvent(ts("10:05"), 1L, 111), // within 10min of key 1 → joins
        CallEvent(ts("10:30"), 1L, 222), // 30min away → dropped
        CallEvent(ts("12:01"), 3L, 333)) // key mismatch → dropped
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ivj").select("l_key", "l_v", "r_v").collect().map(_.toSeq)
    assert(rows.toSeq === Seq(Seq(1L, 100L, 111L)))
  }

  test("interval join works when both streams share one schema (no pre-renaming required)") {
    // the natural self-join shape — two streams of the same event type —
    // used to fail at analysis with AMBIGUOUS_REFERENCE because the join
    // condition was built from raw column names; dataset aliases fixed it
    val calls = MemoryStream[CallEvent](spark)
    val acks = MemoryStream[CallEvent](spark)
    val joined = StreamingOps.intervalJoin(
      calls.toDF(), acks.toDF(),
      leftKey = "user_id", rightKey = "user_id",
      leftTs = "ts", rightTs = "ts",
      bound = "10 MINUTES", watermark = "1 hour")
    val q = joined.writeStream
      .format("memory").queryName("ivj_same").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-ivj-same").toString)
      .start()
    try {
      calls.addData(CallEvent(ts("10:00"), 1L, 100))
      acks.addData(
        CallEvent(ts("10:05"), 1L, 111), // within bound → joins
        CallEvent(ts("10:30"), 1L, 222)) // outside bound → dropped
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ivj_same").collect()
    assert(rows.length === 1)
    // left value then right value, both sides' columns present
    assert(rows.head.toSeq.count(_ == 100L) === 1 && rows.head.toSeq.count(_ == 111L) === 1)
  }

  test("left-outer interval join emits unmatched rows with nulls once the watermark certifies them") {
    // the outer side of a stream-stream join can only be emitted when the
    // watermark proves no matching right row can still arrive — the
    // Structured Streaming capability that makes missed-ack detection a
    // query instead of a batch reconciliation job
    val calls = MemoryStream[CallEvent](spark)
    val acks = MemoryStream[CallEvent](spark)
    val joined = StreamingOps.intervalJoin(
      calls.toDF().select($"ts".as("l_ts"), $"user_id".as("l_key"), $"value".as("l_v")),
      acks.toDF().select($"ts".as("r_ts"), $"user_id".as("r_key"), $"value".as("r_v")),
      leftKey = "l_key", rightKey = "r_key",
      leftTs = "l_ts", rightTs = "r_ts",
      bound = "10 MINUTES", watermark = "30 minutes", joinType = "left_outer")
    val q = joined.writeStream
      .format("memory").queryName("ivj_outer").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-ivj-outer").toString)
      .start()
    try {
      calls.addData(
        CallEvent(ts("10:00"), 1L, 100),  // acked → joined row
        CallEvent(ts("10:00"), 2L, 200))  // never acked → null row later
      acks.addData(CallEvent(ts("10:05"), 1L, 111))
      q.processAllAvailable()
      // advance both watermarks far past 10:00 + bound + delay so the
      // unmatched left row is certified unmatched and emitted
      calls.addData(CallEvent(ts("12:00"), 9L, 900))
      acks.addData(CallEvent(ts("12:00"), 9L, 901))
      q.processAllAvailable()
      calls.addData(CallEvent(ts("13:00"), 8L, 800))
      acks.addData(CallEvent(ts("13:00"), 8L, 801))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ivj_outer")
      .filter($"l_key".isin(1L, 2L))
      .select($"l_key", $"l_v", $"r_v")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(rows === Set((1L, 100L, 111L), (2L, 200L, -1L)),
      s"expected the matched row and the null-certified unmatched row, got $rows")
  }

  test("streaming dedup keeps the first record per key within the watermark") {
    val in = MemoryStream[CallEvent](spark)
    val deduped = StreamingOps.streamingDedup(
      in.toDF(), tsCol = "ts", keys = Seq("user_id"), watermark = "30 minutes")
    val q = deduped.writeStream
      .format("memory").queryName("sdedup").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-sd").toString)
      .start()
    try {
      in.addData(CallEvent(ts("10:00"), 7L, 1), CallEvent(ts("10:01"), 7L, 2))
      q.processAllAvailable()
      in.addData(CallEvent(ts("10:02"), 7L, 3), CallEvent(ts("10:00"), 8L, 4))
      q.processAllAvailable()
    } finally q.stop()
    val vals = spark.table("sdedup").select("user_id", "value")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // key 7: only its first record survived across batches; key 8 kept
    assert(vals === Map(7L -> 1L, 8L -> 4L))
  }

  test("kafka payload serde round-trips columns through key/value wire shape") {
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("value", LongType)))
    val rows = Seq((1L, 10L), (2L, 20L)).toDF("user_id", "value")
    val wire = KafkaIO.columnsToPayload(rows, "user_id")
    assert(wire.columns.toSeq === Seq("key", "value"))
    val back = KafkaIO.payloadToColumns(
      wire.select($"key", $"value".cast("binary").as("value")), schema)
      .orderBy("user_id").collect().map(_.toSeq)
    assert(back === Seq(Seq("1", 1L, 10L), Seq("2", 2L, 20L)))

    // Confluent wire format: 5-byte header strip recovers the body
    val framed = Seq(Array[Byte](0, 0, 0, 0, 1) ++ "payload".getBytes("UTF-8")).toDF("value")
    val stripped = framed.select(KafkaIO.stripConfluentHeader($"value").cast("string")).first.getString(0)
    assert(stripped === "payload")
  }

  test("changelog upsert sink: per-batch upserts yield latest-value table") {
    val in = MemoryStream[CallEvent](spark)
    val agg = CallsStreamPipeline.aggregate(in.toDF())
      .select($"id_telef_origen".as("key"), $"calls_count", $"total_duracion_origen")

    // toy upsert store keyed by caller — what a JDBC/Kafka-compacted sink does
    val store = scala.collection.concurrent.TrieMap[String, (Long, Long)]()
    val q = StreamingOps.foreachBatchSink(
      agg, Files.createTempDirectory("ck-ub").toString, OutputMode.Update()) { (batch, _) =>
        batch.collect().foreach(r =>
          store(r.getString(0)) = (r.getLong(1), r.getLong(2)))
      }.start()
    try {
      in.addData(CallEvent(ts("10:05"), 600L, 3), CallEvent(ts("10:10"), 600L, 2))
      q.processAllAvailable()
      in.addData(CallEvent(ts("10:20"), 600L, 3), CallEvent(ts("10:30"), 700L, 9))
      q.processAllAvailable()
    } finally q.stop()
    // re-delivered updates overwrote: store holds the latest running values
    assert(store.toMap === Map("600" -> ((3L, 8L)), "700" -> ((1L, 9L))))
  }

  test("changelog upsert sink: a replayed batchId after restart converges (exactly-once)") {
    // The §7.5 exactly-once story, executed: crash between a batch's side
    // effects and its commit marker → on restart Spark re-delivers that
    // batch UNDER THE SAME batchId, and a keyed-overwrite upsert leaves
    // the sink exactly where it settled. Simulated faithfully: run two
    // batches, delete <checkpoint>/commits/1, restart the same topology
    // on a source holding the same offset-aligned blocks.
    import scala.jdk.CollectionConverters._
    val ckDir = Files.createTempDirectory("ck-replay")
    val store = scala.collection.concurrent.TrieMap[String, (Long, Long)]()
    val delivered = new java.util.concurrent.CopyOnWriteArrayList[Long]()
    def startSink(in: MemoryStream[CallEvent]) = {
      val agg = CallsStreamPipeline.aggregate(in.toDF())
        .select($"id_telef_origen".as("key"), $"calls_count", $"total_duracion_origen")
      StreamingOps.foreachBatchSink(agg, ckDir.toString, OutputMode.Update()) { (batch, id) =>
        delivered.add(id)
        batch.collect().foreach(r =>
          store(r.getString(0)) = (r.getLong(1), r.getLong(2)))
      }.start()
    }
    val batch0 = Seq(CallEvent(ts("10:05"), 600L, 3), CallEvent(ts("10:10"), 600L, 2))
    val batch1 = Seq(CallEvent(ts("10:20"), 600L, 3), CallEvent(ts("10:30"), 700L, 9))
    val in1 = MemoryStream[CallEvent](spark)
    val q1 = startSink(in1)
    try {
      in1.addData(batch0); q1.processAllAvailable()
      in1.addData(batch1); q1.processAllAvailable()
    } finally { q1.stop(); q1.awaitTermination() }
    val settled = store.toMap
    assert(settled === Map("600" -> ((3L, 8L)), "700" -> ((1L, 9L))))
    // Crash simulation at the canonical point: batch 1's offsets were
    // logged and its side effects ran, but its commit marker never
    // landed. The checkpoint is rolled back to exactly that state —
    // commits/{0}, offsets/{0,1} — dropping the trailing
    // watermark-advance batch the first run appended, because Spark's
    // restart contract replays precisely ONE uncommitted batch
    // (latestBatchId == latestCommitted + 1), which is the only gap a
    // real crash can leave. Stale .crc twins go with their files.
    def rollBack(dir: java.nio.file.Path, keepThrough: Long): Unit =
      Files.list(dir).iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString.stripPrefix(".").stripSuffix(".crc")
          n.forall(_.isDigit) && n.nonEmpty && n.toLong > keepThrough
        }
        .toList.foreach(Files.delete)
    rollBack(ckDir.resolve("commits"), keepThrough = 0L)
    rollBack(ckDir.resolve("offsets"), keepThrough = 1L)
    // a committed MemoryStream purges delivered blocks, so the restart
    // source is rebuilt with the SAME blocks in the SAME order — offsets
    // (block indexes) line up with the checkpoint's batch-1 offset range
    val in2 = MemoryStream[CallEvent](spark)
    in2.addData(batch0); in2.addData(batch1)
    val q2 = startSink(in2)
    try q2.processAllAvailable() finally q2.stop()
    assert(delivered.asScala.count(_ == 1L) === 2,
      s"batch 1 was not re-delivered under its id: $delivered")
    assert(store.toMap === settled,
      "re-delivered batch moved the sink — upsert is not replay-idempotent")
  }

  test("hopping windows: each event lands in width/slide overlapping windows") {
    val in = MemoryStream[CallEvent](spark)
    val agg = StreamingOps.hoppingAggStream(
      in.toDF(), "ts", col("user_id"), col("value"), "1 hour", "30 minutes")
    val out = runUpdate(agg.select(
      col("window.start").cast("string").as("ws"), col("user_id"),
      col("n_events"), col("sum_cents")), "hop_agg") {
      in.addData(CallEvent(ts("10:45"), 7L, 3L))
    }
    val rows = out.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // 10:45 falls in [10:00,11:00) and [10:30,11:30) — exactly 2 windows
    assert(rows === Set(
      ("2024-01-01 10:00:00", 7L, 1L, 300L),
      ("2024-01-01 10:30:00", 7L, 1L, 300L)))
  }

  test("session windows merge within the gap and split across it") {
    // session_window only supports append mode: sessions emit once
    // FINALIZED (watermark past close), the KTable-update shape is not
    // available — matching Kafka Streams' suppressed-until-close sessions
    val in = MemoryStream[CallEvent](spark)
    val agg = StreamingOps.sessionAggStream(
      in.toDF(), "ts", col("user_id"), col("value"), gap = "2 hours", watermark = "1 hour")
    val q = agg.select(
      col("window.start").cast("string").as("ws"), col("user_id"),
      col("n_events"), col("sum_cents")).writeStream
      .format("memory").queryName("sess_agg").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-sess").toString)
      .start()
    try {
      // 10:00 and 11:30 chain into one session (gap < 2h); 15:00 starts anew
      in.addData(CallEvent(ts("10:00"), 7L, 1L),
        CallEvent(ts("11:30"), 7L, 2L), CallEvent(ts("15:00"), 7L, 4L))
      q.processAllAvailable()
      // advance the watermark past both session closes to finalize them
      in.addData(CallEvent(ts("20:00"), 99L, 0L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("sess_agg").filter(col("user_id") === 7L)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getLong(3))).toSet
    assert(rows === Set(
      ("2024-01-01 10:00:00", 2L, 300L), // merged 10:00+11:30 session
      ("2024-01-01 15:00:00", 1L, 400L)))
  }

  test("streaming semantic near-dup ≡ batch semanticNearDupPairs on real embeddings") {
    // serving posture: the centroid table is a prebuilt artifact; the
    // batch operator refits the SAME deterministic k-means on the same
    // corpus, so the two paths must agree pair-for-pair, value-for-value
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .filter($"vec_id" < 120)
    val idx = graft.operators.Similarity.buildIvf(emb, nCells = 4)
    val minCos = 300000L
    val batch = graft.operators.Similarity
      .semanticNearDupPairs(emb, nCells = 4, minCosE6 = minCos)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet

    val rows = emb.collect().map(r => StreamVecFixture(
      r.getLong(0), r.getSeq[Float](1), ts(f"10:${r.getLong(0) % 50}%02d")))
    val in = MemoryStream[StreamVecFixture](spark)
    val hits = StreamingOps.streamingSemanticNearDup(
      in.toDF(), idx.centroids, minCosE6 = minCos, tsCol = "ts", watermark = "2 hours")
    val q = hits.toDF().writeStream
      .format("memory").queryName("sem_hits").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-sem").toString)
      .start()
    try {
      val (a, b) = rows.splitAt(rows.length / 2)
      in.addData(a.toIndexedSeq); q.processAllAvailable()
      in.addData(b.toIndexedSeq); q.processAllAvailable()
      // at-least-once re-delivery: the same vectors again, inside the
      // horizon — first delivery wins, so no new state copy and no
      // re-emitted pair rows (the row-count assert below pins it)
      in.addData(a.take(3).toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sem_hits")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3))).toSet
    assert(got === batch && got.nonEmpty, s"stream ${got.size} vs batch ${batch.size}")
    // every pair appears exactly once even under re-delivery
    assert(spark.table("sem_hits").count() === batch.size.toLong)
  }

  test("streaming semantic near-dup prunes expired vectors in a continuously ACTIVE cell") {
    // one centroid → every vector lands in cell 0 and the cell never goes
    // idle, so the wholesale event-time timeout never fires; the per-vector
    // horizon prune is the only thing keeping state (and pair scope) bounded
    val cents = Seq((0, Seq(1.0, 0.0))).toDF("cid", "cv")
    val e = Seq(1.0f, 0.0f); val f = Seq(0.0f, 1.0f); val g = Seq(-1.0f, 0.0f)
    val in = MemoryStream[StreamVecFixture](spark)
    val hits = StreamingOps.streamingSemanticNearDup(
      in.toDF(), cents, minCosE6 = 900000L, tsCol = "ts", watermark = "1 hour")
    val q = hits.toDF().writeStream
      .format("memory").queryName("sem_prune").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-semp").toString)
      .start()
    try {
      in.addData(StreamVecFixture(1L, e, ts("10:00")), StreamVecFixture(2L, f, ts("10:30")))
      q.processAllAvailable()   // wm → 9:30, cell stays active
      in.addData(StreamVecFixture(3L, g, ts("13:00")))
      q.processAllAvailable()   // wm → 12:00; cell timeout (11:30) never fired
      // vec 4 ≡ vec 1, but vec 1's event time (10:00) is a full horizon
      // behind the watermark → pruned from the active cell, no (1,4) pair
      in.addData(StreamVecFixture(4L, e, ts("13:05")))
      q.processAllAvailable()
      // positive control: an in-horizon duplicate still pairs
      in.addData(StreamVecFixture(5L, e, ts("13:10")))
      q.processAllAvailable()
    } finally q.stop()
    val pairs = spark.table("sem_prune")
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((4L, 5L)), s"expected only the in-horizon pair, got $pairs")
  }

  test("streaming delta dedup against a frozen release ≡ batch dedupDeltaWith per batch") {
    import graft.operators.Dedup
    val long = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"zzz$i").mkString(" ")
    val corpus = Seq((1L, long), (2L, other)).toDF("doc_id", "text")
    val digests = Dedup.corpusDigests(corpus).persist()
    val bands = Dedup.corpusBands(corpus).persist()
    // batch A: exact dup of corpus doc 1 + a novel doc;
    // batch B: near-dup of corpus doc 1 + within-batch exact pair
    val batchA = Seq((10L, long), (11L, "completely new words here"))
    val batchB = Seq((20L, long + " extra"), (21L, "fresh thing"), (22L, "fresh thing"))
    val in = MemoryStream[(Long, String)](spark)
    val got = scala.collection.concurrent.TrieMap[Long, Set[Long]]()
    val q = StreamingOps.foreachBatchSink(in.toDF().toDF("doc_id", "text"),
      Files.createTempDirectory("ck-ddd").toString, OutputMode.Append()) { (batch, id) =>
        got(id) = Dedup.dedupDeltaWith(corpus, digests, bands, batch)
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }.start()
    try {
      in.addData(batchA); q.processAllAvailable()
      in.addData(batchB); q.processAllAvailable()
    } finally q.stop()
    def batchMode(rows: Seq[(Long, String)]) =
      Dedup.dedupDeltaWith(corpus, digests, bands, rows.toDF("doc_id", "text"))
        .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.toMap === Map(0L -> batchMode(batchA), 1L -> batchMode(batchB)))
    // and the screen actually screened: exact dup 10, near-dup 20, and
    // within-batch copy 22 are gone; novelties survive
    assert(got(0L) === Set(11L) && got(1L) === Set(21L))
    digests.unpersist(); bands.unpersist()
  }

  test("streaming incremental curation against a frozen release ≡ batch curateDelta per batch") {
    import graft.operators.Dedup
    import graft.pipelines.CurationPipeline
    val long = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"zzz$i").mkString(" ")
    val evalText = (1 to 30).map(i => s"evl$i").mkString(" ")
    val corpus = Seq((1L, long, "web"), (2L, other, "web"))
      .toDF("doc_id", "text", "source")
    val ev = Seq((900L, evalText)).toDF("doc_id", "text")
    val digests = Dedup.corpusDigests(corpus).persist()
    val bands = Dedup.corpusBands(corpus).persist()
    val fit = Seq(-1L) // released quality fit: everything passes
    // dup of corpus 1, an eval leak, and two clean docs across two shards
    val batchA = Seq(
      (10L, long, "web"), (12L, evalText, "web"),
      (13L, "novel " + (1 to 20).map(i => s"new$i").mkString(" "), "web"),
      (14L, "novel " + (1 to 20).map(i => s"nw$i").mkString(" "), "crawl"))
    val in = MemoryStream[(Long, String, String)](spark)
    val got = scala.collection.concurrent.TrieMap[Long, Set[(Long, String, Long)]]()
    val q = StreamingOps.foreachBatchSink(in.toDF().toDF("doc_id", "text", "source"),
      Files.createTempDirectory("ck-cdelta").toString, OutputMode.Append()) { (batch, id) =>
        got(id) = CurationPipeline.curateDelta(corpus, batch, ev,
            corpusDigests = Some(digests), corpusBands = Some(bands),
            qualityBreakValues = Some(fit), redactPii = false)
          .select("doc_id", "shard", "token_offset")
          .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      }.start()
    try { in.addData(batchA: _*); q.processAllAvailable() } finally q.stop()
    val batchMode = CurationPipeline.curateDelta(
        corpus, batchA.toDF("doc_id", "text", "source"), ev,
        corpusDigests = Some(digests), corpusBands = Some(bands),
        qualityBreakValues = Some(fit), redactPii = false)
      .select("doc_id", "shard", "token_offset")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got(0L) === batchMode, s"stream ${got(0L)} != batch $batchMode")
    // and the gauntlet gauntleted: dup 10 and leak 12 gone, 13/14 admitted
    assert(got(0L).map(_._1) === Set(13L, 14L))
    digests.unpersist(); bands.unpersist()
  }

  test("served streaming curation: two micro-batches against one persisted Release ≡ two curateDeltaWith calls") {
    import graft.pipelines.CurationPipeline
    val long = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"zzz$i").mkString(" ")
    val evalText = (1 to 30).map(i => s"evl$i").mkString(" ")
    val corpus = Seq((1L, long, "web"), (2L, other, "web"))
      .toDF("doc_id", "text", "source")
    val ev = Seq((900L, evalText)).toDF("doc_id", "text")
    // the release cut: artifacts built ONCE (digests/bands/fit/shard
    // totals persisted); every trigger below probes these same frames —
    // the c04 shape under a stream. The released packed layout already
    // holds 7 tokens in one shard, so delta appends must start past it.
    val rel = CurationPipeline.releaseArtifacts(
      corpus.select($"doc_id", $"text"),
      Seq(("web-train-000", 7L)).toDF("shard", "n_tokens"))
    val batchA = Seq(
      (10L, long, "web"), // exact dup of released doc 1 → rejected
      (12L, evalText, "web"), // eval leak → quarantined
      (13L, "novel " + (1 to 20).map(i => s"new$i").mkString(" "), "web"))
    val batchB = Seq(
      (20L, other, "web"), // dup of released doc 2 → rejected in trigger 2 too
      (21L, "novel " + (1 to 20).map(i => s"nw$i").mkString(" "), "crawl"))
    def key(df: DataFrame) = df.select("doc_id", "shard", "token_offset")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val got = scala.collection.concurrent.TrieMap[Long, Set[(Long, String, Long)]]()
    val in = MemoryStream[(Long, String, String)](spark)
    val q = StreamingOps.foreachBatchSink(in.toDF().toDF("doc_id", "text", "source"),
      Files.createTempDirectory("ck-cdserved").toString, OutputMode.Append()) { (batch, id) =>
        got(id) = key(CurationPipeline.curateDeltaWith(rel, corpus, batch, ev,
          minQualityBucket = 0, redactPii = false))
      }.start()
    try {
      in.addData(batchA: _*); q.processAllAvailable()
      in.addData(batchB: _*); q.processAllAvailable()
    } finally q.stop()
    // steady state proven in the mode it runs: trigger N ≡ the N-th
    // batch-mode curateDeltaWith call against the SAME Release, exactly
    val bA = key(CurationPipeline.curateDeltaWith(rel, corpus,
      batchA.toDF("doc_id", "text", "source"), ev,
      minQualityBucket = 0, redactPii = false))
    val bB = key(CurationPipeline.curateDeltaWith(rel, corpus,
      batchB.toDF("doc_id", "text", "source"), ev,
      minQualityBucket = 0, redactPii = false))
    assert(got.size === 2)
    assert(got(0L) === bA, s"trigger 0 ${got(0L)} != batch $bA")
    assert(got(1L) === bB, s"trigger 1 ${got(1L)} != batch $bB")
    // the gauntlet held per trigger: dups and the leak gone, novels in
    assert(got(0L).map(_._1) === Set(13L))
    assert(got(1L).map(_._1) === Set(21L))
    // and appends land at or past the released shard total in BOTH modes
    val base = rel.shardBase.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (got(0L) ++ got(1L)).foreach { case (_, shard, off) =>
      assert(off >= base.getOrElse(shard, 0L), s"offset $off below released total in $shard")
    }
    rel.unpersist()
  }

  test("streaming LSH near-dup flags band collisions with the canonical doc") {
    val in = MemoryStream[StreamDocFixture](spark)
    val hits = StreamingOps.streamingLshNearDup(
      in.toDF(), tsCol = "ts", watermark = "1 hour")
    val q = hits.toDF().writeStream
      .format("memory").queryName("neardup_hits").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-neardup").toString)
      .start()
    val prose = "the quick brown fox jumps over the lazy dog again and again"
    try {
      in.addData(
        StreamDocFixture(1L, prose, ts("10:00")),
        StreamDocFixture(5L, "completely different text about spark physical plans", ts("10:01")))
      q.processAllAvailable()
      // identical text arriving later → identical signature → all bands hit
      in.addData(StreamDocFixture(9L, prose, ts("10:10")))
      q.processAllAvailable()
      // out-of-order: a SMALLER doc_id arrives last; it takes over as
      // canonical and the displaced old canonical must be emitted against
      // it — otherwise the (0,1) association would be silently lost
      in.addData(StreamDocFixture(0L, prose, ts("10:15")))
      q.processAllAvailable()
      // advance the watermark far past the horizon, then replay the same
      // text: the old buckets must have been EVICTED (event-time timeout),
      // so the replay starts a fresh bucket and is NOT flagged against the
      // morning docs — the semantic proof that state is watermark-bounded
      in.addData(StreamDocFixture(50L, "watermark pusher advancing far ahead", ts("20:00")))
      q.processAllAvailable()
      in.addData(StreamDocFixture(60L, prose, ts("20:05")))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("neardup_hits")
      .select("doc_id", "dup_of").distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    // doc 9 flagged against then-canonical 1; 1 displaced by late 0; 5 clean;
    // the chain 0-1-9 is fully linked for downstream clustering. Doc 60
    // (same text, after eviction) is absent: its buckets restarted clean.
    assert(rows.toSet === Set((9L, 1L), (1L, 0L)))
    val bandsHit = spark.table("neardup_hits").select("band").distinct().count()
    assert(bandsHit === 4L) // identical signature collides on all 12/3 bands
  }

  test("stateless curation kernels run unchanged in streaming: stream ≡ batch") {
    // the per-row curation stages (intra-doc line dedup, PII scrub, token
    // count) are pure narrow maps, so the same Columns drop into a
    // readStream pipeline with no state and no watermark — asserted by
    // running the identical projection both ways
    import graft.functions.TextFunctions
    // a tiny DSIR weight table — the foldable-literal scoring fold is as
    // stateless as the kernels, so it rides the same parity check
    val wts = Array.tabulate(64)(i => (i % 7).toLong - 3L)
    def stages(df: DataFrame): DataFrame = graft.operators.Bpe
      .encode(df, Seq("dup  line"))
      .select(
        col("doc_id"),
        TextFunctions.dedupLinesInDoc(col("text")).as("deduped"),
        TextFunctions.scrubPii(col("text")).as("redacted"),
        TextFunctions.tokenCount(col("text")).as("n_tok"),
        graft.operators.Importance.scoreColumn(col("text"), wts).as("dsir_e6"),
        // the BPE apply side and the explicit-schema JSON round-trip are
        // the same class of pure narrow map — streaming-safe by
        // construction
        col("bpe_tokens"),
        from_json(to_json(struct(col("doc_id").cast("int").as("k"))),
          org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k"))
    val in = MemoryStream[StreamDocFixture](spark)
    val q = stages(in.toDF()).writeStream
      .format("memory").queryName("curation_maps").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-curmaps").toString)
      .start()
    val docs = Seq(
      StreamDocFixture(1L, "dup line\ndup line\nmail a@b.co today", ts("10:00")),
      StreamDocFixture(2L, "clean text no repeats", ts("10:01")),
      StreamDocFixture(3L, "ip 1.2.3.4 twice\nip 1.2.3.4 twice", ts("10:02")))
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("curation_maps").collect().map(_.toSeq).toSet
    val want = stages(docs.toDF()).collect().map(_.toSeq).toSet
    assert(got === want)
    // and the kernels really fired: repeats collapsed, PII redacted
    val byId = spark.table("curation_maps").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(byId(1L)._1 === "dup line\nmail a@b.co today")
    assert(byId(1L)._2 === "dup line\ndup line\nmail <EMAIL> today")
    assert(byId(3L)._1 === "ip 1.2.3.4 twice")
    assert(byId(3L)._2 === "ip <IP> twice\nip <IP> twice")
  }

  test("deterministic sampling maps run in streaming: mixture resample + hash split ≡ batch") {
    // sampleByRates (per-row map + generator explode) and hashSplit
    // (pure map) are RNG-free functions of the key, so the same stages
    // drop into a stream unchanged — epoch upsampling and split fences
    // must land identically to batch
    import graft.operators.{Mixture, Splits}
    def stages(df: DataFrame): DataFrame = Splits.hashSplit(
      Mixture.sampleByRates(
        df.select(col("doc_id"), lit("srcA").as("source")),
        "doc_id", "source", Map("srcA" -> 1500), defaultPermille = 0, salt = "st"),
      "doc_id", Seq("train" -> 900, "val" -> 50, "test" -> 50))
      .select(col("doc_id"), col("copy"), col("split"))
    val in = MemoryStream[StreamDocFixture](spark)
    val q = stages(in.toDF()).writeStream
      .format("memory").queryName("sampling_maps").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-sampling").toString)
      .start()
    val docs = (1 to 60).map(i => StreamDocFixture(i.toLong, s"doc $i", ts("10:00")))
    try {
      in.addData(docs: _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sampling_maps").collect().map(_.toSeq).toSet
    val want = stages(docs.toDF()).collect().map(_.toSeq).toSet
    assert(got === want)
    // rate 1500 really upsampled: some docs carry a second copy
    val copies = spark.table("sampling_maps").groupBy("doc_id").count()
      .select("count").as[Long].collect()
    assert(copies.contains(2L) && copies.contains(1L))
  }

  test("stateful ops run on the RocksDB state store provider (production state path)") {
    withSessionConf(RocksDbState: _*) {
      val in = MemoryStream[CustUpsert](spark)
      val latest = StreamingOps.latestPerKey[CustUpsert, Long](
        in.toDS(), _.phone, _.offset)
      val q = latest.toDF().writeStream
        .format("memory").queryName("rocksdb_latest").outputMode("update")
        .option("checkpointLocation", Files.createTempDirectory("ck-rocksdb").toString)
        .start()
      try {
        in.addData(CustUpsert(600L, "old", 1L), CustUpsert(700L, "x", 1L))
        q.processAllAvailable()
        in.addData(CustUpsert(600L, "new", 2L))
        q.processAllAvailable()
      } finally q.stop()
      val last = spark.table("rocksdb_latest")
        .groupBy("phone").agg(max_by(col("doc"), col("offset")).as("doc"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(last === Map(600L -> "new", 700L -> "x"))
    }
  }

  /** One row of the restart table: a stateful streaming operator over a
    * parquet file source of `T` rows, its input as arrival chunks (one
    * trigger each), and what its sink must end with.
    *
    * @param input    the chunks, built inside the test (some read tables)
    * @param flush    rows appended to the last chunk to push the watermark
    *                 past every real row; no reference sees them
    * @param operator the operator over the source, projected to the
    *                 columns the reference is compared on
    * @param finish   every batch's rows in batchId order → the final output
    * @param expected the batch operator over the same rows; None compares
    *                 with an uninterrupted run over the same chunks
    * @param stateDecided (rows before the stop, rows after, expected
    *                 output) → how many expected rows only state restored
    *                 across the stop can produce
    */
  private case class RestartCase[T](op: String, reference: String, mode: OutputMode,
      input: () => Seq[Seq[T]], flush: Seq[T], operator: Dataset[T] => DataFrame,
      finish: Seq[Row] => Seq[Row], expected: Option[Seq[T] => Seq[Row]],
      stateDecided: (Seq[T], Seq[T], Seq[Row]) => Int)(implicit val enc: Encoder[T])

  private final class InjectedFailure(batchId: Long)
      extends RuntimeException(s"injected sink failure in batch $batchId")

  private val RestartChunks = 9
  private val StopAfter = 3 // chunks in the run that ends with a clean stop
  private val MinStateDecided = 10
  private val HourUs = 3600L * 1000000L
  private val DayUs = 24 * HourUs
  private val T0 = Timestamp.valueOf("2024-01-01 00:00:00")
  private val FlushKey = 999L
  private val FlushTs = Timestamp.valueOf("2024-03-01 00:00:00")

  /** `T0` plus `us` microseconds. */
  private def tsAt(us: Long): Timestamp = {
    val t = new Timestamp(T0.getTime + us / 1000L)
    t.setNanos(t.getNanos + (us % 1000L).toInt * 1000)
    t
  }

  /** A microsecond-precise event time in [T0, T0 + span). */
  private def anyTs(rnd: scala.util.Random, spanUs: Long): Timestamp =
    tsAt((rnd.nextDouble() * spanUs).toLong)

  /** Splits `rows` into `RestartChunks` arrival chunks: a row at event time
    * t arrives at t + U[0, lag) and chunk i holds the arrivals in
    * [i·w, (i+1)·w), w = span / RestartChunks (the last chunk takes the
    * stragglers), shuffled. Rows come out of event-time order within a
    * chunk and across neighbours, yet none is late under a watermark delay
    * ≥ lag: every row of an earlier chunk happened before i·w. */
  private def byArrival[T](rnd: scala.util.Random, rows: Seq[T], spanUs: Long, lagUs: Long)(
      tsOf: T => Timestamp): Seq[Seq[T]] = {
    val w = spanUs / RestartChunks
    val chunkOf = rows.map { r =>
      val us = (tsOf(r).getTime - T0.getTime) * 1000L + tsOf(r).getNanos / 1000 % 1000
      math.min(RestartChunks - 1, ((us + (rnd.nextDouble() * lagUs).toLong) / w).toInt) -> r
    }
    (0 until RestartChunks).map(i => rnd.shuffle(chunkOf.collect { case (`i`, r) => r }))
  }

  private val FunnelSteps = Seq("view", "click", "purchase")

  private def funnelStagesOf(rows: Seq[FunnelFix]): Seq[Row] =
    graft.ops.Temporal.funnelStages(rows.toDF(), "key", "ts", "seq", "etype", FunnelSteps)
      .filter($"stage" > 0L).collect().toSeq

  /** 30 families of 4 near-copies of a random 16-dim vector; vec_id
    * m·30 + f, so the k-means init (vec_id < nCells) takes four families. */
  private lazy val semEmb = {
    val rnd = new scala.util.Random(59)
    (0 until 30).flatMap { f =>
      val base = Seq.fill(16)(rnd.nextGaussian())
      (0 until 4).map(m => ((m * 30 + f).toLong,
        base.map(x => (x + 0.1 * rnd.nextGaussian()).toFloat)))
    }.toDF("vec_id", "embedding")
  }
  private lazy val semCentroids = graft.operators.Similarity.buildIvf(semEmb, nCells = 4).centroids
  private val SemMinCos = 300000L

  /** Eight benchmark docs of 12 words; a train doc embeds one whole
    * (containment 1000‰) or its first 9 words (700‰) between random
    * words, or is all random words. The vocabulary is large enough that
    * random words share no shingle with the benchmark. */
  private val ContamVocab = (0 until 2000).map(i => s"v$i")
  private lazy val contamEval: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(61)
    (0 until 8).map(e => (100L + e, Seq.fill(12)(ContamVocab(rnd.nextInt(2000))).mkString(" ")))
  }
  private lazy val contamIndex =
    graft.operators.Dedup.evalShingleIndex(contamEval.toDF("doc_id", "text"))

  /** A 60-doc corpus over 30 words, so each query term matches about 14
    * docs and a query fills its top 5. */
  private val Bm25Vocab = (0 until 30).map(i => s"t$i")
  private lazy val bm25Index = {
    val rnd = new scala.util.Random(67)
    graft.operators.TextSearch.buildTextIndex((0 until 60).map(d =>
        (d.toLong, Seq.fill(8)(Bm25Vocab(rnd.nextInt(30))).mkString(" "))).toDF("doc_id", "text"),
      "doc_id", "text")
  }

  /** 960 events over 12 h from 6 users, values 0–99, arriving up to 4 h
    * after their event time: every window before the stop (hour 4) can get
    * rows on both sides of it. The windowed rows read them under a 4-hour
    * watermark, so none is late. */
  private def windowEvents(seed: Int): Seq[Seq[CallEvent]] = {
    val rnd = new scala.util.Random(seed)
    byArrival(rnd, Seq.fill(960)(CallEvent(anyTs(rnd, 12 * HourUs), 1L + rnd.nextInt(6),
      rnd.nextInt(100).toLong)), 12 * HourUs, 4 * HourUs)(_.ts)
  }

  /** A restart row for a face whose batch operator is the face itself over a
    * batch frame (Spark drops `withWatermark` there), in append mode. The
    * guard counts the expected rows that neither the rows before the stop
    * nor the rows after it produce alone: a window, session or join pair
    * whose output needs state restored across the stop. */
  private def faceRow[T: Encoder](op: String, reference: String, input: () => Seq[Seq[T]],
      flush: Seq[T])(face: DataFrame => DataFrame): RestartCase[T] = {
    def batch(rows: Seq[T]) = face(spark.createDataset(rows).toDF()).collect().toSeq
    RestartCase[T](op, reference, OutputMode.Append(), input, flush, in => face(in.toDF()),
      finish = identity, expected = Some(batch),
      stateDecided = (pre, post, want) => {
        val alone = (batch(pre) ++ batch(post)).toSet
        want.count(r => !alone(r))
      })
  }

  /** [[faceRow]] over [[windowEvents]]; a flush event at `FlushTs` closes
    * every window and session of the real rows. */
  private def windowedRow(op: String, reference: String, seed: Int)(
      face: DataFrame => DataFrame): RestartCase[CallEvent] =
    faceRow[CallEvent](op, reference, () => windowEvents(seed),
      Seq(CallEvent(FlushTs, FlushKey, 0L)))(face)

  private val WindowWm = "4 hours"
  private val WindowQs = Seq("p50" -> 500, "p90" -> 900)
  private def valueHash =
    shiftright(graft.functions.TextFunctions.hash60($"value".cast("string")), 12)

  private def restartTable: Seq[RestartCase[_]] = Seq(
    RestartCase[CustUpsert]("latestPerKey", "batch latestByKey", OutputMode.Update(),
      input = () => {
        val rnd = new scala.util.Random(17)
        rnd.shuffle((0 until 600).map(i =>
          CustUpsert(rnd.nextInt(40).toLong, s"doc-$i", i.toLong))).grouped(67).toSeq
      },
      flush = Nil,
      operator = in => StreamingOps.latestPerKey[CustUpsert, Long](in, _.phone, _.offset).toDF(),
      finish = rows => rows.groupBy(_.getLong(0)).values.map(_.last).toSeq,
      expected = Some(rows => graft.ops.CoreOps.latestByKey(rows.toDF(), Seq($"phone"), Seq($"offset"))
        .select("phone", "doc", "offset").collect().toSeq),
      // upserts after the stop that lose to an offset only restored state holds
      stateDecided = (pre, post, _) => {
        val preMax = pre.groupMapReduce(_.phone)(_.offset)(math.max)
        post.count(u => preMax.get(u.phone).exists(_ > u.offset))
      }),
    RestartCase[CallEvent]("streamingDedup", "the first record per key", OutputMode.Append(),
      input = () => {
        val rnd = new scala.util.Random(23)
        byArrival(rnd, (0 until 240).map(i =>
          CallEvent(anyTs(rnd, 18 * HourUs), rnd.nextInt(40).toLong, i.toLong)),
          18 * HourUs, 2 * HourUs)(_.ts).map(_.distinctBy(_.user_id))
      },
      flush = Nil,
      operator = in => StreamingOps.streamingDedup(in.toDF(), "ts", Seq("user_id"), "3 days"),
      finish = identity,
      expected = Some(rows => rows.distinctBy(_.user_id).toDF().collect().toSeq),
      // duplicates after the stop of a key only restored state has seen
      stateDecided = (pre, post, _) => {
        val seen = pre.map(_.user_id).toSet
        post.count(e => seen(e.user_id))
      }),
    RestartCase[AsofInput]("streamingAsofJoin", "batch AsofJoin.asofJoin", OutputMode.Append(),
      input = () => {
        val rnd = new scala.util.Random(31)
        byArrival(rnd, (0 until 480).map { i =>
          val (key, t) = (1L + rnd.nextInt(6), anyTs(rnd, 18 * HourUs))
          if (i % 8 == 0) AsofInput(key, 0, -1L, t, i.toDouble) else AsofInput(key, 1, i.toLong, t, i.toDouble)
        }, 18 * HourUs, 2 * HourUs)(_.ts)
      },
      flush = Seq(AsofInput(FlushKey, 0, -1L, FlushTs, 0.0), AsofInput(FlushKey, 1, -2L, FlushTs, 0.0)),
      operator = in => StreamingOps.streamingAsofJoin(
          in.filter($"side" === 1).select("key", "id", "ts", "value"),
          in.filter($"side" === 0).select("key", "ts", "value"), watermark = "2 hours")
        .select("id", "key", "asof_value", "asof_ts"),
      finish = identity,
      expected = Some(rows => graft.operators.AsofJoin.asofJoin(
          rows.filter(_.side == 1).map(x => (x.key, x.id, x.ts, x.value)).toDF("key", "id", "ts", "value"),
          rows.filter(_.side == 0).map(x => (x.key, x.ts, x.value)).toDF("key", "rts", "rv"),
          Seq("key"), "ts", "rts", Seq("rv"))
        .select("id", "key", "asof_rv", "asof_ts").collect().toSeq),
      // lefts after the stop matched to a right from before it
      stateDecided = (pre, post, want) => {
        val preRights = pre.filter(_.side == 0).map(x => (x.key, x.ts)).toSet
        val postLefts = post.filter(_.side == 1).map(_.id).toSet
        want.count(r => postLefts(r.getLong(0)) && !r.isNullAt(3) &&
          preRights((r.getLong(1), r.getTimestamp(3))))
      }),
    RestartCase[Scd2Fix]("streamingScd2", "batch Temporal.scd2", OutputMode.Append(),
      input = () => {
        val rnd = new scala.util.Random(37)
        byArrival(rnd, (0 until 300).map(i => Scd2Fix(1L + rnd.nextInt(20),
          anyTs(rnd, 18 * HourUs), i.toLong, Seq("a", "b", "c")(rnd.nextInt(3)))),
          18 * HourUs, 2 * HourUs)(_.ts)
      },
      flush = Seq(Scd2Fix(FlushKey, FlushTs, -1L, "z")),
      operator = in => StreamingOps.streamingScd2(in.toDF(), watermark = "2 hours").toDF(),
      finish = identity,
      expected = Some(rows => graft.ops.Temporal.scd2(rows.toDF(), Seq("key"), "ts", Seq("seq"), Seq("value"))
        .filter($"valid_to".isNotNull)
        .select("key", "value", "valid_from", "valid_to", "version").collect().toSeq),
      // intervals opened before the stop and closed after it
      stateDecided = (pre, post, want) => {
        val (opened, closed) = (pre.map(x => (x.key, x.ts)).toSet, post.map(x => (x.key, x.ts)).toSet)
        want.count(r => opened((r.getLong(0), r.getTimestamp(2))) &&
          closed((r.getLong(0), r.getTimestamp(3))))
      }),
    RestartCase[FunnelFix]("streamingFunnel", "batch Temporal.funnelStages", OutputMode.Append(),
      input = () => {
        val rnd = new scala.util.Random(41)
        byArrival(rnd, (0 until 800).map(i => FunnelFix(1L + rnd.nextInt(100),
          anyTs(rnd, 18 * HourUs), i.toLong, (FunnelSteps :+ "error")(rnd.nextInt(4)))),
          18 * HourUs, 2 * HourUs)(_.ts)
      },
      flush = Seq(FunnelFix(FlushKey, FlushTs, -1L, "flush")),
      operator = in => StreamingOps.streamingFunnel(in.toDF(), FunnelSteps, watermark = "2 hours").toDF(),
      finish = rows => rows.groupBy(_.getLong(0))
        .map { case (k, rs) => Row(k, rs.map(_.getLong(1)).max) }.toSeq,
      expected = Some(funnelStagesOf),
      // final stages that neither side of the stop reaches on its own
      stateDecided = (pre, post, want) => {
        val alone = (funnelStagesOf(pre) ++ funnelStagesOf(post)).toSet
        want.count(r => !alone(r))
      }),
    RestartCase[RetentionInput]("streamingRetention", "batch Temporal.cohortRetention",
      OutputMode.Append(),
      input = () => {
        val rnd = new scala.util.Random(43)
        byArrival(rnd, Seq.fill(240)(RetentionInput(1L + rnd.nextInt(30), anyTs(rnd, 12 * DayUs))),
          12 * DayUs, 3 * DayUs)(_.ts)
      },
      flush = Seq(RetentionInput(FlushKey, FlushTs)),
      operator = in => StreamingOps.streamingRetention(in.toDF(), watermark = "3 days").toDF(),
      finish = rows => rows.groupBy(r => (r.getString(1), r.getLong(2)))
        .map { case ((cohort, offset), rs) => Row(cohort, offset, rs.size.toLong) }.toSeq,
      expected = Some(rows => graft.ops.Temporal.cohortRetention(rows.toDF(), "key", "ts").collect().toSeq),
      // first visits after the stop to a day past a cohort fixed before it
      stateDecided = (pre, post, _) => {
        def day(r: RetentionInput) = r.ts.getTime / 86400000L
        val preDays = pre.groupMap(_.key)(day)
        post.count(r => preDays.get(r.key).exists(ds => ds.min < day(r) && !ds.contains(day(r))))
      }),
    RestartCase[StreamVecFixture]("streamingSemanticNearDup", "batch Similarity.semanticNearDupPairs",
      OutputMode.Append(),
      input = () => {
        val rnd = new scala.util.Random(47)
        byArrival(rnd, semEmb.collect().toSeq.map(r =>
          StreamVecFixture(r.getLong(0), r.getSeq[Float](1), anyTs(rnd, 18 * HourUs))),
          18 * HourUs, 2 * HourUs)(_.ts)
      },
      flush = Nil,
      operator = in => StreamingOps.streamingSemanticNearDup(
        in.toDF(), semCentroids, minCosE6 = SemMinCos, tsCol = "ts", watermark = "3 days").toDF(),
      finish = identity,
      expected = Some(_ => graft.operators.Similarity
        .semanticNearDupPairs(semEmb, nCells = 4, minCosE6 = SemMinCos).collect().toSeq),
      // pairs across the stop
      stateDecided = (pre, _, want) => {
        val before = pre.map(_.vec_id).toSet
        want.count(r => before(r.getLong(0)) != before(r.getLong(1)))
      }),
    RestartCase[StreamDocFixture]("streamingLshNearDup", "an uninterrupted run", OutputMode.Append(),
      input = () => {
        val rnd = new scala.util.Random(53)
        val vocab = (0 until 400).map(i => s"w$i")
        val ids = rnd.shuffle((0L until 96L).toList).iterator
        // 24 families of 4 near-copies (one word swapped), each within ±1 h
        val docs = (0 until 24).flatMap { _ =>
          val base = Seq.fill(30)(vocab(rnd.nextInt(vocab.size)))
          val center = HourUs + (rnd.nextDouble() * 16 * HourUs).toLong
          Seq.fill(4)(StreamDocFixture(ids.next(),
            base.updated(rnd.nextInt(30), vocab(rnd.nextInt(vocab.size))).mkString(" "),
            tsAt(center + ((rnd.nextDouble() * 2 - 1) * HourUs).toLong)))
        }
        byArrival(rnd, docs, 18 * HourUs, 2 * HourUs)(_.ts)
      },
      flush = Nil,
      operator = in => StreamingOps.streamingLshNearDup(in.toDF(), tsCol = "ts", watermark = "2 hours").toDF(),
      finish = identity,
      expected = None,
      // hits between a doc before the stop and one after it
      stateDecided = (pre, _, want) => {
        val before = pre.map(_.doc_id).toSet
        want.count(r => before(r.getLong(0)) != before(r.getLong(1)))
      }),
    RestartCase[StreamDocFixture]("streamingContamination", "batch Dedup.contaminationPairs",
      OutputMode.Append(),
      input = () => {
        val rnd = new scala.util.Random(71)
        def words(n: Int) = Seq.fill(n)(ContamVocab(rnd.nextInt(2000)))
        byArrival(rnd, (0 until 600).map { i =>
          val (_, bench) = contamEval(rnd.nextInt(contamEval.size))
          val leak = rnd.nextInt(3) match {
            case 0 => bench.split(' ').toSeq
            case 1 => bench.split(' ').toSeq.take(9)
            case _ => Nil
          }
          StreamDocFixture(i.toLong, (words(5) ++ leak ++ words(5)).mkString(" "),
            anyTs(rnd, 18 * HourUs))
        }, 18 * HourUs, 2 * HourUs)(_.ts)
      },
      flush = Seq(StreamDocFixture(FlushKey, "sentinel", FlushTs)),
      operator = in => StreamingOps.streamingContamination(in.toDF(), contamIndex,
          watermark = "2 hours", minPermille = 500)
        .select("doc_id", "eval_id", "inter_cnt", "containment_permille"),
      finish = identity,
      expected = Some(rows => graft.operators.Dedup.contaminationPairs(
          rows.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"),
          contamEval.toDF("doc_id", "text"), minPermille = 500)
        .select("train_id", "eval_id", "inter_cnt", "containment_permille").collect().toSeq),
      // flagged docs from before the stop whose hour the watermark had
      // not yet closed at the stop
      stateDecided = (pre, _, want) => {
        val open = pre.map(_.ts.getTime).max - 2 * 3600 * 1000L
        val pending = pre.filter(_.ts.getTime > open).map(_.doc_id).toSet
        want.count(r => pending(r.getLong(0)))
      }),
    RestartCase[QueryEvent]("streamingBm25", "batch TextSearch.bm25TopKWith", OutputMode.Append(),
      input = () => {
        val rnd = new scala.util.Random(73)
        // 120 queries of 3 distinct terms, each term its own event at the
        // query's time, so a query's terms can arrive in different chunks
        byArrival(rnd, (0 until 120).flatMap { q =>
          val t = anyTs(rnd, 18 * HourUs)
          rnd.shuffle(Bm25Vocab).take(3).map(QueryEvent(t, q.toLong, _))
        }, 18 * HourUs, 2 * HourUs)(_.ts)
      },
      flush = Seq(QueryEvent(FlushTs, FlushKey, "unindexed")),
      operator = in => StreamingOps.streamingBm25(in.toDF(), "ts", "query_id", "text",
          bm25Index, k = 5, watermark = "2 hours")
        .select("query_id", "rank", "doc_id", "score_e6"),
      finish = identity,
      expected = Some(rows => graft.operators.TextSearch.bm25TopKWith(bm25Index,
          rows.groupBy(_.query_id).map { case (q, es) => q -> es.map(_.text).mkString(" ") }.toSeq,
          k = 5)
        .select("query_id", "rank", "doc_id", "score_e6").collect().toSeq),
      // leaderboards of queries whose terms arrived on both sides of the stop
      stateDecided = (pre, post, want) => {
        val split = pre.map(_.query_id).toSet intersect post.map(_.query_id).toSet
        want.count(r => split(r.getLong(0)))
      }),
    windowedRow("hoppingAggStream", "batch CoreOps.countCents by hopping window", 79)(
      StreamingOps.hoppingAggStream(_, "ts", $"user_id", $"value", "1 hour", "30 minutes", WindowWm)),
    windowedRow("sessionAggStream", "batch CoreOps.countCents by session", 83)(
      StreamingOps.sessionAggStream(_, "ts", $"user_id", $"value", "10 minutes", WindowWm)),
    windowedRow("windowedDistinctSketchStream", "batch Sketches.kmv per window", 89)(
      StreamingOps.windowedDistinctSketchStream(_, "ts", valueHash, k = 8, bits = 48,
        "10 minutes", WindowWm)),
    windowedRow("windowedCmsStream", "batch Sketches.cms per window", 97)(
      StreamingOps.windowedCmsStream(_, "ts", $"value".cast("string"), depth = 3, width = 16,
        "10 minutes", WindowWm)),
    windowedRow("windowedHllStream", "batch Sketches.hll per window", 101)(
      StreamingOps.windowedHllStream(_, "ts", valueHash, p = 7, "10 minutes", WindowWm)),
    windowedRow("windowedSkewStream", "batch ScaleOps.skewReport per window", 103)(
      StreamingOps.windowedSkewStream(_, "ts", "user_id", "10 minutes", WindowWm)),
    windowedRow("windowedQuantilesStream", "batch Sketches.histogramQuantiles per hopping window", 107)(
      StreamingOps.windowedQuantilesStream(_, "ts", $"value", WindowQs, "20 minutes", WindowWm,
        slide = Some("10 minutes"))),
    windowedRow("windowedTopKStream", "batch TopKByScore per window", 109)(
      StreamingOps.windowedTopKStream(_, "ts", $"value".cast("double"), $"user_id", k = 3,
        "10 minutes", WindowWm)),
    windowedRow("sessionQuantilesStream", "batch Sketches.histogramQuantiles by session", 113)(
      StreamingOps.sessionQuantilesStream(_, "ts", $"user_id", $"value", WindowQs, "10 minutes",
        WindowWm)),
    // both sides from one source, split by side: 1 = left, 0 = right
    faceRow[AsofInput]("intervalJoin", "the batch join within the bound", () => {
        val rnd = new scala.util.Random(127)
        byArrival(rnd, (0 until 720).map(i => AsofInput(1L + rnd.nextInt(6), i % 2, i.toLong,
          anyTs(rnd, 12 * HourUs), 0.0)), 12 * HourUs, 4 * HourUs)(_.ts)
      }, flush = Nil) { in =>
      def side(s: Int, p: String) = in.filter($"side" === s)
        .select($"key".as(s"${p}_key"), $"id".as(s"${p}_id"), $"ts".as(s"${p}_ts"))
      StreamingOps.intervalJoin(side(1, "l"), side(0, "r"), "l_key", "r_key", "l_ts", "r_ts",
        "10 minutes", WindowWm).select("l_id", "r_id")
    })

  /** Runs `c` three times on one checkpoint: a clean stop after
    * `StopAfter` chunks; a run of two chunks whose sink throws after
    * collecting the second one's batch, on its first delivery; and a
    * restart that finishes the input. The sink overwrites by batchId.
    * Each run must resume where the checkpoint left off, the failed batch
    * must come back under its id and recompute to the same rows, and the
    * final output must equal the reference. */
  private def restartCase[T](c: RestartCase[T], stateConfs: Seq[(String, String)]): Unit = {
    import scala.jdk.CollectionConverters._
    implicit val enc: Encoder[T] = c.enc
    val chunks = c.input()
    assert(chunks.length === RestartChunks && chunks.forall(_.nonEmpty))
    val streamed = chunks.init :+ (chunks.last ++ c.flush)
    val schema = spark.createDataset(chunks.head).schema
    def bag(rows: Seq[Row]) = rows.groupMapReduce(identity)(_ => 1)(_ + _)
    def injected(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(_.isInstanceOf[InjectedFailure])
    /** One checkpoint and its source directory; the sink keeps each
      * batchId's rows, a re-delivery overwriting the first. */
    class Lineage {
      private val src = Files.createTempDirectory("restart-src").toString
      private val ck = Files.createTempDirectory("restart-ck").toString
      private val byBatch = scala.collection.concurrent.TrieMap[Long, Seq[Row]]()
      /** Streams `part`, one parquet file per trigger, each drained before
        * the next; returns every (batchId, rows) delivered. */
      def run(part: Seq[Seq[T]], failLast: Boolean = false): Seq[(Long, Seq[Row])] =
        withSessionConf(stateConfs: _*) {
          val delivered = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[Row])]()
          val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
          val in = spark.readStream.schema(schema).parquet(src).as[T]
          val q = StreamingOps.foreachBatchSink(c.operator(in), ck, c.mode) { (batch, id) =>
            val rows = batch.collect().toSeq
            byBatch(id) = rows
            delivered.add(id -> rows)
            if (armed.getAndSet(false)) throw new InjectedFailure(id)
          }.start()
          try part.zipWithIndex.foreach { case (chunk, i) =>
            armed.set(failLast && i == part.length - 1)
            spark.createDataset(chunk).coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
          } catch {
            case e: org.apache.spark.sql.streaming.StreamingQueryException if failLast && injected(e) =>
          } finally q.stop()
          delivered.asScala.toSeq
        }
      def output: Seq[Row] = c.finish(byBatch.toSeq.sortBy(_._1).flatMap(_._2))
    }
    val restarted = new Lineage
    val stopped = restarted.run(streamed.take(StopAfter)).map(_._1)
    val failed = restarted.run(streamed.slice(StopAfter, StopAfter + 2), failLast = true)
    val resumed = restarted.run(streamed.drop(StopAfter + 2))
    // each run resumed the checkpoint instead of starting over
    assert(stopped.nonEmpty && failed.map(_._1).min > stopped.max)
    // the failed batch came back under its id and recomputed the same rows
    val (failedId, failedRows) = failed.last
    assert(resumed.head._1 === failedId && bag(resumed.head._2) === bag(failedRows))
    assert(resumed.map(_._1).max > failedId)
    val want = c.expected match {
      case Some(reference) => reference(chunks.flatten)
      case None =>
        val uninterrupted = new Lineage
        uninterrupted.run(streamed)
        uninterrupted.output
    }
    val (pre, post) = chunks.splitAt(StopAfter)
    assert(c.stateDecided(pre.flatten, post.flatten, want) >= MinStateDecided,
      s"${c.op}: too few expected rows depend on state restored across the stop")
    assert(bag(restarted.output) === bag(want))
  }

  for (c <- restartTable; (store, confs) <- Seq(
      "HDFS-backed state" -> Nil, "RocksDB, changelog checkpointing" -> RocksDbState))
    test(s"${c.op} restarts on its checkpoint ($store) ≡ ${c.reference}") { restartCase(c, confs) }

  test("every public StreamingOps method has a restart row or runs no state of its own") {
    // the sinks run a batch operator per micro-batch over state the caller
    // keeps; streamingBm25WithRelease is the query of the streamingBm25 row
    val noRestartRow = Set("foreachBatchSink", "linkGraphSink", "hybridSearchSink",
      "streamingBm25WithRelease")
    val methods = StreamingOps.getClass.getDeclaredMethods.toSeq
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) && !m.getName.contains('$'))
      .map(_.getName).toSet
    val rows = restartTable.map(_.op).toSet
    assert(methods -- rows -- noRestartRow === Set.empty, "public methods with no restart row")
    assert(rows ++ noRestartRow -- methods === Set.empty, "names of no public method")
  }

  test("corrupt payloads decode to null and are skipped, not fatal (S8 policy)") {
    // reference: LogAndContinueExceptionHandler (CallsAggregationApp.java:34,100)
    // — a malformed record is dropped, the stream keeps running. from_json
    // PERMISSIVE nulls the struct; the tombstone filter removes it.
    val schema = StructType(Seq(
      StructField("user_id", LongType), StructField("value", LongType)))
    val wire = Seq(
      ("k1", """{"user_id": 1, "value": 10}"""),
      ("k2", """{not json at all"""),
      ("k3", """{"user_id": 3, "value": 30}""")).toDF("key", "value")
    val decoded = wire.select(
      $"key", from_json($"value", schema).as("v"))
    val survivors = graft.ops.CoreOps.filterNotNull(decoded, $"v.user_id")
      .select($"v.user_id", $"v.value")
      .orderBy("user_id").collect().map(_.toSeq)
    assert(survivors === Seq(Seq(1L, 10L), Seq(3L, 30L)))
  }

  test("flagship topology to the wire: enriched stream encodes to Avro and decodes back") {
    // the reference's full output path: aggregate -> enrich -> Avro value
    // bytes on the topic (CallsEnrichedApp produces Avro). Assert the
    // bytes round-trip to exactly the enriched rows.
    val enrichedSchema =
      """{"type":"record","name":"CallEnriched","fields":[
        |{"name":"window_start_ts","type":"string"},
        |{"name":"window_end_ts","type":"string"},
        |{"name":"calls_count","type":"long"},
        |{"name":"max_duracion_origen","type":"long"},
        |{"name":"total_duracion_origen","type":"long"},
        |{"name":"avg_duracion_origen","type":"long"},
        |{"name":"doc_cliente","type":"string"},
        |{"name":"operador_actual","type":"string"},
        |{"name":"cliente_orange","type":"long"},
        |{"name":"days_excliente","type":"long"}]}""".stripMargin
    val sf = "/root/testdata/sf0.001"
    val events = graft.Tables.events(spark, sf)
      .select($"ts", $"user_id", $"value").as[RawCall].collect()
    val in = MemoryStream[RawCall](spark)
    val enriched = CallsStreamPipeline.enriched(
      CallsStreamPipeline.aggregate(in.toDF()),
      graft.Tables.customer(spark, sf),
      custKey = "c_custkey", doc = "c_name", operator = "c_mktsegment",
      flag = "c_nationkey", days = "c_acctbal")
    val wire = graft.streaming.KafkaIO.columnsToAvroPayload(
      enriched, "id_telef_origen", enrichedSchema,
      confluentHeader = true, schemaId = 3)
    val rows = runUpdate(wire, "flagship_wire") {
      in.addData(events.toIndexedSeq)
    }
    val decoded = graft.streaming.KafkaIO.avroPayloadToColumns(
        rows, enrichedSchema, confluentFramed = true)
      .collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    // ground truth: the batch flagship, rearranged to the wire layout
    // (key first, then value fields in schema order)
    val expected = graft.pipelines.CallsPipeline.callsEnriched(spark, sf)
      .collect().map { r =>
        Seq(r.get(2), r.get(0), r.get(1), r.get(3), r.get(4), r.get(5),
          r.get(6), r.get(7), r.get(8), r.get(9), r.get(10))
      }.sortBy(_.mkString("|")).toSeq
    assert(decoded.nonEmpty)
    assert(decoded === expected)
  }

  test("windowed top-k heap survives the RocksDB state store across batches") {
    // multi-batch run on the production state provider: the TopKByScore
    // TypedImperativeAggregate buffer must serialize/merge through
    // RocksDB and still rank the union of both batches correctly
    withSessionConf(RocksDbState: _*) {
      val t0 = Timestamp.valueOf("2024-03-01 10:05:00")
      // batch 1 holds the eventual #2 and #3; batch 2 delivers the #1,
      // so the final top-3 only exists if state merged across batches
      val batch1 = Seq(CallEvent(t0, 11L, 70), CallEvent(t0, 12L, 60),
        CallEvent(t0, 13L, 10))
      val batch2 = Seq(CallEvent(t0, 14L, 90), CallEvent(t0, 15L, 5))
      val in = MemoryStream[CallEvent](spark)
      val out = StreamingOps.windowedTopKStream(
        in.toDF(), "ts", $"value".cast("double"), $"user_id", k = 3,
        width = "1 hour")
      val q = out.writeStream
        .format("memory").queryName("rocksdb_topk").outputMode("update")
        .option("checkpointLocation", Files.createTempDirectory("ck-rtk").toString)
        .start()
      try {
        in.addData(batch1); q.processAllAvailable()
        in.addData(batch2); q.processAllAvailable()
      } finally q.stop()
      // update mode re-emits the window per batch; the post-merge
      // ranking (14 on top, 11/12 demoted a slot) can only exist if the
      // heap state crossed batches through RocksDB intact
      val rows = spark.table("rocksdb_topk")
        .select($"rank".cast("long"), $"id", $"score")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val merged = Set((1L, 14L, 90.0), (2L, 11L, 70.0), (3L, 12L, 60.0))
      assert(merged.subsetOf(rows), s"merged ranking missing from emissions: $rows")
      assert(rows.contains((1L, 11L, 70.0)), s"batch-1 interim ranking missing: $rows")
    }
  }

  test("windowed quantile sketch survives the RocksDB state store across batches") {
    // multi-batch run on the production state provider: the
    // QuantileHistogram buffer must serialize/merge through RocksDB and
    // still equal the batch answer over the union of both batches
    withSessionConf(RocksDbState: _*) {
      val t0 = Timestamp.valueOf("2024-03-01 10:05:00")
      val batch1 = (1 to 40).map(i => RawCall(t0, i.toLong, (i % 7).toDouble))
      val batch2 = (1 to 25).map(i => RawCall(t0, 100 + i.toLong, (i % 5 + 3).toDouble))
      val in = MemoryStream[RawCall](spark)
      val out = StreamingOps.windowedQuantilesStream(
        in.toDF().withColumn("cents", round($"value" * 100).cast("long")),
        "ts", $"cents", Seq("p50" -> 500, "p90" -> 900), width = "1 hour")
      val q = out.writeStream
        .format("memory").queryName("rocksdb_quantiles").outputMode("update")
        .option("checkpointLocation", Files.createTempDirectory("ck-rq").toString)
        .start()
      try {
        in.addData(batch1); q.processAllAvailable()
        in.addData(batch2); q.processAllAvailable()
      } finally q.stop()
      // update mode emits one row per batch for the touched window; the
      // LAST emission reflects the merged state of both batches
      val last = spark.table("rocksdb_quantiles")
        .orderBy($"n_rows".desc).limit(1)
        .select($"p50", $"p90", $"n_rows").head()
      val all = (batch1 ++ batch2).map(c => math.round(c.value * 100))
      val sorted = all.sorted
      def pick(p: Int) = sorted((p.toLong * (all.size - 1) / 1000L).toInt)
      assert(last.getLong(2) === all.size.toLong)
      assert((last.getLong(0), last.getLong(1)) === ((pick(500), pick(900))))
    }
  }

  test("windowed top-k leaderboard: stream ≡ batch TopKByScore per window") {
    val sf = "/root/testdata/sf0.001"
    val events = graft.Tables.events(spark, sf)
      .select($"ts", $"user_id", $"value").as[RawCall]
    val cents = round($"value" * 100).cast("long")
    val batch = events.toDF()
      .withColumn("window_start", window($"ts", "1 hour")("start"))
      .withColumn("cents", cents)
      .groupBy($"window_start")
      .agg(graft.expressions.TopKByScore.topK(
        $"cents".cast("double"), $"user_id", 3).as("top"))
      .select($"window_start", posexplode($"top").as(Seq("p", "e")))
      .select($"window_start", ($"p" + 1).as("rank"),
        $"e.id".as("id"), $"e.score".as("score"))
      .collect().map(_.toSeq).toSet

    val in = MemoryStream[RawCall](spark)
    val out = StreamingOps.windowedTopKStream(
      in.toDF().withColumn("cents", cents), "ts",
      $"cents".cast("double"), $"user_id", k = 3, width = "1 hour")
    val rows = runUpdate(out, "stream_topk") {
      in.addData(events.collect().toIndexedSeq)
    }.collect().map(_.toSeq).toSet
    assert(rows.nonEmpty)
    assert(rows === batch)
  }

  test("windowed exact quantiles: stream ≡ batch exactQuantiles per window") {
    // both-regimes case for the r4 sketch additions: the streaming
    // QuantileHistogram-under-window() must equal the batch multi-stage
    // exactQuantiles plan, window for window, on the real events table
    val sf = "/root/testdata/sf0.001"
    val qs = Seq("p50" -> 500, "p95" -> 950)
    val events = graft.Tables.events(spark, sf)
      .select($"ts", $"user_id", $"value").as[RawCall]
    val batch = graft.operators.Sketches.exactQuantiles(
        events.toDF()
          .withColumn("window_start", window($"ts", "1 hour")("start"))
          .withColumn("cents", round($"value" * 100).cast("long")),
        Seq("window_start"), "cents", qs)
      .select($"window_start", $"p50", $"p95", $"n_rows")
      .collect().map(_.toSeq).toSet

    val in = MemoryStream[RawCall](spark)
    val out = StreamingOps.windowedQuantilesStream(
      in.toDF().withColumn("cents", round($"value" * 100).cast("long")),
      "ts", $"cents", qs, width = "1 hour")
    val rows = runUpdate(out, "stream_quantiles") {
      in.addData(events.collect().toIndexedSeq)
    }.collect().map(_.toSeq).toSet
    assert(rows.nonEmpty)
    assert(rows === batch)
  }

  test("session-window quantiles: stream ≡ batch, histogram state merges with sessions") {
    // append mode (sessions emit once finalized, like sessionAggStream);
    // a late sentinel advances the watermark past both session closes
    val qs = Seq("p50" -> 500, "p95" -> 950)
    val fixture = Seq(
      CallEvent(ts("10:00"), 7L, 1L), CallEvent(ts("11:30"), 7L, 2L),
      CallEvent(ts("11:45"), 7L, 9L), CallEvent(ts("15:00"), 7L, 4L))
    val in = MemoryStream[CallEvent](spark)
    val out = StreamingOps.sessionQuantilesStream(
      in.toDF().withColumn("cents", round($"value" * 100).cast("long")),
      "ts", $"user_id", $"cents", qs, gap = "2 hours", watermark = "1 hour")
    val q = out.writeStream
      .format("memory").queryName("stream_session_q").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-sq").toString)
      .start()
    try {
      in.addData(fixture)
      q.processAllAvailable()
      in.addData(CallEvent(ts("23:00"), 99L, 0L)) // watermark push
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("stream_session_q").filter($"user_id" === 7L)
      .select($"session_start".cast("string"), $"p50", $"p95", $"n_rows")
      .collect().map(_.toSeq).toSet
    // batch ground truth over the same fixture rows
    val batch = fixture.toDS().toDF()
      .withColumn("cents", round($"value" * 100).cast("long"))
      .filter($"user_id" === 7L)
      .groupBy(session_window($"ts", "2 hours").as("window"), $"user_id")
      .agg(graft.expressions.QuantileHistogram.quantiles($"cents", qs.map(_._2)).as("q"))
      .select($"window.start".cast("string"), $"q.qs".getItem(0),
        $"q.qs".getItem(1), $"q.n_rows")
      .collect().map(_.toSeq).toSet
    assert(rows.nonEmpty)
    assert(rows === batch)
    // merged 10:00-11:45 session: cents [100,200,900] -> p50=200, p95=200, n=3
    assert(rows.exists(_ === Seq("2024-01-01 10:00:00", 200L, 200L, 3L)))
  }

  test("streaming contamination quarantine: stream ≡ batch on a planted leak") {
    // eval set: two benchmark docs; stream: one verbatim leak (eval 100
    // embedded whole → containment 1000), one partial leak (6 of eval
    // 101's 8 shingles → 750), one clean doc, plus the watermark sentinel
    val evalDocs = Seq(
      (100L, "the quick brown fox jumps over the lazy dog today"),
      (101L, "pack my box with five dozen liquor jugs right now")
    ).toDF("doc_id", "text")
    val evalIndex = graft.operators.Dedup.evalShingleIndex(evalDocs)
    val fixture = Seq(
      StreamDocFixture(1L, "prefix words then the quick brown fox jumps over the lazy dog today plus trailing text", ts("10:05")),
      StreamDocFixture(2L, "completely unrelated content regarding parquet shuffles executors", ts("10:10")),
      StreamDocFixture(3L, "pack my box with five dozen liquor jugs", ts("10:20")),
      StreamDocFixture(99L, "sentinel", ts("13:00"))) // watermark push, no shingles shared
    val in = MemoryStream[StreamDocFixture](spark)
    val out = StreamingOps.streamingContamination(in.toDF(), evalIndex, minPermille = 500)
    val q = out.writeStream
      .format("memory").queryName("stream_contam").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-contam").toString)
      .start()
    try {
      in.addData(fixture.take(3))
      q.processAllAvailable()
      // at-least-once re-delivery of the verbatim leak, inside the
      // watermark: the distinct-shingle level must keep inter_cnt a true
      // intersection size (the rows === batch assert below pins it —
      // a double-counted doc 1 would read 2000 permille)
      in.addData(Seq(fixture.head))
      q.processAllAvailable()
      in.addData(fixture.drop(3)) // advances the watermark past 11:00
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("stream_contam")
      .select($"doc_id", $"eval_id", $"inter_cnt", $"containment_permille")
      .collect().map(_.toSeq).toSet
    // batch ground truth: the same docs in the train role, same threshold
    val batch = graft.operators.Dedup.contaminationPairs(
        fixture.map(f => (f.doc_id, f.text)).toDF("doc_id", "text"),
        evalDocs, minPermille = 500)
      .select($"train_id", $"eval_id", $"inter_cnt", $"containment_permille")
      .collect().map(_.toSeq).toSet
    assert(rows.nonEmpty)
    assert(rows === batch)
    assert(rows.exists(r => r(0) == 1L && r(1) == 100L && r(3) == 1000L),
      s"verbatim leak not flagged at 1000 permille: $rows")
    assert(rows.exists(r => r(0) == 3L && r(1) == 101L && r(3) == 750L),
      s"partial leak not flagged at 750 permille: $rows")
    assert(!rows.exists(r => r(0) == 2L), s"clean doc falsely flagged: $rows")
  }

  test("streaming as-of join: stream ≡ batch, late rights within the watermark are matched") {
    val inL = MemoryStream[AsofLeftFix](spark)
    val inR = MemoryStream[AsofRightFix](spark)
    val out = StreamingOps.streamingAsofJoin(inL.toDF(), inR.toDF())
    val q = out.writeStream
      .format("memory").queryName("stream_asof").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-asof").toString)
      .start()
    // 1031 probes at 10:30:00.000500; a right row lands at .000900 the
    // SAME millisecond but AFTER it — millisecond-truncated comparison
    // would wrongly match it, micro-precision must not
    val subMsLeft = Timestamp.valueOf("2024-01-01 10:30:00.0005")
    val subMsRight = Timestamp.valueOf("2024-01-01 10:30:00.0009")
    val lefts = Seq(
      AsofLeftFix(1L, 950L, ts("09:50"), 1.0),
      AsofLeftFix(1L, 1030L, ts("10:30"), 2.0),
      AsofLeftFix(1L, 1031L, subMsLeft, 2.5),
      AsofLeftFix(2L, 940L, ts("09:40"), 3.0))
    try {
      // batch 1: all lefts + the 10:00 right; watermark ends at 09:30
      inL.addData(lefts)
      inR.addData(AsofRightFix(1L, ts("10:00"), 110.0))
      q.processAllAvailable()
      // nothing may emit before the watermark certifies the lookups
      assert(spark.table("stream_asof").count() === 0L)
      // batch 2: a LATE right (09:45 < every buffered left's answer time,
      // but above the 09:30 watermark) — must win left 950's lookup
      inR.addData(AsofRightFix(1L, ts("09:45"), 105.0))
      inR.addData(AsofRightFix(1L, subMsRight, 111.0))
      q.processAllAvailable()
      // batch 3: watermark push on BOTH streams (the join runs at the
      // global minimum watermark — a stalled reference stream correctly
      // holds results back); the no-data batch after it fires timeouts
      inL.addData(AsofLeftFix(99L, 9999L, ts("14:00"), 0.0))
      inR.addData(AsofRightFix(99L, ts("14:00"), 0.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("stream_asof")
      .select($"id", $"key", $"asof_value", $"asof_ts")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(rows === Set(
      (950L, 1L, Some(105.0), Some(ts("09:45"))), // late right matched
      (1030L, 1L, Some(110.0), Some(ts("10:00"))),
      (1031L, 1L, Some(110.0), Some(ts("10:00"))), // .0009 right is AFTER .0005
      (940L, 2L, None, None))) // no reference stream for key 2
    // batch operator on the same data agrees row-for-row
    val batch = graft.operators.AsofJoin.asofJoin(
        lefts.toDF(), Seq(
          AsofRightFix(1L, ts("10:00"), 110.0),
          AsofRightFix(1L, ts("09:45"), 105.0),
          AsofRightFix(1L, subMsRight, 111.0)).toDF()
          .withColumnRenamed("ts", "rts").withColumnRenamed("value", "rv"),
        Seq("key"), "ts", "rts", Seq("rv"))
      .select($"id", $"key", $"asof_rv", $"asof_ts")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), Option(r.get(3)))).toSet
    assert(rows === batch)
  }

  test("streaming as-of join: a left at ts == watermark waits; an equal-ts right matches it") {
    // both sides ride one tagged source, so each micro-batch holds exactly
    // the rows added together and the watermark lands where planned
    val in = MemoryStream[AsofInput](spark)
    val out = StreamingOps.streamingAsofJoin(
      in.toDF().filter($"side" === 1).select("key", "id", "ts", "value"),
      in.toDF().filter($"side" === 0).select("key", "ts", "value"))
    val q = out.writeStream
      .format("memory").queryName("asof_cutoff").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-asof-cutoff").toString)
      .start()
    def left(key: Long, id: Long, hhmm: String) = AsofInput(key, 1, id, ts(hhmm), 0.0)
    def right(key: Long, hhmm: String, v: Double) = AsofInput(key, 0, -1L, ts(hhmm), v)
    def emitted = spark.table("asof_cutoff").select($"id", $"asof_value")
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    try {
      in.addData(right(1L, "09:30", 0.5), left(1L, 1L, "10:00"), right(1L, "10:00", 1.0))
      q.processAllAvailable()
      // both sides reach 11:00: the watermark is now exactly 10:00
      in.addData(left(2L, 2L, "11:00"), right(2L, "11:00", 2.0))
      q.processAllAvailable()
      // a fresh row on key 1 at watermark 10:00: the 10:00 left is not
      // certified (a right at 10:00 may still arrive), so nothing emits
      in.addData(left(1L, 3L, "10:30"))
      q.processAllAvailable()
      assert(emitted === Map.empty)
      // the watermark passes 10:00 (and 11:00)
      in.addData(left(2L, 4L, "12:30"), right(2L, "12:30", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    // as-of is at-or-before: the 10:00 right, not the 09:30 one, answers
    // the 10:00 left (at an equal ts a right replays before a left)
    assert(emitted === Map(1L -> Some(1.0), 3L -> Some(1.0), 2L -> Some(2.0)))
  }

  test("bloomAntiJoin runs unchanged on a stream against a static blocklist") {
    // the filter side is static (one aggregate, broadcast blob); the
    // stream side is a per-row probe plus a stream-static left-anti for
    // the false-positive sliver — supported shapes end to end
    val fixture = Seq(
      StreamDocFixture(10L, "a", ts("10:00")),
      StreamDocFixture(20L, "b", ts("10:05")),
      StreamDocFixture(30L, "c", ts("10:10")))
    val blocked = Seq(20L).toDF("bk")
    val in = MemoryStream[StreamDocFixture](spark)
    val out = graft.ops.ScaleOps.bloomAntiJoin(in.toDF(), "doc_id", blocked, "bk")
      .select($"doc_id")
    val q = out.writeStream
      .format("memory").queryName("stream_bloom").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-bloom").toString)
      .start()
    try { in.addData(fixture); q.processAllAvailable() } finally q.stop()
    val got = spark.table("stream_bloom").as[Long].collect().toSet
    assert(got === Set(10L, 30L))
  }

  test("stateless curation ops (hash split, mixture) run unchanged on a stream") {
    // splitColumn / sampleByRates are pure per-row maps + generators, so
    // the SAME operator code drives batch and streaming frames — no
    // streaming variant needed, and assignments agree row-for-row
    val fixture = Seq(
      StreamDocFixture(1L, "alpha beta", ts("10:00")),
      StreamDocFixture(2L, "gamma delta", ts("10:05")),
      StreamDocFixture(3L, "epsilon zeta", ts("10:10")))
    val in = MemoryStream[StreamDocFixture](spark)
    val out = graft.operators.Mixture.sampleByRates(
        graft.operators.Splits.hashSplit(
          in.toDF().withColumn("source", lit("src0")), "doc_id",
          Seq("train" -> 900, "val" -> 50, "test" -> 50)),
        "doc_id", "source", Map("src0" -> 2000))
      .select($"doc_id", $"split", $"copy")
    val q = out.writeStream
      .format("memory").queryName("stream_curate").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-curate").toString)
      .start()
    try { in.addData(fixture); q.processAllAvailable() } finally q.stop()
    val streamed = spark.table("stream_curate")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val batch = graft.operators.Mixture.sampleByRates(
        graft.operators.Splits.hashSplit(
          fixture.toDF().withColumn("source", lit("src0")), "doc_id",
          Seq("train" -> 900, "val" -> 50, "test" -> 50)),
        "doc_id", "source", Map("src0" -> 2000))
      .select($"doc_id", $"split", $"copy")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
    // rate 2000 = exactly two copies of every doc
    assert(streamed.size === fixture.size * 2)
  }

  test("windowed KMV distinct sketch: stream ≡ batch kmv per window") {
    val sf = "/root/testdata/sf0.001"
    val k = 16
    val events = graft.Tables.events(spark, sf)
      .select($"ts", $"user_id", $"value").as[RawCall]
    def hashCol = shiftright(
      graft.functions.TextFunctions.hash60($"user_id".cast("string")), 12)
    val batch = events.toDF()
      .groupBy(window($"ts", "1 hour").as("window"))
      .agg(graft.operators.Sketches.kmv(hashCol, k).as("sk"))
      .select($"window.start".as("window_start"), $"sk",
        graft.operators.Sketches.kmvEstimate("sk", k, 48).as("est_distinct"))
      .collect().map(_.toSeq).toSet

    val in = MemoryStream[RawCall](spark)
    val out = StreamingOps.windowedDistinctSketchStream(
      in.toDF(), "ts", hashCol, k, bits = 48, width = "1 hour")
    val rows = runUpdate(out, "stream_kmv") {
      in.addData(events.collect().toIndexedSeq)
    }.collect().map(_.toSeq).toSet
    assert(rows.nonEmpty)
    assert(rows === batch)
  }

  test("windowed CMS grid: stream ≡ batch cms per window, bit-for-bit") {
    val sf = "/root/testdata/sf0.001"
    val events = graft.Tables.events(spark, sf)
      .select($"ts", $"user_id", $"value").as[RawCall]
    def itemCol = $"user_id".cast("string")
    val batch = events.toDF()
      .groupBy(window($"ts", "1 hour").as("window"))
      .agg(graft.operators.Sketches.cms(itemCol, 3, 32).as("cms"))
      .select($"window.start".as("window_start"), $"cms")
      .collect().map(r => (r.getTimestamp(0), r.getSeq[Long](1))).toSet

    val in = MemoryStream[RawCall](spark)
    val out = StreamingOps.windowedCmsStream(
      in.toDF(), "ts", itemCol, depth = 3, width = 32, windowWidth = "1 hour")
    val rows = runUpdate(out, "stream_cms") {
      in.addData(events.collect().toIndexedSeq)
    }.collect().map(r => (r.getTimestamp(0), r.getSeq[Long](1))).toSet
    assert(rows.nonEmpty)
    assert(rows === batch)
  }

  test("windowed skew monitor: stream ≡ batch skew stats, keys split across batches") {
    // key 7 is hot inside the 10:00 window; its rows arrive across TWO
    // micro-batches — correct n_keys/max only exist if the (window, key)
    // counts merged through state before the stats stage
    val b1 = Seq(
      CallEvent(ts("10:05"), 7L, 1L), CallEvent(ts("10:10"), 7L, 1L),
      CallEvent(ts("10:15"), 1L, 1L))
    val b2 = Seq(
      CallEvent(ts("10:20"), 7L, 1L), CallEvent(ts("10:25"), 2L, 1L),
      CallEvent(ts("11:40"), 3L, 1L)) // second window
    val flush = CallEvent(Timestamp.valueOf("2024-01-03 00:00:00"), 99L, 0L)
    val in = MemoryStream[CallEvent](spark)
    val out = StreamingOps.windowedSkewStream(
      in.toDF(), "ts", "user_id", windowWidth = "1 hour", watermark = "10 minutes")
    val q = out.writeStream
      .format("memory").queryName("stream_skew").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-skew").toString)
      .start()
    try {
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      in.addData(flush); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_skew")
      .filter($"window_start" < Timestamp.valueOf("2024-01-02 00:00:00"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    // 10:00 window: keys {7:3, 1:1, 2:1} -> n_keys 3, n_rows 5, max 3,
    // counts multiset {1,1,3}: p50 = 1, p99 = 3 (rank (990*2)//1000 = 1,
    // first cum > 1 is ... cum(1)=2 > 1 -> p50=p99=1); skew = 1000*3*3/5
    val batch = (b1 ++ b2).toDF()
      .groupBy(window($"ts", "1 hour").as("w"), $"user_id")
      .agg(count(lit(1)).as("c"))
      .groupBy($"w").agg(count(lit(1)).as("nk"), sum($"c").as("nr"),
        max($"c").as("mx"),
        graft.expressions.QuantileHistogram.quantiles($"c", Seq(500, 990)).as("q"))
      .select($"w.start", $"nk", $"nr", $"mx",
        element_at($"q.qs", 1), element_at($"q.qs", 2),
        expr("CAST((1000 * mx * nk) DIV nr AS BIGINT)"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got === batch)
    assert(got.exists { case (w, nk, nr, mx, _, _, sk) =>
      w === ts("10:00") && nk === 3L && nr === 5L && mx === 3L && sk === 1800L })
  }

  test("windowed HLL registers: stream ≡ batch hll per window, bit-for-bit") {
    val sf = "/root/testdata/sf0.001"
    val events = graft.Tables.events(spark, sf)
      .select($"ts", $"user_id", $"value").as[RawCall]
    def hashCol = graft.functions.TextFunctions.hash60($"user_id".cast("string"))
    val batch = events.toDF()
      .groupBy(window($"ts", "1 hour").as("window"))
      .agg(graft.operators.Sketches.hll(hashCol, 8).as("hll"))
      .select($"window.start".as("window_start"), $"hll")
      .collect().map(r => (r.getTimestamp(0), r.getSeq[Long](1))).toSet
    val in = MemoryStream[RawCall](spark)
    val out = StreamingOps.windowedHllStream(
      in.toDF(), "ts", hashCol, p = 8, windowWidth = "1 hour")
    val rows = runUpdate(out, "stream_hll") {
      in.addData(events.collect().toIndexedSeq)
    }.collect().map(r => (r.getTimestamp(0), r.getSeq[Long](1))).toSet
    assert(rows.nonEmpty)
    assert(rows === batch)
  }

  test("streaming SCD2: closed intervals ≡ batch, out-of-order across batches") {
    val rows = Seq(
      Scd2Fix(1L, ts("10:00"), 1L, "a"),
      Scd2Fix(1L, ts("10:20"), 2L, "a"), // unchanged — same run
      Scd2Fix(1L, ts("10:40"), 3L, "b"),
      Scd2Fix(1L, ts("11:00"), 4L, "a"),
      Scd2Fix(2L, ts("10:10"), 5L, "x")) // single row: open run, no output
    val flush = Scd2Fix(99L, Timestamp.valueOf("2024-01-02 12:00:00"), 9L, "z")
    val in = MemoryStream[Scd2Fix](spark)
    val out = StreamingOps.streamingScd2(in.toDF(), watermark = "1 hour")
    val q = out.writeStream
      .format("memory").queryName("stream_scd2").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-scd2").toString)
      .start()
    try {
      // batch 1 arrives OUT OF ORDER (the 10:40 change before the 10:00
      // opener); watermark still at minus infinity — nothing certifies
      in.addData(rows(2), rows(0))
      q.processAllAvailable()
      assert(spark.table("stream_scd2").count() === 0L)
      // batch 2: the rest, still below the watermark horizon
      in.addData(rows(1), rows(3), rows(4))
      q.processAllAvailable()
      // batch 3: watermark push + the no-data batch fires the timeouts
      in.addData(flush)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("stream_scd2")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), r.getTimestamp(3), r.getLong(4))).toSet
    // batch operator on the same log agrees on every CLOSED interval
    val batch = graft.ops.Temporal.scd2((rows :+ flush).toDF(),
        Seq("key"), "ts", Seq("seq"), Seq("value"))
      .filter($"valid_to".isNotNull)
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), r.getTimestamp(3), r.getLong(4))).toSet
    assert(got === Set(
      (1L, "a", ts("10:00"), ts("10:40"), 1L),
      (1L, "b", ts("10:40"), ts("11:00"), 2L)))
    assert(got === batch)
  }

  test("streaming funnel: final stages ≡ batch greedy fold, out-of-order across batches") {
    val rows = Seq(
      // key 1 completes view->click->purchase, with the CLICK arriving in
      // an earlier micro-batch than the VIEW it must follow
      FunnelFix(1L, ts("10:00"), 1L, "view"),
      FunnelFix(1L, ts("10:20"), 2L, "click"),
      FunnelFix(1L, ts("10:40"), 3L, "purchase"),
      // key 2: purchase BEFORE view in event time — greedy stops at 2
      FunnelFix(2L, ts("10:00"), 4L, "purchase"),
      FunnelFix(2L, ts("10:10"), 5L, "view"),
      FunnelFix(2L, ts("10:30"), 6L, "click"),
      // key 3: noise only
      FunnelFix(3L, ts("10:05"), 7L, "error"))
    val flush = FunnelFix(99L, Timestamp.valueOf("2024-01-02 12:00:00"), 9L, "view")
    val in = MemoryStream[FunnelFix](spark)
    val out = StreamingOps.streamingFunnel(
      in.toDF(), Seq("view", "click", "purchase"), watermark = "1 hour")
    val q = out.writeStream
      .format("memory").queryName("stream_funnel").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-funnel").toString)
      .start()
    try {
      // the click and purchase arrive BEFORE key 1's view; nothing is
      // certified yet, so no advance may be claimed out of order
      in.addData(rows(1), rows(2), rows(3))
      q.processAllAvailable()
      assert(spark.table("stream_funnel").count() === 0L)
      in.addData(rows(0), rows(4), rows(5), rows(6))
      q.processAllAvailable()
      in.addData(flush)
      q.processAllAvailable()
    } finally q.stop()
    val advances = spark.table("stream_funnel")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2)))
    // each advance carries the advancing event's timestamp
    assert(advances.toSet === Set(
      (1L, 1L, ts("10:00")), (1L, 2L, ts("10:20")), (1L, 3L, ts("10:40")),
      (2L, 1L, ts("10:10")), (2L, 2L, ts("10:30"))))
    // final stage per key ≡ the batch operator over the CERTIFIED rows
    // (the flush row exists only to push the watermark; the stream never
    // certifies it, so the batch comparison excludes it too)
    val finalStages = advances.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val batch = graft.ops.Temporal.funnelStages(rows.toDF(),
        "key", "ts", "seq", "etype", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(batch.filter(_._2 > 0L) === finalStages)
    assert(batch(3L) === 0L)
  }

  test("streaming retention: per-(key,day) emits once; triangle ≡ batch, out-of-order") {
    def at(day: String, hhmm: String) = Timestamp.valueOf(s"2024-01-$day $hhmm:00")
    val rows = Seq(
      // user 1: days 01, 02 (twice), 04
      RetentionInput(1L, at("01", "10:00")),
      RetentionInput(1L, at("02", "09:00")),
      RetentionInput(1L, at("02", "23:00")),
      RetentionInput(1L, at("04", "01:00")),
      // user 2: day 01 only
      RetentionInput(2L, at("01", "23:59")),
      // user 3: days 03, 04
      RetentionInput(3L, at("03", "00:00")),
      RetentionInput(3L, at("04", "12:00")))
    val flush = RetentionInput(99L, Timestamp.valueOf("2024-02-01 12:00:00"))
    val in = MemoryStream[RetentionInput](spark)
    // a 10-day watermark keeps every real row uncertified until the
    // flush — cross-batch arrival order is then fully decoupled from
    // event order (a 1h watermark would certify day 2 before day 1's
    // opener ever arrived, which is a watermark-contract violation by
    // the data, not an operator bug)
    val out = StreamingOps.streamingRetention(in.toDF(), watermark = "10 days")
    val q = out.writeStream
      .format("memory").queryName("stream_retention").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-ret").toString)
      .start()
    try {
      // user 1's day-02 and day-04 visits arrive BEFORE the day-01
      // opener: if the cohort were fixed on arrival order it would be
      // wrong; the watermark replay must fix it at day 01
      in.addData(rows(1), rows(3), rows(5))
      q.processAllAvailable()
      assert(spark.table("stream_retention").count() === 0L)
      in.addData(rows(0), rows(2), rows(4), rows(6))
      q.processAllAvailable()
      assert(spark.table("stream_retention").count() === 0L)
      in.addData(flush)
      q.processAllAvailable()
    } finally q.stop()
    val visits = spark.table("stream_retention")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // exactly one emission per (key, day): user 1's double day-02 visit
    // emits once
    assert(visits.length === visits.toSet.size)
    val triangle = visits.groupBy(v => (v._2, v._3)).view.mapValues(_.length.toLong).toMap
    val batch = graft.ops.Temporal.cohortRetention(
        rows.toDF("key", "ts"), "key", "ts")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(triangle === batch)
    assert(triangle(("2024-01-01", 0L)) === 2L) // users 1 and 2
  }

  test("streaming BM25 over a static index ≡ the batch served probe, state across batches") {
    import graft.operators.TextSearch
    val corpus = Seq(
      (1L, "a a b"), (2L, "a c"), (3L, "c c c c"), (4L, "z z z"))
      .toDF("doc_id", "text")
    val index = TextSearch.buildTextIndex(corpus, "doc_id", "text")
    // q0's terms split ACROSS micro-batches — the final leaderboard only
    // exists if the (window, query, doc) sums merged through state; q1
    // arrives whole in batch 2
    val t0 = Timestamp.valueOf("2024-03-01 10:05:00")
    val batch1 = Seq(QueryEvent(t0, 0, "a"), QueryEvent(t0, 0, "b"))
    // batch 2 RE-DELIVERS (0, "a") — the (window, query, doc, term) max
    // level must count it once, or q0's 'a' contributions double and
    // stream ≢ batch
    val batch2 = Seq(QueryEvent(t0, 1, "c"), QueryEvent(t0, 0, "a"))
    // flush far past window end + watermark so append mode closes the window
    val flush = Seq(QueryEvent(Timestamp.valueOf("2024-03-02 12:00:00"), 9, "a"))

    val in = MemoryStream[QueryEvent](spark)
    val out = StreamingOps.streamingBm25(
      in.toDF(), "ts", "query_id", "text", index, k = 10,
      width = "1 hour", watermark = "10 minutes")
    val q = out.writeStream
      .format("memory").queryName("stream_bm25").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-sbm25").toString)
      .start()
    try {
      in.addData(batch1); q.processAllAvailable()
      in.addData(batch2); q.processAllAvailable()
      in.addData(flush); q.processAllAvailable()
    } finally q.stop()

    val streamed = spark.table("stream_bm25")
      .filter($"window_start" === Timestamp.valueOf("2024-03-01 10:00:00"))
      .select($"query_id", $"rank", $"doc_id", $"score_e6")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    // batch reference: the same merged query set against the same index
    val batch = TextSearch.bm25TopKWith(index, Seq(0L -> "a b", 1L -> "c"), k = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streamingBm25WithRelease: the pinned df cache is released by the handle") {
    import graft.operators.TextSearch
    val corpus = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val index = TextSearch.buildTextIndex(corpus, "doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.size
    val in = MemoryStream[QueryEvent](spark)
    val (out, release) = StreamingOps.streamingBm25WithRelease(
      in.toDF(), "ts", "query_id", "text", index, k = 5,
      width = "1 hour", watermark = "10 minutes")
    val q = out.writeStream
      .format("memory").queryName("stream_bm25_rel").outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("ck-sbm25rel").toString)
      .start()
    try {
      in.addData(QueryEvent(Timestamp.valueOf("2024-03-01 10:05:00"), 0, "a"))
      q.processAllAvailable()
    } finally q.stop()
    // the serving cache is pinned while the stream lives (that is the
    // point — the static side re-executes per micro-batch), and gone
    // once the caller releases it after stopping the query
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "df-by-term cache was never materialized — the fixture went stale")
    release()
    assert(spark.sparkContext.getPersistentRDDs.size === before,
      "release handle left the df cache pinned")
  }

  test("flagship stream ≡ batch: same events, identical enriched output") {
    // The strongest cheap guarantee the two surfaces can't drift: feed the
    // full sf0.001 events table through CallsStreamPipeline (aggregate +
    // enriched) and assert set-equality with CallsPipeline.callsEnriched.
    // One micro-batch ⇒ update mode emits exactly one row per touched
    // (key, window), which is the final aggregate — directly comparable.
    val sf = "/root/testdata/sf0.001"
    val batch = graft.pipelines.CallsPipeline.callsEnriched(spark, sf)
      .collect().map(_.toSeq)

    val events = graft.Tables.events(spark, sf)
      .select($"ts", $"user_id", $"value").as[RawCall].collect()
    val in = MemoryStream[RawCall](spark)
    val out = CallsStreamPipeline.enriched(
      CallsStreamPipeline.aggregate(in.toDF()),
      graft.Tables.customer(spark, sf),
      custKey = "c_custkey", doc = "c_name", operator = "c_mktsegment",
      flag = "c_nationkey", days = "c_acctbal")
    val q = out.writeStream
      .format("memory").queryName("flagship_parity").outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("ck-parity").toString)
      .start()
    try { in.addData(events.toIndexedSeq); q.processAllAvailable() } finally q.stop()

    val streamed = spark.table("flagship_parity").collect().map(_.toSeq)
    // multiset equality (group-count maps), not Set — length+Set can't
    // tell [A,A,B] from [A,B,B] if enriched rows ever duplicated
    assert(streamed.length === batch.length)
    assert(streamed.groupBy(identity).view.mapValues(_.size).toMap ===
      batch.groupBy(identity).view.mapValues(_.size).toMap)
  }

  test("hybridSearchSink: per-batch fused top-k ≡ batch rrfFuse over the same indexes") {
    import graft.operators.{Similarity, TextSearch}
    // tiny corpus where lexical and dense legs DISAGREE, so fusion is
    // doing real work: doc 1 matches the query terms, doc 3 is the
    // nearest embedding
    val docs = Seq(
      (1L, "spark hash join plan"), (2L, "window functions and frames"),
      (3L, "unrelated prose entirely"), (4L, "hash join hash join hash")
    ).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.6f, 0.8f)), (3L, Seq(0f, 1f)), (4L, Seq(0.8f, 0.6f))
    ).toDF("vec_id", "embedding")
    val tIdx = TextSearch.buildTextIndex(docs, "doc_id", "text")
    val ivf = Similarity.buildIvf(emb, nCells = 2).persist()
    val batchA = Seq(HybridQueryFix(0L, "hash join", Seq(0f, 1f)))
    val batchB = Seq(HybridQueryFix(1L, "window frames", Seq(1f, 0f)),
      HybridQueryFix(2L, "spark plan", Seq(0.6f, 0.8f)))
    val in = MemoryStream[HybridQueryFix](spark)
    val got = scala.collection.concurrent.TrieMap[Long, Set[Seq[Any]]]()
    val q = StreamingOps.hybridSearchSink(
      in.toDF(), tIdx, ivf, k = 3, nprobe = 2,
      checkpointDir = Files.createTempDirectory("ck-hybrid").toString) { (fused, id) =>
        got(id) = fused.collect().map(_.toSeq).toSet
      }.start()
    try {
      in.addData(batchA); q.processAllAvailable()
      in.addData(batchB); q.processAllAvailable()
    } finally q.stop()
    def batchMode(qs: Seq[HybridQueryFix]) = {
      val lex = TextSearch.bm25TopKWith(tIdx,
          qs.map(h => h.query_id -> h.text), k = 3)
        .select($"query_id", $"doc_id", $"rank")
      // excludeSelf = false on BOTH sides: user query ids are not corpus
      // vec_ids, so a coincidental id match (query 1 vs doc 1 here) must
      // stay in the dense leg — the sink applies the same rule
      val dense = Similarity.ivfKnnWith(ivf,
          qs.map(h => (h.query_id, h.embedding)).toDF("vec_id", "embedding"),
          k = 3, nprobe = 2, excludeSelf = false)
        .select($"query_id", $"neighbor_id".as("doc_id"), $"rank")
      TextSearch.rrfFuse(Seq(lex, dense), k = 3).collect().map(_.toSeq).toSet
    }
    assert(got.toMap === Map(0L -> batchMode(batchA), 1L -> batchMode(batchB)))
    // the fused ranking actually blends the legs: for "hash join"/(0,1)
    // both doc 1 (lexical winner, also dense-visible) and doc 3 (dense
    // winner) appear in the top-3
    val top = got(0L).map(r => r(2).asInstanceOf[Long])
    assert(top.contains(1L) && top.contains(3L))
    ivf.unpersist()
  }

  test("linkGraphSink: N triggers folded via mergeEdgeCounts ≡ one batch derivation") {
    import graft.operators.Graphs
    // duplicate pairs within AND across batches, plus a self-loop that
    // must drop — the associativity claim does real work here
    val batchA = Seq(EdgeFix(1, 2), EdgeFix(1, 2), EdgeFix(2, 3), EdgeFix(4, 4))
    val batchB = Seq(EdgeFix(1, 2), EdgeFix(3, 1), EdgeFix(2, 3))
    val in = MemoryStream[EdgeFix](spark)
    // the caller-held artifact, folded per trigger exactly as a release
    // cadence would fold accepted batches — WITH the batchId high-water
    // guard the sink's replay contract requires (the fold is additive,
    // not idempotent: a re-delivered batch must be skipped, not
    // re-merged)
    var artifact = Seq.empty[(Long, Long, Long)].toDF("src", "dst", "n")
    var mergedThrough = -1L
    val q = StreamingOps.linkGraphSink(in.toDF(),
      Files.createTempDirectory("ck-linkgraph").toString) { (counts, batchId) =>
        if (batchId > mergedThrough) {
          artifact = Graphs.mergeEdgeCounts(artifact, counts)
            .localCheckpoint() // sever per-trigger lineage like a real upsert
          mergedThrough = batchId
        }
      }.start()
    try {
      in.addData(batchA); q.processAllAvailable()
      in.addData(batchB); q.processAllAvailable()
    } finally q.stop()
    val batchMode = (batchA ++ batchB).toDF("src", "dst")
      .filter($"src" =!= $"dst")
      .groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
    assert(artifact.collect().map(_.toSeq).toSet ===
      batchMode.collect().map(_.toSeq).toSet)
    // and the fold really accumulated across triggers: (1,2) counts 3
    assert(artifact.filter($"src" === 1 && $"dst" === 2)
      .head().getLong(2) === 3L)
  }

  test("streaming bitext mining: per-batch mined pairs ≡ bitextMarginMineWith on the same indexes") {
    import graft.operators.Similarity
    // overlapping id spaces on purpose — the excludeSelf=false contract
    // must hold through the streaming face too
    val src = Seq((0L, Seq(1f, 0f, 0f)), (1L, Seq(0f, 1f, 0f)),
      (2L, Seq(0f, 0f, 1f))).toDF("vec_id", "embedding")
    val tgt = Seq((0L, Seq(0.99f, 0.05f, 0f)), (1L, Seq(0.05f, 0.99f, 0f)),
      (2L, Seq(0f, 0.05f, 0.99f))).toDF("vec_id", "embedding")
    val sIdx = Similarity.buildIvf(src, nCells = 2).persist()
    val tIdx = Similarity.buildIvf(tgt, nCells = 2).persist()
    val batchA = Seq(BitextQueryFix(0L, Seq(1f, 0f, 0f)))
    val batchB = Seq(BitextQueryFix(1L, Seq(0f, 1f, 0f)),
      BitextQueryFix(2L, Seq(0f, 0f, 1f)))
    val in = MemoryStream[BitextQueryFix](spark)
    val got = scala.collection.concurrent.TrieMap[Long, Set[Seq[Any]]]()
    val q = StreamingOps.foreachBatchSink(in.toDF(),
      Files.createTempDirectory("ck-bitext").toString, OutputMode.Append()) { (batch, id) =>
        got(id) = Similarity.bitextMarginMineWith(sIdx, tIdx, batch, k = 2, nprobe = 2)
          .collect().map(_.toSeq).toSet
      }.start()
    try {
      in.addData(batchA); q.processAllAvailable()
      in.addData(batchB); q.processAllAvailable()
    } finally q.stop()
    def batchMode(qs: Seq[BitextQueryFix]) =
      Similarity.bitextMarginMineWith(sIdx, tIdx,
          qs.map(b => (b.vec_id, b.embedding)).toDF("vec_id", "embedding"),
          k = 2, nprobe = 2)
        .collect().map(_.toSeq).toSet
    assert(got.toMap === Map(0L -> batchMode(batchA), 1L -> batchMode(batchB)))
    // aligned (i,i) pairs survive the id collision in every batch
    assert(got(0L).map(r => (r(0), r(1))) === Set((0L, 0L)))
    assert(got(1L).map(r => (r(0), r(1))) === Set((1L, 1L), (2L, 2L)))
    sIdx.unpersist(); tIdx.unpersist()
  }
}
