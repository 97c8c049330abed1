package graft

import java.io.FileNotFoundException
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => NioPath}
import java.util.ConcurrentModificationException

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager,
  FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.pipelines.CallsPipeline
import graft.streaming.{CallsStreamPipeline, LocalCheckpointFileManager}

/** A `LocalFileSystem` under its own scheme: local bytes that Spark must
  * still treat as a remote file system (delegation test below). */
class SchemeLocalTestFs extends LocalFileSystem(new SchemeLocalTestRawFs) {
  override def getScheme: String = "graftlocal"
}
class SchemeLocalTestRawFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("graftlocal:///")
}

/** An offset-log-style metadata log whose raw `write` a test can call:
  * two of them on one path race the way two queries' logs do. */
class RacingMetadataLog(spark: SparkSession, path: String)
    extends HDFSMetadataLog[String](spark, path) {
  def writeBatch(batchId: Long, text: String): Unit =
    write(batchIdToPath(batchId), _.write(text.getBytes(UTF_8)))
  def manager: CheckpointFileManager = fileManager
}

/** The java.nio checkpoint manager: atomic publish, the concurrent-writer
  * contract `HDFSMetadataLog` builds on, compatibility in both directions
  * with checkpoints of Spark's default manager, and no child processes. */
class LocalCheckpointFileManagerSpec extends SparkTestBase {
  import spark.implicits._

  private val ManagerConf = GraftSession.CheckpointFileManagerConf
  private val SparkDefaultManager = classOf[FileContextBasedCheckpointFileManager].getName

  private lazy val tables: String = callsTables(seed = 7)

  private def dirPath(d: NioPath) = new Path(d.toUri)
  private def graftManager(d: NioPath): CheckpointFileManager =
    CheckpointFileManager.create(dirPath(d), spark.sessionState.newHadoopConf())
  private def sparkDefaultManager(d: NioPath): CheckpointFileManager =
    CheckpointFileManager.create(dirPath(d), new Configuration())

  private def write(fm: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    try { out.write(text.getBytes(UTF_8)); out.close() }
    catch { case e: Throwable => out.cancel(); throw e }
  }
  private def read(fm: CheckpointFileManager, p: Path): String = {
    val in = fm.open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }
  private val discard: (DataFrame, Long) => Unit = (df, _) => { df.collect(); () }
  private def names(d: NioPath): Set[String] =
    Files.list(d).iterator().asScala.map(_.getFileName.toString).toSet

  test("the session resolves file: checkpoints to the NIO manager, not Spark's default") {
    val d = Files.createTempDirectory("ck-resolve")
    val fm = graftManager(d)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    assert(fm.asInstanceOf[LocalCheckpointFileManager].underlying.getClass !==
      sparkDefaultManager(d).getClass)
    assert(fm.isLocal)
    assert(fm.createCheckpointDirectory() === dirPath(d).getFileSystem(new Configuration())
      .makeQualified(dirPath(d)))
  }

  test("no-overwrite createAtomic onto an existing file throws and keeps the original") {
    val d = Files.createTempDirectory("ck-noover")
    val fm = graftManager(d)
    val p = new Path(dirPath(d), "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException](write(fm, p, "second", overwrite = false))
    assert(read(fm, p) === "first")
    assert(names(d) === Set("0"), "a temp file or checksum twin was left behind")
  }

  test("an overwrite replaces the file; cancel leaves neither target nor temp file") {
    val d = Files.createTempDirectory("ck-over")
    val fm = graftManager(d)
    val p = new Path(dirPath(d), "1.delta")
    write(fm, p, "old", overwrite = true)
    write(fm, p, "new", overwrite = true)
    assert(read(fm, p) === "new")
    val q = new Path(dirPath(d), "2.delta")
    val out = fm.createAtomic(q, overwriteIfPossible = true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close() // a close after cancel must not publish
    assert(!fm.exists(q))
    assert(names(d) === Set("1.delta"))
  }

  test("overwriting a file with a Hadoop .crc twin still reads back through Spark's default manager") {
    val d = Files.createTempDirectory("ck-crc")
    val p = new Path(dirPath(d), "3.delta")
    val default = sparkDefaultManager(d)
    write(default, p, "written by spark's default manager", overwrite = true)
    assert(names(d).contains(".3.delta.crc"), "expected the default manager to write a checksum")
    val fm = graftManager(d)
    write(fm, p, "graft", overwrite = true)
    assert(!names(d).contains(".3.delta.crc"))
    assert(read(default, p) === "graft")
    // list hides twins and delete removes them, as the checksummed FS does
    val r = new Path(dirPath(d), "4.delta")
    write(default, r, "x", overwrite = true)
    assert(fm.list(dirPath(d)).map(_.getPath.getName).toSet === Set("3.delta", "4.delta"))
    fm.delete(r)
    assert(names(d) === Set("3.delta"))
  }

  test("list, exists and delete on missing paths behave as Spark's default manager") {
    val d = Files.createTempDirectory("ck-missing")
    val missing = new Path(dirPath(d), "nope")
    for (fm <- Seq(sparkDefaultManager(d), graftManager(d))) {
      assert(!fm.exists(missing))
      fm.delete(missing)
      intercept[FileNotFoundException](fm.list(missing))
    }
    val fm = graftManager(d)
    fm.mkdirs(new Path(missing, "a/b"))
    assert(fm.exists(new Path(missing, "a/b")))
    fm.delete(missing)
    assert(!fm.exists(missing))
  }

  test("a non-file scheme is delegated to the manager Spark would choose") {
    val d = Files.createTempDirectory("ck-scheme")
    val conf = new Configuration()
    conf.set("fs.graftlocal.impl", classOf[SchemeLocalTestFs].getName)
    conf.setBoolean("fs.graftlocal.impl.disable.cache", true)
    val withoutKey = new Configuration(conf)
    conf.set(ManagerConf, classOf[LocalCheckpointFileManager].getName)
    val root = new Path("graftlocal", null, d.toString)
    val fm = CheckpointFileManager.create(root, conf)
    assert(fm.isInstanceOf[LocalCheckpointFileManager])
    val underlying = fm.asInstanceOf[LocalCheckpointFileManager].underlying
    // no AbstractFileSystem for the scheme, so Spark falls back to FileSystem
    assert(underlying.getClass === classOf[FileSystemBasedCheckpointFileManager])
    assert(underlying.getClass === CheckpointFileManager.create(root, withoutKey).getClass)
    write(fm, new Path(root, "0"), "remote", overwrite = false)
    assert(read(fm, new Path(root, "0")) === "remote")
    // the bytes went through Hadoop's checksummed FileSystem, not java.nio
    assert(names(d) === Set("0", ".0.crc"))
  }

  test("two writers of one checkpoint log fail as concurrent; a second query on it is refused") {
    val d = Files.createTempDirectory("ck-race").toString
    val a = new RacingMetadataLog(spark, d)
    val b = new RacingMetadataLog(spark, d)
    assert(a.manager.isInstanceOf[LocalCheckpointFileManager])
    // both passed add's existence check; the second publish loses
    a.writeBatch(0, "a")
    val e = intercept[ConcurrentModificationException](b.writeBatch(0, "b"))
    assert(e.getClass.getName === "org.apache.spark.SparkConcurrentModificationException", e)
    assert(new String(Files.readAllBytes(java.nio.file.Paths.get(d, "0")), UTF_8) === "a")
    assert(names(java.nio.file.Paths.get(d)) === Set("0"))

    val in = MemoryStream[CallEvent](spark)
    val ck = Files.createTempDirectory("ck-twice").toString
    def start() = CallsStreamPipeline.aggregate(in.toDF()).writeStream
      .outputMode("update").option("checkpointLocation", ck)
      .foreachBatch(discard).start()
    // In one JVM the second query never reaches the files: Spark refuses
    // it by query id (by default it would stop the first run instead). A
    // second process's query is refused by the log write above.
    withSessionConf("spark.sql.streaming.stopActiveRunOnRestart" -> "false") {
      val q1 = start()
      try {
        val e = intercept[IllegalStateException](start())
        assert(e.getMessage.contains("same id is already active"), e)
      } finally q1.stop()
    }
  }

  // ---- crash/restart across managers, flagship topology ----

  private def events: Array[RawCall] = Tables.events(spark, tables)
    .select($"ts", $"user_id", $"value").as[RawCall].collect()

  private def enrichedOf(calls: DataFrame): DataFrame = CallsStreamPipeline.enriched(
    CallsStreamPipeline.aggregate(calls), Tables.customer(spark, tables),
    custKey = "c_custkey", doc = "c_name", operator = "c_mktsegment",
    flag = "c_nationkey", days = "c_acctbal")

  /** Batch ids whose offset-log entry has a Hadoop checksum twin, i.e.
    * was written by Spark's default manager. */
  private def checksummedOffsets(ck: NioPath): Set[String] = names(ck.resolve("offsets"))
    .collect { case n if n.endsWith(".crc") => n.stripPrefix(".").stripSuffix(".crc") }

  private def restartAcrossManagers(graftFirst: Boolean, rocksDb: Boolean): Unit = {
    val all = events
    val chunks = all.grouped((all.length + 4) / 5).toSeq
    assert(chunks.length === 5)
    def windows(cs: Seq[Array[RawCall]]) =
      cs.flatten.map(c => (c.user_id, c.ts.getTime / 3600000L)).toSet
    assert((windows(chunks.take(3)) intersect windows(chunks.drop(3))).size > 100,
      "too few (caller, hour) windows straddle the restart")
    val src = Files.createTempDirectory("ck-restart-src").toString
    val ck = Files.createTempDirectory("ck-restart")
    val latest = scala.collection.concurrent.TrieMap[(String, String), Row]()
    val stateConfs = if (rocksDb) RocksDbState else Nil
    // Each chunk is appended as one parquet file and drained before the
    // next. The calls span 10 hours in random order, inside the 24-hour
    // watermark, so none is late and most (caller, hour) windows take rows
    // from every chunk: the second run must resume the first run's state.
    def run(graft: Boolean, part: Seq[Array[RawCall]]): Unit = withSessionConf(
        (stateConfs :+ (ManagerConf ->
          (if (graft) classOf[LocalCheckpointFileManager].getName else SparkDefaultManager))): _*) {
      val in = spark.readStream.schema(spark.emptyDataset[RawCall].schema).parquet(src)
      val sink: (DataFrame, Long) => Unit = (df, _) =>
        df.collect().foreach(r => latest((r.getAs[String]("id_telef_origen"),
          r.getAs[String]("window_start_ts"))) = r)
      val q = enrichedOf(in).writeStream
        .outputMode("update").option("checkpointLocation", ck.toString)
        .foreachBatch(sink).start()
      try part.foreach { c =>
        c.toSeq.toDS().coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
      } finally q.stop()
    }
    run(graftFirst, chunks.take(3))
    val firstRun = names(ck.resolve("offsets")).filter(_.forall(_.isDigit))
    run(!graftFirst, chunks.drop(3))
    val allRuns = names(ck.resolve("offsets")).filter(_.forall(_.isDigit))
    // each run really wrote through the manager it was given
    assert(firstRun.size >= 3 && allRuns.size > firstRun.size)
    assert(checksummedOffsets(ck) === (if (graftFirst) allRuns -- firstRun else firstRun))

    val batch = CallsPipeline.callsEnriched(spark, tables).collect().toSeq
    assert(latest.size === batch.length)
    assert(latest.values.toSet === batch.toSet)
  }

  for (rocksDb <- Seq(false, true); graftFirst <- Seq(false, true)) {
    val (from, to) = if (graftFirst) ("graft", "Spark-default") else ("Spark-default", "graft")
    val store = if (rocksDb) "RocksDB" else "HDFS-backed"
    test(s"calls stream: a $from checkpoint restarts on the $to manager ($store state) ≡ batch") {
      restartAcrossManagers(graftFirst, rocksDb)
    }
  }

  // ---- spawn regression guard ----

  test("the calls stream starts no process on its local checkpoint over 10 micro-batches") {
    import jdk.jfr.consumer.RecordingStream
    val commands = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val rs = new RecordingStream()
    rs.enable("jdk.ProcessStart")
    rs.onEvent("jdk.ProcessStart", e => commands.add(e.getString("command")))
    rs.startAsync()
    // JFR delivers events about once a second, in order: a marker process
    // bracketing each side proves the recorder sees this JVM's processes
    // and that everything started before the marker has been delivered
    def marker(name: String): Unit = {
      new ProcessBuilder("true", name).start().waitFor()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!commands.asScala.exists(_.contains(name))) {
        assert(System.nanoTime() < deadline, s"JFR never delivered marker $name")
        Thread.sleep(50)
      }
    }
    try {
      val all = events
      val in = MemoryStream[RawCall](spark)
      val ck = Files.createTempDirectory("ck-spawn").toString
      marker("graft-spawn-guard-start")
      val q = enrichedOf(in.toDF()).writeStream
        .outputMode("update").option("checkpointLocation", ck)
        .foreachBatch(discard).start()
      try all.grouped((all.length + 9) / 10).foreach { c =>
        in.addData(c.toIndexedSeq)
        q.processAllAvailable()
      } finally q.stop()
      marker("graft-spawn-guard-stop")
      assert(q.recentProgress.count(_.numInputRows > 0) >= 10)
      // Only processes naming the checkpoint count: Spark's session
      // cleaner may fork `rm -rf` for the artifact directory of some other,
      // garbage-collected session at any moment.
      val during = commands.asScala.toSeq
        .dropWhile(!_.contains("graft-spawn-guard-start")).drop(1)
        .takeWhile(!_.contains("graft-spawn-guard-stop"))
        .filter(_.contains(ck))
      assert(during.isEmpty, s"the stream started processes: ${during.take(5)}")
    } finally rs.close()
  }
}
