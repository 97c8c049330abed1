package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite (lazy, UTC, small shuffle fan-out). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session

  /** Run `body` with the given SQL confs set on the shared session, then
    * restore each key's previous value — or unset it when it had no
    * explicit value, so later specs see the session default. */
  def withSessionConf[T](confs: (String, String)*)(body: => T): T = {
    val explicit = spark.conf.getAll
    val prev = confs.map { case (k, _) => k -> explicit.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      body
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The production state store, RocksDB with changelog checkpointing, as
    * the confs that select it (pass to [[withSessionConf]]). */
  val RocksDbState: Seq[(String, String)] = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Jobs dispatched by `f` on this thread, counted by the timing
    * harness's job-group mechanism ([[Bench.jobsDuring]]). */
  def jobsDuring[T](f: => T): (T, Int) = {
    val (out, census) = Bench.jobsDuring(spark.sparkContext)(f)
    (out, census.jobs.size)
  }

  /** Customer rows for `keys` in the `customer` table's layout. */
  def customerRows(keys: Seq[Long]): org.apache.spark.sql.DataFrame = {
    val s = spark
    import s.implicits._
    keys.map(k => (k, s"Customer#$k", (k % 5).toInt, k * 10.5,
        Seq("AUTOMOBILE", "BUILDING", "MACHINERY")((k % 3).toInt)))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment").coalesce(1)
  }

  /** A calls table and a customer table in the layout `graft.Tables`
    * reads, in a new directory: 1,000 calls of 15 callers over 10 hours,
    * drawn from `seed`, and customers for 12 of the callers, so the
    * enrichment also null-defaults misses. */
  def callsTables(seed: Int): String = {
    val s = spark
    import s.implicits._
    val d = java.nio.file.Files.createTempDirectory("calls-tables").toString
    val rnd = new scala.util.Random(seed)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    Seq.fill(1000)(RawCall(new java.sql.Timestamp(t0 + rnd.nextLong(10L * 3600 * 1000)),
        1L + rnd.nextInt(15), rnd.nextInt(32000) / 100.0))
      .toDS().coalesce(1).write.parquet(s"$d/events.parquet")
    customerRows(1L to 12L).write.parquet(s"$d/customer.parquet")
    d
  }

  /** `df` plans under the session's AQE and reads a cached frame: the
    * physical plan is an `AdaptiveSparkPlan` over `InMemoryTableScan`. */
  def readsCacheAdaptively(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan.collectFirst {
          case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
        }.isDefined
      case _ => false
    }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the checkpoint manager, codegen cache and extensions every
      // GraftSession runs on
      .config(GraftSession.CheckpointFileManagerConf,
        classOf[graft.streaming.LocalCheckpointFileManager].getName)
      .config(GraftSession.CodegenCacheConf, GraftSession.CodegenCacheEntries.toString)
      .config(GraftSession.ExtensionsConf, classOf[GraftExtensions].getName)
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
