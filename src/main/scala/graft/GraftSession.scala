package graft

import org.apache.spark.sql.SparkSession
import graft.streaming.LocalCheckpointFileManager

/** Opinionated session builder for the engine — the configuration a
  * 100 TB deployment wants, pre-wired:
  *
  *   - AQE on (default in Spark 4) with skew-join splitting and partition
  *     coalescing: runtime re-planning replaces hand-tuned partition
  *     counts; `shufflePartitions` is the *upper bound* AQE coalesces from,
  *     so size it to cluster cores, not data volume.
  *   - UTC session timezone: the reference's SimpleDateFormat used JVM-local
  *     time (CallCustomerJoiner.java:33); pinning UTC makes window bounds
  *     and formatted timestamps deterministic across clusters.
  *   - graft SQL functions registered (GraftExtensions), so spark.sql and
  *     the Column API expose the same surface.
  *   - streaming checkpoints on a local disk written through `java.nio`
  *     (`graft.streaming.LocalCheckpointFileManager`): Spark's default
  *     manager writes them through Hadoop's `RawLocalFileSystem`, which
  *     forks a `chmod` or `readlink` process for most files — about 50 per
  *     micro-batch of the calls stream, some 30% of its trigger time. The
  *     manager is set unconditionally and covers offset and commit logs,
  *     state store files, state checksums and file-sink logs. It leaves
  *     every non-`file:` scheme (HDFS, S3, ABFS) to the manager Spark
  *     itself would choose.
  *
  * `spark.sql.files.maxPartitionBytes` (default 128 MB) is deliberately
  * untouched: with codegen'd per-row kernels the scan is CPU-balanced at
  * the default split size; lower it only when decode-heavy multimodal
  * columns make splits CPU-bound.
  */
object GraftSession {

  /** The session conf Spark reads its streaming checkpoint file manager
    * class from; `builder` sets it to `LocalCheckpointFileManager`. */
  val CheckpointFileManagerConf = "spark.sql.streaming.checkpointFileManagerClass"

  def builder(appName: String = "graft", master: Option[String] = None,
      shufflePartitions: Option[Int] = None,
      rocksDbState: Boolean = false): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config(CheckpointFileManagerConf, classOf[LocalCheckpointFileManager].getName)
    // Streaming state at scale: the default HDFSBackedStateStoreProvider
    // keeps every key in executor heap — fine for the test-sized topologies
    // here, an OOM source once latestPerKey/streamingLshNearDup state grows
    // to hundreds of millions of keys. RocksDB spills to local disk with
    // changelog checkpointing, the production setting (reference analogue:
    // Kafka Streams' RocksDB state stores, CallsAggregationApp.java:58).
    if (rocksDbState) {
      b.config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      b.config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
    }
    master.foreach(b.master)
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n.toString))
    b
  }

  /** Build + register the graft SQL functions. */
  def create(appName: String = "graft", master: Option[String] = None,
      shufflePartitions: Option[Int] = None): SparkSession = {
    val s = builder(appName, master, shufflePartitions).getOrCreate()
    GraftExtensions.register(s)
    s
  }
}
