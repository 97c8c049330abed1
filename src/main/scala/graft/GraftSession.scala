package graft

import org.apache.spark.sql.SparkSession
import org.slf4j.LoggerFactory
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
  *   - `spark.sql.extensions` = [[GraftExtensions]] ([[ExtensionsConf]]),
  *     which also injects `graft.streaming.StaticBroadcastReuse`: a
  *     stream-static join builds and broadcasts its static side once per
  *     query run instead of once per micro-batch. On the calls stream that
  *     removes one job, its 1-task stage and the driver-side relation build
  *     from every trigger. Batch plans are untouched. The key is a static
  *     conf read when a session is built, so `create` warns when it gets
  *     back a session built without it.
  *   - streaming checkpoints on a local disk written through `java.nio`
  *     (`graft.streaming.LocalCheckpointFileManager`): Spark's default
  *     manager writes them through Hadoop's `RawLocalFileSystem`, which
  *     forks a `chmod` or `readlink` process for most files — about 50 per
  *     micro-batch of the calls stream, some 30% of its trigger time. The
  *     manager is set unconditionally and covers offset and commit logs,
  *     state store files, state checksums and file-sink logs. It leaves
  *     every non-`file:` scheme (HDFS, S3, ABFS) to the manager Spark
  *     itself would choose.
  *   - a codegen cache that holds graft's whole query surface
  *     (`spark.sql.codegen.cache.maxEntries` = [[CodegenCacheEntries]]):
  *     Spark keeps compiled whole-stage classes, projections and predicates
  *     in an LRU cache of 100 entries by default, and one pass over the 14
  *     queries of the benchmark board alone generates about 260 classes. At
  *     100 the cache thrashes and every call recompiles its code in Janino;
  *     at this size each generated class compiles once per JVM. The size
  *     rule: the distinct classes one pass over all 173 queries compiles
  *     (2,652 at sf0.01, 2,664 at sf0.1; the larger counts), with at least
  *     1.5× headroom, rounded up to a power of two. The cache is bounded by
  *     entry count, so its memory is bounded too: about 9 KB of metaspace
  *     per entry, 181 → 205 MB committed over the full surface at sf0.01.
  *     A stream that compiles a new class on every trigger fills the cache
  *     and then evicts; it cannot grow past the bound. The key is a static
  *     conf that Spark reads once per JVM, when it first compiles anything,
  *     so `create` warns when it gets back a session built without this
  *     value.
  *
  * The streaming state store is left to the caller. Spark's default
  * `HDFSBackedStateStoreProvider` keeps every key in executor heap: fine
  * for test-sized topologies, an OOM source once `latestPerKey` or
  * `streamingLshNearDup` state grows to hundreds of millions of keys. In
  * production set `spark.sql.streaming.stateStore.providerClass` to
  * `org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider`
  * and `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled`
  * to `true`: RocksDB spills to local disk (reference analogue: Kafka
  * Streams' RocksDB state stores, CallsAggregationApp.java:58).
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

  /** The static conf Spark reads session extensions from; `builder` sets
    * it to [[GraftExtensions]]. */
  val ExtensionsConf = "spark.sql.extensions"

  /** The static conf that sizes Spark's generated-class cache; `builder`
    * sets it to [[CodegenCacheEntries]]. */
  val CodegenCacheConf = "spark.sql.codegen.cache.maxEntries"

  /** Distinct generated classes of one pass over every query, with at least
    * 1.5× headroom, rounded up to a power of two (see the object doc). */
  val CodegenCacheEntries = 4096

  private val log = LoggerFactory.getLogger(getClass)

  def builder(appName: String = "graft", master: Option[String] = None,
      shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config(CheckpointFileManagerConf, classOf[LocalCheckpointFileManager].getName)
      .config(CodegenCacheConf, CodegenCacheEntries.toString)
      .config(ExtensionsConf, classOf[GraftExtensions].getName)
    master.foreach(b.master)
    shufflePartitions.foreach(n => b.config("spark.sql.shuffle.partitions", n.toString))
    b
  }

  /** Build + register the graft SQL functions. */
  def create(appName: String = "graft", master: Option[String] = None,
      shufflePartitions: Option[Int] = None): SparkSession = {
    val s = builder(appName, master, shufflePartitions).getOrCreate()
    // an existing session keeps the static confs it was built with
    if (s.conf.get(CodegenCacheConf) != CodegenCacheEntries.toString)
      log.warn(s"$CodegenCacheConf is ${s.conf.get(CodegenCacheConf)} on the existing session, " +
        s"not graft's $CodegenCacheEntries: generated classes recompile once the cache fills")
    if (!s.conf.getOption(ExtensionsConf).exists(_.split(',').map(_.trim)
        .contains(classOf[GraftExtensions].getName)))
      log.warn(s"$ExtensionsConf on the existing session does not name ${classOf[GraftExtensions].getName}: " +
        "a stream-static join rebuilds its broadcast on every micro-batch")
    GraftExtensions.register(s)
    s
  }
}
