package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Session-served artifacts shared across query entry points: the
  * once-per-session catalog tables that separate a BUILD cost (paid at
  * release cut / first call) from the per-call PROBE cost. The pattern
  * the served indexes (s05 IVF buckets, s08 BM25 postings, c04 release
  * artifacts) established, factored out so the graph family can serve
  * its link graph the same way.
  *
  * At 100 TB a link graph is a release artifact — cut once per crawl
  * from the fact table, written bucketed on the loop join key, probed
  * by every downstream analytic (authority rank, label spread, trust
  * distance, closure) — not a per-query re-derivation. One entry point
  * per graph family keeps the in-call ad-hoc posture measured:
  * q72 re-derives the trade graph adaptively (and its hash-equality
  * with the served consumers re-proves artifact ≡ derivation every
  * round); q61 keeps the co-purchase self-join ad-hoc.
  */
object Serving {

  /** Build a session-cached served table exactly once. If the table is
    * absent from this session's catalog, first clear the same-name
    * tables AND their warehouse directories (SaveMode.Overwrite does NOT
    * clear a stale DIRECTORY left by a previous JVM — the table isn't in
    * the new session's in-memory catalog, so saveAsTable fails with
    * LOCATION_ALREADY_EXISTS), then run `build`. Later calls (bench reps
    * 2+) hit the catalog fast path — the serving pattern these queries
    * exist to measure. */
  private val buildLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  def ensureServedTable(s: SparkSession, table: String,
      sideTables: Seq[String])(build: => Unit): Unit =
    // per-table-name lock: two concurrent first callers (parallel suites
    // sharing a warehouse, s16+s05 racing on the IVF table) would both
    // see tableExists=false and race the DROP/delete/build — the loser
    // fails with LOCATION_ALREADY_EXISTS or deletes files mid-write.
    // Artifacts are session-scoped and the build is idempotent, so a
    // JVM-wide monitor per name is sufficient; the second caller re-checks
    // under the lock and hits the catalog fast path.
    buildLocks.computeIfAbsent(table, _ => new Object).synchronized {
      ensureServedTableLocked(s, table, sideTables)(build)
    }

  private def ensureServedTableLocked(s: SparkSession, table: String,
      sideTables: Seq[String])(build: => Unit): Unit = {
    // existence = ALL of (table, sides): a build that died between the
    // main write and a side-table write must not poison the fast path
    // for the rest of the JVM (loadIvf would then throw table-not-found
    // on the side table on every call, with no retry ever healing it)
    if (!(table +: sideTables).forall(s.catalog.tableExists(_))) {
      // sweep each table's pre-md5 legacy sibling too: an upgraded
      // warehouse otherwise keeps the hashCode-named orphan on disk
      // forever (it is never read again — see legacyServedTableName)
      val sweep = (table +: sideTables).flatMap(t =>
        t +: Option(legacySiblings.get(t)).toList).distinct
      sweep.foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val wh = java.net.URI.create(s.conf.get("spark.sql.warehouse.dir")).getPath
        val stale = new java.io.File(wh, t)
        if (stale.exists()) {
          import java.nio.file.{Files, Path}
          import scala.jdk.CollectionConverters._
          val paths = Files.walk(stale.toPath).iterator().asScala.toSeq
          paths.sortBy((p: Path) => -p.getNameCount).foreach(Files.delete)
        }
      }
      try build
      catch {
        case e: Throwable =>
          // drop whatever the failed build committed, so the next call
          // retries from clean instead of serving a half-built artifact
          try (table +: sideTables).foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))
          catch { case _: Throwable => () }
          throw e
      }
    }
  }

  /** Driver-side cache of tiny frozen-artifact reads (a quantile fit's
    * breakpoints, a tokenizer's merge rules): the artifact is immutable
    * for the life of its served table and bounded by contract, so a
    * serving process holds the decoded values in memory instead of
    * paying one collect job per probe. Keyed by served-table name — the
    * name carries the sf-dir fingerprint, and rebuilds are deterministic,
    * so a cached value can never drift from the table content. */
  private val driverArtifactCache =
    new java.util.concurrent.ConcurrentHashMap[String, AnyRef]()

  def cachedArtifact[T](table: String)(read: => T): T =
    driverArtifactCache.computeIfAbsent(table,
      _ => read.asInstanceOf[AnyRef]).asInstanceOf[T]

  /** Served-table name, deterministic per sf directory. The fingerprint
    * is a 48-bit md5 prefix of the dir string — String.hashCode is 32
    * bits and a collision would silently serve one corpus's artifact
    * for another (tableExists sees the first build and skips). */
  def servedTableName(prefix: String, d: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val name = (prefix + hex).replaceAll("[^A-Za-z0-9_]", "_")
    // remember the pre-md5 name this table SUPERSEDED, so the build path
    // can sweep the orphan a pre-upgrade JVM left in the same warehouse
    legacySiblings.putIfAbsent(name, legacyServedTableName(prefix, d))
    name
  }

  /** The naming rule before the md5 fingerprint (32-bit String.hashCode).
    * An upgraded warehouse still holds artifacts under these names —
    * never read (collision-unsafe), only swept when their md5-named
    * successor is (re)built. */
  private[graft] def legacyServedTableName(prefix: String, d: String): String =
    (prefix + java.lang.Integer.toHexString(d.hashCode))
      .replaceAll("[^A-Za-z0-9_]", "_")

  private val legacySiblings =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The nation-level trade multigraph, reduced at the scan to
    * `(src, dst, n)` distinct-pair counts — the materialized link graph
    * the graph-analytics family probes (d18/d19 pageRank, d20 label
    * propagation, q60 BFS, q71 SSSP, q69 triangles). The reduction is
    * one fact-table pass (lineitem ⋈ orders ⋈ customer ⋈ supplier,
    * self-loops dropped, grouped to nation pairs) paid ONCE per session
    * at the first consumer — the bench warmup pre-pays it, so measured
    * reps are pure loop cost, the same treatment the s05/s08/c04 served
    * artifacts get. Written bucketed on `src` (every consumer's loop
    * join key), so at scale the per-iteration edge side needs no
    * exchange at all. Unweighted consumers `select(src, dst)` — the
    * grouped frame is exactly the distinct pair set.
    */
  def tradePairCounts(s: SparkSession, d: String): DataFrame =
    tradePairTable(s, d, "graft_trade_pairs_", None)

  /** The trade link graph over the BASE fact slice only (every order
    * except the `%10 == 9` arrivals) — the RELEASED artifact the
    * extend ≡ rebuild maintenance face (d23) probes. In production the
    * base leg of an incremental link-graph update is the already-reduced
    * release cut — never a fact-table re-derivation — so the maintenance
    * query's measured work is exactly what a serving loop pays: the
    * delta-slice scan plus the merge. The full-corpus oracle replay (and
    * q72's ad-hoc derive) keep artifact ≡ derivation hash-proven. */
  def tradePairCountsBase(s: SparkSession, d: String): DataFrame =
    tradePairTable(s, d, "graft_trade_base_",
      Some(pmod(col("l_orderkey"), lit(10)) =!= 9))

  private def tradePairTable(s: SparkSession, d: String, prefix: String,
      slice: Option[org.apache.spark.sql.Column]): DataFrame = {
    val table = servedTableName(prefix, d)
    ensureServedTable(s, table, Nil) {
      val ord = Tables.orders(s, d)
      val cust = Tables.customer(s, d)
      val sup = Tables.supplier(s, d)
      val pairs = slice.foldLeft(Tables.lineitem(s, d))((li, c) => li.filter(c))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey"))
        .select(col("s_nationkey").cast("long").as("src"),
          col("c_nationkey").cast("long").as("dst"))
        .filter(col("src") =!= col("dst"))
        .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      // one canonical bucketed-write recipe — Layout.writeBucketed owns
      // the one-task-per-bucket rationale; dst extends the bucket sort
      graft.ops.Layout.writeBucketed(pairs, table, Seq("src"),
        numBuckets = 8, extraSortCols = Seq("dst"))
    }
    s.table(table)
  }

  /** The session's served IVF index over `embeddings` (nCells = 16,
    * deterministic 2-iteration fit, bucketed by cell — see
    * Similarity.saveIvf for the layout story). One artifact, three
    * consumers: s05 probes it (the serving path), s12/s15 EVALUATE it
    * (recall@k / the tuning curve) — a deployment measures the index it
    * ships, not a fresh fit of its parameters; the fit's determinism
    * makes the two identical, which is exactly what keeps the s12/s15
    * oracles (they replay the fit) green against the served probes.
    * Returns the table name; load with Similarity.loadIvf. */
  def ivfIndexTable(s: SparkSession, d: String): String = {
    import graft.operators.Similarity
    val table = servedTableName("graft_ivf_s05_", d)
    ensureServedTable(s, table, Seq(s"${table}_centroids")) {
      Similarity.saveIvf(Similarity.buildIvf(Tables.embeddings(s, d), nCells = 16),
        table, numBuckets = 8)
    }
    table
  }

  /** The session's served IVF-PQ index over `embeddings` (nCells = 16,
    * PQ 4×16, same deterministic fit parameters as s14's in-call build,
    * cell-bucketed codes — see Similarity.saveIvfPq for the layout
    * story). The two-level serving artifact for corpora where even a
    * full-vector IVF bucket is too many bytes to scan per probe: the
    * probe reads 4 ints per candidate row from its cell buckets, and
    * full vectors only for the rescore. s14 keeps the in-call fit+encode
    * measured; the deterministic fit makes the served probe
    * hash-identical, so s14's fit-replaying oracle covers the served
    * query verbatim. Returns the table name; load with
    * Similarity.loadIvfPq. */
  def ivfPqIndexTable(s: SparkSession, d: String): String = {
    import graft.operators.Similarity
    val table = servedTableName("graft_ivfpq_s19_", d)
    ensureServedTable(s, table, Seq(s"${table}_centroids", s"${table}_books")) {
      Similarity.saveIvfPq(Similarity.buildIvfPq(Tables.embeddings(s, d),
        nCells = 16), table, numBuckets = 8)
    }
    table
  }

  /** The session's served BM25 inverted index over `documents`
    * (term-bucketed postings + corpus-stats side table — see
    * TextSearch.saveTextIndex for the layout story). Probed by s08 (the
    * serving path) and by s16's lexical leg (hybrid retrieval fuses the
    * indexes a deployment actually serves); s07 keeps the ad-hoc corpus
    * scan measured, and the deterministic build keeps the shared oracle
    * exact. Returns the table name; load with TextSearch.loadTextIndex. */
  def textIndexTable(s: SparkSession, d: String): String = {
    import graft.operators.TextSearch
    val table = servedTableName("graft_text_s08_", d)
    ensureServedTable(s, table, Seq(s"${table}_stats")) {
      TextSearch.saveTextIndex(
        TextSearch.buildTextIndex(Tables.documents(s, d), "doc_id", "text"),
        table, numBuckets = 8)
    }
    table
  }

  /** Per-direction served IVF indexes for bitext mining (s17): the
    * even-id "source" half and odd-id "target" half of the embedding
    * corpus, each fit and saved with the [[ivfIndexTable]] layout. A
    * mining deployment maintains one index per language and amortizes
    * the fits across mining batches — `bitextMarginMineWith` is the
    * probe face, and its streaming face (the same call inside
    * `StreamingOps.foreachBatchSink`) already rides prebuilt indexes; s02 keeps the in-call IVF fit measured. The fits
    * are deterministic, so probing the served tables is bit-identical
    * to the in-call `bitextMarginMine` and the fit-replaying oracle
    * stays exact. Returns (srcTable, tgtTable) for `loadIvf`. */
  def bitextIndexTables(s: SparkSession, d: String): (String, String) = {
    import graft.operators.Similarity
    val emb = Tables.embeddings(s, d)
    val st = servedTableName("graft_ivf_bitext_src_", d)
    val tt = servedTableName("graft_ivf_bitext_tgt_", d)
    ensureServedTable(s, st, Seq(s"${st}_centroids")) {
      Similarity.saveIvf(Similarity.buildIvf(
          emb.filter(pmod(col("vec_id"), lit(2)) === 0), nCells = 16),
        st, numBuckets = 8)
    }
    ensureServedTable(s, tt, Seq(s"${tt}_centroids")) {
      Similarity.saveIvf(Similarity.buildIvf(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1), nCells = 16),
        tt, numBuckets = 8)
    }
    (st, tt)
  }

  /** The session's served tokenizer artifact: 6 BPE merge rules trained
    * on the every-3rd-doc sample (t46's fit/transform split), stored as
    * a (step, rule) table. t45 keeps the full-corpus train measured
    * in-call; t46 encodes through the shipped rules — the
    * train-once-measure-everywhere split a tokenizer release actually
    * runs. Returned in step order, ready for Bpe.encode. */
  def bpeMergeRules(s: SparkSession, d: String): Seq[String] = {
    val table = servedTableName("graft_bpe_rules_", d)
    ensureServedTable(s, table, Nil) {
      graft.operators.Bpe.trainMerges(s,
          Tables.documents(s, d)
            .filter(pmod(col("doc_id"), lit(3)) === 0).select(col("text")), k = 6)
        .write.format("parquet").saveAsTable(table)
    }
    cachedArtifact(table) {
      s.table(table).orderBy(col("step")).collect().map(_.getString(1)).toSeq
    }
  }

  /** The part co-purchase graph: `(src, dst, n_orders)` support counts
    * over part pairs sharing an order (src < dst canonical), the same
    * self-equi-join q61 measures ad-hoc — served here for q70's k-core
    * peel, which only re-reads the graph, never the fact table. Bucketed
    * on `src` like [[tradePairCounts]]; consumers filter on support
    * (q70: `n_orders >= 2`), which prunes at the artifact scan. */
  def copurchasePairCounts(s: SparkSession, d: String): DataFrame = {
    val table = servedTableName("graft_copurchase_", d)
    ensureServedTable(s, table, Nil) {
      val pairs = graft.operators.Baskets.copurchasePairs(
          Tables.lineitem(s, d), "l_orderkey", "l_partkey")
        .select(col("item_a").as("src"), col("item_b").as("dst"),
          col("n_baskets").as("n_orders"))
      graft.ops.Layout.writeBucketed(pairs, table, Seq("src"),
        numBuckets = 8, extraSortCols = Seq("dst"))
    }
    s.table(table)
  }
}
