package graft

import org.apache.spark.sql.functions._
import graft.queries.Serving

/** The served link-graph artifacts (queries/Serving.scala): built once
  * per session, and content-identical to the in-call ad-hoc derivation
  * the q72/q61 cross-check entries keep measured. */
class ServingSpec extends SparkTestBase {

  private val dir = "/root/testdata/sf0.001"

  test("tradePairCounts equals the ad-hoc fact-table derivation") {
    val served = Serving.tradePairCounts(spark, dir)
    val ord = Tables.orders(spark, dir)
    val cust = Tables.customer(spark, dir)
    val sup = Tables.supplier(spark, dir)
    val adhoc = Tables.lineitem(spark, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_nationkey").cast("long").as("src"),
        col("c_nationkey").cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
    assert(served.count() > 0)
    assert(served.exceptAll(adhoc).isEmpty && adhoc.exceptAll(served).isEmpty)
  }

  test("copurchasePairCounts equals the ad-hoc self-join derivation") {
    val served = Serving.copurchasePairCounts(spark, dir)
    val op = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val a = op.select(col("l_orderkey"), col("l_partkey").as("src"))
    val b = op.select(col("l_orderkey").as("__ok"), col("l_partkey").as("dst"))
    val adhoc = a.join(b, col("l_orderkey") === col("__ok") && col("src") < col("dst"))
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n_orders"))
    assert(served.count() > 0)
    assert(served.exceptAll(adhoc).isEmpty && adhoc.exceptAll(served).isEmpty)
  }

  test("rebuild sweeps the pre-md5 legacy artifact out of the warehouse") {
    import spark.implicits._
    // the md5 rename orphaned every artifact the old 32-bit-hashCode
    // naming left on disk; a (re)build of the successor must drop the
    // legacy sibling instead of leaking it forever
    val d = "/tmp/graft-legacy-sweep-probe"
    val prefix = "graft_test_legacy_"
    val legacy = Serving.legacyServedTableName(prefix, d)
    val name = Serving.servedTableName(prefix, d)
    assert(name !== legacy)
    spark.sql(s"DROP TABLE IF EXISTS $name")
    Seq((1L, 2L)).toDF("a", "b").write.mode("overwrite").saveAsTable(legacy)
    assert(spark.catalog.tableExists(legacy))
    Serving.ensureServedTable(spark, name, Nil) {
      Seq((1L, 1L)).toDF("x", "y").write.saveAsTable(name)
    }
    assert(spark.catalog.tableExists(name))
    assert(!spark.catalog.tableExists(legacy),
      "legacy hashCode-named orphan survived the successor's build")
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("recallAtKWith over the served IVF index equals the in-call fit") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    val t = Serving.ivfIndexTable(spark, dir)
    val served = Similarity.recallAtKWith(Similarity.loadIvf(spark, t),
      emb, q, k = 3, nprobe = 2).collect()
    val adhoc = Similarity.recallAtK(emb, q, k = 3, nCells = 16, nprobe = 2).collect()
    assert(served.toSeq === adhoc.toSeq)
  }

  test("served IVF-PQ probe equals the in-call fit+encode") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val q = emb.filter(col("vec_id") < 5)
    val t = Serving.ivfPqIndexTable(spark, dir)
    val served = Similarity.ivfPqKnnWith(Similarity.loadIvfPq(spark, t),
      emb, q, k = 3, nprobe = 2, coarseK = 10)
      .orderBy(col("query_id"), col("rank")).collect()
    val adhoc = Similarity.ivfPqKnn(emb, q, k = 3, nCells = 16,
      nprobe = 2, coarseK = 10)
      .orderBy(col("query_id"), col("rank")).collect()
    assert(served.nonEmpty && served.toSeq === adhoc.toSeq)
  }

  test("IVF, PQ and IVF-PQ share one k-means fit: same centroids, same cells") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    // the s20 base drops vec_id 9, so its init ids are not contiguous and
    // cells must map back from book positions to cids
    val filtered = emb.filter(pmod(col("vec_id"), lit(10)) =!= 9)
    val (nCells, iters, sampleMod) = (16, 2, 7)
    def frameRows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("cid")).collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toSeq
    for (corpus <- Seq(emb, filtered)) {
      val km = frameRows(Similarity.kmeansCentroids(corpus, nCells, iters, sampleMod))
      val ivf = Similarity.buildIvf(corpus, nCells, iters, sampleMod)
      val pq = Similarity.buildIvfPq(corpus, nCells = nCells, iters = iters,
        sampleMod = sampleMod)
      val pqCent = pq.cent.map { case (cid, v) => cid -> v.toSeq }
      assert(pqCent.nonEmpty)
      assert(km === pqCent)
      assert(frameRows(ivf.centroids) === pqCent)
      val cells = ivf.assigned.select(col("vec_id"), col("cell"))
      val codeCells = pq.codes.select(col("vec_id"), col("cell"))
      assert(cells.count() === corpus.count())
      assert(cells.exceptAll(codeCells).isEmpty && codeCells.exceptAll(cells).isEmpty)
    }
    assert(frameRows(Similarity.kmeansCentroids(filtered, nCells, iters, sampleMod))
      .map(_._1) === (0 until nCells).filter(_ != 9))
  }

  test("extendIvfPq equals encoding the union under the frozen artifacts") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val base = emb.filter(col("vec_id") % 3 =!= 0)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val baseIx = Similarity.buildIvfPq(base, nCells = 8)
    val extended = Similarity.extendIvfPq(baseIx, delta)
    // the frozen-artifact contract: extension == one encode pass of the
    // union against the BASE fit (never a refit — that asymmetry is the
    // documented add-without-retrain trade)
    val frozenUnion = Similarity.extendIvfPq(
      Similarity.IvfPqIndex(baseIx.codes.limit(0), baseIx.cent, baseIx.model),
      base.unionByName(delta)).codes
    assert(extended.codes.exceptAll(frozenUnion).isEmpty &&
      frozenUnion.exceptAll(extended.codes).isEmpty)
    // and probing the extended index still returns exact ranks over the
    // union's coded corpus
    val q = emb.filter(col("vec_id") < 3)
    assert(Similarity.ivfPqKnnWith(extended, emb, q,
      k = 3, nprobe = 2, coarseK = 10).count() > 0)
  }

  test("extending an unfitted index fails loudly instead of dropping the delta") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, dir)
    val none = emb.limit(0)
    val delta = emb.filter(col("vec_id") < 5)
    // an index cut from an empty corpus has no centroids/codebooks: the
    // delta can neither be assigned nor encoded, and a silent
    // return-the-base would serve an index missing every new vector
    val ivf = Similarity.buildIvf(none, nCells = 8)
    val exIvf = intercept[IllegalArgumentException] {
      Similarity.extendIvf(ivf, delta)
    }
    assert(exIvf.getMessage.contains("no fitted centroids"))
    val ivfPq = Similarity.buildIvfPq(none, nCells = 8)
    val exPq = intercept[IllegalArgumentException] {
      Similarity.extendIvfPq(ivfPq, delta)
    }
    assert(exPq.getMessage.contains("no fitted centroids"))
  }

  test("building over a non-empty corpus that fits zero cells fails loudly") {
    import graft.operators.Similarity
    // k-means init takes vectors with vec_id < nCells; a corpus whose ids
    // all sit above that fits NOTHING, and the assignment join would then
    // silently drop every vector from the index — the build must reject
    val high = Tables.embeddings(spark, dir).filter(col("vec_id") >= 8)
    val exIvf = intercept[IllegalArgumentException] {
      Similarity.buildIvf(high, nCells = 4)
    }
    assert(exIvf.getMessage.contains("fitted 0 of 4 cells"))
    val exPq = intercept[IllegalArgumentException] {
      Similarity.buildIvfPq(high, nCells = 4)
    }
    assert(exPq.getMessage.contains("fitted 0 of 4 cells"))
    // the per-subspace twin: coarse fit succeeds (ids < nCells exist)
    // while a codebook fits nothing (no id < nCodes) — must be the
    // crafted diagnostic, not pqAssign's bare non-empty-codebook require
    val mid = Tables.embeddings(spark, dir)
      .filter(col("vec_id") >= 4 && col("vec_id") < 16)
    val exBook = intercept[IllegalArgumentException] {
      Similarity.buildIvfPq(mid, nCells = 16, nCodes = 4)
    }
    assert(exBook.getMessage.contains("codewords in a subspace"),
      s"wrong diagnostic: ${exBook.getMessage.take(160)}")
  }

  test("saveIvf evicts the cached cell count — a same-name rebuild serves the new capacity") {
    import graft.operators.Similarity
    import org.apache.spark.sql.SaveMode
    val emb = Tables.embeddings(spark, dir).filter(col("vec_id") < 16)
    val t = "graft_ivf_evict_spec"
    Similarity.saveIvf(Similarity.buildIvf(emb, nCells = 4), t,
      numBuckets = 2, mode = SaveMode.Overwrite)
    assert(Similarity.loadIvf(spark, t).nCells === 4)
    // rebuild under the SAME name with a different cell count: loadIvf
    // must serve the rebuilt capacity, not the stale cached one (a stale
    // count lets recallSweepWith derive "exhaustive" truth from a
    // non-exhaustive probe)
    Similarity.saveIvf(Similarity.buildIvf(emb, nCells = 2), t,
      numBuckets = 2, mode = SaveMode.Overwrite)
    assert(Similarity.loadIvf(spark, t).nCells === 2)
  }

  test("a failed build does not poison the served-table fast path") {
    import spark.implicits._
    // build dies AFTER committing the main table: the next call must see
    // an incomplete artifact (side table missing), clean up, and rebuild
    // — not serve the half-built one for the rest of the JVM
    import org.apache.spark.sql.SaveMode
    val t = "graft_halfbuild_spec"
    intercept[RuntimeException] {
      Serving.ensureServedTable(spark, t, Seq(s"${t}_side")) {
        Seq((1L, "x")).toDF("id", "v").write
          .mode(SaveMode.Overwrite).saveAsTable(t)
        throw new RuntimeException("simulated mid-build crash")
      }
    }
    // retry with a complete build: both tables come up
    Serving.ensureServedTable(spark, t, Seq(s"${t}_side")) {
      Seq((1L, "x")).toDF("id", "v").write
        .mode(SaveMode.Overwrite).saveAsTable(t)
      Seq((2L, "y")).toDF("id", "v").write
        .mode(SaveMode.Overwrite).saveAsTable(s"${t}_side")
    }
    assert(spark.catalog.tableExists(t) && spark.catalog.tableExists(s"${t}_side"))
    assert(spark.table(s"${t}_side").count() === 1L)
  }

  test("bpeMergeRules is stable across calls and non-empty") {
    val r1 = Serving.bpeMergeRules(spark, dir)
    val r2 = Serving.bpeMergeRules(spark, dir)
    assert(r1.size === 6 && r1 === r2)
  }

  test("second call is a catalog hit — same table, no rebuild") {
    // self-sufficient: build (or catalog-hit) once first, so the test
    // does not depend on suite ordering
    Serving.tradePairCounts(spark, dir).count()
    val t = Serving.servedTableName("graft_trade_pairs_", dir)
    assert(spark.catalog.tableExists(t))
    // a rebuild rewrites the warehouse files; a catalog hit must not
    // touch them — pin via file modification times, which a same-content
    // rebuild would still bump
    def fileStamps(): Map[String, Long] = {
      val wh = java.net.URI.create(
        spark.conf.get("spark.sql.warehouse.dir")).getPath
      val root = new java.io.File(wh, t)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val before = fileStamps()
    assert(before.nonEmpty)
    assert(Serving.tradePairCounts(spark, dir).count() > 0)
    assert(fileStamps() === before, "second call must not rewrite the artifact")
  }

  test("cold-session recovery: a fresh JVM re-serves the release hash-identically") {
    // Restart survival of the WHOLE artifact lifecycle, end to end: the
    // warm session cuts every served artifact (release digest/band/fit
    // frames for c04, the s05 IVF buckets, the s08 BM25 postings, both
    // legs of s16's hybrid fusion, the s19 IVF-PQ coded corpus +
    // centroid/codebook side tables) and hashes the served results; then a
    // SECOND, fully isolated JVM — fresh in-memory catalog, nothing but
    // the warehouse directory on disk, the crashed-ingestion-driver
    // scenario — runs the same queries. ensureServedTable must walk its
    // stale-directory path (the dead JVM's files are on disk but absent
    // from the new catalog), rebuild deterministically, and serve
    // byte-identical results. One hash mismatch = the release a restarted
    // server ships differs from the one the dead server was serving.
    val sf = "/root/testdata/sf0.01"
    val names = Seq("c04_curation_delta_served", "s05_knn_ivf_served",
      "s08_bm25_served", "s16_hybrid_rrf", "s19_knn_ivfpq_served")
    val warm = names.map { n =>
      n -> ColdServe.resultHash(SparkEntry.queries(n)(spark, sf))
    }.toMap
    assert(warm.values.toSet.size === names.size, "warm hashes must be distinct")
    val warehouse = java.net.URI.create(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    val javaBin = new java.io.File(new java.io.File(
      System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = (Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx2g", "-cp", System.getProperty("java.class.path"),
      "graft.ColdServe", sf, warehouse, names.mkString(","))).toArray
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    val exit = proc.waitFor()
    assert(exit === 0, s"cold JVM failed (exit $exit):\n${out.takeRight(4000)}")
    val cold = out.linesIterator.collect {
      case l if l.startsWith("COLDSERVE ") =>
        val Array(_, n, h) = l.trim.split(' '); n -> h
    }.toMap
    names.foreach { n =>
      assert(cold.get(n).contains(warm(n)),
        s"$n: cold-session hash ${cold.get(n)} != warm ${warm(n)}")
    }
  }
}
