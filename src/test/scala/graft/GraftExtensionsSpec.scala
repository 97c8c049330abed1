package graft

import org.apache.spark.sql.SparkSession

/** The SQL function surface must plan the same expressions as the Scala
  * API — checked by running each function through spark.sql and comparing
  * against the Column-API result on the same input.
  */
class GraftExtensionsSpec extends SparkTestBase {

  private lazy val s: SparkSession = { GraftExtensions.register(spark); spark }

  test("graft functions are callable from SQL and match the Column API") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions

    s.createDataFrame(Seq(Tuple1("the quick brown fox jumps over the lazy dog")))
      .toDF("text").createOrReplaceTempView("t")

    val sqlRow = s.sql(
      """SELECT graft_hash60(text) AS h,
        |       size(graft_tokens(text)) AS nt,
        |       graft_word_shingles(text, 3) AS sh3,
        |       size(graft_shingle_hashes(text, 3)) AS nsh,
        |       graft_fingerprint(graft_tokens(text)) AS fp,
        |       graft_simhash32(graft_tokens(text)) AS sim
        |FROM t""".stripMargin).collect().head

    val apiRow = s.table("t").select(
      TextFunctions.hash60(col("text")).as("h"),
      TextFunctions.tokenCount(col("text")).as("nt"),
      TextFunctions.wordShingles(col("text"), 3).as("sh3"),
      size(graft.expressions.TextExpressions.shingleHashes(col("text"), 3)).as("nsh"),
      TextFunctions.fingerprint(col("text")).as("fp"),
      TextFunctions.simhash32(col("text")).as("sim")).collect().head

    assert(sqlRow.toSeq === apiRow.toSeq)
  }

  test("graft_dot and graft_sorted_intersect_count from SQL") {
    val r = s.sql(
      """SELECT graft_dot(array(cast(1.5 as float), cast(2.0 as float)),
        |                 array(cast(2.0 as float), cast(0.5 as float))) AS d,
        |       graft_sorted_intersect_count(array(1L, 3L, 5L, 9L),
        |                                    array(2L, 3L, 9L, 11L)) AS ic""".stripMargin)
      .collect().head
    assert(r.getDouble(0) === 4.0)
    assert(r.getLong(1) === 2L)
  }

  test("graft_zorder from SQL matches the kernel") {
    val r = s.sql("SELECT graft_zorder(3L, 0L, 2) AS a, graft_zorder(0L, 3L, 2) AS b, " +
        "graft_zorder(41L, 1017L, 16) AS c")
      .collect().head
    assert(r.getLong(0) === 10L && r.getLong(1) === 5L)
    assert(r.getLong(2) === graft.expressions.BitKernels.interleave(41L, 1017L, 16))
  }

  test("graft_ngram_repetition and graft_dot_i8 from SQL match the Column API") {
    import org.apache.spark.sql.functions._
    val r = s.sql(
      """SELECT graft_ngram_repetition('dup a dup b c', 1) AS r1,
        |       graft_dot_i8(array(CAST(3 AS TINYINT), CAST(-2 AS TINYINT)),
        |                    array(CAST(5 AS TINYINT), CAST(7 AS TINYINT))) AS d""".stripMargin)
      .collect().head
    assert(r.getSeq[Long](0) === Seq(5L, 4L, 2L))
    assert(r.getLong(1) === (3L * 5 - 2L * 7))
    val api = s.createDataFrame(Seq(Tuple1("dup a dup b c"))).toDF("text")
      .select(graft.functions.TextFunctions.ngramRepetition(col("text"), 1))
      .collect().head.getSeq[Long](0)
    assert(api === r.getSeq[Long](0))
  }

  test("graft_top_k aggregates from SQL with (score desc, id asc) order") {
    val r = s.sql(
      """SELECT g, graft_top_k(CAST(sc AS DOUBLE), id, 2) AS top
        |FROM VALUES (1, 10L, 5L), (1, 11L, 9L), (1, 12L, 9L), (2, 20L, 1L) AS t(g, id, sc)
        |GROUP BY g ORDER BY g""".stripMargin).collect()
    val g1 = r(0).getSeq[org.apache.spark.sql.Row](1)
    assert(g1.map(x => (x.getLong(0), x.getDouble(1))) === Seq((11L, 9.0), (12L, 9.0)))
    assert(r(1).getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0)) === Seq(20L))
    // int score/id coerce via the declared input types instead of a
    // mid-stage ClassCastException
    val cast = s.sql(
      "SELECT graft_top_k(sc, id, 1) AS top FROM VALUES (1, 5), (2, 9) AS t(id, sc)")
      .collect().head.getSeq[org.apache.spark.sql.Row](0)
    assert(cast.map(_.getLong(0)) === Seq(2L))
  }

  test("extensions class wires the same registry via spark.sql.extensions") {
    // The config path can't be exercised on the already-built shared session;
    // assert the injection list itself is the single source both paths use.
    // The full current surface is pinned as a REQUIRED SUBSET: deleting or
    // renaming any registration fails here, while adding a new function
    // doesn't (additions can't silently rot this spec; update the list
    // when you add one so its deletion is caught too).
    val required = Set(
      "graft_hash60", "graft_tokens", "graft_word_shingles", "graft_shingle_hashes",
      "graft_sorted_intersect_count", "graft_fingerprint", "graft_simhash32",
      "graft_dot", "graft_top_k", "graft_kmv", "graft_kmv_mins", "graft_quantiles",
      "graft_ngram_repetition", "graft_dot_i8", "graft_dedup_lines_in_doc",
      "graft_ngram_list", "graft_deflate_len", "graft_deletion_variants")
    val names = GraftExtensions.functions.map(_._1)
    assert(names.distinct === names, "duplicate function names in registry")
    assert(names.forall(_.startsWith("graft_")), "registry names must be graft_-prefixed")
    val missing = required -- names.toSet
    assert(missing.isEmpty, s"registry lost functions: $missing")
    // every registered name resolves in SQL on the shared session
    names.foreach { n =>
      assert(s.catalog.functionExists(n), s"$n not resolvable via catalog")
    }
    new GraftExtensions() // constructible for spark.sql.extensions
  }

  test("graft_quantiles rejects fractional input instead of silently truncating") {
    import spark.implicits._
    // the former implicit double->long cast made the median of
    // [0.2, 0.4, 0.9] read 0 with no error; integral inputs still widen
    import org.apache.spark.sql.functions.col
    Seq(0.2, 0.4, 0.9).toDF("v").createOrReplaceTempView("qh_frac")
    val ex = intercept[Exception] {
      spark.sql("SELECT graft_quantiles(v, 500) FROM qh_frac").collect()
    }
    assert(ex.getMessage.contains("integral"),
      s"expected the integral-input diagnostic, got: ${ex.getMessage.take(200)}")
    Seq(1, 2, 9).toDF("v").createOrReplaceTempView("qh_int")
    val got = spark.sql("SELECT graft_quantiles(v, 500).qs[0] FROM qh_int")
      .head().getLong(0)
    assert(got === 2L)
  }

  test("graft_bloom build + probe from SQL match the Column API") {
    import org.apache.spark.sql.functions._
    val df = s.range(1, 100).toDF("k")
    df.createOrReplaceTempView("bloom_keys")
    val sqlBlob = s.sql("SELECT graft_bloom(k, 1024, 4) AS b FROM bloom_keys")
      .collect().head.getAs[Array[Byte]](0)
    val apiBlob = df.agg(graft.expressions.BloomFilterBuild.bloom(col("k"), 1024, 4))
      .collect().head.getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(sqlBlob, apiBlob))
    val probes = s.sql(
      """SELECT graft_bloom_might_contain(b, 50L) AS hit,
        |       graft_bloom_might_contain(b, CAST(NULL AS BIGINT)) AS nul
        |FROM (SELECT graft_bloom(k, 1024, 4) AS b FROM bloom_keys)""".stripMargin)
      .collect().head
    assert(probes.getBoolean(0) === true && probes.isNullAt(1))
  }

  test("graft_pii_stats, graft_pii_scrub, graft_domain_of from SQL match the Column API") {
    import org.apache.spark.sql.functions._
    val text = "mail me@x.org or 10.0.0.1 maybe +34-600-111-222 ok"
    val url = "HTTPS://www.Example.COM:8080/a?b=1"
    val r = s.sql(
      s"""SELECT graft_pii_stats('$text') AS p,
         |       graft_pii_scrub('$text') AS sc,
         |       graft_domain_of('$url') AS dom""".stripMargin).collect().head
    val api = s.createDataFrame(Seq((text, url))).toDF("text", "url")
      .select(graft.functions.TextFunctions.piiStats(col("text")),
        graft.functions.TextFunctions.scrubPii(col("text")),
        graft.operators.Domains.domainOf(col("url")))
      .collect().head
    assert(r.getSeq[Long](0) === Seq(1L, 1L, 1L))
    assert(r.getSeq[Long](0) === api.getSeq[Long](0))
    assert(r.getString(1) === api.getString(1))
    assert(r.getString(2) === "example.com" && r.getString(2) === api.getString(2))
  }

  test("GraftSession wires tuned confs and the SQL surface") {
    val gs = GraftSession.create(master = Some("local[4]"))
    assert(gs.conf.get("spark.sql.adaptive.enabled") === "true")
    assert(gs.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
    assert(gs.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(gs.conf.get(GraftSession.CheckpointFileManagerConf) ===
      classOf[graft.streaming.LocalCheckpointFileManager].getName)
    assert(gs.conf.get(GraftSession.CodegenCacheConf) === GraftSession.CodegenCacheEntries.toString)
    assert(gs.conf.get(GraftSession.ExtensionsConf) === classOf[GraftExtensions].getName)
    assert(gs.sql("SELECT graft_hash60('x') AS h").collect().head.getLong(0) > 0L)
  }
}
