package graft

/** Each generated class compiles once per JVM: with the codegen cache
  * `GraftSession` sizes, a second pass over the benchmark board compiles
  * nothing. Spark's default 100-entry cache holds less than one pass. */
class CodegenCacheSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  /** The benchmark board: every 12th of the oracle-checked queries outside
    * the c0* pipelines, in name order. */
  private val board = Seq(
    "d01_exact_dedup", "d13_component_sizes", "m02_media_features", "q17_rollup",
    "q29_distinct_sketch", "q41_skew_report", "q53_activity_islands", "q65_revenue_share",
    "r03_tumbling_agg", "s08_bm25_served", "s20_ivfpq_delta", "t12_quality_buckets",
    "t24_dup_spans", "t36_hll_sketch")

  /** Classes one pass over the board compiles; each call is swept of the
    * blocks it left cached, as a timed rep is. */
  private def pass(): Long = {
    val before = Bench.compiles
    val timer = new Bench.Timer(spark, reps = 1, census = false)
    assert(timer.warm(board.map(n => n -> (() => SparkEntry.queries(n)(spark, sf)))))
    Bench.compiles - before
  }

  test("a second pass over the board compiles no generated class") {
    assert(spark.conf.get(GraftSession.CodegenCacheConf) === GraftSession.CodegenCacheEntries.toString)
    val first = pass()
    val second = pass()
    assert(second === 0L, s"pass 1 compiled $first classes")
  }
}
