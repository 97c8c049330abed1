package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.Graphs

/** The timing core the board and ScaleCurve share: job count, census,
  * warm pass. */
class BenchSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private def triangle = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
  private def timer(census: Boolean = false) = new Bench.Timer(spark, reps = 2, census)

  test("median of an even count averages the two middle values") {
    assert(Bench.median(Seq(1.0, 3.0)) === 2.0)
    assert(Bench.median(Seq(4.0, 1.0, 3.0, 2.0)) === 2.5)
  }

  test("median of an odd count is the middle value") {
    assert(Bench.median(Seq(5.0, 1.0, 3.0)) === 3.0)
    assert(Bench.median(Seq(7.0)) === 7.0)
  }

  test("a one-scan query counts exactly one job per rep") {
    val t = timer().measure("scan", () => Tables.orders(spark, sf), "spec")
    assert(t.failed === 0)
    assert(t.jobs === 1)
    assert(t.census.jobs.size === 1)
  }

  test("pageRank on the triangle counts at most the jobs GraphsSpec pins") {
    spark.catalog.clearCache()
    val (ranks, census) = Bench.jobsDuring(spark.sparkContext)(Graphs.pageRank(triangle, iters = 3))
    try assert(census.jobs.size <= 3, census.jobs.mkString("\n"))
    finally ranks.unpersist(blocking = true)
    // through the measure loop: the same call plus the one noop write
    // over its cached result
    val t = timer().measure("pageRank", () => Graphs.pageRank(triangle, iters = 3), "spec")
    assert(t.failed === 0)
    assert(t.jobs <= 4)
  }

  test("the census prints one line per counted job, each naming a graft frame") {
    // a join against a small table plans a broadcast build, which runs on
    // the exchange thread pool
    def joined(): DataFrame = Tables.orders(spark, sf)
      .join(broadcast(Tables.customer(spark, sf)), col("o_custkey") === col("c_custkey"))
    val t = timer(census = true).measure("join", () => joined(), "spec")
    assert(t.failed === 0)
    assert(t.census.jobs.size.toLong === t.jobs)
    assert(t.census.jobs.exists(_.contains("graft.Bench")), "the harness's own write")
    // the broadcast build's line names the execution that planned it
    t.census.jobs.foreach(line => assert(line.contains("graft."), line))
    assert(t.census.stages.nonEmpty)
    assert(t.census.stages.forall(_.contains("wall=")))
  }

  test("a query that leaves its result cached counts the same jobs in every rep") {
    // rep 2 would otherwise read rep 1's cached blocks and skip the aggregate
    def persisted(): DataFrame = {
      val df = Tables.orders(spark, sf).groupBy(col("o_custkey")).count().persist()
      df.count()
      df
    }
    val t = timer().measure("persisted", () => persisted(), "spec")
    assert(t.failed === 0)
    assert(t.repJobs.size === 2)
    assert(t.repJobs.distinct.size === 1, t.repJobs)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("a warm pass runs every query past a failing one and reports not ok") {
    val ran = scala.collection.mutable.Buffer.empty[String]
    def q(name: String) = name -> (() => { ran += name; spark.range(3).toDF() })
    val boom: (String, () => DataFrame) = "boom" -> (() => throw new IllegalStateException("boom"))
    assert(!timer().warm(Seq(q("a"), boom, q("c"))))
    assert(ran === Seq("a", "c"))
    assert(timer().warm(Seq(q("d"))))
  }
}
