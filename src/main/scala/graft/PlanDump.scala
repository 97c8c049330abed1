package graft

/** Ad-hoc plan capture (driver tooling, not part of the contract):
  * writes `.explain("formatted")` output for named queries to files —
  * the per-round `plans/` evidence (query_before.txt / query_after.txt)
  * an optimization round commits next to its bench numbers.
  * Usage: PlanDump <sfDir> <outDir> <suffix> <query>[,query...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).flatMap(_.split(',')).toSeq
    val spark = GraftSession.create("graft-plandump",
      master = Some("local[4]"), shufflePartitions = Some(32))
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // Detaching queries end in a LocalTableScan whose formatted plan hides
    // the chain; for those, a pseudo-name `<query>__chain` renders the
    // pre-detach pipeline plan instead (same args as the board query,
    // detachBound = None) so the committed plan evidence shows the real
    // operators. Pure driver tooling — the board queries are untouched.
    // The faces call the SAME builder the board entries call, with only
    // detachBound flipped to None (r16 advice item: the former hand-copied
    // simplified constructions could silently diverge from what the bench
    // actually ran if the board queries changed).
    val chainFaces: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      "c01_curation_e2e__chain" -> ((s, d) =>
        graft.queries.NorthStarQueries.c01Curation(s, d, detachBound = None)),
      "c02_curation_full__chain" -> ((s, d) =>
        graft.queries.NorthStarQueries.c02Curation(s, d, detachBound = None)),
      "c03_curation_delta__chain" -> ((s, d) =>
        graft.queries.NorthStarQueries.c03Curation(s, d, detachBound = None)))
    names.foreach { n =>
      val txt =
        if (n == "calls_stream") callsStreamPlan(spark, sfDir)
        else chainFaces.getOrElse(n, SparkEntry.queries(n))(spark, sfDir)
          .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"wrote $outDir/${n}_$suffix.txt (${txt.length} chars)")
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }

  /** The streaming calls query has a physical plan only once a micro-batch
    * ran: the `events` table goes through `CallsStreamPipeline.aggregate`
    * and `enriched` (against `customer`) as two micro-batches, half the
    * events each, and the formatted plan each batch executed is returned. The second shows what a steady trigger plans (the customer
    * broadcast of a run is built once, `graft.streaming.StaticBroadcastReuse`). */
  private def callsStreamPlan(spark: org.apache.spark.sql.SparkSession, sfDir: String): String = {
    import spark.implicits._
    import graft.streaming.{CallsStreamPipeline, StreamingOps}
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(java.sql.Timestamp, Long, Double)](spark)
    val events = Tables.events(spark, sfDir)
      .select($"ts", $"user_id", $"value".cast("double"))
      .as[(java.sql.Timestamp, Long, Double)].collect().toSeq
    val enriched = CallsStreamPipeline.enriched(
      CallsStreamPipeline.aggregate(in.toDF().toDF("ts", "user_id", "value")),
      Tables.customer(spark, sfDir),
      "c_custkey", "c_name", "c_mktsegment", "c_nationkey", "c_acctbal")
    val q = StreamingOps.foreachBatchSink(enriched,
        java.nio.file.Files.createTempDirectory("plandump-ck").toString,
        org.apache.spark.sql.streaming.OutputMode.Update()) { (b, _) => b.collect(); () }
      .start()
    try events.grouped((events.length + 1) / 2).zipWithIndex.map { case (half, i) =>
      in.addData(half)
      q.processAllAvailable()
      // the plan the batch executed: `explainString` of a streaming
      // execution would plan the query again, on this thread
      val out = new StringBuilder(s"== micro-batch $i ==\n== Physical Plan ==\n")
      org.apache.spark.sql.execution.ExplainUtils.processPlan(
        q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
          .streamingQuery.lastExecution.executedPlan, (s: String) => { out.append(s); () })
      out.toString
    }.mkString("\n")
    finally q.stop()
  }
}
