package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.SparkEntry

/** The batch workloads, board and curation. Both call `SparkEntry.queries`
  * entries only, time each call as build (the builder's eager work) plus
  * `collect()`, and check every result against its oracle digest later. */
object Batch {
  /** Every 12th oracle-checked query in name order: names carry the family
    * prefix, so the sample spreads over the families (d, m, q, r, s, t).
    * The c0* curation pipelines are the `curation` workload's: c01 alone
    * would be a fifth of a pass and the longest call of the warm-up. */
  val BoardStride = 12

  /** Served admissions per curation pass, after the bulk calls. */
  val DeltaPerPass = 2

  def boardQueries: Seq[String] = {
    val checked = SparkEntry.queries.keySet.intersect(SparkEntry.oracleSql.keySet)
    checked.filterNot(_.startsWith("c0")).toSeq.sorted
      .zipWithIndex.collect { case (n, i) if i % BoardStride == 0 => n }
  }

  /** c01 is left out: its DuckDB replay alone takes about a minute at 2,000
    * docs, too long to check on every seed; c02 runs c01's stages but PII
    * redaction, plus the span scrub and semantic decontamination. */
  val CurationBulk = Seq("c02_curation_full", "c03_curation_delta")
  val CurationDelta = "c04_curation_delta_served"

  /** Drop every block an operation left registered, so the next one runs
    * against the same memory manager; the count is `storage.leaked_rdds`. */
  private def sweep(spark: SparkSession): Int = {
    val leaked = spark.sparkContext.getPersistentRDDs
    spark.catalog.clearCache()
    leaked.values.foreach(_.unpersist(blocking = false))
    leaked.size
  }

  def call(ctx: Ctx, name: String, pass: Int, index: Int, swept: Boolean = true): OpRun = {
    val fn = SparkEntry.queries(name)
    val sc = ctx.spark.sparkContext
    val group = s"op-$pass-$index"
    sc.setJobGroup(s"$group-build", name)
    val t0 = Clock.nowUs()
    var t1 = t0
    var error: String = null
    var rows = Array.empty[Row]
    var columns = Seq.empty[String]
    try {
      val df = fn(ctx.spark, ctx.data)
      t1 = Clock.nowUs()
      sc.setJobGroup(s"$group-action", name)
      rows = df.collect()
      columns = df.schema.fieldNames.toSeq
    } catch { case e: Throwable => error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400) }
    val t2 = Clock.nowUs()
    sc.clearJobGroup()
    val digest = if (error == null) Digest.of(columns, rows) else ""
    OpRun(name, pass, index, t0, t1, t2, error, digest, rows.length, if (swept) sweep(ctx.spark) else 0)
  }

  /** One untimed call per name, `cores` at a time: pays the JIT, codegen
    * and served-artifact builds before timing. Nothing is swept until all
    * calls are done, so no call loses blocks another is using. */
  def warmup(ctx: Ctx, names: Seq[String]): Seq[OpRun] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try {
      val futures = names.zipWithIndex.map { case (n, i) =>
        pool.submit(new java.util.concurrent.Callable[OpRun] {
          def call(): OpRun = Batch.call(ctx, n, 0, i, swept = false)
        })
      }
      futures.map(_.get())
    } finally {
      pool.shutdown()
      sweep(ctx.spark)
    }
  }

  def opRecord(o: OpRun): Map[String, Any] = Map(
    "name" -> o.name, "pass" -> o.pass, "wall_s" -> o.wallS,
    "build_s" -> (o.buildEndUs - o.startUs) / 1e6, "error" -> o.error,
    "digest" -> o.digest, "rows" -> o.rows, "leaked" -> o.leaked)

  def spans(ops: Seq[OpRun], runStart: Long, runEnd: Long): Seq[Span] = {
    val out = mutable.ArrayBuffer(Span(0, -1, "run", "", runStart, runEnd))
    var id = 1
    ops.groupBy(_.pass).toSeq.sortBy(_._1).foreach { case (p, os) =>
      val passId = id
      out += Span(passId, 0, s"pass-$p", "", os.map(_.startUs).min, os.map(_.endUs).max)
      id += 1
      os.foreach { o =>
        out += Span(id, passId, o.name, o.group, o.startUs, o.endUs)
        out += Span(id + 1, id, "build", o.group, o.startUs, o.buildEndUs)
        out += Span(id + 2, id, "action", o.group, o.buildEndUs, o.endUs)
        id += 3
      }
    }
    out.toSeq
  }

  /** End-to-end metrics of one window of the board. `op_ms` is the
    * geometric mean over queries of each query's median wall: with 15
    * unlike queries a median would jump between neighbouring queries. */
  def boardMetrics(ops: Seq[OpRun], perPass: Int): Map[String, Double] = {
    val passTotals = ops.groupBy(_.pass).values.filter(_.size == perPass).map(_.map(_.wallS).sum).toSeq
    val perQuery = ops.groupBy(_.name).values.map(os => Layers.median(os.map(_.wallS)))
    Map(
      "op_ms" -> math.exp(perQuery.map(math.log).sum / perQuery.size) * 1000,
      "op_tail_ms" -> Layers.tailMean(ops.map(_.wallS), 0.9) * 1000,
      "throughput_per_s" -> perPass / Layers.median(passTotals),
      "board_total_s" -> Layers.median(passTotals))
  }

  /** End-to-end metrics of one window of curation. */
  def curationMetrics(ops: Seq[OpRun], docs: Long): Map[String, Double] = {
    val bulk = ops.filter(o => CurationBulk.contains(o.name))
    val delta = ops.filter(_.name == CurationDelta).map(_.wallS)
    Map(
      "op_ms" -> Layers.median(delta) * 1000,
      "op_tail_ms" -> Layers.tailMean(delta, 0.9) * 1000,
      "throughput_per_s" -> bulk.size * docs / bulk.map(_.wallS).sum)
  }

  def run(ctx: Ctx, traced: Boolean): mutable.Map[String, Any] = {
    val rec = mutable.LinkedHashMap.empty[String, Any]
    val board = ctx.workload == "board"
    val names = if (board) boardQueries else CurationBulk :+ CurationDelta
    val order: Int => Seq[String] =
      if (board) p => new scala.util.Random(ctx.seed * 1000003L + p).shuffle(names)
      else _ => CurationBulk ++ Seq.fill(DeltaPerPass)(CurationDelta)
    val docs = if (board) 0L else ctx.spark.read.parquet(s"${ctx.data}/documents.parquet").count()
    val watch = new ArtifactWatch(ctx.spark)
    watch.start()
    // one sequential pass more: the first timed pass otherwise still runs
    // 10-40% slower than the next, by a different share each run
    val warm = warmup(ctx, names) ++ order(0).zipWithIndex.map { case (n, i) => call(ctx, n, 0, i) }
    val calBefore = Health.calProbes(ctx.spark)
    val artifactS = watch.stop()
    val runStart = Clock.nowUs()
    rec("setup_s") = (runStart - ctx.setupFromUs) / 1e6
    // Whole passes until the time is up. A traced run takes twice the time
    // and traces passes in the order U T T U U T T U..., at least four, so
    // a drift over the run falls on both kinds alike.
    val trace = if (traced) Some(new Trace(ctx.spark)) else None
    val plain = mutable.ArrayBuffer.empty[OpRun]
    val tops = mutable.ArrayBuffer.empty[OpRun]
    val budgetNs = (ctx.seconds * (if (traced) 2 else 1) * 1e9).toLong
    var pass = 1
    while (pass <= (if (traced) 4 else 1) || (Clock.nowUs() - runStart) * 1000L < budgetNs) {
      val on = trace.filter(_ => Set(1, 2)((pass - 1) % 4))
      on.foreach(_.register())
      val ops = order(pass).zipWithIndex.map { case (n, i) => call(ctx, n, pass, i) }
      on.foreach { t => t.drain(); t.unregister() }
      (if (on.isDefined) tops else plain) ++= ops
      pass += 1
    }
    def metrics(ops: Seq[OpRun]) = if (board) boardMetrics(ops, names.size) else curationMetrics(ops, docs)
    rec("e2e") = metrics(plain.toSeq)
    val traceOut = trace.map { t =>
      val layers = Layers.batch(tops.toSeq, t, ctx.cores)
      layers("serving.artifact_build_s") = artifactS
      rec("e2e_traced") = metrics(tops.toSeq)
      rec("spans") = spans(tops.toSeq, runStart, Clock.nowUs())
      layers
    }
    val cal = Health.cal(calBefore ++ Health.calProbes(ctx.spark))
    rec("cal") = cal
    traceOut.foreach { layers => layers ++= cal; rec("layers") = layers }
    rec("warmup_ops") = warm.map(opRecord)
    rec("ops") = (plain ++ tops).map(opRecord)
    rec("queries") = names
    rec("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql(n)).toMap
    rec("docs") = docs
    rec
  }
}
