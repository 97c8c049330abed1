package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.CoreOps._

/** Property-based invariants over randomized event streams (SURVEY.md §5):
  * aggregate algebra, window alignment, and join cardinality — the
  * structural laws any correct implementation must satisfy, independent of
  * the golden fixtures.
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  /** Deterministic ScalaCheck sampling (no scalatest bridge in the offline
    * cache): n samples from fixed seeds, so failures reproduce exactly. */
  private def forSamples[A](g: Gen[A], n: Int)(body: A => Unit): Unit =
    (0 until n).foreach { i =>
      g.apply(Gen.Parameters.default, Seed(42L + i)).foreach(body)
    }

  private val HourMs = 3600L * 1000

  // small random streams: (epoch-ms within a few days, key, duration)
  private val eventsGen: Gen[List[(Long, Long, Long)]] =
    Gen.nonEmptyListOf(for {
      t <- Gen.choose(0L, 4L * 24 * HourMs)
      k <- Gen.choose(1L, 5L)
      d <- Gen.choose(0L, 1000L)
    } yield (t, k, d))

  private def aggOf(events: List[(Long, Long, Long)]) = {
    val df = events.map { case (t, k, d) => (new Timestamp(t), k, d) }
      .toDF("ts", "user_id", "value")
    tumblingAgg(df, col("ts"), col("user_id"), col("value")).collect()
  }

  test("tumbling agg satisfies count/max/sum/avg algebra on random streams") {
    forSamples(eventsGen, 20) { events =>
      val rows = aggOf(events)
      // per-(key, window) group totals must reconcile with the raw stream
      val byGroup = events.groupBy { case (t, k, _) => (t / HourMs, k) }
      assert(rows.length === byGroup.size)
      rows.foreach { r =>
        val ws = r.getStruct(0).getTimestamp(0).getTime
        val key = r.getString(1).toLong
        val ds = byGroup((ws / HourMs, key)).map(_._3)
        assert(r.getLong(2) === ds.length.toLong) // calls_count
        assert(r.getLong(3) === ds.max) // max
        assert(r.getLong(4) === ds.sum) // total
        assert(r.getLong(5) === ds.sum / ds.length) // floor-avg
        // algebra: max <= total (non-negative durations), avg*count <= total
        assert(r.getLong(3) <= r.getLong(4))
        assert(r.getLong(5) * r.getLong(2) <= r.getLong(4))
      }
    }
  }

  test("windows are epoch-hour aligned, 1h wide, and events land in their window") {
    forSamples(eventsGen, 20) { events =>
      aggOf(events).foreach { r =>
        val w = r.getStruct(0)
        val start = w.getTimestamp(0).getTime
        val end = w.getTimestamp(1).getTime
        assert(start % HourMs === 0L)
        assert(end === start + HourMs)
      }
    }
  }

  test("left enrichment join preserves left cardinality for any dimension") {
    val dimGen = Gen.listOf(for {
      k <- Gen.choose(1L, 8L)
      v <- Gen.alphaStr.map(_.take(5))
    } yield (k, v))
    forSamples(eventsGen.flatMap(e => dimGen.map(d => (e, d))), 15) { case (events, dim) =>
      val facts = events.map { case (t, k, d) => (new Timestamp(t), k, d) }
        .toDF("ts", "user_id", "value")
      // dedup dim to latest per key first (multi-match would multiply rows —
      // exactly why the KTable dedup precedes the reference join)
      val dimDf = latestByKey(
        dim.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }.toDF("k", "v", "ord"),
        keys = Seq(col("k")), orderDesc = Seq(col("ord")))
      val joined = enrichLeftJoin(facts, dimDf, facts("user_id") === dimDf("k"),
        defaults = Seq(("name", dimDf("v"), lit("Unknown"))))
      assert(joined.count() === events.length.toLong)
    }
  }

  test("latestByKey emits exactly one row per distinct key, the max-ord one") {
    val rowsGen = Gen.nonEmptyListOf(for {
      k <- Gen.choose(1L, 6L)
      v <- Gen.choose(0L, 100L)
    } yield (k, v))
    forSamples(rowsGen, 20) { rows =>
      val df = rows.zipWithIndex.map { case ((k, v), i) => (k, v, i.toLong) }
        .toDF("k", "v", "ord")
      val got = latestByKey(df, Seq(col("k")), Seq(col("ord")))
        .select("k", "v").as[(Long, Long)].collect().toMap
      val want = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, vs) => k -> vs.maxBy(_._2)._1._2 }
      assert(got === want)
    }
  }

  test("dedup pair operators are symmetric-free and within-threshold on random corpora") {
    val docGen = Gen.listOfN(8, Gen.chooseNum(0, 3)).map(ws => ws.map(i => s"w$i").mkString(" "))
    val corpusGen = Gen.nonEmptyListOf(docGen).map(_.take(12))
    forSamples(corpusGen, 10) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val pairs = graft.operators.Dedup.ngramJaccardPairs(docs, minPermille = 300).collect()
      pairs.foreach { r =>
        assert(r.getLong(0) < r.getLong(1)) // canonical orientation, no dupes
        assert(r.getLong(4) >= 300L && r.getLong(4) <= 1000L) // jac in [τ, 1]
        assert(r.getLong(2) <= r.getLong(3)) // inter <= union
      }
    }
  }

  test("hashSplit partitions any corpus: total, key-consistent, weight-valid") {
    // random weight vectors summing to 1000 and random (possibly
    // duplicated) key multisets: every row lands in exactly one split,
    // and equal keys always co-locate regardless of row order
    val gen = for {
      w1 <- Gen.choose(1, 998)
      w2 <- Gen.choose(1, 999 - w1)
      keys <- Gen.nonEmptyListOf(Gen.choose(0L, 30L))
    } yield (Seq("a" -> w1, "b" -> w2, "c" -> (1000 - w1 - w2)), keys)
    forSamples(gen, 10) { case (weights, keys) =>
      val df = keys.toDF("doc_id")
      val out = graft.operators.Splits.hashSplit(df, "doc_id", weights)
        .collect().map(r => r.getLong(0) -> r.getString(1))
      assert(out.length === keys.length)
      assert(out.forall(_._2 != null))
      assert(out.forall { case (_, s) => weights.exists(_._1 == s) })
      // key-consistency: one split per distinct key
      out.groupBy(_._1).foreach { case (_, rows) =>
        assert(rows.map(_._2).distinct.length === 1)
      }
      // reversal changes nothing (assignment is a pure key function)
      val rev = graft.operators.Splits.hashSplit(keys.reverse.toDF("doc_id"), "doc_id", weights)
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out.toMap === rev)
    }
  }

  test("packChunks offsets are the prefix sums of doc_id order on random shards") {
    val gen = Gen.nonEmptyListOf(for {
      id <- Gen.choose(0L, 40L)
      g <- Gen.oneOf("x", "y")
      nt <- Gen.choose(0L, 20L)
    } yield (id, g, nt)).map(_.distinctBy(_._1))
    forSamples(gen, 10) { rows =>
      val out = graft.operators.Packing.packChunks(
          rows.toDF("doc_id", "source", "nt"), "source", 7L, col("nt"))
        .select($"doc_id", $"source", $"token_offset", $"chunk_id").collect()
        .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      rows.groupBy(_._2).foreach { case (g, members) =>
        val ordered = members.sortBy(_._1)
        var cum = 0L
        ordered.foreach { case (id, _, nt) =>
          val (og, off, chunk) = out(id)
          assert(og === g)
          assert(off === cum, s"offset of $id in $g")
          assert(chunk === cum / 7L)
          cum += nt
        }
      }
    }
  }

  test("contamination containment is bounded and exact for subset evals") {
    // an eval doc made of a contiguous token span of a train doc has all
    // its shingles contained -> exactly 1000 permille against that doc;
    // all reported pairs respect the threshold and the [0,1000] bound
    val wordGen = Gen.oneOf("ab", "cd", "ef", "gh", "ij", "kl", "mn", "op")
    val gen = for {
      words <- Gen.listOfN(12, wordGen)
      start <- Gen.choose(0, 7)
      len <- Gen.choose(4, 5)
    } yield (words.mkString(" "), words.slice(start, start + len).mkString(" "))
    forSamples(gen, 10) { case (trainText, evalText) =>
      val train = Seq((1L, trainText)).toDF("doc_id", "text")
      val ev = Seq((100L, evalText)).toDF("doc_id", "text")
      val hits = graft.operators.Dedup.contaminationPairs(train, ev, 3, 1)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      assert(hits((1L, 100L)) === 1000L)
      assert(hits.values.forall(v => v >= 1 && v <= 1000))
    }
  }

  test("dedupLinesInDoc ≡ distinct-preserving-order on random multi-line docs") {
    val lineGen = Gen.oneOf("alpha", "beta", "", "gamma delta", " lead", "trail ")
    val docGen = Gen.listOf(lineGen).map(_.mkString("\n"))
    forSamples(Gen.listOfN(30, docGen), 10) { docsList =>
      val df = docsList.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "text")
      val got = df.select($"id",
          graft.functions.TextFunctions.dedupLinesInDoc($"text").as("o"))
        .as[(Long, String)].collect().toMap
      docsList.zipWithIndex.foreach { case (t, i) =>
        // Scala's Array.distinct keeps first occurrences — the spec rule
        val expect = t.split("\n", -1).distinct.mkString("\n")
        assert(got(i.toLong) === expect, s"doc $i: '$t'")
      }
    }
  }

  test("temperatureRates: size bound, natural identity, uniform-tau monotonicity (random corpora)") {
    import graft.operators.Mixture
    val countsGen = for {
      s <- Gen.choose(2, 6)
      ns <- Gen.listOfN(s, Gen.choose(1L, 400L))
    } yield ns.zipWithIndex.map { case (n, i) => (s"s$i", n) }
    forSamples(countsGen, 12) { counts =>
      val rows = counts.flatMap { case (src, n) => (1L to n).map(i => (src, i)) }
      val df = rows.toDF("source", "row_id")
      // τ = 1 (natural mixture) is the identity at any skew
      assert(Mixture.temperatureRates(df, "source", tauHalves = 2)
        .values.forall(_ == 1000))
      val total = counts.map(_._2).sum
      for (tau <- Seq(0, 1)) {
        val r = Mixture.temperatureRates(df, "source", tauHalves = tau)
        // expected output size ≈ input size: floor rounding loses less
        // than one permille-unit per row, so Σ n_s·rate_s ∈ (999N, 1000N]
        val expSize = counts.map { case (s2, c) => c * r(s2) }.sum
        assert(expSize <= 1000L * total && expSize > 999L * total,
          s"tau=$tau counts=$counts rates=$r")
      }
      // uniform temperature: a strictly rarer source never gets a
      // smaller rate (exact-isqrt granularity breaks this for τ = ½,
      // e.g. isqrt(3)/3 < isqrt(4)/4 — so the law is asserted at τ = 0)
      val r0 = Mixture.temperatureRates(df, "source", tauHalves = 0)
      counts.sortBy(_._2).sliding(2).foreach {
        case Seq((a, ca), (b, cb)) if ca <= cb => assert(r0(a) >= r0(b))
        case _ => ()
      }
    }
  }

  test("TopKByScore ≡ sort-take per group on random scored streams") {
    val scoredGen: Gen[List[(Long, Long, Long)]] =
      Gen.nonEmptyListOf(for {
        q <- Gen.choose(0L, 4L)
        id <- Gen.choose(0L, 30L)
        s <- Gen.choose(-100L, 100L) // negatives + heavy duplicate scores
      } yield (q, id, s))
    forSamples(scoredGen, 20) { rows =>
      // the aggregate sees each (group, id) once, like scored candidates
      val distinctRows = rows.map { case (q, id, s) => ((q, id), s) }.toMap.toList
        .map { case ((q, id), s) => (q, id, s) }
      val df = distinctRows.toDF("query_id", "neighbor_id", "cos_e6")
      val got = df.groupBy($"query_id")
        .agg(graft.expressions.TopKByScore.topK($"cos_e6".cast("double"), $"neighbor_id", 3).as("top"))
        .select($"query_id", posexplode($"top").as(Seq("pos", "nb")))
        .select($"query_id", ($"pos" + 1).as("rank"), $"nb.id", $"nb.score".cast("long"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      val want = distinctRows.groupBy(_._1).flatMap { case (q, rs) =>
        rs.sortBy { case (_, id, s) => (-s, id) }.take(3).zipWithIndex.map {
          case ((_, id, s), i) => (q, i + 1, id, s)
        }
      }.toSet
      assert(got === want)
    }
  }

  test("pageRank invariants on random graphs: teleport floor, source nodes exact") {
    // every rank ≥ the teleport base; a node with no in-edges sits at
    // EXACTLY the base after ≥1 iteration; total mass never exceeds the
    // initial |V|·1e6 (dangling mass only leaks out, never in).
    val edgeGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 12L))).map(_.filter(e => e._1 != e._2))
    forSamples(edgeGen.suchThat(_.nonEmpty), 12) { es =>
      val edges = es.toDF("src", "dst")
      val r = graft.operators.Graphs.pageRank(edges, iters = 2)
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      assert(r.values.forall(_ >= 150000L), s"rank below teleport base in $r")
      val dsts = es.map(_._2).toSet
      val sources = r.keySet -- dsts
      sources.foreach(n => assert(r(n) === 150000L, s"source $n not at base in $r"))
      assert(r.values.sum <= 1000000L * r.size, s"mass created from nothing in $r")
    }
  }

  test("deep graph iteration (25 rounds): exact fixpoints, per-round-bounded executed stages") {
    // Guards the per-round persist/count/unpersist discipline in the
    // pageRank and labelPropagate loops: each round must execute against
    // the PREVIOUS round's cached blocks (DAGScheduler stops descending a
    // lineage at a fully-cached RDD, so ancestor stages are never
    // resubmitted). If the persist is ever dropped while the per-round
    // action stays, round i replays rounds 1..i-1 and the submitted-stage
    // total goes quadratic — far past the linear bound below. Stage events
    // are filtered by job group so parallel suites on the shared session
    // can't inflate the count.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
    val group = "graft-deep-iter-test"
    val submitted = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (s.properties != null &&
            group == s.properties.getProperty("spark.jobGroup.id"))
          submitted.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "deep graph iteration bound")
    try {
      // directed 6-cycle: out-degree 1 everywhere, so the exact integer
      // rank is the fixpoint 1_000_000 at EVERY depth — closed-form
      // checkable at 25 iterations
      val cyc = (0L until 6L).map(i => (i, (i + 1) % 6)).toDF("src", "dst")
      val r = graft.operators.Graphs.pageRank(cyc, iters = 25)
        .collect().map(_.getLong(1))
      assert(r.length === 6 && r.forall(_ === 1000000L))
      // chain 0→1→…→9 seeded at node 0: 25 rounds ≥ diameter, so the
      // label must have reached every node
      val chain = (0L until 9L).map(i => (i, i + 1, 1L)).toDF("src", "dst", "w")
      val lab = graft.operators.Graphs.labelPropagate(
          chain, Seq((0L, 7L)).toDF("node", "label"), rounds = 25)
        .collect().map(x => Option(x.get(1)))
      assert(lab.length === 10 && lab.forall(_.contains(7L)))
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    // 2×25 rounds at a handful of executed stages each; the quadratic
    // failure mode lands in the thousands
    assert(submitted.get() < 600, s"stage blowup: ${submitted.get()} stages submitted")
  }

  test("components converges on a 25-hop chain — deep fixpoint stays bounded") {
    // min-label propagation crosses one hop per round, so a 26-node path
    // needs ~25 rounds: exactly the depth where nested cached adaptive
    // plans went exponential in the graph loops. The every-4th-round flat
    // re-root keeps each round constant-cost; without it this test runs
    // minutes-to-OOM instead of seconds.
    val n = 26
    val docs = (1 to n).map(i => (i.toLong, s"d$i")).toDF("doc_id", "text")
    val pairs = (1 until n).map(i => (i.toLong, (i + 1).toLong)).toDF("doc_a", "doc_b")
    // driverCap = 0 forces the distributed fixpoint: a 25-pair chain is
    // far under the driver-path cap, which would settle it in one fetch
    val got = graft.operators.Dedup.componentsWithRelease(docs, pairs, maxRounds = 40,
        driverCap = 0)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (1 to n).map(i => i.toLong -> 1L).toMap)
    // a round budget SMALLER than the chain diameter must fail loudly:
    // truncated labels are silently under-deduped output (several
    // "canonical" docs per duplicate cluster), indistinguishable from a
    // converged run by the caller
    // the failure path must also RELEASE its pinned blocks (edge cache +
    // final round) before throwing — a long-lived session recovering from
    // the diagnostic must not accumulate dead fixpoint caches
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.size
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Dedup.componentsWithRelease(docs, pairs, maxRounds = 3,
        driverCap = 0)._1.count()
    }
    assert(ex.getMessage.contains("did not converge"))
    assert(spark.sparkContext.getPersistentRDDs.size === pinnedBefore,
      "non-convergence throw leaked pinned blocks")
  }

  /** Near-dup component labels by BFS: every pair vertex once with the
    * min id of its component, then every doc that is not a vertex. */
  private def refComponents(docs: Seq[Long], pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    val verts = adj.keySet
    def reach(v: Long): Set[Long] = {
      var seen = Set(v)
      var frontier = Seq(v)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(adj(_)).distinct.filterNot(seen)
        seen ++= frontier
      }
      seen
    }
    (verts.toSeq.map(v => v -> reach(v).min) ++
      docs.filterNot(verts).map(d => d -> d)).sorted
  }

  // ids 1-30 for docs (duplicates likely), 1-34 for pair ends, so a pair
  // can name a vertex absent from docs; repeated, reversed and self pairs
  // all arise
  private val nearDupGraphGen: Gen[(List[Long], List[(Long, Long)])] = for {
    nDocs <- Gen.choose(1, 25)
    docs <- Gen.listOfN(nDocs, Gen.choose(1L, 30L))
    nPairs <- Gen.choose(1, 30)
    pairs <- Gen.listOfN(nPairs, Gen.zip(Gen.choose(1L, 34L), Gen.choose(1L, 34L)))
  } yield (docs, pairs)

  test("components: the driver path equals the fixpoint path on seeded random graphs") {
    import graft.operators.Dedup
    def usesFixpoint(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collectLeaves()
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    // the driver path (maxRounds = 3 bounds only the fixpoint) and the
    // fixpoint, forced by a cap below the pair count, against the BFS
    // reference
    def check(docs: Seq[Long], pairs: Seq[(Long, Long)],
        cap: Int = Dedup.MaxDriverEdges, fixCap: Int = 0): Unit = {
      val d = docs.map(i => (i, s"d$i")).toDF("doc_id", "text")
      val p = pairs.toDF("doc_a", "doc_b")
      val (onDriver, _) = Dedup.componentsWithRelease(d, p, maxRounds = 3, driverCap = cap)
      assert(!usesFixpoint(onDriver), s"driver path not taken at cap $cap")
      val expected = refComponents(docs, pairs)
      assert(rowsOf(onDriver) === expected, s"driver path on $docs / $pairs")
      if (pairs.nonEmpty) {
        val (fixed, release) = Dedup.componentsWithRelease(d, p, maxRounds = 60,
          driverCap = fixCap)
        assert(usesFixpoint(fixed), s"fixpoint not taken at cap $fixCap")
        try assert(rowsOf(fixed) === expected, s"fixpoint on $docs / $pairs")
        finally release()
      }
    }
    forSamples(nearDupGraphGen, 6) { case (docs, pairs) =>
      check(docs, pairs)
    }
    // a graph at the cap settles on the driver; one pair over, it does not
    forSamples(nearDupGraphGen, 2) { case (docs, pairs) =>
      check(docs, pairs, cap = pairs.length, fixCap = pairs.length - 1)
    }
    // a 12-hop chain, pairs reversed: longer than the driver call's
    // maxRounds = 3, which bounds only the fixpoint
    check((1L to 13L), (1L to 12L).map(i => (i + 1, i)))
    // duplicate, reversed and self pairs
    check(Seq(1L, 2L, 3L, 4L), Seq((1L, 2L), (2L, 1L), (1L, 2L), (3L, 3L), (4L, 2L)))
    // pair vertices absent from docs, duplicate doc_ids, singletons
    check(Seq(1L, 1L, 2L, 5L, 5L, 6L), Seq((7L, 8L), (8L, 1L), (2L, 9L)))
    // no pairs: every doc labels itself, duplicates included (the
    // fixpoint is not reached here: an empty fetch is within any cap)
    check(Seq(3L, 1L, 3L), Seq.empty)
  }

  test("components: the driver path leaves no cached blocks behind") {
    val docs = (1L to 8L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
    def registered() = spark.sparkContext.getPersistentRDDs.size
    val before = registered()
    val (out, release) = graft.operators.Dedup.componentsWithRelease(docs, pairs)
    assert(registered() === before, "the pair cut outlived the driver path")
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
    release()
    assert(registered() === before)
    // only the fetch starts its limit-collect at full width: a take over
    // the returned frame still grows from one partition
    assert(out.sparkSession.conf.get("spark.sql.limit.initialNumPartitions") ===
      spark.conf.get("spark.sql.limit.initialNumPartitions"))
  }

  test("components: a pair plan that fails in the fetch leaves no cached blocks behind") {
    val docs = (1L to 4L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
      .map { r =>
        if (r.getLong(0) == 3L) throw new IllegalStateException("pair plan failed")
        (r.getLong(0), r.getLong(1))
      }
      .toDF("doc_a", "doc_b")
    def registered() = spark.sparkContext.getPersistentRDDs.size
    val before = registered()
    for (cap <- Seq(graft.operators.Dedup.MaxDriverEdges, 0)) {
      val ex = intercept[org.apache.spark.SparkException] {
        graft.operators.Dedup.componentsWithRelease(docs, pairs, driverCap = cap)
      }
      assert(ex.getMessage.contains("pair plan failed"))
      assert(registered() === before, s"the pair cut outlived a failed fetch at driverCap $cap")
    }
  }

  test("components: the pair plan runs once on either path") {
    // the fetch reads the pair cut, and above the cap the fixpoint's edges
    // read the same cut: a second evaluation of the (LSH) pair plan would
    // count every pair row twice
    val docs = (1L to 6L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val evaluated = spark.sparkContext.longAccumulator("pair rows evaluated")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("doc_a", "doc_b")
      .map { r => evaluated.add(1); (r.getLong(0), r.getLong(1)) }
      .toDF("doc_a", "doc_b")
    for (cap <- Seq(graft.operators.Dedup.MaxDriverEdges, 0)) {
      evaluated.reset()
      val (out, release) = graft.operators.Dedup.componentsWithRelease(docs, pairs,
        driverCap = cap)
      assert(out.collect().length === 6)
      release()
      assert(evaluated.value === 3L, s"pair rows evaluated at driverCap $cap")
    }
  }

  test("simhashPairs rejects out-of-range maxHamming instead of degenerating") {
    val docs = Seq((1L, "a b c"), (2L, "a b d")).toDF("doc_id", "text")
    // negative: used to die in a bare divide-by-zero; 16+: chunk masks
    // thin toward 0 bits and the banded join degenerates to all-pairs
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.simhashPairs(docs, maxHamming = -1)
    }
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.simhashPairs(docs, maxHamming = 32)
    }
  }

  test("hierarchy rollup conserves value: root subtrees partition the forest total") {
    // random forests parent(id) = id div k: every node's value lands in
    // exactly one root subtree, so root sums = grand total; every
    // subtree count ≥ 1 and the root counts sum to |nodes|.
    val genForest = for {
      n <- Gen.choose(3, 40)
      k <- Gen.choose(2, 5)
    } yield (n, k)
    forSamples(genForest, 12) { case (n, k) =>
      val nodes = (0L until n.toLong).map(i =>
        (i, if (i >= k) Some(i / k) else None, i * 7 + 1)).toDF("id", "parent", "value")
      val out = graft.ops.Hierarchy.subtreeRollup(nodes)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val roots = (0L until n.toLong).filter(_ < k)
      val total = (0L until n.toLong).map(_ * 7 + 1).sum
      assert(roots.map(out(_)._2).sum === total, "root sums must partition the total")
      assert(roots.map(out(_)._1).sum === n.toLong, "root counts must partition |nodes|")
      assert(out.values.forall(_._1 >= 1L))
    }
  }

  test("incremental join maintenance ≡ full recompute on random splits") {
    // V0 ∪ ΔV must equal (A0∪ΔA) ⋈ (C0∪ΔC) for ANY split of either side —
    // the distributivity law ScaleOps.incrementalJoin implements; a lost
    // or double-counted delta term breaks multiset equality.
    val splitGen = for {
      rowsA <- Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 30L), Gen.choose(1L, 8L)))
      rowsC <- Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 8L), Gen.choose(0L, 99L)))
      ma <- Gen.choose(2, 5)
      mc <- Gen.choose(2, 5)
    } yield (rowsA, rowsC, ma, mc)
    forSamples(splitGen, 15) { case (rowsA, rowsC, ma, mc) =>
      val a = rowsA.toDF("a_id", "k").select(col("a_id"), col("k").as("a_k"))
      val c = rowsC.toDF("c_k", "v").select(col("c_k"), col("v"))
      val a0 = a.filter(pmod(col("a_id"), lit(ma)) =!= 0)
      val da = a.filter(pmod(col("a_id"), lit(ma)) === 0)
      val c0 = c.filter(pmod(col("v"), lit(mc)) =!= 0)
      val dc = c.filter(pmod(col("v"), lit(mc)) === 0)
      val maintained = a0.join(c0, col("a_k") === col("c_k"))
        .unionByName(graft.ops.ScaleOps.incrementalJoin(a0, da, c0, dc, "a_k", "c_k"))
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      val full = a.join(c, col("a_k") === col("c_k"))
        .collect().map(_.toSeq).groupBy(identity).view.mapValues(_.length).toMap
      assert(maintained === full)
    }
  }

  test("kCore ≡ reference peel on random graphs, any k, to fixpoint") {
    // Reference: literal sequential peel over an in-memory adjacency map —
    // the definition, no banding/round tricks. The distributed loop must
    // match survivors AND core degrees exactly for any random graph.
    def referenceKCore(edges: List[(Long, Long)], k: Int): Map[Long, Long] = {
      val und = edges.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
        .withDefaultValue(Set.empty)
      und.foreach { case (a, b) => adj(a) += b; adj(b) += a }
      var alive = adj.keySet.toSet
      var changed = true
      while (changed) {
        val next = alive.filter(v => (adj(v) & alive).size >= k)
        changed = next != alive
        alive = next
      }
      alive.iterator.map(v => v -> (adj(v) & alive).size.toLong).toMap
    }
    val graphGen = for {
      edges <- Gen.nonEmptyListOf(
        Gen.zip(Gen.choose(1L, 12L), Gen.choose(1L, 12L)))
      k <- Gen.choose(1, 4)
    } yield (edges, k)
    forSamples(graphGen, 12) { case (edges, k) =>
      val got = graft.operators.Graphs
        .kCore(edges.toDF("src", "dst"), k, maxRounds = 16)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === referenceKCore(edges, k),
        s"kCore mismatch at k=$k on edges=$edges")
    }
  }

  test("dedupDelta serving pass stays within its driver-job budget") {
    // The static-plan scope exists so a per-batch ingestion call costs a
    // HANDFUL of driver jobs, not one per exchange (45 before the scope).
    // Generous bound: the checkpoint action + broadcast-exchange jobs +
    // the consuming count. A regression that re-enables per-exchange
    // dispatch blows well past it.
    val corpus = (1L to 40L).map(i => (i, s"corpus doc $i " + (1 to 20)
      .map(j => s"tok${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val batch = (100L to 120L).map(i => (i, s"batch doc $i " + (1 to 20)
      .map(j => s"new${i}_$j").mkString(" "))).toDF("doc_id", "text")
    // Count ONLY jobs tagged with this call's job group: any concurrent
    // activity on the shared session (parallel suites, listener-bus lag
    // from a previous test) would otherwise inflate the count and flake
    // the budget in the over-counting direction. The group id rides the
    // context's thread-local properties, so it tags the scoped clone's
    // jobs too.
    val group = "dedup-delta-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(j.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); ()
        }
    }
    spark.sparkContext.addSparkListener(l)
    spark.sparkContext.setJobGroup(group, "dedupDelta job budget", false)
    try {
      val out = graft.operators.Dedup.dedupDelta(corpus, batch)
      assert(out.count() === 21L)
      // listener events post asynchronously; drain within a small, bounded
      // wait before reading the counter
      val deadline = System.nanoTime() + 2_000_000_000L
      while (System.nanoTime() < deadline && jobs.get() == 0) Thread.sleep(20)
      Thread.sleep(200)
      assert(jobs.get() <= 15,
        s"dedupDelta dispatched ${jobs.get()} driver jobs (budget 15)")
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(l)
    }
  }
  test("serving extension is associative: chained text-index extends ≡ rebuild") {
    // extend∘extend∘extend over three deltas must equal one rebuild over
    // the whole corpus — postings, stats, AND the probe path — so
    // repeated serving ingestion can never drift from a fresh index.
    val corpusGen: Gen[List[String]] = Gen.listOfN(16, for {
      n <- Gen.choose(3, 8)
      ws <- Gen.listOfN(n, Gen.oneOf("the", "fox", "data", "quick", "delta",
        "corpus", "span", "index"))
    } yield ws.mkString(" "))
    forSamples(corpusGen, 4) { texts =>
      val all = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val Seq(base, d1, d2, d3) = (0 until 4).map(q =>
        all.filter(pmod(col("doc_id"), lit(4)) === q))
      import graft.operators.TextSearch
      val chained = TextSearch.extendTextIndex(
        TextSearch.extendTextIndex(
          TextSearch.extendTextIndex(
            TextSearch.buildTextIndex(base, "doc_id", "text"),
            d1, "doc_id", "text"),
          d2, "doc_id", "text"),
        d3, "doc_id", "text")
      val rebuilt = TextSearch.buildTextIndex(all, "doc_id", "text")
      assert(chained.postings.collect().map(_.toSeq).toSet ===
        rebuilt.postings.collect().map(_.toSeq).toSet)
      assert(chained.stats.collect().map(_.toSeq).toSeq ===
        rebuilt.stats.collect().map(_.toSeq).toSeq)
      val q = Seq(0L -> "quick data", 1L -> "fox")
      assert(TextSearch.bm25TopKWith(chained, q, k = 3).collect().map(_.toSeq).toSet ===
        TextSearch.bm25TopKWith(rebuilt, q, k = 3).collect().map(_.toSeq).toSet)
    }
  }

  test("serving extension is associative: chained IVF extends ≡ one extend") {
    // extend(extend(extend(i, d1), d2), d3) ≡ extend(i, d1 ∪ d2 ∪ d3):
    // assignments land on the SAME frozen centroids whichever way the
    // deltas arrive, and no extend ever refits. (Rebuild-at-same-centroids
    // equivalence for ONE delta is the s11 oracle; associativity is what
    // lets a serving loop ingest per batch without drift.)
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(pmod($"vec_id", lit(4)) === 0)
    val deltas = (1 to 3).map(q => emb.filter(pmod($"vec_id", lit(4)) === q))
    val idx = Similarity.buildIvf(base, nCells = 8)
    val chained = deltas.foldLeft(idx)(Similarity.extendIvf)
    val oneShot = Similarity.extendIvf(idx, deltas.reduce(_ unionByName _))
    assert(chained.centroids eq idx.centroids)
    assert(oneShot.centroids eq idx.centroids)
    val a = chained.assigned.select($"vec_id", $"cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = oneShot.assigned.select($"vec_id", $"cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a === b)
    assert(a.keySet.size.toLong === emb.count())
  }

  test("nprobe clamps at the fitted cell count: over-probing ≡ exhaustive") {
    // IvfIndex.nCells is the FITTED count (a filtered corpus inits fewer
    // centroids than requested), and callers legitimately size nprobe off
    // the REQUESTED count — the probe's top-nprobe heap over the centroid
    // frame must therefore degrade to probing every cell (FAISS clamp
    // semantics), never change results past the fitted count, and stay
    // equal to brute-force ranks (exhaustive probe scores every vector).
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // filtered base: init ids {1,2,3,5,6,7} of vec_id < 8 → 6 fitted < 8
    val base = emb.filter(pmod($"vec_id", lit(4)) =!= 0)
    val idx = Similarity.buildIvf(base, nCells = 8)
    assert(idx.nCells > 0 && idx.nCells < 8, s"expected a partial fit, got ${idx.nCells}")
    val q = base.filter($"vec_id" < 10)
    def ranks(np: Int) =
      Similarity.ivfKnnWith(idx, q, k = 3, nprobe = np)
        .select($"query_id", $"rank", $"neighbor_id")
        .collect().map(_.toSeq).toSet
    val exhaustive = ranks(idx.nCells)
    assert(ranks(idx.nCells + 5) === exhaustive, "over-probe must clamp")
    assert(ranks(1000) === exhaustive, "any over-probe must clamp")
    val brute = Similarity.bruteForceKnn(base, q, k = 3)
      .select($"query_id", $"rank", $"neighbor_id")
      .collect().map(_.toSeq).toSet
    assert(exhaustive === brute, "exhaustive probe must equal brute force")
  }

  test("serving extension is associative: chained delta-dedup ≡ per-step rebuild") {
    // Three ingestion batches against a growing corpus: serving with
    // UNIONED corpus-side frames (digests/bands extended by each step's
    // ACCEPTED docs — the steady-state loop) admits exactly the same docs
    // as rebuilding the digest/band frames from the full corpus each step.
    // Union-of-distinct digests may carry duplicates across releases; the
    // semi-join probe is insensitive to them — that insensitivity is the
    // property ingestion relies on.
    import graft.operators.Dedup
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    var corpus = docs.filter($"doc_id" < 60)
    var digests = Dedup.corpusDigests(corpus)
    var bands = Dedup.corpusBands(corpus)
    for (b <- 0 until 3) {
      val lo = 60 + 40 * b
      val batch = docs.filter($"doc_id" >= lo && $"doc_id" < lo + 40)
      val servedIds = Dedup.dedupDeltaWith(corpus, digests, bands, batch)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      val rebuiltIds = Dedup.dedupDelta(corpus, batch)
        .select($"doc_id").collect().map(_.getLong(0)).toSet
      assert(servedIds === rebuiltIds, s"batch $b diverged")
      val accepted = batch.join(
        servedIds.toSeq.toDF("doc_id"), Seq("doc_id"), "left_semi")
      digests = digests.unionByName(Dedup.corpusDigests(accepted))
      bands = bands.unionByName(Dedup.corpusBands(accepted))
      corpus = corpus.unionByName(accepted)
    }
  }

  // random edge multisets (with self-loops and duplicates) split into
  // random slice assignments
  private val edgeSlicesGen: Gen[List[(Long, Long, Int)]] =
    Gen.nonEmptyListOf(for {
      s <- Gen.choose(1L, 6L)
      d <- Gen.choose(1L, 6L)
      slice <- Gen.choose(0, 2)
    } yield (s, d, slice))

  test("mergeEdgeCounts: any slicing of the fact stream rebuilds the same artifact") {
    import graft.operators.Graphs
    forSamples(edgeSlicesGen, 15) { edges =>
      val df = edges.toDF("src", "dst", "slice")
      def counts(sl: org.apache.spark.sql.DataFrame) =
        sl.groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
      // fold the three random slices in order, exactly as linkGraphSink's
      // caller would fold triggers
      val folded = (0 to 2).map(i => counts(df.filter($"slice" === i)))
        .reduce((acc, c) => Graphs.mergeEdgeCounts(acc, c))
      val rebuilt = counts(df)
      assert(folded.collect().map(_.toSeq).toSet ===
        rebuilt.collect().map(_.toSeq).toSet)
    }
  }
}
