package graft

import org.apache.spark.sql.functions._
import graft.operators.Graphs

class GraphsSpec extends SparkTestBase {
  import spark.implicits._

  // a -> b, a -> c, b -> c, c -> a : the classic 3-node cycle-with-chord
  private def triangle = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L)).toDF("src", "dst")

  private def ranks(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("iters=0 returns the uniform init for every node") {
    val r = ranks(Graphs.pageRank(triangle, iters = 0))
    assert(r === Map(1L -> 1000000L, 2L -> 1000000L, 3L -> 1000000L))
  }

  test("one iteration matches the hand-computed exact-integer update") {
    // od: 1->2, 2->1, 3->1; contributions (r0=1e6):
    //   node1 <- c(3)=1000000            => 150000 + 85*1000000 div 100 = 1000000
    //   node2 <- c(1)=500000             => 150000 + 85*500000  div 100 =  575000
    //   node3 <- c(1)+c(2)=1500000       => 150000 + 85*1500000 div 100 = 1425000
    val r = ranks(Graphs.pageRank(triangle, iters = 1))
    assert(r === Map(1L -> 1000000L, 2L -> 575000L, 3L -> 1425000L))
  }

  test("authority orders as expected after convergence-ish iterations") {
    // node2's single weak in-edge (half of node1's mass) keeps it strictly
    // last; nodes 1 and 3 trade full-rank mass around the cycle and both
    // dominate it. Re-running must be bit-identical (pure integer math).
    val r = ranks(Graphs.pageRank(triangle, iters = 5))
    assert(r(3L) > r(2L) && r(1L) > r(2L))
    assert(ranks(Graphs.pageRank(triangle, iters = 5)) === r)
  }

  test("sink node keeps teleport-fed rank; source node settles at teleport base") {
    // 1 -> 2 only: node1 has no in-edges => teleport base after iter 1;
    // node2 receives everything node1 has.
    val chain = Seq((1L, 2L)).toDF("src", "dst")
    val r = ranks(Graphs.pageRank(chain, iters = 2))
    assert(r(1L) === 150000L)
    // iter1: r(2) = 150000 + 85*1000000 div 100 = 1000000
    // iter2: r(2) = 150000 + 85*150000  div 100 = 277500
    assert(r(2L) === 277500L)
  }

  test("duplicate edges collapse to one (distinct contract)") {
    val dup = Seq((1L, 2L), (1L, 2L), (1L, 2L)).toDF("src", "dst")
    val r1 = ranks(Graphs.pageRank(dup, iters = 2))
    val r2 = ranks(Graphs.pageRank(Seq((1L, 2L)).toDF("src", "dst"), iters = 2))
    assert(r1 === r2)
  }

  test("disconnected components do not interact") {
    val two = Seq((1L, 2L), (10L, 11L), (11L, 10L)).toDF("src", "dst")
    val r = ranks(Graphs.pageRank(two, iters = 3))
    // the isolated mutual pair is symmetric: identical ranks
    assert(r(10L) === r(11L))
    // component {1,2} unaffected by {10,11}'s presence
    val solo = ranks(Graphs.pageRank(Seq((1L, 2L)).toDF("src", "dst"), iters = 3))
    assert(r(1L) === solo(1L) && r(2L) === solo(2L))
  }

  test("weighted rank matches hand-computed (r·w) div Σw update") {
    // 1 -(w3)-> 2, 1 -(w1)-> 3: node1 spreads 3/4 to 2, 1/4 to 3.
    // iter1: r(1)=150000; r(2)=150000 + 85*((1e6*3) div 4) div 100
    //        = 150000 + 85*750000 div 100 = 787500
    //        r(3)=150000 + 85*250000 div 100 = 362500
    val w = Seq((1L, 2L, 3L), (1L, 3L, 1L)).toDF("src", "dst", "w")
    val r = ranks(Graphs.pageRankWeighted(w, iters = 1))
    assert(r === Map(1L -> 150000L, 2L -> 787500L, 3L -> 362500L))
  }

  test("unit weights ≡ unweighted pageRank bit-for-bit") {
    val w1 = triangle.withColumn("w", lit(1L))
    assert(ranks(Graphs.pageRankWeighted(w1, iters = 4)) ===
      ranks(Graphs.pageRank(triangle, iters = 4)))
  }

  test("bfsHops: chain distances, unreachable null, maxRounds cutoff") {
    // 1 -> 2 -> 3 -> 4, isolated edge 9 -> 10; seed = {1}
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (9L, 10L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val full = Graphs.bfsHops(chain, seeds, maxRounds = 5)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(full === Map(1L -> Some(0), 2L -> Some(1), 3L -> Some(2), 4L -> Some(3),
      9L -> None, 10L -> None))
    // cutoff at 2 rounds: node 4 (3 hops) stays null
    val cut = Graphs.bfsHops(chain, seeds, maxRounds = 2)
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(cut(4L) === None && cut(3L) === Some(2))
  }

  test("bfsHops: multi-source takes the nearest seed; convergence stops early") {
    // 1 -> 2 -> 3 and 5 -> 3: seeds {1, 5} — node 3 settles at 1 hop (via 5)
    val g = Seq((1L, 2L), (2L, 3L), (5L, 3L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L), Tuple1(5L)).toDF("node")
    val r = Graphs.bfsHops(g, seeds, maxRounds = 10)
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(r === Map(1L -> Some(0), 5L -> Some(0), 2L -> Some(1), 3L -> Some(1)))
  }

  test("labelPropagate: weight argmax, smallest-label tie-break, clamped seeds") {
    // seeds: 1 -> label 7, 2 -> label 3.
    // node 10 hears 1 with w=5 and 2 with w=2  => label 7.
    // node 11 hears 1 with w=4 and 2 with w=4  => tie -> smaller label 3.
    // node 1 hears 2 with w=9 but is clamped   => stays 7.
    // node 12 hears nobody labeled             => null.
    val e = Seq((1L, 10L, 5L), (2L, 10L, 2L), (1L, 11L, 4L), (2L, 11L, 4L),
      (2L, 1L, 9L), (10L, 12L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq((1L, 7L), (2L, 3L)).toDF("node", "label")
    val r1 = Graphs.labelPropagate(e, seeds, rounds = 1)
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(r1(10L) === Some(7L) && r1(11L) === Some(3L) && r1(1L) === Some(7L))
    assert(r1(12L) === None, "12 has no labeled in-neighbor after 1 round")
    // round 2: 10 (now labeled 7) reaches 12
    val r2 = Graphs.labelPropagate(e, seeds, rounds = 2)
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(r2(12L) === Some(7L))
  }

  test("labelPropagate keeps isolated seed nodes with their clamped label") {
    val e = Seq((1L, 2L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq((1L, 7L), (99L, 5L)).toDF("node", "label") // 99 has no edges
    val r = Graphs.labelPropagate(e, seeds, rounds = 1)
      .collect().map(x => x.getLong(0) -> Option(x.get(1))).toMap
    assert(r(99L) === Some(5L))
    assert(r(2L) === Some(7L))
  }

  test("empty edge list yields an empty rank table") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graphs.pageRank(empty, iters = 3).count() === 0L)
  }

  test("triangles: oriented wedge count, direction/multi-edge/self-loop immune") {
    // K4 on {1,2,3,4}: C(4,3)=4 triangles, every node in exactly 3;
    // node 5 hangs off a star (no closure), self-loop and reversed +
    // duplicate edges must not change anything
    val e = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (3L, 2L), (2L, 3L),           // reverse + duplicate
      (4L, 4L),                     // self-loop
      (1L, 5L)                      // dangling spoke
    ).toDF("src", "dst")
    val got = Graphs.triangles(e)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // single triangle sanity + empty graph
    val one = Graphs.triangles(Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(one === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(Graphs.triangles(Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")).count() === 0L)
  }

  test("trianglesDegreeOrdered ≡ trianglesRawOriented, including a hub-skewed graph") {
    // the degree-ordered orientation must count the SAME triangles while
    // never forming the hub's quadratic wedge set. Fixture: a 12-spoke
    // hub (node 0) with three of the spokes also pairwise connected (so
    // hub triangles exist), plus a separate K4 and a dangling chain.
    val hub = (1L to 12L).map(i => (0L, i))
    val closing = Seq((1L, 2L), (2L, 3L), (1L, 3L)) // spoke triangle + hub closures
    val k4 = Seq((20L, 21L), (20L, 22L), (20L, 23L), (21L, 22L), (21L, 23L), (22L, 23L))
    val chain = Seq((30L, 31L), (31L, 32L))
    val e = (hub ++ closing ++ k4 ++ chain).toDF("src", "dst")
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the RAW-ID orientation is the independent formulation the default
    // (degree-ordered) plan is pinned against — two different wedge
    // distributions, same counts by construction
    val base = toMap(Graphs.trianglesRawOriented(e))
    val ordered = toMap(Graphs.trianglesDegreeOrdered(e))
    assert(ordered === base)
    // and the public default IS the degree-ordered plan
    assert(toMap(Graphs.triangles(e)) === ordered)
    // hand-check the hub's share: triangles (0,1,2), (0,2,3), (0,1,3),
    // (1,2,3) → node 0 in 3, nodes 1-3 in 3 each; K4 nodes in 3 each
    assert(ordered(0L) === 3L)
    assert((20L to 23L).forall(n => ordered(n) === 3L))
    // degree TIES everywhere (a pure triangle): id tie-break still counts once
    val tri = toMap(Graphs.trianglesDegreeOrdered(
      Seq((7L, 8L), (8L, 9L), (9L, 7L)).toDF("src", "dst")))
    assert(tri === Map(7L -> 1L, 8L -> 1L, 9L -> 1L))
  }

  test("release contract: detachSmall leaves zero registered blocks, values unchanged") {
    def registered() = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(registered() === 0)
    // each operator returns a persisted frame the CALLER owns...
    val pr = Graphs.pageRank(triangle, iters = 5)
    assert(registered() > 0, "result frame is pinned for reuse until released")
    val pinned = ranks(pr)
    // ...and detachSmall copies it off the cache and releases everything
    val local = Graphs.detachSmall(pr)
    assert(registered() === 0, "detachSmall must release every block")
    assert(ranks(local) === pinned)
    // direct unpersist() on the returned frame works too (the pin is on
    // the returned frame itself, not an internal wrapper)
    val lp = Graphs.labelPropagate(
      Seq((1L, 2L, 1L)).toDF("src", "dst", "w"),
      Seq((1L, 7L)).toDF("node", "label"), rounds = 2)
    assert(registered() > 0)
    lp.unpersist(blocking = true)
    assert(registered() === 0)
    val bfs = Graphs.bfsHops(triangle, Seq(Tuple1(1L)).toDF("node"), maxRounds = 3)
    assert(registered() > 0)
    assert(Graphs.detachSmall(bfs).count() === 3L)
    assert(registered() === 0)
    // the bound is a loud guard, not a truncation
    val big = Graphs.pageRank(triangle, iters = 1)
    intercept[IllegalArgumentException] { Graphs.detachSmall(big, maxRows = 2) }
    big.unpersist(blocking = true)
  }

  test("loop contract: each entry point returns one caller-bound, cached, releasable frame") {
    def registered() = spark.sparkContext.getPersistentRDDs.size
    val w = triangle.withColumn("w", lit(1L))
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val labels = Seq((1L, 7L)).toDF("node", "label")
    // (entry point, call, driver jobs per call before the loops shared one
    // protocol, with the edge derivation in the static scope)
    val entryPoints = Seq[(String, () => org.apache.spark.sql.DataFrame, Int)](
      ("pageRank", () => Graphs.pageRank(triangle, iters = 3), 3),
      ("pageRankWeighted", () => Graphs.pageRankWeighted(w, iters = 3), 3),
      ("triangles", () => Graphs.triangles(triangle), 2),
      ("bfsHops", () => Graphs.bfsHops(triangle, seeds, maxRounds = 3), 3),
      ("labelPropagate", () => Graphs.labelPropagate(w, labels, rounds = 3), 3),
      ("ssspBounded", () => Graphs.ssspBounded(w, seeds, rounds = 3), 3),
      // converged peel: the last cut is the result and leaves as is
      ("kCore", () => Graphs.kCore(triangle, k = 2, maxRounds = 8), 5),
      // round bound hit: the lazy final filter is counted at the exit
      ("kCore round-bound", () => Graphs.kCore(triangle, k = 2, maxRounds = 1), 4))
    for ((name, call, maxJobs) <- entryPoints) {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val (result, jobs) = jobsDuring(call())
      assert(result.sparkSession eq spark, s"$name: result not bound to the caller")
      assert(readsCacheAdaptively(result.groupBy().count()),
        s"$name: downstream plan is not AdaptiveSparkPlan over InMemoryTableScan")
      assert(registered() === 1, s"$name: exactly the result stays cached")
      assert(jobs <= maxJobs, s"$name: $jobs driver jobs, was $maxJobs")
      result.unpersist(blocking = true)
      assert(registered() === 0, s"$name: unpersist() must release every block")
    }
  }

  private def cores(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def dists(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
    df.collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

  test("ssspBounded: weighted min-relax beats hop-count, improves past settlement") {
    // 1->2 w=10, 1->3 w=1, 3->2 w=1: node 2's 1-hop distance is 10 but
    // the 2-hop path through 3 costs 2 — round 2 must IMPROVE an
    // already-settled node (the case frontier-BFS semantics would miss).
    val e = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(Tuple1(1L)).toDF("node")
    assert(dists(Graphs.ssspBounded(e, seeds, rounds = 1)) ===
      Map(1L -> Some(0L), 2L -> Some(10L), 3L -> Some(1L)))
    assert(dists(Graphs.ssspBounded(e, seeds, rounds = 2)) ===
      Map(1L -> Some(0L), 2L -> Some(2L), 3L -> Some(1L)))
  }

  test("ssspBounded: multi-source min, unreachable null, rounds=0, release") {
    def registered() = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    // two seeds, a node nearer each; 99 is upstream-only -> unreachable
    val e = Seq((1L, 5L, 2L), (2L, 5L, 1L), (99L, 1L, 1L)).toDF("src", "dst", "w")
    val seeds = Seq(Tuple1(1L), Tuple1(2L)).toDF("node")
    val out = Graphs.ssspBounded(e, seeds, rounds = 3)
    assert(dists(out) === Map(1L -> Some(0L), 2L -> Some(0L),
      5L -> Some(1L), 99L -> None))
    assert(registered() > 0)
    assert(Graphs.detachSmall(out).count() === 4L)
    assert(registered() === 0, "detachSmall must release every block")
    // zero rounds: seeds at 0, everything else null
    assert(dists(Graphs.ssspBounded(e, seeds, rounds = 0)) ===
      Map(1L -> Some(0L), 2L -> Some(0L), 5L -> None, 99L -> None))
  }

  test("kCore peels a lollipop to its clique, leaves first then the stalk") {
    // K4 on {1,2,3,4} with a path 4-5-6 hanging off: the 2-core is exactly
    // the K4 (everyone at degree 3); 6 falls in round 1 (deg 1), then 5
    // (its only surviving neighbor is 4). Direction and duplicates must
    // not matter.
    val e = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (4L, 5L), (5L, 4L), (5L, 6L)).toDF("src", "dst")
    val got = cores(Graphs.kCore(e, k = 2, maxRounds = 8))
    assert(got === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // k above the max degree: empty core, not an error
    assert(Graphs.kCore(e, k = 4, maxRounds = 8).count() === 0L)
  }

  test("kCore bounded-round semantics match the unrolled replay mid-peel") {
    // chain 1-2-3-4-5: full peel to empty takes 2 rounds at k=2
    // (ends fall, then everything). maxRounds=1 must return the
    // one-level-unrolled value: survivors {2,3,4} with degrees recomputed
    // inside {2,3,4} — 2-3-4 chain -> deg(3)=2, deg(2)=deg(4)=1, final
    // >=k cut keeps only node 3.
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    assert(cores(Graphs.kCore(chain, k = 2, maxRounds = 1)) === Map(3L -> 2L))
    assert(Graphs.kCore(chain, k = 2, maxRounds = 8).count() === 0L)
    // maxRounds=0: degrees over the raw graph, single >=k cut
    assert(cores(Graphs.kCore(chain, k = 2, maxRounds = 0)) ===
      Map(2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("kCore self-loops dropped, isolated never enter, release contract") {
    def registered() = spark.sparkContext.getPersistentRDDs.size
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    val e = Seq((1L, 1L), (1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val kc = Graphs.kCore(e, k = 2, maxRounds = 8)
    assert(cores(kc) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(registered() > 0, "result frame is pinned until released")
    assert(cores(Graphs.detachSmall(kc)) === Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    assert(registered() === 0, "detachSmall must release every block")
  }

  test("mergeEdgeCounts: extend over disjoint fact slices ≡ full rebuild") {
    val facts = Seq((1L, 2L), (1L, 2L), (2L, 3L), (3L, 1L), (1L, 2L), (2L, 3L))
      .zipWithIndex.map { case ((s, d), i) => (s, d, i.toLong) }
      .toDF("src", "dst", "fact_id")
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.groupBy($"src", $"dst").agg(count(lit(1)).as("n"))
    val merged = Graphs.mergeEdgeCounts(
      counts(facts.filter($"fact_id" % 2 === 0)),
      counts(facts.filter($"fact_id" % 2 === 1)))
    val rebuilt = counts(facts)
    assert(merged.collect().map(_.toSeq).toSet ===
      rebuilt.collect().map(_.toSeq).toSet)
    // a pair present in only one slice survives with its exact count
    assert(merged.filter($"src" === 3 && $"dst" === 1).head().getLong(2) === 1L)
  }

  test("mergeEdgeCounts honours a custom weight column") {
    val base = Seq((1L, 2L, 10L), (2L, 3L, 5L)).toDF("src", "dst", "w")
    val delta = Seq((1L, 2L, 7L), (4L, 5L, 1L)).toDF("src", "dst", "w")
    val out = Graphs.mergeEdgeCounts(base, delta, weightCol = "w")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map((1L, 2L) -> 17L, (2L, 3L) -> 5L, (4L, 5L) -> 1L))
  }
}
