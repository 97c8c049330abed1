package graft

import org.apache.spark.sql.functions._
import graft.pipelines.CurationPipeline

/** End-to-end invariants of the composed curation flow — each stage is
  * oracle-checked on its own; this spec pins that the COMPOSITION holds
  * its promises on the real corpus: planted leaks are gone, no near-dup
  * straddles a split fence, the quality floor holds, the packing layout
  * is consistent, and the whole run is deterministic.
  */
class CurationPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")

  // eval set: doc 5's text verbatim — the pipeline must quarantine doc 5
  private def evalDocs = docs.filter($"doc_id" === 5L)
    .select(($"doc_id" + 900000L).as("doc_id"), $"text")

  private def run() = CurationPipeline.curate(docs, evalDocs)

  test("curation output: leaks gone, quality floor holds, one doc per component") {
    val out = run().cache()
    try {
      val n = out.count()
      assert(n > 0 && n < docs.count(), s"pipeline dropped nothing or everything: $n")
      // the planted eval leak (doc 5, containment 1000) must be gone
      assert(out.filter($"doc_id" === 5L).count() === 0L, "contaminated doc survived")
      // quality floor: every survivor is at or above the minimum bucket
      assert(out.filter($"bucket" < 1).count() === 0L)
      // dedup kept exactly one doc per near-dup component, so no two
      // survivors share a component — and therefore none straddle a fence
      assert(out.select($"component").distinct().count() === n)
      // split totality over survivors
      val splits = out.select($"split").distinct().as[String].collect().toSet
      assert(splits.subsetOf(Set("train", "val", "test")) && splits.contains("train"))
    } finally { out.unpersist(); () }
  }

  test("curation packing layout: offsets are exact prefix sums per shard") {
    val out = run()
    val rows = out.select($"shard", $"doc_id", $"n_tokens", $"token_offset", $"chunk_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    rows.groupBy(_._1).foreach { case (shard, rs) =>
      var offset = 0L
      rs.sortBy(_._2).foreach { case (_, id, nt, off, chunk) =>
        assert(off === offset, s"shard $shard doc $id offset $off != $offset")
        assert(chunk === off / 2048L, s"shard $shard doc $id chunk mismatch")
        offset += nt
      }
    }
  }

  test("curation line-dedup stage strips boilerplate before near-dup detection") {
    // plant a hot boilerplate line on every even doc and one all-boilerplate doc
    val planted = docs.withColumn("text",
        when($"doc_id" % 2 === 0, concat($"text", lit("\nSubscribe now")))
          .otherwise($"text"))
      .union(docs.sparkSession.createDataFrame(
        java.util.List.of(org.apache.spark.sql.Row(888888L, "Subscribe now", "en", "src0", 13L)),
        docs.schema))
    val out = CurationPipeline.curate(planted, evalDocs,
      maxLineOccurrences = Some(10L)).cache()
    try {
      // the all-boilerplate doc is emptied by the line stage and exits
      assert(out.filter($"doc_id" === 888888L).count() === 0L)
      // survivors' token counts never include the stripped line: their
      // n_tokens equal the unplanted pipeline's for the same doc ids
      val base = CurationPipeline.curate(docs, evalDocs,
        maxLineOccurrences = Some(10L))
      val diff = out.select($"doc_id", $"n_tokens")
        .join(base.select($"doc_id", $"n_tokens".as("nt0")), Seq("doc_id"))
        .filter($"n_tokens" =!= $"nt0").count()
      assert(diff === 0L, s"$diff docs kept boilerplate tokens")
    } finally { out.unpersist(); () }
  }

  test("intra-doc dedup stage drops internal repeats (and can be disabled)") {
    // plant the same line twice inside every doc; default run keeps one
    // copy, opting out keeps both — visible through the packed n_tokens
    val planted = docs.withColumn("text",
      concat($"text", lit("\nrepeated interior line\nrepeated interior line")))
    val deduped = CurationPipeline.curate(planted, evalDocs)
      .select($"doc_id", $"n_tokens")
    val kept = CurationPipeline.curate(planted, evalDocs, intraDocDedup = false)
      .select($"doc_id", $"n_tokens".as("nt_raw"))
    val joined = deduped.join(kept, Seq("doc_id"))
      .select($"doc_id", $"n_tokens", $"nt_raw")
      .as[(Long, Long, Long)].collect()
    assert(joined.nonEmpty)
    // tokens split on single spaces, so "wk\nrepeated" fuses into one
    // token at each line boundary: the planted copy adds
    // ["line\nrepeated", "interior", "line"] = 3 tokens and removes the
    // standalone "line" ending the first copy — net +2 per doc
    joined.foreach { case (id, nt, ntRaw) =>
      assert(ntRaw === nt + 2L, s"doc $id: dedup $nt vs raw $ntRaw")
    }
  }

  test("curation is deterministic end to end") {
    val a = run().collect().map(_.toSeq).toSet
    val b = run().collect().map(_.toSeq).toSet
    assert(a === b)
  }

  test("pii scrub stage redacts surviving text (and can be disabled)") {
    val planted = docs.withColumn("text", concat($"text", lit(" probe@leak.com")))
    val out = CurationPipeline.curate(planted, evalDocs)
      .select($"text").as[String].collect()
    assert(out.nonEmpty)
    assert(out.forall(t => !t.contains("probe@leak.com") && t.endsWith("<EMAIL>")))
    val raw = CurationPipeline.curate(planted, evalDocs, redactPii = false)
      .select($"text").as[String].collect()
    assert(raw.nonEmpty && raw.forall(_.endsWith("probe@leak.com")))
  }

  test("domain hygiene stage: blocklist drops, per-domain cap binds, opt-out intact") {
    // URLs planted per source: every doc of srcN lives on srcN.example.com
    val withUrls = docs.withColumn("url",
      concat(lit("https://www."), $"source", lit(".example.com/p/"), $"doc_id"))
    val out = CurationPipeline.curate(withUrls, evalDocs,
      urlCol = Some("url"), blockedDomains = Seq("src3.example.com"),
      maxPerDomain = Some(3)).cache()
    try {
      assert(out.filter($"source" === "src3").count() === 0L, "blocklisted domain survived")
      // the cap binds BEFORE dedup/quality, so survivors per domain ≤ 3
      val maxPer = out.groupBy($"source").count().agg(max("count")).as[Long].head()
      assert(maxPer <= 3L, s"domain cap exceeded: $maxPer")
      assert(out.count() > 0L)
    } finally { out.unpersist(); () }
    // guard: domain params without a URL column must fail loudly
    intercept[IllegalArgumentException] {
      CurationPipeline.curate(docs, evalDocs, blockedDomains = Seq("x.com"))
    }
  }

  test("docs with no extractable host bypass the per-domain cap") {
    // every unparseable URL maps to domain ""; capping them as ONE domain
    // would silently keep k of them — the cap must not apply
    val withUrls = docs.withColumn("url",
      when(pmod($"doc_id", lit(2)) === 0, lit(""))   // no host at all
        .otherwise(concat(lit("https://one.example.com/p/"), $"doc_id")))
    val out = CurationPipeline.curate(withUrls, evalDocs,
      urlCol = Some("url"), maxPerDomain = Some(2)).cache()
    try {
      // the single parseable domain is capped…
      assert(out.filter($"url".contains("example.com")).count() <= 2L)
      // …while the unparseable half passes the cap stage: far more than
      // k survive (bounded only by downstream dedup/quality, not the cap)
      assert(out.filter($"url" === "").count() > 2L,
        "unparseable-URL docs were capped as one domain")
    } finally { out.unpersist(); () }
  }

  test("null-url docs take the no-host bypass and survive the domain stage") {
    // url IS NULL is routine crawl data; domainOf(null) = "" routes these
    // rows into the bypass fork — before the coalesce they matched
    // NEITHER fork and vanished silently
    val withUrls = docs.withColumn("url",
      when(pmod($"doc_id", lit(2)) === 0, lit(null).cast("string"))
        .otherwise(concat(lit("https://one.example.com/p/"), $"doc_id")))
    val out = CurationPipeline.curate(withUrls, evalDocs,
      urlCol = Some("url"), maxPerDomain = Some(2)).cache()
    try {
      assert(out.filter($"url".isNull).count() > 2L,
        "null-url docs were dropped (or capped as one domain) by the domain stage")
    } finally { out.unpersist(); () }
  }

  test("detachBound handover leaves zero persistent blocks, all stages active") {
    // the full flag set — domain hygiene + line dedup (the docsI pin),
    // span scrub, quality fit — then the detach handover: every internal
    // cache must be released (getPersistentRDDs returns to the baseline)
    val withUrls = docs.withColumn("url",
      concat(lit("https://d"), pmod($"doc_id", lit(3)), lit(".example.com/p/"), $"doc_id"))
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = CurationPipeline.curate(withUrls, evalDocs,
      urlCol = Some("url"), maxPerDomain = Some(50),
      maxLineOccurrences = Some(50), spanScrubWindow = Some(8),
      detachBound = Some(10000))
    assert(out.count() > 0)
    assert(spark.sparkContext.getPersistentRDDs.size === before,
      "curate's detachBound handover left cached blocks registered")
  }

  test("curateDelta detachBound handover leaves zero persistent blocks") {
    // the delta face of the test above: a batch with an exact and a near
    // duplicate (so the rejected-id set is not empty) through the
    // detachBound handover — nothing of dedupDeltaWith may stay registered
    val long = (1 to 30).map(i => s"tok$i").mkString(" ")
    val corpus = Seq((1L, long, "web"), (2L, "other " + long.reverse, "web"))
      .toDF("doc_id", "text", "source")
    val batch = Seq((10L, long, "web"), (11L, long + " extra", "web"),
        (12L, "novel " + (1 to 20).map(i => s"new$i").mkString(" "), "web"))
      .toDF("doc_id", "text", "source")
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = CurationPipeline.curateDelta(corpus, batch, evalDocs,
      qualityBreakValues = Some(Seq(-1L)), redactPii = false, detachBound = Some(1000))
    assert(out.select("doc_id").distinct().collect().map(_.getLong(0)).toSet === Set(12L))
    assert(spark.sparkContext.getPersistentRDDs.size === before,
      "curateDelta's detachBound handover left cached blocks registered")
  }

  test("curate runs the components fixpoint exactly once") {
    // the fixpoint is eager and the pipeline's dominant stage at scale;
    // both consumers (dedup argmax + leakage-safe split) must share ONE
    // execution — dedupCorpusByComponents exists for exactly this
    val before = graft.operators.Dedup.componentsRuns.get()
    run().write.mode("overwrite").format("noop").save()
    val ran = graft.operators.Dedup.componentsRuns.get() - before
    assert(ran === 1L, s"curate triggered $ran components() executions, expected 1")
  }

  // ---- curateDelta: the incremental (serving) face ----

  test("curateDelta admission gauntlet: dups rejected, leaks quarantined, survivors train-ready") {
    val long = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"zzz$i").mkString(" ")
    val evalText = (1 to 30).map(i => s"evl$i").mkString(" ")
    val corpus = Seq((1L, long, "web"), (2L, other, "web"))
      .toDF("doc_id", "text", "source")
    val batch = Seq(
      (10L, long, "web"),            // exact dup of corpus 1 → rejected
      (11L, long + " extra", "web"), // near-dup of corpus 1 (jac ≈ 965‰) → rejected
      (12L, evalText, "web"),        // leaks the eval release verbatim → quarantined
      (13L, "novel " + (1 to 20).map(i => s"new$i").mkString(" "), "web"),
      (14L, "novel " + (1 to 20).map(i => s"nw$i").mkString(" "), "crawl"))
      .toDF("doc_id", "text", "source")
    val ev = Seq((900L, evalText)).toDF("doc_id", "text")
    val out = CurationPipeline.curateDelta(corpus, batch, ev,
      qualityBreakValues = Some(Seq(-1L)), // released fit: everything passes
      redactPii = false, detachBound = Some(1000)).cache()
    try {
      val ids = out.select($"doc_id").as[Long].collect().toSet
      assert(ids === Set(13L, 14L), s"admitted $ids")
      // own-id components (stage-1 guarantee), quality floor, split totality
      assert(out.filter($"component" =!= $"doc_id").count() === 0L)
      assert(out.filter($"bucket" < 1).count() === 0L)
      val shards = out.select($"shard").as[String].collect()
      assert(shards.forall(s => s.endsWith("/web") || s.endsWith("/crawl")))
      // per-shard packed layout starts at zero for an un-rebased batch
      assert(out.filter($"token_offset" < 0).count() === 0L)
    } finally { out.unpersist(); () }
  }

  test("curateDelta: frozen release artifacts ≡ derived-from-corpus, exactly") {
    import graft.operators.{Dedup, Sketches}
    val corpus = docs.filter($"doc_id" < 250)
    val batch = docs.filter($"doc_id" >= 250)
    val ev = docs.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 2000000L).as("doc_id"), $"text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val derived = rows(CurationPipeline.curateDelta(corpus, batch, ev,
      redactPii = false, detachBound = Some(1 << 20)))
    val digests = Dedup.corpusDigests(corpus).persist()
    val bands = Dedup.corpusBands(corpus).persist()
    val fit = Sketches.quantileFit(corpus.withColumn("quality",
      graft.functions.TextFunctions.qualityScore($"text")), "quality", Seq(250))
    try {
      val served = rows(CurationPipeline.curateDelta(corpus, batch, ev,
        corpusDigests = Some(digests), corpusBands = Some(bands),
        qualityBreakValues = Some(fit),
        redactPii = false, detachBound = Some(1 << 20)))
      assert(served === derived && derived.nonEmpty)
    } finally { digests.unpersist(); bands.unpersist(); () }
  }

  test("release lifecycle: curate -> releaseArtifacts -> curateDeltaWith appends to the release") {
    import graft.operators.Sketches
    val corpus = docs.filter($"doc_id" < 250)
    val batch = docs.filter($"doc_id" >= 250)
    val ev = docs.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 2000000L).as("doc_id"), $"text")
    // cut a release: curate the corpus, freeze the artifacts
    val curated = CurationPipeline.curate(corpus, ev,
      redactPii = false, intraDocDedup = false, detachBound = Some(1 << 20))
    val rel = CurationPipeline.releaseArtifacts(
      corpus.select($"doc_id", $"text"), curated)
    try {
      val out = CurationPipeline.curateDeltaWith(rel, corpus, batch, ev,
        redactPii = false, detachBound = Some(1 << 20))
        .select($"doc_id", $"shard", $"token_offset", $"chunk_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(out.nonEmpty)
      // the delta APPENDS: every admitted doc lands at or past its
      // shard's released token total (exactly at it for the first doc)
      val base = rel.shardBase.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      out.groupBy(_._2).foreach { case (shard, rs) =>
        val b = base.getOrElse(shard, 0L)
        assert(rs.forall(_._3 >= b), s"shard $shard offsets below released total $b")
        assert(rs.map(_._3).min === b, s"shard $shard first delta doc not at $b")
      }
      // the packaged entry point ≡ the explicit-artifact call, exactly
      val fit = Sketches.quantileFit(corpus.withColumn("quality",
        graft.functions.TextFunctions.qualityScore($"text")), "quality", Seq(250))
      val explicit = CurationPipeline.curateDelta(corpus, batch, ev,
        corpusDigests = Some(rel.digests), corpusBands = Some(rel.bands),
        qualityBreakValues = Some(fit), shardBase = Some(rel.shardBase),
        redactPii = false, detachBound = Some(1 << 20))
        .select($"doc_id", $"shard", $"token_offset", $"chunk_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(out.sortBy(_._1).toSeq === explicit.sortBy(_._1).toSeq)
    } finally { rel.unpersist(); () }
  }

  test("curateDelta validates minQualityBucket against the RELEASED fit length") {
    import graft.operators.Sketches
    val corpus = docs.filter($"doc_id" < 100)
    val batch = docs.filter($"doc_id" >= 100 && $"doc_id" < 120)
    val ev = docs.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 2000000L).as("doc_id"), $"text")
    // a 3-breakpoint fit (4 buckets): minQualityBucket up to 3 is valid
    // even though the ignored default qualityBreakpoints has length 1 —
    // the spurious require on the unused default was the bug
    val fit = Sketches.quantileFit(corpus.withColumn("quality",
      graft.functions.TextFunctions.qualityScore($"text")),
      "quality", Seq(250, 500, 750))
    assert(fit.size === 3)
    val out = CurationPipeline.curateDelta(corpus, batch, ev,
      qualityBreakValues = Some(fit), minQualityBucket = 3,
      redactPii = false, detachBound = Some(1 << 20))
    out.collect() // plans and runs; admitted set may be small, must not throw
    // beyond the effective fit is still rejected
    intercept[IllegalArgumentException] {
      CurationPipeline.curateDelta(corpus, batch, ev,
        qualityBreakValues = Some(fit), minQualityBucket = 4)
    }
    // and the packaged serving entry point accepts the same range
    val curated = CurationPipeline.curate(corpus, ev,
      redactPii = false, intraDocDedup = false, detachBound = Some(1 << 20))
    val rel = CurationPipeline.releaseArtifacts(
      corpus.select($"doc_id", $"text"), curated,
      qualityBreakpoints = Seq(250, 500, 750))
    try CurationPipeline.curateDeltaWith(rel, corpus, batch, ev,
      minQualityBucket = 2, redactPii = false,
      detachBound = Some(1 << 20)).collect()
    finally { rel.unpersist(); () }
  }

  test("releaseDiff: added/dropped/changed only, unchanged omitted") {
    val oldRel = Seq((1L, "same"), (2L, "was this"), (3L, "gone")).toDF("doc_id", "text")
    val newRel = Seq((1L, "same"), (2L, "now this"), (4L, "fresh")).toDF("doc_id", "text")
    val got = CurationPipeline.releaseDiff(oldRel, newRel)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(2L -> "changed", 3L -> "dropped", 4L -> "added"))
    // identical releases → empty report
    assert(CurationPipeline.releaseDiff(oldRel, oldRel).count() === 0L)
  }

  test("releaseDiff classifies by row presence, not digest nullness") {
    // md5(null text) is null: presence must come from the row, or a
    // present-but-null-text doc reads as added/dropped
    val oldRel = Seq((5L, Option.empty[String]), (6L, Option.empty[String]),
      (7L, Some("x"))).toDF("doc_id", "text")
    val newRel = Seq((6L, Option.empty[String]), (7L, Option.empty[String]),
      (8L, Some("y"))).toDF("doc_id", "text")
    val got = CurationPipeline.releaseDiff(oldRel, newRel)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // 5 dropped (was present, null text); 6 unchanged (null on both
    // sides, omitted); 7 changed (text -> null); 8 added
    assert(got === Map(5L -> "dropped", 7L -> "changed", 8L -> "added"))
  }

  test("curateDelta semantic fence: paraphrase leakage the n-gram gate misses is dropped") {
    // doc 11 shares NO shingle with the eval release (different words)
    // but its embedding is nearly parallel to an eval vector — only the
    // semantic fence can catch it; doc 13 is orthogonal and survives
    val corpus = Seq((1L, (1 to 30).map(i => s"zz$i").mkString(" "), "web"))
      .toDF("doc_id", "text", "source")
    val batch = Seq(
      (11L, "paraphrased " + (1 to 20).map(i => s"pp$i").mkString(" "), "web"),
      (13L, "novel " + (1 to 20).map(i => s"new$i").mkString(" "), "web"))
      .toDF("doc_id", "text", "source")
    val ev = Seq((900L, (1 to 30).map(i => s"evl$i").mkString(" "))).toDF("doc_id", "text")
    val e1 = Array(1.0f, 0.0f, 0.0f, 0.0f)
    val e1ish = Array(0.999f, 0.04f, 0.0f, 0.0f)
    val ortho = Array(0.0f, 0.0f, 1.0f, 0.0f)
    val batchEmb = Seq((11L, e1ish), (13L, ortho)).toDF("doc_id", "embedding")
    val evalEmb = Seq((800L, e1)).toDF("vec_id", "embedding")
    val out = CurationPipeline.curateDelta(corpus, batch, ev,
      qualityBreakValues = Some(Seq(-1L)), redactPii = false,
      docEmb = Some(batchEmb), evalEmb = Some(evalEmb),
      semanticMinCosE6 = 950000L, detachBound = Some(1000))
    assert(out.select($"doc_id").as[Long].collect().toSet === Set(13L))
    // fence off → both survive (the n-gram gate alone sees nothing)
    val off = CurationPipeline.curateDelta(corpus, batch, ev,
      qualityBreakValues = Some(Seq(-1L)), redactPii = false,
      detachBound = Some(1000))
    assert(off.select($"doc_id").as[Long].collect().toSet === Set(11L, 13L))
  }

  test("curateDelta shardBase: the delta APPENDS to the released layout") {
    val batch = Seq(
      (10L, "novel " + (1 to 20).map(i => s"aa$i").mkString(" "), "web"),
      (11L, "novel " + (1 to 20).map(i => s"bb$i").mkString(" "), "web"),
      (12L, "novel " + (1 to 20).map(i => s"cc$i").mkString(" "), "web"))
      .toDF("doc_id", "text", "source")
    val corpus = Seq((1L, (1 to 30).map(i => s"zz$i").mkString(" "), "web"))
      .toDF("doc_id", "text", "source")
    val ev = Seq((900L, "unrelated eval text nobody leaks")).toDF("doc_id", "text")
    def run(base: Option[org.apache.spark.sql.DataFrame]) =
      CurationPipeline.curateDelta(corpus, batch, ev,
        qualityBreakValues = Some(Seq(-1L)), redactPii = false,
        shardBase = base, detachBound = Some(1000))
        .select($"doc_id", $"shard", $"n_tokens", $"token_offset", $"chunk_id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val plain = run(None)
    assert(plain.nonEmpty)
    // released layout: every shard already holds 5000 tokens
    val base = plain.map(_._2).distinct.toSeq.toDF("shard")
      .withColumn("base_tokens", lit(5000L))
    val rebased = run(Some(base)).map(r => (r._1, r)).toMap
    plain.foreach { case (id, shard, nt, off, _) =>
      val (_, rShard, rNt, rOff, rChunk) = rebased(id)
      assert(rShard === shard && rNt === nt)
      assert(rOff === off + 5000L, s"doc $id offset not rebased")
      assert(rChunk === (off + 5000L) / 2048L, s"doc $id chunk not recomputed")
    }
    // a shard absent from the base frame rebases by zero (left join)
    val partial = run(Some(Seq(("no/such-shard", 7000L)).toDF("shard", "base_tokens")))
      .map(r => (r._1, r._4)).toMap
    plain.foreach { case (id, _, _, off, _) => assert(partial(id) === off) }
  }
}
