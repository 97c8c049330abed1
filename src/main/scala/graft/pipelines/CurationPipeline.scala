package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Domains, Packing, Sketches, Splits}
import graft.functions.TextFunctions

/** The end-to-end curation flow a pretraining data pipeline runs, composed
  * entirely from the engine's oracle-checked operators:
  *
  *   0. DOMAIN HYGIENE (opt-in via `urlCol`) — normalize each doc's URL to
  *      a domain, drop blocklisted domains, cap any one domain's
  *      contribution at `maxPerDomain` docs preferring longest (docs with
  *      no extractable host bypass the cap — they are not one domain)
  *      ([[Domains]]: per-row regexp + scan-side filter + ONE bounded-heap
  *      aggregate). First, so a single hot domain never inflates the LSH
  *      and components stages downstream;
  *   0a. INTRA-DOC LINE DEDUP (default on, `intraDocDedup = false` to
  *      skip) — first occurrence of every line kept within each doc
  *      ([[TextFunctions.dedupLinesInDoc]], a shuffle-free kernel map;
  *      the C4-style repeated-line removal). Before the corpus-wide
  *      frequency count, so a doc internally repeating a line cannot
  *      push it over the corpus cap single-handedly;
  *   0b. LINE DEDUP (opt-in via `maxLineOccurrences`) — drop lines
  *      repeated more than the cap corpus-wide ([[Dedup.dedupLines]]:
  *      frequency aggregate + hot-set anti-join), and docs left empty.
  *      Before MinHash, so boilerplate chrome never vouches for a
  *      near-dup pair (the CCNet ordering);
  *   1. near-dup DEDUP — MinHash-LSH candidate pairs, connected
  *      components, keep the longest doc per component (`dedupCorpusBy`);
  *   2. DECONTAMINATE — drop kept docs whose shingle containment of any
  *      eval doc reaches the threshold (`contaminationPairs` left-anti);
  *   3. QUALITY FILTER — global quantile breakpoints of the t03 quality
  *      score, keep buckets >= `minQualityBucket` (`quantileBuckets`);
  *   3b. PII SCRUB — email/IPv4/phone tokens redacted to placeholders
  *      (`TextFunctions.scrubPii`, a codegen'd narrow map; `redactPii =
  *      false` keeps raw text). After the quality gate (scores the text a
  *      reader saw), before packing (token counts must be post-redaction);
  *   4. LEAKAGE-SAFE SPLIT — assignment keyed on the near-dup component
  *      representative, so surviving near-dups can never straddle the
  *      train/test fence (`leakageSafeSplit` on the SAME components the
  *      dedup used — one fit, two uses, no drift);
  *   5. PACK — concat-and-chunk token layout per (split, source) shard
  *      (`packChunks`).
  *
  * Every stage is a narrow map, an equi-join, or a bounded aggregate —
  * the pipeline inherits each operator's 100 TB shape and adds no new
  * shuffle beyond the stages' own. Deterministic end to end: no RNG, no
  * row-order dependence, so two runs over the same snapshot produce
  * byte-identical corpora (the property that makes ablations comparable).
  *
  * Returns the surviving docs with `component`, `quality`, `bucket`,
  * `split`, and the packing layout (`n_tokens`, `token_offset`,
  * `chunk_id`) — train-ready.
  */
object CurationPipeline {

  def curate(docs: DataFrame, evalDocs: DataFrame,
      contaminationPermille: Int = 500,
      maxTrainDf: Option[Long] = None,
      qualityBreakpoints: Seq[Int] = Seq(250),
      minQualityBucket: Int = 1,
      splits: Seq[(String, Int)] = Seq("train" -> 900, "val" -> 50, "test" -> 50),
      salt: String = "",
      packBudget: Long = 2048,
      redactPii: Boolean = true,
      urlCol: Option[String] = None,
      blockedDomains: Seq[String] = Nil,
      maxPerDomain: Option[Int] = None,
      maxLineOccurrences: Option[Long] = None,
      intraDocDedup: Boolean = true,
      spanScrubWindow: Option[Int] = None,
      docEmb: Option[DataFrame] = None,
      evalEmb: Option[DataFrame] = None,
      semanticMinCosE6: Long = 400000L,
      detachBound: Option[Int] = None): DataFrame = {
    require(minQualityBucket >= 0 && minQualityBucket <= qualityBreakpoints.size,
      s"minQualityBucket must be in [0, ${qualityBreakpoints.size}], got $minQualityBucket")
    require(urlCol.isDefined || (blockedDomains.isEmpty && maxPerDomain.isEmpty),
      "blockedDomains/maxPerDomain need urlCol: there is no domain to key on without a URL column")
    require(docEmb.isDefined == evalEmb.isDefined,
      "semantic decontamination needs BOTH docEmb (train vectors keyed by doc_id) " +
        "and evalEmb (eval-release vectors) — or neither")
    // The whole composed chain runs in ONE conf-isolated static scope:
    // the pipeline is a KNOWN 8-10 stage shape whose most expensive
    // stages (the LSH pair pipeline + components fixpoint) already ran
    // statically inside components' own scope — the remaining stages
    // were paying one driver job per AQE-materialized exchange across
    // the contamination/quality/split/packing chain.
    // Measured (same-process interleaved A/B, sf0.1 c02 shape, 5 reps):
    // static 17 driver jobs / 7.6 s median vs adaptive 47 jobs / 9.4 s,
    // identical output rows — at a measured 80-100 ms per-job dispatch
    // floor the ~30 saved dispatches are most of the gap, and on a busy
    // cluster scheduler the same multiplier applies. r9's opposite
    // verdict for c01 ("AQE helps its text stages") predates the scope
    // pooling + the schema cache; the LSH pair pipeline was ALREADY
    // static inside components' own scope either way. Session partition
    // width is kept (not
    // estimate-sized): the text stages' exploded intermediates need the
    // full width, and the tiny tail frames' near-empty tasks are cheaper
    // than serializing the kernels.
    // initialNumPartitions: the detachBound guard collect is
    // `limit(cap+1)` with a deliberately huge cap — the default
    // incremental limit-collect (1 partition, then ×4 per retry) pays 4
    // driver jobs re-reading ~1.6× the data before giving up on early
    // exit; starting at full width makes it ONE job over one pass.
    val caller = docs.sparkSession
    graft.ops.PlanScope.isolated(caller,
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.limit.initialNumPartitions" -> "100000") { scoped =>
      curateChain(
        graft.ops.PlanScope.rebind(docs, scoped),
        graft.ops.PlanScope.rebind(evalDocs, scoped),
        contaminationPermille, maxTrainDf, qualityBreakpoints, minQualityBucket,
        splits, salt, packBudget, redactPii, urlCol, blockedDomains, maxPerDomain,
        maxLineOccurrences, intraDocDedup, spanScrubWindow,
        docEmb.map(graft.ops.PlanScope.rebind(_, scoped)),
        evalEmb.map(graft.ops.PlanScope.rebind(_, scoped)),
        semanticMinCosE6, detachBound, caller)
    }
  }

  private def curateChain(docs: DataFrame, evalDocs: DataFrame,
      contaminationPermille: Int,
      maxTrainDf: Option[Long],
      qualityBreakpoints: Seq[Int],
      minQualityBucket: Int,
      splits: Seq[(String, Int)],
      salt: String,
      packBudget: Long,
      redactPii: Boolean,
      urlCol: Option[String],
      blockedDomains: Seq[String],
      maxPerDomain: Option[Int],
      maxLineOccurrences: Option[Long],
      intraDocDedup: Boolean,
      spanScrubWindow: Option[Int],
      docEmb: Option[DataFrame],
      evalEmb: Option[DataFrame],
      semanticMinCosE6: Long,
      detachBound: Option[Int],
      caller: org.apache.spark.sql.SparkSession): DataFrame = {

    // 0. domain hygiene (only when the corpus carries URLs)
    val docs0 = urlCol.fold(docs) { u =>
      val clash = Seq("__domain", "__len").filter(docs.columns.contains)
      require(clash.isEmpty,
        s"column(s) ${clash.mkString(",")} collide with the domain stage's working names; rename first")
      val withDomain = docs.withColumn("__domain", Domains.domainOf(col(u)))
      val unblocked =
        if (blockedDomains.isEmpty) withDomain
        else Domains.filterBlocklist(withDomain, "__domain", blockedDomains)
      maxPerDomain.fold(unblocked.drop("__domain")) { k =>
        // docs with no extractable host (domainOf = "") BYPASS the cap:
        // they are not one domain, and capping them as one group would
        // silently keep only k of every malformed-URL doc in the corpus
        val parseable = unblocked.filter(col("__domain") =!= "")
        parseable.join(
          Domains.capPerDomain(parseable.withColumn("__len",
              TextFunctions.tokenCount(col("text")).cast("long")),
            "doc_id", "__domain", "__len", k)
            .select(col("doc_id")),
          Seq("doc_id"))
          .unionByName(unblocked.filter(col("__domain") === ""))
          .drop("__domain")
      }
    }

    val domainStageActive = docs0 ne docs

    // ENTRY SPREAD: the whole chain from here on is narrow kernel maps
    // over the corpus (minhash banding, shingling, quality scoring). A
    // small corpus arrives as one parquet split — single-row-group files
    // cannot split further — so without this every kernel stage up to the
    // first exchange runs in ONE task (measured on the c02 board shape:
    // 700 ms banding + 305 ms quality single-task stages with 31 cores
    // idle). Conditional on the optimizer size estimate
    // (PlanScope.spreadIfSmall): at 100 TB the scan fans out with its
    // file splits and no exchange is added. Placed AFTER the domain stage
    // — its cap branch unions two legs, and a spread partitioning claim
    // flowing into both union branches fed downstream co-partition reuse
    // a wrong partition count (reproduced SMJ zip failure) — and done
    // ONCE so every stage and pin downstream inherits the parallelism;
    // the per-operator spreads (bandFrame) skip unknown-stats
    // mid-pipeline frames by design and cannot see this.
    val docsSp = graft.ops.PlanScope.spreadIfSmall(docs0, "doc_id")

    // 0a. intra-document repeated-line removal — a pure narrow map, so it
    // adds no shuffle and needs no persist; runs before the corpus-wide
    // frequency count so internal repeats can't inflate a line's corpus df
    val docsI =
      if (intraDocDedup)
        docsSp.withColumn("text", TextFunctions.dedupLinesInDoc(col("text")))
      else docsSp

    // 0b. line-level boilerplate removal; docs reduced to nothing exit
    // here (an empty doc would otherwise survive as a trivial near-dup
    // hub and a zero-token packing row).
    // When the domain stage did real work AND this stage consumes its
    // output more than once (the rejoin below plus dedupLines' two scans),
    // pin it so the cap aggregate + join don't re-execute per consumer
    // — same persist policy as the components labels in step 1.
    // the pin is surfaced (not a local) so the detachBound handover can
    // release it — it was the one cache the "zero blocks left registered"
    // contract missed
    val docsIPin =
      if (maxLineOccurrences.isDefined && domainStageActive)
        Some(docsI.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      else None
    val docsL = maxLineOccurrences.fold(docsI) { cap =>
      val d0 = docsIPin.getOrElse(docsI)
      d0.drop("text")
        .join(Dedup.dedupLines(d0, "doc_id", "text", cap)
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("clean_text").as("text")),
          Seq("doc_id"))
    }

    // 0c. corpus-wide duplicated-SPAN scrub (opt-in via spanScrubWindow)
    // — the Lee et al. substring-level stage: maximal runs of window-hash
    // duplicated tokens removed from every doc, docs scrubbed to nothing
    // exit. BEFORE near-dup detection, so shared boilerplate spans
    // (licence blocks, templated paragraphs) can no longer vouch for an
    // LSH pair between otherwise-unique docs — the same ordering
    // rationale as the line-dedup stage, one granularity finer.
    // The scrub output feeds MANY consumers (LSH pairs, the components
    // fixpoint, keep-longest, the kept re-join, quality, packing). It is
    // a stage boundary (PlanScope.cut), materialized eagerly: left lazy,
    // every consumer's analyzed plan carries the whole window-hash
    // subtree and the composed query pays seconds of repeated Catalyst
    // walks plus re-executions (measured: ~4x its honest cost). The
    // scrubbed corpus is the stage boundary a 100 TB run would checkpoint
    // at anyway. Released in the detachBound handover; otherwise the pin
    // rides the returned plan under the caller's cache contract.
    val docsSCut = spanScrubWindow.map { w =>
      val c = graft.ops.PlanScope.cut(docsL.drop("text").join(
        Dedup.scrubDuplicatedSpans(docsL, windowTokens = w)
          .filter(col("n_kept") > 0)
          .select(col("doc_id"), col("clean_text").as("text")),
        Seq("doc_id")))
      c.pinned.count()
      c
    }
    val docsS = docsSCut.fold(docsL)(_.flat)

    // 1. dedup: keep the longest doc of every near-dup component.
    // components() is EAGER (its pair fetch, and above the driver cap its
    // convergence counts, run at call time) and is the single most
    // expensive stage at corpus scale — so it runs exactly ONCE here, and
    // the labels are a stage boundary (PlanScope.cut) shared by both
    // consumers (the dedup argmax and the split in step 4); the first
    // consumer's action fills it. A plain persist is not enough here: on
    // the distributed path the labels' plan holds the fixpoint's cut
    // faces (and docsS may be the span scrub's), and a consumer that
    // re-instances a face (the self-join dedup of the analyzer; Spark
    // compares a LogicalRDD's partitioning by raw expression id) misses
    // the cache entry and recomputes — c02's span-scrub face did exactly
    // that. The cut stays pinned for the caller's consuming action; so
    // does the fixpoint's final-round cache on the distributed path (the
    // driver path returns a LocalRelation and caches nothing). On block
    // loss Spark recomputes from the pair pipeline (correct, just slower).
    val pairs = Dedup.minhashLshPairs(docsS)
    val (comps0, releaseComponents) = Dedup.componentsWithRelease(docsS, pairs)
    val compsCut = graft.ops.PlanScope.cut(comps0)
    val comps = compsCut.flat
    val kept = docsS.join(
      Dedup.dedupCorpusByComponents(docsS, comps,
          TextFunctions.tokenCount(col("text")).cast("long"))
        .select(col("kept_doc_id").as("doc_id")),
      Seq("doc_id"))

    // 2. decontaminate: drop anything that leaks an eval document.
    // FLAGS OVER THE PRE-DEDUP CORPUS, not the survivors (r16, guide §2
    // "don't compute things you throw away" applied to the PLAN): with no
    // train-df cap, containment is a pure per-(train, eval)-pair function,
    // so flags computed over docsS restricted to kept ≡ flags computed
    // over kept — the anti-join below ignores flags on already-dropped
    // ids. Training the fence on `kept` embedded the WHOLE dedup chain
    // (band join + components argmax + re-join) inside the flag leg's
    // plan, which re-executed it once per flag-side materialization (the
    // c01 stage census read a 1.1 s broadcast-build job replaying the
    // dedup argmax; c02's fit job replayed the contamination join at
    // 26.7 s of task time). Same rationale as the semantic fence below,
    // which always computed flags over the FULL embedding table. With
    // `maxTrainDf` set the hot-shingle cap depends on the train-side df
    // census, which must count survivors — that path keeps `kept`.
    val flagTrain = if (maxTrainDf.isEmpty) docsS else kept
    val flaggedNgram = Dedup.contaminationPairs(flagTrain, evalDocs,
        minPermille = contaminationPermille, maxTrainDf = maxTrainDf)
      .select(col("train_id").as("doc_id"))

    // 2b. SEMANTIC decontamination (opt-in via docEmb + evalEmb): drop
    // survivors whose embedding sits within cosine semanticMinCosE6/1e6
    // of ANY eval vector — the paraphrase leakage the shingle containment
    // above cannot see (graft.operators.Similarity.semanticContamination:
    // shared anchor grid, eval side broadcasts the neighbor offsets, the
    // train corpus is scanned once — never train×train). Docs without an
    // embedding row pass through unflagged: only the n-gram fence covers
    // them, the honest semantics for a partially-embedded corpus.
    // Flags computed over the FULL embedding table, not the survivors:
    // the anti-join below ignores flags on already-dropped ids, so the
    // set is identical — while a survivor semi-join would duplicate the
    // whole dedup subtree inside the flag leg's plan (measured: the
    // composed query re-executed the chain twice). Both fences' flag
    // sets UNION into ONE anti-join (sequential anti-joins ≡ one anti
    // vs the union): one broadcast build per batch instead of two.
    val flaggedAll = docEmb.fold(flaggedNgram) { de =>
      val trainEmb = de.select(col("doc_id").as("vec_id"), col("embedding"))
      flaggedNgram.unionByName(
        graft.operators.Similarity.semanticContamination(
            trainEmb, evalEmb.get, semanticMinCosE6)
          .select(col("train_id").as("doc_id")))
    }
    val clean = kept.join(flaggedAll.distinct(), Seq("doc_id"), "left_anti")

    // 3. quality floor: quantile-bucket the quality score, keep the top.
    // The survivor frame is consumed TWICE — the quantile fit's collect
    // and the bucket-apply-plus-packing tail — and its plan carries both
    // decontamination anti-join legs; unpinned, the whole
    // contamination/semantic subtree re-executes per consumer (measured
    // in the c02 job census: the fit job replayed 19 stages the final
    // collect then replayed again). Pin LAZILY: the fit's collect is the
    // first action and populates the cache, the tail reads it — no extra
    // driver job. Same stage boundary (PlanScope.cut) as the span scrub;
    // released in the detachBound handover, otherwise the pin rides the
    // returned plan under the caller's cache contract (see below).
    // Both the fit and the tail read the cut's flat face: without it
    // every post-fit action (the detach collect, a caller's write)
    // re-ANALYZES the whole dedup + decontamination logical subtree just
    // to have the CacheManager replace it at physical planning — pure
    // Catalyst walk time on a >100-node plan, measured as a real slice of
    // c01/c02's wall.
    val scoredIn = graft.ops.PlanScope.cut(
      clean.withColumn("quality", TextFunctions.qualityScore(col("text"))))
    val fitVals = Sketches.quantileFit(scoredIn.flat, "quality", qualityBreakpoints)
    val scored = Sketches.applyQuantileBuckets(scoredIn.flat, "quality", fitVals)
    val good = scored.filter(col("bucket") >= minQualityBucket)

    // 3b. redact PII — after quality (scored on what a reader saw),
    // before packing (offsets must count post-redaction tokens)
    val redacted =
      if (redactPii) good.withColumn("text", TextFunctions.scrubPii(col("text")))
      else good

    // 4. leakage-safe split on the SAME components the dedup used
    // comps is read through its cut face, whose statistics are the plan
    // estimate from cut time, not the cached size, so this join plans as
    // a sort-merge join. Against a broadcast of the filled cache (A/B at
    // sf0.1, 4 cores, 5 reps, two alternating pairs): c01 2.26/2.88 ->
    // 2.29/2.35 s and 11 -> 9 jobs, c02 3.42/3.89 -> 3.41/3.64 s and
    // 13 -> 11 jobs.
    val split = Splits.leakageSafeSplit(redacted, comps, splits, salt)

    // 5. pack into token-budget chunks per (split, source) shard
    val sharded = split.withColumn("shard",
      concat_ws("/", col("split"), col("source")))
    val packed = Packing.packChunks(sharded, "shard", packBudget,
      TextFunctions.tokenCount(col("text")).cast("long"))

    // Cache contract: (and scope note — the un-detached return is a plan
    // bound to the static scope clone, so it EXECUTES statically when
    // consumed: right for the known pipeline shape, and the detachBound
    // handover below is the path that hands a caller-conf frame back)
    // — the returned plan references the pinned `comps`,
    // span-scrub, and `scoredIn` survivor frames (releasing them
    // pre-return would recompute the LSH fixpoint / decontamination legs
    // on consumption), so by default the PINS OUTLIVE the call and belong
    // to the caller's consuming action — at corpus scale you write the
    // result and move on, and a long-lived session clears its cache
    // between curation runs. `detachBound` opts into the bounded-result
    // handover instead: materialize the curated corpus once, release
    // every internal cache, and return a plan-free LocalRelation —
    // zero blocks left registered (the test/bench-harness shape; the
    // bound is a loud guard against collecting an unbounded corpus).
    detachBound.fold(packed) { cap =>
      // single pass straight to the driver (persisting the text-heavy
      // frame first would pay an extra materialization for nothing —
      // the rows are leaving the cluster either way)
      graft.ops.Detach.toLocal(packed, cap, caller,
        s"curate detachBound: result exceeds $cap rows — drop detachBound " +
          "and write the returned frame instead") {
        compsCut.release()
        releaseComponents() // the fixpoint's final-round cache (see
                            // componentsWithRelease) — with it, "zero
                            // blocks left registered" holds exactly
        docsIPin.foreach(_.unpersist(blocking = false))
        docsSCut.foreach(_.release())
        scoredIn.release()
      }
    }
  }

  /** The frozen artifacts of a corpus RELEASE — everything a
    * steady-state [[curateDelta]] serving loop probes INSTEAD of the
    * corpus: the exact-dup digest frame, the LSH band frame, the quality
    * quantile fit, and the released layout's per-shard token totals.
    * Build once per release cut with [[releaseArtifacts]]; pass to every
    * delta batch's [[curateDeltaWith]] (a stream calls it per micro-batch
    * inside [[graft.streaming.StreamingOps.foreachBatchSink]]). Call
    * [[Release.unpersist]] when superseded by the next release. */
  final case class Release(
      digests: DataFrame,
      bands: DataFrame,
      qualityBreakValues: Seq[Long],
      shardBase: DataFrame) {
    def unpersist(): Unit = {
      digests.unpersist(false); bands.unpersist(false)
      shardBase.unpersist(false); ()
    }
  }

  /** Cut the RELEASE ARTIFACTS for a corpus release — the one-per-release
    * build that turns [[curateDelta]] from a one-call convenience (which
    * re-derives everything from the corpus per batch) into the
    * steady-state serving loop (each batch touches the release only
    * through these bounded frames):
    *
    *  - `screenDocs` (doc_id, text): what future batches must not
    *    duplicate — typically the RAW corpus the release was curated
    *    from (nothing ever seen is re-admitted, even docs curation
    *    dropped: re-admitting a previously-rejected doc is never
    *    right), or the curated survivors for a keep-best-faithful
    *    screen. Digest + band frames and the quality fit derive from it
    *    with the SAME banding/quantile params the delta passes will use.
    *  - `curatedPacked`: [[curate]]'s output (shard, n_tokens) — rolled
    *    up into the per-shard token totals (`shardBase`) that make delta
    *    packing APPEND to the released layout.
    *
    * The frames are lazily persisted (`MEMORY_AND_DISK`) — the first
    * batch's probe materializes them; sized O(corpus) rows but only a
    * digest/band/total per row, never the text. */
  def releaseArtifacts(screenDocs: DataFrame, curatedPacked: DataFrame,
      qualityBreakpoints: Seq[Int] = Seq(250),
      shingleN: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3): Release = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    Release(
      Dedup.corpusDigests(screenDocs).persist(lvl),
      Dedup.corpusBands(screenDocs, shingleN, numHashes, rowsPerBand).persist(lvl),
      Sketches.quantileFit(
        screenDocs.withColumn("quality", TextFunctions.qualityScore(col("text"))),
        "quality", qualityBreakpoints),
      curatedPacked.groupBy(col("shard"))
        .agg(sum(col("n_tokens")).as("base_tokens")).persist(lvl))
  }

  /** Release-to-release DIFF — the churn audit a release cadence
    * publishes next to every cut: which documents were ADDED, DROPPED,
    * or CHANGED between two releases (unchanged docs — the overwhelming
    * majority — are omitted, so the report scales with churn, not
    * corpus). The number that gates a release ship ("why did 4% of the
    * corpus churn?") and the input to incremental re-training
    * decisions.
    *
    * Shape: each side reduced to (id, md5(text)) at the scan — the join
    * carries two longs + a digest per row, never the text — then ONE
    * full-outer equi-join on the id. Nothing quadratic, no window; at
    * 100 TB this is a co-partitionable hash join on the id.
    *
    * @return (doc_id: long, status: added | dropped | changed)
    */
  def releaseDiff(oldRelease: DataFrame, newRelease: DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // presence flags, not digest nullness (the oracle's o.doc_id IS NULL
    // rule): md5(null text) is null, so digest-null presence would report
    // a present-but-null-text row as added/dropped; the null-safe <=>
    // keeps a null↔non-null text flip classified as changed
    val o = oldRelease.select(col(idCol).cast("long").as("doc_id"),
      md5(col(textCol)).as("__old"), lit(true).as("__in_old"))
    val n = newRelease.select(col(idCol).cast("long").as("doc_id"),
      md5(col(textCol)).as("__new"), lit(true).as("__in_new"))
    o.join(n, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("__in_old").isNull, lit("added"))
          .when(col("__in_new").isNull, lit("dropped"))
          .when(!(col("__old") <=> col("__new")), lit("changed")))
      .filter(col("status").isNotNull)
      .select(col("doc_id"), col("status"))
  }

  /** [[curateDelta]] against a prebuilt [[Release]] — the steady-state
    * serving entry point (artifact plumbing done once, per-batch calls
    * stay one line). */
  def curateDeltaWith(release: Release, corpus: DataFrame,
      newDocs: DataFrame, evalDocs: DataFrame,
      contaminationPermille: Int = 500,
      maxTrainDf: Option[Long] = None,
      minQualityBucket: Int = 1,
      splits: Seq[(String, Int)] = Seq("train" -> 900, "val" -> 50, "test" -> 50),
      salt: String = "",
      packBudget: Long = 2048,
      redactPii: Boolean = true,
      shingleN: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3,
      minJaccardPermille: Int = 800,
      docEmb: Option[DataFrame] = None,
      evalEmb: Option[DataFrame] = None,
      semanticMinCosE6: Long = 400000L,
      detachBound: Option[Int] = None): DataFrame =
    curateDelta(corpus, newDocs, evalDocs,
      corpusDigests = Some(release.digests),
      corpusBands = Some(release.bands),
      qualityBreakValues = Some(release.qualityBreakValues),
      contaminationPermille = contaminationPermille,
      maxTrainDf = maxTrainDf,
      minQualityBucket = minQualityBucket,
      splits = splits, salt = salt, packBudget = packBudget,
      redactPii = redactPii,
      shingleN = shingleN, numHashes = numHashes, rowsPerBand = rowsPerBand,
      minJaccardPermille = minJaccardPermille,
      docEmb = docEmb, evalEmb = evalEmb,
      semanticMinCosE6 = semanticMinCosE6,
      shardBase = Some(release.shardBase),
      detachBound = detachBound)

  /** INCREMENTAL curation — admit a new crawl snapshot against a
    * RELEASED curated corpus, the serving face of [[curate]]: the
    * released corpus is immutable (its docs were already deduped,
    * decontaminated, quality-gated, split, and packed), and each
    * arriving batch runs the same gauntlet AGAINST the release without
    * ever recomputing it:
    *
    *   1. DELTA DEDUP — [[Dedup.dedupDeltaWith]]: batch docs that
    *      exactly or near-duplicate the corpus (or a lower-id batch doc)
    *      are rejected; the corpus is touched only through its
    *      pre-aggregated digest + LSH band frames plus a candidate-hit
    *      text sliver. Batch ids must sit strictly above corpus ids
    *      (dedupDelta's guarded id contract).
    *   2. DELTA DECONTAMINATION — shingle containment of the admitted
    *      docs vs the eval release ([[Dedup.contaminationPairs]]), plus
    *      the optional SEMANTIC fence over batch embeddings
    *      ([[graft.operators.Similarity.semanticContamination]], flags
    *      computed over the full `docEmb` table — the c02 lesson: a
    *      survivor semi-join would duplicate the admission chain inside
    *      the flag leg).
    *   3. QUALITY — apply the RELEASED quantile fit
    *      (`qualityBreakValues`, built once per release via
    *      [[Sketches.quantileFit]]); re-fitting on a batch would drift
    *      the gate with the batch mix. When absent, the fit is derived
    *      from the released corpus here (one corpus scan — fine for a
    *      one-shot call, freeze the artifact for steady-state serving).
    *   4. SPLIT — leakage-safe by construction WITHOUT a fixpoint:
    *      every admitted doc near-duplicates neither the corpus nor a
    *      surviving batch peer (stage 1 guarantees it), so each is its
    *      own component and splits on its own id — exactly where the
    *      full-corpus recompute would put it.
    *   5. PACK — per-(split, source) shard layout over the batch;
    *      `shardBase` (shard, base_tokens — the released corpus's
    *      per-shard token totals) rebases offsets/chunk ids so the delta
    *      APPENDS to the released layout instead of restarting it.
    *
    * Stream ≡ batch: call this method inside
    * [[graft.streaming.StreamingOps.foreachBatchSink]], so a one-batch
    * stream equals the batch call exactly.
    * Admission is conservative relative to a full recompute
    * (dedupDelta's set-based rule; a batch doc that near-dups a corpus
    * doc is rejected even where keep-longest would have preferred it) —
    * at real ingestion ratios the safe direction, and the release
    * cadence re-runs [[curate]] from raw when the balance matters.
    *
    * Same static-scope + detach contract as [[curate]]; all artifacts
    * (`corpusDigests`/`corpusBands`/`qualityBreakValues`/`shardBase`)
    * default to a derivation from `corpus` for one-call use.
    */
  def curateDelta(corpus: DataFrame, newDocs: DataFrame, evalDocs: DataFrame,
      corpusDigests: Option[DataFrame] = None,
      corpusBands: Option[DataFrame] = None,
      qualityBreakValues: Option[Seq[Long]] = None,
      contaminationPermille: Int = 500,
      maxTrainDf: Option[Long] = None,
      qualityBreakpoints: Seq[Int] = Seq(250),
      minQualityBucket: Int = 1,
      splits: Seq[(String, Int)] = Seq("train" -> 900, "val" -> 50, "test" -> 50),
      salt: String = "",
      packBudget: Long = 2048,
      redactPii: Boolean = true,
      shingleN: Int = 3, numHashes: Int = 12, rowsPerBand: Int = 3,
      minJaccardPermille: Int = 800,
      docEmb: Option[DataFrame] = None,
      evalEmb: Option[DataFrame] = None,
      semanticMinCosE6: Long = 400000L,
      shardBase: Option[DataFrame] = None,
      detachBound: Option[Int] = None): DataFrame = {
    // Validate against the EFFECTIVE fit length: when a released fit is
    // supplied (qualityBreakValues — e.g. via curateDeltaWith), its size is
    // the bucket count and `qualityBreakpoints` is ignored entirely, so a
    // release cut with 3 breakpoints must accept minQualityBucket up to 3
    // even though the unused default Seq(250) has length 1.
    val effectiveBuckets =
      qualityBreakValues.map(_.size).getOrElse(qualityBreakpoints.size)
    require(minQualityBucket >= 0 && minQualityBucket <= effectiveBuckets,
      s"minQualityBucket must be in [0, $effectiveBuckets], got $minQualityBucket")
    require(docEmb.isDefined == evalEmb.isDefined,
      "semantic decontamination needs BOTH docEmb and evalEmb — or neither")
    val caller = newDocs.sparkSession
    val packed = graft.ops.PlanScope.isolated(caller,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.limit.initialNumPartitions" -> "100000") { scoped =>
      def in(df: DataFrame) = graft.ops.PlanScope.rebind(df, scoped)
      // NO entry spread here, deliberately (unlike curateChain): an A/B
      // at matched floor read c03 4.5 → 9.5 s with a 15 s GC storm when
      // the corpus leg was spread — the delta path consumes the corpus
      // through dedupDeltaWith's digest/band/text-sliver legs, where the
      // added exchange re-executes per consuming job and defeats the
      // band-join build-side choices. The fit leg's single-task quality
      // pass is ~90 ms here (batch-sized admission, not corpus curation).
      val corpusS = in(corpus)
      // NO batch-side entry spread either (r16, measured and rejected
      // like r15's corpus-leg spread): 10-rep A/B at a healthy ~9 ms
      // floor read c03 2.53 → 3.55 s / c04 2.30 → 2.62 s with the batch
      // spread on — the added exchange re-executes in every job that
      // consumes the batch (digest legs, band frame, verify union,
      // admission anti-join, flag leg) and costs more than the 32×
      // kernel parallelism buys on a serving-sized batch.
      val batchS = in(newDocs)
      // 1. delta dedup against the release artifacts (derived here when
      // not supplied — dedupDeltaWith's build-over-the-exact-set contract)
      val admitted = Dedup.dedupDeltaWith(corpusS,
        corpusDigests.map(in).getOrElse(Dedup.corpusDigests(corpusS)),
        corpusBands.map(in).getOrElse(
          Dedup.corpusBands(corpusS, shingleN, numHashes, rowsPerBand)),
        batchS, shingleN, numHashes, rowsPerBand, minJaccardPermille)
      // 2. decontamination (n-gram, then the optional semantic fence)
      // both fences' flag sets union into ONE anti-join (≡ sequential
      // anti-joins) — one broadcast build per admission batch, not two.
      // FLAGS OVER THE RAW BATCH, not the admitted survivors (r16, same
      // argument as curateChain's flagTrain): containment without a
      // train-df cap is per-pair, and the anti-join ignores flags on
      // rejected ids — while training the fence on `admitted` embedded
      // the whole delta-dedup admission (band joins + verify + anti-join)
      // inside the flag leg AND lost the entry spread (admitted is a
      // mid-pipeline frame with unknown stats, so the shingle kernel ran
      // single-task over the one-split batch; batchS has scan stats and
      // spreads). maxTrainDf set → the df census must count survivors —
      // that path keeps `admitted`.
      val flaggedNgram = Dedup.contaminationPairs(
          if (maxTrainDf.isEmpty) batchS else admitted, in(evalDocs),
          minPermille = contaminationPermille, maxTrainDf = maxTrainDf)
        .select(col("train_id").as("doc_id"))
      val flaggedAll = docEmb.fold(flaggedNgram) { de =>
        val batchEmb = in(de).select(col("doc_id").as("vec_id"), col("embedding"))
        flaggedNgram.unionByName(
          graft.operators.Similarity.semanticContamination(
              batchEmb, in(evalEmb.get), semanticMinCosE6)
            .select(col("train_id").as("doc_id")))
      }
      val clean = admitted.join(flaggedAll.distinct(), Seq("doc_id"), "left_anti")
      // 3. quality gate under the released fit
      val fit = qualityBreakValues.getOrElse(Sketches.quantileFit(
        corpusS.withColumn("quality", TextFunctions.qualityScore(col("text"))),
        "quality", qualityBreakpoints))
      val scored = Sketches.applyQuantileBuckets(
        clean.withColumn("quality", TextFunctions.qualityScore(col("text"))),
        "quality", fit)
      val good = scored.filter(col("bucket") >= minQualityBucket)
      // 3b. redact PII (same placement rationale as curate)
      val redacted =
        if (redactPii) good.withColumn("text", TextFunctions.scrubPii(col("text")))
        else good
      // 4. split — own-id components (see the scaladoc: guaranteed by
      // stage 1). DIRECT per-row map (r16): the former
      // `leakageSafeSplit(redacted, redacted.select(doc_id, doc_id as
      // component))` self-joined the frame with its own projection — a
      // left join that matches every row exactly once (ids unique), so
      // `coalesce(component, doc_id) ≡ doc_id` and the join is the
      // identity. The join's build side re-executed the WHOLE
      // post-admission chain (admission anti-join + quality + redaction)
      // as its own single-task broadcast job per consuming action (the
      // c03 census read two ~0.6 s single-task broadcast stages plus a
      // 12 s-taskSum rebuild). Same column order (component, split
      // appended), same splitColumn rule — bit-identical output,
      // spec-pinned by the c03/c04 oracles and CurationPipelineSpec.
      val split = redacted
        .withColumn("component", col("doc_id"))
        .withColumn("split",
          Splits.splitColumn(col("component"), splits, salt))
      // 5. pack the batch; rebase onto the released layout when given
      val sharded = split.withColumn("shard",
        concat_ws("/", col("split"), col("source")))
      val packed0 = Packing.packChunks(sharded, "shard", packBudget,
        TextFunctions.tokenCount(col("text")).cast("long"))
      shardBase.fold(packed0) { sb =>
        packed0.join(in(sb).select(col("shard"),
            col("base_tokens").cast("long").as("__base")), Seq("shard"), "left")
          .withColumn("token_offset",
            col("token_offset") + coalesce(col("__base"), lit(0L)))
          .withColumn("chunk_id", expr(s"token_offset DIV $packBudget"))
          .drop("__base")
      }
    }
    detachBound.fold(packed) { cap =>
      // nothing stays registered: dedupDeltaWith already released its
      // candidate pin and detached its rejected ids to a LocalRelation
      graft.ops.Detach.toLocal(packed, cap, caller,
        s"curateDelta detachBound: result exceeds $cap rows — drop detachBound " +
          "and write the returned frame instead")(())
    }
  }
}
