package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._
import graft.operators.{Dedup, Similarity}
import graft.multimodal.{MediaFeatures, MediaRecord, Multimodal}

class NorthStarSpec extends SparkTestBase {
  import spark.implicits._

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")

  test("exactDedup groups identical texts and keeps the min doc_id") {
    val d = docs((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
    val got = Dedup.exactDedup(d).select("keep_id", "n_copies")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L), (3L, 1L)))
  }

  test("minhash LSH finds near-identical docs and skips unrelated ones") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearDup = base + " extra"
    val other = (1 to 30).map(i => s"other$i").mkString(" ")
    val pairs = Dedup.minhashLshPairs(docs((1L, base), (2L, nearDup), (3L, other)))
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 2L)))
  }

  test("vocabGrowth: first-occurrence buckets, zero-buckets kept, cum monotone") {
    val d = Seq(
      (0L, "a b"), (1L, "a c"),      // bucket 0: types a b c
      (2L, "a b c"),                 // bucket 1: nothing new
      (4L, "d d d"),                 // bucket 2: type d
      (5L, "")                       // bucket 2 too: empty doc
    ).toDF("doc_id", "text")
    val got = graft.operators.Keywords.vocabGrowth(d, "doc_id", "text", bucketSize = 2L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(got === Seq((0L, 3L, 3L), (1L, 0L, 3L), (2L, 1L, 4L)))
    intercept[IllegalArgumentException] {
      graft.operators.Keywords.vocabGrowth(d, "doc_id", "text", bucketSize = 0L)
    }
  }

  test("sceneCuts: per-frame deltas from one row; images and 1-frame videos excluded") {
    import spark.implicits._
    val feats = Seq(
      // video, 3 frames, constant feature 0.5 -> m=500;
      // p(t,i) = 500*(t+i+1) % 1000 alternates 0/500 by parity of (t+i+1)
      MediaFeatures(1L, "video", 16, 16, 3, Array.fill(8)(0.5f)),
      MediaFeatures(2L, "image", 16, 16, 1, Array.fill(8)(0.9f)),
      MediaFeatures(3L, "video", 16, 16, 1, Array.fill(8)(0.9f))
    ).toDF()
    val got = Multimodal.sceneCuts(feats, threshold = 2600L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2))
    // every p flips 0<->500 per t step: delta = 8*500 = 4000 -> cut
    assert(got === Seq((1L, 1L, 4000L, 1L), (1L, 2L, 4000L, 1L)))
  }

  test("lshEvalReport: counts candidates vs jaccard truth; empty corpus gives null rates") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    // 1-2 near-dup (true + captured); 3-4 share HALF their shingles —
    // candidates by some band collision are possible but they are NOT
    // jaccard>=0.8 truth, so precision may dip while recall holds
    val half = (1 to 15).map(i => s"tok$i").mkString(" ") + " " +
      (1 to 15).map(i => s"zzz$i").mkString(" ")
    val r = Dedup.lshEvalReport(
      docs((1L, base), (2L, base + " extra"), (3L, half), (4L, half + " more")))
      .collect()(0)
    val (nc, nt, nh) = (r.getAs[Long]("n_candidates"), r.getAs[Long]("n_truth"),
      r.getAs[Long]("n_hits"))
    assert(nt >= 1L && nh >= 1L && nh <= math.min(nc, nt))
    assert(r.getAs[Long]("recall_permille") === (1000 * nh) / nt)
    assert(r.getAs[Long]("precision_permille") === (1000 * nh) / nc)
    // empty corpus: zero counts, rates null not division-by-zero
    val e = Dedup.lshEvalReport(Seq.empty[(Long, String)].toDF("doc_id", "text"))
      .collect()(0)
    assert(e.getAs[Long]("n_candidates") === 0L && e.getAs[Long]("n_truth") === 0L)
    assert(e.isNullAt(e.fieldIndex("precision_permille")) &&
      e.isNullAt(e.fieldIndex("recall_permille")))
  }

  test("simhash: identical docs collide at hamming 0; disjoint docs don't pair") {
    val t = "spark window batch stream table join"
    val o = "zzz yyy xxx www vvv uuu"
    val got = Dedup.simhashPairs(docs((1L, t), (2L, t), (3L, o)))
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"), r.getAs[Long]("hamming")))
    assert(got.toSeq === Seq((1L, 2L, 0L)))
  }

  test("ngram jaccard computes exact intersection/union counts") {
    // shingles(1): {a b c, b c d, c d e}; shingles(2): {a b c, b c d, c d x}
    // inter=2 union=4 → 500 permille
    val got = Dedup.ngramJaccardPairs(
      docs((1L, "a b c d e"), (2L, "a b c d x")), minPermille = 500).collect()(0)
    assert(got.getAs[Long]("inter_cnt") === 2L)
    assert(got.getAs[Long]("union_cnt") === 4L)
    assert(got.getAs[Long]("jac_permille") === 500L)
  }

  private def vecs(rows: (Long, Seq[Float])*) =
    rows.map { case (id, v) => (id, v.toArray) }.toDF("vec_id", "embedding")

  test("dedupCorpusBy keeps the highest-scoring doc per component, min id on ties") {
    val d = docs(
      1L -> "a b", 2L -> "a b c d e", 3L -> "a b c d e", // 1-2-3 one cluster
      9L -> "z q")                                       // singleton
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val kept = graft.operators.Dedup.dedupCorpusBy(
        d, pairs, graft.functions.TextFunctions.tokenCount(col("text")).cast("long"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // cluster canonical = 1; longest docs are 2 and 3 (5 tokens) -> keep 2
    assert(kept(1L) === ((2L, 5L)))
    assert(kept(9L) === ((9L, 2L)))

    // fractional scores must NOT be truncated: 0.95 beats 0.40 even
    // though both floor to 0 (the argmax compares the raw double)
    val frac = Seq((1L, 0.40), (2L, 0.95), (3L, 0.10)).toDF("doc_id", "q")
      .join(d, "doc_id")
    val keptFrac = graft.operators.Dedup.dedupCorpusBy(frac, pairs, col("q"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(keptFrac(1L) === ((2L, 0.95)))
  }

  test("dedupDelta admits only batch docs novel vs corpus AND vs lower batch ids") {
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"other$i").mkString(" ")
    val fresh = (1 to 30).map(i => s"fresh$i").mkString(" ")
    val corpus = docs((1L, base), (2L, other))
    val batch = docs(
      (10L, base),             // exact dup of corpus -> rejected
      (11L, other + " extra"), // near-dup of corpus -> rejected
      (12L, fresh),            // novel -> accepted
      (13L, fresh),            // exact dup of lower batch id 12 -> rejected
      (14L, fresh + " extra")) // near-dup of lower batch id 12 -> rejected
    val got = Dedup.dedupDelta(corpus, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(12L))
  }

  test("dedupDelta conservative rule: near-dup of a REJECTED lower batch id still rejects") {
    val a = (1 to 30).map(i => s"w$i").mkString(" ")
    val corpus = docs((1L, a))
    // 10 near-dups corpus (rejected); 11 near-dups 10 and NOT corpus
    // tightly enough... construct a chain instead: 10 ~ corpus, 11 ~ 10.
    val batch = docs(
      (10L, a + " x1"),
      (11L, a + " x1 x2"))
    val got = Dedup.dedupDelta(corpus, batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 11 pairs with 10 (lower batch id) regardless of 10's own rejection
    assert(got === Set.empty[Long])
  }

  test("dedupDeltaWith on persisted corpus frames ≡ dedupDelta") {
    // the serving shape: digest + band frames round-trip through parquet
    // (one release build, many batches) and must admit the same set
    val base = (1 to 30).map(i => s"tok$i").mkString(" ")
    val other = (1 to 30).map(i => s"other$i").mkString(" ")
    val fresh = (1 to 30).map(i => s"fresh$i").mkString(" ")
    val corpus = docs((1L, base), (2L, other))
    val batch = docs(
      (10L, base), (11L, other + " extra"), (12L, fresh),
      (13L, fresh), (14L, fresh + " extra"))
    val dir = java.nio.file.Files.createTempDirectory("delta-frames").toString
    Dedup.corpusDigests(corpus).write.mode("overwrite").parquet(s"$dir/fp")
    Dedup.corpusBands(corpus).write.mode("overwrite").parquet(s"$dir/bands")
    val got = Dedup.dedupDeltaWith(corpus,
        spark.read.parquet(s"$dir/fp"), spark.read.parquet(s"$dir/bands"), batch)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === Set(12L))
  }

  test("dedupDelta id contract fires inside the call, even with zero rejected docs") {
    // batch id BELOW the corpus max and fully novel text: nothing is
    // rejected, so a guard attached only to rejected ROWS would silently
    // pass — the contract must still fail loudly at the call
    val corpus = docs((5L, (1 to 30).map(i => s"c$i").mkString(" ")))
    val batch = docs((3L, (1 to 30).map(i => s"n$i").mkString(" ")))
    val ex = intercept[Exception] { Dedup.dedupDelta(corpus, batch) }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    assert(msgs(ex).contains("id contract violated"),
      s"expected the id-contract message, got: ${msgs(ex).take(300)}")
  }

  test("dedupDelta non-castable-id failure keeps its diagnostic (concat must not null out)") {
    import spark.implicits._
    // all-string ids cast to NULL: both extrema are null, and a
    // null-propagating concat would reduce the whole crafted message to
    // a bare "null" — the coalesce must keep the count + remediation text
    val corpus = Seq(("a", "alpha text one"), ("b", "beta text two"))
      .toDF("doc_id", "text")
    val batch = Seq(("c", "gamma text three")).toDF("doc_id", "text")
    val ex = intercept[Exception] { Dedup.dedupDelta(corpus, batch) }
    def msgs(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + msgs(t.getCause)
    assert(msgs(ex).contains("non-castable ids=3"),
      s"expected the non-castable diagnostic, got: ${msgs(ex).take(300)}")
  }

  test("dedupDelta fails loudly past its rejected-id cap and keeps no blocks") {
    // two batch docs are exact duplicates of the corpus: a cap of one
    // rejected id must fail the call with the cap's message, and the
    // pinned pair cache must still be released
    val text = (1 to 30).map(i => s"c$i").mkString(" ")
    val corpus = docs((1L, text), (2L, text + " tail"))
    val batch = docs((10L, text), (11L, text + " tail"))
    val before = spark.sparkContext.getPersistentRDDs.size
    val ex = intercept[IllegalArgumentException] {
      Dedup.dedupDeltaWithImpl(corpus, Dedup.corpusDigests(corpus), Dedup.corpusBands(corpus),
        batch, shingleN = 3, numHashes = 12, rowsPerBand = 3, minJaccardPermille = 800,
        rejectCap = 1)
    }
    assert(ex.getMessage.contains("the batch rejects more than 1 ids"), ex.getMessage)
    assert(spark.sparkContext.getPersistentRDDs.size === before)
  }

  test("dedupLines drops corpus-hot lines, keeps order, empties fully-boilerplate docs") {
    // "ad" appears 3× corpus-wide (> max 2) → dropped everywhere;
    // "body one/two/three" unique → kept; doc 4 is ALL boilerplate → "".
    val d = docs(
      (1L, "body one\nad\nbody two"),
      (2L, "ad\nbody three"),
      (3L, "body four"),
      (4L, "ad"))
    val got = Dedup.dedupLines(d, "doc_id", "text", maxOccurrences = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got === Set(
      (1L, "body one\nbody two", 2L, 1L),
      (2L, "body three", 1L, 1L),
      (3L, "body four", 1L, 0L),
      (4L, "", 0L, 1L)))
  }

  test("dedupLines at the fence: exactly maxOccurrences repeats are kept") {
    val d = docs((1L, "dup\nx"), (2L, "dup\ny"))
    val got = Dedup.dedupLines(d, "doc_id", "text", maxOccurrences = 2)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(1L -> "dup\nx", 2L -> "dup\ny"))
    val tighter = Dedup.dedupLines(d, "doc_id", "text", maxOccurrences = 1)
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(tighter === Map(1L -> "x", 2L -> "y"))
  }

  test("tfidfTopK ranks by exact tf/df ppm, ties by token, skips empty docs") {
    val d = docs(
      (1L, "apple banana apple"),
      (2L, "banana cherry"),
      (3L, "date"),
      (4L, ""))
    val got = graft.operators.Keywords.tfidfTopK(d, "doc_id", "text", k = 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    // df: apple 1, banana 2, cherry 1, date 1
    assert(got === Set(
      (1L, 1, "apple", 2L, 1L, 2000000L),
      (1L, 2, "banana", 1L, 2L, 500000L),
      (2L, 1, "cherry", 1L, 1L, 1000000L),
      (2L, 2, "banana", 1L, 2L, 500000L),
      (3L, 1, "date", 1L, 1L, 1000000L)))
  }

  test("tfidfTopK breaks equal scores by token ascending") {
    val d = docs((1L, "zeta alpha"))
    val got = graft.operators.Keywords.tfidfTopK(d, "doc_id", "text", k = 2)
      .collect().map(r => (r.getInt(1), r.getString(2))).toSet
    assert(got === Set((1, "alpha"), (2, "zeta")))
  }

  test("contaminationPairs flags embedded eval text by containment, not jaccard") {
    val train = docs(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "one two three four five six seven eight nine ten")
    // eval doc 100 is a short span embedded in train doc 1: jaccard vs the
    // long doc is low, but containment must hit 1000; eval 101 is unrelated
    val evalDocs = docs(
      100L -> "beta gamma delta epsilon",
      101L -> "red orange yellow green blue indigo")
    val hits = graft.operators.Dedup.contaminationPairs(train, evalDocs, 3, 500)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    assert(hits === Set((1L, 100L, 1000L)))
  }

  test("contaminationPairs maxTrainDf drops hot shingles; containment only falls") {
    // "common common common phrase" shingles appear in both train docs;
    // the rare tail distinguishes them. With the cap at 1, shingles in
    // both train docs are dropped from the index, so eval 100 (built
    // from the shared phrase) loses its only evidence, while eval 101
    // (containing doc 2's rare tail) keeps its hit with a lower count.
    val train = docs(
      1L -> "common phrase here and rare alpha beta gamma delta",
      2L -> "common phrase here and rare epsilon zeta eta theta")
    val evalDocs = docs(
      100L -> "common phrase here and",
      101L -> "rare epsilon zeta eta theta")
    val exact = graft.operators.Dedup.contaminationPairs(train, evalDocs, 3, 500)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val capped = graft.operators.Dedup.contaminationPairs(train, evalDocs, 3, 500,
        maxTrainDf = Some(1L))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    assert(exact.contains((1L, 100L)) && exact.contains((2L, 100L)))
    assert(!capped.contains((1L, 100L)) && !capped.contains((2L, 100L)))
    assert(capped.contains((2L, 101L)))
    // under-approximation only: no capped containment exceeds the exact one
    assert(capped.forall { case (k, v) => v <= exact.getOrElse(k, 0L) })
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.contaminationPairs(train, evalDocs, 3, 0)
    }
  }

  test("evalShingleIndex maxEvalDf drops eval-side hot shingles, keeps full n_ev") {
    import org.apache.spark.sql.functions.{col, countDistinct}
    // "common phrase here and" shingles into trigrams shared by both eval
    // docs (eval df 2); each doc's tail shingles are unique (eval df 1)
    val evalDocs = docs(
      100L -> "common phrase here and rare alpha beta gamma",
      101L -> "common phrase here and rare epsilon zeta eta")
    val exact = graft.operators.Dedup.evalShingleIndex(evalDocs)
    val capped = graft.operators.Dedup.evalShingleIndex(evalDocs, maxEvalDf = Some(1L))
    val hotShingles = exact.groupBy(col("sh"))
      .agg(countDistinct(col("eval_id")).as("df")).filter(col("df") > 1)
      .collect().map(_.getLong(0)).toSet
    assert(hotShingles.nonEmpty)
    val cappedShingles = capped.select("sh").collect().map(_.getLong(0)).toSet
    assert(cappedShingles.intersect(hotShingles).isEmpty)
    // n_ev stays the FULL per-doc set size (under-count contract: the
    // denominator never shrinks, so containment can only fall)
    val exactNev = exact.select("eval_id", "n_ev").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cappedNev = capped.select("eval_id", "n_ev").distinct()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cappedNev === exactNev)
    intercept[IllegalArgumentException] {
      graft.operators.Dedup.evalShingleIndex(evalDocs, maxEvalDf = Some(0L))
    }
  }

  test("packChunks: offsets are exact prefix sums, chunks cut every budget") {
    val df = Seq(
      (1L, "a", 5L), (2L, "a", 4L), (3L, "a", 2L), (4L, "b", 7L))
      .toDF("doc_id", "source", "nt")
    val out = graft.operators.Packing.packChunks(df, "source", 8L, col("nt"))
      .select($"doc_id", $"token_offset", $"chunk_id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // stream a: offsets 0, 5, 9 -> chunks 0, 0, 1; stream b restarts at 0
    assert(out(1L) === ((0L, 0L)))
    assert(out(2L) === ((5L, 0L)))
    assert(out(3L) === ((9L, 1L)))
    assert(out(4L) === ((0L, 0L)))
    intercept[IllegalArgumentException] {
      graft.operators.Packing.packChunks(df, "source", 0L, col("nt"))
    }
  }

  test("semanticNearDupPairs with one cell ≡ exact all-pairs cosine") {
    val emb = Seq(
      (0L, Array(1f, 0f, 0f)), (1L, Array(0.99f, 0.1f, 0f)),
      (2L, Array(0f, 1f, 0f)), (3L, Array(0f, 0.98f, 0.2f)),
      (4L, Array(0.6f, 0.6f, 0.5f))).toDF("vec_id", "embedding")
    val t = 900000L
    val got = Similarity.semanticNearDupPairs(emb, nCells = 1, minCosE6 = t)
      .select("doc_a", "doc_b", "cos_e6")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exp = emb.as("a").join(emb.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id", $"b.vec_id",
        Similarity.cosineE6($"a.embedding", $"b.embedding").as("c"))
      .filter($"c" >= t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === exp && got.nonEmpty)
  }

  test("semanticNearDupPairs finds within-cluster dups in separated clusters") {
    // two tight clusters far apart; ids 0/1 seed the two cells
    val emb = Seq(
      (0L, Array(1f, 0f)), (1L, Array(0f, 1f)),
      (2L, Array(0.995f, 0.05f)), (3L, Array(0.05f, 0.995f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticNearDupPairs(emb, nCells = 2, minCosE6 = 990000L)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((0L, 2L), (1L, 3L)))
  }

  test("bruteForceKnn ranks by exact cosine") {
    val e = vecs(
      (0L, Seq(1f, 0f)), (1L, Seq(1f, 0.1f)), (2L, Seq(0.5f, 0.5f)), (3L, Seq(0f, 1f)))
    val got = Similarity.bruteForceKnn(e, e.filter($"vec_id" === 0), k = 3)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(got === Seq(1L, 2L, 3L))
  }

  test("QualityModel.filterDocs keeps exactly the scoreDocs keep=1 rows") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val scored = graft.operators.QualityModel.scoreDocs(docs, "doc_id", "text")
    val keepIds = scored.filter($"keep" === 1L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val kept = graft.operators.QualityModel.filterDocs(docs, "doc_id", "text")
    assert(kept.columns.toSeq === docs.columns.toSeq) // schema untouched
    val gotIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotIds === keepIds)
    // threshold sweep: stricter threshold keeps a subset
    val strict = graft.operators.QualityModel.filterDocs(docs, "doc_id", "text",
        thresholdMilli = 50L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(strict.subsetOf(gotIds) && strict.size < gotIds.size && gotIds.size < 500)
  }

  test("hardNegatives: different label only, inside the band, ranked") {
    // q=(1,0), label 0. Candidates: same-label near-dup (excluded by
    // label), a too-similar different-label vec (excluded by hi fence),
    // two in-band hard negatives (kept, ranked), one easy negative
    // (excluded by lo fence).
    val e = Seq(
      (0L, Array(1f, 0f), 0),        // query
      (1L, Array(0.99f, 0.01f), 0),  // same label — out regardless of cos
      (2L, Array(0.995f, 0.1f), 1),  // cos≈0.995 > hi — positive zone, out
      (3L, Array(0.6f, 0.8f), 1),    // cos=0.6 — in band, rank 1
      (4L, Array(0.3f, 0.954f), 2),  // cos≈0.3 — in band, rank 2
      (5L, Array(-1f, 0f), 1))       // cos=-1 — easy negative, out
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(e, e.filter($"vec_id" === 0), k = 5,
      loE6 = 100000L, hiE6 = 900000L)
      .orderBy("rank").collect().map(r =>
        (r.getAs[Int]("rank"), r.getAs[Long]("neighbor_id")))
    assert(got.toSeq === Seq((1, 3L), (2, 4L)))
  }

  test("hardNegatives ≡ band+label-filtered brute ranking on real embeddings") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter($"vec_id" < 10)
    val got = Similarity.hardNegatives(emb, q, k = 4, loE6 = 50000L, hiE6 = 299999L)
      .collect().map(_.toSeq).toSet
    // independent naive form: score all pairs, filter, window-rank
    import org.apache.spark.sql.expressions.Window
    val scored = emb.select($"vec_id".as("neighbor_id"), $"label".as("nl"),
        $"embedding".as("nv"))
      .crossJoin(q.select($"vec_id".as("query_id"), $"label".as("ql"),
        $"embedding".as("qv")))
      .filter($"query_id" =!= $"neighbor_id" && $"ql" =!= $"nl")
      .withColumn("cos_e6", Similarity.cosineE6($"qv", $"nv"))
      .filter($"cos_e6".between(50000L, 299999L))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"cos_e6".desc, $"neighbor_id")))
      .filter($"rank" <= 4)
      .select($"query_id", $"rank", $"neighbor_id", $"cos_e6")
    assert(got === scored.collect().map(_.toSeq).toSet && got.nonEmpty)
  }

  test("ivfKnn returns exact top-k when every cell is probed") {
    val e = vecs(
      (0L, Seq(1f, 0f)), (1L, Seq(0.9f, 0.1f)), (2L, Seq(-1f, 0f)), (3L, Seq(-0.9f, -0.2f)),
      (4L, Seq(0.95f, 0.05f)))
    val brute = Similarity.bruteForceKnn(e, e.filter($"vec_id" === 4), k = 2)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    val ivf = Similarity.ivfKnn(e, e.filter($"vec_id" === 4), k = 2, nCells = 2, nprobe = 2)
      .orderBy("rank").collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(ivf === brute)
  }

  test("recallSweep: per-level rows match recallAtK, recall is monotone, full probe is exact") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 8)
    val sweep = Similarity.recallSweep(emb, q, k = 3, nCells = 4, nprobes = Seq(1, 2, 4))
      .orderBy("nprobe").collect()
      .map(r => r.getAs[Long]("nprobe") ->
        (r.getAs[Long]("n_queries"), r.getAs[Long]("n_truth"),
         r.getAs[Long]("n_hits"), r.getAs[Long]("recall_permille")))
    assert(sweep.map(_._1).toSeq === Seq(1L, 2L, 4L))
    // each level must equal the standalone single-level report — the
    // shared-candidate-frame derivation is an optimization, not a new
    // semantics
    sweep.foreach { case (np, row) =>
      val single = Similarity.recallAtK(emb, q, k = 3, nCells = 4, nprobe = np.toInt)
        .collect()(0)
      assert(row === (single.getAs[Long]("n_queries"), single.getAs[Long]("n_truth"),
        single.getAs[Long]("n_hits"), single.getAs[Long]("recall_permille")),
        s"sweep row at nprobe=$np diverges from recallAtK")
    }
    // probing more cells never loses a true neighbor; probing all is exact
    assert(sweep.map(_._2._4).toSeq === sweep.map(_._2._4).toSeq.sorted, s"recall not monotone: $sweep")
    assert(sweep.last._2._4 === 1000L, s"full probe not exact: ${sweep.last}")
  }

  test("bitextMarginMine under full probe ≡ brute-force-derived ratio margin") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val src = emb.filter(col("vec_id") % 2 === 0)
    val tgt = emb.filter(col("vec_id") % 2 === 1)
    val queries = src.filter(col("vec_id") < 8)
    // nprobe = nCells probes every cell → both directions are exact, so
    // the mining rule can be replayed from brute-force top-k in plain
    // Scala: top-3 filtered to non-negative cosine, avg = sum div count,
    // margin = (2e6·cos) div (avg_src + avg_tgt), best target per source
    val k = 3
    def topk(corpus: org.apache.spark.sql.DataFrame, qs: org.apache.spark.sql.DataFrame) =
      graft.operators.Similarity.bruteForceKnn(corpus, qs, k)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
          r.getAs[Long]("cos_e6")))
        .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).filter(_._2 >= 0L).toSeq).toMap
    val fwd = topk(tgt, queries)
    val candIds = fwd.values.flatten.map(_._1).toSet
    val bwd = topk(src, tgt.filter(col("vec_id").isInCollection(candIds)))
    val expected = fwd.flatMap { case (q, nbrs) =>
      if (nbrs.isEmpty) None else {
        val avgSrc = nbrs.map(_._2).sum / nbrs.size
        val scoredNbrs = nbrs.flatMap { case (nb, ce) =>
          bwd.get(nb).filter(_.nonEmpty).map(_.map(_._2)).map(cs => cs.sum / cs.size)
            .filter(avgTgt => avgSrc + avgTgt > 0L)
            .map(avgTgt => (nb, ce, 2000000L * ce / (avgSrc + avgTgt)))
        }
        if (scoredNbrs.isEmpty) None
        else Some {
          val best = scoredNbrs.minBy { case (nb, _, m) => (-m, nb) }
          (q, best._1, best._2, best._3)
        }
      }
    }.toSet
    val got = graft.operators.Similarity.bitextMarginMine(
        src, tgt, queries, k = k, nCells = 4, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got === expected && got.nonEmpty)
  }

  test("bitextMarginMine with overlapping id spaces keeps the aligned (i,i) pair") {
    // src and tgt share vec_ids 0-3 — the aligned translation pair
    // id-collides by construction. Cross-corpus probes must NOT treat id
    // equality as a self-match: before excludeSelf=false these four rows
    // were silently dropped and mining returned the wrong (or no) pair.
    val src = vecs((0L, Seq(1f, 0f, 0f)), (1L, Seq(0f, 1f, 0f)),
      (2L, Seq(0f, 0f, 1f)), (3L, Seq(0.7f, 0.7f, 0f)))
    val tgt = vecs((0L, Seq(0.99f, 0.05f, 0f)), (1L, Seq(0.05f, 0.99f, 0f)),
      (2L, Seq(0f, 0.05f, 0.99f)), (3L, Seq(0.69f, 0.71f, 0.02f)))
    val got = graft.operators.Similarity.bitextMarginMine(
        src, tgt, src, k = 2, nCells = 2, nprobe = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("prebuilt IVF index probes identically to the per-call form") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(col("vec_id") < 10)
    val perCall = graft.operators.Similarity.ivfKnn(emb, q, k = 3, nCells = 8, nprobe = 2)
      .collect().map(_.toSeq).toSet
    val idx = graft.operators.Similarity.buildIvf(emb, nCells = 8)
      .persist() // the served-index shape: build once, cache, probe many
    try {
      val a = graft.operators.Similarity.ivfKnnWith(idx, q, k = 3, nprobe = 2)
        .collect().map(_.toSeq).toSet
      val b = graft.operators.Similarity.ivfKnnWith(idx, q, k = 3, nprobe = 2)
        .collect().map(_.toSeq).toSet
      assert(a === perCall && b === perCall)
    } finally idx.unpersist()
  }

  test("cosine matches a hand-computed value in micro-units") {
    val e = vecs((0L, Seq(3f, 4f)), (1L, Seq(4f, 3f)))
    val got = Similarity.embeddingNearDupPairs(e, minCosE6 = 0L).collect()(0)
    assert(got.getAs[Long]("cos_e6") === 960000L) // cos = 24/25
  }

  test("text functions: tokens, bpe count, langId, fingerprint determinism") {
    val d = Seq(
      (1L, "the quick fox is in the barn"),
      (2L, "el que la de y en los dias"),
      (3L, "xq zz"),
      (4L, "a1b2 c!")
    ).toDF("doc_id", "text")
    val got = d.select(
      col("doc_id"),
      tokenCount(col("text")).as("nt"),
      bpeTokenCount(col("text")).as("bpe"),
      langId(col("text")).as("lang"),
      fingerprint(col("text")).as("fp")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4))).toList
    assert(got.map(_._2) === List(7, 8, 2, 2))
    // "a1b2 c!" → a,1,b,2,c,! = 6 BPE-ish pieces
    assert(got.find(_._1 == 4L).get._3 === 6)
    assert(got.map(_._4) === List("en", "es", "unknown", "unknown"))
    val again = d.select(fingerprint(col("text"))).collect().map(_.getLong(0)).toList
    assert(got.map(_._5) === again)
    assert(got.map(_._5).distinct.size === 4)
  }

  test("quality score favors stopword-bearing prose in the token band") {
    val good = "the cat and the dog ran to the park in the sun and back again"
    val bad = "zz"
    val q = Seq((1L, good), (2L, bad)).toDF("doc_id", "text")
      .select(col("doc_id"), qualityScore(col("text")).as("q"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(q(1L) > q(2L))
    assert(q(1L) >= 500L)
  }

  test("multimodal: stub decode is deterministic and batch-shaped; frame sampling strides") {
    val media = Seq(
      MediaRecord(2L, "video", "hello world payload".getBytes("UTF-8"), 19L),
      MediaRecord(1L, "image", "img".getBytes("UTF-8"), 3L)).toDS()
    val f1 = Multimodal.decodeStub(media).collect().sortBy(_.doc_id)
    val f2 = Multimodal.decodeStub(media).collect().sortBy(_.doc_id)
    assert(f1.map(_.feature.toSeq).toSeq === f2.map(_.feature.toSeq).toSeq)
    assert(f1.forall(_.feature.length === 8))
    val video = f1.find(_.kind == "video").get
    assert(video.n_frames === 1 + 19 % 30)
    val frames = Multimodal.sampleFrames(Multimodal.decodeStub(media), stride = 5)
      .filter(col("kind") === "video").select("frame_idx")
      .collect().map(_.getInt(0)).toSeq.sorted
    assert(frames === (0 until video.n_frames by 5).toSeq)
  }

  test("multimodal: decodeImages parses real PNG and BMP bytes via javax.imageio") {
    // encode two real images in-test (the JDK writer is the JDK reader's
    // inverse, so this exercises the full parse path on genuine headers):
    // a 5x3 all-white PNG and a 4x2 all-black BMP
    def imageBytes(w: Int, h: Int, rgb: Int, fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"no JDK $fmt writer")
      out.toByteArray
    }
    val png = imageBytes(5, 3, 0xffffff, "png")
    val bmp = imageBytes(4, 2, 0x000000, "bmp")
    val media = Seq(
      MediaRecord(1L, "image", png, png.length.toLong),
      MediaRecord(2L, "image", bmp, bmp.length.toLong),
      MediaRecord(3L, "image", "not an image".getBytes("UTF-8"), 12L),
      MediaRecord(4L, "audio", png, png.length.toLong)).toDS()
    val out = Multimodal.decodeImages(media).collect().sortBy(_.doc_id)

    val white = out(0)
    assert((white.width, white.height, white.n_frames) === ((5, 3, 1)))
    assert(white.feature.length === 8)
    assert(white.feature(7) === 1.0f) // all pixels in the brightest bin
    assert(white.feature.take(7).forall(_ === 0.0f))

    val black = out(1)
    assert((black.width, black.height) === ((4, 2)))
    assert(black.feature(0) === 1.0f) // all pixels in the darkest bin

    // corrupt payload and non-image kind fall back, never throw (S8 policy)
    for (s <- Seq(out(2), out(3))) {
      assert((s.width, s.height) === ((0, 0)))
      assert(s.feature.forall(_ === 0.0f))
    }

    // decode runs deterministically twice (fresh per-partition buffer)
    val again = Multimodal.decodeImages(media).collect().sortBy(_.doc_id)
    assert(out.map(_.feature.toSeq).toSeq === again.map(_.feature.toSeq).toSeq)
  }

  test("multimodal: audioStats computes closed-form stats for audio, sentinels others") {
    val media = Seq(
      MediaRecord(1L, "audio", Array[Byte](0x10, 0x20, 3, 4), 4L),
      MediaRecord(2L, "image", Array[Byte](9), 1L)).toDS()
    val out = Multimodal.audioStats(media).collect().sortBy(_.doc_id)
    val a = out(0)
    assert(a.n_samples === 16L) // 4 bytes * 4
    assert(a.duration_ms === 1L) // 16 samples at 16 kHz
    assert(a.rms_permille === (0x10 * 7L + 0x20 * 13L + 4L) % 1000L)
    assert((out(1).n_samples, out(1).duration_ms, out(1).rms_permille) === ((0L, 0L, 0L)))
    // deterministic across runs
    assert(Multimodal.audioStats(media).collect().sortBy(_.doc_id).toSeq === out.toSeq)
  }

  test("multimodal: decodeAudio parses real WAV PCM bytes via javax.sound.sampled") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // encode real WAV containers in-test (the JDK writer is the JDK
    // reader's inverse, same trick as the PNG/BMP image test)
    def wavBytes(fmt: AudioFormat, pcm: Array[Byte]): Array[Byte] = {
      val frames = pcm.length / fmt.getFrameSize
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(
        new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong),
        AudioFileFormat.Type.WAVE, out)
      out.toByteArray
    }
    // 16-bit mono 8 kHz square wave at half scale: every sample ±16384, so
    // rms = 0.5 exactly → 500 permille; 4000 frames at 8 kHz → 500 ms
    val mono16 = {
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val pcm = new Array[Byte](4000 * 2)
      for (i <- 0 until 4000) {
        val s = if (i % 2 == 0) 16384 else -16384
        pcm(2 * i) = (s & 0xff).toByte; pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      }
      wavBytes(fmt, pcm)
    }
    // stereo: channel 0 at half scale, channel 1 silent — only channel 0
    // is measured, so rms stays 500
    val stereo16 = {
      val fmt = new AudioFormat(16000f, 16, 2, true, false)
      val pcm = new Array[Byte](1600 * 4)
      for (i <- 0 until 1600) {
        val s = if (i % 2 == 0) 16384 else -16384
        pcm(4 * i) = (s & 0xff).toByte; pcm(4 * i + 1) = ((s >> 8) & 0xff).toByte
        // channel 1 bytes stay 0
      }
      wavBytes(fmt, pcm)
    }
    // 8-bit unsigned mono (WAV's native 8-bit form) at half scale: samples
    // alternate 128±64 around the unsigned zero point
    val mono8 = {
      val fmt = new AudioFormat(8000f, 8, 1, false, false)
      val pcm = Array.tabulate(800)(i => (if (i % 2 == 0) 192 else 64).toByte)
      wavBytes(fmt, pcm)
    }
    val media = Seq(
      MediaRecord(1L, "audio", mono16, mono16.length.toLong),
      MediaRecord(2L, "audio", stereo16, stereo16.length.toLong),
      MediaRecord(3L, "audio", mono8, mono8.length.toLong),
      MediaRecord(4L, "audio", "not a wav container".getBytes("UTF-8"), 19L),
      MediaRecord(5L, "image", mono16, mono16.length.toLong)).toDS()
    val out = Multimodal.decodeAudio(media).collect().sortBy(_.doc_id)

    assert((out(0).n_samples, out(0).duration_ms, out(0).rms_permille) === ((4000L, 500L, 500L)))
    assert((out(1).n_samples, out(1).duration_ms, out(1).rms_permille) === ((1600L, 100L, 500L)))
    assert((out(2).n_samples, out(2).duration_ms, out(2).rms_permille) === ((800L, 100L, 500L)))
    // corrupt payload and non-audio kind fall back, never throw (S8 policy)
    for (s <- Seq(out(3), out(4)))
      assert((s.n_samples, s.duration_ms, s.rms_permille) === ((0L, 0L, 0L)))
    // deterministic across runs (fresh per-partition frame buffer)
    assert(Multimodal.decodeAudio(media).collect().sortBy(_.doc_id).toSeq === out.toSeq)
  }

  test("media table keeps payload bytes intact through the binary column") {
    val docs = Seq((7L, "payload-text-αβ")).toDF("doc_id", "text")
    val row = Multimodal.mediaFromDocs(docs).collect()(0)
    assert(new String(row.getAs[Array[Byte]]("payload"), "UTF-8") === "payload-text-αβ")
    assert(row.getAs[Long]("n_bytes") === "payload-text-αβ".getBytes("UTF-8").length.toLong)
  }

  test("components labels transitive near-dup chains with the min doc id") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 5L, 8L, 9L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // chain 1-2-3 (1~2, 2~3 but NOT 1~3: closure must still merge them),
    // pair 8-9, singleton 5
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup.components(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 8L -> 8L, 9L -> 8L))
  }

  test("components: reliable-checkpoint path yields the same labels") {
    import spark.implicits._
    val ckDir = java.nio.file.Files.createTempDirectory("graft-ck").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    val docs = Seq(1L, 2L, 3L, 5L, 8L, 9L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("doc_a", "doc_b")
    // driverCap = 0 forces the distributed fixpoint, the only path that
    // checkpoints: three pairs are far under the driver-path cap
    val got = graft.operators.Dedup.componentsWithRelease(docs, pairs,
        reliableCheckpoint = true, driverCap = 0)._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 8L -> 8L, 9L -> 8L))
    // the fault-tolerant path really wrote reliable checkpoint files
    assert(new java.io.File(ckDir).listFiles != null &&
      new java.io.File(ckDir).listFiles.nonEmpty, "no reliable checkpoint written")
  }

  test("dedupCorpus keeps exactly one representative per near-dup cluster") {
    import spark.implicits._
    val docs = Seq(1L, 2L, 3L, 5L, 8L, 9L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("doc_a", "doc_b")
    val kept = graft.operators.Dedup.dedupCorpus(docs, pairs)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(kept === Seq(1L, 5L, 8L)) // cluster mins + singleton
  }

  private def spansOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

  test("duplicatedSpans merges overlapping windows of a shared run into one maximal span") {
    val sh = (1 to 10).map(i => s"s$i").mkString(" ") // 10-token shared run
    val d = docs(
      (1L, s"u1 u2 u3 u4 $sh u5 u6"), // shared run at token offset 4
      (2L, s"v1 v2 $sh v3 v4 v5"),    // shared run at token offset 2
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"))
    // dup 8-windows are exactly those fully inside the run: 3 per doc,
    // overlapping -> one span covering the run
    val got = spansOf(Dedup.duplicatedSpans(d, windowTokens = 8))
    assert(got === Set((1L, 4L, 13L, 3L), (2L, 2L, 11L, 3L)))
  }

  test("duplicatedSpans counts intra-doc repeats; gap > window stays two spans") {
    val run = (1 to 8).map(i => s"r$i").mkString(" ")
    val d = docs((1L, s"$run x $run")) // repeat at pos 0 and pos 9, gap 9 > 8
    val got = spansOf(Dedup.duplicatedSpans(d, windowTokens = 8))
    assert(got === Set((1L, 0L, 7L, 1L), (1L, 9L, 16L, 1L)))
  }

  test("scrubDuplicatedSpans drops exactly the flagged tokens, keeps the rest in order") {
    val sh = (1 to 10).map(i => s"s$i").mkString(" ")
    val d = docs(
      (1L, s"u1 u2 u3 u4 $sh u5 u6"),
      (2L, s"v1 v2 $sh v3 v4 v5"),
      (3L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
      (4L, sh), (5L, sh)) // whole-doc duplicates scrub to empty
    val got = Dedup.scrubDuplicatedSpans(d, windowTokens = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1: span tokens 4..13 dropped -> unique prefix + suffix survive
    assert(got(1L) === (("u1 u2 u3 u4 u5 u6", 6L, 10L)))
    assert(got(2L) === (("v1 v2 v3 v4 v5", 5L, 10L)))
    // untouched doc passes through token-identical
    assert(got(3L) === (("w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12", 12L, 0L)))
    // full-coverage docs empty out, counts account for every token
    assert(got(4L) === (("", 0L, 10L)))
    assert(got(5L) === (("", 0L, 10L)))
  }

  test("duplicatedSpans merges exactly-adjacent windows; minOccurrences raises the bar") {
    val a = (1 to 8).map(i => s"a$i").mkString(" ")
    val b = (1 to 8).map(i => s"b$i").mkString(" ")
    // doc 1 holds a-run then b-run back to back; each run duplicated
    // elsewhere separately, the straddling windows nowhere -> dup windows
    // at pos 0 and pos 8 only, exactly adjacent -> one merged span
    val d = docs((1L, s"$a $b"), (2L, s"x0 $a"), (3L, s"$b y0"))
    val got = spansOf(Dedup.duplicatedSpans(d, windowTokens = 8))
    assert(got === Set((1L, 0L, 15L, 2L), (2L, 1L, 8L, 1L), (3L, 0L, 7L, 1L)))
    // at minOccurrences=3 nothing appears 3 times -> empty
    assert(Dedup.duplicatedSpans(d, windowTokens = 8, minOccurrences = 3L).isEmpty)
  }

  test("extendIvf: base assignments frozen, delta lands on the same centroids") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(pmod($"vec_id", lit(10)) =!= 9)
    val delta = emb.filter(pmod($"vec_id", lit(10)) === 9)
    val idx = Similarity.buildIvf(base, nCells = 8)
    val ext = Similarity.extendIvf(idx, delta)
    // every vector present exactly once; base rows byte-identical
    assert(ext.assigned.count() === emb.count())
    val baseCells = idx.assigned.select($"vec_id", $"cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val extCells = ext.assigned.select($"vec_id", $"cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    baseCells.foreach { case (id, c) => assert(extCells(id) === c) }
    // the delta really went through the frozen centroids: probing the
    // extended index can return delta vectors as neighbors
    assert(extCells.keySet.exists(_ % 10 == 9))
    // centroids are the SAME object — no refit happened
    assert(ext.centroids eq idx.centroids)
  }

  test("skewReport: exact integer stats under the definitional rank rule") {
    val rows = (Seq.fill(8)("hot") ++ (1 to 8).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (i.toLong, k) }.toDF("id", "key")
    val r = graft.ops.ScaleOps.skewReport(rows, "key").head()
    assert(r.getLong(0) === 9L)  // n_keys
    assert(r.getLong(1) === 16L) // n_rows
    assert(r.getLong(2) === 8L)  // max
    // counts multiset {1×8, 8}: rank rule puts both p50 and p99 at 1
    assert(r.getLong(3) === 1L && r.getLong(4) === 1L)
    assert(r.getLong(5) === 4500L) // 1000*8*9/16
    // null keys are counted as a key, not dropped
    val withNull = rows.union(Seq((99L, null: String)).toDF("id", "key"))
    assert(graft.ops.ScaleOps.skewReport(withNull, "key").head().getLong(0) === 10L)
  }

  test("dHash: gradient bits by position; clusters bucket equal hashes only") {
    val f = Seq(
      // rising then falling: bits 0,1 set (f2>f1, f3>f2), rest clear
      (1L, Seq(0.1f, 0.2f, 0.3f, 0.1f, 0.1f, 0.1f, 0.1f, 0.1f)),
      (2L, Seq(0.1f, 0.2f, 0.3f, 0.1f, 0.1f, 0.1f, 0.1f, 0.1f)), // same signature
      (3L, Seq(0.9f, 0.2f, 0.1f, 0.1f, 0.1f, 0.1f, 0.1f, 0.2f))  // different
    ).toDF("doc_id", "feature")
    val h = f.select($"doc_id", Multimodal.dHash($"feature").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) === 3L) // bits 0 and 1
    assert(h(1L) === h(2L))
    assert(h(1L) !== h(3L))
    val clusters = Multimodal.perceptualDupClusters(f)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(clusters.toSeq === Seq((3L, 2L, 1L))) // only the 1-2 pair buckets
  }

  test("collocationsTopK: exact lift math, minCount fence, tie order") {
    // "aa bb" ×5 adjacent; "cc" never adjacent to itself; U = 20 tokens
    val d = docs(
      (1L, "aa bb cc aa bb cc aa bb"),
      (2L, "aa bb cc aa bb cc"),
      (3L, "dd dd dd dd dd dd"))
    val got = graft.operators.Keywords.collocationsTopK(d, "text", minCount = 5L, k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // counts: aa=5, bb=5, cc=4, dd=6, U=20; pairs: "aa bb"=5, "dd dd"=5,
    // "bb cc"=4 (below fence), ...
    // lift(aa bb) = 1e6*5*20/(5*5) = 4_000_000
    // lift(dd dd) = 1e6*5*20/(6*6) = 2_777_777
    assert(got.toList === List(
      ("aa bb", 5L, 5L, 5L, 4000000L),
      ("dd dd", 5L, 6L, 6L, 2777777L)))
  }

  test("signedProject: exact integer projection with the md5 sign matrix") {
    import org.apache.spark.unsafe.types.UTF8String
    val e = vecs((7L, Seq(0.5f, -0.25f, 1.0f)))
    val got = Similarity.signedProject(e, "vec_id", "embedding",
        inDims = 3, outDims = 2, salt = "tst")
      .collect()(0).getSeq[Long](1)
    def sgn(j: Int, i: Int): Long =
      if (graft.expressions.TextKernels.hash60(
        UTF8String.fromString(s"tst:$j:$i")) % 2 == 1) -1L else 1L
    val m = Seq(500000L, -250000L, 1000000L)
    val want = (0 until 2).map(j => (0 until 3).map(i => sgn(j, i) * m(i)).sum)
    assert(got === want)
    // deterministic across runs; a different salt draws a different matrix
    val again = Similarity.signedProject(e, "vec_id", "embedding", 3, 2, "tst")
      .collect()(0).getSeq[Long](1)
    assert(again === got)
  }

  test("importance weights: planted target marker scores highest") {
    import graft.operators.Importance
    val base = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = docs(
      (1L, s"$base zmarker zmarker"), (2L, s"$base zmarker zmarker"),
      (3L, base), (4L, base), (5L, base), (6L, base))
    val target = d.filter($"doc_id" <= 2L)
    val wts = Importance.fitWeights(target, d, "text", nBuckets = 256)
    val scores = Importance.scoreDocs(d, "doc_id", "text", wts)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // marker docs carry the target-heavy buckets -> strictly higher score
    assert(scores(1L)._2 > scores(3L)._2)
    assert(scores(1L) === scores(2L) && scores(3L) === scores(4L))
    assert(scores(1L)._1 === 22L && scores(3L)._1 === 20L)
    // score is exactly the sum of per-token bucket weights
    val mSlot = (graft.expressions.TextKernels.hash60(
      org.apache.spark.unsafe.types.UTF8String.fromString("zmarker")) % 256).toInt
    assert(scores(1L)._2 - scores(3L)._2 === 2L * wts(mSlot))
    intercept[IllegalArgumentException] {
      Importance.fitWeights(target, d, "text", nBuckets = 100) // not a power of two
    }
  }
}
