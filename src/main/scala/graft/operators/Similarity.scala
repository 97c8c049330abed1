package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.{TopKByScore, VectorExpressions}
import graft.ops.PlanScope.spreadIfSmall

/** Similarity search over an embedding column (`array<float>`):
  * brute-force cosine top-k as the exactness baseline, and an IVF
  * (inverted-file) variant as the scale path.
  *
  * Numeric convention: elements are cast to double *before* any multiply,
  * and dot products fold left-to-right over the array — bit-identical on
  * any engine that does the same, which makes cosine scores
  * oracle-checkable after rounding to 1e-6. Norms are precomputed once per
  * vector (not per pair); `sqrt(dot(v,v))` is the same IEEE double either
  * way, so precomputation changes cost, not results.
  *
  * Scale design: brute force is O(|Q|·N·d) — fine when the query set is
  * small and broadcast; IVF first assigns every vector to its nearest
  * centroid (cells), then probes only `nprobe` cells per query, cutting the
  * scanned fraction to ~nprobe/k. Cells are a plain column, so the probe is
  * an equi-join on cell id — shuffle-partitioned by cell, skew-safe under
  * AQE. Centroids come from a deterministic sampled k-means
  * ([[kmeansCentroids]]): arithmetic-slice sample, first-k init, fixed
  * Lloyd rounds in exact micro-units — reproducible and oracle-checkable
  * with no RNG. At real scale pick k ≈ sqrt(N).
  *
  * No per-query window ranks anywhere: every top-k (final neighbors, IVF
  * cell assignment, probe selection) runs as a bounded aggregate with
  * map-side partials (TopKByScore / max_by), so the widest exchange carries
  * O(queries × k) rows, not O(candidates).
  */
object Similarity {

  /** Left-to-right dot product of two equal-length float arrays, in double.
    * Backed by the codegen'd DotProductFF expression — the HOF equivalent
    * (`aggregate(zip_with(...))`) computes the same value but runs
    * interpreted, ~1000× slower per pair (see graft.expressions). */
  def dot(a: Column, b: Column): Column =
    graft.expressions.VectorExpressions.dotFF(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** cosine from precomputed norms, scaled to exact micro-units.
    * NULL when either norm is zero: cosine is undefined there, 0/0 = NaN,
    * and under ANSI (the Spark 4 session default) `round(NaN).cast(long)`
    * would crash the whole job on ONE degenerate row. Null flows benignly
    * everywhere — threshold filters (`cos_e6 >= min`) drop it, and the
    * TopKByScore heap skips null scores — so a zero-norm vector is simply
    * no one's neighbor, which is the only defensible semantics. */
  private def cosE6From(a: Column, b: Column, na: Column, nb: Column): Column =
    when(na > lit(0.0) && nb > lit(0.0),
      round(dot(a, b) / (na * nb) * 1e6).cast("long"))

  /** cosine scaled to exact micro-units for hash-stable output; NULL on
    * a zero-norm side (see [[cosE6From]]). */
  def cosineE6(a: Column, b: Column): Column = cosE6From(a, b, norm(a), norm(b))

  /** Two-phase top-k over scored candidates: bounded per-partition heaps,
    * merged map-side, then one exchange of ≤k rows per query. Ordering
    * (cos_e6 desc, neighbor_id asc) matches the former window-rank form;
    * cos_e6 values are ≤1e6 so the double-typed heap score is exact. */
  private def topKNeighbors(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(TopKByScore.topK(col("cos_e6").cast("double"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "nb")))
      .select(
        col("query_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("nb.id").as("neighbor_id"),
        col("nb.score").cast("long").as("cos_e6"))

  /** The empty [[topKNeighbors]] result over `emb`'s schema: what a
    * two-stage kNN returns when its fit found no vectors (the
    * EmptyInputSpec contract). */
  private def noNeighbors(emb: DataFrame, k: Int): DataFrame =
    topKNeighbors(emb.limit(0).select(col("vec_id").as("query_id"),
      lit(0L).as("cos_e6"), col("vec_id").as("neighbor_id")), k)

  /** The coarse candidate count of a two-stage kNN: `coarseK`, or 4k
    * when unset. */
  private def coarseWidth(coarseK: Int, k: Int): Int = {
    val ck = if (coarseK > 0) coarseK else 4 * k
    require(ck >= k, s"coarseK ($ck) must be >= k ($k)")
    ck
  }

  /** The exact-rescore tail of the two-stage kNNs ([[quantizedKnn]],
    * [[pqKnn]], [[ivfPqKnn]]): a bounded heap keeps each query's `ck`
    * best `coarse` candidates (`idCol`) by the approximate `scoreCol`,
    * then only those candidates join back to `vectors` for the exact
    * cosine top-k. The query vector and norm (`qv`, `qn`) ride the
    * coarse frame and come back out of the heap aggregate via first()
    * (identical across the group), so the rescore needs no second
    * query-side join: one broadcast build per call, same rows, same
    * cosine. */
  private def rescoreTopK(coarse: DataFrame, scoreCol: String, idCol: String,
      vectors: DataFrame, k: Int, ck: Int): DataFrame = {
    val cand = coarse.groupBy(col("query_id"))
      .agg(TopKByScore.topK(col(scoreCol).cast("double"), col(idCol), ck).as("top"),
        first(col("qv")).as("qv"), first(col("qn")).as("qn"))
      .select(col("query_id"), col("qv"), col("qn"), explode(col("top")).as("nb"))
      .select(col("query_id"), col("qv"), col("qn"), col("nb.id").as("neighbor_id"))
    val scored = broadcast(cand)
      .join(vectors.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("nv"), norm(col("embedding")).as("nn")), "neighbor_id")
      .withColumn("cos_e6", cosE6From(col("qv"), col("nv"), col("qn"), col("nn")))
    topKNeighbors(scored, k)
  }

  /** Brute-force cosine top-k: each query vector (small set, broadcast)
    * ranked against all others by (cosine desc, vec_id asc). */
  def bruteForceKnn(emb0: DataFrame, queries0: DataFrame, k: Int): DataFrame =
    // fixed serving shape (broadcast queries + one corpus scan + bounded
    // heap) re-executed per call: conf-isolated static scope, same
    // rationale as ivfKnn — AQE's stage jobs were its only extra dispatch
    graft.ops.PlanScope.isolatedStaticFor(emb0) { scoped =>
    val emb = graft.ops.PlanScope.rebind(emb0, scoped)
    val queries = graft.ops.PlanScope.rebind(queries0, scoped)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"),
      norm(col("embedding")).as("qn"))
    val c = spreadIfSmall(emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"),
      norm(col("embedding")).as("nn")))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_e6", cosE6From(col("qv"), col("nv"), col("qn"), col("nn")))
    topKNeighbors(scored, k)
    }

  /** Hard-negative mining for contrastive training: for each query, the
    * top-k most-similar vectors with a DIFFERENT label whose cosine lies in
    * `[loE6, hiE6]` micro-units. The band is the semantics — above `hiE6`
    * lives the near-duplicate/positive zone (same fence as semantic dedup,
    * d11's 0.30), below `loE6` the easy negatives that contribute no
    * gradient signal; what remains is exactly the "hard" shell a
    * contrastive run wants (InfoNCE-style training, CLIP/SimCLR lineage).
    *
    * Scale shape: identical to [[bruteForceKnn]] — queries broadcast, the
    * corpus scan is the only full pass, and BOTH predicates (label
    * mismatch, similarity band) apply before the bounded TopKByScore heap,
    * so the exchange still carries O(queries × k) rows. For a 100 TB
    * corpus swap the candidate scan for an IVF probe ([[ivfKnnWith]]'s
    * cell equi-join) and keep the same band filter + heap tail — the
    * filter/heap composition is scan-agnostic. */
  def hardNegatives(emb0: DataFrame, queries0: DataFrame, k: Int,
      loE6: Long, hiE6: Long): DataFrame = {
    require(loE6 <= hiE6, s"empty band [$loE6, $hiE6]")
    // fixed serving shape — static scope, see bruteForceKnn
    graft.ops.PlanScope.isolatedStaticFor(emb0) { scoped =>
    val emb = graft.ops.PlanScope.rebind(emb0, scoped)
    val queries = graft.ops.PlanScope.rebind(queries0, scoped)
    val q = queries.select(col("vec_id").as("query_id"), col("label").as("q_label"),
      col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val c = spreadIfSmall(emb.select(col("vec_id").as("neighbor_id"), col("label").as("n_label"),
      col("embedding").as("nv"), norm(col("embedding")).as("nn")))
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") && col("q_label") =!= col("n_label"))
      .withColumn("cos_e6", cosE6From(col("qv"), col("nv"), col("qn"), col("nn")))
      .filter(col("cos_e6").between(loE6, hiE6))
    topKNeighbors(scored, k)
    }
  }

  /** Label-noise / anomaly mining: for every label, the top-`k` vectors
    * FARTHEST from that label's centroid. The classic first pass of
    * embedding-space data cleaning (Confident Learning lineage, Northcutt
    * et al. 2021): a point far from its own class centroid is a mislabel,
    * an outlier, or an ambiguous boundary case — exactly the rows a
    * curation run routes to relabeling or drops.
    *
    * All-integer pipeline, so the output is hash-exact with no float-order
    * caveats at all: components are micro-rounded to longs, per-label
    * per-dimension means are floor-divided micro-longs (the IVF fit's
    * convention, [[kmeansCentroids]]), and the distance is the EXACT long
    * `Σ (x_e6 - c_e6)²` — bounded by d·(2e6)² ≈ 2.6e14 for unit-scale
    * 64-d embeddings, far inside both Long and the heap's exact-double
    * range.
    *
    * Scale shape: the centroid fit is one posexplode + grouped long-sum
    * with map-side partials (exchange carries |labels|·d rows); centroids
    * come back as a labels-sized array table, broadcast; the distance pass
    * is a narrow per-row zip_with over the broadcast join (no explode); the
    * top-k tail is the bounded [[TopKByScore]] heap — one exchange of
    * O(labels × k) rows. Nothing driver-side except the broadcast of
    * |labels| centroid rows.
    *
    * @return (label, rank, vec_id, d2_e12) — rank 1 = farthest, ties by
    *         lower vec_id; squared distance in (micro-unit)² = 1e-12 units
    */
  def labelOutliers(emb0: DataFrame, k: Int): DataFrame =
    // fixed report shape — static scope, see bruteForceKnn
    graft.ops.PlanScope.isolatedStaticFor(emb0) { scoped =>
    val emb = graft.ops.PlanScope.rebind(emb0, scoped)
    val microArr = transform(col("embedding"),
      x => round(x.cast("double") * lit(1e6)).cast("long"))
    val e = emb.select(col("vec_id"), col("label"), microArr.as("m"))

    val cent = e
      .select(col("label"), posexplode(col("m")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_e6"))
      .select(col("label"), col("dim"),
        floor(col("sum_e6") / col("n")).cast("long").as("c"))
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("c")))),
        s => s("c")).as("cm"))

    val scored = e.join(broadcast(cent), "label")
      .withColumn("d2_e12",
        aggregate(
          zip_with(col("m"), col("cm"), (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, y) => acc + y))

    scored.groupBy(col("label"))
      .agg(TopKByScore.topK(col("d2_e12").cast("double"), col("vec_id"), k).as("top"))
      .select(col("label"), posexplode(col("top")).as(Seq("pos", "o")))
      .select(
        col("label"),
        (col("pos") + 1).cast("int").as("rank"),
        col("o.id").as("vec_id"),
        col("o.score").cast("long").as("d2_e12"))
    }

  /** Per-dimension max-abs int8 quantization scales — index-build state,
    * O(d) doubles on the driver (same class as the IVF centroid fetch,
    * not a data collect). All-zero dimensions get scale 1 so quantization
    * stays total. One pass: posexplode + grouped max with map-side
    * partials; the exchange carries ≤ d rows per partition. */
  def quantizationScales(emb: DataFrame): Array[Double] = {
    val out = quantizationScalesOpt(emb)
    require(out.isDefined, "cannot fit quantization scales on an empty corpus")
    out.get
  }

  /** [[quantizationScales]] with the empty corpus surfaced as None — the
    * in-call fit path ([[quantizedKnn]]) maps it to an empty result
    * (EmptyInputSpec contract) instead of the direct-caller's loud fit
    * error. */
  private def quantizationScalesOpt(emb: DataFrame): Option[Array[Double]] = {
    val rows = emb
      .select(posexplode(col("embedding")).as(Seq("j", "v")))
      .groupBy(col("j")).agg(max(abs(col("v").cast("double"))).as("m"))
      .collect()
    if (rows.isEmpty) None
    else {
      val out = Array.fill(rows.map(_.getInt(0)).max + 1)(1.0)
      rows.foreach(r => out(r.getInt(0)) = if (r.getDouble(1) == 0.0) 1.0 else r.getDouble(1))
      Some(out)
    }
  }

  /** int8-quantized two-stage kNN: coarse top-`coarseK` by integer dot
    * product over quantized vectors, then exact cosine rescore of those
    * candidates only. The memory-bandwidth play for a 100 TB corpus — the
    * full-corpus scan reads arrays a QUARTER the size of float32 and
    * scores them with integer multiply-adds; float vectors are touched
    * only for nQueries×coarseK candidate rows (broadcast-joined back, no
    * corpus shuffle). Quantization is `floor(v*127/scale_j)` against
    * per-dimension max-abs scales ([[quantizationScales]]) — FLOOR, so
    * every IEEE engine reproduces the index bit-for-bit and the s04
    * oracle replays the whole pipeline. Recall loss comes only from
    * coarse-rank inversions beyond `coarseK` (default 4k); `coarseK` =
    * corpus size degenerates to exact brute force (spec-asserted). */
  def quantizedKnn(emb0: DataFrame, queries0: DataFrame, k: Int,
      coarseK: Int = 0): DataFrame = {
    val ck = coarseWidth(coarseK, k)
    // fit + coarse scan + rescore on one conf-isolated static scope (see ivfKnn)
    graft.ops.PlanScope.isolatedStaticFor(emb0) { scoped =>
    val emb = graft.ops.PlanScope.rebind(emb0, scoped)
    val queries = graft.ops.PlanScope.rebind(queries0, scoped)
    quantizationScalesOpt(emb) match {
      case None => noNeighbors(emb, k) // empty corpus: no scales to fit
      case Some(scales) =>
    def qz = VectorExpressions.quantizeI8(col("embedding"), scales)
    val q = queries.select(col("vec_id").as("query_id"), qz.as("q8"),
      col("embedding").as("qv"), norm(col("embedding")).as("qn"))
    val c = spreadIfSmall(emb.select(col("vec_id").as("neighbor_id"), qz.as("n8")))
    val coarse = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("qd", VectorExpressions.dotI8(col("q8"), col("n8")))
    rescoreTopK(coarse, "qd", "neighbor_id", emb, k, ck)
    }
    }
  }

  /** Product-quantization model: per subspace, an ordered codebook of
    * `(code id, codeword)` pairs fit by the SAME deterministic sampled
    * k-means rule as the IVF index ([[kmeansCentroids]] over the sliced
    * corpus), so the whole model replays bit-identically on any
    * IEEE-double engine. Driver-held state is nSub×nCodes×subDim doubles
    * — index-build metadata, not data. */
  final case class PqModel(dims: Int, nSub: Int, nCodes: Int,
      books: Seq[Seq[(Int, Array[Double])]]) {
    def subDim: Int = dims / nSub
  }

  /** Fit PQ codebooks: the embedding space splits into `nSub` contiguous
    * subspaces of `dims / nSub` dims; each gets `nCodes` centroids by the
    * [[kmeansCentroids]] rule applied to the corpus SLICED to that
    * subspace (same sample fence, init and Lloyd rounds — one fit rule in
    * the library, not two).
    *
    * All subspaces fit FUSED: each Lloyd round is ONE job over the shared
    * sample — per row, every subspace's argmax assignment (the codebooks
    * ride in as literals, exactly [[encodePq]]'s expression), exploded to
    * (sub, cell, dim) micro-sums. Identical arithmetic to nSub separate
    * [[kmeansCentroids]] runs (the grouping key gained `sub`, the values
    * didn't change — the s13 oracle replays the fits per-subspace and
    * hash-matches), at 1/nSub the job count: the driver round-trip, not
    * the scan, dominates an index fit. */
  def fitPq(emb: DataFrame, dims: Int = 64, nSub: Int = 4, nCodes: Int = 16,
      iters: Int = 2, sampleMod: Int = 7): PqModel = {
    require(nSub > 0 && dims % nSub == 0,
      s"dims ($dims) must split evenly into nSub ($nSub) subspaces")
    val sd = dims / nSub
    PqModel(dims, nSub, nCodes, fitBooks(emb,
      (0 until nSub).map(j => SubFit(j * sd, sd, nCodes)), iters, sampleMod).toSeq)
  }

  /** One independent k-means problem inside a fused [[fitBooks]] run:
    * the slice `[off, off+sd)` fit to `nCodes` codewords. `sd <= 0`
    * slices to the end of the vector. */
  private final case class SubFit(off: Int, sd: Int, nCodes: Int)

  private object SubFit {
    /** The full-space IVF spec: `nCells` centroids over the whole vector,
      * its width read from the init rows. */
    def cells(nCells: Int): SubFit = {
      require(nCells > 0, s"need nCells > 0; got $nCells")
      SubFit(0, 0, nCells)
    }
  }

  /** THE deterministic fit engine, behind [[kmeansCentroids]],
    * [[buildIvf]], [[fitPq]] and [[buildIvfPq]]: every spec (a subspace
    * codebook, or the FULL-space IVF centroids as [[SubFit.cells]]) runs
    * the [[kmeansCentroids]] rule — first-`nCodes` micro-rounded init,
    * Lloyd rounds over the shared `vec_id % sampleMod` sample with
    * argmax-cosine assignment, exact micro-unit floor means, empty
    * cells keeping their previous codeword — but ALL specs share one
    * job per round (per-row per-spec kernel assignment, exploded to
    * (spec, cell, dim) micro-sums). Identical arithmetic to running the
    * fits separately (the grouping key gained `spec`; the values
    * didn't change — the s13/s14 oracles replay each fit independently
    * and hash-match), at 1/|specs| the driver round-trips. */
  private def fitBooks(emb0: DataFrame, specs0: Seq[SubFit], iters: Int,
      sampleMod: Int): Array[Seq[(Int, Array[Double])]] = {
    require(iters >= 0 && sampleMod > 0,
      s"need iters >= 0, sampleMod > 0; got ($iters, $sampleMod)")
    // Lloyd loop = iterative fit re-executing one known aggregate shape
    // per round over the cached sample (PlanScope rationale; the fit's
    // dispatch-normalized compute is ~0 on the board): static scope makes
    // each round ONE driver job instead of one per exchange. Codeword
    // VALUES are conf-independent — the fit-replaying oracles stay green.
    graft.ops.PlanScope.isolatedStatic(emb0.sparkSession) { scoped =>
    val emb = graft.ops.PlanScope.rebind(emb0, scoped)
    val maxCodes = specs0.map(_.nCodes).max
    // init: first-k vectors micro-rounded, sliced on the driver
    // (slicing micro-longs == micro-rounding the slice)
    val initRows = emb.filter(col("vec_id") < maxCodes)
      .select(col("vec_id").cast("int").as("cid"),
        transform(col("embedding"),
          x => round(x.cast("double") * lit(1e6)).cast("long")).as("m"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Long](1).toArray)
      .sortBy(_._1)
    val width = initRows.headOption.fold(0)(_._2.length)
    val specs = specs0.map(sp => if (sp.sd > 0) sp else sp.copy(sd = width - sp.off))
    var books: Array[Array[(Int, Array[Long])]] = specs.toArray.map { sp =>
      initRows.filter(_._1 < sp.nCodes)
        .map { case (cid, m) => cid -> m.slice(sp.off, sp.off + sp.sd) }
    }
    if (initRows.nonEmpty && iters > 0) {
      val sample = emb.filter(col("vec_id") % sampleMod === 0)
        .select(col("vec_id"), col("embedding")).persist()
      try {
        for (_ <- 1 to iters) {
          val perSub = specs.zipWithIndex
            .filter { case (_, j) => books(j).nonEmpty }
            .map { case (sp, j) =>
              val sub = slice(col("embedding"), sp.off + 1, sp.sd)
              struct(lit(j).as("sub"),
                VectorExpressions.pqAssign(col("embedding"),
                  books(j).toSeq.map(_._2.map(_.toDouble / 1e6)), off = sp.off).as("cell"),
                sub.as("v"))
            }
          val sums = sample.select(explode(array(perSub: _*)).as("a"))
            .select(col("a.sub"), col("a.cell"), posexplode(col("a.v")).as(Seq("dim", "x")))
            .groupBy(col("sub"), col("cell"), col("dim"))
            .agg(count(lit(1)).as("n"),
              sum(round(col("x").cast("double") * lit(1e6)).cast("long")).as("sum_e6"))
            .select(col("sub"), col("cell"), col("dim"),
              floor(col("sum_e6") / col("n")).cast("long").as("mean_e6"))
            .collect()
          val bySub = sums.groupBy(_.getInt(0))
          books = Array.tabulate(specs.length) { j =>
            // kernel cells are BOOK POSITIONS (== cid for the dense
            // first-nCodes init; keyed positionally so the bookkeeping
            // never depends on that)
            val byCell = bySub.getOrElse(j, Array.empty[org.apache.spark.sql.Row])
              .groupBy(_.getInt(1))
            books(j).zipWithIndex.map { case ((cid, prev), idx) =>
              cid -> byCell.get(idx).fold(prev) { rows =>
                val arr = prev.clone()
                rows.foreach(r => arr(r.getInt(2)) = r.getLong(3))
                arr
              }
            }
          }
        }
      } finally sample.unpersist(blocking = false)
    }
    // micro-longs ÷ 1e6 — BIGINT-to-double division, the same IEEE op the
    // oracle's `m/1000000.0` performs
    books.map(_.toSeq.map { case (cid, m) => cid -> m.map(_.toDouble / 1e6) })
    }
  }

  /** [[VectorExpressions.pqAssign]] returns the POSITION of the winning
    * codeword within the book (books are cid-ascending). For a fit whose
    * init ids are contiguous 0..n-1 — every full-corpus fit — position
    * == cid and this is the identity (NO extra expression in the plan:
    * the served/probe paths keep their exact current shape). A fit over
    * a FILTERED corpus (a delta-maintenance base whose filter removes an
    * init id, e.g. s20's vec_id % 10 != 9 dropping id 9) skips ids, and
    * the coded frame must carry the TRUE cids or the saved centroid/book
    * side tables — and the fit-replaying oracles — would disagree with
    * it. */
  private def posToId(pos: Column, ids: Seq[Int]): Column =
    if (ids.zipWithIndex.forall { case (cid, i) => cid == i }) pos
    else element_at(typedLit(ids), pos + 1)

  /** Inverse of [[posToId]] for the ADC table lookup (1-based
    * element_at position). Identity+1 for contiguous fits. */
  private def idToAdcPos(id: Column, ids: Seq[Int]): Column =
    if (ids.zipWithIndex.forall { case (cid, i) => cid == i }) id + 1
    else element_at(
      typedLit(ids.zipWithIndex.map { case (c, i) => (c, i + 1) }.toMap), id)

  /** The cid of the codeword in `book` nearest the embedding slice at
    * `off` (pqAssign's argmax-cosine rule, ties → lowest cid) — the one
    * cell/code encode behind every IVF cell and PQ code column. */
  private def nearestCid(book: Seq[(Int, Array[Double])], off: Int): Column =
    posToId(VectorExpressions.pqAssign(col("embedding"), book.map(_._2), off = off),
      book.map(_._1))

  /** `code0..code{nSub-1}`: per subspace the nearest codeword's cid, null
    * for an empty codebook. */
  private def codeCols(model: PqModel): Seq[Column] =
    (0 until model.nSub).map { j =>
      (if (model.books(j).isEmpty) lit(null).cast("int")
       else nearestCid(model.books(j), j * model.subDim)).as(s"code$j")
    }

  /** The per-query ADC lookup tables `t0..t{nSub-1}`. */
  private def adcTables(model: PqModel): Seq[Column] =
    (0 until model.nSub).map { j =>
      VectorExpressions.pqAdcTable(col("embedding"),
        model.books(j).map(_._2), off = j * model.subDim).as(s"t$j")
    }

  /** A coded row's ADC score against the [[adcTables]]: Σ_j t_j[code_j]. */
  private def adcScore(model: PqModel): Column =
    (0 until model.nSub)
      .map(j => element_at(col(s"t$j"),
        idToAdcPos(col(s"code$j"), model.books(j).map(_._1))))
      .reduce(_ + _)

  /** Encode the corpus against a [[PqModel]]: per subspace the vector's
    * nearest codeword by the assignment rule of the IVF index (cosine,
    * ties → lowest code id), computed as a PURE PER-ROW map — the
    * codebooks ride into the expression as literals, so encoding is
    * shuffle-free and linear in corpus size (nSub×nCodes subDim-dot
    * products per row, the PQ-optimal encode cost).
    *
    * @return (vec_id, code0..code{nSub-1}: int) — nSub SMALL ints per
    *         vector instead of `dims` floats: the ~`dims·4/nSub`-fold
    *         compression that lets a 100 TB corpus's candidate scan read
    *         codes, not vectors
    */
  def encodePq(emb: DataFrame, model: PqModel): DataFrame =
    emb.select(col("vec_id") +: codeCols(model): _*)

  /** Product-quantization two-stage ANN (Jégou et al., PAMI'11 —
    * asymmetric distance computation): coarse-rank the corpus by the
    * ADC approximation of the query dot product — per query ONE small
    * lookup table per subspace (`t_j[c] = ⌊1e6·⟨q_j, codeword_c⟩⌉`,
    * nSub×nCodes micro-exact longs), per corpus row just nSub table
    * lookups + integer adds over its CODES — then exactly rescore the
    * top `coarseK` with true cosine, like [[quantizedKnn]].
    *
    * Scale shape: encode is a shuffle-free map ([[encodePq]]); the
    * coarse scan reads nSub ints per corpus row (not `dims` floats) with
    * the query tables broadcast, collapsing per-partition through the
    * same bounded [[graft.expressions.TopKByScore]] heaps; only
    * candidates are ever joined back to full vectors. The ADC table is
    * integer-exact, so coarse ranking is engine-portable; recall loss
    * comes only from ADC-rank inversions past `coarseK` (`coarseK` =
    * corpus size degenerates to exact brute force, spec-asserted).
    */
  def pqKnn(emb0: DataFrame, queries0: DataFrame, k: Int, dims: Int = 64,
      nSub: Int = 4, nCodes: Int = 16, coarseK: Int = 0,
      iters: Int = 2, sampleMod: Int = 7): DataFrame = {
    val ck = coarseWidth(coarseK, k)
    // fused fit + ADC scan + rescore on one conf-isolated static scope (see ivfKnn)
    graft.ops.PlanScope.isolatedStaticFor(emb0) { scoped =>
    val emb = graft.ops.PlanScope.rebind(emb0, scoped)
    val queries = graft.ops.PlanScope.rebind(queries0, scoped)
    val model = fitPq(emb, dims, nSub, nCodes, iters, sampleMod)
    if (model.books.head.isEmpty) noNeighbors(emb, k) // empty corpus: no codebooks
    else {
    val codes = spreadIfSmall(encodePq(emb, model))
    val qtab = queries.select(col("vec_id").as("query_id") +: adcTables(model) :+
      col("embedding").as("qv") :+ norm(col("embedding")).as("qn"): _*)
    val coarse = codes
      .join(broadcast(qtab), col("query_id") =!= col("vec_id"))
      .withColumn("adc", adcScore(model))
    rescoreTopK(coarse, "adc", "vec_id", emb, k, ck)
    }
    }
  }

  /** IVF-PQ two-level ANN — the FAISS `IVFx,PQy` architecture, the
    * serving layout for corpora where even PQ codes are too many to scan
    * per query: a coarse IVF partition picks `nprobe` cells per query,
    * and WITHIN the probed cells ranking runs on PQ codes via the ADC
    * tables ([[pqKnn]]'s discipline), then the top `coarseK` candidates
    * rescore exactly. Cell assignment reuses the PQ assignment kernel
    * over the FULL space (same argmax-cosine rule as [[ivfKnn]]'s
    * assignToCells, per-row and shuffle-free).
    *
    * Scale shape: corpus rows carry (cell, nSub codes) — a handful of
    * ints; the scan per query touches only probed cells (equi-join on
    * cell against the broadcast probe set), each candidate costs nSub
    * table lookups, and full vectors are read only for the coarseK
    * rescore. Recall loss = IVF probe loss ∪ ADC-rank loss past
    * coarseK — measure both with [[recallAtK]]-style sampling before
    * committing an (nCells, nprobe, coarseK) triple.
    */
  def ivfPqKnn(emb0: DataFrame, queries0: DataFrame, k: Int, nCells: Int = 16,
      nprobe: Int = 2, dims: Int = 64, nSub: Int = 4, nCodes: Int = 16,
      coarseK: Int = 0, iters: Int = 2, sampleMod: Int = 7): DataFrame = {
    val ck = coarseWidth(coarseK, k)
    require(nprobe >= 1 && nprobe <= nCells, s"need 1 <= nprobe <= nCells, got $nprobe/$nCells")
    // fused fit + probed ADC scan + rescore on one conf-isolated static
    // scope (see ivfKnn)
    graft.ops.PlanScope.isolatedStaticFor(emb0) { scoped =>
      val emb = graft.ops.PlanScope.rebind(emb0, scoped)
      val queries = graft.ops.PlanScope.rebind(queries0, scoped)
      val index = buildIvfPq(emb, nCells, dims, nSub, nCodes, iters, sampleMod)
      // spread: the in-call codes frame derives from one parquet split —
      // the served path's bucketed table scan must NOT be re-spread
      ivfPqProbe(spreadIfSmall(index.codes), emb, index.cent, index.model,
        queries, k, nprobe, ck)
    }
  }

  /** A built IVF-PQ index: the coded corpus (`codes`: vec_id, cell,
    * code0..code{nSub-1}) plus the driver-side fitted artifacts — coarse
    * centroids and subspace codebooks. Build once, probe many
    * ([[ivfPqKnnWith]]); persist/load via [[saveIvfPq]]/[[loadIvfPq]] —
    * the serving layout where probes read CODES from cell buckets and
    * touch full vectors only for the coarseK rescore. */
  final case class IvfPqIndex(codes: DataFrame,
      cent: Seq[(Int, Array[Double])], model: PqModel)

  /** Fit + encode an [[IvfPqIndex]] over `emb` — the release-cut build
    * behind [[ivfPqKnn]] (which fits in-call) and [[saveIvfPq]] (which
    * freezes the artifact). One fused [[fitBooks]] run fits the coarse
    * centroids AND every subspace codebook (shared init collect + one
    * driver job per Lloyd round); the encode is a shuffle-free per-row
    * map ([[encodePq]]'s discipline, plus the full-space cell assign). */
  def buildIvfPq(emb: DataFrame, nCells: Int = 16, dims: Int = 64,
      nSub: Int = 4, nCodes: Int = 16, iters: Int = 2,
      sampleMod: Int = 7): IvfPqIndex = {
    require(nSub > 0 && dims % nSub == 0,
      s"dims ($dims) must split evenly into nSub ($nSub) subspaces")
    val sd = dims / nSub
    val all = fitBooks(emb,
      SubFit(0, dims, nCells) +: (0 until nSub).map(j => SubFit(j * sd, sd, nCodes)),
      iters, sampleMod)
    val cent = all.head
    // same silent-drop hazard as buildIvf: an empty fit over a NON-empty
    // corpus would code nothing and every vector would vanish from the
    // served index (the empty-schema branch below is for genuinely empty
    // corpora only — the EmptyInputSpec contract)
    require(cent.nonEmpty || !hasAnyRow(emb),
      s"buildIvfPq fitted 0 of $nCells cells over a non-empty corpus — " +
        "k-means init takes vectors with vec_id < nCells and found " +
        "none; remap vec_ids to a dense 0-based range or raise nCells")
    val model = PqModel(dims, nSub, nCodes, all.tail.toSeq)
    // the per-subspace twin: a coarse fit can succeed (ids < nCells
    // exist) while a CODEBOOK fits nothing (no id < nCodes) — the inline
    // encode below would then die in pqAssign's bare non-empty-codebook
    // require instead of this actionable diagnostic
    require(cent.isEmpty || model.books.forall(_.nonEmpty),
      s"buildIvfPq fitted 0 of $nCodes codewords in a subspace over a " +
        "non-empty corpus — codebook init takes vectors with vec_id < " +
        "nCodes and found none; remap vec_ids to a dense 0-based range " +
        "or raise nCodes")
    val codes =
      if (cent.isEmpty) // no usable vectors: empty coded corpus, same schema
        emb.limit(0).select(
          col("vec_id") +: lit(0).as("cell") +:
            (0 until nSub).map(j => lit(0).as(s"code$j")): _*)
      // non-nullable cell key — same isnotnull-inference rationale as
      // assignToCells (the ADC probe equi-joins on cell)
      else emb.select(col("vec_id") +:
        coalesce(nearestCid(cent, 0), lit(-1)).as("cell") +: codeCols(model): _*)
    IvfPqIndex(codes, cent, model)
  }

  /** The shared IVF-PQ probe: coarse cell ranking per query, ADC scan of
    * the probed cells' CODES, exact cosine rescore of the top `ck`.
    * `vectors` supplies full embeddings for the rescore only. */
  private def ivfPqProbe(codes: DataFrame, vectors: DataFrame,
      cent: Seq[(Int, Array[Double])], model: PqModel, queries: DataFrame,
      k: Int, nprobe: Int, ck: Int): DataFrame = {
    if (cent.isEmpty) return noNeighbors(vectors, k)
    // Probe-side cell choice + ADC tables in ONE projection over the
    // query frame: the coarse centroids are driver-held fit artifacts,
    // so the top-nprobe pick rides in as a literal-codebook expression
    // ([[graft.expressions.VectorKernels.pqTopCells]] — same score
    // arithmetic and tie order as the former broadcast-centroid
    // crossJoin + window rank, which cost two broadcast-build driver
    // jobs per probe batch plus a window exchange on the query side;
    // the kernel's selection is the row_number rule verbatim, so the
    // candidate set — and with it every downstream hash — is unchanged).
    // The query vector + norm ride the probe broadcast once per probed
    // cell (nprobe small by contract) into [[rescoreTopK]].
    val probeTabs = queries.select(
      ((col("vec_id").as("query_id") +: adcTables(model)) :+
        col("embedding").as("qv") :+ norm(col("embedding")).as("qn")) :+
        explode(VectorExpressions.topCells(col("embedding"),
          cent.map(_._2), nprobe)).as("__pos"): _*)
      .withColumn("cell", posToId(col("__pos"), cent.map(_._1)))
      .drop("__pos")
    val coarse = codes
      .join(broadcast(probeTabs), Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("adc", adcScore(model))
    rescoreTopK(coarse, "adc", "vec_id", vectors, k, ck)
  }

  /** Persist an [[IvfPqIndex]] as its serving layout: the coded corpus
    * written as a catalog table BUCKETED BY `cell` (the probe's equi-join
    * key — against the bucketed table the corpus side reads straight from
    * its buckets with no exchange, the [[saveIvf]] story at 1/16th the
    * bytes: nSub ints per row instead of `dims` floats), the coarse
    * centroids as `<table>_centroids` and the subspace codebooks as
    * `<table>_books` (both tiny driver-readable side tables). */
  def saveIvfPq(index: IvfPqIndex, table: String, numBuckets: Int,
      mode: org.apache.spark.sql.SaveMode = org.apache.spark.sql.SaveMode.ErrorIfExists): Unit = {
    val spark = index.codes.sparkSession
    import spark.implicits._
    graft.ops.Layout.writeBucketed(index.codes, table, Seq("cell"), numBuckets, mode = mode)
    index.cent.map { case (cid, v) => (cid, v.toSeq) }.toDF("cid", "cv")
      .write.mode(mode).saveAsTable(s"${table}_centroids")
    index.model.books.zipWithIndex
      .flatMap { case (book, j) => book.map { case (cid, v) => (j, cid, v.toSeq) } }
      .toDF("sub", "cid", "v")
      .write.mode(mode).saveAsTable(s"${table}_books")
  }

  /** Load a persisted IVF-PQ index ([[saveIvfPq]]'s inverse). The coded
    * corpus stays a (bucketed) table scan; centroids and codebooks are
    * tiny driver reads — cache them per process for steady-state serving
    * (the fit is deterministic, so a reload can never drift). */
  def loadIvfPq(spark: org.apache.spark.sql.SparkSession, table: String): IvfPqIndex = {
    val cent = spark.table(s"${table}_centroids").orderBy(col("cid")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toSeq
    val bookRows = spark.table(s"${table}_books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val nSub = if (bookRows.isEmpty) 0 else bookRows.map(_._1).max + 1
    val books = (0 until nSub).map { j =>
      bookRows.filter(_._1 == j).sortBy(_._2).map { case (_, cid, v) => cid -> v }.toSeq
    }
    val dims = cent.headOption.map(_._2.length).getOrElse(0)
    val model =
      if (nSub == 0) PqModel(dims, 1, 0, Seq(Seq.empty))
      else PqModel(dims, nSub, books.head.size, books)
    IvfPqIndex(spark.table(table), cent, model)
  }

  /** Incremental IVF-PQ maintenance — [[extendIvf]]'s analogue for the
    * coded layout: encode the delta against the FROZEN centroids and
    * codebooks and append. Old codes never move (the artifacts are
    * immutable inputs), so the extended index equals an encode of
    * base∪delta under the SAME frozen artifacts — the property
    * ServingSpec pins. NOTE the deliberate asymmetry with a full
    * rebuild: [[buildIvfPq]] over base∪delta would REFIT the codebooks
    * on the union (a different, generally better quantizer), so
    * extension trades recall drift for a one-pass delta encode — the
    * standard add-without-retrain contract of a served PQ index;
    * periodic refits remain a release-cadence policy. */
  def extendIvfPq(index: IvfPqIndex, newEmb: DataFrame): IvfPqIndex = {
    // an unfitted index (empty corpus at build time) has nothing to encode
    // the delta against — silently returning the base codes would DROP
    // newEmb from the served index; fail loudly and point at the remedy
    require(index.cent.nonEmpty,
      "extendIvfPq: index has no fitted centroids (built over an empty " +
        "corpus) — the delta cannot be encoded and would be silently " +
        "dropped; rebuild with buildIvfPq over the union instead")
    // buildIvfPq guards this at fit time, but IvfPqIndex is a public
    // constructor — keep the delta-encode path loud too
    require(index.model.books.forall(_.nonEmpty),
      "extendIvfPq: index has an empty subspace codebook — the delta " +
        "cannot be encoded; rebuild with buildIvfPq over the union instead")
    val codes = index.codes.unionByName(newEmb.select(col("vec_id") +:
      nearestCid(index.cent, 0).as("cell") +: codeCols(index.model): _*))
    IvfPqIndex(codes, index.cent, index.model)
  }

  /** Probe a pre-built [[IvfPqIndex]] — the serving path that amortizes
    * the fit + encode across query batches ([[ivfPqKnn]] rebuilds both
    * per call; the deterministic fit makes the two hash-identical over
    * the same corpus, which is what lets the in-call oracle cover the
    * served query verbatim). `vectors` is the full-vector source for the
    * coarseK rescore — the index itself never stores vectors. Unscoped
    * like [[ivfKnnWith]]: the caller owns the planning conf. */
  def ivfPqKnnWith(index: IvfPqIndex, vectors: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int, coarseK: Int = 0): DataFrame = {
    val ck = coarseWidth(coarseK, k)
    require(index.cent.isEmpty || (nprobe >= 1 && nprobe <= index.cent.size),
      s"nprobe must be in [1, nCells=${index.cent.size}], got $nprobe")
    ivfPqProbe(index.codes, vectors, index.cent, index.model, queries, k, nprobe, ck)
  }

  /** Deterministic sampled k-means centroids for the IVF index —
    * THE centroid rule, in one place (assignment and probing must use the
    * same centroids or probes would target cells nothing was assigned to).
    *
    * Production ANN indexes fit centroids on a small sample, not the
    * corpus: the sample here is a deterministic arithmetic slice
    * (`vec_id % sampleMod == 0` — reproducible on any engine, no RNG),
    * init is the first `nCells` vectors by id, and `iters` Lloyd rounds
    * refine them. All centroid state is exact at rest: vector elements are
    * micro-rounded (×1e6 → BIGINT) before summing, means are
    * floor-divided, and centroids live as micro-longs ÷ 1e6 — so the whole
    * fit replays bit-identically on any IEEE-double engine (the s02 DuckDB
    * oracle re-runs it as unrolled SQL CTEs).
    *
    * Scale shape: each Lloyd round is one per-row kernel argmax over the
    * SAMPLE (not the corpus) plus a (cell, dim) grouped sum with map-side
    * partials; between rounds the driver holds only nCells×d longs — the
    * k-means-init pattern, same class as d05's anchor fetch, not a data
    * collect. Empty cells keep their previous centroid, so the cell count
    * never decays. Returns `(cid int, cv array<double>)`.
    */
  def kmeansCentroids(emb: DataFrame, nCells: Int, iters: Int = 2,
      sampleMod: Int = 7): DataFrame =
    centroidFrame(emb.sparkSession,
      fitBooks(emb, Seq(SubFit.cells(nCells)), iters, sampleMod).head)

  /** Literal `(cid, cv array<double>)` frame of driver-held centroids. */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      cents: Seq[(Int, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.toDF("cid", "cv")
  }

  /** Deterministic IVF cell assignment: every vector lands in the cell of
    * its nearest k-means centroid (ties → lowest centroid id) — a pure
    * per-row map, no exchange. */
  def ivfAssign(emb: DataFrame, nCells: Int, iters: Int = 2,
      sampleMod: Int = 7): DataFrame =
    assignToCells(emb, fitBooks(emb, Seq(SubFit.cells(nCells)), iters, sampleMod).head)

  private def assignToCells(emb: DataFrame, book: Seq[(Int, Array[Double])]): DataFrame =
    if (book.isEmpty)
      emb.select(col("vec_id"), col("embedding"), lit(null).cast("int").as("cell"))
    // coalesce(-1) makes `cell` NON-NULLABLE (r16, guide §4): probes
    // equi-join on cell, and a nullable key makes Catalyst infer
    // `isnotnull(cell)` — which substitutes the WHOLE pqAssign kernel
    // into the scan filter, encoding every corpus row twice (measured on
    // the s02 plan). With a non-nullable key no constraint is generated.
    // Value-identical: cell is null iff embedding is null, and both the
    // old null and the new -1 match no real cid (cids are >= 0) — the
    // row drops at the probe join either way.
    else emb.select(col("vec_id"), col("embedding"),
      coalesce(nearestCid(book, 0), lit(-1)).as("cell"))

  /** A built IVF index: cell-assigned vectors (with precomputed norms) and
    * the centroid table. Build once, probe many — the deployment shape for
    * a served ANN index; the per-call `ivfKnn` rebuilds this every time.
    * Long-lived indexes should call `persist()` so probes stop re-reading
    * the embeddings source entirely (both halves — cached assignments over
    * mutated source files with re-scanned centroids would silently
    * mismatch). */
  final case class IvfIndex(assigned: DataFrame, centroids: DataFrame, nCells: Int) {
    def persist(): IvfIndex = { assigned.persist(); centroids.persist(); this }
    def unpersist(): IvfIndex = {
      assigned.unpersist(); centroids.unpersist(); this
    }
  }

  /** Build the IVF index for [[ivfKnnWith]]. */
  def buildIvf(emb: DataFrame, nCells: Int, iters: Int = 2,
      sampleMod: Int = 7): IvfIndex = {
    // record the FITTED cell count, not the requested one — a filtered or
    // tiny corpus inits fewer centroids than asked for (init takes the
    // rows with vec_id < nCells), and an empty corpus fits none at all.
    // loadIvf already counts the real centroid rows, so this keeps the two
    // constructors' nCells semantics identical and makes extendIvf's
    // unfitted-index guard actually fire (requested-count semantics read 8
    // on an empty fit).
    val cents = fitBooks(emb, Seq(SubFit.cells(nCells)), iters, sampleMod).head
    // 0 fitted cells over a NON-empty corpus is silent data loss — the
    // assignment join below would drop every vector (init takes vectors
    // with vec_id < nCells and found none). The existence probe is one
    // bounded 1-row job on the degenerate path only; an empty corpus
    // legitimately fits an empty index (EmptyInputSpec contract).
    require(cents.nonEmpty || !hasAnyRow(emb),
      s"buildIvf fitted 0 of $nCells cells over a non-empty corpus — " +
        "k-means init takes vectors with vec_id < nCells and found " +
        "none; remap vec_ids to a dense 0-based range or raise nCells")
    IvfIndex(assignToCells(emb, cents).withColumn("nn", norm(col("embedding"))),
      centroidFrame(emb.sparkSession, cents), cents.size)
  }

  /** Bounded 1-row existence probe — used only on degenerate paths
    * (an empty k-means fit), never per hot call. */
  private def hasAnyRow(df: DataFrame): Boolean =
    df.select(lit(1).as("__one")).limit(1).collect().nonEmpty

  /** ANN quality evaluation — recall@k of the IVF probe against the
    * brute-force ground truth on a (sampled) query set: the number every
    * index deployment tunes `nprobe`/`nCells` against (the
    * [[tuneNprobe]] utility reads per-query recall; this is the one-row
    * corpus-level report, oracle-checkable). `recall_permille =
    * ⌊1000·hits/truth⌋` with truth = the brute top-k pair set — exact
    * integer math.
    *
    * Cost is dominated by the brute ground truth (O(|Q|·N·d)), which is
    * why the QUERY SET is the sampling knob: evaluate on 0.1% of queries,
    * serve with the fitted setting. */
  def recallAtK(emb0: DataFrame, queries0: DataFrame, k: Int, nCells: Int,
      nprobe: Int, iters: Int = 2, sampleMod: Int = 7): DataFrame =
      graft.ops.PlanScope.isolatedStaticFor(emb0) { scoped =>
    val emb = graft.ops.PlanScope.rebind(emb0, scoped)
    val queries = graft.ops.PlanScope.rebind(queries0, scoped)
    recallAtKWith(buildIvf(emb, nCells, iters, sampleMod), emb, queries, k, nprobe)
  }

  /** [[recallAtK]] with the index SUPPLIED (served/prebuilt) instead of
    * fit in-call — the evaluation a serving deployment actually runs:
    * measure the index you ship, not a fresh fit of its parameters
    * (identical results here because the fit is deterministic). The
    * ground truth stays one brute-force pass over `emb`. Unscoped like
    * [[ivfKnnWith]]: the caller owns the planning conf, and all three
    * frames must be bound to the same session. */
  def recallAtKWith(index: IvfIndex, emb: DataFrame, queries: DataFrame,
      k: Int, nprobe: Int): DataFrame = {
    val approx = ivfKnnWith(index, queries, k, nprobe)
      .select(col("query_id"), col("neighbor_id"))
    val truth = bruteForceKnn(emb, queries, k)
      .select(col("query_id"), col("neighbor_id"))
    // ONE union-aggregate over the two (distinct) top-k pair sets (the
    // lshEvalReport discipline): the former truth-agg × hits-agg
    // crossJoin re-executed the brute-force truth pass per consuming
    // aggregate and paid a broadcast-build driver job for the 1-row
    // join; tagging the side and summing flags reads each subtree once.
    truth.select(col("query_id"), col("neighbor_id"),
        lit(1L).as("__t"), lit(0L).as("__a"))
      .unionByName(approx.select(col("query_id"), col("neighbor_id"),
        lit(0L).as("__t"), lit(1L).as("__a")))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("__t")).as("__it"), max(col("__a")).as("__ia"))
      .agg(count_distinct(when(col("__it") === 1L, col("query_id"))).as("n_queries"),
        coalesce(sum(col("__it")), lit(0L)).as("n_truth"),
        coalesce(sum(col("__it") * col("__ia")), lit(0L)).as("n_hits"))
      .select(col("n_queries"), col("n_truth"), col("n_hits"),
        expr("CAST(IF(n_truth = 0, NULL, (1000 * n_hits) DIV n_truth) AS BIGINT)").as("recall_permille"))
  }

  /** Incremental index maintenance — the serving-path answer to "new
    * vectors arrived, don't refit": assign the delta against the FROZEN
    * centroids and append. Assignments of old vectors never move (the
    * centroids are immutable inputs), so the extended index is exactly
    * what a full [[buildIvf]] over base∪delta with the SAME centroids
    * would produce — the property the s11 oracle checks. Periodic refits
    * remain a policy decision (rebuild + [[saveIvf]]); between them this
    * keeps freshness at the cost of one broadcast assignment pass over
    * the delta only. */
  def extendIvf(index: IvfIndex, newEmb: DataFrame): IvfIndex = {
    // an unfitted index (empty corpus at build time) would assign the
    // delta against zero centroids — an empty join that silently DROPS
    // every new vector (the extendIvfPq hazard, caught free here because
    // nCells is already driver-side and both constructors record the
    // FITTED count: buildIvf from the k-means fit, loadIvf from the
    // centroid-table row count)
    require(index.nCells > 0,
      "extendIvf: index has no fitted centroids (built over an empty " +
        "corpus) — the delta cannot be assigned and would be silently " +
        "dropped; rebuild with buildIvf over the union instead")
    val book = index.centroids.select(col("cid"), col("cv")).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).sortBy(_._1).toSeq
    IvfIndex(
      index.assigned.unionByName(
        assignToCells(newEmb, book).withColumn("nn", norm(col("embedding")))),
      index.centroids, index.nCells)
  }

  /** Persist an [[IvfIndex]] as its serving layout: `assigned` (vectors +
    * precomputed norms + cell ids) written as a catalog table BUCKETED BY
    * `cell` via [[graft.ops.Layout.writeBucketed]], centroids as a plain
    * side table (`<table>_centroids`, nCells rows). The bucketing is the
    * deployment story for a 100 TB index: a probe is an equi-join on
    * `cell`, and against the bucketed table the corpus side reads
    * straight from its buckets with NO exchange — file pruning and
    * co-location were paid once at write time and amortize over every
    * query batch ([[loadIvf]] + [[ivfKnnWith]]). Pick `numBuckets` so one
    * bucket of `assigned` fits executor memory at target scale. */
  def saveIvf(index: IvfIndex, table: String, numBuckets: Int,
      mode: org.apache.spark.sql.SaveMode = org.apache.spark.sql.SaveMode.ErrorIfExists): Unit = {
    graft.ops.Layout.writeBucketed(index.assigned, table, Seq("cell"), numBuckets, mode = mode)
    index.centroids.write.mode(mode).saveAsTable(s"${table}_centroids")
    // evict the cached cell count: a same-JVM rebuild under the same name
    // with a DIFFERENT cell count must serve the rebuilt capacity — a
    // stale nCells would let recallSweepWith take its exhaustive-truth
    // shortcut on a non-exhaustive probe and silently inflate recall
    loadedCellCounts.remove(
      cellCountKey(index.centroids.sparkSession, table))
  }

  /** Load a persisted IVF index ([[saveIvf]]'s inverse). The returned
    * index probes with zero exchange on the corpus side — see [[saveIvf]].
    * nCells is the centroid count (one row per cell, tiny driver read) —
    * CACHED per table name for the life of the process: a served index
    * is immutable for the life of its table (the Serving.cachedArtifact
    * contract — rebuilds are deterministic, deletions recreate the same
    * content), so re-counting the centroid rows on every probe batch was
    * one driver job per call for a constant (s17 paid it twice per rep).
    * The cache keys on (warehouse dir, table) and [[saveIvf]] evicts its
    * key, so neither a rebuild under the same name nor a second session
    * with a different warehouse can be served a stale count. */
  private val loadedCellCounts =
    new java.util.concurrent.ConcurrentHashMap[String, Integer]()

  private def cellCountKey(spark: org.apache.spark.sql.SparkSession,
      table: String): String =
    spark.conf.get("spark.sql.warehouse.dir", "") + "\u0001" + table

  def loadIvf(spark: org.apache.spark.sql.SparkSession, table: String): IvfIndex = {
    val cent = spark.table(s"${table}_centroids")
    val n = loadedCellCounts.computeIfAbsent(cellCountKey(spark, table),
      _ => Int.box(cent.count().toInt))
    IvfIndex(spark.table(table), cent, n)
  }

  /** IVF-probed approximate top-k: each query probes its `nprobe` closest
    * cells and runs exact cosine only inside them. */
  def ivfKnn(emb0: DataFrame, queries0: DataFrame, k: Int, nCells: Int, nprobe: Int,
      iters: Int = 2, sampleMod: Int = 7): DataFrame =
    // Build+probe is a known plan shape re-executed per call: run it on a
    // conf-isolated static scope (one driver job per action instead of
    // one per AQE exchange; concurrent caller queries keep AQE). The
    // served path (buildIvf + persist + ivfKnnWith) stays unscoped — a
    // long-lived index plans under its owner's conf.
    graft.ops.PlanScope.isolatedStaticFor(emb0) { scoped =>
      ivfKnnWith(
        buildIvf(graft.ops.PlanScope.rebind(emb0, scoped), nCells, iters, sampleMod),
        graft.ops.PlanScope.rebind(queries0, scoped), k, nprobe)
    }

  /** Probe a pre-built [[IvfIndex]] — amortizes the index build across
    * query batches.
    *
    * `excludeSelf` (default true) drops candidates whose `vec_id` equals
    * the probing `query_id` — correct for SELF-search (queries drawn from
    * the indexed corpus, where the best match is trivially yourself), but
    * it MUST be false for cross-corpus probes (e.g. bitext mining), where
    * src and tgt id spaces may overlap and id-equality is coincidence, not
    * identity — silently dropping the aligned (i, i) pair there loses
    * exactly the rows being mined. */
  def ivfKnnWith(index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int,
      excludeSelf: Boolean = true): DataFrame = {
    // no upper bound on nprobe: the cell pick is a top-nprobe heap over
    // the centroid frame, so probing more cells than the index FITTED
    // (nCells is the fitted count — a filtered/tiny corpus inits fewer
    // than requested) naturally degrades to probing every cell, i.e.
    // exhaustive search — the FAISS nprobe-clamp semantics. Callers size
    // nprobe off the REQUESTED cell count, which may legitimately exceed
    // the fit.
    require(nprobe > 0, s"nprobe must be >= 1, got $nprobe")
    val probes = probeCells(index, queries, nprobe)
      .select(col("query_id"), col("qv"), norm(col("qv")).as("qn"),
        explode(col("cells.id")).as("cell"))
    val joined = probes.join(index.assigned, Seq("cell"))
    val scored = (if (excludeSelf) joined.filter(col("query_id") =!= col("vec_id")) else joined)
      .withColumn("neighbor_id", col("vec_id"))
      .withColumn("cos_e6", cosE6From(col("qv"), col("embedding"), col("qn"), col("nn")))
    topKNeighbors(scored, k)
  }

  /** Per query its vector `qv` and its `nprobe` nearest cells (`cells`,
    * best first): cosine to every centroid of the broadcast centroid
    * table, collapsed by a bounded top-`nprobe` heap. */
  private def probeCells(index: IvfIndex, queries: DataFrame, nprobe: Int): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .crossJoin(broadcast(withCentNorm(index.centroids)))
      .withColumn("cell_cos", cosToCent(col("qv"), col("cv"), col("cn")))
      .groupBy(col("query_id"))
      .agg(
        first(col("qv")).as("qv"),
        TopKByScore.topK(col("cell_cos"), col("cid"), nprobe).as("cells"))

  /** cosine(float vector, double centroid) via the widening codegen'd dot;
    * centroid norm precomputed per centroid row (same IEEE value). */
  private def cosToCent(v: Column, cv: Column, cn: Column): Column =
    VectorExpressions.dotWiden(v, cv) / (norm(v) * cn)

  private def withCentNorm(cent: DataFrame): DataFrame =
    cent.select(col("cid"), col("cv"),
      sqrt(VectorExpressions.dotWiden(col("cv"), col("cv"))).as("cn"))

  /** Pick the smallest `nprobe` whose recall@k against brute force, on a
    * SAMPLE of queries, reaches `targetRecallPermille` — the standard IVF
    * tuning loop, packaged. Doubles nprobe (1, 2, 4, …, nCells) and
    * returns the first level that meets the target, or `nCells` (exact)
    * if none below it does.
    *
    * Driver cost: one brute-force pass plus one probe pass per level,
    * all over the small sample — the index-build-time pattern, not a
    * per-query cost. Run once, pin the result in the serving config. */
  def tuneNprobe(index: IvfIndex, sampleQueries: DataFrame, k: Int,
      targetRecallPermille: Int): Int = {
    require(targetRecallPermille >= 0 && targetRecallPermille <= 1000,
      s"target must be permille in [0,1000], got $targetRecallPermille")
    val emb = index.assigned.select(col("vec_id"), col("embedding"))
    def topSets(df: DataFrame): Map[Long, Set[Long]] =
      df.select(col("query_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val truth = topSets(bruteForceKnn(emb, sampleQueries, k))
    if (truth.isEmpty) return 1 // no sample: any probe level is "exact"
    val levels = Iterator.iterate(1)(_ * 2).takeWhile(_ < index.nCells).toSeq :+ index.nCells
    levels.find { np =>
      val got = topSets(ivfKnnWith(index, sampleQueries, k, np))
      val recall = truth.map { case (q, t) =>
        got.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
      }.sum / truth.size
      // floor semantics: rounding up would declare a 999.5‰ recall "1000"
      // and return a provably-inexact level for an exact-recall request
      recall * 1000 >= targetRecallPermille
    }.getOrElse(index.nCells)
  }

  /** Recall@k at EVERY probe level in one pass — the tuning-curve report
    * ([[tuneNprobe]] finds one operating point; this measures the whole
    * knee, per corpus, as oracle-checkable rows). One row per level:
    * `(nprobe, n_queries, n_truth, n_hits, recall_permille)`.
    *
    * Cost shape: the index is built ONCE, the brute ground truth runs
    * ONCE, and the probe join runs ONCE at max(nprobes) with each
    * candidate tagged by its cell's probe rank — level ℓ's approximate
    * top-k is then a filter (`cell_rank < ℓ`) + bounded heap over that
    * cached candidate frame, NOT a fresh corpus join per level. Valid
    * because [[TopKByScore]]'s descending output is prefix-consistent:
    * the first ℓ of the top-max cells ARE the top-ℓ cells, same
    * tie-breaks. Both reused frames are persisted, the 5-row report is
    * materialized, and the scaffolding is dropped before returning.
    *
    * When `max(nprobes) == nCells` the max-level probe visits EVERY cell —
    * it IS exact search (same self-exclusion, same cosE6, same
    * (score desc, id asc) heap tie-breaks as [[bruteForceKnn]]) — so the
    * ground truth is derived from the already-persisted candidate frame
    * instead of paying a second full corpus×queries pass. */
  def recallSweep(emb0: DataFrame, queries0: DataFrame, k: Int, nCells: Int,
      nprobes: Seq[Int], iters: Int = 2, sampleMod: Int = 7): DataFrame = {
    require(nprobes.nonEmpty, "nprobes must be non-empty")
    require(nprobes.forall(np => np > 0 && np <= nCells),
      s"every nprobe must be in [1, nCells=$nCells], got $nprobes")
    // whole sweep on a conf-isolated static scope (see ivfKnn) — the
    // returned |levels|-row LocalRelation is plan-free anyway
    graft.ops.PlanScope.isolatedStaticFor(emb0) { scoped =>
      val emb = graft.ops.PlanScope.rebind(emb0, scoped)
      val queries = graft.ops.PlanScope.rebind(queries0, scoped)
      recallSweepWith(buildIvf(emb, nCells, iters, sampleMod), emb, queries, k, nprobes)
    }
  }

  /** [[recallSweep]] with the index SUPPLIED (served/prebuilt) instead of
    * fit in-call — see [[recallAtKWith]] for why a deployment evaluates
    * the shipped artifact. Unscoped: the caller owns the planning conf;
    * `emb` feeds the brute ground truth only when `max(nprobes)` probes
    * fewer than every cell (the full-probe level IS exact search). */
  def recallSweepWith(index: IvfIndex, emb: DataFrame, queries: DataFrame,
      k: Int, nprobes: Seq[Int]): DataFrame = {
    require(nprobes.nonEmpty, "nprobes must be non-empty")
    // upper levels may exceed the FITTED cell count (see ivfKnnWith) —
    // they clamp to probing every cell, and the ≥-test below still
    // derives ground truth from the exhaustive level
    require(nprobes.forall(_ > 0), s"every nprobe must be >= 1, got $nprobes")
    val nCells = index.nCells
    val maxNp = nprobes.max
    val probes = probeCells(index, queries, maxNp)
      .select(col("query_id"), col("qv"), norm(col("qv")).as("qn"),
        posexplode(col("cells.id")).as(Seq("cell_rank", "cell")))
    val scored = probes.join(index.assigned, Seq("cell"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("neighbor_id", col("vec_id"))
      .withColumn("cos_e6", cosE6From(col("qv"), col("embedding"), col("qn"), col("nn")))
      .select(col("query_id"), col("neighbor_id"), col("cos_e6"), col("cell_rank"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val truth = (if (maxNp >= nCells) topKNeighbors(scored, k)
        else bruteForceKnn(emb, queries, k))
      .select(col("query_id").as("tq"), col("neighbor_id").as("tn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ALL levels in ONE plan, not one query per level: each candidate row
    // fans out to exactly the levels that admit it (bounded ×|levels|
    // inflation over an already-bounded frame), then one heap per
    // (level, query), one hits join, one grouped count. Per-level filter
    // before the heap ≡ fan-out then group-by-level — identical candidate
    // multiset per (level, query), so the report is hash-identical to the
    // per-level loop it replaces. The win is DISPATCH, not arithmetic: a
    // per-level loop pays the driver's per-job floor |levels|× (measured:
    // the whole query was ~0 s compute after dispatch normalization); the
    // fused plan pays it once — the same reason the sweep exists instead
    // of |levels| separate recallAtK calls.
    val lv = nprobes.distinct.sorted.map(_.toLong)
    val admitted = org.apache.spark.sql.functions.filter(
      typedLit(lv), l => col("cell_rank") < l)
    val approx = scored
      .select(col("query_id"), col("neighbor_id"), col("cos_e6"),
        explode(admitted).as("nprobe"))
      .groupBy(col("nprobe"), col("query_id"))
      .agg(graft.expressions.TopKByScore.topK(
        col("cos_e6").cast("double"), col("neighbor_id"), k).as("top"))
      .select(col("nprobe"), col("query_id"), explode(col("top.id")).as("neighbor_id"))
    val hitCounts = approx.join(truth,
        col("query_id") === col("tq") && col("neighbor_id") === col("tn"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("n_hits"))
    val stats = truth
      .agg(count_distinct(col("tq")).as("n_queries"), count(lit(1)).as("n_truth"))
    import scored.sparkSession.implicits._
    val out = lv.toDF("nprobe")
      .crossJoin(stats)
      .join(hitCounts, Seq("nprobe"), "left")
      .select(col("nprobe"), col("n_queries"), col("n_truth"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        expr("CAST(IF(n_truth = 0, NULL, (1000 * n_hits) DIV n_truth) AS BIGINT)").as("recall_permille"))
    // the report is |levels| rows — hand it over as a plan-free
    // LocalRelation (one action materializes the whole sweep), then drop
    // the scaffolding caches: the call leaves nothing registered
    val rows = out.collect()
    scored.unpersist(blocking = false)
    truth.unpersist(blocking = false)
    scored.sparkSession.createDataFrame(
      java.util.Arrays.asList(rows: _*), out.schema)
  }

  /** Margin-based bitext mining (the Artetxe & Schwenk ratio-margin rule
    * behind LASER/CCMatrix-style parallel-corpus construction): for each
    * source vector, its best target match scored by
    * `margin = cos(x,y) / ((avgₖ(x→tgt) + avgₖ(y→src)) / 2)` — raw cosine
    * normalized by BOTH neighborhoods' density, so hubs (vectors close to
    * everything) stop winning every pairing. Returns the top-1 target per
    * query source: `(src_id, tgt_id, cos_e6, margin_e6)` with
    * `margin_e6 = (2·10⁶·cos_e6) div (avg_src_e6 + avg_tgt_e6)` in exact
    * integer math.
    *
    * Scale shape (the mining-run layout): both directions ride the IVF
    * index, never brute force — forward probes the target index with the
    * query sample, backward probes the source index with ONLY the
    * distinct forward candidates (bounded by |queries|·k). Corpus-sized
    * work is two index builds (amortizable via [[buildIvf]]+persist across
    * mining batches) plus bucketed probes; no all-pairs join exists at
    * any step.
    *
    * Portability contract: averages are taken over the NON-NEGATIVE
    * members of each top-k (keeps every integer division on positive
    * ground — Spark's `div` truncates toward zero while DuckDB's `//`
    * floors, and they only agree above zero); negative-cosine candidate
    * pairs are dropped for the same reason (they are noise for mining
    * anyway). A query whose whole neighborhood is negative yields no row.
    *
    * Both probes run with `excludeSelf = false`: these are CROSS-corpus
    * lookups, so a src id equalling a tgt id is a coincidence of id
    * spaces, not a self-match — with overlapping id spaces the aligned
    * (i, i) pair is precisely the row mining exists to find.
    */
  def bitextMarginMine(src0: DataFrame, tgt0: DataFrame, queries0: DataFrame,
      k: Int, nCells: Int, nprobe: Int,
      iters: Int = 2, sampleMod: Int = 7): DataFrame =
    // both fits + both probe passes on one conf-isolated static scope
    // (see ivfKnn); the prebuilt-index entry point stays unscoped for
    // serving callers with persisted indexes
    graft.ops.PlanScope.isolatedStaticFor(src0) { scoped =>
      bitextMarginMineWith(
        buildIvf(graft.ops.PlanScope.rebind(src0, scoped), nCells, iters, sampleMod),
        buildIvf(graft.ops.PlanScope.rebind(tgt0, scoped), nCells, iters, sampleMod),
        graft.ops.PlanScope.rebind(queries0, scoped), k, nprobe)
    }

  /** [[bitextMarginMine]] against PREBUILT indexes — the mining-run and
    * streaming serving shape: both corpus-sized index builds are paid once
    * (persist them), each query batch pays only the two probe passes.
    * `tgtIndex.assigned` doubles as the candidate-vector source for the
    * backward probe, so the raw target frame is never re-read. */
  def bitextMarginMineWith(srcIndex: IvfIndex, tgtIndex: IvfIndex,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val fwd = ivfKnnWith(tgtIndex, queries, k, nprobe, excludeSelf = false)
      .filter(col("cos_e6") >= 0L)
      .select(col("query_id"), col("neighbor_id"), col("cos_e6"))
    val avgFwd = fwd.groupBy(col("query_id"))
      .agg(expr("sum(cos_e6) div count(1)").as("avg_src"))
    val candVecs = tgtIndex.assigned.select(col("vec_id"), col("embedding")).join(
      fwd.select(col("neighbor_id")).distinct(),
      col("vec_id") === col("neighbor_id"), "left_semi")
    val bwd = ivfKnnWith(srcIndex, candVecs, k, nprobe, excludeSelf = false)
      .filter(col("cos_e6") >= 0L)
    val avgBwd = bwd.groupBy(col("query_id").as("__nb"))
      .agg(expr("sum(cos_e6) div count(1)").as("avg_tgt"))
    val margins = fwd
      .join(avgFwd, Seq("query_id"))
      .join(avgBwd, col("neighbor_id") === col("__nb"))
      .filter(col("avg_src") + col("avg_tgt") > 0L)
      .withColumn("margin_e6",
        expr("(2000000 * cos_e6) div (avg_src + avg_tgt)"))
    margins
      .withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query_id"))
          .orderBy(col("margin_e6").desc, col("neighbor_id"))))
      .filter(col("__r") === 1)
      .select(col("query_id").as("src_id"), col("neighbor_id").as("tgt_id"),
        col("cos_e6"), col("margin_e6"))
  }

  /** The anchor grid of the exact-recall threshold joins
    * ([[embeddingNearDupPairs]], [[semanticContamination]]).
    *
    * Geometry: for unit vectors, cos(a,b) ≥ t ⟺ ‖û_a−û_b‖ ≤ √(2−2t) = ε,
    * and any 1-Lipschitz projection p satisfies |p(û_a)−p(û_b)| ≤ ε. Each
    * vector is bucketed by ⌊p_j/ε⌋ over two anchor projections
    * (p_j(v) = cos(v, anchor_j)); a qualifying pair's cells then differ
    * by at most 1 per axis, so probing the 3×3 cell neighborhood of one
    * side captures every qualifying pair — recall is exact by
    * construction, and each pair meets in exactly one probe offset, so no
    * dedup pass is needed. Any fixed unit anchors keep that guarantee and
    * every candidate is verified with the exact cosine, so the anchors
    * shape cell occupancy, never the output. */
  private final class AnchorGrid(anchors: Seq[Array[Double]], eps: Double) {
    private val offs: Seq[(Int, Int)] = for { i <- -1 to 1; j <- -1 to 1 } yield (i, j)

    private def cellCol(i: Int): Column =
      if (i < anchors.length)
        floor(dot(col("embedding"), typedLit(anchors(i).map(_.toFloat))) / col("nrm") / lit(eps))
          .cast("long")
      else lit(0L)

    /** `df` (carrying `embedding` and its norm `nrm`) plus its cell `(c0, c1)`. */
    def cells(df: DataFrame): DataFrame =
      df.withColumn("c0", cellCol(0)).withColumn("c1", cellCol(1))

    /** One row per 3×3 neighbor cell `(p0, p1)` of each row's cell
      * `(c0, c1)`, keeping the columns `keep`. */
    def neighbors(df: DataFrame, keep: String*): DataFrame =
      df.withColumn("off", explode(typedLit(offs)))
        .select(keep.map(col) :+ (col("c0") + col("off._1")).as("p0") :+
          (col("c1") + col("off._2")).as("p1"): _*)
  }

  private object AnchorGrid {
    /** `(vec_id, embedding, nrm)` of the rows with a nonzero norm: a
      * zero-norm vector has no defined cosine to anything (it can never
      * satisfy the threshold), and the projection divides by nrm — under
      * ANSI the degenerate row would kill the whole run with
      * DIVIDE_BY_ZERO. */
    def nonZero(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
        .filter(col("nrm") > 0)

    private def unit(a: Array[Double]): Option[Array[Double]] = {
      val n = math.sqrt(a.map(x => x * x).sum)
      if (n > 1e-12) Some(a.map(_ / n)) else None
    }

    /** The grid for cosine threshold `minCosE6`, its anchors a tiny fitted
      * model (like k-means centroids) over the [[nonZero]] rows `fitRows`:
      * ONE bounded fetch brings the first 256 vectors by id; u0 is the
      * first, u1 the most orthogonal of the rest (ties → lowest id, stable
      * sort over the id-ordered pool), Gram-Schmidt orthogonalized
      * driver-side (O(d) floats — the index-build pattern, not a data
      * collect). */
    def fit(fitRows: DataFrame, minCosE6: Long): AnchorGrid = {
      // round(cos*1e6) ≥ minCosE6 admits cos down to (minCosE6 - 0.5)/1e6;
      // take a hair more slack so float noise can never cost recall.
      val t = (minCosE6.toDouble - 1.0) / 1e6
      val pool = fitRows.orderBy(col("vec_id"))
        .select(col("embedding")).limit(256).collect()
        .map(_.getSeq[Float](0).toArray.map(_.toDouble))
      val anchors: Seq[Array[Double]] = pool.headOption.flatMap(unit) match {
        case None => Nil // no usable vectors: single bucket, join output empty anyway
        case Some(u0) =>
          val a1 = pool.drop(1).flatMap(unit)
            .sortBy(v => math.abs(v.zip(u0).map { case (x, y) => x * y }.sum))
            .headOption
          val u1 = a1.flatMap { v =>
            val proj = v.zip(u0).map { case (x, y) => x * y }.sum
            unit(v.zip(u0).map { case (x, y) => x - proj * y })
          }
          Seq(Some(u0), u1).flatten
      }
      new AnchorGrid(anchors, math.sqrt(math.max(2.0 - 2.0 * t, 1e-9)))
    }
  }

  /** Embedding near-duplicate pairs: all pairs with cosine ≥ threshold,
    * with EXACT recall, via the [[AnchorGrid]]'s bucketed candidate
    * generation instead of an all-pairs nested-loop join; candidates are
    * verified with the exact cosine before output.
    *
    * The candidate join is an equi-join on (cell0, cell1) — shuffled hash
    * partitioned, AQE-skew-safe, never a broadcast nested loop. Pruning
    * power scales with the threshold: at production near-dup thresholds
    * (t ≥ 0.85, ε ≤ 0.55) buckets are narrow and most cross-cluster pairs
    * are never generated; at looser thresholds the cells widen (the exact
    * all-pairs semantics genuinely approaches quadratic work there — that
    * is inherent to the query, not the plan).
    */
  def embeddingNearDupPairs(emb: DataFrame, minCosE6: Long): DataFrame = {
    // NOT static-scoped (measured 6.5× slower under a scan-sized static
    // scope): the 9-offset candidate join explodes far past the scan
    // estimate, so AQE's runtime re-sizing is load-bearing here — the
    // one Similarity shape where the scope rule's "corpus-scale ad-hoc
    // keeps AQE" branch applies
    val nonZero = AnchorGrid.nonZero(emb)
    val grid = AnchorGrid.fit(nonZero, minCosE6)
    val cells = grid.cells(nonZero)
    val aSide = grid.neighbors(cells
      .select(col("vec_id").as("id_a"), col("embedding").as("va"), col("nrm").as("na"),
        col("c0"), col("c1")), "id_a", "va", "na")
    val bSide = cells
      .select(col("vec_id").as("id_b"), col("embedding").as("vb"), col("nrm").as("nb"),
        col("c0").as("b0"), col("c1").as("b1"))
    spreadIfSmall(aSide).join(bSide,
        col("p0") === col("b0") && col("p1") === col("b1") && col("id_a") < col("id_b"))
      .withColumn("cos_e6", cosE6From(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos_e6") >= minCosE6)
      .select(col("id_a"), col("id_b"), col("cos_e6"))
  }

  /** Embedding-space contamination: training vectors within cosine
    * `minCosE6/1e6` of ANY eval vector — the decontamination pass that
    * catches PARAPHRASED eval leakage the n-gram containment check
    * (d08's `contaminationPairs`) cannot see. Exact recall, like
    * [[embeddingNearDupPairs]]: both sides land on the same
    * [[AnchorGrid]] (anchors fit from the EVAL side), candidates are
    * cell-equi-joined, and every candidate is exactly verified.
    *
    * Scale shape: the eval side is release-sized (thousands), so IT
    * carries the 9 neighbor-cell offsets and broadcasts; the training
    * corpus is scanned ONCE, bucketed per row, and only rows landing in
    * a cell some eval vector's neighborhood touches ever reach the
    * verify — the train×train pair space (what running the self-join
    * dedup over train∪eval would pay) is never formed.
    *
    * @return (train_id, eval_id, cos_e6) — one row per contaminated
    *         (train, eval) pair at exact micro-unit cosine
    */
  def semanticContamination(train: DataFrame, eval: DataFrame,
      minCosE6: Long): DataFrame = {
    val nonZero = AnchorGrid.nonZero(eval)
    val grid = AnchorGrid.fit(nonZero, minCosE6)
    val evalSide = grid.neighbors(grid.cells(nonZero)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ve"), col("nrm").as("ne"),
        col("c0"), col("c1")), "eval_id", "ve", "ne")
    val trainSide = grid.cells(AnchorGrid.nonZero(train))
      .select(col("vec_id").as("train_id"), col("embedding").as("vt"), col("nrm").as("nt"),
        col("c0").as("b0"), col("c1").as("b1"))
    spreadIfSmall(trainSide).join(broadcast(evalSide),
        col("p0") === col("b0") && col("p1") === col("b1"))
      .withColumn("cos_e6", cosE6From(col("vt"), col("ve"), col("nt"), col("ne")))
      .filter(col("cos_e6") >= minCosE6)
      .select(col("train_id"), col("eval_id"), col("cos_e6"))
  }

  /** Cluster-balanced diversity sampling — the coverage-preserving
    * downsample (the SSL-prototype / cluster-balanced selection move:
    * sample evenly across embedding-space regions instead of uniformly,
    * so dense regions can't crowd out the tails): assign every vector to
    * its IVF cell, then keep a deterministic hash-ranked `kPerCell` per
    * cell ([[Mixture.stratifiedSample]] — ONE bounded-heap aggregate, no
    * RNG, no window over the corpus).
    *
    * Scale shape: the cell assignment is the IVF build's own per-row map;
    * the per-cell pick exchanges O(partitions × nCells × k) rows.
    * Output: `(cell, rank 1-based, vec_id)`. */
  def diversitySample(emb0: DataFrame, kPerCell: Int, nCells: Int,
      iters: Int = 2, sampleMod: Int = 7, salt: String = ""): DataFrame =
    // fit + assignment + stratified pick on one static scope, see bruteForceKnn
    graft.ops.PlanScope.isolatedStaticFor(emb0) { scoped =>
      Mixture.stratifiedSample(
        ivfAssign(graft.ops.PlanScope.rebind(emb0, scoped), nCells, iters, sampleMod)
          .select(col("vec_id"), col("cell")),
        "vec_id", "cell", kPerCell, salt)
    }

  /** Deterministic signed random projection (Achlioptas 2003 / the SimHash
    * projection family, kept as VALUES rather than sign bits): reduce
    * `array<float>` vectors to `outDims` integer components
    * `y_j = Σ_i s_{j,i} · round(1e6·x_i)` with signs `s ∈ {−1, +1}` drawn
    * from the md5 hash of `(salt, j, i)` — data-independent, so the matrix
    * is a FOLDABLE literal and the whole pass is a shuffle-free per-row
    * map. Johnson–Lindenstrauss gives ~(1±ε) distance preservation at
    * outDims = O(log N / ε²); downstream ANN probes then read 4× (or more)
    * fewer bytes per vector, the same motivation as the int8 path
    * ([[quantizedKnn]]) but composable with any dimension budget.
    *
    * All arithmetic after the per-element micro-round is exact integer
    * math — projections hash identically on any engine.
    *
    * @return idCol ++ `proj`: array<long> of length `outDims`
    */
  def signedProject(emb: DataFrame, idCol: String, vecCol: String,
      inDims: Int, outDims: Int, salt: String = "rp"): DataFrame = {
    require(inDims > 0 && outDims > 0,
      s"signedProject needs positive dims, got $inDims -> $outDims")
    // flat row-major ±1 matrix from the portable md5-derived hash60 —
    // the same bit DuckDB computes from md5(salt:j:i)
    val signs: Array[Long] = Array.tabulate(outDims * inDims) { fi =>
      val j = fi / inDims
      val i = fi % inDims
      val h = graft.expressions.TextKernels.hash60(
        org.apache.spark.unsafe.types.UTF8String.fromString(s"$salt:$j:$i"))
      if (h % 2 == 1) -1L else 1L
    }
    // ONE codegen'd kernel pass per row (SignedProjectExpr): the HOF
    // formulation ran interpreted and re-evaluated the micro-rounding
    // transform per term — 88 s at sf0.1 vs ~0.3 s for the kernel;
    // results are bit-identical (same HALF_UP micro-round, same sums)
    emb.select(col(idCol),
      VectorExpressions.signedProject(col(vecCol), signs, outDims).as("proj"))
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al. 2023,
    * arXiv:2303.09540): assign every vector to a k-means cell with the
    * same deterministic sampled fit the IVF index uses ([[buildIvf]]),
    * then compare pairs ONLY within a cell — cost is Σ|cell|², i.e.
    * ~n²/k for balanced cells, never the n² all-pairs space. Recall is
    * intentionally cluster-local (the SemDeDup trade): near-dups split
    * across a cell boundary are missed, which the paper accepts in
    * exchange for scalability; [[embeddingNearDupPairs]] is the
    * exact-recall alternative when that guarantee matters.
    *
    * 100 TB shape: the fit touches a bounded sample (driver holds
    * nCells×d longs), assignment is one per-row map over the corpus, and the
    * within-cell self-join is an equi-join on `cell` — size the cell
    * count so n/nCells vectors fit a task. Output is exact micro-unit
    * cosine pairs, reproducible across engines. */
  def semanticNearDupPairs(emb0: DataFrame, nCells: Int, minCosE6: Long,
      iters: Int = 2, sampleMod: Int = 7): DataFrame = {
    // fit + within-cell pair scan on one static scope, see bruteForceKnn
    graft.ops.PlanScope.isolatedStaticFor(emb0) { scoped =>
    val emb = graft.ops.PlanScope.rebind(emb0, scoped)
    val idx = buildIvf(emb, nCells, iters, sampleMod)
    val a = idx.assigned.select(col("cell"), col("vec_id").as("doc_a"),
      col("embedding").as("va"), col("nn").as("na"))
    val b = idx.assigned.select(col("cell"), col("vec_id").as("doc_b"),
      col("embedding").as("vb"), col("nn").as("nb"))
    a.join(b, Seq("cell")).filter(col("doc_a") < col("doc_b"))
      .withColumn("cos_e6", cosE6From(col("va"), col("vb"), col("na"), col("nb")))
      .filter(col("cos_e6") >= minCosE6)
      .select(col("doc_a"), col("doc_b"), col("cell"), col("cos_e6"))
    }
  }
}
