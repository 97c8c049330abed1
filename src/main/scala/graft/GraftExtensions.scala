package graft

import org.apache.spark.sql.{GraftRegistryShim, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import org.apache.spark.sql.types.IntegerType

import graft.expressions._
import graft.streaming.StaticBroadcastReuse

/** SQL surface of the engine's custom expressions, and its one physical
  * rule.
  *
  * Two wiring paths for the function set:
  *   - `spark.sql.extensions=graft.GraftExtensions` at session build time
  *     (the standard library-extension hook; `GraftSession.builder` sets
  *     it), or
  *   - `GraftExtensions.register(spark)` on a live session.
  *
  * After either, `spark.sql("SELECT graft_word_shingles(text, 3) ...")`
  * plans the same codegen'd expressions the Scala API uses — the SQL and
  * DataFrame surfaces cannot drift.
  *
  * Only the build-time path carries the physical rule
  * [[graft.streaming.StaticBroadcastReuse]] (a stream-static broadcast
  * built once per query run): Spark builds a session's physical rules once,
  * with the session, so `register` cannot add it to a live one.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
    ext.injectColumnar(s => new ColumnarRule {
      override def postColumnarTransitions: Rule[SparkPlan] = StaticBroadcastReuse(s)
    })
  }
}

object GraftExtensions {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "built-in")

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def arity(name: String, n: Int, args: Seq[Expression]): Unit =
    require(args.length == n, s"$name expects $n arguments, got ${args.length}")

  /** (name, info, builder) for every graft SQL function. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    ("graft_hash60",
      info("graft_hash60", "graft_hash60(str) - 60-bit md5-derived hash"),
      (args: Seq[Expression]) => { arity("graft_hash60", 1, args); Hash60Expr(args.head) }),
    ("graft_tokens",
      info("graft_tokens", "graft_tokens(str) - whitespace tokens, empties dropped"),
      (args: Seq[Expression]) => { arity("graft_tokens", 1, args); TokensExpr(args.head) }),
    ("graft_word_shingles",
      info("graft_word_shingles", "graft_word_shingles(str, n) - distinct word n-grams"),
      (args: Seq[Expression]) => {
        arity("graft_word_shingles", 2, args)
        WordShinglesExpr(args.head, intLit(args(1), "shingle width"))
      }),
    ("graft_shingle_hashes",
      info("graft_shingle_hashes",
        "graft_shingle_hashes(str, n) - sorted hash60s of distinct word n-grams"),
      (args: Seq[Expression]) => {
        arity("graft_shingle_hashes", 2, args)
        ShingleHashesExpr(args.head, intLit(args(1), "shingle width"))
      }),
    ("graft_sorted_intersect_count",
      info("graft_sorted_intersect_count",
        "graft_sorted_intersect_count(arr, arr) - |A ∩ B| of ascending bigint arrays"),
      (args: Seq[Expression]) => {
        arity("graft_sorted_intersect_count", 2, args)
        SortedIntersectCountExpr(args.head, args(1))
      }),
    ("graft_fingerprint",
      info("graft_fingerprint",
        "graft_fingerprint(tokens) - position-weighted rolling-hash fingerprint"),
      (args: Seq[Expression]) => { arity("graft_fingerprint", 1, args); FingerprintExpr(args.head) }),
    ("graft_simhash32",
      info("graft_simhash32", "graft_simhash32(tokens) - 32-bit simhash"),
      (args: Seq[Expression]) => { arity("graft_simhash32", 1, args); Simhash32Expr(args.head) }),
    ("graft_dot",
      info("graft_dot", "graft_dot(arr_float, arr_float) - double dot product"),
      (args: Seq[Expression]) => { arity("graft_dot", 2, args); DotProductFF(args.head, args(1)) }),
    ("graft_zorder",
      info("graft_zorder", "graft_zorder(x, y, bits) - z-order (Morton) clustering key"),
      (args: Seq[Expression]) => {
        arity("graft_zorder", 3, args)
        ZOrder2Expr(args.head, args(1), intLit(args(2), "bits"))
      }),
    ("graft_top_k",
      // the analyzer wraps a bare AggregateFunction into AggregateExpression,
      // same as the built-in sum/max registrations
      info("graft_top_k",
        "graft_top_k(score, id, k) - bounded top-k aggregate: array<struct<id,score>> best-first"),
      (args: Seq[Expression]) => {
        arity("graft_top_k", 3, args)
        TopKByScore(args.head, args(1), intLit(args(2), "k"))
      }),
    ("graft_bloom",
      info("graft_bloom",
        "graft_bloom(key, numBits, numHashes) - bloom-filter build aggregate: binary blob"),
      (args: Seq[Expression]) => {
        arity("graft_bloom", 3, args)
        graft.expressions.BloomFilterBuild(args.head,
          intLit(args(1), "numBits"), intLit(args(2), "numHashes"))
      }),
    ("graft_bloom_might_contain",
      info("graft_bloom_might_contain",
        "graft_bloom_might_contain(filter, key) - membership probe, no false negatives"),
      (args: Seq[Expression]) => {
        arity("graft_bloom_might_contain", 2, args)
        graft.expressions.BloomMightContain(args.head, args(1))
      }),
    ("graft_kmv",
      info("graft_kmv",
        "graft_kmv(hash, k) - k-minimum-values distinct sketch: struct<kk, hk>"),
      (args: Seq[Expression]) => {
        arity("graft_kmv", 2, args)
        KmvSketch(args.head, intLit(args(1), "k"))
      }),
    ("graft_kmv_mins",
      info("graft_kmv_mins",
        "graft_kmv_mins(hash, k) - KMV sketch keeping the full sorted k-min array (set-algebra form)"),
      (args: Seq[Expression]) => {
        arity("graft_kmv_mins", 2, args)
        graft.expressions.KmvMins(args.head, intLit(args(1), "k"))
      }),
    ("graft_hll",
      info("graft_hll",
        "graft_hll(hash, p) - HyperLogLog register vector: array<bigint> of 2^p rho maxes"),
      (args: Seq[Expression]) => {
        arity("graft_hll", 2, args)
        HllSketch(args.head, intLit(args(1), "p"))
      }),
    ("graft_quantiles",
      info("graft_quantiles",
        "graft_quantiles(value, permille...) - exact discrete quantiles: struct<qs: array<bigint>, n_rows>"),
      (args: Seq[Expression]) => {
        require(args.length >= 2,
          s"graft_quantiles expects (value, permille...), got ${args.length} args")
        QuantileHistogram(args.head, args.tail.map(intLit(_, "permille")))
      }),
    ("graft_ngram_repetition",
      info("graft_ngram_repetition",
        "graft_ngram_repetition(str, n) - [total, distinct, max-count] word n-grams (Gopher repetition signals)"),
      (args: Seq[Expression]) => {
        arity("graft_ngram_repetition", 2, args)
        NgramRepetitionExpr(args.head, intLit(args(1), "n-gram width"))
      }),
    ("graft_dot_i8",
      info("graft_dot_i8",
        "graft_dot_i8(arr_byte, arr_byte) - integer dot product of int8-quantized vectors"),
      (args: Seq[Expression]) => { arity("graft_dot_i8", 2, args); DotI8(args.head, args(1)) }),
    ("graft_normalize_text",
      info("graft_normalize_text",
        "graft_normalize_text(str) - NFC + ROOT lowercase + ASCII whitespace collapse/trim"),
      (args: Seq[Expression]) => {
        arity("graft_normalize_text", 1, args)
        NormalizeTextExpr(args.head)
      }),
    ("graft_pii_stats",
      info("graft_pii_stats",
        "graft_pii_stats(str) - [emails, ipv4s, phones] PII token counts"),
      (args: Seq[Expression]) => { arity("graft_pii_stats", 1, args); PiiStatsExpr(args.head) }),
    ("graft_pii_scrub",
      info("graft_pii_scrub",
        "graft_pii_scrub(str) - PII tokens replaced by placeholders, whitespace preserved"),
      (args: Seq[Expression]) => { arity("graft_pii_scrub", 1, args); PiiScrubExpr(args.head) }),
    ("graft_ngram_list",
      info("graft_ngram_list",
        "graft_ngram_list(str, n) - all word n-grams in order, repeats kept"),
      (args: Seq[Expression]) => {
        arity("graft_ngram_list", 2, args)
        NgramListExpr(args.head, intLit(args(1), "n-gram width"))
      }),
    ("graft_deletion_variants",
      info("graft_deletion_variants",
        "graft_deletion_variants(str, maxDist) - distinct <=maxDist-deletion variants incl. the string (SymSpell blocking keys)"),
      (args: Seq[Expression]) => {
        arity("graft_deletion_variants", 2, args)
        DeletionVariantsExpr(args.head, intLit(args(1), "max edit distance"))
      }),
    ("graft_deflate_len",
      info("graft_deflate_len",
        "graft_deflate_len(str) - raw-deflate byte count of the UTF-8 text (compression-ratio quality signal)"),
      (args: Seq[Expression]) => { arity("graft_deflate_len", 1, args); DeflateLenExpr(args.head) }),
    ("graft_dedup_lines_in_doc",
      info("graft_dedup_lines_in_doc",
        "graft_dedup_lines_in_doc(str) - repeats of earlier lines within the document dropped"),
      (args: Seq[Expression]) => {
        arity("graft_dedup_lines_in_doc", 1, args)
        DedupLinesInDocExpr(args.head)
      }),
    ("graft_domain_of",
      // a composed builtin tree, not a kernel: must stay in lockstep with
      // Domains.domainOf (same pattern object) so SQL and Scala agree
      info("graft_domain_of",
        "graft_domain_of(url) - normalized domain: lowercased, scheme/www/port/path stripped"),
      (args: Seq[Expression]) => {
        arity("graft_domain_of", 1, args)
        graft.operators.Domains.domainOfExpr(args.head)
      }),
  )

  /** Register every graft function on a live session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, i, b) => GraftRegistryShim.register(spark, name, i, b) }
}
