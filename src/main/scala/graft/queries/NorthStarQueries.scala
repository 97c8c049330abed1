package graft.queries

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions
import graft.functions.TextFunctions._
import graft.operators.{Dedup, EntityResolution, Similarity}
import graft.multimodal.Multimodal

/** North-star extensions (BASELINE.json): dedup family, similarity search,
  * text analysis, multimodal columns — each exposed as an oracle-checked
  * query over `documents` / `embeddings` (except m02, whose mapPartitions
  * decode stub is checked rows-only + by spec).
  *
  * The DuckDB oracles reproduce the md5-derived hashes exactly
  * (`hash60` ≡ `('0x'||substr(md5(x),1,15))::BIGINT`) and all floats are
  * either exact integers (permille/cents) or micro-rounded doubles computed
  * with the identical left-to-right fold.
  */
object NorthStarQueries {

  // ---- shared DuckDB SQL fragments ----

  /** tokens: whitespace split, empties dropped (≡ TextFunctions.tokens). */
  private val WsSql = "list_filter(string_split(text, ' '), t -> len(t) > 0)"

  /** hash60 of a SQL string expression. */
  private def h60(e: String): String =
    s"('0x'||substr(md5($e),1,15))::BIGINT"

  /** 6 unrolled BPE training rounds (≡ Bpe.trainMerges k=6): round i
    * re-splits the round-(i-1) corpus state on the double-space joint,
    * counts adjacent pairs, takes the (count desc, pair asc) winner, and
    * applies it with the same non-overlapping literal replace (chr(1)
    * joint) the Spark trainer uses. `c0` defines the initial corpus state
    * (must emit `s` plus any carried columns); `carry` is the "col1,
    * col2, "-style prefix re-selected through every round. */
  private def bpeChainSql(c0: String, carry: String): String = {
    val rounds = (1 to 6).map { i =>
      s"""tok$i AS (SELECT string_split(s, '  ') AS t FROM c${i - 1}),
         |p$i AS (SELECT unnest(list_transform(range(len(t) - 1),
         |          j -> t[j+1] || '  ' || t[j+2])) AS pair FROM tok$i),
         |b$i AS (SELECT pair, COUNT(*) AS c FROM p$i
         |        GROUP BY pair ORDER BY c DESC, pair LIMIT 1),
         |c$i AS (SELECT ${carry}replace(s, (SELECT pair FROM b$i),
         |          replace((SELECT pair FROM b$i), '  ', chr(1))) AS s FROM c${i - 1})"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS ($c0),
       |$rounds""".stripMargin
  }

  private val BpeOracleSql: String = {
    val steps = (1 to 6)
      .map(i => s"SELECT $i AS step, pair, c AS n_occurrences FROM b$i")
      .mkString("\nUNION ALL\n")
    s"""${bpeChainSql(s"SELECT array_to_string($WsSql, '  ') AS s FROM documents", "")}
       |$steps""".stripMargin
  }

  /** t46: the encode side — rules fit on the every-3rd-doc sample (the
    * training chain below), then applied to the FULL corpus as 6 nested
    * literal replaces; per-source token counts before/after. */
  private val BpeFertilityOracleSql: String = {
    val chain = bpeChainSql(
      s"SELECT array_to_string($WsSql, '  ') AS s FROM documents WHERE doc_id % 3 = 0",
      "")
    val encoded = (1 to 6).foldLeft(s"array_to_string($WsSql, '  ')") { (acc, i) =>
      s"replace($acc, (SELECT pair FROM b$i), replace((SELECT pair FROM b$i), '  ', chr(1)))"
    }
    s"""$chain
       |SELECT source, COUNT(*) AS n_docs,
       |       CAST(SUM(n_before) AS BIGINT) AS tok_before,
       |       CAST(SUM(n_after) AS BIGINT) AS tok_after,
       |       CAST((1000 * (SUM(n_before) - SUM(n_after))) // SUM(n_before) AS BIGINT) AS saved_permille
       |FROM (SELECT source, len($WsSql) AS n_before,
       |        CASE WHEN s = '' THEN 0 ELSE len(string_split(s, '  ')) END AS n_after
       |      FROM (SELECT source, text, $encoded AS s FROM documents))
       |GROUP BY source""".stripMargin
  }

  /** The full MinHash-LSH verified-pairs query (≡ Dedup.minhashLshPairs):
    * 12 hashes × 4 bands of 3, candidates from band-hash equality, exact
    * shingle-set verify at jaccard ≥ 800‰. Shared by d02 (ordered pairs)
    * and d21 (per-source rollup, which nests this as a CTE). */
  private lazy val MinhashPairsSql: String =
    s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents),
       |sh AS (SELECT doc_id, $Shingles3Sql AS s FROM ws),
       |ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
       |mh AS (SELECT doc_id, i, MIN(${h60("CAST(i AS VARCHAR)||':'||sh")}) AS mh
       |       FROM ex, range(12) t(i) GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, i // 3 AS band,
       |                 md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bh
       |          FROM mh GROUP BY doc_id, i // 3),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
       |inter AS (SELECT ea.doc_id AS doc_a, eb.doc_id AS doc_b, COUNT(*) AS inter_cnt
       |          FROM ex ea JOIN ex eb ON ea.sh = eb.sh AND ea.doc_id < eb.doc_id
       |          GROUP BY 1, 2)
       |SELECT c.doc_a, c.doc_b, i.inter_cnt,
       |       sa.n + sb.n - i.inter_cnt AS union_cnt,
       |       (1000 * i.inter_cnt) // (sa.n + sb.n - i.inter_cnt) AS jac_permille
       |FROM cand c
       |JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |JOIN sz sa ON sa.doc_id = c.doc_a
       |JOIN sz sb ON sb.doc_id = c.doc_b
       |WHERE 1000 * i.inter_cnt >= 800 * (sa.n + sb.n - i.inter_cnt)""".stripMargin

  /** distinct word-3-gram shingles of token list `w`. */
  private val Shingles3Sql =
    "list_distinct(list_transform(range(greatest(len(w)-2, 0)), i -> w[i+1]||' '||w[i+2]||' '||w[i+3]))"

  /** cosine(a, b) over equal-length float lists, element-cast to double,
    * summed in list order (≡ Similarity.cosine). */
  private def cosSql(a: String, b: String): String = {
    def dot(x: String, y: String) =
      s"list_sum(list_transform(range(len($a)), i -> $x[i+1]::DOUBLE * $y[i+1]::DOUBLE))"
    s"(${dot(a, b)} / (sqrt(${dot(a, a)}) * sqrt(${dot(b, b)})))"
  }

  private def cosE6Sql(a: String, b: String): String =
    s"CAST(ROUND(1e6 * ${cosSql(a, b)}) AS BIGINT)"

  /** s07's ad-hoc query workload — ONE definition feeding both the Spark
    * query and the oracle's VALUES list, so the two sides cannot drift. */
  private val Bm25Queries: Seq[(Long, String)] = Seq(
    0L -> "hash join merge",
    1L -> "dup scan filter",
    2L -> "customer order data window")

  private def bm25QtValuesSql: String =
    Bm25Queries.flatMap { case (q, t) =>
      t.split(' ').filter(_.nonEmpty).distinct.map(w =>
        s"(CAST($q AS BIGINT), '$w')")
    }.mkString(", ")

  /** Full BM25 replay (k1=1.5, b=0.75, k=10): same tokenizer, same
    * Lucene-variant idf, identical IEEE association (every constant an
    * exact decimal), per-term contributions micro-rounded BEFORE the
    * per-(query, doc) sum. Shared by s07 (ad-hoc scan) and s08 (served
    * posting-list probe) — identical counts by construction. */
  private def bm25OracleSql: String =
    s"""WITH $bm25Ctes
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, doc_id, score_e6
       |FROM r WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  /** The replay's CTE chain alone (ends at ranked `r`) — shared with the
    * hybrid-fusion oracle, which appends the dense leg and the RRF sum. */
  private def bm25Ctes: String =
    s"""d AS (SELECT doc_id, $WsSql AS w FROM documents),
       |dd AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM d),
       |st AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dd),
       |qt(query_id, term) AS (VALUES $bm25QtValuesSql),
       |terms AS (SELECT DISTINCT term FROM qt),
       |tf AS (SELECT dd.doc_id, t.term,
       |        CAST(len(list_filter(dd.w, x -> x = t.term)) AS BIGINT) AS tf, dd.dl
       |       FROM dd CROSS JOIN terms t
       |       WHERE len(list_filter(dd.w, x -> x = t.term)) > 0),
       |dft AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
       |sc AS (SELECT q.query_id, tf.doc_id,
       |        CAST(ROUND(1e6 * ln((st.n_docs - dft.df + 0.5) / (dft.df + 0.5) + 1.0)
       |          * (tf.tf * 2.5)
       |          / (tf.tf + 1.5 * (0.25 + 0.75 * tf.dl
       |               / (CAST(st.sum_dl AS DOUBLE) / st.n_docs)))) AS BIGINT) AS c_e6
       |       FROM tf JOIN dft USING (term) JOIN qt q USING (term) CROSS JOIN st),
       |ag AS (SELECT query_id, doc_id, CAST(SUM(c_e6) AS BIGINT) AS score_e6
       |       FROM sc GROUP BY 1, 2),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY score_e6 DESC, doc_id) AS rank FROM ag)""".stripMargin

  /** cosine(float list `a`, double centroid list `c`) — a's elements
    * widened to double, summed in list order (≡ the
    * VectorExpressions.dotWiden path in Similarity.cosToCent). */
  private def cosWSql(a: String, c: String): String = {
    val dotAC = s"list_sum(list_transform(range(len($a)), i -> $a[i+1]::DOUBLE * $c[i+1]))"
    val dotAA = s"list_sum(list_transform(range(len($a)), i -> $a[i+1]::DOUBLE * $a[i+1]::DOUBLE))"
    val dotCC = s"list_sum(list_transform(range(len($c)), i -> $c[i+1] * $c[i+1]))"
    s"($dotAC / (sqrt($dotAA) * sqrt($dotCC)))"
  }

  /** Exact micro-rounding of a float SQL expression (≡ Spark
    * `round(x.cast("double") * 1e6).cast("long")`). */
  private def microSql(e: String): String =
    s"CAST(ROUND($e::DOUBLE*1e6) AS BIGINT)"

  /** The full IVF pipeline as DuckDB SQL: replays Similarity's
    * deterministic sampled k-means (first-`nCells` init, `iters` unrolled
    * Lloyd rounds over the `vec_id % sampleMod = 0` sample, exact
    * micro-unit means, empty cells keep their previous centroid), then
    * assignment, probing and exact top-k — CTE-for-CTE what
    * `Similarity.ivfKnn` computes. */
  /** The deterministic sampled-k-means fit + full-corpus cell assignment
    * as a WITH-clause CTE prefix (`e`, `samp`, `c0..c$iters`, `asg`) —
    * the shared front half of every IVF-backed oracle (s02/s05 probes,
    * d11 semantic dedup). */
  /** @param fitFilter extra predicate restricting which vectors the
    *        k-means FIT sees (sample + init); assignment still covers all
    *        of `e` — the incremental-index oracle (s11) fits on the base
    *        corpus and assigns base + delta with the frozen centroids. */
  /** @param dims  subspace/vector width of `vExpr` (drives the per-dim
    *        mean unroll)
    *  @param vExpr DuckDB expression over `embeddings` producing the fit
    *        vector — `embedding` for the full space, a 1-based slice
    *        (`embedding[17:32]`) for a PQ subspace
    *  @param sfx   CTE-name suffix so several fits (one per PQ subspace)
    *        can share one WITH clause without colliding */
  private def ivfFitCtes(nCells: Int, iters: Int, sampleMod: Int,
      fitFilter: String = "TRUE", dims: Int = 64, vExpr: String = "embedding",
      sfx: String = ""): String = {
    val iterCtes = (1 to iters).map { i =>
      val prev = s"c${i - 1}$sfx"
      s"""a$i$sfx AS (SELECT vec_id, v, cid AS cell FROM (
         |  SELECT s.vec_id, s.v, c.cid,
         |         ROW_NUMBER() OVER (PARTITION BY s.vec_id
         |           ORDER BY ${cosWSql("s.v", "c.cv")} DESC, c.cid) AS rn
         |  FROM samp$sfx s, $prev c) WHERE rn = 1),
         |m$i$sfx AS (SELECT cell, CAST(t.i AS INT) AS dim, COUNT(*) AS n,
         |               SUM(${microSql("v[t.i+1]")}) AS sum_e6
         |        FROM a$i$sfx, range($dims) t(i) GROUP BY cell, t.i),
         |n$i$sfx AS (SELECT cell, list(CAST(FLOOR(sum_e6::DOUBLE / n) AS BIGINT)/1000000.0
         |                          ORDER BY dim) AS cv
         |        FROM m$i$sfx GROUP BY cell),
         |c$i$sfx AS (SELECT p.cid, COALESCE(nn.cv, p.cv) AS cv
         |        FROM $prev p LEFT JOIN n$i$sfx nn ON nn.cell = p.cid)""".stripMargin
    }
    val fin = s"c$iters$sfx"
    s"""e$sfx AS (SELECT vec_id, $vExpr AS v FROM embeddings),
       |samp$sfx AS (SELECT vec_id, v FROM e$sfx WHERE vec_id % $sampleMod = 0 AND ($fitFilter)),
       |c0$sfx AS (SELECT CAST(vec_id AS INT) AS cid,
       |              list_transform(v, x -> ${microSql("x")}/1000000.0) AS cv
       |       FROM e$sfx WHERE vec_id < $nCells AND ($fitFilter)),
       |${iterCtes.mkString(",\n")},
       |asg$sfx AS (SELECT vec_id, v, cid AS cell FROM (
       |          SELECT e.vec_id, e.v, c.cid,
       |                 ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |                   ORDER BY ${cosWSql("e.v", "c.cv")} DESC, c.cid) AS rn
       |          FROM e$sfx e, $fin c) WHERE rn = 1)""".stripMargin
  }

  private def ivfOracleSql(nCells: Int, nprobe: Int, k: Int, iters: Int,
      sampleMod: Int, qMax: Int): String = {
    val fin = s"c$iters"
    s"""WITH ${ivfFitCtes(nCells, iters, sampleMod)},
       |probes AS (SELECT query_id, qv, cell FROM (
       |          SELECT q.vec_id AS query_id, q.v AS qv, c.cid AS cell,
       |                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |                   ORDER BY ${cosWSql("q.v", "c.cv")} DESC, c.cid) AS rn
       |          FROM e q, $fin c WHERE q.vec_id < $qMax) WHERE rn <= $nprobe),
       |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
       |                  ${cosE6Sql("p.qv", "a.v")} AS cos_e6
       |           FROM probes p JOIN asg a ON p.cell = a.cell AND p.query_id <> a.vec_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY cos_e6 DESC, neighbor_id) AS rank FROM scored)
       |SELECT query_id, rank, neighbor_id, cos_e6 FROM r WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Shared recursive-CTE body computing near-dup connected components
    * (doc_id -> component) — d06's oracle and the split oracles reuse it. */
  private def componentsCteSql: String =
    s"""WITH RECURSIVE ws AS (SELECT doc_id, $WsSql AS w FROM documents),
       |sh AS (SELECT doc_id, $Shingles3Sql AS s FROM ws),
       |ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
       |mh AS (SELECT doc_id, i, MIN(${h60("CAST(i AS VARCHAR)||':'||sh")}) AS mh
       |       FROM ex, range(12) t(i) GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, i // 3 AS band,
       |                 md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bh
       |          FROM mh GROUP BY doc_id, i // 3),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
       |inter AS (SELECT ea.doc_id AS doc_a, eb.doc_id AS doc_b, COUNT(*) AS inter_cnt
       |          FROM ex ea JOIN ex eb ON ea.sh = eb.sh AND ea.doc_id < eb.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT c.doc_a, c.doc_b
       |          FROM cand c
       |          JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |          JOIN sz sa ON sa.doc_id = c.doc_a
       |          JOIN sz sb ON sb.doc_id = c.doc_b
       |          WHERE 1000 * i.inter_cnt >= 800 * (sa.n + sb.n - i.inter_cnt)),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(doc, lab) AS (
       |  SELECT doc_id, doc_id FROM documents
       |  UNION
       |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.doc),
       |comp AS (SELECT doc AS doc_id, MIN(lab) AS component
       |         FROM reach GROUP BY doc)""".stripMargin

  /** 32-bit simhash of token-hash list `th` (≡ TextFunctions.simhash32). */
  private val SimhashSql: String = (0 until 32).map { j =>
    s"CASE WHEN list_sum(list_transform(th, h -> ((h >> $j) & 1)*2 - 1)) > 0 THEN ${1L << j} ELSE 0 END"
  }.mkString("(", " + ", ")")

  /** c01's full-pipeline replay: every stage of the bounded
    * CurationPipeline.curate configuration re-derived in DuckDB — the
    * same planted-PII corpus, then MinHash-LSH pairs → connected
    * components → keep-longest (d02/d06/d09's CTEs over the planted
    * text), shingle-containment decontamination vs the %10 eval slice
    * (d08), the t03 quality score bucketed at the p250 fence over the
    * SURVIVORS (t12's rank-fence formula — the breakpoint must be fit on
    * the post-contamination corpus, exactly as the pipeline does),
    * token-level PII redaction (t13), the component-keyed split fences
    * (d07), and the per-(split/source) packing windows (t07). One
    * hash-green run proves the operators COMPOSE — each stage consuming
    * the previous stage's survivors — not just pass in isolation. */
  private def curationOracleSql: String = {
    val allStops = graft.functions.TextFunctions.langProfiles.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(",")
    val em = """^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+$"""
    val ip = """^(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)(\.(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)){3}$"""
    val ph = """^\+?[0-9](-?[0-9]){6,14}$"""
    s"""WITH RECURSIVE docs0 AS (
       |  SELECT doc_id, source, text ||
       |    CASE WHEN doc_id % 7 = 0 THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
       |    CASE WHEN doc_id % 5 = 0 THEN ' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
       |    CASE WHEN doc_id % 3 = 0 THEN ' +34-91-555-01' || CAST(doc_id % 10 AS VARCHAR) ELSE '' END ||
       |    CASE WHEN doc_id % 11 = 0 THEN ' bad@@example.com 300.1.2.3 12-34' ELSE '' END AS text
       |  FROM documents),
       |ws AS (SELECT doc_id, $WsSql AS w FROM docs0),
       |sh AS (SELECT doc_id, $Shingles3Sql AS s FROM ws),
       |ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
       |mh AS (SELECT doc_id, i, MIN(${h60("CAST(i AS VARCHAR)||':'||sh")}) AS mh
       |       FROM ex, range(12) t(i) GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, i // 3 AS band,
       |                 md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bh
       |          FROM mh GROUP BY doc_id, i // 3),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
       |inter AS (SELECT ea.doc_id AS doc_a, eb.doc_id AS doc_b, COUNT(*) AS inter_cnt
       |          FROM ex ea JOIN ex eb ON ea.sh = eb.sh AND ea.doc_id < eb.doc_id
       |          GROUP BY 1, 2),
       |pairs AS (SELECT c.doc_a, c.doc_b
       |          FROM cand c
       |          JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |          JOIN sz sa ON sa.doc_id = c.doc_a
       |          JOIN sz sb ON sb.doc_id = c.doc_b
       |          WHERE 1000 * i.inter_cnt >= 800 * (sa.n + sb.n - i.inter_cnt)),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(doc, lab) AS (
       |  SELECT doc_id, doc_id FROM docs0
       |  UNION
       |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.doc),
       |comp AS (SELECT doc AS doc_id, MIN(lab) AS component
       |         FROM reach GROUP BY doc),
       |tl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM ws),
       |keptid AS (SELECT doc_id FROM (
       |    SELECT c.doc_id, ROW_NUMBER() OVER (PARTITION BY c.component
       |      ORDER BY tl.n_tok DESC, c.doc_id) AS rn
       |    FROM comp c JOIN tl ON tl.doc_id = c.doc_id) WHERE rn = 1),
       |esh AS (SELECT doc_id + 2000000 AS eval_id, s FROM sh WHERE doc_id % 10 = 0),
       |esz AS (SELECT eval_id, CAST(len(s) AS BIGINT) AS n_ev FROM esh WHERE len(s) > 0),
       |eex AS (SELECT eval_id, unnest(s) AS sh FROM esh),
       |tex AS (SELECT k.doc_id AS train_id, e.sh FROM keptid k
       |        JOIN ex e ON e.doc_id = k.doc_id),
       |cint AS (SELECT train_id, eval_id, COUNT(*) AS inter_cnt
       |         FROM tex JOIN eex USING (sh) GROUP BY 1, 2),
       |flag AS (SELECT DISTINCT train_id FROM cint JOIN esz USING (eval_id)
       |         WHERE (1000 * inter_cnt) // n_ev >= 500),
       |clean AS (SELECT doc_id FROM keptid
       |          WHERE doc_id NOT IN (SELECT train_id FROM flag)),
       |qm AS (SELECT ws.doc_id,
       |        CAST(len(w) AS BIGINT) AS n_tok,
       |        (1000 * len(list_filter(w, t -> list_contains([$allStops], t))))
       |          // greatest(len(w), 1) AS stop_permille,
       |        (1000 * len(list_filter(w, t -> regexp_matches(t, '^[a-z]+$$'))))
       |          // greatest(len(w), 1) AS alpha_permille
       |       FROM ws JOIN clean ON ws.doc_id = clean.doc_id),
       |q AS (SELECT doc_id,
       |        CAST(CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 500 ELSE 0 END
       |             + stop_permille // 2 + alpha_permille // 4 AS BIGINT) AS quality
       |      FROM qm),
       |h AS (SELECT quality, COUNT(*) AS cnt FROM q GROUP BY 1),
       |w2 AS (SELECT quality,
       |         CAST(SUM(cnt) OVER (ORDER BY quality) AS BIGINT) AS cum,
       |         CAST(SUM(cnt) OVER () AS BIGINT) AS n
       |       FROM h),
       |bp AS (SELECT MIN(CASE WHEN cum > (250*(n-1))//1000 THEN quality END) AS b1
       |       FROM w2),
       |good AS (SELECT q.doc_id, q.quality, CAST(1 AS BIGINT) AS bucket
       |         FROM q, bp WHERE q.quality > bp.b1),
       |red AS (SELECT d.doc_id, array_to_string(list_transform(string_split(d.text, ' '), x ->
       |          CASE WHEN regexp_matches(x, '$em') THEN '<EMAIL>'
       |               WHEN regexp_matches(x, '$ip') THEN '<IP>'
       |               WHEN regexp_matches(x, '$ph') THEN '<PHONE>'
       |               ELSE x END), ' ') AS rtext
       |        FROM docs0 d JOIN good g ON d.doc_id = g.doc_id),
       |spl AS (SELECT g.doc_id, c.component,
       |          CASE WHEN ${h60("CAST(c.component AS VARCHAR)")} % 1000 < 900 THEN 'train'
       |               WHEN ${h60("CAST(c.component AS VARCHAR)")} % 1000 < 950 THEN 'val'
       |               ELSE 'test' END AS split
       |        FROM good g JOIN comp c ON g.doc_id = c.doc_id),
       |pk AS (SELECT g.doc_id, spl.component, g.quality, g.bucket, spl.split,
       |          spl.split || '/' || d.source AS shard,
       |          CAST(len(list_filter(string_split(r.rtext, ' '), t -> len(t) > 0))
       |            AS BIGINT) AS n_tokens,
       |          md5(r.rtext) AS text_md5
       |        FROM good g
       |        JOIN spl ON spl.doc_id = g.doc_id
       |        JOIN red r ON r.doc_id = g.doc_id
       |        JOIN docs0 d ON d.doc_id = g.doc_id),
       |o AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
       |          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS token_offset
       |      FROM pk)
       |SELECT doc_id, component, quality, bucket, split, shard, n_tokens,
       |       token_offset, CAST(token_offset // 2048 AS BIGINT) AS chunk_id, text_md5
       |FROM o ORDER BY doc_id""".stripMargin
  }

  /** c03: the DELTA-ADMISSION replay, one DuckDB statement — d12's
    * set-based delta-dedup admission (exact-vs-corpus, exact-within,
    * LSH-verified near-dup vs corpus or lower-id batch doc), d08's
    * shingle-containment decontamination of the admitted docs, the
    * quality fit computed over the CORPUS slice and applied to the
    * batch (the released-artifact semantics), own-id split, per-shard
    * packing. Multi-use CTEs MATERIALIZED (the k-core lesson). */
  private def c03OracleSql: String = {
    val allStops = graft.functions.TextFunctions.langProfiles.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(",")
    s"""WITH corp AS (SELECT doc_id, source, text FROM documents WHERE doc_id >= 250),
       |nw AS (SELECT doc_id + 10000000 AS doc_id, source, text
       |       FROM documents WHERE doc_id < 250),
       |docs2 AS MATERIALIZED (SELECT doc_id, text FROM corp
       |         UNION ALL SELECT doc_id, text FROM nw),
       |fpc AS (SELECT DISTINCT md5(text) AS fp FROM corp),
       |fpn AS (SELECT doc_id, md5(text) AS fp FROM nw),
       |exc AS (SELECT doc_id FROM fpn WHERE fp IN (SELECT fp FROM fpc)),
       |exw AS (SELECT f.doc_id FROM fpn f
       |        JOIN (SELECT fp, MIN(doc_id) AS m FROM fpn GROUP BY fp) g
       |          ON f.fp = g.fp AND f.doc_id > g.m),
       |ws AS MATERIALIZED (SELECT doc_id, $WsSql AS w FROM docs2),
       |sh AS MATERIALIZED (SELECT doc_id, $Shingles3Sql AS s FROM ws),
       |ex AS MATERIALIZED (SELECT doc_id, unnest(s) AS sh FROM sh),
       |mh AS (SELECT doc_id, i, MIN(${h60("CAST(i AS VARCHAR)||':'||sh")}) AS mh
       |       FROM ex, range(12) t(i) GROUP BY doc_id, i),
       |bands AS (SELECT doc_id, i // 3 AS band,
       |                 md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bh
       |          FROM mh GROUP BY doc_id, i // 3),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
       |         WHERE y.doc_id >= 10000000),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
       |inter AS (SELECT ea.doc_id AS doc_a, eb.doc_id AS doc_b, COUNT(*) AS inter_cnt
       |          FROM ex ea JOIN ex eb ON ea.sh = eb.sh AND ea.doc_id < eb.doc_id
       |          GROUP BY 1, 2),
       |rejn AS (SELECT c.doc_b AS doc_id FROM cand c
       |         JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |         JOIN sz sa ON sa.doc_id = c.doc_a
       |         JOIN sz sb ON sb.doc_id = c.doc_b
       |         WHERE 1000 * i.inter_cnt >= 800 * (sa.n + sb.n - i.inter_cnt)),
       |adm AS MATERIALIZED (SELECT doc_id FROM nw
       |       WHERE doc_id NOT IN (SELECT doc_id FROM exc
       |                            UNION SELECT doc_id FROM exw
       |                            UNION SELECT doc_id FROM rejn)),
       |esh AS (SELECT (CASE WHEN doc_id >= 10000000 THEN doc_id - 10000000
       |                     ELSE doc_id END) + 2000000 AS eval_id, s FROM sh
       |        WHERE (CASE WHEN doc_id >= 10000000 THEN doc_id - 10000000
       |               ELSE doc_id END) % 10 = 0),
       |esz AS (SELECT eval_id, CAST(len(s) AS BIGINT) AS n_ev FROM esh WHERE len(s) > 0),
       |eex AS (SELECT eval_id, unnest(s) AS sh FROM esh),
       |tex AS (SELECT a.doc_id AS train_id, e.sh FROM adm a
       |        JOIN ex e ON e.doc_id = a.doc_id),
       |cint AS (SELECT train_id, eval_id, COUNT(*) AS inter_cnt
       |         FROM tex JOIN eex USING (sh) GROUP BY 1, 2),
       |flag AS (SELECT DISTINCT train_id FROM cint JOIN esz USING (eval_id)
       |         WHERE (1000 * inter_cnt) // n_ev >= 500),
       |clean AS (SELECT doc_id FROM adm
       |          WHERE doc_id NOT IN (SELECT train_id FROM flag)),
       |qm AS (SELECT ws.doc_id,
       |        CAST(len(w) AS BIGINT) AS n_tok,
       |        (1000 * len(list_filter(w, t -> list_contains([$allStops], t))))
       |          // greatest(len(w), 1) AS stop_permille,
       |        (1000 * len(list_filter(w, t -> regexp_matches(t, '^[a-z]+$$'))))
       |          // greatest(len(w), 1) AS alpha_permille
       |       FROM ws),
       |q AS MATERIALIZED (SELECT doc_id,
       |        CAST(CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 500 ELSE 0 END
       |             + stop_permille // 2 + alpha_permille // 4 AS BIGINT) AS quality
       |      FROM qm),
       |h AS (SELECT quality, COUNT(*) AS cnt FROM q
       |      WHERE doc_id < 10000000 GROUP BY 1),
       |w2 AS (SELECT quality,
       |         CAST(SUM(cnt) OVER (ORDER BY quality) AS BIGINT) AS cum,
       |         CAST(SUM(cnt) OVER () AS BIGINT) AS n
       |       FROM h),
       |bp AS (SELECT MIN(CASE WHEN cum > (250*(n-1))//1000 THEN quality END) AS b1
       |       FROM w2),
       |good AS (SELECT q.doc_id, q.quality, CAST(1 AS BIGINT) AS bucket
       |         FROM q JOIN clean ON q.doc_id = clean.doc_id, bp
       |         WHERE q.quality > bp.b1),
       |spl AS (SELECT doc_id,
       |          CASE WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 1000 < 900 THEN 'train'
       |               WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 1000 < 950 THEN 'val'
       |               ELSE 'test' END AS split
       |        FROM good),
       |tl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM ws),
       |pk AS (SELECT g.doc_id, g.doc_id AS component, g.quality, g.bucket,
       |          spl.split, spl.split || '/' || d.source AS shard,
       |          tl.n_tok AS n_tokens, md5(d.text) AS text_md5
       |        FROM good g
       |        JOIN spl ON spl.doc_id = g.doc_id
       |        JOIN nw d ON d.doc_id = g.doc_id
       |        JOIN tl ON tl.doc_id = g.doc_id),
       |o AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
       |          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS token_offset
       |      FROM pk)
       |SELECT doc_id, component, quality, bucket, split, shard, n_tokens,
       |       token_offset, CAST(token_offset // 2048 AS BIGINT) AS chunk_id, text_md5
       |FROM o ORDER BY doc_id""".stripMargin
  }

  /** c02: the c01 composition plus the two remaining curation stages,
    * still ONE DuckDB statement — duplicated-SPAN scrub (t27's window-hash
    * replay) feeding the near-dup chain, and SEMANTIC decontamination
    * (d17's exact-cosine fence) joining the shingle fence at the clean
    * cut. Multi-use CTEs are MATERIALIZED (the k-core lesson: DuckDB
    * inlines by default, and this chain references ws0/ws/ex several
    * times each). PII redaction is off (c01 proves it), so the packed
    * text is the scrubbed text verbatim. */
  private def c02OracleSql: String = {
    val allStops = graft.functions.TextFunctions.langProfiles.flatMap(_._2).distinct
      .map(w => s"'$w'").mkString(",")
    s"""WITH RECURSIVE docs0 AS MATERIALIZED (
       |  SELECT doc_id, source, text ||
       |    CASE WHEN doc_id % 4 = 0 THEN ' this work is licensed for research evaluation use only under the sample terms' ELSE '' END AS text
       |  FROM documents),
       |ws0 AS MATERIALIZED (SELECT doc_id, $WsSql AS w FROM docs0),
       |wins AS (SELECT doc_id, unnest(range(GREATEST(len(w) - 7, 0))) AS pos, w FROM ws0),
       |wh AS MATERIALIZED (SELECT doc_id, pos,
       |        ${h60("array_to_string(w[pos+1:pos+8], ' ')")} AS h
       |      FROM wins),
       |hot AS (SELECT h FROM wh GROUP BY h HAVING COUNT(*) >= 2),
       |dup AS MATERIALIZED (SELECT doc_id, pos FROM wh WHERE h IN (SELECT h FROM hot)),
       |toksc AS (SELECT doc_id, unnest(range(len(w))) AS i, w FROM ws0),
       |keptt AS (SELECT t.doc_id, t.i, t.w[t.i + 1] AS tok FROM toksc t
       |          WHERE NOT EXISTS (SELECT 1 FROM dup d
       |                 WHERE d.doc_id = t.doc_id AND t.i BETWEEN d.pos AND d.pos + 7)),
       |docs1 AS MATERIALIZED (
       |  SELECT k.doc_id, d.source, string_agg(k.tok, ' ' ORDER BY k.i) AS text,
       |         COUNT(*) AS n_kept
       |  FROM keptt k JOIN docs0 d ON d.doc_id = k.doc_id
       |  GROUP BY k.doc_id, d.source),
       |ws AS MATERIALIZED (SELECT doc_id, $WsSql AS w FROM docs1),
       |sh AS MATERIALIZED (SELECT doc_id, $Shingles3Sql AS s FROM ws),
       |ex AS MATERIALIZED (SELECT doc_id, unnest(s) AS sh FROM sh),
       |mh AS (SELECT doc_id, i, MIN(${h60("CAST(i AS VARCHAR)||':'||sh")}) AS mh
       |       FROM ex, range(12) t(i) GROUP BY doc_id, i),
       |bands AS MATERIALIZED (SELECT doc_id, i // 3 AS band,
       |                 md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bh
       |          FROM mh GROUP BY doc_id, i // 3),
       |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |         FROM bands x JOIN bands y
       |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
       |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
       |inter AS (SELECT ea.doc_id AS doc_a, eb.doc_id AS doc_b, COUNT(*) AS inter_cnt
       |          FROM ex ea JOIN ex eb ON ea.sh = eb.sh AND ea.doc_id < eb.doc_id
       |          GROUP BY 1, 2),
       |pairs AS MATERIALIZED (SELECT c.doc_a, c.doc_b
       |          FROM cand c
       |          JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
       |          JOIN sz sa ON sa.doc_id = c.doc_a
       |          JOIN sz sb ON sb.doc_id = c.doc_b
       |          WHERE 1000 * i.inter_cnt >= 800 * (sa.n + sb.n - i.inter_cnt)),
       |edges AS MATERIALIZED (SELECT doc_a AS a, doc_b AS b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(doc, lab) AS (
       |  SELECT doc_id, doc_id FROM docs1
       |  UNION
       |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.doc),
       |comp AS MATERIALIZED (SELECT doc AS doc_id, MIN(lab) AS component
       |         FROM reach GROUP BY doc),
       |tl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tok FROM ws),
       |keptid AS MATERIALIZED (SELECT doc_id FROM (
       |    SELECT c.doc_id, ROW_NUMBER() OVER (PARTITION BY c.component
       |      ORDER BY tl.n_tok DESC, c.doc_id) AS rn
       |    FROM comp c JOIN tl ON tl.doc_id = c.doc_id) WHERE rn = 1),
       |esh AS (SELECT doc_id + 2000000 AS eval_id,
       |          list_distinct(list_transform(range(greatest(len(w)-2, 0)),
       |            i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS s
       |        FROM ws0 WHERE doc_id % 10 = 0),
       |esz AS (SELECT eval_id, CAST(len(s) AS BIGINT) AS n_ev FROM esh WHERE len(s) > 0),
       |eex AS (SELECT eval_id, unnest(s) AS sh FROM esh),
       |tex AS (SELECT k.doc_id AS train_id, e.sh FROM keptid k
       |        JOIN ex e ON e.doc_id = k.doc_id),
       |cint AS (SELECT train_id, eval_id, COUNT(*) AS inter_cnt
       |         FROM tex JOIN eex USING (sh) GROUP BY 1, 2),
       |flag AS (SELECT DISTINCT train_id FROM cint JOIN esz USING (eval_id)
       |         WHERE (1000 * inter_cnt) // n_ev >= 500),
       |semflag AS (SELECT DISTINCT a.vec_id AS train_id
       |            FROM embeddings a JOIN embeddings b ON b.vec_id % 10 = 0
       |            WHERE ${cosE6Sql("a.embedding", "b.embedding")} >= 400000),
       |clean AS MATERIALIZED (SELECT doc_id FROM keptid
       |          WHERE doc_id NOT IN (SELECT train_id FROM flag)
       |            AND doc_id NOT IN (SELECT train_id FROM semflag)),
       |qm AS (SELECT ws.doc_id,
       |        CAST(len(w) AS BIGINT) AS n_tok,
       |        (1000 * len(list_filter(w, t -> list_contains([$allStops], t))))
       |          // greatest(len(w), 1) AS stop_permille,
       |        (1000 * len(list_filter(w, t -> regexp_matches(t, '^[a-z]+$$'))))
       |          // greatest(len(w), 1) AS alpha_permille
       |       FROM ws JOIN clean ON ws.doc_id = clean.doc_id),
       |q AS MATERIALIZED (SELECT doc_id,
       |        CAST(CASE WHEN n_tok BETWEEN 10 AND 10000 THEN 500 ELSE 0 END
       |             + stop_permille // 2 + alpha_permille // 4 AS BIGINT) AS quality
       |      FROM qm),
       |h AS (SELECT quality, COUNT(*) AS cnt FROM q GROUP BY 1),
       |w2 AS (SELECT quality,
       |         CAST(SUM(cnt) OVER (ORDER BY quality) AS BIGINT) AS cum,
       |         CAST(SUM(cnt) OVER () AS BIGINT) AS n
       |       FROM h),
       |bp AS (SELECT MIN(CASE WHEN cum > (250*(n-1))//1000 THEN quality END) AS b1
       |       FROM w2),
       |good AS MATERIALIZED (SELECT q.doc_id, q.quality, CAST(1 AS BIGINT) AS bucket
       |         FROM q, bp WHERE q.quality > bp.b1),
       |spl AS (SELECT g.doc_id, c.component,
       |          CASE WHEN ${h60("CAST(c.component AS VARCHAR)")} % 1000 < 900 THEN 'train'
       |               WHEN ${h60("CAST(c.component AS VARCHAR)")} % 1000 < 950 THEN 'val'
       |               ELSE 'test' END AS split
       |        FROM good g JOIN comp c ON g.doc_id = c.doc_id),
       |pk AS (SELECT g.doc_id, spl.component, g.quality, g.bucket, spl.split,
       |          spl.split || '/' || d1.source AS shard,
       |          CAST(d1.n_kept AS BIGINT) AS n_tokens,
       |          md5(d1.text) AS text_md5
       |        FROM good g
       |        JOIN spl ON spl.doc_id = g.doc_id
       |        JOIN docs1 d1 ON d1.doc_id = g.doc_id),
       |o AS (SELECT *, CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
       |          ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |          AS BIGINT) AS token_offset
       |      FROM pk)
       |SELECT doc_id, component, quality, bucket, split, shard, n_tokens,
       |       token_offset, CAST(token_offset // 2048 AS BIGINT) AS chunk_id, text_md5
       |FROM o ORDER BY doc_id""".stripMargin
  }

  // ---- queries ----

  /** The c01 board query, parameterized only on `detachBound` — the ONE
    * builder both the board entry and PlanDump's `c01_curation_e2e__chain`
    * plan-evidence face call (r16 advice item: the face previously
    * hand-duplicated a simplified construction, so a board-query edit
    * could silently diverge the committed plan evidence).
    *
    * The END-TO-END curation pipeline as one oracle-checked query —
    * the product story: near-dup dedup (keep-longest) → shingle
    * decontamination vs a held-out eval slice → quality-quantile floor
    * → PII redaction → leakage-safe component-keyed split → per-shard
    * token packing, all composed by CurationPipeline.curate with each
    * stage consuming the previous stage's survivors. PII specimens are
    * PLANTED (t13's doc_id arithmetic) so the redaction stage provably
    * does work in composition; eval docs are the %10 slice re-id'd
    * +2e6 (d08's fixture), so decontamination drops real rows. Output
    * carries every stage's evidence: component (dedup), quality +
    * bucket (filter), split (leakage fence), shard/n_tokens/
    * token_offset/chunk_id (packing), md5(text) (redaction). */
  private[graft] def c01Curation(s: SparkSession, d: String,
      detachBound: Option[Int]): DataFrame = {
    val planted = Tables.documents(s, d).withColumn("text", concat(
      col("text"),
      when(pmod(col("doc_id"), lit(7)) === 0,
        concat(lit(" user"), col("doc_id").cast("string"), lit("@example.com")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        concat(lit(" 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
          lit("."), pmod(col("doc_id"), lit(100)).cast("string")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(3)) === 0,
        concat(lit(" +34-91-555-01"), pmod(col("doc_id"), lit(10)).cast("string")))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(11)) === 0,
        lit(" bad@@example.com 300.1.2.3 12-34")).otherwise(lit(""))))
    val evalDocs = planted.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    graft.pipelines.CurationPipeline.curate(
        planted, evalDocs,
        contaminationPermille = 500,
        qualityBreakpoints = Seq(250),
        minQualityBucket = 1,
        packBudget = 2048,
        intraDocDedup = false, // t19 proves the stage standalone; off here
                               // so the oracle replays the planted text verbatim
        detachBound = detachBound) // board: bounded-survivor handover —
                                   // zero cached blocks left after the query
      .select(col("doc_id"), col("component"), col("quality"), col("bucket"),
        col("split"), col("shard"), col("n_tokens"), col("token_offset"),
        col("chunk_id"), md5(col("text")).as("text_md5"))
  }

  /** The c02 board query, parameterized only on `detachBound` (shared
    * with PlanDump's `__chain` face — see [[c01Curation]]).
    *
    * c01's composed pipeline plus the two remaining curation stages,
    * still replayed by ONE DuckDB statement: corpus-wide
    * duplicated-SPAN scrub (the Lee-et-al substring stage, run before
    * near-dup detection so the planted licence boilerplate cannot
    * vouch for an LSH pair between otherwise-unique docs) and
    * SEMANTIC decontamination (d17's exact-cosine paraphrase fence
    * over the embedding table, vec_id ≡ doc_id; docs without an
    * embedding pass through to the n-gram fence only). Span specimens
    * are PLANTED — every 4th doc gains the same licence sentence — so
    * the scrub provably does work in composition; PII redaction is
    * off here (c01 proves it) so the oracle replays the scrubbed
    * text verbatim. */
  private[graft] def c02Curation(s: SparkSession, d: String,
      detachBound: Option[Int]): DataFrame = {
    val planted = Tables.documents(s, d).withColumn("text",
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(col("text"), lit(" this work is licensed for research " +
          "evaluation use only under the sample terms")))
        .otherwise(col("text")))
    val evalDocs = planted.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    val emb = Tables.embeddings(s, d)
    graft.pipelines.CurationPipeline.curate(
        planted, evalDocs,
        contaminationPermille = 500,
        qualityBreakpoints = Seq(250),
        minQualityBucket = 1,
        packBudget = 2048,
        redactPii = false,
        intraDocDedup = false,
        spanScrubWindow = Some(8),
        docEmb = Some(emb.select(col("vec_id").as("doc_id"), col("embedding"))),
        evalEmb = Some(emb.filter(pmod(col("vec_id"), lit(10)) === 0)),
        semanticMinCosE6 = 400000L,
        detachBound = detachBound)
      .select(col("doc_id"), col("component"), col("quality"), col("bucket"),
        col("split"), col("shard"), col("n_tokens"), col("token_offset"),
        col("chunk_id"), md5(col("text")).as("text_md5"))
  }

  /** The c03 board query, parameterized only on `detachBound` (shared
    * with PlanDump's `__chain` face — see [[c01Curation]]).
    *
    * INCREMENTAL curation — the serving face of c01, at the REAL
    * serving ratio (corpus ≫ batch): docs with id < 250 arrive as a
    * new crawl snapshot (re-id'd +1e7, above every corpus id — the
    * monotonic-ingestion contract) against the id >= 250 released
    * corpus, and the batch runs the full delta-admission gauntlet
    * WITHOUT recomputing the release: delta dedup (d12's set-based
    * admission vs the corpus digest + band artifacts; the natural
    * cross-boundary dup structure provides the rejected specimens),
    * n-gram decontamination vs the eval release (whose %10 slice
    * overlaps the batch texts, so the fence provably drops rows),
    * the RELEASED quality-quantile fit (Sketches.quantileFit on the
    * corpus, applied — never re-fit — to the batch), own-id
    * leakage-safe split (admitted docs near-dup nothing, so each is
    * its own component by construction), and per-shard packing.
    * PII redaction off (c01 proves it) so the oracle replays raw
    * text; the one DuckDB statement replays the whole admission. */
  private[graft] def c03Curation(s: SparkSession, d: String,
      detachBound: Option[Int]): DataFrame = {
    val docs = Tables.documents(s, d)
    val corpus = docs.filter(col("doc_id") >= 250)
    val batch = docs.filter(col("doc_id") < 250)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("text"), col("source"))
    val evalDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    graft.pipelines.CurationPipeline.curateDelta(
        corpus, batch, evalDocs,
        contaminationPermille = 500,
        qualityBreakpoints = Seq(250),
        minQualityBucket = 1,
        packBudget = 2048,
        redactPii = false,
        detachBound = detachBound)
      .select(col("doc_id"), col("component"), col("quality"), col("bucket"),
        col("split"), col("shard"), col("n_tokens"), col("token_offset"),
        col("chunk_id"), md5(col("text")).as("text_md5"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "c02_curation_full" -> ((s, d) => c02Curation(s, d, Some(1 << 21))),
    "c03_curation_delta" -> ((s, d) => c03Curation(s, d, Some(1 << 21))),
    "c04_curation_delta_served" -> ((s, d) => {
      // The SERVING shape of c03: the same small batch is admitted
      // against a PERSISTED release — digest + band tables and the
      // frozen quality fit (CurationPipeline.releaseArtifacts' frames
      // saved once per session via Serving.ensureServedTable) — instead of
      // re-deriving the artifacts from the big corpus per call. Bench
      // reps 2+ measure the pure per-batch admission cost a
      // steady-state ingestion loop pays (the corpus is touched only
      // through the artifact tables plus the candidate-hit text
      // sliver). artifacts ≡ derived is spec-pinned
      // (CurationPipelineSpec), so c03's oracle covers this query
      // verbatim — two different serving postures hash-matching one
      // replay.
      val docs = Tables.documents(s, d)
      val corpus = docs.filter(col("doc_id") >= 250)
      val batch = docs.filter(col("doc_id") < 250)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text"), col("source"))
      val evalDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      val t = Serving.servedTableName("graft_crel_c04_", d)
      Serving.ensureServedTable(s, t, Seq(s"${t}_bands", s"${t}_fit")) {
        Dedup.corpusDigests(corpus).write.saveAsTable(t)
        Dedup.corpusBands(corpus).write.saveAsTable(s"${t}_bands")
        locally {
          import s.implicits._
          // (permille rank, breakpoint value) rows — the rank keys the
          // read-back order so a multi-breakpoint fit can't scramble
          graft.operators.Sketches.quantileFit(
              corpus.withColumn("quality", TextFunctions.qualityScore(col("text"))),
              "quality", Seq(250))
            .zipWithIndex.map { case (v, i) => (i, v) }
            .toDF("rank", "bp").write.saveAsTable(s"${t}_fit")
        }
      }
      // frozen fit held driver-side across probes (Serving.cachedArtifact):
      // one collect at first admission, zero per-batch fit jobs after
      val fit = Serving.cachedArtifact(s"${t}_fit") {
        s.table(s"${t}_fit").orderBy(col("rank"))
          .collect().map(_.getLong(1)).toSeq
      }
      graft.pipelines.CurationPipeline.curateDelta(
          corpus, batch, evalDocs,
          corpusDigests = Some(s.table(t)),
          corpusBands = Some(s.table(s"${t}_bands")),
          qualityBreakValues = Some(fit),
          contaminationPermille = 500,
          minQualityBucket = 1,
          packBudget = 2048,
          redactPii = false,
          detachBound = Some(1 << 21))
        .select(col("doc_id"), col("component"), col("quality"), col("bucket"),
          col("split"), col("shard"), col("n_tokens"), col("token_offset"),
          col("chunk_id"), md5(col("text")).as("text_md5"))
    }),
    "c05_release_diff" -> ((s, d) => {
      // Release-to-release churn audit: two simulated corpus releases —
      // the old cut drops every 11th doc, the new cut drops every 7th
      // and rewrites every 13th — diffed to (doc_id, added|dropped|
      // changed). Each side reduces to (id, md5) at the scan, one
      // full-outer equi-join; the report scales with churn, not corpus.
      val docs = Tables.documents(s, d)
      val oldRel = docs.filter(pmod(col("doc_id"), lit(11)) =!= 0)
      val newRel = docs.filter(pmod(col("doc_id"), lit(7)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(13)) === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
      graft.pipelines.CurationPipeline.releaseDiff(oldRel, newRel)
    }),
    "c01_curation_e2e" -> ((s, d) => c01Curation(s, d, Some(1 << 21))),
    "t47_source_kl" -> ((s, d) => {
      // Mixture-drift monitor: KL(source ‖ corpus) over unigram
      // distributions in micro-nats, each term micro-rounded before the
      // per-source sum (t29's portability recipe). Three map-side-partial
      // aggregates + a 1-row total broadcast — nothing quadratic.
      graft.operators.Mixture.klBySource(Tables.documents(s, d), "source", "text")
    }),
    "d22_fuzzy_link" -> ((s, d) => {
      // Cross-source record LINKAGE: the customer table linked to a
      // deterministically perturbed second catalog of itself (four
      // mutation classes — deletion, insertion, substitution, and a
      // distance-2 miss that must NOT match at maxDist=1 — plus exact
      // copies). Symmetric-delete blocking across BOTH deletion indexes,
      // banded-Levenshtein verify; the oracle is deliberately all-pairs
      // so a recall bug in the cross-index blocking cannot hide —
      // maxBucket = 0 pins the exact operator for the same reason as
      // d14 (the fence's bounded recall loss would break the all-pairs
      // pin once a bucket crosses the cap at larger scale factors).
      val cust = Tables.customer(s, d)
      val right = cust.select((col("c_custkey") + 5000000L).as("rid"),
        when(pmod(col("c_custkey"), lit(5)) === 0,
          expr("substring(c_name, 1, length(c_name) - 1)"))
          .when(pmod(col("c_custkey"), lit(5)) === 1, concat(col("c_name"), lit("x")))
          .when(pmod(col("c_custkey"), lit(5)) === 2,
            concat(expr("substring(c_name, 1, length(c_name) - 1)"), lit("Z")))
          .when(pmod(col("c_custkey"), lit(5)) === 3, concat(col("c_name"), lit("xy")))
          .otherwise(col("c_name")).as("rname"))
      graft.operators.EntityResolution.fuzzyLink(
        cust, "c_custkey", "c_name", right, "rid", "rname", maxDist = 1,
        maxBucket = 0)
    }),
    "d01_exact_dedup" -> ((s, d) => {
      // Exact dedup over a corpus with manufactured exact copies.
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val doubled = docs.union(docs.select(col("doc_id") + 1000000, col("text")))
      Dedup.exactDedup(doubled)
    }),
    "d02_minhash_lsh" -> ((s, d) => {
      Dedup.minhashLshPairs(Tables.documents(s, d))
    }),
    "d21_source_dup_matrix" -> ((s, d) => {
      // Cross-source duplication matrix: verified near-dup pairs rolled
      // up by (source_a, source_b) — "which crawls duplicate each
      // other", the report that decides source-level dedup ordering and
      // crawl budgets. One source-lookup join per pair side over the
      // already-bounded pair set (candidates only, never the corpus²),
      // then a grouped count. Fixed report shape with a bounded pair
      // frame in the middle → static scope at SESSION width, not
      // estimate-sized: sizedPartitions reads the corpus at 594 KB →
      // 1 partition, which serialized the minhash/shingle KERNEL stages
      // in one task (stage census: 2×550 ms single-task). Kernel-heavy
      // text stages are CPU-bound per row, not shuffle-byte-bound — the
      // session width is the right parallelism for them (the same
      // session-width-kept rationale as CurationPipeline's scope).
      graft.ops.PlanScope.isolatedStatic(s) { scoped =>
        val docs = Tables.documents(scoped, d)
        val src = docs.select(col("doc_id"), col("source"))
        Dedup.minhashLshPairs(docs)
          .join(src.select(col("doc_id").as("doc_a"), col("source").as("source_a")), "doc_a")
          .join(src.select(col("doc_id").as("doc_b"), col("source").as("source_b")), "doc_b")
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
      }
    }),
    "d03_simhash" -> ((s, d) => {
      Dedup.simhashPairs(Tables.documents(s, d), maxHamming = 3)
    }),
    "d20_label_propagation" -> ((s, d) => {
      // Graph-based semi-supervised labeling: 8 seed nations keep their
      // region label; everyone else takes the trade-weight argmax of its
      // in-neighbors' labels, 2 synchronous clamped rounds (ties →
      // smallest label). The pattern that spreads a handful of human
      // spam/quality labels over a 100 TB link graph: two exchanges per
      // round, integer vote sums, engine-portable argmax. Edges probe the
      // served link-graph artifact (Serving.tradePairCounts — built once
      // per session, warmup-prepaid; q72 keeps the in-call derive
      // measured), so the loop never touches the fact table.
      val edges = Serving.tradePairCounts(s, d)
        .select(col("src"), col("dst"), col("n").as("w"))
      val seeds = Tables.nation(s, d).filter(col("n_nationkey") < 8)
        .select(col("n_nationkey").cast("long").as("node"),
          col("n_regionkey").cast("long").as("label"))
      // nation-sized result: detachSmall copies the materialized 25 rows
      // into a LocalRelation and releases every cached block immediately
      // (the release contract — leaked_rdds stays 0 in the bench census)
      // tiny-frame tail (LocalRelation ⋈ nation) runs static: the
      // caller-AQE stage jobs were its only dispatch
      graft.ops.PlanScope.isolatedStaticFor(Tables.nation(s, d)) { scoped =>
        graft.ops.PlanScope.rebind(graft.operators.Graphs.detachSmall(
            graft.operators.Graphs.labelPropagate(edges, seeds, rounds = 2)), scoped)
          .join(Tables.nation(scoped, d), col("node") === col("n_nationkey"))
          .select(col("n_name"), col("label"))
      }
    }),
    "d19_weighted_pagerank" -> ((s, d) => {
      // d18's graph with edge weights = lineitem counts per nation pair:
      // authority now follows trade VOLUME, not mere adjacency — the form
      // a domain-weighting pass actually uses (a domain linked a million
      // times outranks one linked once). Same two-exchanges-per-iteration
      // loop; contribution = (r·w) div Σw stays exact-integer. Edges
      // probe the served link-graph artifact (see d20).
      val edges = Serving.tradePairCounts(s, d)
        .select(col("src"), col("dst"), col("n").as("w"))
      // nation-sized result → detachSmall (zero blocks left registered);
      // the tiny tail join runs static (see d20)
      graft.ops.PlanScope.isolatedStaticFor(Tables.nation(s, d)) { scoped =>
        graft.ops.PlanScope.rebind(graft.operators.Graphs.detachSmall(
            graft.operators.Graphs.pageRankWeighted(edges, iters = 3)), scoped)
          .join(Tables.nation(scoped, d), col("node") === col("n_nationkey"))
          .select(col("n_name"), col("rank_e6"))
      }
    }),
    "d23_link_extend" -> ((s, d) => {
      // Link-graph artifact maintenance: pair counts over the base facts
      // (every order except the %10 == 9 slice) EXTENDED with the newly
      // arrived slice's counts (Graphs.mergeEdgeCounts) — hash-equality
      // with the full-corpus rebuild (the oracle) proves
      // extend ≡ rebuild, the freshness contract a released link graph
      // serves under between release cuts (the s11/s18 property for the
      // graph family; streaming face: StreamingOps.linkGraphSink). The
      // delta leg scans only the new facts; the base leg probes the
      // RELEASED artifact (Serving.tradePairCountsBase — the bucketed
      // release cut an incremental update reads in production, never a
      // fact-table re-derivation; build prepaid in the bench warmup and
      // disclosed in warmup_prepaid). The full-corpus oracle replay
      // re-derives BOTH legs from the facts, so hash-green proves
      // served-base + delta-scan + merge ≡ rebuild.
      def pairCounts(slice: org.apache.spark.sql.Column) = {
        val ord = Tables.orders(s, d)
        val cust = Tables.customer(s, d)
        val sup = Tables.supplier(s, d)
        Tables.lineitem(s, d).filter(slice)
          .join(ord, col("l_orderkey") === col("o_orderkey"))
          .join(cust, col("o_custkey") === col("c_custkey"))
          .join(sup, col("l_suppkey") === col("s_suppkey"))
          .select(col("s_nationkey").cast("long").as("src"),
            col("c_nationkey").cast("long").as("dst"))
          .filter(col("src") =!= col("dst"))
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      }
      graft.operators.Graphs.mergeEdgeCounts(
          Serving.tradePairCountsBase(s, d),
          pairCounts(pmod(col("l_orderkey"), lit(10)) === 9))
        .orderBy(col("src"), col("dst"))
    }),
    "d18_trade_pagerank" -> ((s, d) => {
      // PageRank over the supplier-nation → customer-nation trade graph
      // (3 exact-integer iterations) — the authority signal a web-scale
      // curation pipeline computes over the domain link graph to weight
      // source quality. Edge derivation is one fact-table pass (distinct
      // nation pairs, self-loops dropped); the rank loop is Graphs
      // .pageRank's two-exchanges-per-iteration Pregel shape. Ranks in
      // micro-units with floor division throughout, so the DuckDB
      // oracle's unrolled 3-CTE replay is bit-identical. Edges probe the
      // served link-graph artifact (see d20) — its grouped (src, dst)
      // rows ARE the distinct pair set the rank loop wants.
      val edges = Serving.tradePairCounts(s, d).select(col("src"), col("dst"))
      // nation-sized result → detachSmall (zero blocks left registered);
      // the tiny tail join runs static (see d20)
      graft.ops.PlanScope.isolatedStaticFor(Tables.nation(s, d)) { scoped =>
        graft.ops.PlanScope.rebind(graft.operators.Graphs.detachSmall(
            graft.operators.Graphs.pageRank(edges, iters = 3)), scoped)
          .join(Tables.nation(scoped, d), col("node") === col("n_nationkey"))
          .select(col("n_name"), col("rank_e6"))
      }
    }),
    "t42_k_anonymity" -> ((s, d) => {
      // k-anonymity release gate: group count over the quasi-identifier
      // tuple (segment, nation, $1000 balance band) with a k>=5 flag per
      // equivalence class — the privacy audit run before any record-level
      // data release. ONE grouped aggregate with map-side partials; the
      // band is computed from exact cents so the bucket edge can't drift.
      Tables.customer(s, d)
        .select(col("c_mktsegment"), col("c_nationkey"),
          floor(graft.ops.RelationalOps.cents(col("c_acctbal")) / lit(100000.0))
            .cast("long").as("bal_band"))
        .groupBy(col("c_mktsegment"), col("c_nationkey"), col("bal_band"))
        .agg(count(lit(1)).as("n"))
        .withColumn("k_anonymous", (col("n") >= 5).cast("int"))
    }),
    "t43_trend_slope" -> ((s, d) => {
      // Per-series OLS trend: slope of daily event volume per event type
      // over day index, closed-form from five grouped sums — the
      // drift/trend detector over ingestion telemetry. Two aggregates
      // (daily counts, then per-type moment sums — both map-side
      // partial); the slope is computed from exact integer moments, and
      // 1e6·num/den is one IEEE-correctly-rounded double division +
      // floor, identical in any engine.
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
        .select(col("event_type"),
          datediff(col("day"), lit("2024-01-01")).cast("long").as("x"), col("y"))
      daily.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_days"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("event_type"), col("n_days"),
          when(col("n_days") * col("sxx") - col("sx") * col("sx") === 0L,
            lit(null).cast("long"))
            .otherwise(floor(lit(1000000.0) *
              (col("n_days") * col("sxy") - col("sx") * col("sy")) /
              (col("n_days") * col("sxx") - col("sx") * col("sx")))
              .cast("long"))
            .as("slope_e6"))
    }),
    "t46_bpe_fertility" -> ((s, d) => {
      // ENCODE the full corpus through the SERVED tokenizer artifact
      // (Serving.bpeMergeRules — 6 merges trained once per session on
      // the every-3rd-doc sample, the fit/transform split every 100 TB
      // normalizer uses) and report per-source compression: the
      // fertility gain a tokenizer team reads before shipping a vocab.
      // t45 keeps the full train measured in-call; here encode is a
      // shuffle-free per-row fold of 6 literal replaces and the report
      // one grouped aggregate, on a conf-isolated static scope.
      val rules = Serving.bpeMergeRules(s, d)
      graft.ops.PlanScope.isolatedStatic(s) { scoped =>
      val docs = Tables.documents(scoped, d).select(col("doc_id"), col("source"), col("text"))
      graft.operators.Bpe.encode(docs, rules)
        .select(col("source"),
          size(tokens(col("text"))).cast("long").as("nb"),
          size(col("bpe_tokens")).cast("long").as("na"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("nb")).as("tok_before"), sum(col("na")).as("tok_after"))
        .withColumn("saved_permille",
          expr("(1000 * (tok_before - tok_after)) div tok_before"))
      }
    }),
    "t45_bpe_train" -> ((s, d) => {
      // Full BPE merge-rule training, 6 rounds — t22's single pair-count
      // iterated into the real trainer loop (Bpe.trainMerges): each round
      // is one corpus pass + a greedy corpus-wide fuse of the winning
      // pair. The oracle replays all 6 rounds as unrolled CTEs with the
      // identical double-space/replace representation, so the learned
      // rules (and their counts, which shift as merges eat pair
      // occurrences) are pinned exactly, round over round.
      graft.operators.Bpe.trainMerges(s,
        Tables.documents(s, d).select(col("text")), k = 6)
    }),
    "t44_changepoint" -> ((s, d) => {
      // Single-changepoint detection (AMOC, integer-scaled): per series,
      // the split day maximizing |S_t·(n−t) − (S_n−S_t)·t| — the
      // cross-multiplied form of the prefix-mean vs suffix-mean gap, so
      // the argmax needs no division and stays exact-integer. Day-level
      // series are calendar-bounded (≤ span days per key no matter the
      // event volume), so the per-key windows run over tiny frames; the
      // daily rollup is the only corpus-sized exchange. Ties break to
      // the earliest split via the (score, −t) argmax.
      val daily = Tables.events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("y"))
      val wRun = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val wAll = Window.partitionBy(col("event_type"))
      daily
        .withColumn("t", row_number().over(wRun).cast("long"))
        .withColumn("st", sum(col("y")).over(wRun))
        .withColumn("n", count(lit(1)).over(wAll))
        .withColumn("sn", sum(col("y")).over(wAll))
        .filter(col("t") < col("n"))
        .withColumn("score",
          abs(col("st") * (col("n") - col("t")) - (col("sn") - col("st")) * col("t")))
        .groupBy(col("event_type"))
        .agg(max_by(date_format(col("day"), "yyyy-MM-dd"),
            struct(col("score"), -col("t"))).as("split_day"),
          max(col("score")).as("score"))
    }),
    "d17_semantic_contamination" -> ((s, d) => {
      // Embedding-space decontamination: training vectors (id >= 100)
      // within cosine 0.4 of any eval vector (id < 100) — paraphrase
      // leakage the n-gram check (d08) can't see. Exact recall: shared
      // anchor grid, eval side carries the neighbor offsets and
      // broadcasts; the train corpus is scanned once.
      val emb = Tables.embeddings(s, d)
      Similarity.semanticContamination(
        emb.filter(col("vec_id") >= 100), emb.filter(col("vec_id") < 100),
        minCosE6 = 400000L)
    }),
    "d16_lsh_eval" -> ((s, d) => {
      // Candidate-quality audit: does 12 hashes x 4 bands of 3 actually
      // capture the jaccard>=0.8 truth, and how much verify work do the
      // candidates waste? Run on the operator's documented SAMPLED slice
      // (every 2nd doc) — the audit sizes the banding scheme, it never
      // needs the full corpus (exact truth on the full corpus is the
      // very cost the banding exists to avoid).
      Dedup.lshEvalReport(Tables.documents(s, d)
        .filter(pmod(col("doc_id"), lit(2)) === 0))
    }),
    "d04_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccardPairs(Tables.documents(s, d), minPermille = 500)
    }),
    "d05_embedding_neardup" -> ((s, d) => {
      Similarity.embeddingNearDupPairs(Tables.embeddings(s, d), minCosE6 = 400000L)
    }),
    "d12_delta_dedup" -> ((s, d) => {
      // Incremental ingestion: docs with id >= 250 arrive as a new batch
      // against the id < 250 corpus; admit only batch docs that duplicate
      // neither the corpus nor a lower-id batch doc (exact digest OR
      // verified MinHash-LSH pair). Corpus side touched twice, both
      // map-side-reduced (digest frame, band frame) — no rescan per batch.
      val docs = Tables.documents(s, d)
      Dedup.dedupDelta(
          docs.filter(col("doc_id") < 250), docs.filter(col("doc_id") >= 250))
        .select(col("doc_id"), col("source"), col("n_chars"))
    }),
    "d11_semantic_dedup" -> ((s, d) => {
      // SemDeDup: k-means cells (same deterministic fit as the IVF
      // index), pairwise exact cosine WITHIN cells only — Σ|cell|² work,
      // cluster-local recall by design (d05 is the exact-recall path).
      Similarity.semanticNearDupPairs(Tables.embeddings(s, d),
        nCells = 16, minCosE6 = 300000L)
    }),
    "d06_dedup_components" -> ((s, d) => {
      // Cluster near-dup pairs into components; every doc gets its
      // canonical representative (min reachable doc_id). Pairs from the
      // MinHash-LSH join, closure via hash-min label propagation.
      val docs = Tables.documents(s, d)
      Dedup.components(docs, Dedup.minhashLshPairs(docs))
    }),
    "d13_component_sizes" -> ((s, d) => {
      // Corpus-health report: the near-dup cluster-size distribution
      // (how much of the corpus is duplicated, and how heavy the heaviest
      // cluster is — the first chart any dedup audit draws). Two grouped
      // counts on top of the d06 components; both shuffles carry only
      // group rows.
      val docs = Tables.documents(s, d)
      Dedup.components(docs, Dedup.minhashLshPairs(docs))
        .groupBy(col("component")).agg(count(lit(1)).as("csize"))
        .groupBy(col("csize")).agg(count(lit(1)).as("n_components"))
    }),
    "t28_model_filter" -> ((s, d) => {
      // Model-based quality gate: hashed-feature linear classifier
      // (unigrams+bigrams -> 2^16 weight slots, exact milli-unit weights),
      // one codegen kernel per row. threshold 0 = keep docs whose mean
      // feature weight is non-negative.
      graft.operators.QualityModel.scoreDocs(
        Tables.documents(s, d), "doc_id", "text")
    }),
    "d14_fuzzy_er" -> ((s, d) => {
      // Approximate entity resolution on customer names: every pair
      // within edit distance 1, via symmetric-delete blocking + exact
      // Levenshtein verify. The oracle is blocking-agnostic (all-pairs
      // lev <= 1 in DuckDB), so a hash-green run proves the deletion
      // index loses no true pair — SymSpell's completeness guarantee,
      // checked end-to-end. maxBucket = 0 pins the EXACT operator: this
      // query exists to prove completeness, so it must opt out of the
      // production hot-bucket fence (whose bounded recall loss would
      // hash-mismatch the all-pairs oracle the moment a bucket crosses
      // the cap at a larger scale factor — benign buckets were already
      // at 58/64 at sf0.1). Fenced production entry points keep the
      // default; d14_fuzzy_er_skew in ScaleCurve carries the hazard row.
      EntityResolution.fuzzyPairs(Tables.customer(s, d), "c_custkey", "c_name",
        maxDist = 1, maxBucket = 0)
    }),
    "s07_bm25_search" -> ((s, d) => {
      // Lexical retrieval, ad-hoc shape: BM25 top-10 per query — one
      // corpus scan, kernel term counting (no token explode), bounded
      // heap tail.
      graft.operators.TextSearch.bm25TopK(
        Tables.documents(s, d), "doc_id", "text", Bm25Queries, k = 10)
    }),
    "s08_bm25_served" -> ((s, d) => {
      // The SERVING shape of s07: probe a PERSISTED term-bucketed
      // inverted index (saveTextIndex/loadTextIndex) instead of scanning
      // the corpus per query batch. Built once per session
      // (ensureServedTable); bench reps 2+ measure the pure probe —
      // bucket-pruned postings read, zero corpus scans. Same counts,
      // same formula, so s07's oracle covers it verbatim.
      import graft.operators.TextSearch
      // the build (buildTextIndex + saveTextIndex) lives in
      // Serving.textIndexTable — one artifact probed here and by s16's
      // lexical leg
      val table = Serving.textIndexTable(s, d)
      // probe static, same rationale as s05: fixed serving plan over the
      // term-bucketed postings table, AQE contributed only stage jobs
      graft.ops.PlanScope.isolatedStaticFor(Tables.documents(s, d)) { scoped =>
        TextSearch.bm25TopKWith(TextSearch.loadTextIndex(scoped, table),
          Bm25Queries, k = 10)
      }
    }),
    "t29_lm_score" -> ((s, d) => {
      // CCNet-style LM quality signal: every doc scored under the
      // corpus-fit smoothed bigram model; exact (count, micro-log-prob
      // sum) pairs so callers choose their own normalization.
      graft.operators.LanguageModel.bigramLogProb(
        Tables.documents(s, d), "doc_id", "text")
    }),
    "d15_label_outliers" -> ((s, d) => {
      // Label-noise mining: per label, the 5 vectors farthest from the
      // label centroid — all-integer distances, no float-order caveats.
      Similarity.labelOutliers(Tables.embeddings(s, d), k = 5)
    }),
    "t31_kmv_overlap" -> ((s, d) => {
      // Cross-source vocabulary overlap through KMV set algebra: per-
      // source k-min arrays (ONE sketch pass, #sources × k longs on the
      // wire), pairwise union estimates by merging arrays (KMV's closure
      // property — no rescan), intersection by inclusion-exclusion.
      // Exact counts ride along as the audit columns; a real deployment
      // drops them (they are the expensive part — the sketch path never
      // shuffles a (source, token) pair). Fixed report shape over one
      // input with every aggregate map-side-partial → conf-isolated
      // static scope (board census: 7 of its 8 jobs were pure AQE
      // exchange dispatch, norm ~0 — the s18 treatment).
      import graft.operators.Sketches
      // estimate-sized static scope KEPT (unlike d21): an A/B with a
      // session-width scope + entry spread read 0.50 -> 0.85 s — this
      // query's weight is the exact-intersection self-join over
      // (source, token) pairs, where the sized 1-partition exchanges
      // beat 32 near-empty tasks; the serialized tokenize is minor here
      graft.ops.PlanScope.isolatedStaticFor(Tables.documents(s, d)) { scoped =>
      val toks = Tables.documents(scoped, d)
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
      val sk = toks
        .groupBy(col("source"))
        .agg(
          Sketches.kmvMins(shiftright(TextFunctions.hash60(col("tok")), 12), 16).as("m"),
          count_distinct(col("tok")).as("nd"))
      val ex = toks.distinct()
      val inter = ex.as("x").join(ex.as("y"),
          col("x.tok") === col("y.tok") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
        .agg(count(lit(1)).as("exact_inter"))
      sk.as("a").join(sk.as("b"), col("a.source") < col("b.source"))
        .select(
          col("a.source").as("source_a"), col("b.source").as("source_b"),
          col("a.m").as("ma"), col("b.m").as("mb"),
          col("a.nd").as("nda"), col("b.nd").as("ndb"))
        .join(inter, col("source_a") === col("sa") && col("source_b") === col("sb"), "left")
        .withColumn("est_a", Sketches.kmvEstimateFromMins(col("ma"), 16, 48))
        .withColumn("est_b", Sketches.kmvEstimateFromMins(col("mb"), 16, 48))
        .withColumn("est_union", Sketches.kmvUnionEstimate(col("ma"), col("mb"), 16, 48))
        .withColumn("est_inter",
          greatest(lit(0L), col("est_a") + col("est_b") - col("est_union")))
        .withColumn("exact_inter", coalesce(col("exact_inter"), lit(0L)))
        .select(col("source_a"), col("source_b"),
          col("est_a"), col("est_b"), col("est_union"), col("est_inter"),
          (col("nda") + col("ndb") - col("exact_inter")).as("exact_union"),
          col("exact_inter"))
      }
    }),
    "t32_token_budget" -> ((s, d) => {
      // Budget-constrained final cut: best documents by the t03 quality
      // score until half the corpus's token budget is spent (prefix rule).
      // No global sort — one bounded per-score fit (which also yields the
      // total, so the half-budget costs no extra corpus pass), a pushdown
      // filter for the classes that fit wholesale, and a cumulative window
      // over the single boundary class only.
      // entry spread: the quality + token-count kernels run per row in
      // the scan stage — single-task on the one-split corpus
      val docs = graft.ops.PlanScope.spreadIfSmall(Tables.documents(s, d), "doc_id")
        .select(col("doc_id"), qualityScore(col("text")).as("quality"),
          tokenCount(col("text")).cast("long").as("n_tokens"))
      graft.operators.Mixture.budgetSelectFraction(
        docs, "doc_id", "quality", "n_tokens", 1L, 2L)
    }),
    "s12_ann_recall" -> ((s, d) => {
      // ANN recall@5 report: the SERVED IVF index (the s05 artifact —
      // a deployment evaluates the index it ships; the deterministic fit
      // keeps the fit-replaying oracle exact) probed at nprobe=2 of 16
      // cells, scored against brute-force ground truth on the 20-query
      // eval sample — the index-tuning number, as one oracle-exact row.
      val emb = Tables.embeddings(s, d)
      val table = Serving.ivfIndexTable(s, d)
      graft.ops.PlanScope.isolatedStaticFor(emb) { scoped =>
        val embS = Tables.embeddings(scoped, d)
        Similarity.recallAtKWith(Similarity.loadIvf(scoped, table),
          embS, embS.filter(col("vec_id") < 20), k = 5, nprobe = 2)
      }
    }),
    "s15_recall_sweep" -> ((s, d) => {
      // The full IVF tuning curve over the SERVED index (see s12):
      // recall@5 at nprobe ∈ {1,2,4,8,16} of 16 cells in ONE pass
      // (brute truth once, levels derived from a single max-probe
      // candidate frame) — measures the recall knee per corpus instead
      // of asserting it. nprobe=16 probes every cell, so its row is the
      // exact-search fixpoint (1000‰).
      val emb = Tables.embeddings(s, d)
      val table = Serving.ivfIndexTable(s, d)
      graft.ops.PlanScope.isolatedStaticFor(emb) { scoped =>
        val embS = Tables.embeddings(scoped, d)
        Similarity.recallSweepWith(Similarity.loadIvf(scoped, table),
          embS, embS.filter(col("vec_id") < 20),
          k = 5, nprobes = Seq(1, 2, 4, 8, 16))
      }
    }),
    "s18_bm25_delta" -> ((s, d) => {
      // Incremental text-index maintenance: build postings on the base
      // corpus (doc_id % 10 != 9), extend with the newly-arrived delta
      // (tokenizing ONLY the delta), probe through the extended index.
      // Hash-equality with the full-corpus BM25 replay proves
      // extension ≡ rebuild — including the corpus-global idf/avgdl
      // terms, which read the folded stats row. The whole
      // extend-then-probe composition is the per-batch serving plan, so
      // it builds on a conf-isolated static scope (board census: its
      // exchanges were pure AQE dispatch, norm ~0); a served PERSISTED
      // index would instead probe through bm25TopKWith on its owner's
      // session, keeping the postings pushdown on the cached plan.
      graft.ops.PlanScope.isolatedStatic(s) { scoped =>
        val docs = Tables.documents(scoped, d)
        val ext = graft.operators.TextSearch.extendTextIndex(
          graft.operators.TextSearch.buildTextIndex(
            docs.filter(pmod(col("doc_id"), lit(10)) =!= 9), "doc_id", "text"),
          docs.filter(pmod(col("doc_id"), lit(10)) === 9), "doc_id", "text")
        graft.operators.TextSearch.bm25TopKWith(ext, Bm25Queries, k = 10)
      }
    }),
    "s16_hybrid_rrf" -> ((s, d) => {
      // Hybrid retrieval over SERVED indexes — the shape a retrieval
      // deployment actually runs: BM25 lexical top-10 probed from the
      // persisted postings (the s08 artifact) fused with IVF dense
      // top-10 probed from the persisted buckets (the s05 artifact) by
      // reciprocal-rank fusion — rank-only combination, no score
      // calibration between micro-log BM25 and micro-unit cosine. Each
      // query is its fixture text on the lexical leg and its id-aligned
      // embedding on the dense leg. s07/s02 keep the ad-hoc scan/fit
      // postures measured; deterministic builds keep the oracle exact.
      val tIdx = Serving.textIndexTable(s, d)
      val vIdx = Serving.ivfIndexTable(s, d)
      graft.ops.PlanScope.isolatedStaticFor(Tables.documents(s, d)) { scoped =>
        val lex = graft.operators.TextSearch.bm25TopKWith(
          graft.operators.TextSearch.loadTextIndex(scoped, tIdx),
          Bm25Queries, k = 10)
        val emb = Tables.embeddings(scoped, d)
        val dense = Similarity.ivfKnnWith(Similarity.loadIvf(scoped, vIdx),
            emb.filter(col("vec_id") < Bm25Queries.length), k = 10, nprobe = 4)
          .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
        graft.operators.TextSearch.rrfFuse(
          Seq(lex.select(col("query_id"), col("doc_id"), col("rank")), dense), k = 10)
      }
    }),
    "s17_bitext_margin" -> ((s, d) => {
      // Margin-based bitext mining over a two-"language" split of the
      // embedding corpus (even ids = source, odd = target): each sampled
      // source's best target by the ratio margin — raw cosine normalized
      // by both sides' top-4 neighborhood density, hub vectors demoted.
      // Both directions ride SERVED per-direction IVF indexes
      // (Serving.bitextIndexTables — a mining deployment maintains one
      // index per language and amortizes the fits across batches; the
      // deterministic fit keeps the fit-replaying oracle exact, and s02
      // keeps the in-call fit measured). The backward pass probes only
      // the forward candidates.
      val emb = Tables.embeddings(s, d)
      val (st, tt) = Serving.bitextIndexTables(s, d)
      graft.ops.PlanScope.isolatedStaticFor(emb) { scoped =>
        val srcS = Tables.embeddings(scoped, d)
          .filter(pmod(col("vec_id"), lit(2)) === 0)
        Similarity.bitextMarginMineWith(
          Similarity.loadIvf(scoped, st), Similarity.loadIvf(scoped, tt),
          srcS.filter(col("vec_id") < 40), k = 4, nprobe = 4)
      }
    }),
    "s11_ivf_delta" -> ((s, d) => {
      // Incremental IVF maintenance: fit on the base corpus (vec_id % 10
      // != 9), then assign the newly-arrived delta against the FROZEN
      // centroids (extendIvf — one broadcast pass over the delta, no
      // refit). Hash-equality with a frozen-centroid assignment over
      // base ∪ delta proves extension ≡ rebuild-at-same-centroids.
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(pmod(col("vec_id"), lit(10)) =!= 9)
      val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 9)
      val ext = Similarity.extendIvf(Similarity.buildIvf(base, nCells = 16), delta)
      ext.assigned.select(col("vec_id"), col("cell").cast("int").as("cell"))
    }),
    "s20_ivfpq_delta" -> ((s, d) => {
      // Incremental IVF-PQ maintenance (s11 one compression level down):
      // fit coarse centroids AND subspace codebooks on the base corpus
      // (vec_id % 10 != 9), then ENCODE the newly-arrived delta under the
      // FROZEN artifacts (extendIvfPq — per-row assign, no refit, old
      // codes never move). The output is the extended index's coded
      // corpus; hash-equality with a frozen-artifact encode of
      // base ∪ delta (the oracle replays the base-only fits and assigns
      // everything) proves extension ≡ rebuild-at-same-artifacts — the
      // add-without-retrain contract of a served PQ index.
      val emb = Tables.embeddings(s, d)
      val base = emb.filter(pmod(col("vec_id"), lit(10)) =!= 9)
      val delta = emb.filter(pmod(col("vec_id"), lit(10)) === 9)
      val ext = Similarity.extendIvfPq(Similarity.buildIvfPq(base, nCells = 16), delta)
      ext.codes.select(col("vec_id"), col("cell").cast("int").as("cell"),
        col("code0").cast("int").as("code0"), col("code1").cast("int").as("code1"),
        col("code2").cast("int").as("code2"), col("code3").cast("int").as("code3"))
    }),
    "t36_hll_sketch" -> ((s, d) => {
      // Per-source distinct-token estimate through HyperLogLog — fixed
      // 2^8 bytes of state per source vs t21's KMV (same question, the
      // sketch trade-off shown side by side). Raw branch in exact integer
      // arithmetic; small sources exercise linear counting. Exact counts
      // ride along as the audit column.
      import graft.operators.Sketches
      // entry spread: tokenize/explode + HLL partials run in the scan
      // stage — single-task on the one-split corpus (no-op at scale)
      graft.ops.PlanScope.spreadIfSmall(Tables.documents(s, d), "doc_id")
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("source"))
        .agg(Sketches.hll(TextFunctions.hash60(col("tok")), 8).as("sk"),
          count_distinct(col("tok")).as("exact_distinct"))
        .select(col("source"), Sketches.hllEstimate("sk", 8).as("est_hll"),
          expr("size(filter(sk, x -> x = 0))").cast("long").as("n_zero_regs"),
          col("exact_distinct"))
    }),
    "s10_diversity_sample" -> ((s, d) => {
      // Cluster-balanced diversity pick: 8 vectors per IVF cell by
      // deterministic hash rank — even coverage of embedding space, the
      // counterweight to density-following uniform sampling. One k-means
      // fit + one bounded-heap aggregate.
      Similarity.diversitySample(Tables.embeddings(s, d),
        kPerCell = 8, nCells = 16, salt = "div")
    }),
    "t37_normalize" -> ((s, d) => {
      // Canonical text normalization (stage 0 of every curation run):
      // NFC composition + ROOT lowercase + ASCII whitespace collapse, one
      // codegen'd kernel per row. The corpus is ASCII-lowercase already,
      // so every 3rd doc gets a planted specimen (decomposed accents,
      // uppercase, tab/vertical-tab runs) — identically in the oracle —
      // proving composition actually unifies what exact dedup would miss.
      val planted = Tables.documents(s, d).withColumn("t2",
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit("\tCafé NAÏVE  ok")))
          .otherwise(col("text")))
      planted
        .select(col("doc_id"), TextFunctions.normalizeText(col("t2")).as("normalized"),
          col("t2"))
        .select(col("doc_id"), col("normalized"),
          (col("normalized") =!= col("t2")).cast("long").as("changed"))
    }),
    "t35_mad_outliers" -> ((s, d) => {
      // Robust length-anomaly gate: 3-MADs-out on doc length, all exact
      // integer math (two bounded histogram aggregates + a per-row tag,
      // no window, no σ). The corpus lengths are too uniform to produce
      // natural 3-MAD outliers, so every 50th doc gets a planted +5000
      // spike — identically in the oracle — proving the gate fires on
      // spikes and stays quiet on the bulk.
      val docs = Tables.documents(s, d).select(col("doc_id"),
        (col("n_chars") + when(pmod(col("doc_id"), lit(50)) === 0, lit(5000L))
          .otherwise(lit(0L))).cast("long").as("value"))
      graft.operators.Sketches.madOutliers(docs, "value", kMilli = 3000L)
    }),
    "t39_vocab_growth" -> ((s, d) => {
      // Heaps-law vocabulary curve at 50-doc bucket granularity: new
      // token types per ingestion bucket + cumulative vocabulary — one
      // exchange keyed token (cardinality = vocabulary), cumulative
      // window over bucket rows only.
      graft.operators.Keywords.vocabGrowth(
        Tables.documents(s, d), "doc_id", "text", bucketSize = 50L)
    }),
    "m06_scene_cuts" -> ((s, d) => {
      // Shot-boundary detection: per-frame feature deltas from ONE media
      // row each (per-row fold over the frame schedule, no frames-table
      // window, no shuffle); stub frame features are a deterministic
      // arithmetic schedule, so every delta is oracle-exact.
      Multimodal.sceneCuts(Multimodal.decodeStub(
        Multimodal.mediaDataset(s, Tables.documents(s, d))).toDF())
    }),
    "t38_winsorize" -> ((s, d) => {
      // Per-group winsorization: event values clipped into each
      // event_type's [p05, p95] — grouped quantile fit (ONE histogram
      // aggregate, |groups| fit rows) broadcast back for a shuffle-free
      // per-row clip. The heavy-tail tamer run before any mean/σ feature.
      val ev = Tables.events(s, d).select(col("event_id"), col("event_type"),
        graft.ops.RelationalOps.cents(col("value")).as("value_cents"))
      graft.operators.Sketches.winsorize(ev, Seq("event_type"), "value_cents",
          loPermille = 50, hiPermille = 950)
        .select(col("event_id"), col("event_type"), col("value_cents"),
          col("winsorized"), col("clipped"))
    }),
    "s09_random_projection" -> ((s, d) => {
      // Signed random projection 64 -> 16 dims: a data-independent ±1
      // matrix from the portable md5 hash, applied as one shuffle-free
      // per-row map over micro-rounded components — exact integer output,
      // the JL dimension-reduction front end for cheaper ANN probes.
      // Flattened to (vec_id, j, v) rows for the hash compare (the
      // checker's row sort cannot order array cells).
      graft.operators.Similarity.signedProject(
          Tables.embeddings(s, d), "vec_id", "embedding", inDims = 64, outDims = 16)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "v")))
        .select(col("vec_id"), col("j").cast("long").as("j"), col("v"))
    }),
    "t34_pmi_collocations" -> ((s, d) => {
      // Phrase/collocation mining: adjacent token pairs ranked by exact
      // integer lift (observed over independence-expected count). Two
      // vocabulary-bounded count aggregates, vocabulary equi-joins, and
      // a TakeOrdered tail — no ln, no floats.
      graft.operators.Keywords.collocationsTopK(
        Tables.documents(s, d), "text", minCount = 5L, k = 30)
    }),
    "t33_dsir_weights" -> ((s, d) => {
      // DSIR importance weighting: hashed-feature log-ratio of a target
      // distribution vs the raw corpus, scored as an exact integer sum
      // per doc (foldable weight table, shuffle-free scoring pass). The
      // synthetic corpus is distribution-uniform, so the query PLANTS a
      // target marker phrase on every 5th doc — identically in the
      // oracle — making target-like docs provably score highest.
      val docs = Tables.documents(s, d).withColumn("t2",
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(col("text"), lit(" telemetry beacon telemetry")))
          .otherwise(col("text")))
      val target = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
      val wts = graft.operators.Importance.fitWeights(target, docs, "t2")
      graft.operators.Importance.scoreDocs(docs, "doc_id", "t2", wts)
    }),
    "t30_lm_heldout" -> ((s, d) => {
      // The fit/score split in its leakage-aware serving shape: model fit
      // on the even-id half only, odd-id docs scored against counts they
      // never contributed to. Bigrams unseen at fit drop via the inner
      // join (n_bigrams counts scored evidence, not doc length).
      // the fit+score composition is one serving-shaped plan — built on
      // a conf-isolated static scope like s18 (exchanges were pure AQE
      // dispatch); a PERSISTED model would score via scoreBigram on its
      // owner's session instead
      graft.ops.PlanScope.isolatedStatic(s) { scoped =>
        val docs = Tables.documents(scoped, d)
        val model = graft.operators.LanguageModel.fitBigramModel(
          docs.filter(col("doc_id") % 2 === 0), "text")
        graft.operators.LanguageModel.scoreBigram(model,
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text")
      }
    }),
    "d09_dedup_keep_longest" -> ((s, d) => {
      // Score-aware dedup: per near-dup component keep the LONGEST doc
      // (ties → lowest doc_id) — what a curation pass actually keeps,
      // vs d06's first-seen canonical id.
      val docs = Tables.documents(s, d)
      Dedup.dedupCorpusBy(docs, Dedup.minhashLshPairs(docs),
          tokenCount(col("text")).cast("long"))
        .select(col("component"), col("kept_doc_id"), col("kept_score"))
    }),
    "m05_perceptual_dedup" -> ((s, d) => {
      // Perceptual-duplicate candidate buckets over the image branch:
      // gradient dHash of the decoded feature vector, grouped — LSH-style
      // candidate generation for image dedup (verify runs within buckets
      // downstream, never across). Stub codec ⇒ every bit oracle-exact.
      Multimodal.perceptualDupClusters(
        Multimodal.decodeStub(Multimodal.mediaDataset(s, Tables.documents(s, d)))
          .toDF().filter(col("kind") === "image"))
    }),
    "m04_audio_stats" -> ((s, d) => {
      // Audio-branch stats via the injectable-codec seam; the stub's
      // closed-form integer math makes every column oracle-exact.
      Multimodal.audioStats(Multimodal.mediaDataset(s, Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("kind"), col("n_samples"),
          col("duration_ms"), col("rms_permille"))
    }),
    "d08_contamination" -> ((s, d) => {
      // Benchmark-leakage check: documents ending in 0 stand in for an
      // eval/benchmark set (re-keyed +2e6 so ids are disjoint); any train
      // doc containing >= 50% of an eval doc's shingles is flagged. The
      // planted exact copies in the corpus surface at containment 1000.
      val docs = Tables.documents(s, d)
      val evalDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      Dedup.contaminationPairs(docs, evalDocs, shingleN = 3, minPermille = 500)
    }),
    "d10_contamination_capped" -> ((s, d) => {
      // The production-scale contamination path: same leakage check as
      // d08 but with the hot-shingle cap engaged (train-df > 4 shingles
      // dropped from the inverted index before the join, bounding the
      // quadratic hot-key blowup). Reported containment under-counts by
      // design — the threshold is lowered to 100‰ so the capped values
      // themselves land in the output and the oracle pins the cap, not
      // just the surviving pairs.
      val docs = Tables.documents(s, d)
      val evalDocs = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
      Dedup.contaminationPairs(docs, evalDocs, shingleN = 3, minPermille = 100,
        maxTrainDf = Some(4L))
    }),
    "t07_pack_chunks" -> ((s, d) => {
      // Concat-and-chunk packing layout per source: token offsets and
      // 2048-token chunk ids over the doc_id-ordered stream.
      graft.operators.Packing.packChunks(
          Tables.documents(s, d).select(col("doc_id"), col("source"), col("text")),
          "source", 2048L, tokenCount(col("text")))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("token_offset"), col("chunk_id"))
    }),
    "t08_vocab_topk" -> ((s, d) => {
      // Corpus vocabulary head: top-50 tokens by document-stream
      // frequency — the profile a tokenizer-training / stopword pass
      // reads first. One explode + grouped count (map-side partials) +
      // TakeOrderedAndProject; ties broken by token for determinism.
      Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("token"))
        .limit(50)
    }),
    "t23_compress_ratio" -> ((s, d) => {
      // Compressibility quality signal in its engine-portable form:
      // window NOVELTY — distinct 8-token windows over total windows,
      // permille. Templated/repetitive docs repeat their windows and
      // score low, unique prose sits near 1000: the same band structure
      // the Dolma/Gopher deflate-ratio heuristic reads, but as exact
      // n-gram multiset facts DuckDB replays bit-for-bit. (The zlib
      // deflate-length signal survives as TextFunctions.deflateLen,
      // spec-pinned in TextExprSpec — deflate byte counts are
      // library-version-dependent and kept this row rows-only for seven
      // rounds.) Every third doc gets a highly-repetitive tail planted
      // so the band structure is visible in the uniform-prose corpus.
      // One codegen'd kernel pass + array_distinct, no shuffle.
      val planted = Tables.documents(s, d).withColumn("t2",
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(col("text"), lit(" "), repeat(lit("lorem ipsum "), 40)))
          .otherwise(col("text")))
      planted
        .select(col("doc_id"), TextFunctions.ngramList(col("t2"), 8).as("w"))
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_windows"),
          size(array_distinct(col("w"))).cast("long").as("n_distinct"))
        .withColumn("novelty_permille",
          when(col("n_windows") === 0L, lit(1000L))
            .otherwise(expr("(1000 * n_distinct) div n_windows")))
    }),
    "t22_bpe_pairs" -> ((s, d) => {
      // The BPE/WordPiece merge-rule inner loop at corpus scale: count
      // every adjacent token-pair occurrence and take the head (the
      // argmax is the next merge). ngramList keeps repeats — unlike the
      // shingle set — so counts are true multiset frequencies. One
      // kernel pass + explode + partial-agg count + TakeOrdered; ties
      // by pair text for determinism.
      Tables.documents(s, d)
        .select(explode(TextFunctions.ngramList(col("text"), 2)).as("pair"))
        .groupBy(col("pair"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("pair"))
        .limit(30)
    }),
    "t24_dup_spans" -> ((s, d) => {
      // Cross-document duplicated-SPAN detection (Lee et al. 2022 style,
      // window-hash form): maximal token runs covered by 8-token windows
      // occurring >= 2 times corpus-wide. The corpus's natural exact/near
      // dup docs produce whole-doc spans; a 12-token boilerplate sentence
      // planted on every 4th doc produces the embedded-licence-block case
      // (a mid/tail span inside otherwise-unique docs) — both shapes in
      // one oracle.
      val planted = Tables.documents(s, d).withColumn("text",
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(col("text"),
            lit(" this work is licensed for research evaluation use only under the sample terms")))
          .otherwise(col("text")))
      Dedup.duplicatedSpans(planted.select(col("doc_id"), col("text")),
        windowTokens = 8, minOccurrences = 2L)
    }),
    "t27_span_scrub" -> ((s, d) => {
      // The scrubbing half of t24: same planted corpus, duplicated spans
      // REMOVED from every doc (symmetric drop-all policy), token counts
      // accounted. One index-aware HOF per row after the span join — no
      // token explode.
      val planted = Tables.documents(s, d).withColumn("text",
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(col("text"),
            lit(" this work is licensed for research evaluation use only under the sample terms")))
          .otherwise(col("text")))
      Dedup.scrubDuplicatedSpans(planted.select(col("doc_id"), col("text")),
        windowTokens = 8, minOccurrences = 2L)
    }),
    "t25_cms_heavy" -> ((s, d) => {
      // Count-min-sketch frequency estimation next to the exact counts it
      // approximates: one mergeable depth-4 x width-512 grid over every
      // token (fixed-size partials, no per-token shuffle), probed for the
      // exact top-20 tokens. est >= exact always; the gap is the
      // collision mass the width bound controls.
      import graft.operators.Sketches
      // entry spread: both the CMS pass and the exact-count pass tokenize
      // in the scan stage — single-task on the one-split corpus
      val toks = graft.ops.PlanScope.spreadIfSmall(
          Tables.documents(s, d), "doc_id")
        .select(explode(tokens(col("text"))).as("token"))
      val sketch = toks.agg(Sketches.cms(col("token"), 4, 512).as("__cms"))
      val probes = toks.groupBy(col("token"))
        .agg(count(lit(1)).as("exact_count"))
        .orderBy(col("exact_count").desc, col("token"))
        .limit(20)
      probes.crossJoin(broadcast(sketch))
        .select(col("token"), col("exact_count"),
          Sketches.cmsCount(col("__cms"), col("token"), 4, 512).as("cms_count"))
    }),
    "t41_lang_fertility" -> ((s, d) => {
      // Tokenizer planning table: per declared language, corpus volume
      // and the fertility ratios (chars/word-token, BPE-ish tokens per
      // word token) that size a tokenizer's budget per language — one
      // grouped aggregate over kernel token counts, exact integer
      // permille ratios.
      Tables.documents(s, d)
        .select(col("lang"), col("text"),
          tokenCount(col("text")).cast("long").as("nt"),
          bpeTokenCount(col("text")).cast("long").as("nb"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("n_chars"),
          sum(col("nt")).as("n_tokens"),
          sum(col("nb")).as("n_bpe_tokens"))
        .withColumn("chars_per_token_permille",
          expr("CAST(1000 * n_chars DIV greatest(n_tokens, 1) AS BIGINT)"))
        .withColumn("bpe_per_token_permille",
          expr("CAST(1000 * n_bpe_tokens DIV greatest(n_tokens, 1) AS BIGINT)"))
    }),
    "t40_csv_roundtrip" -> ((s, d) => {
      // The CSV boundary, t26's sibling: export documents as RFC-quoted
      // CSV, read back with explicit schema plus one planted corrupt
      // line (non-numeric id -> corrupt, dropped per S8), digest per
      // row. Hash-equality vs the parquet-side oracle proves the hop is
      // lossless through commas/quotes and the corrupt row was dropped.
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_csv_" + java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
      graft.sources.Csv.write(
        Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")),
        dir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "planted_corrupt.csv"),
        "not_a_number,some text,en,web,42\n".getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
      graft.sources.Csv.readLogAndContinue(s, dir, schema)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("fp"))
    }),
    "t26_jsonl_roundtrip" -> ((s, d) => {
      // The jsonl boundary: export documents as json-lines, read them back
      // with an explicit schema plus one planted corrupt line, drop the
      // corrupt line per the S8 LogAndContinue policy, and emit a
      // fidelity digest per row. The oracle computes the same digests
      // from the parquet directly — hash-equality proves the jsonl hop
      // is lossless and the corrupt line was dropped, not absorbed.
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
        "graft_jsonl_" + java.lang.Integer.toHexString(d.hashCode)).getAbsolutePath
      graft.sources.Jsonl.write(
        Tables.documents(s, d)
          .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")),
        dir)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(dir, "planted_corrupt.json"),
        "{\"doc_id\": 999999999, \"text\": unquoted garbage}\n".getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lang", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_chars", org.apache.spark.sql.types.LongType)))
      graft.sources.Jsonl.readLogAndContinue(s, dir, schema)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("fp"))
    }),
    "t21_source_vocab_sketch" -> ((s, d) => {
      // Per-source distinct-token estimate through the mergeable KMV
      // sketch, next to the exact count it approximates. The sketch pass
      // bounds the exchange at #sources × k longs (map-side partial
      // sketches merge associatively) where exact count_distinct
      // shuffles every (source, token) pair — the corpus-analytics
      // shape that still works when one source holds 10^9 tokens.
      // k = 16 saturates on this vocabulary, so the estimator path is
      // exercised, not just exact-under-capacity (q29 covers both
      // regimes globally).
      import graft.operators.Sketches
      // entry spread: same single-task scan-stage rationale as t36
      graft.ops.PlanScope.spreadIfSmall(Tables.documents(s, d), "doc_id")
        .select(col("source"), explode(tokens(col("text"))).as("tok"))
        .groupBy(col("source"))
        .agg(
          Sketches.kmv(shiftright(TextFunctions.hash60(col("tok")), 12), 16).as("sk"),
          count_distinct(col("tok")).as("exact_distinct"))
        .select(col("source"),
          Sketches.kmvEstimate("sk", 16, 48).as("est_distinct"),
          col("exact_distinct"))
    }),
    "t09_repetition" -> ((s, d) => {
      // Gopher-style repetition quality signals: duplicate-word,
      // top-word, duplicate-3-gram and top-3-gram fractions (permille,
      // exact integer math). Two codegen'd one-pass kernel calls per row
      // (no HOFs, no explode+regroup) — a narrow map over the corpus.
      Tables.documents(s, d)
        .select(col("doc_id"),
          TextFunctions.ngramRepetition(col("text"), 1).as("r1"),
          TextFunctions.ngramRepetition(col("text"), 3).as("r3"))
        .select(col("doc_id"),
          col("r1").getItem(0).as("n_words"),
          expr("CASE WHEN r1[0] > 0 THEN CAST((1000 * (r1[0] - r1[1])) DIV r1[0] AS BIGINT) ELSE 0 END")
            .as("dup_word_permille"),
          expr("CASE WHEN r1[0] > 0 THEN CAST((1000 * r1[2]) DIV r1[0] AS BIGINT) ELSE 0 END")
            .as("top_word_permille"),
          expr("CASE WHEN r3[0] > 0 THEN CAST((1000 * (r3[0] - r3[1])) DIV r3[0] AS BIGINT) ELSE 0 END")
            .as("dup_3gram_permille"),
          expr("CASE WHEN r3[0] > 0 THEN CAST((1000 * r3[2]) DIV r3[0] AS BIGINT) ELSE 0 END")
            .as("top_3gram_permille"))
    }),
    "t10_mixture_sample" -> ((s, d) => {
      // Deterministic mixture weighting: per-source target rates with
      // exact epoch semantics (rate 2500 = 2 guaranteed copies + a
      // hash-gated third), no RNG, no shuffle. The "data mixing" step of
      // a pretraining run, bit-reproducible across engines.
      graft.operators.Mixture.sampleByRates(
          Tables.documents(s, d), "doc_id", "source",
          Map("src0" -> 2500, "src1" -> 1000, "src2" -> 500, "src3" -> 0),
          defaultPermille = 250, salt = "mix")
        .select(col("doc_id"), col("source"), col("copy"))
    }),
    "t18_temperature_mixture" -> ((s, d) => {
      // Temperature-balanced mixing (Gopher/Pile): per-source rates fit
      // from the corpus itself — weight ∝ sqrt(count), normalized to keep
      // total size — then the same exact hash-slot resample as t10. The
      // fit is one tiny count aggregate (O(#sources) driver state); the
      // resample is a pure per-row map + generator, no shuffle. The
      // synthetic corpus is source-uniform (every rate would fit to
      // 1000), so the query PLANTS a deterministic 6:1:1 skew from
      // doc_id arithmetic — identically in the oracle — making the
      // fitted rates provably down-weight the bulk and boost the tails.
      val docs = Tables.documents(s, d).withColumn("mix_src",
        when(pmod(col("doc_id"), lit(4)) < 3, lit("bulk"))
          .otherwise(concat(lit("rare"), pmod(col("doc_id"), lit(2)).cast("string"))))
      val rates = graft.operators.Mixture.temperatureRates(docs, "mix_src", tauHalves = 1)
      graft.operators.Mixture.sampleByRates(
          docs, "doc_id", "mix_src", rates, defaultPermille = 0, salt = "mix")
        .select(col("doc_id"), col("mix_src"), col("copy"))
    }),
    "t12_quality_buckets" -> ((s, d) => {
      // Curriculum/filter binning: global p25/p50/p75 breakpoints of the
      // t03 quality score through ONE QuantileHistogram aggregate, then a
      // pure per-row bucket tag (count of breakpoints strictly below).
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), qualityScore(col("text")).as("quality"))
      graft.operators.Sketches.quantileBuckets(docs, "quality", Seq(250, 500, 750))
        .select(col("doc_id"), col("quality"), col("bucket"))
    }),
    "t13_pii_scrub" -> ((s, d) => {
      // PII flag + redact: email/IPv4/phone token counts and the redacted
      // text, one codegen'd kernel pass per row (no java.util.regex, no
      // explode) — a narrow map, the curation stage between quality
      // filtering and packing. The synthetic corpus carries no PII, so
      // the query PLANTS deterministic specimens (valid and near-miss
      // invalid ones) from doc_id arithmetic — identically in the DuckDB
      // oracle — making the hash check meaningful, not vacuously zero.
      val planted = Tables.documents(s, d).withColumn("t2", concat(
        col("text"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" user"), col("doc_id").cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit("."), pmod(col("doc_id"), lit(100)).cast("string")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" +34-91-555-01"), pmod(col("doc_id"), lit(10)).cast("string")))
          .otherwise(lit("")),
        // near-misses that must NOT count: double @, octet > 255, 4 digits
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit(" bad@@example.com 300.1.2.3 12-34")).otherwise(lit(""))))
      planted
        .select(col("doc_id"), TextFunctions.piiStats(col("t2")).as("p"),
          TextFunctions.scrubPii(col("t2")).as("redacted"))
        .select(col("doc_id"),
          col("p").getItem(0).as("n_email"),
          col("p").getItem(1).as("n_ip"),
          col("p").getItem(2).as("n_phone"),
          col("redacted"))
    }),
    "t14_domain_curation" -> ((s, d) => {
      // URL/domain curation: normalize crawl URLs to domains (scheme /
      // case / www. / port / path stripped), drop blocklisted domains,
      // cap each domain at 8 docs preferring longest (ties: smallest
      // doc_id) — one per-row regexp, one scan-side filter, ONE bounded-
      // heap aggregate; no window over the corpus. The synthetic corpus
      // has no URLs, so the query PLANTS deterministic ones from
      // doc_id/source arithmetic — identically in the DuckDB oracle —
      // with enough scheme/case/port/fragment variety that the
      // normalization provably does work.
      val docs = Tables.documents(s, d)
      val id = col("doc_id").cast("string")
      val url = when(pmod(col("doc_id"), lit(4)) === 0,
          concat(lit("https://www."), col("source"), lit(".example.com/a/"), id))
        .when(pmod(col("doc_id"), lit(4)) === 1,
          concat(lit("HTTP://"), col("source"), lit(".EXAMPLE.com:8080/b?id="), id))
        .when(pmod(col("doc_id"), lit(4)) === 2,
          concat(col("source"), lit(".example.com/c/"), id, lit("#frag")))
        .otherwise(
          concat(lit("https://cdn."), col("source"), lit(".example.com/d/"), id))
      val kept = graft.operators.Domains.filterBlocklist(
        docs.withColumn("domain", graft.operators.Domains.domainOf(url)),
        "domain", Seq("src3.example.com", "cdn.src7.example.com"))
      graft.operators.Domains.capPerDomain(kept, "doc_id", "domain", "n_chars",
        maxPerDomain = 8)
    }),
    "t15_chunk_sliding" -> ((s, d) => {
      // Context-window chunking: each doc's token stream cut into
      // maxTokens=64 windows sliding by 48 (overlap 16) — pure per-row
      // tokenize + generator explode, no shuffle; the long-document
      // layout step before packing. Last chunk short, never dropped —
      // unless fully contained in its predecessor (tail ≤ overlap),
      // which is suppressed rather than duplicating the tail.
      graft.operators.Packing.chunkByTokens(
          Tables.documents(s, d), "text", maxTokens = 64, overlap = 16)
        .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
          col("n_chunk_tokens"), col("chunk_text"))
    }),
    "t17_tfidf_keywords" -> ((s, d) => {
      // Top-5 distinctive tokens per doc by exact-rational tf/df ppm
      // (see Keywords.tfidfTopK) — integer math end to end, ties by
      // token, so the DuckDB replay hash-matches bit for bit.
      graft.operators.Keywords.tfidfTopK(
        Tables.documents(s, d), "doc_id", "text", k = 5)
    }),
    "t16_line_dedup" -> ((s, d) => {
      // Line-level boilerplate removal (the CCNet/RefinedWeb stage): drop
      // lines occurring > 20 times corpus-wide, keep the rest in order.
      // The synthetic corpus has no newlines, so the query PLANTS
      // deterministic boilerplate lines (two hot, one borderline family,
      // one unique) from doc_id arithmetic — identically in the DuckDB
      // oracle — so the frequency fence provably separates classes.
      val planted = Tables.documents(s, d).withColumn("t2", concat(
        col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("\nSubscribe to our newsletter today")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("\nAll rights reserved")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit("\nContact us at office "),
            pmod(col("doc_id"), lit(4)).cast("string"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(13)) === 0,
          concat(lit("\nRef code "), col("doc_id").cast("string")))
          .otherwise(lit(""))))
      Dedup.dedupLines(planted.select(col("doc_id"), col("t2")),
        "doc_id", "t2", maxOccurrences = 20)
    }),
    "t19_intra_doc_dedup" -> ((s, d) => {
      // Intra-document exact line dedup (the C4-style repeated-line
      // removal that runs BEFORE any corpus-wide stage): each doc keeps
      // the first occurrence of every line — one codegen'd kernel pass,
      // no shuffle. The synthetic corpus is single-line, so the query
      // PLANTS deterministic repeats (an immediate duplicate, a later
      // re-occurrence, doubled blank lines, and a trailing-space
      // near-miss that must survive) from doc_id arithmetic —
      // identically in the DuckDB oracle.
      val planted = Tables.documents(s, d).withColumn("t2", concat(
        col("text"),
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("\nshared boilerplate line\nshared boilerplate line"))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("\nper doc tail "), pmod(col("doc_id"), lit(7)).cast("string")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(6)) === 0,
          concat(lit("\nper doc tail "), pmod(col("doc_id"), lit(7)).cast("string")))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          lit("\nshared boilerplate line ")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("\n\n\nend marker")).otherwise(lit(""))))
      planted
        .select(col("doc_id"),
          TextFunctions.dedupLinesInDoc(col("t2")).as("clean_text"),
          size(split(col("t2"), "\n", -1)).cast("long").as("n_total"))
        .withColumn("n_kept",
          size(split(col("clean_text"), "\n", -1)).cast("long"))
    }),
    "t11_stratified_sample" -> ((s, d) => {
      // Deterministic "random 5 per source": smallest salted-hash rank
      // per group through ONE bounded-heap aggregate (map-side partials,
      // O(groups x k) exchange) — no window, no full sort, no RNG.
      graft.operators.Mixture.stratifiedSample(
        Tables.documents(s, d), "doc_id", "source", kPerGroup = 5, salt = "strat")
    }),
    "t06_hash_split" -> ((s, d) => {
      // Deterministic 90/5/5 train/val/test split by doc_id — stable
      // across runs/engines (md5-derived fences, no RNG), a pure per-row
      // map with no shuffle.
      graft.operators.Splits.hashSplit(
          Tables.documents(s, d), "doc_id",
          Seq("train" -> 900, "val" -> 50, "test" -> 50))
        .select(col("doc_id"), col("split"))
    }),
    "t20_training_order" -> ((s, d) => {
      // Deterministic pre-training global shuffle: shard assignment plus
      // a dense in-shard position from the frozen hash scheme — fixes a
      // training run's data order with no RNG and no global sort (one
      // exchange on shard, per-shard sort; salt = one order per epoch).
      graft.operators.Splits.trainingOrder(
          Tables.documents(s, d).select(col("doc_id")), "doc_id",
          nShards = 8, salt = "epoch0")
        .select(col("doc_id"), col("shard"), col("pos"))
    }),
    "d07_leakage_safe_split" -> ((s, d) => {
      // Split where near-duplicate documents always co-locate: assignment
      // keys on the near-dup component representative, so no near-dup
      // pair can straddle the train/test fence and contaminate held-out
      // metrics.
      val docs = Tables.documents(s, d)
      val comps = Dedup.components(docs, Dedup.minhashLshPairs(docs))
      graft.operators.Splits.leakageSafeSplit(
          docs.select(col("doc_id")), comps,
          Seq("train" -> 900, "val" -> 50, "test" -> 50))
        .select(col("doc_id"), col("component"), col("split"))
    }),
    "s01_knn_brute" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 20), k = 5)
    }),
    "s02_knn_ivf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfKnn(emb, emb.filter(col("vec_id") < 20), k = 5, nCells = 16, nprobe = 2)
    }),
    "s05_knn_ivf_served" -> ((s, d) => {
      // The SERVING path of s02: probe a PERSISTED bucketed index
      // (saveIvf/loadIvf) instead of fitting k-means per call. The save
      // is paid once per session (first call builds, later calls load
      // from the catalog — in the bench that leaves the median rep
      // measuring pure probe: zero fit jobs, zero corpus-side exchange).
      // Same parameters as s02 and a deterministic fit, so the results —
      // and the oracle — are identical.
      val emb = Tables.embeddings(s, d)
      // the build (buildIvf + saveIvf) lives in Serving.ivfIndexTable —
      // one artifact probed here and EVALUATED by s12/s15
      val table = Serving.ivfIndexTable(s, d)
      // the probe is the steady-state serving shape: a fixed plan over
      // the bucketed table (no corpus exchange by construction), so it
      // runs static — AQE's per-exchange stage jobs were the only thing
      // it dispatched beyond the probe itself (census: norm ~0)
      graft.ops.PlanScope.isolatedStaticFor(emb) { scoped =>
        Similarity.ivfKnnWith(Similarity.loadIvf(scoped, table),
          Tables.embeddings(scoped, d).filter(col("vec_id") < 20),
          k = 5, nprobe = 2)
      }
    }),
    "s04_knn_quantized" -> ((s, d) => {
      // int8 two-stage ANN: coarse integer-dot top-20 over quantized
      // vectors (the corpus scan reads 4x fewer bytes), exact cosine
      // rescore of candidates only. coarseK=20 here so the oracle fence
      // is explicit.
      val emb = Tables.embeddings(s, d)
      Similarity.quantizedKnn(emb, emb.filter(col("vec_id") < 20), k = 5, coarseK = 20)
    }),
    "s14_knn_ivfpq" -> ((s, d) => {
      // IVF-PQ (FAISS IVF16,PQ4x16): coarse cell probe (nprobe=2) +
      // in-cell ADC ranking on 4-int codes + exact rescore of the
      // top-20 — the two-level layout where neither the vectors nor
      // even all codes are scanned per query.
      val emb = Tables.embeddings(s, d)
      Similarity.ivfPqKnn(emb, emb.filter(col("vec_id") < 20),
        k = 5, nCells = 16, nprobe = 2, coarseK = 20)
    }),
    "s19_knn_ivfpq_served" -> ((s, d) => {
      // The SERVING path of s14 (the s05 pattern one compression level
      // down): probe a PERSISTED cell-bucketed CODES table + frozen
      // centroid/codebook artifacts (saveIvfPq/loadIvfPq) instead of
      // fitting and encoding per call. The build is paid once per
      // session (Serving.ivfPqIndexTable); the driver-side fitted
      // artifacts are held in memory across probes (cachedArtifact), so
      // the median rep measures the pure two-level probe: cell rank →
      // ADC over 4 ints/row from the probed buckets → exact rescore.
      // Deterministic fit ⇒ results identical to s14 ⇒ its
      // fit-replaying oracle covers this query verbatim.
      val table = Serving.ivfPqIndexTable(s, d)
      val (cent, model) = Serving.cachedArtifact(s"${table}__driver") {
        val ix = Similarity.loadIvfPq(s, table)
        (ix.cent, ix.model)
      }
      graft.ops.PlanScope.isolatedStaticFor(Tables.embeddings(s, d)) { scoped =>
        val emb = Tables.embeddings(scoped, d)
        Similarity.ivfPqKnnWith(
          Similarity.IvfPqIndex(scoped.table(table), cent, model),
          emb, emb.filter(col("vec_id") < 20), k = 5, nprobe = 2, coarseK = 20)
      }
    }),
    "s13_knn_pq" -> ((s, d) => {
      // Product-quantization ANN (ADC): 4 subspace codebooks of 16 codes,
      // corpus scanned as 4 ints/row against broadcast per-query lookup
      // tables, exact cosine rescore of the top-20 — the
      // memory-bandwidth-optimal coarse stage for a 100 TB corpus.
      val emb = Tables.embeddings(s, d)
      Similarity.pqKnn(emb, emb.filter(col("vec_id") < 20), k = 5, coarseK = 20)
    }),
    "s06_hard_negatives" -> ((s, d) => {
      // Contrastive hard-negative mining: top-5 different-label neighbors
      // per query inside the [0.10, 0.30) cosine shell — above easy
      // negatives, below d11's near-duplicate fence (0.30), so nothing a
      // semantic-dedup pass would flag as a positive can leak into the
      // negative set.
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 20), k = 5,
        loE6 = 100000L, hiE6 = 299999L)
    }),
    "t01_token_count" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        bpeTokenCount(col("text")).cast("long").as("n_bpe_tokens"))
    }),
    "t02_lang_id" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"), col("lang").as("declared_lang"),
        langId(col("text")).as("predicted_lang"))
    }),
    "t03_quality_score" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"),
        tokenCount(col("text")).cast("long").as("n_tokens"),
        stopPermille(col("text")).as("stop_permille"),
        alphaPermille(col("text")).as("alpha_permille"),
        avgTokenLenPermille(col("text")).as("avg_token_len_permille"),
        qualityScore(col("text")).as("quality"))
    }),
    "t04_fingerprint" -> ((s, d) => {
      Tables.documents(s, d).select(
        col("doc_id"), fingerprint(col("text")).as("fp"))
    }),
    "t05_source_stats" -> ((s, d) => {
      // Corpus curation rollup: per ingestion source, volume + quality +
      // language mix. The shape of a "which sources to keep" decision at
      // 100 TB — one scan, one grouped aggregate.
      Tables.documents(s, d)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(tokenCount(col("text")).cast("long")).as("total_tokens"),
          floor(sum(qualityScore(col("text"))) / count(lit(1))).cast("long").as("avg_quality"),
          count_distinct(col("lang")).as("n_langs"))
    }),
    "s03_label_centroid" -> ((s, d) => {
      // Per-label embedding centroid, element-wise, in exact micro-units
      // (float sums are order-sensitive; integer micros are not). One
      // explode + one grouped aggregate, partitioned by (label, dim).
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim"))
        .agg(
          count(lit(1)).as("n"),
          sum(round(col("v").cast("double") * 1e6).cast("long")).as("sum_e6"))
        .withColumn("mean_e6", floor(col("sum_e6") / col("n")).cast("long"))
    }),
    "m01_media_meta" -> ((s, d) => {
      Multimodal.mediaFromDocs(Tables.documents(s, d))
        .select(col("doc_id"), col("kind"), col("n_bytes"),
          md5(col("payload")).as("digest"))
    }),
    "m02_media_features" -> ((s, d) => {
      // mapPartitions decode stub; the stub is closed-form over payload
      // bytes, so the DuckDB oracle reproduces it exactly (width/height
      // from the first two bytes, n_frames from octet_length, and the
      // float feature vector verified via an exact permille checksum —
      // feature(i) = k/1000f with 0<=k<1000, so round(f*1000) recovers k).
      Multimodal.decodeStub(Multimodal.mediaDataset(s, Tables.documents(s, d)))
        .toDF()
        .select(col("doc_id"), col("kind"), col("width"), col("height"),
          col("n_frames"), size(col("feature")).as("feature_dim"),
          expr("CAST(aggregate(transform(feature, f -> CAST(round(f * 1000) AS BIGINT)), " +
            "0L, (a, x) -> a + x) AS BIGINT)").as("feature_permille_sum"))
    }),
    "m03_frame_sample" -> ((s, d) => {
      val feats = Multimodal.decodeStub(Multimodal.mediaDataset(s, Tables.documents(s, d)))
      Multimodal.sampleFrames(feats, stride = 5)
    }),
  )

  // ---- oracles ----

  val oracleSql: Map[String, String] = Map(
    // the end-to-end pipeline replay — see curationOracleSql
    "c01_curation_e2e" -> curationOracleSql,
    // the delta-admission replay — see c03OracleSql
    "c03_curation_delta" -> c03OracleSql,
    // the served posture produces the identical admission (artifacts ≡
    // derived, spec-pinned) — one replay covers both
    "c04_curation_delta_served" -> c03OracleSql,
    "c05_release_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 0),
        |n AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END) AS h
        |      FROM documents WHERE doc_id % 7 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |       CASE WHEN o.doc_id IS NULL THEN 'added'
        |            WHEN n.doc_id IS NULL THEN 'dropped'
        |            WHEN o.h <> n.h THEN 'changed' END AS status
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
        |WHERE (o.doc_id IS NULL OR n.doc_id IS NULL OR o.h <> n.h)
        |ORDER BY doc_id""".stripMargin,
    // the full-stage composition: span scrub + semantic fence added to
    // c01's chain, one statement, heavy CTEs MATERIALIZED
    "c02_curation_full" -> c02OracleSql,
    // same aggregate chain, same one fixed double association inside each
    // term, micro-rounded before the order-free sum (the t29 recipe)
    "t47_source_kl" ->
      s"""WITH ws AS (SELECT source, $WsSql AS w FROM documents),
         |t AS (SELECT source, unnest(w) AS token FROM ws),
         |ct AS (SELECT source, token, COUNT(*) AS c FROM t GROUP BY 1, 2),
         |st AS (SELECT source, CAST(SUM(c) AS BIGINT) AS st FROM ct GROUP BY 1),
         |gt AS (SELECT token, CAST(SUM(c) AS BIGINT) AS gt FROM ct GROUP BY 1),
         |tt AS (SELECT CAST(SUM(c) AS BIGINT) AS tt FROM ct),
         |terms AS (SELECT ct.source,
         |    CAST(ROUND(1e6 * ((CAST(c AS DOUBLE) / st) *
         |      ln((CAST(c AS DOUBLE) * tt) / (CAST(st AS DOUBLE) * gt)))) AS BIGINT) AS k
         |  FROM ct JOIN st USING (source) JOIN gt USING (token) CROSS JOIN tt),
         |ag AS (SELECT source, COUNT(*) AS n_terms, CAST(SUM(k) AS BIGINT) AS kl_e6
         |       FROM terms GROUP BY source)
         |SELECT ag.source, st.st AS n_tokens, ag.n_terms, ag.kl_e6
         |FROM ag JOIN st USING (source) ORDER BY ag.source""".stripMargin,
    // all-pairs on purpose (like d14): the oracle must not share the
    // cross-index blocking, or a recall bug would be invisible
    "d22_fuzzy_link" ->
      """WITH r AS (SELECT c_custkey + 5000000 AS rid,
        |  CASE c_custkey % 5
        |    WHEN 0 THEN substr(c_name, 1, length(c_name) - 1)
        |    WHEN 1 THEN c_name || 'x'
        |    WHEN 2 THEN substr(c_name, 1, length(c_name) - 1) || 'Z'
        |    WHEN 3 THEN c_name || 'xy'
        |    ELSE c_name END AS rname
        |  FROM customer)
        |SELECT a.c_custkey AS left_id, CAST(r.rid AS BIGINT) AS right_id,
        |       CAST(levenshtein(a.c_name, r.rname) AS BIGINT) AS dist
        |FROM customer a JOIN r ON levenshtein(a.c_name, r.rname) <= 1
        |ORDER BY left_id, right_id""".stripMargin,
    // 2 clamped synchronous rounds, weight-argmax with smallest-label
    // tie-break (QUALIFY replays the argmax deterministically)
    "d20_label_propagation" ->
      """WITH edges AS (
        |  SELECT CAST(s_nationkey AS BIGINT) AS src,
        |         CAST(c_nationkey AS BIGINT) AS dst, COUNT(*) AS w
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey <> c_nationkey
        |  GROUP BY src, dst),
        |seeds AS (SELECT CAST(n_nationkey AS BIGINT) AS node,
        |                 CAST(n_regionkey AS BIGINT) AS label
        |          FROM nation WHERE n_nationkey < 8),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |l0 AS (SELECT n.node, s.label FROM nodes n LEFT JOIN seeds s ON n.node = s.node),
        |w1 AS (SELECT e.dst, l.label, SUM(e.w) AS v
        |       FROM edges e JOIN l0 l ON e.src = l.node
        |       WHERE l.label IS NOT NULL GROUP BY e.dst, l.label),
        |win1 AS (SELECT dst, label FROM w1
        |         QUALIFY ROW_NUMBER() OVER (PARTITION BY dst
        |           ORDER BY v DESC, label ASC) = 1),
        |l1 AS (SELECT n.node, COALESCE(s.label, w.label) AS label
        |       FROM nodes n LEFT JOIN seeds s ON n.node = s.node
        |       LEFT JOIN win1 w ON n.node = w.dst),
        |w2 AS (SELECT e.dst, l.label, SUM(e.w) AS v
        |       FROM edges e JOIN l1 l ON e.src = l.node
        |       WHERE l.label IS NOT NULL GROUP BY e.dst, l.label),
        |win2 AS (SELECT dst, label FROM w2
        |         QUALIFY ROW_NUMBER() OVER (PARTITION BY dst
        |           ORDER BY v DESC, label ASC) = 1),
        |l2 AS (SELECT n.node, COALESCE(s.label, w.label) AS label
        |       FROM nodes n LEFT JOIN seeds s ON n.node = s.node
        |       LEFT JOIN win2 w ON n.node = w.dst)
        |SELECT n_name, label FROM l2 JOIN nation ON node = n_nationkey""".stripMargin,
    // weighted variant: contribution = (r·w) // Σw — same unrolled rounds
    "d19_weighted_pagerank" ->
      """WITH edges AS (
        |  SELECT CAST(s_nationkey AS BIGINT) AS src,
        |         CAST(c_nationkey AS BIGINT) AS dst, COUNT(*) AS w
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey <> c_nationkey
        |  GROUP BY src, dst),
        |outw AS (SELECT src, SUM(w) AS sw FROM edges GROUP BY src),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |r1 AS (SELECT n.node,
        |         CAST(150000 + (85 * COALESCE(SUM((p.r * e.w) // o.sw), 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n
        |       LEFT JOIN edges e ON e.dst = n.node
        |       LEFT JOIN outw o ON o.src = e.src
        |       LEFT JOIN r0 p ON p.node = e.src
        |       GROUP BY n.node),
        |r2 AS (SELECT n.node,
        |         CAST(150000 + (85 * COALESCE(SUM((p.r * e.w) // o.sw), 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n
        |       LEFT JOIN edges e ON e.dst = n.node
        |       LEFT JOIN outw o ON o.src = e.src
        |       LEFT JOIN r1 p ON p.node = e.src
        |       GROUP BY n.node),
        |r3 AS (SELECT n.node,
        |         CAST(150000 + (85 * COALESCE(SUM((p.r * e.w) // o.sw), 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n
        |       LEFT JOIN edges e ON e.dst = n.node
        |       LEFT JOIN outw o ON o.src = e.src
        |       LEFT JOIN r2 p ON p.node = e.src
        |       GROUP BY n.node)
        |SELECT n_name, r AS rank_e6
        |FROM r3 JOIN nation ON node = n_nationkey""".stripMargin,
    // Exact-integer PageRank replayed as 3 unrolled CTE rounds: DuckDB's
    // `//` (floor div) ≡ Spark's `div` on the non-negative rank domain.
    "d18_trade_pagerank" ->
      """WITH edges AS (
        |  SELECT DISTINCT CAST(s_nationkey AS BIGINT) AS src,
        |                  CAST(c_nationkey AS BIGINT) AS dst
        |  FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  WHERE s_nationkey <> c_nationkey),
        |outd AS (SELECT src, COUNT(*) AS od FROM edges GROUP BY src),
        |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes),
        |r1 AS (SELECT n.node,
        |         CAST(150000 + (85 * COALESCE(SUM(p.r // o.od), 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n
        |       LEFT JOIN edges e ON e.dst = n.node
        |       LEFT JOIN outd o ON o.src = e.src
        |       LEFT JOIN r0 p ON p.node = e.src
        |       GROUP BY n.node),
        |r2 AS (SELECT n.node,
        |         CAST(150000 + (85 * COALESCE(SUM(p.r // o.od), 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n
        |       LEFT JOIN edges e ON e.dst = n.node
        |       LEFT JOIN outd o ON o.src = e.src
        |       LEFT JOIN r1 p ON p.node = e.src
        |       GROUP BY n.node),
        |r3 AS (SELECT n.node,
        |         CAST(150000 + (85 * COALESCE(SUM(p.r // o.od), 0)) // 100 AS BIGINT) AS r
        |       FROM nodes n
        |       LEFT JOIN edges e ON e.dst = n.node
        |       LEFT JOIN outd o ON o.src = e.src
        |       LEFT JOIN r2 p ON p.node = e.src
        |       GROUP BY n.node)
        |SELECT n_name, r AS rank_e6
        |FROM r3 JOIN nation ON node = n_nationkey""".stripMargin,
    // the full-corpus rebuild: hash-equality against the Spark side's
    // base+delta extend IS the extend ≡ rebuild proof
    "d23_link_extend" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS src,
        |  CAST(c_nationkey AS BIGINT) AS dst, COUNT(*) AS n
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE s_nationkey <> c_nationkey
        |GROUP BY 1, 2
        |ORDER BY src, dst""".stripMargin,
    "t45_bpe_train" -> BpeOracleSql,
    "t46_bpe_fertility" -> BpeFertilityOracleSql,
    "t44_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
        |         COUNT(*) AS y
        |  FROM events GROUP BY event_type, day),
        |scored AS (
        |  SELECT event_type, day,
        |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS t,
        |         SUM(y) OVER (PARTITION BY event_type ORDER BY day) AS st,
        |         COUNT(*) OVER (PARTITION BY event_type) AS n,
        |         SUM(y) OVER (PARTITION BY event_type) AS sn
        |  FROM daily)
        |SELECT event_type, strftime(day, '%Y-%m-%d') AS split_day,
        |       CAST(ABS(st*(n-t) - (sn-st)*t) AS BIGINT) AS score
        |FROM scored WHERE t < n
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY event_type
        |  ORDER BY ABS(st*(n-t) - (sn-st)*t) DESC, t ASC) = 1""".stripMargin,
    "t42_k_anonymity" ->
      """SELECT c_mktsegment, c_nationkey,
        |       CAST(FLOOR(CAST(ROUND(c_acctbal*100) AS BIGINT) / 100000.0) AS BIGINT) AS bal_band,
        |       COUNT(*) AS n,
        |       CAST(COUNT(*) >= 5 AS INT) AS k_anonymous
        |FROM customer
        |GROUP BY c_mktsegment, c_nationkey, bal_band""".stripMargin,
    "t43_trend_slope" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         datediff('day', DATE '2024-01-01',
        |                  CAST(date_trunc('day', ts) AS DATE)) AS x,
        |         COUNT(*) AS y
        |  FROM events GROUP BY event_type, x),
        |m AS (SELECT event_type, COUNT(*) AS n_days, SUM(x) AS sx, SUM(y) AS sy,
        |             SUM(x*x) AS sxx, SUM(x*y) AS sxy
        |      FROM daily GROUP BY event_type)
        |SELECT event_type, n_days,
        |       CASE WHEN n_days*sxx - sx*sx = 0 THEN NULL
        |            ELSE CAST(FLOOR(1000000.0 * (n_days*sxy - sx*sy)
        |                            / (n_days*sxx - sx*sx)) AS BIGINT)
        |       END AS slope_e6
        |FROM m""".stripMargin,
    "d01_exact_dedup" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
        |FROM (SELECT doc_id, text FROM documents
        |      UNION ALL SELECT doc_id + 1000000, text FROM documents)
        |GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "d02_minhash_lsh" ->
      s"""$MinhashPairsSql
         |ORDER BY c.doc_a, c.doc_b""".stripMargin,
    // d02's verified pairs rolled up by source pair — the oracle nests
    // the whole pairs query as one CTE
    "d21_source_dup_matrix" ->
      s"""WITH pairs AS (
         |$MinhashPairsSql
         |)
         |SELECT da.source AS source_a, db.source AS source_b,
         |       COUNT(*) AS n_pairs
         |FROM pairs p
         |JOIN documents da ON p.doc_a = da.doc_id
         |JOIN documents db ON p.doc_b = db.doc_id
         |GROUP BY source_a, source_b""".stripMargin,
    // d02's band CTEs give the candidates, d04's inter/sz CTEs the
    // jaccard>=800 truth; the report is three scalar counts + guarded
    // integer rates
    "d16_lsh_eval" ->
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents WHERE doc_id % 2 = 0),
         |sh AS (SELECT doc_id, $Shingles3Sql AS s FROM ws),
         |ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |mh AS (SELECT doc_id, i, MIN(${h60("CAST(i AS VARCHAR)||':'||sh")}) AS mh
         |       FROM ex, range(12) t(i) GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // 3 AS band,
         |                 md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bh
         |          FROM mh GROUP BY doc_id, i // 3),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
         |inter AS (SELECT ea.doc_id AS doc_a, eb.doc_id AS doc_b, COUNT(*) AS inter_cnt
         |          FROM ex ea JOIN ex eb ON ea.sh = eb.sh AND ea.doc_id < eb.doc_id
         |          GROUP BY 1, 2),
         |tr AS (SELECT i.doc_a, i.doc_b FROM inter i
         |       JOIN sz sa ON sa.doc_id = i.doc_a
         |       JOIN sz sb ON sb.doc_id = i.doc_b
         |       WHERE 1000 * i.inter_cnt >= 800 * (sa.n + sb.n - i.inter_cnt)),
         |hit AS (SELECT t.doc_a FROM tr t
         |        JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b),
         |n AS (SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
         |             (SELECT COUNT(*) FROM tr) AS n_truth,
         |             (SELECT COUNT(*) FROM hit) AS n_hits)
         |SELECT CAST(n_candidates AS BIGINT) AS n_candidates,
         |       CAST(n_truth AS BIGINT) AS n_truth,
         |       CAST(n_hits AS BIGINT) AS n_hits,
         |       CAST(CASE WHEN n_candidates > 0
         |            THEN (1000 * n_hits) // n_candidates END AS BIGINT) AS precision_permille,
         |       CAST(CASE WHEN n_truth > 0
         |            THEN (1000 * n_hits) // n_truth END AS BIGINT) AS recall_permille
         |FROM n""".stripMargin,
    // delta dedup replay: d02's shingle/minhash/band CTEs over ALL docs,
    // the id-250 fence separating corpus from batch; rejections = exact
    // digest vs corpus, exact digest vs lower batch id, or a verified
    // (jaccard >= 800permille) LSH pair to corpus or to a lower batch id
    "d12_delta_dedup" ->
      s"""WITH corp AS (SELECT * FROM documents WHERE doc_id < 250),
         |nw AS (SELECT * FROM documents WHERE doc_id >= 250),
         |fpc AS (SELECT DISTINCT md5(text) AS fp FROM corp),
         |fpn AS (SELECT doc_id, md5(text) AS fp FROM nw),
         |exc AS (SELECT doc_id FROM fpn WHERE fp IN (SELECT fp FROM fpc)),
         |exw AS (SELECT f.doc_id FROM fpn f
         |        JOIN (SELECT fp, MIN(doc_id) AS m FROM fpn GROUP BY fp) g
         |          ON f.fp = g.fp AND f.doc_id > g.m),
         |ws AS (SELECT doc_id, $WsSql AS w FROM documents),
         |sh AS (SELECT doc_id, $Shingles3Sql AS s FROM ws),
         |ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |mh AS (SELECT doc_id, i, MIN(${h60("CAST(i AS VARCHAR)||':'||sh")}) AS mh
         |       FROM ex, range(12) t(i) GROUP BY doc_id, i),
         |bands AS (SELECT doc_id, i // 3 AS band,
         |                 md5(string_agg(CAST(mh AS VARCHAR), ',' ORDER BY i)) AS bh
         |          FROM mh GROUP BY doc_id, i // 3),
         |cand AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         |         FROM bands x JOIN bands y
         |           ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id
         |         WHERE y.doc_id >= 250),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
         |inter AS (SELECT ea.doc_id AS doc_a, eb.doc_id AS doc_b, COUNT(*) AS inter_cnt
         |          FROM ex ea JOIN ex eb ON ea.sh = eb.sh AND ea.doc_id < eb.doc_id
         |          GROUP BY 1, 2),
         |rejn AS (SELECT c.doc_b AS doc_id FROM cand c
         |         JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
         |         JOIN sz sa ON sa.doc_id = c.doc_a
         |         JOIN sz sb ON sb.doc_id = c.doc_b
         |         WHERE 1000 * i.inter_cnt >= 800 * (sa.n + sb.n - i.inter_cnt))
         |SELECT doc_id, source, n_chars FROM nw
         |WHERE doc_id NOT IN (SELECT doc_id FROM exc
         |                     UNION SELECT doc_id FROM exw
         |                     UNION SELECT doc_id FROM rejn)
         |ORDER BY doc_id""".stripMargin,
    "d03_simhash" ->
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents),
         |th AS (SELECT doc_id, list_transform(w, t -> ${h60("t")}) AS th FROM ws),
         |sims AS (SELECT doc_id, $SimhashSql AS sim FROM th)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sim AS sim_a, b.sim AS sim_b,
         |       CAST(bit_count(xor(a.sim, b.sim)) AS BIGINT) AS hamming
         |FROM sims a JOIN sims b
         |  ON a.doc_id < b.doc_id AND bit_count(xor(a.sim, b.sim)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d04_ngram_jaccard" ->
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents),
         |sh AS (SELECT doc_id, $Shingles3Sql AS s FROM ws),
         |ex AS (SELECT doc_id, unnest(s) AS sh FROM sh),
         |sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id),
         |inter AS (SELECT ea.doc_id AS doc_a, eb.doc_id AS doc_b, COUNT(*) AS inter_cnt
         |          FROM ex ea JOIN ex eb ON ea.sh = eb.sh AND ea.doc_id < eb.doc_id
         |          GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b, i.inter_cnt,
         |       sa.n + sb.n - i.inter_cnt AS union_cnt,
         |       (1000 * i.inter_cnt) // (sa.n + sb.n - i.inter_cnt) AS jac_permille
         |FROM inter i
         |JOIN sz sa ON sa.doc_id = i.doc_a
         |JOIN sz sb ON sb.doc_id = i.doc_b
         |WHERE 1000 * i.inter_cnt >= 500 * (sa.n + sb.n - i.inter_cnt)
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d05_embedding_neardup" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |       ${cosE6Sql("a.embedding", "b.embedding")} AS cos_e6
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${cosE6Sql("a.embedding", "b.embedding")} >= 400000
         |ORDER BY id_a, id_b""".stripMargin,
    "d06_dedup_components" ->
      s"""$componentsCteSql
         |SELECT doc_id, component FROM comp""".stripMargin,
    // the grid bucketing is a pure optimization with exact recall, so the
    // definitional check is the brute-force cross join
    "d17_semantic_contamination" ->
      s"""SELECT a.vec_id AS train_id, b.vec_id AS eval_id,
         |       ${cosE6Sql("a.embedding", "b.embedding")} AS cos_e6
         |FROM embeddings a JOIN embeddings b
         |  ON a.vec_id >= 100 AND b.vec_id < 100
         |WHERE ${cosE6Sql("a.embedding", "b.embedding")} >= 400000
         |ORDER BY train_id, eval_id""".stripMargin,
    // cluster-size distribution over the same components closure
    "d13_component_sizes" ->
      s"""$componentsCteSql,
         |cs AS (SELECT component, CAST(COUNT(*) AS BIGINT) AS csize
         |       FROM comp GROUP BY component)
         |SELECT csize, CAST(COUNT(*) AS BIGINT) AS n_components
         |FROM cs GROUP BY csize ORDER BY csize""".stripMargin,
    // rebuilds the ENTIRE model in SQL: same tokenization, same bigram
    // join, same two-level md5 slot/weight derivation, same integer
    // decision rule — a hash-green run proves model application is
    // bit-reproducible outside the JVM
    "t28_model_filter" ->
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents),
         |f AS (SELECT doc_id, list_concat(w,
         |        list_transform(range(GREATEST(len(w) - 1, 0)),
         |                       i -> w[i + 1] || ' ' || w[i + 2])) AS fs
         |      FROM ws),
         |s AS (SELECT doc_id, CAST(len(fs) AS BIGINT) AS n_features,
         |        CAST(COALESCE(list_sum(list_transform(fs, x ->
         |          ${h60(s"CAST(${h60("x")} % 65536 AS VARCHAR)")} % 2001 - 1000)), 0)
         |          AS BIGINT) AS score_sum
         |      FROM f)
         |SELECT doc_id, n_features, score_sum,
         |       CAST(score_sum >= 0 AS BIGINT) AS keep
         |FROM s ORDER BY doc_id""".stripMargin,
    // deliberately all-pairs in DuckDB: the oracle must not share the
    // Spark side's blocking, or a recall bug in the deletion index would
    // be invisible
    "d14_fuzzy_er" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        |       CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,
    // full BM25 replay: same tokenizer, same Lucene-variant idf, identical
    // IEEE association (every constant an exact decimal), per-term
    // contributions micro-rounded BEFORE the per-(query, doc) sum so both
    // engines add the same exact longs in any order
    "s07_bm25_search" -> bm25OracleSql,
    // the served path probes a persisted inverted index holding the SAME
    // counts s07 derives per-scan, so one oracle covers both — drift
    // between the kernel-counted and posting-list layouts breaks this hash
    "s08_bm25_served" -> bm25OracleSql,
    // rebuilds the bigram model in SQL: same pair strings (space-joined,
    // unambiguous — tokens cannot contain the joiner), same left-context
    // normalizer (Σ over the context's bigram counts), same add-half
    // smoothing, per-bigram log-probs micro-rounded before the doc sum;
    // docs with < 2 tokens surface as (0, 0) via the left join
    "t29_lm_score" ->
      s"""WITH d AS (SELECT doc_id, $WsSql AS w FROM documents),
         |bg AS (SELECT doc_id, unnest(list_transform(range(GREATEST(len(w) - 1, 0)),
         |                      i -> w[i + 1] || ' ' || w[i + 2])) AS pair FROM d),
         |v AS (SELECT COUNT(DISTINCT tok) AS v_size
         |      FROM (SELECT unnest(w) AS tok FROM d)),
         |cb AS (SELECT pair, COUNT(*) AS c_big FROM bg GROUP BY pair),
         |cx AS (SELECT string_split(pair, ' ')[1] AS w1, CAST(SUM(c_big) AS BIGINT) AS c_ctx
         |       FROM cb GROUP BY 1),
         |sc AS (SELECT bg.doc_id,
         |        CAST(ROUND(1e6 * ln((cb.c_big + 0.5) / (cx.c_ctx + 0.5 * v.v_size)))
         |          AS BIGINT) AS logp_e6
         |       FROM bg JOIN cb USING (pair)
         |       JOIN cx ON cx.w1 = string_split(bg.pair, ' ')[1]
         |       CROSS JOIN v),
         |ag AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         |        CAST(SUM(logp_e6) AS BIGINT) AS sum_logp_e6 FROM sc GROUP BY doc_id)
         |SELECT d2.doc_id, COALESCE(ag.n_bigrams, 0) AS n_bigrams,
         |       COALESCE(ag.sum_logp_e6, 0) AS sum_logp_e6
         |FROM documents d2 LEFT JOIN ag USING (doc_id) ORDER BY d2.doc_id""".stripMargin,
    // replays the k-min arrays (DISTINCT + window rank), the pairwise
    // merged-array union estimator (list concat/distinct/sort, same
    // saturation boundary: < k exact, = k estimator), and the exact
    // audit joins — bit-for-bit with Spark's array kmv algebra
    "t31_kmv_overlap" ->
      s"""WITH ws AS (SELECT source, $WsSql AS w FROM documents),
         |t AS (SELECT source, unnest(w) AS tok FROM ws),
         |ex AS (SELECT DISTINCT source, tok FROM t),
         |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nd FROM ex GROUP BY source),
         |hs AS (SELECT DISTINCT source, ('0x'||substr(md5(tok),1,15))::BIGINT // 4096 AS h48 FROM t),
         |r AS (SELECT source, h48, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h48) AS rn FROM hs),
         |m AS (SELECT source, list(h48 ORDER BY h48) AS mins FROM r WHERE rn <= 16 GROUP BY source),
         |es AS (SELECT source, mins,
         |         CAST(CASE WHEN len(mins) < 16 THEN len(mins)
         |              ELSE 4222124650659840 // mins[16] END AS BIGINT) AS est FROM m),
         |ij AS (SELECT a.source AS source_a, b.source AS source_b,
         |         CAST(COUNT(*) AS BIGINT) AS exact_inter
         |       FROM ex a JOIN ex b ON a.tok = b.tok AND a.source < b.source GROUP BY 1, 2),
         |p AS (SELECT a.source AS source_a, b.source AS source_b,
         |         a.est AS est_a, b.est AS est_b,
         |         list_sort(list_distinct(list_concat(a.mins, b.mins))) AS mu
         |       FROM es a JOIN es b ON a.source < b.source),
         |u AS (SELECT source_a, source_b, est_a, est_b,
         |         CAST(CASE WHEN len(mu) < 16 THEN len(mu)
         |              ELSE 4222124650659840 // mu[16] END AS BIGINT) AS est_union
         |       FROM p)
         |SELECT u.source_a, u.source_b, u.est_a, u.est_b, u.est_union,
         |       GREATEST(0, u.est_a + u.est_b - u.est_union) AS est_inter,
         |       na.nd + nb.nd - COALESCE(ij.exact_inter, 0) AS exact_union,
         |       COALESCE(ij.exact_inter, 0) AS exact_inter
         |FROM u
         |JOIN nd na ON na.source = u.source_a
         |JOIN nd nb ON nb.source = u.source_b
         |LEFT JOIN ij ON ij.source_a = u.source_a AND ij.source_b = u.source_b
         |ORDER BY u.source_a, u.source_b""".stripMargin,
    // t29's model CTEs restricted to the even-id half, applied to the
    // odd-id half — an OOV (never-fit) bigram must drop on BOTH sides,
    // so a hash-green run proves the inner-join OOV semantics too
    "t30_lm_heldout" ->
      s"""WITH tr AS (SELECT doc_id, $WsSql AS w FROM documents WHERE doc_id % 2 = 0),
         |ev AS (SELECT doc_id, $WsSql AS w FROM documents WHERE doc_id % 2 = 1),
         |bgt AS (SELECT unnest(list_transform(range(GREATEST(len(w) - 1, 0)),
         |                       i -> w[i + 1] || ' ' || w[i + 2])) AS pair FROM tr),
         |v AS (SELECT COUNT(DISTINCT tok) AS v_size
         |      FROM (SELECT unnest(w) AS tok FROM tr)),
         |cb AS (SELECT pair, COUNT(*) AS c_big FROM bgt GROUP BY pair),
         |cx AS (SELECT string_split(pair, ' ')[1] AS w1, CAST(SUM(c_big) AS BIGINT) AS c_ctx
         |       FROM cb GROUP BY 1),
         |bge AS (SELECT doc_id, unnest(list_transform(range(GREATEST(len(w) - 1, 0)),
         |                       i -> w[i + 1] || ' ' || w[i + 2])) AS pair FROM ev),
         |sc AS (SELECT bge.doc_id,
         |        CAST(ROUND(1e6 * ln((cb.c_big + 0.5) / (cx.c_ctx + 0.5 * v.v_size)))
         |          AS BIGINT) AS logp_e6
         |       FROM bge JOIN cb USING (pair)
         |       JOIN cx ON cx.w1 = string_split(bge.pair, ' ')[1]
         |       CROSS JOIN v),
         |ag AS (SELECT doc_id, COUNT(*) AS n_bigrams,
         |        CAST(SUM(logp_e6) AS BIGINT) AS sum_logp_e6 FROM sc GROUP BY doc_id)
         |SELECT e.doc_id, COALESCE(ag.n_bigrams, 0) AS n_bigrams,
         |       COALESCE(ag.sum_logp_e6, 0) AS sum_logp_e6
         |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) e
         |LEFT JOIN ag USING (doc_id) ORDER BY e.doc_id""".stripMargin,
    // all-integer replay: micro-rounded components, floor-divided per-label
    // per-dimension means (the IVF fit's convention), exact long squared
    // distances — the one *_e6 family query with NO transcendental anywhere
    "d15_label_outliers" ->
      """WITH e AS (SELECT vec_id, label, embedding AS v FROM embeddings),
        |x AS (SELECT vec_id, label, CAST(i AS INTEGER) AS i,
        |        CAST(ROUND(v[i + 1]::DOUBLE * 1e6) AS BIGINT) AS xe
        |      FROM (SELECT vec_id, label, unnest(range(len(v))) AS i, v FROM e)),
        |cent AS (SELECT label, i,
        |        CAST(FLOOR(CAST(SUM(xe) AS DOUBLE) / COUNT(*)) AS BIGINT) AS c
        |      FROM x GROUP BY label, i),
        |d2 AS (SELECT x.vec_id, x.label,
        |        CAST(SUM((x.xe - cent.c) * (x.xe - cent.c)) AS BIGINT) AS d2_e12
        |      FROM x JOIN cent ON x.label = cent.label AND x.i = cent.i
        |      GROUP BY x.vec_id, x.label),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY label
        |        ORDER BY d2_e12 DESC, vec_id) AS rank FROM d2)
        |SELECT label, CAST(rank AS INTEGER) AS rank, vec_id, d2_e12
        |FROM r WHERE rank <= 5 ORDER BY label, rank""".stripMargin,
    "d09_dedup_keep_longest" ->
      s"""$componentsCteSql,
         |tl AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens FROM ws),
         |j AS (SELECT c.doc_id, c.component, tl.n_tokens
         |      FROM comp c JOIN tl ON tl.doc_id = c.doc_id)
         |SELECT component, doc_id AS kept_doc_id, n_tokens AS kept_score FROM (
         |  SELECT j.*, ROW_NUMBER() OVER (PARTITION BY component
         |    ORDER BY n_tokens DESC, doc_id) AS rn FROM j) WHERE rn = 1
         |ORDER BY component""".stripMargin,
    "m04_audio_stats" ->
      """WITH p AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS nb FROM documents),
        |b AS (SELECT doc_id, kind, nb,
        |    CASE WHEN nb >= 1 THEN (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
        |                         + (strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1)
        |         ELSE 0 END AS b0,
        |    CASE WHEN nb >= 2 THEN (strpos('0123456789ABCDEF', substr(h, 3, 1)) - 1) * 16
        |                         + (strpos('0123456789ABCDEF', substr(h, 4, 1)) - 1)
        |         ELSE 0 END AS b1 FROM p)
        |SELECT doc_id, kind,
        |       CAST(CASE WHEN kind = 'audio' THEN nb * 4 ELSE 0 END AS BIGINT) AS n_samples,
        |       CAST(CASE WHEN kind = 'audio' THEN (nb * 4 * 1000) // 16000 ELSE 0 END AS BIGINT) AS duration_ms,
        |       CAST(CASE WHEN kind = 'audio' THEN (b0 * 7 + b1 * 13 + nb) % 1000 ELSE 0 END AS BIGINT) AS rms_permille
        |FROM b ORDER BY doc_id""".stripMargin,
    // containment = fraction of the eval doc's distinct shingles found in
    // the train doc; shingle identity joined on the strings (Spark joins
    // the 60-bit hashes — identical modulo md5 collisions, as in d04/d06)
    "d08_contamination" ->
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents),
         |sh AS (SELECT doc_id, $Shingles3Sql AS s FROM ws),
         |tex AS (SELECT doc_id AS train_id, unnest(s) AS sh FROM sh),
         |esh AS (SELECT doc_id + 2000000 AS eval_id, s FROM sh WHERE doc_id % 10 = 0),
         |esz AS (SELECT eval_id, CAST(len(s) AS BIGINT) AS n_ev FROM esh WHERE len(s) > 0),
         |eex AS (SELECT eval_id, unnest(s) AS sh FROM esh),
         |inter AS (SELECT train_id, eval_id, COUNT(*) AS inter_cnt
         |          FROM tex JOIN eex USING (sh) GROUP BY 1, 2)
         |SELECT train_id, eval_id, inter_cnt,
         |       CAST((1000 * inter_cnt) // n_ev AS BIGINT) AS containment_permille
         |FROM inter JOIN esz USING (eval_id)
         |WHERE (1000 * inter_cnt) // n_ev >= 500
         |ORDER BY train_id, eval_id""".stripMargin,
    // the capped variant reproduces the hot-shingle drop: train-side
    // shingles with df > 4 leave the index before the join, so inter_cnt
    // (and thus containment) under-counts exactly as the engine does
    "d10_contamination_capped" ->
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents),
         |sh AS (SELECT doc_id, $Shingles3Sql AS s FROM ws),
         |tex AS (SELECT doc_id AS train_id, unnest(s) AS sh FROM sh),
         |tdf AS (SELECT sh FROM tex GROUP BY sh HAVING COUNT(*) <= 4),
         |texc AS (SELECT train_id, sh FROM tex JOIN tdf USING (sh)),
         |esh AS (SELECT doc_id + 2000000 AS eval_id, s FROM sh WHERE doc_id % 10 = 0),
         |esz AS (SELECT eval_id, CAST(len(s) AS BIGINT) AS n_ev FROM esh WHERE len(s) > 0),
         |eex AS (SELECT eval_id, unnest(s) AS sh FROM esh),
         |inter AS (SELECT train_id, eval_id, COUNT(*) AS inter_cnt
         |          FROM texc JOIN eex USING (sh) GROUP BY 1, 2)
         |SELECT train_id, eval_id, inter_cnt,
         |       CAST((1000 * inter_cnt) // n_ev AS BIGINT) AS containment_permille
         |FROM inter JOIN esz USING (eval_id)
         |WHERE (1000 * inter_cnt) // n_ev >= 100
         |ORDER BY train_id, eval_id""".stripMargin,
    "t07_pack_chunks" ->
      s"""WITH ws AS (SELECT doc_id, source, CAST(len($WsSql) AS BIGINT) AS n_tokens
         |            FROM documents),
         |o AS (SELECT doc_id, source, n_tokens,
         |             CAST(COALESCE(SUM(n_tokens) OVER (
         |               PARTITION BY source ORDER BY doc_id
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
         |               AS token_offset
         |      FROM ws)
         |SELECT doc_id, source, n_tokens, token_offset,
         |       CAST(token_offset // 2048 AS BIGINT) AS chunk_id
         |FROM o ORDER BY doc_id""".stripMargin,
    "t08_vocab_topk" ->
      s"""WITH ws AS (SELECT $WsSql AS w FROM documents),
         |t AS (SELECT unnest(w) AS token FROM ws)
         |SELECT token, COUNT(*) AS n_occurrences
         |FROM t GROUP BY token
         |ORDER BY n_occurrences DESC, token LIMIT 50""".stripMargin,
    // adjacent pairs by position (scalar range + 1-indexed list access —
    // generate_series can't lateral-join a column), multiset counts
    "t22_bpe_pairs" ->
      s"""WITH ws AS (SELECT $WsSql AS w FROM documents),
         |p AS (SELECT unnest(list_transform(range(GREATEST(len(w) - 1, 0)),
         |                    i -> w[i + 1] || ' ' || w[i + 2])) AS pair
         |      FROM ws)
         |SELECT pair, COUNT(*) AS n_occurrences
         |FROM p GROUP BY pair
         |ORDER BY n_occurrences DESC, pair LIMIT 30""".stripMargin,
    // window novelty: the same planted tail, 8-token windows by position
    // (t24's slice idiom), distinct/total per doc; short docs (< 8
    // tokens) have no windows and score the fully-novel 1000
    "t23_compress_ratio" ->
      s"""WITH base AS (SELECT doc_id,
         |        CASE WHEN doc_id % 3 = 0 THEN text || ' ' || repeat('lorem ipsum ', 40)
         |             ELSE text END AS text
         |      FROM documents),
         |ws AS (SELECT doc_id, $WsSql AS w FROM base),
         |g AS (SELECT doc_id, unnest(list_transform(range(GREATEST(len(w) - 7, 0)),
         |                    i -> array_to_string(w[i+1:i+8], ' '))) AS g8
         |      FROM ws),
         |a AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_windows,
         |             CAST(COUNT(DISTINCT g8) AS BIGINT) AS n_distinct
         |      FROM g GROUP BY 1)
         |SELECT ws.doc_id,
         |       CAST(COALESCE(n_windows, 0) AS BIGINT) AS n_windows,
         |       CAST(COALESCE(n_distinct, 0) AS BIGINT) AS n_distinct,
         |       CAST(CASE WHEN COALESCE(n_windows, 0) = 0 THEN 1000
         |                 ELSE (1000 * n_distinct) // n_windows END AS BIGINT)
         |         AS novelty_permille
         |FROM ws LEFT JOIN a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // window-hash span replay: 8-token windows by position, hot-hash
    // semi-join, gaps-and-islands merge (lag + running sum) per doc
    "t24_dup_spans" ->
      s"""WITH base AS (SELECT doc_id,
         |        CASE WHEN doc_id % 4 = 0 THEN text || ' this work is licensed for research evaluation use only under the sample terms'
         |             ELSE text END AS text
         |      FROM documents),
         |ws AS (SELECT doc_id, $WsSql AS w FROM base),
         |wins AS (SELECT doc_id, unnest(range(GREATEST(len(w) - 7, 0))) AS pos, w FROM ws),
         |wh AS (SELECT doc_id, pos,
         |        ${h60("array_to_string(w[pos+1:pos+8], ' ')")} AS h
         |      FROM wins),
         |hot AS (SELECT h FROM wh GROUP BY h HAVING COUNT(*) >= 2),
         |dup AS (SELECT doc_id, pos FROM wh WHERE h IN (SELECT h FROM hot)),
         |marks AS (SELECT doc_id, pos,
         |        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
         |               OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + 8
         |             THEN 1 ELSE 0 END AS nw
         |      FROM dup),
         |grp AS (SELECT doc_id, pos,
         |        SUM(nw) OVER (PARTITION BY doc_id ORDER BY pos) AS g FROM marks)
         |SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start,
         |       CAST(MAX(pos) + 7 AS BIGINT) AS span_end,
         |       COUNT(*) AS n_windows
         |FROM grp GROUP BY doc_id, g
         |ORDER BY doc_id, span_start""".stripMargin,
    // same window CTEs as t24; coverage = any dup window whose [pos,pos+7]
    // contains the token index, kept tokens re-joined ordered by position
    "t27_span_scrub" ->
      s"""WITH base AS (SELECT doc_id,
         |        CASE WHEN doc_id % 4 = 0 THEN text || ' this work is licensed for research evaluation use only under the sample terms'
         |             ELSE text END AS text
         |      FROM documents),
         |ws AS (SELECT doc_id, $WsSql AS w FROM base),
         |wins AS (SELECT doc_id, unnest(range(GREATEST(len(w) - 7, 0))) AS pos, w FROM ws),
         |wh AS (SELECT doc_id, pos,
         |        ${h60("array_to_string(w[pos+1:pos+8], ' ')")} AS h
         |      FROM wins),
         |hot AS (SELECT h FROM wh GROUP BY h HAVING COUNT(*) >= 2),
         |dup AS (SELECT doc_id, pos FROM wh WHERE h IN (SELECT h FROM hot)),
         |toks AS (SELECT doc_id, unnest(range(len(w))) AS i, w FROM ws),
         |kept AS (SELECT t.doc_id, t.i, t.w[t.i + 1] AS tok FROM toks t
         |         WHERE NOT EXISTS (SELECT 1 FROM dup d
         |                WHERE d.doc_id = t.doc_id AND t.i BETWEEN d.pos AND d.pos + 7)),
         |o AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean_text,
         |             COUNT(*) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT ws.doc_id, COALESCE(o.clean_text, '') AS clean_text,
         |       CAST(COALESCE(o.n_kept, 0) AS BIGINT) AS n_kept,
         |       CAST(len(ws.w) - COALESCE(o.n_kept, 0) AS BIGINT) AS n_dropped
         |FROM ws LEFT JOIN o ON o.doc_id = ws.doc_id
         |ORDER BY ws.doc_id""".stripMargin,
    // count-min grid replay: every (seed, bucket) counter via GROUP BY,
    // probe top-20 exact tokens, estimate = min over the 4 seeds
    "t25_cms_heavy" ->
      s"""WITH ws AS (SELECT $WsSql AS w FROM documents),
         |t AS (SELECT unnest(w) AS token FROM ws),
         |cnt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS exact_count
         |        FROM t GROUP BY token),
         |probes AS (SELECT token, exact_count FROM cnt
         |           ORDER BY exact_count DESC, token LIMIT 20),
         |grid AS (SELECT r.i AS i,
         |        ${h60("CAST(r.i AS VARCHAR)||':'||t.token")} % 512 AS b,
         |        CAST(COUNT(*) AS BIGINT) AS c
         |      FROM t, range(4) r(i) GROUP BY 1, 2),
         |pb AS (SELECT p.token, p.exact_count, r.i AS i,
         |        ${h60("CAST(r.i AS VARCHAR)||':'||p.token")} % 512 AS b
         |      FROM probes p, range(4) r(i))
         |SELECT pb.token, pb.exact_count, CAST(MIN(g.c) AS BIGINT) AS cms_count
         |FROM pb JOIN grid g ON g.i = pb.i AND g.b = pb.b
         |GROUP BY pb.token, pb.exact_count
         |ORDER BY pb.exact_count DESC, pb.token""".stripMargin,
    // the jsonl hop is Spark-side only; the oracle digests the parquet
    // directly — equality proves the roundtrip lost nothing and the
    // planted corrupt line was dropped
    "t26_jsonl_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the same whitespace/BPE-regex token rules as t01, grouped; ratios
    // in guarded integer permille
    "t41_lang_fertility" ->
      s"""WITH m AS (SELECT lang, length(text) AS nc,
         |        len($WsSql) AS nt,
         |        len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS nb
         |      FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |       CAST(SUM(nc) AS BIGINT) AS n_chars,
         |       CAST(SUM(nt) AS BIGINT) AS n_tokens,
         |       CAST(SUM(nb) AS BIGINT) AS n_bpe_tokens,
         |       CAST(1000 * SUM(nc) // GREATEST(SUM(nt), 1) AS BIGINT)
         |         AS chars_per_token_permille,
         |       CAST(1000 * SUM(nb) // GREATEST(SUM(nt), 1) AS BIGINT)
         |         AS bpe_per_token_permille
         |FROM m GROUP BY lang ORDER BY lang""".stripMargin,
    // roundtrip identity: the csv hop must reproduce the parquet rows
    "t40_csv_roundtrip" ->
      """SELECT doc_id, lang, source, n_chars, md5(text) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    // grouped KMV replay: k smallest distinct 48-bit hashes per source
    // via window rank; 4222124650659840 = 15 * 2^48 (the k=16 estimator
    // numerator, precomputed so the math stays in exact BIGINT)
    "t21_source_vocab_sketch" ->
      s"""WITH ws AS (SELECT source, $WsSql AS w FROM documents),
         |t AS (SELECT source, unnest(w) AS tok FROM ws),
         |hs AS (SELECT DISTINCT source,
         |         ('0x'||substr(md5(tok),1,15))::BIGINT // 4096 AS h48 FROM t),
         |r AS (SELECT source, h48,
         |        ROW_NUMBER() OVER (PARTITION BY source ORDER BY h48) AS rn FROM hs),
         |m AS (SELECT source, MAX(h48) AS hk, CAST(COUNT(*) AS BIGINT) AS kk
         |      FROM r WHERE rn <= 16 GROUP BY source),
         |e AS (SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
         |      FROM t GROUP BY source)
         |SELECT m.source,
         |       CAST(CASE WHEN kk < 16 THEN kk ELSE 4222124650659840 // hk END
         |         AS BIGINT) AS est_distinct,
         |       e.exact_distinct
         |FROM m JOIN e ON m.source = e.source ORDER BY m.source""".stripMargin,
    // repetition counts by exact n-gram STRING (no hashing), so the
    // unnest -> GROUP BY route reproduces the one-pass kernel verbatim;
    // docs shorter than n tokens contribute [0,0,0] via the LEFT JOIN
    "t09_repetition" ->
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents),
         |g1 AS (SELECT doc_id, unnest(w) AS g FROM ws),
         |c1 AS (SELECT doc_id, g, COUNT(*) AS c FROM g1 GROUP BY 1, 2),
         |a1 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t1, CAST(COUNT(*) AS BIGINT) AS d1,
         |               CAST(MAX(c) AS BIGINT) AS m1 FROM c1 GROUP BY 1),
         |g3 AS (SELECT doc_id, unnest(list_transform(range(greatest(len(w)-2, 0)),
         |                                            i -> w[i+1]||' '||w[i+2]||' '||w[i+3])) AS g FROM ws),
         |c3 AS (SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2),
         |a3 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t3, CAST(COUNT(*) AS BIGINT) AS d3,
         |               CAST(MAX(c) AS BIGINT) AS m3 FROM c3 GROUP BY 1)
         |SELECT ws.doc_id,
         |       CAST(COALESCE(t1, 0) AS BIGINT) AS n_words,
         |       CAST(CASE WHEN COALESCE(t1, 0) > 0 THEN (1000 * (t1 - d1)) // t1 ELSE 0 END AS BIGINT) AS dup_word_permille,
         |       CAST(CASE WHEN COALESCE(t1, 0) > 0 THEN (1000 * m1) // t1 ELSE 0 END AS BIGINT) AS top_word_permille,
         |       CAST(CASE WHEN COALESCE(t3, 0) > 0 THEN (1000 * (t3 - d3)) // t3 ELSE 0 END AS BIGINT) AS dup_3gram_permille,
         |       CAST(CASE WHEN COALESCE(t3, 0) > 0 THEN (1000 * m3) // t3 ELSE 0 END AS BIGINT) AS top_3gram_permille
         |FROM ws LEFT JOIN a1 USING (doc_id) LEFT JOIN a3 USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // mixture copies: rate DIV 1000 guaranteed replicas + one more when
    // the frozen-v1 salted slot ('mix:'||key) lands under rate MOD 1000
    "t10_mixture_sample" ->
      s"""WITH c AS (SELECT doc_id, source,
         |  CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 1000 WHEN 'src2' THEN 500
         |              WHEN 'src3' THEN 0 ELSE 250 END AS rate,
         |  ${h60("'mix:'||CAST(doc_id AS VARCHAR)")} % 1000 AS slot FROM documents),
         |k AS (SELECT doc_id, source,
         |             rate // 1000 + CASE WHEN slot < rate % 1000 THEN 1 ELSE 0 END AS copies FROM c)
         |SELECT doc_id, source, CAST(unnest(range(copies)) AS BIGINT) AS copy
         |FROM k WHERE copies > 0 ORDER BY doc_id, copy""".stripMargin,
    // same planted 6:1:1 skew (doc_id % 4 / % 2 arithmetic); the rate fit
    // replayed in SQL: w = floor(sqrt(count)) per source (≡ exact isqrt
    // at these counts), rate = 1000*w*N // (Σw*n) in pure integer math;
    // then t10's hash-slot resample with the fitted rates
    "t18_temperature_mixture" ->
      s"""WITH m AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 < 3 THEN 'bulk'
         |       ELSE 'rare' || CAST(doc_id % 2 AS VARCHAR) END AS mix_src
         |  FROM documents),
         |n AS (SELECT mix_src, CAST(COUNT(*) AS BIGINT) AS cnt FROM m GROUP BY mix_src),
         |w AS (SELECT mix_src, cnt, CAST(FLOOR(SQRT(cnt)) AS BIGINT) AS wt FROM n),
         |tot AS (SELECT SUM(cnt) AS nn, SUM(wt) AS ww FROM w),
         |r AS (SELECT mix_src, CAST((1000 * wt * nn) // (ww * cnt) AS BIGINT) AS rate
         |      FROM w, tot),
         |c AS (SELECT m.doc_id, m.mix_src, r.rate,
         |             ${h60("'mix:'||CAST(doc_id AS VARCHAR)")} % 1000 AS slot
         |      FROM m JOIN r USING (mix_src)),
         |k AS (SELECT doc_id, mix_src,
         |             CAST(rate // 1000 + CASE WHEN slot < rate % 1000 THEN 1 ELSE 0 END
         |               AS BIGINT) AS copies FROM c)
         |SELECT doc_id, mix_src, CAST(unnest(range(copies)) AS BIGINT) AS copy
         |FROM k WHERE copies > 0 ORDER BY doc_id, copy""".stripMargin,
    // breakpoints replay the q28/q30 definitional rank rule over the t03
    // quality score; bucket = breakpoints strictly below the row's value
    "t12_quality_buckets" -> {
      val allStops = TextFunctions.langProfiles.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString(",")
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents),
         |m AS (SELECT doc_id,
         |        CAST(len(w) AS BIGINT) AS n_tokens,
         |        (1000 * len(list_filter(w, t -> list_contains([$allStops], t))))
         |          // greatest(len(w), 1) AS stop_permille,
         |        (1000 * len(list_filter(w, t -> regexp_matches(t, '^[a-z]+$$'))))
         |          // greatest(len(w), 1) AS alpha_permille
         |      FROM ws),
         |q AS (SELECT doc_id,
         |        CAST(CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 500 ELSE 0 END
         |             + stop_permille // 2 + alpha_permille // 4 AS BIGINT) AS quality
         |      FROM m),
         |h AS (SELECT quality, COUNT(*) AS cnt FROM q GROUP BY 1),
         |w2 AS (SELECT quality,
         |         CAST(SUM(cnt) OVER (ORDER BY quality) AS BIGINT) AS cum,
         |         CAST(SUM(cnt) OVER () AS BIGINT) AS n
         |       FROM h),
         |bp AS (SELECT
         |         MIN(CASE WHEN cum > (250*(n-1))//1000 THEN quality END) AS b1,
         |         MIN(CASE WHEN cum > (500*(n-1))//1000 THEN quality END) AS b2,
         |         MIN(CASE WHEN cum > (750*(n-1))//1000 THEN quality END) AS b3
         |       FROM w2)
         |SELECT q.doc_id, q.quality,
         |       CAST((CASE WHEN q.quality > b1 THEN 1 ELSE 0 END
         |           + CASE WHEN q.quality > b2 THEN 1 ELSE 0 END
         |           + CASE WHEN q.quality > b3 THEN 1 ELSE 0 END) AS BIGINT) AS bucket
         |FROM q, bp ORDER BY q.doc_id""".stripMargin
    },
    // same t03 quality derivation; the selection replays as the global
    // prefix window the operator's localized form is provably equal to
    "t32_token_budget" -> {
      val allStops = TextFunctions.langProfiles.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString(",")
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents),
         |m AS (SELECT doc_id,
         |        CAST(len(w) AS BIGINT) AS n_tokens,
         |        (1000 * len(list_filter(w, t -> list_contains([$allStops], t))))
         |          // greatest(len(w), 1) AS stop_permille,
         |        (1000 * len(list_filter(w, t -> regexp_matches(t, '^[a-z]+$$'))))
         |          // greatest(len(w), 1) AS alpha_permille
         |      FROM ws),
         |q AS (SELECT doc_id,
         |        CAST(CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 500 ELSE 0 END
         |             + stop_permille // 2 + alpha_permille // 4 AS BIGINT) AS quality,
         |        n_tokens
         |      FROM m),
         |b AS (SELECT CAST(SUM(n_tokens) // 2 AS BIGINT) AS budget FROM q),
         |c AS (SELECT doc_id, quality, n_tokens,
         |        SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS cum
         |      FROM q)
         |SELECT doc_id, quality, n_tokens FROM c, b
         |WHERE cum <= budget ORDER BY doc_id""".stripMargin
    },
    // ivf side = the s02/s05 oracle pipeline, truth side = the s01 brute
    // pipeline; recall = exact pair-set intersection
    "s12_ann_recall" ->
      s"""WITH ${ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7)},
         |probes AS (SELECT query_id, qv, cell FROM (
         |          SELECT q.vec_id AS query_id, q.v AS qv, c.cid AS cell,
         |                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |                   ORDER BY ${cosWSql("q.v", "c.cv")} DESC, c.cid) AS rn
         |          FROM e q, c2 c WHERE q.vec_id < 20) WHERE rn <= 2),
         |scored AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |                  ${cosE6Sql("p.qv", "a.v")} AS ce
         |           FROM probes p JOIN asg a ON p.cell = a.cell AND p.query_id <> a.vec_id),
         |ir AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY ce DESC, neighbor_id) AS rank FROM scored),
         |iv AS (SELECT query_id, neighbor_id FROM ir WHERE rank <= 5),
         |bs AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |              ${cosE6Sql("q.v", "x.v")} AS ce
         |       FROM e q JOIN e x ON x.vec_id <> q.vec_id WHERE q.vec_id < 20),
         |br AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY ce DESC, neighbor_id) AS rank FROM bs),
         |tv AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5),
         |agg AS (SELECT
         |  CAST((SELECT COUNT(DISTINCT query_id) FROM tv) AS BIGINT) AS n_queries,
         |  CAST((SELECT COUNT(*) FROM tv) AS BIGINT) AS n_truth,
         |  CAST((SELECT COUNT(*) FROM iv JOIN tv USING (query_id, neighbor_id)) AS BIGINT) AS n_hits)
         |SELECT n_queries, n_truth, n_hits,
         |       CAST((1000 * n_hits) // n_truth AS BIGINT) AS recall_permille
         |FROM agg""".stripMargin,
    // the s12 replay with the probe ROW_NUMBER kept as the cell rank and
    // a levels table joined in: level ℓ's approximate top-k reads the
    // same scored CTE filtered to rn <= ℓ — the prefix-consistency the
    // Spark operator leans on, spelled out in SQL
    "s15_recall_sweep" ->
      s"""WITH ${ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7)},
         |lv AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS nprobe),
         |probes AS (SELECT query_id, qv, cell, rn FROM (
         |          SELECT q.vec_id AS query_id, q.v AS qv, c.cid AS cell,
         |                 ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |                   ORDER BY ${cosWSql("q.v", "c.cv")} DESC, c.cid) AS rn
         |          FROM e q, c2 c WHERE q.vec_id < 20) WHERE rn <= 16),
         |scored AS (SELECT p.query_id, p.rn, a.vec_id AS neighbor_id,
         |                  ${cosE6Sql("p.qv", "a.v")} AS ce
         |           FROM probes p JOIN asg a ON p.cell = a.cell AND p.query_id <> a.vec_id),
         |iv AS (SELECT nprobe, query_id, neighbor_id FROM (
         |          SELECT l.nprobe, s.query_id, s.neighbor_id,
         |                 ROW_NUMBER() OVER (PARTITION BY l.nprobe, s.query_id
         |                   ORDER BY s.ce DESC, s.neighbor_id) AS rank
         |          FROM lv l JOIN scored s ON s.rn <= l.nprobe) WHERE rank <= 5),
         |bs AS (SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
         |              ${cosE6Sql("q.v", "x.v")} AS ce
         |       FROM e q JOIN e x ON x.vec_id <> q.vec_id WHERE q.vec_id < 20),
         |br AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY ce DESC, neighbor_id) AS rank FROM bs),
         |tv AS (SELECT query_id, neighbor_id FROM br WHERE rank <= 5),
         |tq AS (SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
         |              CAST(COUNT(*) AS BIGINT) AS n_truth FROM tv),
         |hits AS (SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_hits
         |         FROM iv JOIN tv USING (query_id, neighbor_id) GROUP BY 1)
         |SELECT l.nprobe, tq.n_queries, tq.n_truth,
         |       CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
         |       CAST((1000 * COALESCE(h.n_hits, 0)) // tq.n_truth AS BIGINT)
         |         AS recall_permille
         |FROM lv l CROSS JOIN tq LEFT JOIN hits h ON h.nprobe = l.nprobe
         |ORDER BY l.nprobe""".stripMargin,
    // extension ≡ rebuild, so the oracle IS the full-corpus replay (the
    // s11 pattern applied to text)
    "s18_bm25_delta" -> bm25OracleSql,
    // lexical leg = the shared BM25 CTE chain, dense leg = the s02 fit +
    // probe replay with the self-pair excluded; both top-10s union into
    // the integer RRF point table, fused rank ties by doc_id
    "s16_hybrid_rrf" ->
      s"""WITH $bm25Ctes,
         |${ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7)},
         |dp AS (SELECT query_id, qv, cell FROM (
         |       SELECT q.vec_id AS query_id, q.v AS qv, c.cid AS cell,
         |              ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |                ORDER BY ${cosWSql("q.v", "c.cv")} DESC, c.cid) AS rn
         |       FROM e q, c2 c WHERE q.vec_id < 3) WHERE rn <= 4),
         |ds AS (SELECT p.query_id, a.vec_id AS doc_id,
         |              ${cosE6Sql("p.qv", "a.v")} AS ce
         |       FROM dp p JOIN asg a ON p.cell = a.cell AND p.query_id <> a.vec_id),
         |dr AS (SELECT query_id, doc_id, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY ce DESC, doc_id) AS rank FROM ds),
         |un AS (SELECT query_id, doc_id, 1000000 // (60 + rank) AS pt FROM (
         |       SELECT query_id, doc_id, rank FROM r WHERE rank <= 10
         |       UNION ALL
         |       SELECT query_id, doc_id, rank FROM dr WHERE rank <= 10)),
         |fu AS (SELECT query_id, doc_id, CAST(SUM(pt) AS BIGINT) AS rrf_e6
         |       FROM un GROUP BY 1, 2),
         |fr AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |         ORDER BY rrf_e6 DESC, doc_id) AS rank FROM fu)
         |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INTEGER) AS rank,
         |       doc_id, rrf_e6
         |FROM fr WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    // two independent fits (sfx x/y, fitFilter by id parity), each side's
    // assignments parity-filtered to mirror the per-side buildIvf; probes
    // replay the s02 pattern in both directions, averages over the
    // non-negative top-4 (the operator's portability contract), ratio
    // margin in integer micro-units, top-1 per source
    "s17_bitext_margin" ->
      s"""WITH ${ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7,
            fitFilter = "vec_id % 2 = 0", sfx = "x")},
         |${ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7,
            fitFilter = "vec_id % 2 = 1", sfx = "y")},
         |pf AS (SELECT query_id, qv, cell FROM (
         |       SELECT q.vec_id AS query_id, q.v AS qv, c.cid AS cell,
         |              ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |                ORDER BY ${cosWSql("q.v", "c.cv")} DESC, c.cid) AS rn
         |       FROM ex q, c2y c WHERE q.vec_id < 40 AND q.vec_id % 2 = 0)
         |       WHERE rn <= 4),
         |sf AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |              ${cosE6Sql("p.qv", "a.v")} AS ce
         |       FROM pf p JOIN asgy a ON p.cell = a.cell AND a.vec_id % 2 = 1),
         |fwd AS (SELECT query_id, neighbor_id, ce FROM (
         |        SELECT query_id, neighbor_id, ce,
         |               ROW_NUMBER() OVER (PARTITION BY query_id
         |                 ORDER BY ce DESC, neighbor_id) AS rn
         |        FROM sf) WHERE rn <= 4 AND ce >= 0),
         |avf AS (SELECT query_id, SUM(ce) // COUNT(*) AS avg_src
         |        FROM fwd GROUP BY 1),
         |bq AS (SELECT vec_id, v FROM ey
         |       WHERE vec_id IN (SELECT DISTINCT neighbor_id FROM fwd)),
         |pb AS (SELECT query_id, qv, cell FROM (
         |       SELECT q.vec_id AS query_id, q.v AS qv, c.cid AS cell,
         |              ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |                ORDER BY ${cosWSql("q.v", "c.cv")} DESC, c.cid) AS rn
         |       FROM bq q, c2x c) WHERE rn <= 4),
         |sb AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |              ${cosE6Sql("p.qv", "a.v")} AS ce
         |       FROM pb p JOIN asgx a ON p.cell = a.cell AND a.vec_id % 2 = 0),
         |bwd AS (SELECT query_id, neighbor_id, ce FROM (
         |        SELECT query_id, neighbor_id, ce,
         |               ROW_NUMBER() OVER (PARTITION BY query_id
         |                 ORDER BY ce DESC, neighbor_id) AS rn
         |        FROM sb) WHERE rn <= 4 AND ce >= 0),
         |avb AS (SELECT query_id AS nb, SUM(ce) // COUNT(*) AS avg_tgt
         |        FROM bwd GROUP BY 1),
         |j AS (SELECT f.query_id, f.neighbor_id, f.ce,
         |             (2000000 * f.ce) // (avg_src + avg_tgt) AS margin_e6
         |      FROM fwd f JOIN avf USING (query_id)
         |      JOIN avb ON f.neighbor_id = avb.nb
         |      WHERE avg_src + avg_tgt > 0)
         |SELECT query_id AS src_id, neighbor_id AS tgt_id,
         |       CAST(ce AS BIGINT) AS cos_e6, CAST(margin_e6 AS BIGINT) AS margin_e6
         |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY margin_e6 DESC, neighbor_id) AS rk FROM j)
         |WHERE rk = 1 ORDER BY src_id""".stripMargin,
    // fit restricted to the base corpus, assignment over everything with
    // the frozen final centroids — exactly what extendIvf materializes
    "s11_ivf_delta" ->
      s"""WITH ${ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7,
            fitFilter = "vec_id % 10 <> 9")}
         |SELECT vec_id, CAST(cell AS INTEGER) AS cell
         |FROM asg ORDER BY vec_id""".stripMargin,
    // s11's pin for the CODED layout: coarse fit + four subspace codebook
    // fits all restricted to the base corpus (the same ivfFitCtes slices
    // s14 replays), then cell + code assignment over EVERYTHING with the
    // frozen artifacts — exactly the coded corpus extendIvfPq
    // materializes (base encode ∪ frozen-artifact delta encode)
    "s20_ivfpq_delta" -> {
      val nSub = 4
      val sd = 16
      val fits = ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7,
          fitFilter = "vec_id % 10 <> 9") + ",\n" +
        (0 until nSub).map { j =>
          ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7,
            fitFilter = "vec_id % 10 <> 9",
            dims = sd, vExpr = s"embedding[${j * sd + 1}:${(j + 1) * sd}]",
            sfx = s"_s$j")
        }.mkString(",\n")
      s"""WITH $fits
         |SELECT a.vec_id, CAST(a.cell AS INTEGER) AS cell,
         |       CAST(a0.cell AS INTEGER) AS code0,
         |       CAST(a1.cell AS INTEGER) AS code1,
         |       CAST(a2.cell AS INTEGER) AS code2,
         |       CAST(a3.cell AS INTEGER) AS code3
         |FROM asg a
         |JOIN asg_s0 a0 ON a0.vec_id = a.vec_id
         |JOIN asg_s1 a1 ON a1.vec_id = a.vec_id
         |JOIN asg_s2 a2 ON a2.vec_id = a.vec_id
         |JOIN asg_s3 a3 ON a3.vec_id = a.vec_id
         |ORDER BY a.vec_id""".stripMargin
    },
    // register vector rebuilt from DISTINCT hashes (max is idempotent):
    // idx = h mod 256, rho = 52-bit-field leading zeros + 1 via an exact
    // powers-of-two join (no log2 floats); estimator replayed in HUGEINT
    // with the same exact rational, ln only on the linear-counting branch
    "t36_hll_sketch" ->
      s"""WITH ws AS (SELECT doc_id, source, $WsSql AS w FROM documents),
         |toks AS (SELECT source, tok, ${h60("tok")} AS h
         |         FROM (SELECT source, unnest(w) AS tok FROM ws)),
         |ex AS (SELECT source, CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
         |       FROM toks GROUP BY 1),
         |hh AS (SELECT DISTINCT source, h FROM toks),
         |rr AS (SELECT source, h % 256 AS idx, h // 256 AS wf FROM hh),
         |p2 AS (SELECT k, 1::HUGEINT << CAST(k AS INTEGER) AS v FROM range(53) t(k)),
         |bl AS (SELECT rr.source, rr.idx, rr.wf,
         |              COALESCE(MAX(p2.k) + 1, 0) AS bitlen
         |       FROM rr LEFT JOIN p2 ON rr.wf >= p2.v GROUP BY 1, 2, 3),
         |reg AS (SELECT source, idx, CAST(MAX(52 - bitlen + 1) AS BIGINT) AS rho
         |        FROM bl GROUP BY 1, 2),
         |slots AS (SELECT s.source, t.idx, COALESCE(reg.rho, 0) AS rho
         |          FROM (SELECT DISTINCT source FROM documents) s
         |          CROSS JOIN range(256) t(idx)
         |          LEFT JOIN reg ON reg.source = s.source AND reg.idx = t.idx),
         |mm AS (SELECT source, MAX(rho) AS mmax FROM slots GROUP BY 1),
         |st AS (SELECT sl.source, mm.mmax,
         |              SUM(1::HUGEINT << CAST(mm.mmax - sl.rho AS INTEGER)) AS sm,
         |              CAST(SUM(CASE WHEN sl.rho = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
         |       FROM slots sl JOIN mm USING (source) GROUP BY 1, 2),
         |es AS (SELECT source, v,
         |         CAST((7213::HUGEINT * 16777216 * (1::HUGEINT << CAST(mmax AS INTEGER)))
         |              // (2570790::HUGEINT * sm) AS BIGINT) AS raw
         |       FROM st)
         |SELECT es.source,
         |       CASE WHEN es.v > 0 AND es.raw <= 640
         |            THEN CAST(ROUND(256.0 * ln(256.0 / es.v)) AS BIGINT)
         |            ELSE es.raw END AS est_hll,
         |       es.v AS n_zero_regs, ex.exact_distinct
         |FROM es JOIN ex USING (source) ORDER BY es.source""".stripMargin,
    // same deterministic IVF fit as s02/s05/d11 (shared CTEs), then the
    // t11 hash-rank rule per cell
    "s10_diversity_sample" ->
      s"""WITH ${ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7)},
         |hh AS (SELECT cell, vec_id,
         |         ${h60("'div:'||CAST(vec_id AS VARCHAR)")} // 4096 AS h48
         |       FROM asg),
         |r AS (SELECT cell, vec_id,
         |        ROW_NUMBER() OVER (PARTITION BY cell ORDER BY h48, vec_id) AS rank
         |      FROM hh)
         |SELECT CAST(cell AS INTEGER) AS cell, CAST(rank AS INT) AS rank, vec_id
         |FROM r WHERE rank <= 8 ORDER BY cell, rank""".stripMargin,
    // same specimen via chr() codepoints; nfc_normalize + unicode lower +
    // the EXPLICIT ASCII whitespace class (chr-built, no escape ambiguity)
    // replay the kernel's three stages in the same order
    "t37_normalize" ->
      """WITH d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0
        |       THEN text || chr(9)||'Cafe'||chr(769)||' NAI'||chr(776)||'VE '||chr(11)||' ok'
        |       ELSE text END AS t2 FROM documents),
        |n AS (SELECT doc_id, t2,
        |        trim(regexp_replace(lower(nfc_normalize(t2)),
        |          '['||chr(32)||chr(9)||chr(10)||chr(11)||chr(12)||chr(13)||']+',
        |          ' ', 'g')) AS normalized
        |      FROM d)
        |SELECT doc_id, normalized,
        |       CAST(CASE WHEN normalized <> t2 THEN 1 ELSE 0 END AS BIGINT) AS changed
        |FROM n ORDER BY doc_id""".stripMargin,
    // both medians replay the q28/q30 definitional rank rule; the gate
    // itself is pure integer comparison
    "t35_mad_outliers" ->
      """WITH v0 AS (SELECT doc_id,
        |        CAST(n_chars + CASE WHEN doc_id % 50 = 0 THEN 5000 ELSE 0 END
        |             AS BIGINT) AS value
        |      FROM documents),
        |h AS (SELECT value AS v, COUNT(*) AS cnt FROM v0 GROUP BY 1),
        |w AS (SELECT v, CAST(SUM(cnt) OVER (ORDER BY v) AS BIGINT) AS cum,
        |             CAST(SUM(cnt) OVER () AS BIGINT) AS n FROM h),
        |med AS (SELECT MIN(CASE WHEN cum > (500*(n-1))//1000 THEN v END) AS m FROM w),
        |d AS (SELECT doc_id, value, ABS(value - med.m) AS deviation FROM v0, med),
        |h2 AS (SELECT deviation AS dv, COUNT(*) AS cnt FROM d GROUP BY 1),
        |w2 AS (SELECT dv, CAST(SUM(cnt) OVER (ORDER BY dv) AS BIGINT) AS cum,
        |              CAST(SUM(cnt) OVER () AS BIGINT) AS n FROM h2),
        |mad AS (SELECT MIN(CASE WHEN cum > (500*(n-1))//1000 THEN dv END) AS m FROM w2)
        |SELECT doc_id, value, deviation,
        |       CAST(CASE WHEN deviation * 1000 > 3000 * mad.m THEN 1 ELSE 0 END
        |            AS BIGINT) AS is_outlier
        |FROM d, mad ORDER BY doc_id""".stripMargin,
    // token first-occurrence min per type, bucket rollup, left join keeps
    // empty buckets, cumulative over bucket rows
    "t39_vocab_growth" ->
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents),
         |ex AS (SELECT doc_id, unnest(list_distinct(w)) AS t FROM ws),
         |ft AS (SELECT t, MIN(doc_id) AS first_id FROM ex GROUP BY 1),
         |nb AS (SELECT first_id // 50 AS bucket,
         |              CAST(COUNT(*) AS BIGINT) AS new_types FROM ft GROUP BY 1),
         |bk AS (SELECT DISTINCT doc_id // 50 AS bucket FROM documents),
         |j AS (SELECT bk.bucket, COALESCE(nb.new_types, 0) AS new_types
         |      FROM bk LEFT JOIN nb USING (bucket))
         |SELECT CAST(bucket AS BIGINT) AS bucket,
         |       CAST(new_types AS BIGINT) AS new_types,
         |       CAST(SUM(new_types) OVER (ORDER BY bucket) AS BIGINT) AS cum_types
         |FROM j ORDER BY bucket""".stripMargin,
    // m02's payload-byte CTEs + the stub frame-feature schedule; every
    // delta is pure integer arithmetic
    "m06_scene_cuts" ->
      """WITH p AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS nb FROM documents),
        |b AS (SELECT doc_id, kind, nb,
        |    CASE WHEN nb >= 1 THEN (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
        |                         + (strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1)
        |         ELSE 0 END AS b0,
        |    CASE WHEN nb >= 2 THEN (strpos('0123456789ABCDEF', substr(h, 3, 1)) - 1) * 16
        |                         + (strpos('0123456789ABCDEF', substr(h, 4, 1)) - 1)
        |         ELSE 0 END AS b1 FROM p),
        |v AS (SELECT doc_id, nb, b0, b1, 1 + nb % 30 AS n_frames FROM b
        |      WHERE kind = 'video' AND 1 + nb % 30 >= 2),
        |fr AS (SELECT doc_id, nb, b0, b1,
        |              CAST(unnest(range(1, n_frames)) AS BIGINT) AS t FROM v),
        |d AS (SELECT doc_id, t AS frame_idx,
        |        CAST(list_sum(list_transform(range(8), i ->
        |          abs((((nb*(i+1)+b0*31+b1*7) % 1000) * (t+i+1)) % 1000
        |            - (((nb*(i+1)+b0*31+b1*7) % 1000) * (t+i)) % 1000))) AS BIGINT)
        |          AS delta_permille
        |      FROM fr)
        |SELECT doc_id, frame_idx, delta_permille,
        |       CAST(CASE WHEN delta_permille > 2600 THEN 1 ELSE 0 END AS BIGINT) AS is_cut
        |FROM d ORDER BY doc_id, frame_idx""".stripMargin,
    // per-group edges replay the q28/q30 definitional rank rule
    // partitioned by group; the clip is pure integer LEAST/GREATEST
    "t38_winsorize" ->
      """WITH v AS (SELECT event_id, event_type,
        |        CAST(ROUND(value*100) AS BIGINT) AS value_cents FROM events),
        |h AS (SELECT event_type, value_cents AS x, COUNT(*) AS cnt FROM v GROUP BY 1, 2),
        |w AS (SELECT event_type, x,
        |        CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY x) AS BIGINT) AS cum,
        |        CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS n FROM h),
        |bp AS (SELECT event_type,
        |         MIN(CASE WHEN cum > (50*(n-1))//1000 THEN x END) AS lo,
        |         MIN(CASE WHEN cum > (950*(n-1))//1000 THEN x END) AS hi
        |       FROM w GROUP BY 1)
        |SELECT v.event_id, v.event_type, v.value_cents,
        |       CAST(LEAST(GREATEST(v.value_cents, bp.lo), bp.hi) AS BIGINT) AS winsorized,
        |       CAST(CASE WHEN v.value_cents < bp.lo OR v.value_cents > bp.hi
        |            THEN 1 ELSE 0 END AS BIGINT) AS clipped
        |FROM v JOIN bp USING (event_type) ORDER BY event_id""".stripMargin,
    // sign matrix rebuilt from the same md5 parity; after the per-element
    // micro-round everything is exact integer math
    "s09_random_projection" ->
      s"""WITH sg AS (SELECT j, i,
         |       CASE WHEN ('0x'||substr(md5('rp:'||j||':'||i),1,15))::BIGINT % 2 = 1
         |            THEN -1 ELSE 1 END AS sgn
         |     FROM range(16) r1(j), range(64) r2(i)),
         |xm AS (SELECT vec_id,
         |       list_transform(embedding, x -> CAST(ROUND(1e6 * x::DOUBLE) AS BIGINT)) AS m
         |     FROM embeddings),
         |pj AS (SELECT xm.vec_id, sg.j, CAST(SUM(sg.sgn * xm.m[sg.i + 1]) AS BIGINT) AS v
         |     FROM xm, sg GROUP BY 1, 2)
         |SELECT vec_id, CAST(j AS BIGINT) AS j, v
         |FROM pj ORDER BY vec_id, j""".stripMargin,
    // exact-integer lift over the same unigram/bigram multiset counts;
    // list_extract(-1) mirrors substring_index(pair,' ',-1) because
    // tokens cannot contain the separator
    "t34_pmi_collocations" ->
      s"""WITH ws AS (SELECT $WsSql AS w FROM documents),
         |uni AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM (SELECT unnest(w) AS t FROM ws) GROUP BY 1),
         |u AS (SELECT CAST(SUM(c) AS BIGINT) AS u FROM uni),
         |bg AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS n_pair FROM (
         |         SELECT unnest(list_transform(range(GREATEST(len(w) - 1, 0)),
         |                       i -> w[i + 1] || ' ' || w[i + 2])) AS pair
         |         FROM ws) GROUP BY 1)
         |SELECT b.pair, b.n_pair, u1.c AS n_w1, u2.c AS n_w2,
         |       CAST((1000000 * b.n_pair * u.u) // (u1.c * u2.c) AS BIGINT) AS lift_ppm
         |FROM bg b
         |JOIN uni u1 ON u1.t = list_extract(string_split(b.pair, ' '), 1)
         |JOIN uni u2 ON u2.t = list_extract(string_split(b.pair, ' '), -1), u
         |WHERE b.n_pair >= 5
         |ORDER BY lift_ppm DESC, b.pair LIMIT 30""".stripMargin,
    // DSIR fit replay: same planted marker, same bucket hash, the same
    // IEEE association inside ln (numerator product / denominator
    // product), micro-rounded ONCE per bucket — doc scores are then
    // exact integer sums, so summation order can never flip the hash
    "t33_dsir_weights" ->
      s"""WITH d AS (SELECT doc_id,
         |  CASE WHEN doc_id % 5 = 0 THEN text || ' telemetry beacon telemetry'
         |       ELSE text END AS text
         |  FROM documents),
         |ws AS (SELECT doc_id, $WsSql AS w FROM d),
         |tok AS (SELECT doc_id, unnest(w) AS t FROM ws),
         |b AS (SELECT doc_id, ${h60("t")} % 4096 AS bkt FROM tok),
         |tc AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c FROM b
         |       WHERE doc_id % 5 = 0 GROUP BY 1),
         |rc AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1),
         |tot AS (SELECT
         |  CAST((SELECT COUNT(*) FROM b WHERE doc_id % 5 = 0) AS BIGINT) AS tt,
         |  CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS rt),
         |wt AS (SELECT rc.bkt,
         |        CAST(ROUND(1e6 * ln(
         |          ((2.0 * COALESCE(tc.c, 0) + 1.0) * (2.0 * tot.rt + 4096)) /
         |          ((2.0 * rc.c + 1.0) * (2.0 * tot.tt + 4096)))) AS BIGINT) AS w_e6
         |       FROM rc LEFT JOIN tc USING (bkt), tot),
         |sc AS (SELECT b.doc_id, CAST(SUM(wt.w_e6) AS BIGINT) AS score_e6
         |       FROM b JOIN wt USING (bkt) GROUP BY 1)
         |SELECT ws.doc_id, CAST(len(ws.w) AS BIGINT) AS n_tokens,
         |       COALESCE(sc.score_e6, 0) AS score_e6
         |FROM ws LEFT JOIN sc USING (doc_id) ORDER BY ws.doc_id""".stripMargin,
    // PII flag + redact over text with deterministically PLANTED specimens
    // (same doc_id arithmetic as the Spark side). Token-level anchored
    // regexes ≡ the TextKernels scanners; string_split(' ') KEEPS empty
    // segments, so rejoining with ' ' preserves whitespace runs exactly
    // like the kernel's verbatim copy. The three classes have disjoint
    // alphabets ('@' / '.' / digits-dashes-+), so independent counts equal
    // the kernel's first-match-wins classification.
    "t13_pii_scrub" -> {
      val em = """^[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+$"""
      val ip = """^(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)(\.(25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)){3}$"""
      val ph = """^\+?[0-9](-?[0-9]){6,14}$"""
      s"""WITH p AS (SELECT doc_id,
         |  text ||
         |  CASE WHEN doc_id % 7 = 0 THEN ' user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0 THEN ' 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ELSE '' END ||
         |  CASE WHEN doc_id % 3 = 0 THEN ' +34-91-555-01' || CAST(doc_id % 10 AS VARCHAR) ELSE '' END ||
         |  CASE WHEN doc_id % 11 = 0 THEN ' bad@@example.com 300.1.2.3 12-34' ELSE '' END AS t2
         |  FROM documents),
         |t AS (SELECT doc_id, string_split(t2, ' ') AS w FROM p)
         |SELECT doc_id,
         |  CAST(len(list_filter(w, x -> regexp_matches(x, '$em'))) AS BIGINT) AS n_email,
         |  CAST(len(list_filter(w, x -> regexp_matches(x, '$ip'))) AS BIGINT) AS n_ip,
         |  CAST(len(list_filter(w, x -> regexp_matches(x, '$ph'))) AS BIGINT) AS n_phone,
         |  array_to_string(list_transform(w, x ->
         |    CASE WHEN regexp_matches(x, '$em') THEN '<EMAIL>'
         |         WHEN regexp_matches(x, '$ip') THEN '<IP>'
         |         WHEN regexp_matches(x, '$ph') THEN '<PHONE>'
         |         ELSE x END), ' ') AS redacted
         |FROM t ORDER BY doc_id""".stripMargin
    },
    // tf/df replayed as two GROUP BYs + join; the exact-rational ppm
    // score (integer division) and (score DESC, token) ties make the
    // window-rank replay reproduce the collect-sort-slice bit for bit
    "t17_tfidf_keywords" ->
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents),
         |t AS (SELECT doc_id, unnest(w) AS token FROM ws),
         |tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |       FROM t GROUP BY doc_id, token),
         |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
         |sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |              CAST((1000000 * tf.tf) // df.df AS BIGINT) AS score_ppm
         |       FROM tf JOIN df ON tf.token = df.token),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |              ORDER BY score_ppm DESC, token) AS rn FROM sc)
         |SELECT doc_id, CAST(rn AS INTEGER) AS rank, token, tf, df, score_ppm
         |FROM r WHERE rn <= 5 ORDER BY doc_id, rn""".stripMargin,
    // same planted lines (doc_id % 2/3/7/13 arithmetic); the frequency
    // fence replayed as a GROUP BY + join, the re-assembly as an ordered
    // string_agg — string_split/unnest/generate_subscripts reproduce
    // posexplode(split(...)) including trailing empties
    "t16_line_dedup" ->
      s"""WITH p AS (SELECT doc_id,
         |  text ||
         |  CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'Subscribe to our newsletter today' ELSE '' END ||
         |  CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'All rights reserved' ELSE '' END ||
         |  CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'Contact us at office ' || CAST(doc_id % 4 AS VARCHAR) ELSE '' END ||
         |  CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'Ref code ' || CAST(doc_id AS VARCHAR) ELSE '' END AS t2
         |  FROM documents),
         |l AS (SELECT doc_id, unnest(string_split(t2, chr(10))) AS line,
         |             generate_subscripts(string_split(t2, chr(10)), 1) AS pos FROM p),
         |freq AS (SELECT line, COUNT(*) AS n FROM l GROUP BY line),
         |kept AS (SELECT l.doc_id, l.pos, l.line
         |         FROM l JOIN freq f ON l.line = f.line WHERE f.n <= 20),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |               string_agg(line, chr(10) ORDER BY pos) AS clean_text
         |        FROM kept GROUP BY doc_id)
         |SELECT p.doc_id, COALESCE(a.clean_text, '') AS clean_text,
         |       CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_kept,
         |       CAST(len(string_split(p.t2, chr(10))) AS BIGINT)
         |         - CAST(COALESCE(a.n_kept, 0) AS BIGINT) AS n_dropped
         |FROM p LEFT JOIN agg a ON p.doc_id = a.doc_id
         |ORDER BY p.doc_id""".stripMargin,
    // same planted repeats (doc_id % 2/3/6/11/5 arithmetic); the dedup
    // replayed relationally: split keeps empty segments, MIN(position)
    // per (doc, line), string_agg back ordered by it — first occurrence
    // wins, including the first of consecutive blank lines
    "t19_intra_doc_dedup" ->
      s"""WITH p AS (SELECT doc_id, text ||
         |  CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'shared boilerplate line' || chr(10) || 'shared boilerplate line' ELSE '' END ||
         |  CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'per doc tail ' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END ||
         |  CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'per doc tail ' || CAST(doc_id % 7 AS VARCHAR) ELSE '' END ||
         |  CASE WHEN doc_id % 11 = 0 THEN chr(10) || 'shared boilerplate line ' ELSE '' END ||
         |  CASE WHEN doc_id % 5 = 0 THEN chr(10) || chr(10) || chr(10) || 'end marker' ELSE '' END AS t2
         |  FROM documents),
         |s AS (SELECT doc_id, string_split(t2, chr(10)) AS ls FROM p),
         |l AS (SELECT doc_id, unnest(ls) AS line,
         |             generate_subscripts(ls, 1) AS pos FROM s),
         |f AS (SELECT doc_id, line, MIN(pos) AS pos FROM l GROUP BY doc_id, line),
         |a AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
         |             CAST(COUNT(*) AS BIGINT) AS n_kept FROM f GROUP BY doc_id)
         |SELECT a.doc_id, a.clean_text, CAST(len(s.ls) AS BIGINT) AS n_total, a.n_kept
         |FROM a JOIN s ON a.doc_id = s.doc_id
         |ORDER BY a.doc_id""".stripMargin,
    // token list sliced at stride-48 starts, re-joined with single spaces;
    // starts = 0..(n-1) DIV 48, each start < n — the last chunk is short,
    // never dropped, and zero-token docs emit nothing (both sides)
    "t15_chunk_sliding" ->
      s"""WITH t AS (SELECT doc_id, $WsSql AS w FROM documents),
         |n AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM t WHERE len(w) > 0),
         |c AS (SELECT doc_id, w, n,
         |        UNNEST(range(0, GREATEST(0, (n - 1 - 16) // 48) + 1)) AS chunk_idx
         |      FROM n)
         |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
         |  CAST(chunk_idx * 48 AS BIGINT) AS chunk_start,
         |  CAST(LEAST(64, n - chunk_idx * 48) AS BIGINT) AS n_chunk_tokens,
         |  array_to_string(list_slice(w, chunk_idx * 48 + 1, chunk_idx * 48 + 64), ' ') AS chunk_text
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // same planted URLs (doc_id % 4 arithmetic), same RE2-compatible host
    // pattern, blocklist NOT IN, and the window-rank formulation of the
    // per-domain cap — (n_chars DESC, doc_id) ties reproduce the
    // bounded-heap survivors bit-for-bit
    "t14_domain_curation" ->
      s"""WITH u AS (SELECT doc_id, n_chars,
         |  CASE doc_id % 4
         |    WHEN 0 THEN 'https://www.' || source || '.example.com/a/' || CAST(doc_id AS VARCHAR)
         |    WHEN 1 THEN 'HTTP://' || source || '.EXAMPLE.com:8080/b?id=' || CAST(doc_id AS VARCHAR)
         |    WHEN 2 THEN source || '.example.com/c/' || CAST(doc_id AS VARCHAR) || '#frag'
         |    ELSE 'https://cdn.' || source || '.example.com/d/' || CAST(doc_id AS VARCHAR)
         |  END AS url FROM documents),
         |dm AS (SELECT doc_id, n_chars,
         |  regexp_extract(lower(trim(url)), '^(?:[a-z][a-z0-9+.-]*://)?(?:www\\.)?([^/?#:]+)', 1) AS domain
         |  FROM u),
         |f AS (SELECT * FROM dm
         |      WHERE domain NOT IN ('src3.example.com', 'cdn.src7.example.com')),
         |r AS (SELECT domain, doc_id,
         |  ROW_NUMBER() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rank
         |  FROM f)
         |SELECT domain, CAST(rank AS INT) AS rank, doc_id
         |FROM r WHERE rank <= 8 ORDER BY domain, rank""".stripMargin,
    // smallest 48-bit salted hash per source = the deterministic draw;
    // ties (h, doc_id) both sides — reproduces the bounded-heap sample
    "t11_stratified_sample" ->
      s"""WITH h AS (SELECT doc_id, source,
         |             ${h60("'strat:'||CAST(doc_id AS VARCHAR)")} // 4096 AS h48
         |           FROM documents),
         |r AS (SELECT source, doc_id,
         |             ROW_NUMBER() OVER (PARTITION BY source ORDER BY h48, doc_id) AS rank
         |      FROM h)
         |SELECT source, CAST(rank AS INT) AS rank, doc_id
         |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    // split fences: hash60(key) % 1000 against cumulative permille bounds
    // (train [0,900), val [900,950), test [950,1000))
    "t06_hash_split" ->
      s"""SELECT doc_id,
         |       CASE WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 1000 < 900 THEN 'train'
         |            WHEN ${h60("CAST(doc_id AS VARCHAR)")} % 1000 < 950 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    // shard = hash60('epoch0:'||key) % 8; pos ranks (hash, key) within
    // the shard — the window replay of the per-shard sort
    "t20_training_order" ->
      s"""WITH h AS (SELECT doc_id,
         |  ${h60("'epoch0:'||CAST(doc_id AS VARCHAR)")} AS h FROM documents)
         |SELECT doc_id, h % 8 AS shard,
         |       CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) - 1
         |         AS BIGINT) AS pos
         |FROM h ORDER BY doc_id""".stripMargin,
    "d07_leakage_safe_split" ->
      s"""$componentsCteSql
         |SELECT doc_id, component,
         |       CASE WHEN ${h60("CAST(component AS VARCHAR)")} % 1000 < 900 THEN 'train'
         |            WHEN ${h60("CAST(component AS VARCHAR)")} % 1000 < 950 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM comp ORDER BY doc_id""".stripMargin,
    "s01_knn_brute" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, ${cosE6Sql("qv", "nv")} AS cos_e6
         |           FROM q, c WHERE query_id <> neighbor_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos_e6 DESC, neighbor_id) AS rank FROM scored)
         |SELECT query_id, rank, neighbor_id, cos_e6 FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    "s02_knn_ivf" ->
      ivfOracleSql(nCells = 16, nprobe = 2, k = 5, iters = 2, sampleMod = 7, qMax = 20),
    // s01's shape with the two hard-negative predicates: different label,
    // cosine inside [lo, hi] micro-units — band applied pre-rank, exactly
    // where the Spark plan filters before its bounded heap
    "s06_hard_negatives" ->
      s"""WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding AS qv
         |           FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, label AS nl, embedding AS nv FROM embeddings),
         |scored AS (SELECT query_id, neighbor_id, ${cosE6Sql("qv", "nv")} AS cos_e6
         |           FROM q, c WHERE query_id <> neighbor_id AND ql <> nl),
         |banded AS (SELECT * FROM scored WHERE cos_e6 BETWEEN 100000 AND 299999),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos_e6 DESC, neighbor_id) AS rank FROM banded)
         |SELECT query_id, rank, neighbor_id, cos_e6 FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    // SemDeDup replay: the same fit CTEs as s02 (one definition), then
    // exact within-cell pairwise cosine — the cluster-local pair space
    // IS the operator's semantics, so the oracle joins on asg.cell
    "d11_semantic_dedup" ->
      s"""WITH ${ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7)},
         |p AS (SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, a.cell,
         |             ${cosE6Sql("a.v", "b.v")} AS cos_e6
         |      FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |SELECT doc_a, doc_b, CAST(cell AS INTEGER) AS cell, cos_e6
         |FROM p WHERE cos_e6 >= 300000 ORDER BY doc_a, doc_b""".stripMargin,
    // the served path probes the SAME deterministic index s02 fits
    // per-call, so one oracle covers both — any drift between the
    // in-memory and persisted layouts breaks this hash
    "s05_knn_ivf_served" ->
      ivfOracleSql(nCells = 16, nprobe = 2, k = 5, iters = 2, sampleMod = 7, qMax = 20),
    // replays the full two-stage pipeline: per-dimension max-abs scales,
    // FLOOR-quantized int8 vectors, integer-dot coarse top-20 (ties by
    // neighbor), exact-cosine rescore of exactly those candidates
    "s04_knn_quantized" ->
      s"""WITH ex AS (SELECT unnest(embedding) AS e, unnest(range(len(embedding))) AS j FROM embeddings),
         |mx AS (SELECT j, MAX(ABS(e::DOUBLE)) AS m FROM ex GROUP BY j),
         |ms AS (SELECT list(CASE WHEN m = 0 THEN 1 ELSE m END ORDER BY j) AS s FROM mx),
         |qz AS (SELECT vec_id, list_transform(range(len(embedding)),
         |         i -> CAST(GREATEST(-127, LEAST(127, FLOOR(embedding[i+1]::DOUBLE * 127 / s[i+1]))) AS BIGINT)) AS v8
         |       FROM embeddings, ms),
         |q AS (SELECT vec_id AS query_id, v8 AS q8 FROM qz WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, v8 AS n8 FROM qz),
         |coarse AS (SELECT query_id, neighbor_id,
         |             CAST(list_sum(list_transform(range(len(q8)), i -> q8[i+1]*n8[i+1])) AS BIGINT) AS qd
         |           FROM q, c WHERE query_id <> neighbor_id),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |           SELECT query_id, neighbor_id,
         |                  ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qd DESC, neighbor_id) AS r
         |           FROM coarse) WHERE r <= 20),
         |fq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings),
         |fc AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
         |resc AS (SELECT cand.query_id, cand.neighbor_id, ${cosE6Sql("qv", "nv")} AS cos_e6
         |         FROM cand JOIN fq USING (query_id) JOIN fc USING (neighbor_id)),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos_e6 DESC, neighbor_id) AS rank FROM resc)
         |SELECT query_id, rank, neighbor_id, cos_e6 FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin,
    // the full-space fit (cells + probes) composed with the four
    // subspace fits and ADC tables of s13; candidates exist only inside
    // probed cells
    "s14_knn_ivfpq" -> {
      val nSub = 4
      val sd = 16
      val fits = ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7) + ",\n" +
        (0 until nSub).map { j =>
          ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7,
            dims = sd, vExpr = s"embedding[${j * sd + 1}:${(j + 1) * sd}]", sfx = s"_s$j")
        }.mkString(",\n")
      val tabs = (0 until nSub).map { j =>
        s"""tab_s$j AS (SELECT q.vec_id AS query_id, c.cid,
           |  CAST(ROUND(list_sum(list_transform(range(len(q.v)),
           |    i -> q.v[i+1]::DOUBLE * c.cv[i+1]))*1e6) AS BIGINT) AS t
           |  FROM e_s$j q, c2_s$j c WHERE q.vec_id < 20)""".stripMargin
      }.mkString(",\n")
      s"""WITH $fits,
         |probes AS (SELECT query_id, cell FROM (
         |   SELECT q.vec_id AS query_id, c.cid AS cell,
         |          ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |            ORDER BY ${cosWSql("q.v", "c.cv")} DESC, c.cid) AS rn
         |   FROM e q, c2 c WHERE q.vec_id < 20) WHERE rn <= 2),
         |$tabs,
         |adc AS (SELECT p.query_id, a.vec_id AS neighbor_id,
         |          (t0.t + t1.t + t2.t + t3.t) AS adc
         |        FROM asg a
         |        JOIN probes p ON p.cell = a.cell
         |        JOIN asg_s0 a0 ON a0.vec_id = a.vec_id
         |        JOIN asg_s1 a1 ON a1.vec_id = a.vec_id
         |        JOIN asg_s2 a2 ON a2.vec_id = a.vec_id
         |        JOIN asg_s3 a3 ON a3.vec_id = a.vec_id
         |        JOIN tab_s0 t0 ON t0.cid = a0.cell AND t0.query_id = p.query_id
         |        JOIN tab_s1 t1 ON t1.cid = a1.cell AND t1.query_id = p.query_id
         |        JOIN tab_s2 t2 ON t2.cid = a2.cell AND t2.query_id = p.query_id
         |        JOIN tab_s3 t3 ON t3.cid = a3.cell AND t3.query_id = p.query_id
         |        WHERE p.query_id <> a.vec_id),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |          SELECT query_id, neighbor_id,
         |                 ROW_NUMBER() OVER (PARTITION BY query_id
         |                   ORDER BY adc DESC, neighbor_id) AS r
         |          FROM adc) WHERE r <= 20),
         |fq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings),
         |fc AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
         |resc AS (SELECT cand.query_id, cand.neighbor_id, ${cosE6Sql("qv", "nv")} AS cos_e6
         |         FROM cand JOIN fq USING (query_id) JOIN fc USING (neighbor_id)),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos_e6 DESC, neighbor_id) AS rank FROM resc)
         |SELECT query_id, rank, neighbor_id, cos_e6 FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    // four subspace k-means fits (the shared ivfFitCtes, sliced + name-
    // suffixed), ADC tables as micro-exact longs, integer coarse rank,
    // exact cosine rescore — CTE-for-CTE what Similarity.pqKnn computes
    "s13_knn_pq" -> {
      val nSub = 4
      val sd = 16
      val fits = (0 until nSub).map { j =>
        ivfFitCtes(nCells = 16, iters = 2, sampleMod = 7,
          dims = sd, vExpr = s"embedding[${j * sd + 1}:${(j + 1) * sd}]", sfx = s"_s$j")
      }.mkString(",\n")
      val tabs = (0 until nSub).map { j =>
        s"""tab_s$j AS (SELECT q.vec_id AS query_id, c.cid,
           |  CAST(ROUND(list_sum(list_transform(range(len(q.v)),
           |    i -> q.v[i+1]::DOUBLE * c.cv[i+1]))*1e6) AS BIGINT) AS t
           |  FROM e_s$j q, c2_s$j c WHERE q.vec_id < 20)""".stripMargin
      }.mkString(",\n")
      s"""WITH $fits,
         |$tabs,
         |adc AS (SELECT t0.query_id, a0.vec_id AS neighbor_id,
         |          (t0.t + t1.t + t2.t + t3.t) AS adc
         |        FROM asg_s0 a0
         |        JOIN asg_s1 a1 USING (vec_id)
         |        JOIN asg_s2 a2 USING (vec_id)
         |        JOIN asg_s3 a3 USING (vec_id)
         |        JOIN tab_s0 t0 ON t0.cid = a0.cell
         |        JOIN tab_s1 t1 ON t1.cid = a1.cell AND t1.query_id = t0.query_id
         |        JOIN tab_s2 t2 ON t2.cid = a2.cell AND t2.query_id = t0.query_id
         |        JOIN tab_s3 t3 ON t3.cid = a3.cell AND t3.query_id = t0.query_id
         |        WHERE t0.query_id <> a0.vec_id),
         |cand AS (SELECT query_id, neighbor_id FROM (
         |          SELECT query_id, neighbor_id,
         |                 ROW_NUMBER() OVER (PARTITION BY query_id
         |                   ORDER BY adc DESC, neighbor_id) AS r
         |          FROM adc) WHERE r <= 20),
         |fq AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings),
         |fc AS (SELECT vec_id AS neighbor_id, embedding AS nv FROM embeddings),
         |resc AS (SELECT cand.query_id, cand.neighbor_id, ${cosE6Sql("qv", "nv")} AS cos_e6
         |         FROM cand JOIN fq USING (query_id) JOIN fc USING (neighbor_id)),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |        ORDER BY cos_e6 DESC, neighbor_id) AS rank FROM resc)
         |SELECT query_id, rank, neighbor_id, cos_e6 FROM r WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },
    "t01_token_count" ->
      s"""SELECT doc_id,
         |       CAST(len($WsSql) AS BIGINT) AS n_tokens,
         |       CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,
    "t02_lang_id" -> {
      val profs = TextFunctions.langProfiles.map { case (lang, words) =>
        lang -> s"len(list_filter(w, t -> list_contains([${words.map(w => s"'$w'").mkString(",")}], t)))"
      }
      s"""WITH ws AS (SELECT doc_id, lang, $WsSql AS w FROM documents),
         |sc AS (SELECT doc_id, lang, ${profs.map { case (l, e) => s"$e AS s_$l" }.mkString(", ")} FROM ws)
         |SELECT doc_id, lang AS declared_lang,
         |       CASE WHEN s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         |            WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
         |            WHEN s_fr > 0 THEN 'fr'
         |            ELSE 'unknown' END AS predicted_lang
         |FROM sc ORDER BY doc_id""".stripMargin
    },
    "t03_quality_score" -> {
      val allStops = TextFunctions.langProfiles.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString(",")
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents),
         |m AS (SELECT doc_id,
         |        CAST(len(w) AS BIGINT) AS n_tokens,
         |        (1000 * len(list_filter(w, t -> list_contains([$allStops], t))))
         |          // greatest(len(w), 1) AS stop_permille,
         |        (1000 * len(list_filter(w, t -> regexp_matches(t, '^[a-z]+$$'))))
         |          // greatest(len(w), 1) AS alpha_permille,
         |        CAST((1000 * list_sum(list_transform(w, t -> len(t))))
         |          // greatest(len(w), 1) AS BIGINT) AS avg_token_len_permille
         |      FROM ws)
         |SELECT doc_id, n_tokens, stop_permille, alpha_permille, avg_token_len_permille,
         |       (CASE WHEN n_tokens BETWEEN 10 AND 10000 THEN 500 ELSE 0 END
         |        + stop_permille // 2 + alpha_permille // 4) AS quality
         |FROM m ORDER BY doc_id""".stripMargin
    },
    "t04_fingerprint" ->
      s"""WITH ws AS (SELECT doc_id, $WsSql AS w FROM documents)
         |SELECT doc_id,
         |       CAST(COALESCE(list_sum(list_transform(range(len(w)), i ->
         |         ((${h60("w[i+1]")} % ${TextFunctions.FpMod}) * ((i % 31) + 1)))), 0)
         |         % ${TextFunctions.FpMod} AS BIGINT) AS fp
         |FROM ws ORDER BY doc_id""".stripMargin,
    "t05_source_stats" -> {
      val allStops = TextFunctions.langProfiles.flatMap(_._2).distinct
        .map(w => s"'$w'").mkString(",")
      s"""WITH ws AS (SELECT doc_id, source, lang, $WsSql AS w FROM documents),
         |m AS (SELECT source, lang, CAST(len(w) AS BIGINT) AS n_tokens,
         |        (CASE WHEN len(w) BETWEEN 10 AND 10000 THEN 500 ELSE 0 END
         |         + ((1000 * len(list_filter(w, t -> list_contains([$allStops], t))))
         |             // greatest(len(w), 1)) // 2
         |         + ((1000 * len(list_filter(w, t -> regexp_matches(t, '^[a-z]+$$'))))
         |             // greatest(len(w), 1)) // 4) AS quality
         |      FROM ws)
         |SELECT source, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |       CAST(SUM(quality) // COUNT(*) AS BIGINT) AS avg_quality,
         |       COUNT(DISTINCT lang) AS n_langs
         |FROM m GROUP BY source""".stripMargin
    },
    "s03_label_centroid" ->
      """SELECT label, CAST(t.i AS INT) AS dim, COUNT(*) AS n,
        |       CAST(SUM(CAST(ROUND(embedding[t.i + 1]::DOUBLE * 1e6) AS BIGINT)) AS BIGINT) AS sum_e6,
        |       CAST(FLOOR(SUM(CAST(ROUND(embedding[t.i + 1]::DOUBLE * 1e6) AS BIGINT))::DOUBLE
        |                  / COUNT(*)) AS BIGINT) AS mean_e6
        |FROM embeddings, range(64) t(i)  -- fixed 64-dim embeddings (TESTDATA)
        |GROUP BY label, dim""".stripMargin,
    "m01_media_meta" ->
      """SELECT doc_id,
        |       CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |       md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    // stub features replayed as exact permille ints; float division by
    // 1000 is monotone-injective over [0,1000), so the > comparisons (and
    // hence every dHash bit) are identical to the Spark side's floats
    "m05_perceptual_dedup" ->
      """WITH p AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS nb FROM documents),
        |b AS (SELECT doc_id, kind, nb,
        |    CASE WHEN nb >= 1 THEN (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
        |                         + (strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1)
        |         ELSE 0 END AS b0,
        |    CASE WHEN nb >= 2 THEN (strpos('0123456789ABCDEF', substr(h, 3, 1)) - 1) * 16
        |                         + (strpos('0123456789ABCDEF', substr(h, 4, 1)) - 1)
        |         ELSE 0 END AS b1 FROM p WHERE kind = 'image'),
        |f AS (SELECT doc_id,
        |    list_transform(range(8), i -> (nb * (i + 1) + b0 * 31 + b1 * 7) % 1000) AS pf
        |    FROM b),
        |hh AS (SELECT doc_id,
        |    CAST(list_sum(list_transform(range(7), i ->
        |      CASE WHEN pf[i + 2] > pf[i + 1] THEN 1 << i ELSE 0 END)) AS BIGINT) AS dhash
        |    FROM f)
        |SELECT dhash, CAST(COUNT(*) AS BIGINT) AS n_images,
        |       MIN(doc_id) AS canonical_doc
        |FROM hh GROUP BY dhash HAVING COUNT(*) >= 2 ORDER BY dhash""".stripMargin,
    "m02_media_features" ->
      """WITH p AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    hex(encode(text)) AS h,
        |    octet_length(encode(text)) AS nb FROM documents),
        |b AS (SELECT doc_id, kind, nb,
        |    CASE WHEN nb >= 1 THEN (strpos('0123456789ABCDEF', substr(h, 1, 1)) - 1) * 16
        |                         + (strpos('0123456789ABCDEF', substr(h, 2, 1)) - 1)
        |         ELSE 0 END AS b0,
        |    CASE WHEN nb >= 2 THEN (strpos('0123456789ABCDEF', substr(h, 3, 1)) - 1) * 16
        |                         + (strpos('0123456789ABCDEF', substr(h, 4, 1)) - 1)
        |         ELSE 0 END AS b1 FROM p)
        |SELECT doc_id, kind,
        |       CAST(16 + b0 % 64 AS INT) AS width,
        |       CAST(16 + b1 % 64 AS INT) AS height,
        |       CAST(CASE WHEN kind = 'video' THEN 1 + nb % 30 ELSE 1 END AS INT) AS n_frames,
        |       CAST(8 AS INT) AS feature_dim,
        |       CAST(list_sum(list_transform(range(8), i ->
        |         (nb * (i + 1) + b0 * 31 + b1 * 7) % 1000)) AS BIGINT) AS feature_permille_sum
        |FROM b ORDER BY doc_id""".stripMargin,
    "m03_frame_sample" ->
      """WITH m AS (SELECT doc_id,
        |    CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    octet_length(encode(text)) AS nb FROM documents),
        |f AS (SELECT doc_id, kind,
        |    CASE WHEN kind = 'video' THEN 1 + nb % 30 ELSE 1 END AS n_frames FROM m)
        |SELECT doc_id, kind, CAST(n_frames AS INT) AS n_frames,
        |       CAST(unnest(range(0, n_frames, 5)) AS INT) AS frame_idx
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
  )
    // the served IVF-PQ probe is hash-identical to s14's in-call
    // fit+encode (deterministic fit over the same corpus and params),
    // so the fit-replaying oracle covers it verbatim — the same
    // two-postures-one-replay framing as c04 riding c03's oracle
    .pipe(m => m + ("s19_knn_ivfpq_served" -> m("s14_knn_ivfpq")))
}
