package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.llm.{Chunking, Coreset, Dedup, LanguageModel, Multimodal, Retrieval, Similarity, TextOps, Topics, WordVectors}

/** Training-data pipeline operators (the "beyond the reference" layer)
  * over the driver's `documents` and `embeddings` tables.
  *
  * Oracle policy: exact/deterministic-arithmetic operators carry DuckDB
  * SQL twins (cross-engine-portable integer hashing, IEEE doubles in a
  * fixed op order — see TextOps). Approximate operators (MinHash-LSH,
  * SimHash, hyperplane ANN) use engine-specific xxhash64 and are
  * rows-only checked by the driver plus recall/property-tested in
  * LlmDedupSpec / AnnSpec against their exact counterparts.
  */
object PipelineQueries {

  private val StopEn = Seq("the", "a", "of", "and", "is", "to")

  /** Fixed probe set for q_bm25_topk. Query 3's "zebra" is not in the
    * corpus vocabulary on purpose — a missing term must contribute
    * zero on both engines (the query-term join simply drops it).
    */
  private val Bm25Queries: Seq[(Int, Seq[String])] = Seq(
    0 -> Seq("key", "row"),
    1 -> Seq("hash", "table"),
    2 -> Seq("merge", "batch", "scan"),
    3 -> Seq("zebra", "join"))
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75

  /** Shared oracle prefix for the PageRank-derived queries: the exact
    * kNN-graph SQL (k = 3), out-degrees, and 10 UNROLLED integer
    * iteration CTEs (damping 17/20 — DuckDB `//` ≡ Spark `div` on
    * positive operands), ending at `pr10(v, mass)`.
    */
  /** The exact kNN-graph SQL (k = 3) ending at `e(src, dst)` — the
    * shared prefix of every graph-layer oracle.
    */
  private lazy val KnnEdgesCte: String =
    s"""WITH q AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
      |  FROM embeddings
      |), n AS (
      |  SELECT vec_id, v,
      |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
      |  FROM q
      |), p AS (
      |  SELECT a.vec_id AS src, b.vec_id AS dst,
      |    CAST(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
      |      sqrt(CAST(a.nsq * b.nsq AS DOUBLE)) AS cos
      |  FROM n a JOIN n b ON b.vec_id != a.vec_id
      |), r AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY src ORDER BY cos DESC, dst) AS rnk
      |  FROM p
      |), e AS MATERIALIZED (SELECT src, dst FROM r WHERE rnk <= 3)""".stripMargin

  /** Sub-quadratic bigram-overlap CTEs, ending at
    * `ix(id_a, id_b, shared, la, lb)` — one row per document pair
    * sharing AT LEAST ONE distinct bigram, with the exact distinct-
    * intersection size and both set sizes.
    *
    * This is the r14 sweep rescue: the original all-pairs form
    * (`t a JOIN t b ON a.doc_id < b.doc_id` + two `list_intersect`
    * calls per pair) is quadratic in documents — 12.5M intersects at
    * sf0.1 — and timed out DuckDB's 120 s sweep budget on every oracle
    * that embeds it. The inverted-index form unnests the distinct
    * grams once and self-joins the postings on the gram (Σf² work —
    * the SAME bound the Spark tier's scaladoc documents for its own
    * postings join), so `count(*)` per (id_a, id_b) group ≡
    * `len(list_intersect(a.grams, b.grams))` on the distinct lists.
    * COMPLETE for any POSITIVE similarity threshold: a pair sharing
    * zero grams has jaccard/containment 0 (or the empty∪empty 0/0
    * NULL the all-pairs form also dropped) and cannot pass. Every CTE
    * is MATERIALIZED — the dedup-cluster oracles reference the pair
    * table from a RECURSIVE reachability step, and DuckDB's default
    * CTE inlining re-derives the whole index per iteration (the
    * `pageRankStepCtes` lesson). Downstream similarity doubles are
    * the SAME integers through the SAME single divide as the
    * all-pairs form, so values stay bit-equal.
    *
    * `langBlocked` adds the `a.lang = b.lang` blocking of the
    * language-tiered dedup queries (lang is per-document, so carrying
    * it on the posting and equi-joining it is the same constraint).
    */
  private def gramIndexCtes(langBlocked: Boolean): String = {
    val langCol = if (langBlocked) ", lang" else ""
    val langJoin = if (langBlocked) " AND a.lang = b.lang" else ""
    s"""t AS MATERIALIZED (
      |  SELECT doc_id$langCol,
      |    list_distinct(CASE WHEN len(toks) >= 2
      |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |      ELSE [] END) AS grams
      |  FROM (SELECT doc_id$langCol, string_split(text, ' ') AS toks FROM documents)
      |), post AS MATERIALIZED (
      |  SELECT doc_id$langCol, len(grams) AS lg, unnest(grams) AS g FROM t
      |), ix AS MATERIALIZED (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
      |    any_value(a.lg) AS la, any_value(b.lg) AS lb
      |  FROM post a JOIN post b ON a.g = b.g AND a.doc_id < b.doc_id$langJoin
      |  GROUP BY 1, 2
      |)""".stripMargin
  }

  /** The jaccard-thresholded pair CTE over `gramIndexCtes`'s `ix`:
    * `p(id_a, id_b, jaccard)` with jaccard ≥ `thresh` (must be > 0
    * for the inverted-index completeness argument).
    */
  private def jaccardPairCte(thresh: String): String =
    s"""p AS MATERIALIZED (
      |  SELECT id_a, id_b,
      |    CAST(shared AS DOUBLE) / CAST(la + lb - shared AS DOUBLE) AS jaccard
      |  FROM ix
      |  WHERE CAST(shared AS DOUBLE) / CAST(la + lb - shared AS DOUBLE) >= $thresh
      |)""".stripMargin

  /** The dedup-cluster reachability fixpoint over the UNBLOCKED 0.5
    * jaccard tier, ending at `reach(node, r)` — the shared prefix of
    * every cluster-keyed oracle (q_dedup_clusters and its consumers:
    * soft weights, weighted mix, cluster splits). Must follow a
    * `WITH RECURSIVE`. `edges` is MATERIALIZED for the same reason as
    * the index CTEs: the recursive step references it every iteration.
    */
  private lazy val DedupReachCtes: String =
    s"""${gramIndexCtes(langBlocked = false)},
      |${jaccardPairCte("0.5")},
      |edges AS MATERIALIZED (
      |  SELECT id_a AS src, id_b AS dst FROM p
      |  UNION SELECT id_b, id_a FROM p
      |), reach AS (
      |  SELECT src AS node, src AS r FROM edges
      |  UNION
      |  SELECT re.node, e.dst FROM reach re JOIN edges e ON e.src = re.r
      |)""".stripMargin

  /** The curation-tier duplicate-victim CTEs: the same inverted-index
    * rescue as `gramIndexCtes`, but scoped to the quality-passed
    * subset `g(doc_id, lang, grams)` that precedes it, lang-blocked,
    * ending at `dup(doc_id)` — the b-side (higher doc_id) of every
    * pair at jaccard ≥ 0.5, exactly the victims the all-pairs form
    * emitted. Shared by q_curation / q_curation_lsh / q_prep_pipeline.
    */
  private lazy val CurationDupCtes: String =
    s"""gpost AS MATERIALIZED (
      |  SELECT doc_id, lang, len(grams) AS lg, unnest(grams) AS gr FROM g
      |), gix AS MATERIALIZED (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared,
      |    any_value(a.lg) AS la, any_value(b.lg) AS lb
      |  FROM gpost a JOIN gpost b
      |    ON a.gr = b.gr AND a.lang = b.lang AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), dup AS MATERIALIZED (
      |  SELECT DISTINCT id_b AS doc_id FROM gix
      |  WHERE CAST(shared AS DOUBLE) / CAST(la + lb - shared AS DOUBLE) >= 0.5
      |)""".stripMargin

  /** The nodes/deg/pr0 + unrolled-iteration CTE chain of the exact
    * integer PageRank, over whatever CTE named `e` (src, dst) precedes
    * it — shared by the kNN-graph oracle (q_pagerank) and the word
    * co-occurrence-graph oracle (q_textrank).
    */
  /** The redirect walk's 8 unrolled linear steps (`redirectAliases`'
    * pinned algorithm): advance through the edge table when the
    * cursor is a source, count the hop, OR-in the exact
    * returned-to-origin flag. `re` (src, dst) and `rp0` are the
    * caller's CTEs.
    */
  private def redirectStepCtes(steps: Int): String =
    (1 to steps).map { k =>
      s"""rp$k AS (
         |  SELECT p.alias_url, coalesce(e.dst, p.cur) AS cur,
         |    p.hops + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END AS hops,
         |    (p.lp OR coalesce(e.dst, p.cur) = p.alias_url) AS lp
         |  FROM rp${k - 1} p LEFT JOIN re e ON p.cur = e.src
         |)""".stripMargin
    }.mkString(",\n")

  private def pageRankStepCtes(iters: Int): String = {
    val step = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT nd.v,
         |    (1000000000000 * 3) // (20 * (SELECT count(*) FROM nodes))
         |      + coalesce(s.inm, 0) AS mass
         |  FROM nodes nd LEFT JOIN (
         |    SELECT e.dst AS v,
         |      CAST(sum((p.mass * 17) // (20 * d.od)) AS BIGINT) AS inm
         |    FROM e JOIN pr${i - 1} p ON e.src = p.v
         |    JOIN deg d ON e.src = d.src
         |    GROUP BY 1) s USING (v))""".stripMargin
    }.mkString(",\n")
    // MATERIALIZED is load-bearing at scale: every iteration references
    // nodes TWICE (the left join + the count subquery), so DuckDB's
    // default CTE inlining re-evaluates the whole edge derivation
    // ~2^iters times — the sf0.1 textrank oracle went from >40 min of
    // CPU to seconds with the bases pinned
    s"""nodes AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),
      |deg AS MATERIALIZED (SELECT src, count(*) AS od FROM e GROUP BY 1),
      |pr0 AS (SELECT v, 1000000000000 // (SELECT count(*) FROM nodes) AS mass
      |        FROM nodes),
      |$step""".stripMargin
  }

  private lazy val PageRankCtes: String =
    s"""$KnnEdgesCte,
      |${pageRankStepCtes(10)}""".stripMargin

  /** Personalized-PageRank oracle steps: same integer map as
    * `pageRankStepCtes`, but the teleport term lands only on the
    * MATERIALIZED seed CTE (src % 50 = 0 over the kNN edges — derived
    * from the edge list on both engines so the seed set is a graph
    * subset by construction) and pr0 starts seed-uniform.
    */
  private def pprStepCtes(iters: Int): String = {
    val step = (1 to iters).map { i =>
      s"""pr$i AS (
         |  SELECT nd.v,
         |    CASE WHEN sd.v IS NOT NULL THEN
         |      (1000000000000 * 3) // (20 * (SELECT count(*) FROM seeds))
         |    ELSE 0 END + coalesce(s.inm, 0) AS mass
         |  FROM nodes nd
         |  LEFT JOIN seeds sd ON nd.v = sd.v
         |  LEFT JOIN (
         |    SELECT e.dst AS v,
         |      CAST(sum((p.mass * 17) // (20 * d.od)) AS BIGINT) AS inm
         |    FROM e JOIN pr${i - 1} p ON e.src = p.v
         |    JOIN deg d ON e.src = d.src
         |    GROUP BY 1) s ON nd.v = s.v)""".stripMargin
    }.mkString(",\n")
    s"""nodes AS MATERIALIZED (SELECT src AS v FROM e UNION SELECT dst FROM e),
      |seeds AS MATERIALIZED (SELECT DISTINCT src AS v FROM e WHERE src % 50 = 0),
      |deg AS MATERIALIZED (SELECT src, count(*) AS od FROM e GROUP BY 1),
      |pr0 AS (
      |  SELECT nd.v,
      |    CASE WHEN sd.v IS NOT NULL THEN
      |      1000000000000 // (SELECT count(*) FROM seeds)
      |    ELSE 0 END AS mass
      |  FROM nodes nd LEFT JOIN seeds sd ON nd.v = sd.v),
      |$step""".stripMargin
  }

  /** k-core peeling oracle: canonical undirected edges, then `rounds`
    * unconditionally unrolled drop-under-k rounds (the Spark side's
    * convergence stop is a no-op past the fixpoint — the bfsHops
    * contract). Every s_i is MATERIALIZED: d_{i+1} references it
    * twice, and DuckDB's default inlining would re-derive the whole
    * chain 2^rounds times (the PageRankCtes lesson).
    */
  private def kcoreStepCtes(rounds: Int, k: Int): String = {
    val step = (1 to rounds).map { i =>
      s"""d$i AS (
         |  SELECT e.src AS id, count(*) AS cd
         |  FROM eu e JOIN s${i - 1} x ON e.src = x.id
         |  JOIN s${i - 1} y ON e.dst = y.id GROUP BY 1),
         |s$i AS MATERIALIZED (SELECT id FROM d$i WHERE cd >= $k)""".stripMargin
    }.mkString(",\n")
    s"""und AS MATERIALIZED (
      |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
      |  FROM e WHERE src != dst),
      |eu AS MATERIALIZED (
      |  SELECT a AS src, b AS dst FROM und
      |  UNION ALL SELECT b, a FROM und),
      |s0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM eu),
      |$step""".stripMargin
  }

  /** Label-propagation oracle: symmetrized edges, seeded base, 5
    * unrolled majority-vote rounds (count desc, label asc tie-break).
    */
  private lazy val LabelPropSql: String = {
    val step = (1 to 5).map { i =>
      s"""lab$i AS (
         |  SELECT b.v,
         |    CASE WHEN b.seed IS NOT NULL THEN b.seed
         |         ELSE coalesce(m.nl, p.lbl) END AS lbl
         |  FROM base b
         |  JOIN lab${i - 1} p ON b.v = p.v
         |  LEFT JOIN (
         |    SELECT dst AS v, nl FROM (
         |      SELECT eu.dst, l.lbl AS nl, count(*) AS c,
         |        row_number() OVER (PARTITION BY eu.dst
         |          ORDER BY count(*) DESC, l.lbl) AS rn
         |      FROM eu JOIN lab${i - 1} l ON eu.src = l.v
         |      WHERE l.lbl IS NOT NULL
         |      GROUP BY eu.dst, l.lbl) x
         |    WHERE rn = 1) m ON b.v = m.v)""".stripMargin
    }.mkString(",\n")
    s"""$KnnEdgesCte,
      |eu AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
      |base AS (SELECT vec_id AS v,
      |           CASE WHEN vec_id % 5 = 0 THEN label END AS seed
      |         FROM embeddings),
      |lab0 AS (SELECT v, seed AS lbl FROM base),
      |$step
      |SELECT b.v AS vec_id, coalesce(lab5.lbl, -1) AS label,
      |  CASE WHEN b.seed IS NOT NULL THEN 'seed'
      |       WHEN lab5.lbl IS NOT NULL THEN 'propagated'
      |       ELSE 'unreached' END AS origin
      |FROM base b JOIN lab5 ON b.v = lab5.v""".stripMargin
  }

  /** k-center greedy oracle: the full Gonzalez trace unrolled — round
    * i's argmin is ORDER BY best, vec_id LIMIT 1 over the incremental
    * best-similarity table, exactly the TakeOrdered the Spark side
    * runs. Every number is either an exact BIGINT (quantized dot,
    * norms) or one IEEE multiply/sqrt/divide/greatest on
    * exactly-representable integers — bit-identical across engines.
    */
  private lazy val CoresetSql: String = {
    def cosTo(l: String, r: String): String =
      s"CAST(list_sum(list_transform(list_zip($l.v, $r.v), z -> z[1] * z[2])) AS DOUBLE)" +
        s" / sqrt(CAST($l.nsq * $r.nsq AS DOUBLE))"
    val k = 8
    val rounds = (2 to k).map { i =>
      val chosen = (1 until i).map(j => s"SELECT vec_id FROM c$j")
        .mkString(" UNION ALL ")
      s"""c$i AS MATERIALIZED (
         |  SELECT vec_id, v, nsq, best FROM b${i - 1}
         |  WHERE vec_id NOT IN ($chosen)
         |  ORDER BY best, vec_id LIMIT 1),
         |b$i AS MATERIALIZED (
         |  SELECT b.vec_id, b.v, b.nsq,
         |    greatest(b.best, ${cosTo("b", "c")}) AS best
         |  FROM b${i - 1} b, c$i c)""".stripMargin
    }.mkString(",\n")
    val out = (2 to k).map(i =>
      s"UNION ALL SELECT vec_id, CAST($i AS INTEGER), best FROM c$i")
      .mkString("\n")
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings
       |), n AS MATERIALIZED (
       |  SELECT vec_id, v,
       |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
       |  FROM q
       |),
       |c1 AS MATERIALIZED (SELECT vec_id, v, nsq FROM n ORDER BY vec_id LIMIT 1),
       |b1 AS MATERIALIZED (
       |  SELECT b.vec_id, b.v, b.nsq, ${cosTo("b", "c")} AS best
       |  FROM n b, c1 c),
       |$rounds
       |SELECT vec_id, CAST(1 AS INTEGER) AS sel_round,
       |  CAST(-2.0 AS DOUBLE) AS far_cos FROM c1
       |$out""".stripMargin
  }

  /** Shared DuckDB-oracle prefix for the layout capstones: the
    * verified cross-doc span-removal chain (L-72, same CTEs as the
    * `q_span_dedup` oracle, `sp_`-prefixed to avoid name collisions)
    * ending in `sp_clean(doc_id, text)`, plus `t0` re-tokenizing the
    * cleaned text — so `q_training_layout` / `q_layout_funnel` replay
    * the same 5-stage chain the Spark side composes.
    */
  /** Shared DuckDB replay of the dHash kernel
    * (functions/MediaFunctions.DHash64Expr): payload bytes via
    * hex-pair extraction (the media payload IS the UTF-8 text in the
    * fake-media fixture), grid cells by ⌊i·72/n⌋, integer cell sums,
    * cross-multiplied mean comparisons — bit 63 is added as
    * Long.MinValue because DuckDB rejects `1 << 63` as overflow.
    * Parameterized on the docs CTE body so the near-dup variant can
    * plant its perturbed copies upstream of the same hash pipeline.
    * Ends with CTE `mdh(doc_id, dhash)`.
    */
  private def mediaDhashSql(docsCte: String): String =
    s"""WITH mdh_docs AS (
       |  $docsCte
       |), mdh_t AS (
       |  SELECT doc_id, hex(encode(text)) AS hx,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS n
       |  FROM mdh_docs
       |), mdh_b AS (
       |  SELECT t.doc_id, (u.i * 72) // t.n AS cell,
       |    CAST(('0x' || substring(t.hx, CAST(2 * u.i + 1 AS INT), 2)) AS BIGINT) AS byte
       |  FROM mdh_t t, (SELECT unnest(range(0, (SELECT max(n) FROM mdh_t))) AS i) u
       |  WHERE u.i < t.n
       |), mdh_cells AS (
       |  SELECT doc_id, cell, CAST(sum(byte) AS BIGINT) AS s,
       |    CAST(count(*) AS BIGINT) AS l
       |  FROM mdh_b GROUP BY 1, 2
       |), mdh_spine AS (
       |  SELECT t.doc_id, u.k FROM mdh_t t, (SELECT unnest(range(0, 72)) AS k) u
       |), mdh_g AS (
       |  SELECT sp.doc_id,
       |    list(coalesce(c.s, 0) ORDER BY sp.k) AS ss,
       |    list(coalesce(c.l, 0) ORDER BY sp.k) AS ll
       |  FROM mdh_spine sp LEFT JOIN mdh_cells c
       |    ON c.doc_id = sp.doc_id AND c.cell = sp.k
       |  GROUP BY 1
       |), mdh AS (
       |  SELECT doc_id,
       |    CAST(coalesce(list_sum(list_transform(range(0, 63), b ->
       |      CASE WHEN ss[CAST((b // 8) * 9 + (b % 8) + 1 AS INT)] *
       |                ll[CAST((b // 8) * 9 + (b % 8) + 2 AS INT)]
       |              > ss[CAST((b // 8) * 9 + (b % 8) + 2 AS INT)] *
       |                ll[CAST((b // 8) * 9 + (b % 8) + 1 AS INT)]
       |           THEN CAST(1 AS BIGINT) << CAST(b AS INT) ELSE 0 END)), 0)
       |     + CASE WHEN ss[71] * ll[72] > ss[72] * ll[71]
       |            THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END
       |      AS BIGINT) AS dhash
       |  FROM mdh_g
       |)""".stripMargin

  private val LayoutSpanPrefixSql: String =
    """WITH sp_t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |sp_h AS (
      |  SELECT doc_id, toks, len(toks) AS n,
      |    list_transform(toks, tok -> list_reduce(
      |      list_prepend(CAST(7 AS BIGINT),
      |        list_transform(range(1, len(tok) + 1), i -> CAST(ascii(tok[i]) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 1000000007)) AS th
      |  FROM sp_t WHERE len(toks) >= 8
      |), sp_w AS (
      |  SELECT doc_id,
      |    list_transform(range(1, n - 6), i -> list_reduce(
      |      list_prepend(CAST(11 AS BIGINT), list_slice(th, i, i + 7)),
      |      (a, b) -> (a * 37 + b) % 1000000007)) AS ws
      |  FROM sp_h
      |), sp_p AS (
      |  SELECT doc_id, CAST(unnest(range(0, len(ws))) AS INTEGER) AS pos,
      |    unnest(ws) AS wh
      |  FROM sp_w
      |), sp_anch AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |    a.pos AS pos_a, b.pos AS pos_b, b.pos - a.pos AS diag
      |  FROM sp_p a JOIN sp_p b ON a.wh = b.wh AND a.doc_id < b.doc_id
      |), sp_isl AS (
      |  SELECT id_a, id_b, diag, pos_a, pos_b,
      |    pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag
      |                               ORDER BY pos_a) AS grp
      |  FROM sp_anch
      |), sp_spans AS (
      |  SELECT id_a, id_b,
      |    CAST(min(pos_a) AS INTEGER) AS pos_a,
      |    CAST(min(pos_b) AS INTEGER) AS pos_b,
      |    CAST(count(*) + 7 AS BIGINT) AS span_tokens
      |  FROM sp_isl GROUP BY id_a, id_b, diag, grp
      |), sp_ver AS (
      |  SELECT s.id_b, s.pos_b, s.span_tokens
      |  FROM sp_spans s
      |  JOIN sp_t ta ON ta.doc_id = s.id_a
      |  JOIN sp_t tb ON tb.doc_id = s.id_b
      |  WHERE list_slice(ta.toks, s.pos_a + 1, s.pos_a + s.span_tokens)
      |      = list_slice(tb.toks, s.pos_b + 1, s.pos_b + s.span_tokens)
      |), sp_ivs AS (
      |  SELECT id_b AS doc_id,
      |    list(struct_pack(s := pos_b, l := span_tokens)) AS ivs
      |  FROM sp_ver GROUP BY id_b
      |), sp_clean AS (
      |  SELECT a.doc_id, COALESCE(array_to_string(
      |    CASE WHEN v.ivs IS NULL THEN a.toks
      |         ELSE list_filter(a.toks, (tok, i) ->
      |           NOT len(list_filter(v.ivs, iv ->
      |             i - 1 >= iv.s AND i - 1 < iv.s + iv.l)) > 0) END,
      |    ' '), '') AS text
      |  FROM sp_t a LEFT JOIN sp_ivs v USING (doc_id)
      |),
      |t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM sp_clean),
      |""".stripMargin

  /** Quality-stat columns shared by q_text_stats and q_curation — the
    * expressions must stay IDENTICAL between uses (and mirrored in the
    * oracle SQL) for cross-engine double determinism.
    */
  private def withStats(df: DataFrame): DataFrame =
    df.withColumn("toks", TextOps.tokens("text"))
      .withColumn("n_tokens", size(col("toks")))
      .withColumn("n_uniq", size(array_distinct(col("toks"))))
      .withColumn("total_chars",
        expr("aggregate(transform(toks, t -> CAST(length(t) AS bigint)), 0L, (a, b) -> a + b)"))
      .withColumn("n_stop", size(
        filter(col("toks"), t => array_contains(typedLit(StopEn), t))))
      .withColumn("ttr", col("n_uniq").cast("double") / col("n_tokens").cast("double"))
      .withColumn("avg_token_len",
        col("total_chars").cast("double") / col("n_tokens").cast("double"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_tokens").cast("double"))
      .withColumn("quality",
        least(col("n_tokens"), lit(60)).cast("double") / lit(60.0) * lit(0.5) +
          col("ttr") * lit(0.3) + col("stop_ratio") * lit(0.2))

  /** Corpus curation with a pluggable near-duplicate arm: quality gate
    * → near-dup removal (keep the lower doc_id of each pair) →
    * per-source corpus stats. `nearDupPairs` maps the quality-passed
    * corpus to (id_a, id_b, …) duplicate pairs — the exact
    * inverted-index tier for oracle runs, MinHash-LSH at corpus scale.
    * Dedup runs on the FILTERED corpus: deduplicating documents the
    * quality gate already dropped would only inflate the pair join.
    */
  private def curation(docs: DataFrame,
                       nearDupPairs: DataFrame => DataFrame,
                       checkpointKept: Boolean = false): DataFrame = {
    // r19 (guide §5): the Σf² exact arm reads `kept` three times
    // (postings a-side, b-side, the anti-join branch) and each re-ran
    // the whole withStats kernel — a narrow checkpoint (no toks array)
    // makes it run once: q_curation 6.81 -> 6.03 s same-JVM min-of-3,
    // exceptAll-equal. The MinHash arm measured the OPPOSITE (1.54 ->
    // 1.62 s — the r18 lazy-re-derivation finding again), so the
    // checkpoint is per-callsite.
    val kept0 = withStats(docs)
      .filter(col("quality") >= 0.55 && col("n_tokens") >= 20)
    val kept =
      if (checkpointKept)
        kept0.select("doc_id", "text", "lang", "source", "n_tokens", "quality")
          .localCheckpoint()
      else kept0
    val dupIds = nearDupPairs(kept).select(col("id_b").as("doc_id")).distinct()
    kept.join(dupIds, Seq("doc_id"), "left_anti")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"))
  }

  /** DuckDB twin of `synthUrls` + the L-264 canonicalization chain —
    * the CTE prefix both crawl-tier oracles build on (`cc` carries
    * (doc_id, url, canonical_url); NULL canonical = malformed).
    */
  /** DuckDB twin of `TextOps.pctNormalizeSql` — the RFC 3986
    * unreserved-octet decode + hex-uppercase over expression `x`,
    * replayed with DuckDB's list functions (the piece/value pair
    * rides a 2-element VARCHAR list, DuckDB's lambda let-binding).
    */
  private def pctDuck(x: String): String =
    s"""concat(
       |      (string_split($x, '%'))[1],
       |      array_to_string(list_transform(
       |        list_transform((string_split($x, '%'))[2:], p ->
       |          [p, CASE WHEN regexp_matches(p, '^[0-9A-Fa-f]{2}')
       |            THEN CAST((strpos('0123456789ABCDEF',
       |                upper(substring(p, 1, 1))) - 1) * 16
       |              + strpos('0123456789ABCDEF',
       |                upper(substring(p, 2, 1))) - 1 AS VARCHAR)
       |            ELSE '-1' END]),
       |        a -> CASE
       |          WHEN CAST(a[2] AS INT) BETWEEN 65 AND 90
       |            OR CAST(a[2] AS INT) BETWEEN 97 AND 122
       |            OR CAST(a[2] AS INT) BETWEEN 48 AND 57
       |            OR CAST(a[2] AS INT) IN (45, 46, 95, 126)
       |            THEN concat(chr(CAST(a[2] AS INT)), substring(a[1], 3))
       |          WHEN CAST(a[2] AS INT) >= 0
       |            THEN concat('%', upper(substring(a[1], 1, 2)),
       |                        substring(a[1], 3))
       |          ELSE concat('%', a[1]) END), ''))""".stripMargin

  private val UrlCanonCtes: String =
    s"""WITH raw AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 97 = 0
      |      THEN concat('www.news-site.com/articles/',
      |                  CAST(doc_id % 250 AS VARCHAR))
      |      ELSE concat(
      |        CASE WHEN doc_id % 3 = 0 THEN 'HTTP'
      |             WHEN doc_id % 3 = 1 THEN 'http' ELSE 'hTtp' END,
      |        '://',
      |        CASE WHEN doc_id % 2 = 0 THEN 'WWW.News-Site.COM'
      |             ELSE 'www.news-site.com' END,
      |        CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END,
      |        CASE WHEN (doc_id % 250) % 11 = 5 AND (doc_id // 250) % 2 = 0
      |               THEN '/artic%6ces/'
      |             WHEN (doc_id % 250) % 11 = 7 AND (doc_id // 250) % 2 = 1
      |               THEN '/artic%6Ces/'
      |             ELSE '/articles/' END,
      |        CAST(doc_id % 250 AS VARCHAR),
      |        CASE WHEN doc_id % 4 = 0 THEN '?b=2&a=1&utm_source=rss'
      |             WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
      |             WHEN doc_id % 4 = 2 THEN '?utm_campaign=x&a=1&gclid=z&b=2'
      |             ELSE '?a=1&utm_medium=&b=2' END,
      |        CASE WHEN (doc_id % 250) % 11 = 3 AND (doc_id // 250) % 2 = 1
      |               THEN '&utm%5fsource=enc'
      |             WHEN (doc_id % 250) % 11 = 9
      |               THEN concat('&z=%2',
      |                 CASE WHEN (doc_id // 250) % 2 = 0
      |                      THEN 'f' ELSE 'F' END, 'x')
      |             ELSE '' END,
      |        CASE WHEN doc_id % 6 = 0 THEN '#comments' ELSE '' END)
      |    END AS url
      |  FROM documents
      |), c1 AS (
      |  SELECT doc_id, url, regexp_replace(url, '#.*$$', '') AS nf FROM raw
      |), c2 AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |    lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)) AS hp,
      |    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1) AS p0,
      |    regexp_extract(nf, '\\?(.*)$$', 1) AS q
      |  FROM c1
      |), c2d AS (
      |  SELECT doc_id, url, sch, hp,
      |    ${pctDuck("(CASE WHEN p0 = '' THEN '/' ELSE p0 END)")} AS pd,
      |    ${pctDuck("q")} AS qd
      |  FROM c2
      |), c3 AS (
      |  SELECT doc_id, url, sch,
      |    CASE WHEN sch = 'http' THEN regexp_replace(hp, ':80$$', '')
      |         WHEN sch = 'https' THEN regexp_replace(hp, ':443$$', '')
      |         ELSE hp END AS host,
      |    pd AS pth,
      |    array_to_string(list_sort(list_filter(string_split(qd, '&'),
      |      p -> p != '' AND NOT regexp_matches(p,
      |        '^(utm_[A-Za-z0-9_]*|gclid|fbclid)(=|$$)'))), '&') AS ps
      |  FROM c2d
      |), cc AS (
      |  SELECT doc_id, url,
      |    CASE WHEN sch = '' OR host = '' THEN NULL
      |      ELSE concat(sch, '://', host, pth,
      |        CASE WHEN ps = '' THEN '' ELSE concat('?', ps) END) END
      |      AS canonical_url
      |  FROM c3
      |)""".stripMargin

  /** Shared raw-URL synth for the crawl-tier queries: deterministic
    * from doc_id, carrying every mess the canonicalizer must absorb
    * (scheme/host case, default port, tracking params in scrambled
    * order, fragments; mod-97 rows are malformed — no scheme). Ids k
    * and k+250 share a path key. Percent-encoding plants are keyed on
    * that SHARED key (doc_id % 250) with per-twin asymmetry via
    * (doc_id div 250) parity, so canonical groups stay intact at
    * every scale factor while exercising the decoder: an encoded-path
    * twin collides with its plain twin (%6c/'%6C' → 'l'), an encoded
    * tracking param (utm%5fsource) is recognized and dropped, and a
    * reserved octet (%2f/%2F) survives undecoded with uppercased hex
    * on BOTH twins. The DuckDB oracles replay the same CASE chain
    * verbatim.
    */
  /** DuckDB twin of `synthLinkPages`: the page's own URLs are built
    * canonical (lowercase https, no port/params), so src_host is the
    * CASE shortcut (the politeness-oracle convention); only the body
    * is replayed verbatim.
    */
  private val LinkPageCtes: String =
    """WITH pages AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 101 = 0 THEN NULL
      |         ELSE concat('h', CAST(doc_id % 20 AS VARCHAR), '.example')
      |    END AS src_host,
      |    (doc_id % 23 = 0) AS has_base,
      |    concat(
      |      CASE WHEN doc_id % 23 = 0
      |        THEN '<base href="https://basehost.example/bdir/"> '
      |        ELSE '' END,
      |      'see HTTP://H', CAST((doc_id // 20) % 20 AS VARCHAR),
      |      '.Example:80/a/', CAST(doc_id % 40 AS VARCHAR),
      |      '?utm_source=x&k=1#f',
      |      ' then https://h', CAST((doc_id // 7) % 20 AS VARCHAR),
      |      '.example/b/', CAST(doc_id % 10 AS VARCHAR), '?z=9&a=0',
      |      CASE WHEN doc_id % 3 = 0
      |        THEN concat(' self https://h', CAST(doc_id % 20 AS VARCHAR),
      |                    '.example/p/', CAST(doc_id + 1 AS VARCHAR))
      |        ELSE '' END,
      |      CASE WHEN doc_id % 13 = 0 THEN ' junk http:///broken'
      |        ELSE '' END,
      |      CASE WHEN doc_id % 2 = 0
      |        THEN concat(' <a href="/rr/', CAST(doc_id % 15 AS VARCHAR),
      |                    '">r</a>')
      |        ELSE concat(' <a href="../up/', CAST(doc_id % 9 AS VARCHAR),
      |                    '">u</a>') END,
      |      CASE WHEN doc_id % 5 = 0
      |        THEN concat(' <a HREF="//H', CAST(doc_id % 11 AS VARCHAR),
      |                    '.Example:443/np">n</a>')
      |        ELSE '' END,
      |      CASE WHEN doc_id % 17 = 0
      |        THEN ' <a href="https://abs.example/via?utm_source=h#f">w</a>'
      |        ELSE '' END,
      |      CASE WHEN doc_id % 7 = 1
      |        THEN concat(' <a href=''sq/', CAST(doc_id % 6 AS VARCHAR),
      |                    '''>s</a>')
      |        ELSE '' END,
      |      ' and plain prose with no further links.') AS body
      |  FROM documents
      |)""".stripMargin

  /** Link-side replay: extract with the SAME RE2-compatible href-or-
    * bare-URL alternation, unwrap href quotes, RESOLVE at host level
    * (r16 — only the HOST of the resolved URL feeds a host edge, and
    * relative/rooted refs inherit the base host by construction, so
    * the §5.2 path algebra drops out of the replay; `q_url_resolve`
    * oracles the path algebra itself), then the fragment-strip →
    * lower-scheme/host → default-port-strip
    * chain — only the HOST of a canonical URL feeds a host edge, so
    * the path/query normalization stages drop out of the replay.
    * Ends in `e0` (doc_id, src_host, dst_host) — one row per
    * extracted reference.
    */
  private val LinkEdgeCtes: String =
    """lx AS (
      |  SELECT doc_id, src_host, has_base,
      |    unnest(regexp_extract_all(
      |      regexp_replace(body,
      |        '(?i)<base\s+href\s*=\s*("[^"]*"|''[^'']*'')', '', 'g'),
      |      '(?i)(?:^|[^\w:-])href\s*=\s*("[^"]*"|''[^'']*'')|\bhttps?://[^\s"<>]+'
      |      )) AS m
      |  FROM pages
      |), lref AS (
      |  SELECT doc_id, src_host, has_base,
      |    CASE WHEN regexp_matches(m, '(?i)^[^h]?href\s*=\s*"')
      |         THEN regexp_extract(m, '"([^"]*)"', 1)
      |         WHEN regexp_matches(m, '(?i)^[^h]?href')
      |         THEN regexp_extract(m, '''([^'']*)''', 1)
      |         ELSE m END AS ref
      |  FROM lx
      |), lres AS (
      |  SELECT doc_id, src_host,
      |    CASE
      |      WHEN regexp_matches(ref, '^[A-Za-z][A-Za-z0-9+.-]*:')
      |        THEN ref
      |      WHEN ref LIKE '//%' THEN
      |        CASE WHEN has_base OR src_host IS NOT NULL
      |             THEN concat('https:', ref) END
      |      WHEN has_base THEN 'https://basehost.example/resolved'
      |      WHEN src_host IS NULL THEN NULL
      |      ELSE concat('https://', src_host, '/resolved')
      |    END AS link
      |  FROM lref
      |), lh AS (
      |  SELECT doc_id, src_host,
      |    lower(regexp_extract(regexp_replace(link, '#.*$', ''),
      |      '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
      |    lower(regexp_extract(regexp_replace(link, '#.*$', ''),
      |      '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)) AS hp
      |  FROM lres
      |), e0 AS (
      |  SELECT doc_id, src_host,
      |    CASE WHEN sch = '' OR h = '' THEN NULL ELSE h END AS dst_host
      |  FROM (SELECT doc_id, src_host, sch,
      |          CASE WHEN sch = 'http' THEN regexp_replace(hp, ':80$', '')
      |               WHEN sch = 'https' THEN regexp_replace(hp, ':443$', '')
      |               ELSE hp END AS h
      |        FROM lh)
      |)""".stripMargin

  /** Shared page synth for the link-graph queries: each doc gets its
    * own URL on host h(doc_id % 20).example (mod-101 rows malformed —
    * no scheme) and a body embedding 3-6 outlinks carrying the
    * canonicalizer's mess (scheme/host case, default port, tracking
    * params, fragments; mod-13 rows plant a hostless `http:///broken`
    * link) PLUS the r16 href plants: every page carries a rooted OR
    * dot-relative href (resolving to its OWN host — or to the NULL
    * audit class on malformed pages, which have no base), mod-5 pages
    * a network-path `HREF="//Host:443/.."` (base scheme + full host
    * canonicalization), mod-17 pages an ABSOLUTE href that must count
    * exactly once (the alternation consumes the whole attribute).
    * Deterministic from doc_id; the DuckDB oracles replay the
    * same CASE chain verbatim. Link targets vary WITHIN a source-host
    * class (div-20 / div-7 / mod-11 hashes), so the host graph is
    * dense enough
    * for the rank oracle to be interesting.
    */
  private def synthLinkPages(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("url", expr(
        """CASE WHEN doc_id % 101 = 0
          |  THEN concat('h', CAST(doc_id % 20 AS STRING), '.example/p/',
          |              CAST(doc_id AS STRING))
          |  ELSE concat('https://h', CAST(doc_id % 20 AS STRING),
          |              '.example/p/', CAST(doc_id AS STRING))
          |END""".stripMargin))
      .withColumn("body", expr(
        """concat(
          |  CASE WHEN doc_id % 23 = 0
          |    THEN '<base href="https://basehost.example/bdir/"> '
          |    ELSE '' END,
          |  'see HTTP://H', CAST((doc_id div 20) % 20 AS STRING),
          |  '.Example:80/a/', CAST(doc_id % 40 AS STRING),
          |  '?utm_source=x&k=1#f',
          |  ' then https://h', CAST((doc_id div 7) % 20 AS STRING),
          |  '.example/b/', CAST(doc_id % 10 AS STRING), '?z=9&a=0',
          |  CASE WHEN doc_id % 3 = 0
          |    THEN concat(' self https://h', CAST(doc_id % 20 AS STRING),
          |                '.example/p/', CAST(doc_id + 1 AS STRING))
          |    ELSE '' END,
          |  CASE WHEN doc_id % 13 = 0 THEN ' junk http:///broken'
          |    ELSE '' END,
          |  CASE WHEN doc_id % 2 = 0
          |    THEN concat(' <a href="/rr/', CAST(doc_id % 15 AS STRING),
          |                '">r</a>')
          |    ELSE concat(' <a href="../up/', CAST(doc_id % 9 AS STRING),
          |                '">u</a>') END,
          |  CASE WHEN doc_id % 5 = 0
          |    THEN concat(' <a HREF="//H', CAST(doc_id % 11 AS STRING),
          |                '.Example:443/np">n</a>')
          |    ELSE '' END,
          |  CASE WHEN doc_id % 17 = 0
          |    THEN ' <a href="https://abs.example/via?utm_source=h#f">w</a>'
          |    ELSE '' END,
          |  CASE WHEN doc_id % 7 = 1
          |    THEN concat(' <a href=''sq/', CAST(doc_id % 6 AS STRING),
          |                '''>s</a>')
          |    ELSE '' END,
          |  ' and plain prose with no further links.')""".stripMargin))

  /** Shared WARC-with-HTTP-messages fixture (r17): three records per
    * file (warcinfo / response whose body is an HTTP/1.1 message /
    * metadata), five response classes by doc_id % 5 — 404, 200
    * text/html with a rooted href + a bare absolute, 200 text/plain,
    * 200 text/html iso-8859-1 with a dot-relative href, and 301 with
    * a Location (relative `/moved/…`; the %20==4 subclass plants an
    * ABSOLUTE Location onto ANOTHER fixture record that is itself a
    * 301 — a cross-record chain). Feeds both the link-graph capstone
    * (`q_warc_http`) and the redirect-map composition
    * (`q_warc_redirects`).
    */
  private def synthWarcHttpFiles(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("u2", concat(lit("https://w"),
        (col("doc_id") % 7).cast("string"), lit(".example/p/"),
        col("doc_id").cast("string")))
      .withColumn("hmsg", expr(
        """CASE CAST(doc_id % 5 AS INT)
          |WHEN 0 THEN concat(
          |  'HTTP/1.1 404 Not Found', char(13), char(10),
          |  'Content-Type: text/html', char(13), char(10),
          |  char(13), char(10), '<html>gone</html>')
          |WHEN 1 THEN concat(
          |  'HTTP/1.1 200 OK', char(13), char(10),
          |  'Content-Type: text/html; charset=UTF-8',
          |  char(13), char(10), char(13), char(10),
          |  '<title> Page &amp; ', CAST(doc_id AS STRING),
          |  ' </title>',
          |  '<link rel="canonical" href="https://w',
          |  CAST(doc_id % 7 AS STRING), '.example/p/',
          |  CAST(doc_id AS STRING), '">',
          |  '<a href="/l/', CAST(doc_id % 5 AS STRING),
          |  '">x</a> see https://x', CAST(doc_id % 3 AS STRING),
          |  '.example/a')
          |WHEN 2 THEN concat(
          |  'HTTP/1.1 200 OK', char(13), char(10),
          |  'Content-Type: text/plain', char(13), char(10),
          |  char(13), char(10),
          |  'not html https://nope.example/skip')
          |WHEN 3 THEN concat(
          |  'HTTP/1.1 200 OK', char(13), char(10),
          |  'Content-Type: text/html; charset=iso-8859-1',
          |  char(13), char(10), char(13), char(10),
          |  '<link rel=''canonical'' href=''/cn/',
          |  CAST(doc_id % 6 AS STRING), '''>',
          |  '<a href=''../r/', CAST(doc_id % 9 AS STRING),
          |  '''>u</a>')
          |ELSE concat(
          |  'HTTP/1.1 301 Moved Permanently', char(13), char(10),
          |  'Location: ',
          |  CASE WHEN doc_id % 20 = 4
          |    THEN concat('https://w', CAST((doc_id + 5) % 7 AS STRING),
          |                '.example/p/', CAST(doc_id + 5 AS STRING))
          |    ELSE concat('/moved/', CAST(doc_id % 9 AS STRING)) END,
          |  char(13), char(10),
          |  'Content-Length: 0', char(13), char(10), char(13), char(10))
          |END""".stripMargin))
      .withColumn("content", expr(
        """CAST(concat(
          |'WARC/1.0', char(13), char(10),
          |'WARC-Type: warcinfo', char(13), char(10),
          |'Content-Length: 4', char(13), char(10), char(13), char(10),
          |'info', char(13), char(10), char(13), char(10),
          |'WARC/1.0', char(13), char(10),
          |'WARC-Type: response', char(13), char(10),
          |'WARC-Target-URI: ', u2, char(13), char(10),
          |'Content-Length: ', CAST(length(hmsg) AS STRING),
          |char(13), char(10), char(13), char(10),
          |hmsg, char(13), char(10), char(13), char(10),
          |'WARC/1.0', char(13), char(10),
          |'WARC-Type: metadata', char(13), char(10),
          |'Content-Length: 4', char(13), char(10), char(13), char(10),
          |'meta', char(13), char(10), char(13), char(10)) AS BINARY)"""
          .stripMargin))
      .select("doc_id", "content")

  /** The q_warc_http page stage: container walk → response records →
    * HTTP parse → status-200 text/html gate → charset-aware decode.
    * One lineage (the uri passthrough rides inside the HTTP walk).
    */
  private def warcHttpPages(s: SparkSession, dir: String): DataFrame = {
    val recs = TextOps.warcRecords(synthWarcHttpFiles(s, dir),
        "doc_id", "content")
      .filter(col("warc_type") === "response" && col("status") === "ok")
    TextOps.httpResponses(recs, "file_id", "target_uri", "body")
      .filter(col("status") === "ok" && col("status_code") === 200 &&
        col("mime") === "text/html")
      .select(col("msg_id"), col("uri"),
        TextOps.decodeTextPayload(col("payload"), col("charset"))
          .as("page_text"))
  }

  /** Persisted host-authority table for the frontier query — the
    * ModelStore/DenseIndex amortization pattern applied to the link
    * graph: a production crawler recomputes PageRank once per
    * REFRESH (hours), not once per fetch batch (seconds), so the
    * batch query must read a persisted table, not re-iterate. The
    * build step (hostLinkGraph → 8-iteration integer PageRank → one
    * parquet write, the exact chain `q_host_rank` gates) runs once
    * per (JVM, sf-dir) and memoizes the path; every later call — and
    * every bench pass after the first — reads the hosts-sized
    * parquet. The table is deterministic from the fixture, so
    * build-once ≡ build-always (the DuckDB oracle still replays the
    * full chain and value-agrees).
    */
  private val authorityStore =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Memo key = dir PLUS a fingerprint of the fixture file the build
    * derives from (size + mtime of documents.parquet — r17 ADVICE
    * fix: a dir-only key served a stale authority table if the
    * fixture was regenerated in place within one JVM). The temp dirs
    * come from `TempDirs`, which deletes them at JVM exit.
    */
  private def fixtureFingerprint(dir: String): String = {
    val p = java.nio.file.Paths.get(dir, "documents.parquet")
    val (sz, mt) =
      try {
        if (java.nio.file.Files.isDirectory(p)) {
          // parquet "file" may be a directory of part files: fold
          // each part's (size, mtime) so any rewrite moves the key
          val st = java.nio.file.Files.list(p)
          try {
            var s = 0L; var m = 0L
            st.forEach { f =>
              s += java.nio.file.Files.size(f)
              m = math.max(m,
                java.nio.file.Files.getLastModifiedTime(f).toMillis)
            }
            (s, m)
          } finally st.close()
        } else (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)
      } catch { case _: java.io.IOException => (0L, 0L) }
    s"$dir|$sz|$mt"
  }

  private def hostAuthorityPath(s: SparkSession, dir: String): String =
    authorityStore.computeIfAbsent(fixtureFingerprint(dir), _ => {
      // same eager checkpoint as q_host_rank: the build step extracts
      // once, iterates on the hosts²-bounded edge list (r19: filter
      // AFTER the checkpoint — see q_host_rank's re-substitution note)
      val edges = TextOps.hostLinkGraph(synthLinkPages(s, dir), "doc_id",
          "url", "body")
        .localCheckpoint(true)
        .filter(col("src_host").isNotNull && col("dst_host").isNotNull &&
          col("src_host") =!= col("dst_host"))
        .select(col("src_host"), col("dst_host"))
      val authority = graft.analytics.PageRank.pageRank(edges,
        "src_host", "dst_host", iters = 8, topN = 50)
      val root = TempDirs.create("graft_authority_")
      val path = root.toString + "/authority"
      // hosts-sized by construction (topN caps it): one small file
      authority.coalesce(1).write.mode("overwrite").parquet(path)
      path
    })

  private def synthUrls(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"))
      .withColumn("url", expr(
        """CASE WHEN doc_id % 97 = 0
          |  THEN concat('www.news-site.com/articles/',
          |              CAST(doc_id % 250 AS STRING))
          |  ELSE concat(
          |    CASE WHEN doc_id % 3 = 0 THEN 'HTTP'
          |         WHEN doc_id % 3 = 1 THEN 'http' ELSE 'hTtp' END,
          |    '://',
          |    CASE WHEN doc_id % 2 = 0 THEN 'WWW.News-Site.COM'
          |         ELSE 'www.news-site.com' END,
          |    CASE WHEN doc_id % 5 = 0 THEN ':80' ELSE '' END,
          |    CASE WHEN (doc_id % 250) % 11 = 5 AND (doc_id div 250) % 2 = 0
          |           THEN '/artic%6ces/'
          |         WHEN (doc_id % 250) % 11 = 7 AND (doc_id div 250) % 2 = 1
          |           THEN '/artic%6Ces/'
          |         ELSE '/articles/' END,
          |    CAST(doc_id % 250 AS STRING),
          |    CASE WHEN doc_id % 4 = 0 THEN '?b=2&a=1&utm_source=rss'
          |         WHEN doc_id % 4 = 1 THEN '?a=1&b=2'
          |         WHEN doc_id % 4 = 2 THEN '?utm_campaign=x&a=1&gclid=z&b=2'
          |         ELSE '?a=1&utm_medium=&b=2' END,
          |    CASE WHEN (doc_id % 250) % 11 = 3 AND (doc_id div 250) % 2 = 1
          |           THEN '&utm%5fsource=enc'
          |         WHEN (doc_id % 250) % 11 = 9
          |           THEN concat('&z=%2',
          |             CASE WHEN (doc_id div 250) % 2 = 0
          |                  THEN 'f' ELSE 'F' END, 'x')
          |         ELSE '' END,
          |    CASE WHEN doc_id % 6 = 0 THEN '#comments' ELSE '' END)
          |END""".stripMargin))

  /** Synth robots.txt corpus: ten hosts (doc_id % 10, SF-stable),
    * each body planting one parser edge — orphan rules, a dedicated
    * agent group hiding the star group, case-insensitive agents and
    * directives with comments and CRLF, multi-UA group heads, the
    * empty-Disallow allow-all idiom, same-agent group merging, a
    * group for another agent only, junk crawl-delay, a FRACTIONAL
    * crawl-delay (rb8's 0.5 → pinned ceil 1), unknown
    * directives and a value containing ':', and wildcard/anchor
    * patterns flowing into the policy language. Bodies are built
    * from char(10)/char(13) so both engines replay byte-identical
    * strings (no escape-sequence dialect in the loop).
    */
  private def synthRobots(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select((col("doc_id") % 10).cast("int").as("h")).distinct()
      .withColumn("host",
        concat(lit("rb"), col("h").cast("string"), lit(".example")))
      .withColumn("content", expr(
        """CASE h
          |WHEN 0 THEN concat_ws(char(10),
          |  'Disallow: /orphan', 'Sitemap:',
          |  'User-agent: *', 'Disallow: /tmp/*', 'Allow: /tmp/public')
          |WHEN 1 THEN concat_ws(char(10),
          |  'User-agent: *', 'Disallow: /', '',
          |  'User-agent: graftbot', 'Allow: /a$', 'Disallow: /a')
          |WHEN 2 THEN concat_ws(char(10),
          |  concat('# robots for rb2', char(13)),
          |  concat('USER-AGENT: GraftBot', char(13)),
          |  concat('DISALLOW: /private', char(13)),
          |  concat('Crawl-Delay: 7', char(13)))
          |WHEN 3 THEN concat_ws(char(10),
          |  'User-agent: otherbot', 'User-agent: graftbot',
          |  'Disallow: /x', 'Crawl-delay: 3',
          |  'Sitemap: https://offline.example/m.xml')
          |WHEN 4 THEN concat_ws(char(10),
          |  'User-agent: *', 'Crawl-delay: 0', 'Disallow:')
          |WHEN 5 THEN concat_ws(char(10),
          |  'User-agent: graftbot', 'Disallow: /one', 'Crawl-delay: 9',
          |  'User-agent: graftbot', 'Allow: /two', 'Crawl-delay: 4')
          |WHEN 6 THEN concat_ws(char(10),
          |  'User-agent: otherbot', 'Disallow: /',
          |  'Sitemap: https://sm1.example/map.xml')
          |WHEN 7 THEN concat_ws(char(10),
          |  'User-agent: graftbot', 'Crawl-delay: fast',
          |  'Disallow: /slow')
          |WHEN 8 THEN concat_ws(char(10),
          |  'User-agent: *', '',
          |  'Sitemap: https://sm4.example/map.xml',
          |  'Crawl-delay: 0.5',
          |  'Disallow: /p:q')
          |ELSE concat_ws(char(10),
          |  'User-agent: *', 'Disallow: /cal/*', 'Allow: /cal/today$')
          |END""".stripMargin))
      .select("host", "content")

  /** Synth sitemap corpus: five hosts (doc_id % 5, SF-stable), one
    * body each — pretty-printed blocks, an `&amp;` query-string
    * entity, a loc-less malformed block, whitespace-padded loc, a
    * `<sitemapindex>` pointer file (its `<sitemap>` blocks surface
    * as is_index=true fetch-list rows, r16), compact
    * single-line blocks, and an `&amp;lt;` double-escape that must
    * decode to the literal `&lt;` the author escaped.
    */
  private def synthSitemaps(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select((col("doc_id") % 5).cast("int").as("h")).distinct()
      .withColumn("host",
        concat(lit("sm"), col("h").cast("string"), lit(".example")))
      .withColumn("content", expr(
        """CASE h
          |WHEN 0 THEN concat_ws(char(10),
          |  '<?xml version="1.0"?>',
          |  '<urlset>',
          |  '  <url>',
          |  '    <loc>https://sm0.example/a</loc>',
          |  '    <lastmod>2024-01-05</lastmod>',
          |  '    <changefreq>daily</changefreq>',
          |  '    <priority>0.8</priority>',
          |  '  </url>',
          |  '  <url>',
          |  '    <loc>https://sm0.example/b</loc>',
          |  '    <lastmod>2024-02-06T10:00:00Z</lastmod>',
          |  '    <changefreq>WEEKLY</changefreq>',
          |  '    <priority>1.0</priority>',
          |  '  </url>',
          |  '</urlset>')
          |WHEN 1 THEN concat(
          |  '<urlset><url><loc>https://sm1.example/p?a=1&amp;b=2',
          |  '</loc></url></urlset>')
          |WHEN 2 THEN concat_ws(char(10),
          |  '<urlset>',
          |  concat('<url><lastmod>2024-03-01</lastmod>',
          |         '<changefreq>sometimes</changefreq></url>'),
          |  concat('<url><loc> https://sm2.example/ws </loc>',
          |         '<priority>1.5</priority></url>'),
          |  '</urlset>')
          |WHEN 3 THEN concat(
          |  '<sitemapindex><sitemap><loc>https://sm3.example/more.xml',
          |  '</loc></sitemap></sitemapindex>')
          |ELSE concat_ws(char(10),
          |  '<urlset>',
          |  '<url><loc>https://sm4.example/x</loc><priority>0</priority></url>',
          |  concat('<url><loc>https://sm4.example/y</loc>',
          |         '<lastmod>2024-04-01</lastmod>',
          |         '<priority>0.55</priority></url>'),
          |  concat('<url><loc>https://sm4.example/z&amp;lt;esc</loc>',
          |         '<changefreq>never</changefreq></url>'),
          |  '</urlset>')
          |END""".stripMargin))
      .select("host", "content")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // -- crawl INGEST: WARC container splitting — three records per
    //    synth file (warcinfo / response-with-a-'WARC/1.0'-red-herring
    //    INSIDE the body / metadata), walked by Content-Length. The
    //    oracle is the GENERATOR shortcut (it emits the records the
    //    fixture wrote): a delimiter-split walker would cut the
    //    red-herring body and hash-mismatch instantly. Quarantine /
    //    truncation mechanics are spec laws (hand bytes). ------------
    "q_warc_records" -> ((s, dir) => {
      val files = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("b1", concat(lit("graft warcinfo "),
          col("doc_id").cast("string")))
        .withColumn("b2", concat(lit("payload with WARC/1.0 inside "),
          col("doc_id").cast("string")))
        .withColumn("u2", concat(lit("https://w"),
          (col("doc_id") % 7).cast("string"), lit(".example/p/"),
          col("doc_id").cast("string")))
        .withColumn("content", expr(
          """CAST(concat(
            |'WARC/1.0', char(13), char(10),
            |'WARC-Type: warcinfo', char(13), char(10),
            |'Content-Length: ', CAST(length(b1) AS STRING),
            |char(13), char(10), char(13), char(10),
            |b1, char(13), char(10), char(13), char(10),
            |'WARC/1.0', char(13), char(10),
            |'WARC-Type: response', char(13), char(10),
            |'WARC-Target-URI: ', u2, char(13), char(10),
            |'Content-Length: ', CAST(length(b2) AS STRING),
            |char(13), char(10), char(13), char(10),
            |b2, char(13), char(10), char(13), char(10),
            |'WARC/1.0', char(13), char(10),
            |'WARC-Type: metadata', char(13), char(10),
            |'Content-Length: 4', char(13), char(10), char(13), char(10),
            |'meta', char(13), char(10), char(13), char(10)) AS BINARY)"""
            .stripMargin))
      TextOps.warcRecords(files, "doc_id", "content")
        .select(col("file_id"), col("rec_idx"), col("warc_type"),
          col("target_uri"), col("content_length"),
          col("body").cast("string").as("body_text"), col("status"))
    }),

    // -- crawl INGEST, the .warc.gz layout: the SAME three records as
    //    q_warc_records but each compressed as its own gzip MEMBER
    //    (CommonCrawl's actual shipping format) — the member walk
    //    (RFC 1952 header fields, raw inflate, CRC32/ISIZE trailer
    //    verify) must recover record parity with the uncompressed
    //    twin. Oracle = the generator shortcut (same convention);
    //    corrupt-member re-sync is a spec law (hand bytes). ----------
    "q_warc_records_gz" -> ((s, dir) => {
      import s.implicits._
      val files = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { docId =>
          val crlf = "\r\n"
          def rec(headers: Seq[String], body: String): Array[Byte] =
            (Seq("WARC/1.0") ++ headers ++
              Seq(s"Content-Length: ${body.getBytes("UTF-8").length}",
                "", body, "", "")).mkString(crlf)
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          def gz(raw: Array[Byte]): Array[Byte] = {
            val bos = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bos)
            g.write(raw); g.close()
            bos.toByteArray
          }
          val b1 = s"graft warcinfo $docId"
          val b2 = s"payload with WARC/1.0 inside $docId"
          val u2 = s"https://w${docId % 7}.example/p/$docId"
          (docId,
            gz(rec(Seq("WARC-Type: warcinfo"), b1)) ++
              gz(rec(Seq("WARC-Type: response",
                s"WARC-Target-URI: $u2"), b2)) ++
              gz(rec(Seq("WARC-Type: metadata"), "meta")))
        }.toDF("doc_id", "content")
      TextOps.warcRecordsGz(files, "doc_id", "content")
        .select(col("file_id"), col("rec_idx"), col("warc_type"),
          col("target_uri"), col("content_length"),
          col("body").cast("string").as("body_text"), col("status"))
    }),

    // -- crawl INGEST, the HTTP layer (r17): a WARC response body IS
    //    an HTTP/1.1 message — ten fixture classes exercise every
    //    pinned tolerance (folded Content-Type, chunked
    //    transfer-coding in mixed-case hex with an extension, bare-LF
    //    endings, quoted charset + first-wins duplicate header, the
    //    no-reason status form, junk header lines) and every LOUD
    //    class (missing status line with the raw bytes kept,
    //    truncated headers with the parsed prefix visible, a
    //    mid-stream bad chunk keeping the bytes decoded so far).
    //    Oracle = the generator shortcut (the parser must reproduce
    //    what the fixture wrote). Map-only, 1-in-1-out conservation
    //    is a spec law. -------------------------------------------
    "q_http_response" -> ((s, dir) => {
      import s.implicits._
      // r18 overlays on the ten classes: c0 carries an ETag and c3 a
      // Last-Modified (the validator columns), c2's chunked body is
      // CE-gzip UNDER the chunking (TE-then-CE layering, decoded
      // text unchanged — the oracle pins the same string), c6's body
      // is RAW-deflate (the historic-server fallback arm), c1 claims
      // CE-gzip over non-gzip bytes (the loud corrupt class), c7
      // claims brotli (the loud unsupported class).
      val files = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { docId =>
          val crlf = "\r\n"
          val html = s"<html>page $docId</html>"
          def b(parts: String*): Array[Byte] = parts.mkString
            .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
          def gz(t: String): Array[Byte] = {
            val bo = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bo)
            g.write(t.getBytes(
              java.nio.charset.StandardCharsets.ISO_8859_1))
            g.close(); bo.toByteArray
          }
          def deflRaw(t: String): Array[Byte] = {
            val d = new java.util.zip.Deflater(
              java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
            d.setInput(t.getBytes(
              java.nio.charset.StandardCharsets.ISO_8859_1))
            d.finish()
            val buf = new Array[Byte](65536)
            val m = d.deflate(buf); d.end()
            java.util.Arrays.copyOfRange(buf, 0, m)
          }
          val msg: Array[Byte] = (docId % 10).toInt match {
            case 0 => b(s"HTTP/1.1 200 OK$crlf",
              s"Content-Type: text/html; charset=UTF-8$crlf",
              s"ETag: \"e$docId\"$crlf",
              s"Content-Length: ${html.length}$crlf", crlf, html)
            case 1 => b(s"HTTP/1.1 200 OK$crlf",
              s"Content-Type: text/html;$crlf",
              s" charset=iso-8859-1$crlf",
              s"Content-Encoding: gzip$crlf", crlf, html)
            case 2 =>
              val gzAll = gz(s"chunk one $docId and chunk two")
              val (g1, g2) = gzAll.splitAt(5)
              b(s"HTTP/1.1 200 OK$crlf",
                s"Content-Type: text/plain$crlf",
                s"Content-Encoding: gzip$crlf",
                s"Transfer-Encoding: chunked$crlf", crlf,
                java.lang.Long.toHexString(g1.length.toLong), crlf) ++
                g1 ++ b(crlf,
                java.lang.Long.toHexString(g2.length.toLong)
                  .toUpperCase + ";ext=1", crlf) ++ g2 ++ b(crlf,
                "0", crlf, crlf)
            case 3 => b("HTTP/1.1 404 Not Found\n",
              "Content-Type: text/plain\n",
              "Last-Modified: Wed, 01 Jan 2025 00:00:00 GMT\n",
              "\n", s"missing $docId")
            case 4 => b(s"HTTP/1.1 301 Moved Permanently$crlf",
              s"Location: /moved/$docId$crlf",
              s"Content-Length: 0$crlf", crlf)
            case 5 => b(s"<html>lost header $docId</html>")
            case 6 => b(s"HTTP/1.1 200 OK$crlf",
              "CONTENT-TYPE: TEXT/HTML; CHARSET=\"UTF-8\"" + crlf,
              s"Content-Type: text/plain$crlf",
              s"Content-Encoding: deflate$crlf",
              s"Content-Length: ${html.length}$crlf", crlf) ++
              deflRaw(html)
            case 7 => b(s"HTTP/1.1 204$crlf",
              s"this line has no colon and is skipped$crlf",
              s"Content-Encoding: br$crlf",
              s"Content-Length: 0$crlf", crlf, "brotli bytes")
            case 8 => b(s"HTTP/1.1 200 OK$crlf",
              "Content-Type: text/html")
            case _ => b(s"HTTP/1.1 200 OK$crlf",
              s"Transfer-Encoding: chunked$crlf", crlf,
              "a", crlf, "partial ok", crlf,
              "zz", crlf)
          }
          (docId, s"https://hx${docId % 10}.example/p/$docId", msg)
        }.toDF("doc_id", "uri", "content")
      TextOps.httpResponses(files, "doc_id", "uri", "content")
        .select(col("msg_id"), col("uri"), col("status_code"),
          col("reason"), col("mime"), col("charset"),
          col("content_length"), col("location"),
          col("etag"), col("last_modified"),
          col("payload").cast("string").as("payload_text"), col("status"))
    }),

    // -- crawl INGEST, charset precedence (r17): the HTML5 §13.2.3.2
    //    byte-prescan composed with the HTTP header — eight classes:
    //    header-beats-meta, meta windows-1252 driving real smart-
    //    quote bytes, no-declaration UTF-8 default, the legacy
    //    http-equiv form, a meta tag PAST the 1024-byte prescan
    //    window (invisible by contract — the boundary law), the
    //    bare unquoted attribute form, and (r18) CE-gzip / CE-zlib
    //    bodies whose prescan+decode run over the DECOMPRESSED
    //    payload. Oracle = closed form of the eight classes. --------
    "q_http_charset" -> ((s, dir) => {
      import s.implicits._
      // r18: classes 6/7 arrive CONTENT-ENCODED (gzip / zlib
      // deflate) — the meta-charset prescan and the decode chain
      // must run over the DECOMPRESSED payload, which is exactly
      // what `httpResponses` hands downstream
      val files = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .map { k =>
          def b(t: String): Array[Byte] = t.getBytes("ISO-8859-1")
          def gz(raw: Array[Byte]): Array[Byte] = {
            val bo = new java.io.ByteArrayOutputStream()
            val g = new java.util.zip.GZIPOutputStream(bo)
            g.write(raw); g.close(); bo.toByteArray
          }
          def zlib(raw: Array[Byte]): Array[Byte] = {
            val d = new java.util.zip.Deflater()
            d.setInput(raw); d.finish()
            val buf = new Array[Byte](65536)
            val m = d.deflate(buf); d.end()
            java.util.Arrays.copyOfRange(buf, 0, m)
          }
          val body: Array[Byte] = (k % 8).toInt match {
            case 0 => b("<meta charset=\"utf-8\">h") ++
              Array(0xe9.toByte)
            case 1 => b("<meta charset=\"windows-1252\">") ++
              Array(0x93.toByte) ++ b("A") ++ Array(0x94.toByte)
            case 2 => b(s"plain $k")
            case 3 => b("<meta http-equiv=\"Content-Type\" " +
              "content=\"text/html; charset=ISO-8859-1\">h") ++
              Array(0xe9.toByte)
            case 4 => b("x" * 1100 +
              s"""<meta charset="iso-8859-1"> tail $k""")
            case 5 => b(s"<meta charset=utf-8 > five $k")
            case 6 => gz(b(s"<meta charset=utf-8>gz ok $k"))
            case _ => zlib(b(s"zlib seven $k"))
          }
          val hdr = (k % 8).toInt match {
            case 0 => "Content-Type: text/html; charset=iso-8859-1\r\n"
            case 1 => "Content-Type: text/html\r\n"
            case 6 => "Content-Encoding: gzip\r\n"
            case 7 => "Content-Encoding: deflate\r\n"
            case _ => ""
          }
          (k, s"https://cs.example/p/$k",
            b(s"HTTP/1.1 200 OK\r\n$hdr\r\n") ++ body)
        }.toDF("doc_id", "uri", "content")
      val parsed = TextOps.httpResponses(files, "doc_id", "uri",
        "content")
      parsed.select(col("msg_id"),
        col("charset").as("http_charset"),
        TextOps.sniffMetaCharset(col("payload")).as("meta_charset"),
        TextOps.effectiveTextPayload(col("payload"), col("charset"))
          .as("page_text"))
    }),

    // -- crawl INGEST→EXTRACT capstone (r17): the first end-to-end
    //    WARC→link-graph lineage — WARC container walk → response
    //    records → HTTP parse → status-200 text/html gate →
    //    charset-aware payload decode → hostLinkGraph. ONE lineage
    //    (the uri passthrough rides inside the HTTP walk — no
    //    join-back re-derivation); the 404 / non-html classes drop at
    //    the gate VISIBLY upstream (their parse rows exist in
    //    q_http_response's twin operator), never silently. Oracle =
    //    closed form of the planted links. ------------------------
    "q_warc_http" -> ((s, dir) =>
      TextOps.hostLinkGraph(warcHttpPages(s, dir), "msg_id", "uri",
        "page_text")),

    // -- crawl INGEST→DEDUP-SIGNAL composition (r17): the OTHER
    //    consumer VERDICT r16 item 2 named — canonicalLinks fed from
    //    the decoded WARC payload (the fixture's html classes plant
    //    an absolute self declaration and a single-quoted rooted
    //    cross declaration; both tags double as href link plants in
    //    q_warc_http's edge count, the shared-fixture convention).
    //    Same single lineage as the link-graph capstone. -----------
    "q_warc_canonical" -> ((s, dir) =>
      TextOps.canonicalLinks(warcHttpPages(s, dir), "msg_id", "uri",
        "page_text")),

    // -- crawl INGEST→TEXT capstone (r18, VERDICT r17 "What's
    //    missing" #2): the lineage that ends in USABLE TEXT — WARC
    //    walk → HTTP parse → 200/text-html gate → charset decode →
    //    visible-text extraction + title. One lineage, map-only end
    //    to end (plan-gated: one parquet scan, zero Exchange); the
    //    title surfaces ONLY in its own column (the one-owner law).
    //    Oracle = closed form of the two html classes. -------------
    "q_warc_text" -> ((s, dir) => {
      val pages = warcHttpPages(s, dir)
      pages.select(col("msg_id"), col("uri"),
        TextOps.pageTitle(col("page_text")).as("title"),
        TextOps.visibleText(col("page_text")).as("text"))
    }),

    // -- crawl INGEST→IDENTITY composition (r17): the redirect map a
    //    real reader derives from the SAME WARC pass — response
    //    records → HTTP parse → 3xx gate → Location resolved against
    //    the request URI (RFC 3986, relative Locations are
    //    everywhere) → redirectAliases. The %20 class plants
    //    CROSS-RECORD chains (an absolute Location onto another
    //    fixture record that is ITSELF a 301 — hops 2 when the
    //    partner exists, the step replay absorbs the SF boundary).
    //    Oracle = the edge closed form + the same 8 unrolled walk
    //    steps. ----------------------------------------------------
    "q_warc_redirects" -> ((s, dir) => {
      val recs = TextOps.warcRecords(synthWarcHttpFiles(s, dir),
          "doc_id", "content")
        .filter(col("warc_type") === "response" && col("status") === "ok")
      val parsed = TextOps.httpResponses(recs, "file_id", "target_uri",
          "body")
        .filter(col("status") === "ok" &&
          col("status_code").between(300, 399) &&
          col("location").isNotNull)
      // request URIs are built canonical and Locations resolve onto
      // them, so no canonicalizer pass is needed here by
      // construction (the frontier fixture convention)
      val resolved = TextOps.resolveUrl(parsed, "uri", "location")
      TextOps.redirectAliases(resolved, "uri", "resolved_url",
        "status_code")
    }),

    // -- crawl DISCOVERY: sitemap parsing — one row per <url> block
    //    (loc required, missing -> the loud NULL class; lastmod
    //    optional verbatim), XML entities decoded with &amp; last;
    //    sitemapindex files contribute their <sitemap> pointers as
    //    fetch-list rows flagged is_index=true (r16). Row-local block
    //    regex over hosts-sized bodies — full oracle. ---------------
    "q_sitemap_urls" -> ((s, dir) =>
      TextOps.sitemapUrls(synthSitemaps(s, dir), "host", "content")),

    // -- crawl compliance, stage 0: robots.txt PARSING into the rule
    //    table urlPolicyFilter consumes — RFC 9309 groups, published
    //    group-selection (exact agent beats *, non-matching groups
    //    contribute NOTHING, same-specificity groups merge), the
    //    empty-Disallow allow-all idiom, orphan rules dropped as the
    //    RFC prescribes. Hosts-sized by nature; host-keyed windows
    //    and collapses only — full oracle. --------------------------
    "q_robots_rules" -> ((s, dir) =>
      TextOps.robotsRules(synthRobots(s, dir), "host", "content",
        agent = "graftbot")),

    // -- crawl compliance COMPOSITION capstone: raw robots.txt bodies
    //    → Crawl-delay extraction → per-host quota derivation
    //    (quota = greatest(1, window div greatest(delay, 1)) — a 7 s
    //    delay in a 600 s window allows 85 fetches; a ZERO delay —
    //    legal robots.txt meaning "no delay" — pins to the full
    //    window's 600, never a division error, rb4 plants it) → the
    //    politeness schedule,
    //    zero glue beyond the one pinned arithmetic step. Junk-delay
    //    hosts (NULL, loud in q_robots_delays) carry NO rule and ride
    //    the global default by the politeness coalesce contract.
    //    Full oracle through the parse, the selection, the derivation
    //    and the rank. ----------------------------------------------
    "q_politeness_from_robots" -> ((s, dir) => {
      val quotas = TextOps.robotsCrawlDelays(synthRobots(s, dir),
          "host", "content", agent = "graftbot")
        .filter(col("crawl_delay").isNotNull)
        .select(col("host"),
          greatest(lit(1L), expr("600 div greatest(crawl_delay, 1L)")).cast("int")
            .as("quota"))
      val feed = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("url", expr(
          """concat('https://rb', CAST(doc_id % 10 AS STRING),
            |       '.example/q/', CAST(doc_id AS STRING))"""
            .stripMargin))
        .withColumn("ts", expr(
          """timestamp_seconds(1704067200 + CASE WHEN doc_id % 10 = 2
            |  THEN doc_id % 120 ELSE doc_id % 2400 END)""".stripMargin))
      TextOps.politenessSchedule(
        TextOps.canonicalizeUrl(feed, "url"), "canonical_url",
        "doc_id", "ts", windowSeconds = 600L, perHostQuota = 4,
        hostQuotas = Some(quotas))
    }),

    // -- crawl tier capstone v3: the funnel driven END TO END by raw
    //    robots.txt bodies — robotsRules feeds the policy stage (the
    //    first time WILDCARD/ANCHOR rules flow through the funnel:
    //    /tmp/public carve-out beats the /tmp/* wildcard, /a$ anchor
    //    beats /a on the exact path, /cal/today$ survives /cal/*) and
    //    robotsCrawlDelays feeds the per-host quotas (rb3's delay 3 →
    //    quota 200 schedules everything; default hosts at 6 defer).
    //    The otherbot-only host (rb6) reaches the scheduler on pure
    //    default-allow. Full oracle: one SQL lineage from the robots
    //    parse through group-selection, LIKE compilation, first-seen
    //    dedup, precedence, quota derivation and the window rank. ----
    "q_crawl_report_from_robots" -> ((s, dir) => {
      val robots = synthRobots(s, dir)
      // r19: rules and delays share ONE parse + group-selection via
      // the checkpointed directive bundle (guide §2.2) — the dual
      // standalone extractors ran the host-keyed parse chain twice
      val (rules, delays) = TextOps.robotsPolicyBundle(robots, "host",
        "content", agent = "graftbot")
      val quotas = delays
        .filter(col("crawl_delay").isNotNull)
        .select(col("host"),
          greatest(lit(1L), expr("600 div greatest(crawl_delay, 1L)")).cast("int")
            .as("quota"))
      val feed = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("url", expr(
          """CASE WHEN doc_id % 97 = 0
            |  THEN concat('rb', CAST(doc_id % 10 AS STRING), '.example')
            |  ELSE concat('https://rb', CAST(doc_id % 10 AS STRING),
            |    '.example',
            |    CASE CAST(doc_id % 10 AS INT)
            |      WHEN 0 THEN CASE WHEN doc_id % 3 = 0
            |        THEN concat('/tmp/public', CAST(doc_id % 300 AS STRING))
            |        ELSE concat('/tmp/x', CAST(doc_id % 300 AS STRING)) END
            |      WHEN 1 THEN CASE WHEN doc_id % 3 = 0 THEN '/a'
            |        ELSE concat('/a/', CAST(doc_id % 300 AS STRING)) END
            |      WHEN 9 THEN CASE WHEN doc_id % 3 = 0 THEN '/cal/today'
            |        ELSE concat('/cal/', CAST(doc_id % 300 AS STRING)) END
            |      ELSE concat('/r/', CAST(doc_id % 300 AS STRING)) END)
            |END""".stripMargin))
        .withColumn("ts", expr(
          "timestamp_seconds(1704067200 + doc_id % 2400)"))
      TextOps.crawlReport(feed, "doc_id", "url", "ts", rules,
        windowSeconds = 600L, perHostQuota = 6,
        hostQuotas = Some(quotas))
    }),

    // -- crawl frontier self-defense: trap detection — per host,
    //    collapse paths to digit-templated generators and flag the
    //    host when one template dominates (calendar/session-id
    //    explosion). Planted trap host (every path /day/N, share
    //    exactly 1e6) vs a 5-template mixed host; exact integer share
    //    via the DECIMAL intermediate — full oracle. -----------------
    "q_crawl_traps" -> ((s, dir) => {
      val feed = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("url", expr(
          """CASE WHEN doc_id % 4 = 0
            |  THEN concat('https://cal.example/day/',
            |              CAST(doc_id AS STRING))
            |  ELSE concat('https://mix.example',
            |    CASE CAST(doc_id % 5 AS INT)
            |      WHEN 0 THEN '/about'
            |      WHEN 1 THEN concat('/news/', CAST(doc_id AS STRING))
            |      WHEN 2 THEN concat('/tags/t',
            |                         CAST(doc_id % 3 AS STRING))
            |      WHEN 3 THEN concat('/p/', CAST(doc_id AS STRING))
            |      ELSE '/faq' END)
            |END""".stripMargin))
      TextOps.crawlTrapReport(feed, "doc_id", "url",
        minSupport = 20L, shareMicroThreshold = 800000L)
    }),

    // -- crawl compliance, stage 0b: Crawl-delay extraction from the
    //    same chosen groups — min across merged groups (most
    //    conservative pinned), junk value -> NULL loud, delay-less
    //    hosts emit nothing (the politeness default-coalesce owns
    //    that case) — full oracle. -----------------------------------
    "q_robots_delays" -> ((s, dir) =>
      TextOps.robotsCrawlDelays(synthRobots(s, dir), "host", "content",
        agent = "graftbot")),

    // -- crawl DISCOVERY, stage 0c: Sitemap directives from the same
    //    raw robots bodies — RFC 9309 §2.3: NOT group-scoped (rb6's
    //    line sits inside otherbot's group and still applies to
    //    everyone), empty value the loud NULL class (rb0), absent
    //    hosts emit nothing. Row-local line parse over hosts-sized
    //    bodies, zero shuffles — full oracle. ------------------------
    // -- crawl compliance, fetch-failure semantics (r17): RFC 9309
    //    §2.3.1 composed into the verdict funnel — ten hosts share
    //    the robots bodies but get a status spread (200s parse, 404/
    //    410 allow-all, 503/500 disallow-all, NULL unreachable, 301
    //    pinned conservative-disallow), and every frontier URL's
    //    verdict carries the policy_source audit column: a fetch-
    //    failed host is a VISIBLE class, never a silent default-
    //    allow. Full oracle (parse replay + status closed form). ----
    "q_robots_fetch_policy" -> ((s, dir) => {
      import s.implicits._
      // Planted DUPLICATE fetches (r18, the dedup-ordinal fix made
      // oracle-visible): rb1 gets a stray 1xx probe that raw
      // MIN(status) would have let shadow its live parsed policy;
      // rb3 gets an unfollowed 301 that outranks its 503 under the
      // pinned class order (2xx < 4xx < 3xx < 5xx). The oracle pins
      // the post-dedup class per host.
      val dupes = Seq(
        ("rb1.example", Some(100), Option.empty[String]),
        ("rb3.example", Some(301), Some("moved")))
        .map { case (h, st, b) =>
          (h, st.map(Integer.valueOf).orNull, b.orNull) }
        .toDF("host", "status", "content")
      val fetches = synthRobots(s, dir)
        .withColumn("status", expr(
          """CASE CAST(substring(host, 3, 1) AS INT)
            |WHEN 0 THEN 200 WHEN 1 THEN 200 WHEN 2 THEN 404
            |WHEN 3 THEN 503 WHEN 4 THEN NULL WHEN 5 THEN 301
            |WHEN 6 THEN 200 WHEN 7 THEN 410 WHEN 8 THEN 500
            |ELSE 200 END""".stripMargin))
        .select("host", "status", "content")
        .unionByName(dupes)
      // r19: the policy table is hosts-sized and consumed by TWO
      // branches (the urlPolicyFilter rule broadcast and the
      // policy_source audit join) — eagerly checkpoint it so the
      // status collapse + robots parse chain runs once, not per branch
      val policy = TextOps.robotsStatusPolicy(fetches, "host", "status",
        "content", agent = "graftbot").localCheckpoint(true)
      val frontier = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("url", expr(
          """CASE WHEN doc_id % 97 = 0
            |  THEN concat('rb', CAST(doc_id % 10 AS STRING),
            |              '.example/no-scheme')
            |ELSE concat('https://rb', CAST(doc_id % 10 AS STRING),
            |  '.example',
            |  CASE CAST(doc_id % 4 AS INT)
            |    WHEN 0 THEN concat('/tmp/', CAST(doc_id % 3 AS STRING))
            |    WHEN 1 THEN '/tmp/public'
            |    WHEN 2 THEN '/cal/today'
            |    ELSE concat('/p/', CAST(doc_id % 7 AS STRING))
            |  END) END""".stripMargin))
      val canon = TextOps.canonicalizeUrl(frontier, "url")
        .select("doc_id", "canonical_url")
      TextOps.urlPolicyFilter(canon, "doc_id", "canonical_url",
          policy.select("host", "prefix", "allow"))
        .withColumn("__vh", regexp_extract(col("canonical_url"),
          "^[a-z][a-z0-9+.\\-]*://([^/?]*)", 1))
        .join(broadcast(policy.select(col("host").as("__vh"),
          col("policy_source")).distinct()), Seq("__vh"), "left")
        .select(col("doc_id"), col("canonical_url"), col("allowed"),
          col("rule_prefix"), col("policy_source"))
    }),

    "q_robots_sitemaps" -> ((s, dir) =>
      TextOps.robotsSitemaps(synthRobots(s, dir), "host", "content")),

    // -- crawl DISCOVERY capstone: robots → advertised sitemap →
    //    fetched body → parsed fetch list — three named operators and
    //    ONE host-keyed join of two hosts-sized tables. robotsSitemaps
    //    says WHAT to fetch; the offline.example pointer (rb3) has no
    //    body and drops at the fetch join (the fetcher's 404 — still
    //    visible in q_robots_sitemaps); synthSitemaps plays the
    //    fetched bodies; sitemapUrls parses them under the
    //    ADVERTISING host's key — what the crawler schedules against.
    "q_discovery_fetchlist" -> ((s, dir) => {
      val adv = TextOps.robotsSitemaps(synthRobots(s, dir), "host",
          "content")
        .filter(col("sitemap_url").isNotNull)
        .select(col("host").as("robots_host"),
          regexp_extract(col("sitemap_url"),
            "^https?://([^/?]*)", 1).as("sm_host"))
      val fetched = adv.join(synthSitemaps(s, dir)
          .select(col("host").as("sm_host"), col("content")),
        Seq("sm_host"))
      TextOps.sitemapUrls(
        fetched.select(col("robots_host"), col("content")),
        "robots_host", "content")
    }),

    // -- dedup tier 1: exact content-hash groups ------------------------
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), "doc_id", "text")),

    // -- dedup tier 2: normalized (lowercase, collapsed ws, stop tokens
    //    dropped) content-hash groups ----------------------------------
    "q_dedup_norm" -> ((s, dir) =>
      Dedup.normalizedGroups(Tables.documents(s, dir), "doc_id", "text",
        dropTokens = Seq("the", "a"))),

    // -- dedup tier 0: canonical-URL first-seen dedup — the key every
    //    crawl dedups on BEFORE any content hash exists. Raw URLs are
    //    synthesized deterministically from doc_id carrying every mess
    //    the canonicalizer must absorb (scheme/host case, default
    //    port, tracking params in scrambled order, fragments); ids k
    //    and k+250 share a path key, so every canonical group has
    //    exactly two members — except where the malformed plant
    //    (doc_id % 97 = 0, no scheme → canonical NULL) removes one:
    //    sf0.01 exact counts 250 kept / 244 dup / 6 malformed. -------
    "q_url_canonical" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val canon = TextOps.canonicalizeUrl(synthUrls(s, dir), "url")
      val w = Window.partitionBy(col("canonical_url"))
      canon.filter(col("canonical_url").isNotNull)
        .withColumn("__min", min(col("doc_id")).over(w))
        .select(col("doc_id"), col("canonical_url"),
          when(col("doc_id") === col("__min"), lit("kept"))
            .otherwise(lit("dup")).as("status"),
          when(col("doc_id") === col("__min"), lit("-"))
            .otherwise(col("__min").cast("string")).as("detail"))
        .unionByName(canon.filter(col("canonical_url").isNull)
          .select(col("doc_id"), col("canonical_url"),
            lit("malformed").as("status"), col("url").as("detail")))
    }),

    // -- crawl extraction: RFC 3986 §5 reference resolution — the
    //    relative-href half of link extraction as its own operator
    //    query. Twelve ref classes per doc (absolute w/ fragment,
    //    network-path, rooted, sibling merge, ../ chains incl. a
    //    past-root CLAMP, empty/fragment-only base inherits,
    //    query-only, './'+query+fragment, inner mixed segments) over
    //    a canonical base; %97 rows have a NULL base (absolute refs
    //    still resolve, relative refs loud-NULL). The oracle is the
    //    CLOSED FORM of each class (generator-shortcut, the
    //    q_warc_records convention: the resolver must reproduce what
    //    the algebra predicts); the interleavings and the K=8 depth
    //    contract execute in TextOpsSpec. Row-local — no shuffle. ----
    "q_url_resolve" -> ((s, dir) => {
      val feed = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("base", expr(
          """CASE WHEN doc_id % 97 = 0 THEN NULL
            |ELSE concat('https://r', CAST(doc_id % 7 AS STRING),
            |            '.example/dir/sub/page',
            |            CAST(doc_id % 5 AS STRING), '?q=1') END"""
            .stripMargin))
        .withColumn("ref", expr(
          """CASE CAST(doc_id % 12 AS INT)
            |WHEN 0 THEN 'https://abs.example/a#frag'
            |WHEN 1 THEN concat('//cdn', CAST(doc_id % 3 AS STRING),
            |                   '.example/lib.js')
            |WHEN 2 THEN concat('/rooted/', CAST(doc_id % 9 AS STRING))
            |WHEN 3 THEN concat('child', CAST(doc_id % 4 AS STRING))
            |WHEN 4 THEN '../up'
            |WHEN 5 THEN '../../twice'
            |WHEN 6 THEN '../../../past-root'
            |WHEN 7 THEN ''
            |WHEN 8 THEN '?x=2'
            |WHEN 9 THEN './here?y=3#f'
            |WHEN 10 THEN 'a/./b/../c'
            |ELSE '#frag-only' END""".stripMargin))
      TextOps.resolveUrl(feed, "base", "ref")
        .select(col("doc_id"), col("base"), col("ref"),
          col("resolved_url"))
    }),

    // -- crawl dedup signal: rel="canonical" declarations — five body
    //    classes per doc (none / exact-self / reversed-attr
    //    single-quoted ROOTED href (cross to /p/0) / case+port+utm
    //    mess absorbed by the canonicalizer (cross to cn0) / an
    //    unresolvable http:/// target (broken, loud)); %97 rows have
    //    a malformed own URL (verdict malformed, nothing to compare).
    //    The oracle is the CLOSED FORM of each class; attribute-order,
    //    quote-style, empty-href-inherits and <base> interplay laws
    //    execute in TextOpsSpec. Row-local end to end. ---------------
    "q_rel_canonical" -> ((s, dir) => {
      val feed = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("url", expr(
          """CASE WHEN doc_id % 97 = 0
            |  THEN concat('cn', CAST(doc_id % 6 AS STRING),
            |              '.example/p/', CAST(doc_id % 40 AS STRING))
            |  ELSE concat('https://cn', CAST(doc_id % 6 AS STRING),
            |              '.example/p/', CAST(doc_id % 40 AS STRING))
            |END""".stripMargin))
        .withColumn("body", expr(
          """CASE CAST(doc_id % 5 AS INT)
            |WHEN 0 THEN 'plain text, no declaration'
            |WHEN 1 THEN concat('<link rel="canonical" href="https://cn',
            |  CAST(doc_id % 6 AS STRING), '.example/p/',
            |  CAST(doc_id % 40 AS STRING), '">')
            |WHEN 2 THEN '<link href=''/p/0'' rel=''canonical''>'
            |WHEN 3 THEN concat('<link rel="canonical" ',
            |  'href="HTTPS://CN0.Example:443/dup?utm_source=z">')
            |ELSE '<link rel="canonical" href="http:///broken">'
            |END""".stripMargin))
      TextOps.canonicalLinks(feed, "doc_id", "url", "body")
    }),

    // -- crawl dedup COMPOSITION (r17): canonicalLinks' cross edges
    //    consumed by the collapse stage — eight fixture classes
    //    (none / self / cross-to-shared-absent-hub (the first-seen
    //    survivor law) / cross onto a cross-declaring present page
    //    (chain) / an A↔B loop pair built from (doc_id div 8) so the
    //    pair exists at every SF / broken / cross-to-absent (honored
    //    on faith) / %97 malformed). Single-hop-honor semantics and
    //    the kept/collapsed/chain/loop/malformed conservation law —
    //    full oracle replaying presence+stability in SQL. ----------
    "q_canonical_collapse" -> ((s, dir) => {
      val feed = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("m", expr("doc_id div 8"))
        .withColumn("url", expr(
          """CASE WHEN doc_id % 97 = 0
            |  THEN concat('clbad.example/x/', CAST(doc_id AS STRING))
            |ELSE CASE CAST(doc_id % 8 AS INT)
            |  WHEN 0 THEN concat('https://cl0.example/p0/',
            |                     CAST(doc_id AS STRING))
            |  WHEN 1 THEN concat('https://cl1.example/p1/',
            |                     CAST(doc_id AS STRING))
            |  WHEN 2 THEN concat('https://cl2.example/p2/',
            |                     CAST(doc_id AS STRING))
            |  WHEN 3 THEN concat('https://cl3.example/c3/',
            |                     CAST(m AS STRING))
            |  WHEN 4 THEN concat('https://lp.example/a/',
            |                     CAST(m AS STRING))
            |  WHEN 5 THEN concat('https://lp.example/b/',
            |                     CAST(m AS STRING))
            |  WHEN 6 THEN concat('https://cl6.example/p6/',
            |                     CAST(doc_id AS STRING))
            |  ELSE concat('https://cl7.example/c7/', CAST(m AS STRING))
            |END END""".stripMargin))
        .withColumn("body", expr(
          """CASE CAST(doc_id % 8 AS INT)
            |WHEN 0 THEN 'no declaration'
            |WHEN 1 THEN concat('<link rel="canonical" ',
            |  'href="https://cl1.example/p1/', CAST(doc_id AS STRING),
            |  '">')
            |WHEN 2 THEN concat('<link rel="canonical" ',
            |  'href="https://hub.example/h/', CAST(doc_id % 10 AS STRING),
            |  '">')
            |WHEN 3 THEN concat('<link rel="canonical" ',
            |  'href="https://cl7.example/c7/', CAST(m AS STRING), '">')
            |WHEN 4 THEN concat('<link rel="canonical" ',
            |  'href="https://lp.example/b/', CAST(m AS STRING), '">')
            |WHEN 5 THEN concat('<link rel="canonical" ',
            |  'href="https://lp.example/a/', CAST(m AS STRING), '">')
            |WHEN 6 THEN '<link rel="canonical" href="http:///broken">'
            |ELSE concat('<link rel="canonical" ',
            |  'href="https://stable.example/s/', CAST(m AS STRING), '">')
            |END""".stripMargin))
        .select("doc_id", "url", "body")
      // materialize the links stage before the collapse's self-join
      // (the q_host_rank lesson, self-join flavor): the collapse
      // consumes the links table TWICE, and planning a join of two
      // copies of the raw extraction lineage (a ~25-level Project
      // chain of regex/resolution work per side) costs the planner
      // minutes — the checkpoint is the query-side stand-in for the
      // persisted links stage a warehouse pipeline would read
      TextOps.canonicalCollapse(
        TextOps.canonicalLinks(feed, "doc_id", "url", "body")
          .localCheckpoint(true), "doc_id")
    }),

    // -- crawl dedup, the THIRD URL-identity source (r17): redirect
    //    alias collapse over planted 3xx chains — terminal single
    //    hops, a 2-chain keyed on (doc_id div 9) so the pair exists
    //    at every SF, a self-loop, an A↔B 2-cycle, a 3-cycle (the
    //    exact returned-to-origin flag catches it at step 3), and
    //    %97 rows carrying status 200 (not a redirect — excluded by
    //    contract, which also punches SF-stable holes in the chains
    //    the walk must absorb). The oracle replays the SAME 8
    //    unrolled walk steps — no closed form, the algorithm IS the
    //    pinned contract. ------------------------------------------
    "q_redirect_collapse" -> ((s, dir) => {
      val edges = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("m", expr("doc_id div 9"))
        .withColumn("src", expr(
          """CASE CAST(doc_id % 9 AS INT)
            |WHEN 0 THEN concat('https://rd.example/s/',
            |                   CAST(doc_id AS STRING))
            |WHEN 1 THEN concat('https://rd.example/a/', CAST(m AS STRING))
            |WHEN 2 THEN concat('https://rd.example/b/', CAST(m AS STRING))
            |WHEN 3 THEN concat('https://rd.example/self/',
            |                   CAST(doc_id AS STRING))
            |WHEN 4 THEN concat('https://rd.example/ca/', CAST(m AS STRING))
            |WHEN 5 THEN concat('https://rd.example/cb/', CAST(m AS STRING))
            |WHEN 6 THEN concat('https://rd.example/z1/', CAST(m AS STRING))
            |WHEN 7 THEN concat('https://rd.example/z2/', CAST(m AS STRING))
            |ELSE concat('https://rd.example/z3/', CAST(m AS STRING))
            |END""".stripMargin))
        .withColumn("dst", expr(
          """CASE CAST(doc_id % 9 AS INT)
            |WHEN 0 THEN concat('https://rd.example/t/',
            |                   CAST(doc_id % 40 AS STRING))
            |WHEN 1 THEN concat('https://rd.example/b/', CAST(m AS STRING))
            |WHEN 2 THEN concat('https://rd.example/t2/', CAST(m AS STRING))
            |WHEN 3 THEN concat('https://rd.example/self/',
            |                   CAST(doc_id AS STRING))
            |WHEN 4 THEN concat('https://rd.example/cb/', CAST(m AS STRING))
            |WHEN 5 THEN concat('https://rd.example/ca/', CAST(m AS STRING))
            |WHEN 6 THEN concat('https://rd.example/z2/', CAST(m AS STRING))
            |WHEN 7 THEN concat('https://rd.example/z3/', CAST(m AS STRING))
            |ELSE concat('https://rd.example/z1/', CAST(m AS STRING))
            |END""".stripMargin))
        .withColumn("status", expr(
          """CASE WHEN doc_id % 97 = 0 THEN 200
            |ELSE 301 + CAST(doc_id % 2 AS INT) * 7 END""".stripMargin))
      TextOps.redirectAliases(edges, "src", "dst", "status")
    }),

    // -- crawl IDENTITY capstone (r18, VERDICT r17 "What's missing"
    //    #3): the unified URL-identity map — canonicalizeUrl ∘
    //    redirectAliases ∘ canonicalCollapse composed with PINNED
    //    precedence (redirect first: what the server DID; then the
    //    rel=canonical claim; then the syntactic form), every
    //    conflict a LOUD class. Classes planted: %97 malformed, %5
    //    redirect-resolved, %3 canonical-collapsed, %15∖%30 the
    //    redirect/canonical CONFLICT, %30 their agreement, %6==3
    //    (non-%5) the ambiguous double-declaration, the rest
    //    syntactic. Conservation (exactly one verdict per input
    //    URL) is the executed law. Single-hop closed forms on both
    //    alias sources keep the whole oracle a CASE replay. --------
    "q_url_identity" -> ((s, dir) => {
      val urls = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("url", expr(
          """CASE WHEN doc_id % 97 = 0
            |  THEN concat('ui', CAST(doc_id % 9 AS STRING),
            |              '.example/no-scheme')
            |  ELSE concat('https://ui', CAST(doc_id % 9 AS STRING),
            |    '.example/p/', CAST(doc_id AS STRING),
            |    CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x'
            |         ELSE '' END)
            |END""".stripMargin))
      val base = Tables.documents(s, dir).select(col("doc_id"))
        .filter(expr("doc_id % 97 != 0"))
        .withColumn("c", expr(
          """concat('https://ui', CAST(doc_id % 9 AS STRING),
            |  '.example/p/', CAST(doc_id AS STRING))""".stripMargin))
      val redirects = TextOps.redirectAliases(
        base.filter(expr("doc_id % 5 = 0"))
          .select(col("c").as("src"),
            expr("""concat('https://rf.example/f/',
                   |CAST(doc_id % 40 AS STRING))""".stripMargin)
              .as("dst"),
            lit(301).as("status")),
        "src", "dst", "status")
      // canonicalLinks-shaped declarations: %3 pages cross-declare
      // (the %30 subset onto the SAME target the redirect resolves
      // to — agreement; the rest onto cn.example); the %6==3 non-%5
      // subset declares TWICE with different targets (a duplicate
      // fetch disagreeing with itself — the ambiguity plant)
      val decl = base.filter(expr("doc_id % 3 = 0"))
        .select(col("doc_id").as("id"), col("c").as("self_canonical"),
          expr(
            """CASE WHEN doc_id % 30 = 0
              |  THEN concat('https://rf.example/f/',
              |              CAST(doc_id % 40 AS STRING))
              |  ELSE concat('https://cn.example/c/',
              |              CAST(doc_id % 30 AS STRING))
              |END""".stripMargin).as("decl_canonical"),
          lit("cross").as("verdict"))
      val dupDecl = base
        .filter(expr("doc_id % 6 = 3 AND doc_id % 5 != 0"))
        .select((col("doc_id") + 1000000L).as("id"),
          col("c").as("self_canonical"),
          lit("https://amb.example/z").as("decl_canonical"),
          lit("cross").as("verdict"))
      val collapses = TextOps.canonicalCollapse(
        decl.unionByName(dupDecl).localCheckpoint(true), "id")
      TextOps.urlIdentityMap(urls, "doc_id", "url", redirects,
        collapses)
    }),

    // -- crawl compliance: robots-style policy verdicts over the
    //    canonical URLs — RFC 9309 patterns (mid-`*` wildcards,
    //    trailing-`$` anchors, plain prefixes) with most-specific-
    //    pattern-wins and allow beating disallow on length ties (the
    //    published robots.txt precedence), default-allow when no rule
    //    matches, malformed NEVER allowed. Broadcast rule table, one
    //    partial-agg struct max per id; exact string arithmetic —
    //    full oracle. The match target is path PLUS query (RFC 9309,
    //    the r16 ADVICE fix) — every canonical URL here carries
    //    ?a=1&b=2 (the %11==9 class adds &z=%2Fx), so the rules
    //    exercise it: /articles/1* disallowed with a /articles/12*
    //    allow carve-out; /articles/2* carries an exact
    //    allow/disallow TIE (allow must win, auditable via
    //    rule_prefix); /articles/*7 plants a WILDCARD that outranks
    //    the shorter /articles/1 literal (and ties /articles/12 —
    //    allow still wins there); /articles/4?a=1&b=2$ vs /articles/4
    //    plants the ANCHOR on the FULL path+query target (exactly
    //    K=4 allowed, /articles/40..49 blocked); /*z=%2Fx$ plants a
    //    QUERY-matching rule (the sessionid class the path-only
    //    engine could never match) hitting the encoded-slash param
    //    plant. -------------------------------------------------------
    "q_url_policy" -> ((s, dir) => {
      import s.implicits._
      val canon = TextOps.canonicalizeUrl(synthUrls(s, dir), "url")
        .select("doc_id", "canonical_url")
      val rules = Seq(
        ("www.news-site.com", "/articles/1", false),
        ("www.news-site.com", "/articles/12", true),
        ("www.news-site.com", "/articles/2", true),
        ("www.news-site.com", "/articles/2", false),
        ("www.news-site.com", "/articles/*7", false),
        ("www.news-site.com", "/articles/4?a=1&b=2$", true),
        ("www.news-site.com", "/articles/4", false),
        ("www.news-site.com", "/*z=%2Fx$", false),
        ("other.example", "/", false)).toDF("host", "prefix", "allow")
      TextOps.urlPolicyFilter(canon, "doc_id", "canonical_url", rules)
    }),

    // -- crawl scheduling: per-host politeness quota over tumbling
    //    windows — the crawl tier's fourth stage (canonicalize →
    //    frontier → policy → SCHEDULE). Multi-host synth feed with a
    //    planted single-window BURST on host0 (which can only defer
    //    ITSELF — every other host's ranks are untouched, the
    //    starvation-freedom shape the streaming law executes) and the
    //    %97 malformed plant; exact integer window/rank arithmetic —
    //    full oracle. -------------------------------------------------
    "q_url_politeness" -> ((s, dir) => {
      val feed = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("url", expr(
          """CASE WHEN doc_id % 97 = 0
            |  THEN concat('host', CAST(doc_id % 5 AS STRING),
            |              '.example/p/', CAST(doc_id AS STRING))
            |  ELSE concat('https://host', CAST(doc_id % 5 AS STRING),
            |              '.example/p/', CAST(doc_id AS STRING))
            |END""".stripMargin))
        .withColumn("ts", expr(
          """timestamp_seconds(1704067200 + CASE WHEN doc_id % 5 = 0
            |  THEN doc_id % 300 ELSE doc_id % 2400 END)""".stripMargin))
      TextOps.politenessSchedule(
        TextOps.canonicalizeUrl(feed, "url"), "canonical_url",
        "doc_id", "ts", windowSeconds = 600L, perHostQuota = 8)
    }),

    // -- crawl scheduling, per-host quotas (robots Crawl-delay /
    //    server capacity are PER HOST): same feed as q_url_politeness
    //    but the quota comes from a broadcast (host, quota) rules
    //    table — host0 tightened to 2 (the burst host: it defers only
    //    ITSELF harder), host3 loosened to 20, a rule for a host with
    //    no traffic (inert by construction), everyone else the global
    //    default 8. The RANKS are identical to the flat-quota run;
    //    only the scheduled/deferred split moves — full oracle. -----
    "q_politeness_hostquota" -> ((s, dir) => {
      import s.implicits._
      val feed = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("url", expr(
          """CASE WHEN doc_id % 97 = 0
            |  THEN concat('host', CAST(doc_id % 5 AS STRING),
            |              '.example/p/', CAST(doc_id AS STRING))
            |  ELSE concat('https://host', CAST(doc_id % 5 AS STRING),
            |              '.example/p/', CAST(doc_id AS STRING))
            |END""".stripMargin))
        .withColumn("ts", expr(
          """timestamp_seconds(1704067200 + CASE WHEN doc_id % 5 = 0
            |  THEN doc_id % 300 ELSE doc_id % 2400 END)""".stripMargin))
      val quotas = Seq(
        ("host0.example", 2),
        ("host3.example", 20),
        ("host9.example", 1)).toDF("host", "quota")
      TextOps.politenessSchedule(
        TextOps.canonicalizeUrl(feed, "url"), "canonical_url",
        "doc_id", "ts", windowSeconds = 600L, perHostQuota = 8,
        hostQuotas = Some(quotas))
    }),

    // -- crawl freshness capstone: the re-crawl SCHEDULE the λ̂
    //    estimator exists for — within each host, rank pages by
    //    change rate (λ DESC NULLS LAST, the quarantine class
    //    competing last by contract) and spend the host's fetch
    //    budget on that prefix. Same revisit log as
    //    q_revisit_schedule with host = 'h' || page % 7; per-host
    //    budgets h0→3 (tight), h5→40 (everything fetches), default
    //    10. Single lineage: one page-keyed collapse, one host-keyed
    //    rank on the collapsed table — full oracle through the pinned
    //    λ float tail AND the rank. ---------------------------------
    "q_recrawl_schedule" -> ((s, dir) => {
      import s.implicits._
      val visits = Tables.events(s, dir)
        .select(col("user_id").as("page_id"),
          concat(lit("h"), (col("user_id") % 7).cast("string"))
            .as("host"),
          col("ts"),
          expr("""user_id % 29 != 0 AND
                 |event_id % (3 + user_id % 5) = 0""".stripMargin)
            .as("changed"))
      val budgets = Seq(("h0", 3), ("h5", 40)).toDF("host", "quota")
      TextOps.recrawlSchedule(visits, "page_id", "host", "ts", "changed",
        perHostBudget = 10, hostBudgets = Some(budgets))
    }),

    // -- crawl freshness + DISCOVERY composition (r16): the re-crawl
    //    schedule with sitemap lastmod hints — same visit log and
    //    budgets as q_recrawl_schedule; hints cover even pages only
    //    (odd pages = the hintless class), %3==0 a STALE datetime
    //    (2030, truncated to its date), %3==1 a fresh 1990 date,
    //    %3==2 junk ('soon' -> loud NULL epoch, never a fake stale
    //    bit). Stale-hinted pages jump the λ queue; everything else
    //    ranks exactly as before. Full oracle through the parse, the
    //    max-collapse, the stale comparison and the rank. ------------
    "q_recrawl_hinted" -> ((s, dir) => {
      import s.implicits._
      val visits = Tables.events(s, dir)
        .select(col("user_id").as("page_id"),
          concat(lit("h"), (col("user_id") % 7).cast("string"))
            .as("host"),
          col("ts"),
          expr("""user_id % 29 != 0 AND
                 |event_id % (3 + user_id % 5) = 0""".stripMargin)
            .as("changed"))
      val hints = Tables.events(s, dir)
        .select(col("user_id").as("page_id")).distinct()
        .filter(col("page_id") % 2 === 0)
        .withColumn("lastmod", expr(
          """CASE CAST(page_id % 3 AS INT)
            |WHEN 0 THEN '2030-01-05T23:59:59Z'
            |WHEN 1 THEN '1990-01-01'
            |ELSE 'soon' END""".stripMargin))
      val budgets = Seq(("h0", 3), ("h5", 40)).toDF("host", "quota")
      TextOps.recrawlScheduleHinted(visits, "page_id", "host", "ts",
        "changed", hints, perHostBudget = 10,
        hostBudgets = Some(budgets))
    }),

    // -- crawl freshness, TYPED sitemap hints (r17): the same visit
    //    log and budgets as q_recrawl_hinted, but the hint table
    //    carries sitemapUrls' typed changefreq/priority_milli — they
    //    break (stale, λ̂) ties (the single-visit NULL-λ̂ class is
    //    where they bite: frequency ordinal first, priority second),
    //    never outranking observed staleness or a real estimate.
    //    Duplicate typed hints collapse MIN-ordinal/MAX-priority
    //    (the most-eager claim). Full oracle extending the
    //    q_recrawl_hinted replay with the two tiebreak keys. --------
    "q_recrawl_sitemap_hints" -> ((s, dir) => {
      import s.implicits._
      val visits = Tables.events(s, dir)
        .select(col("user_id").as("page_id"),
          concat(lit("h"), (col("user_id") % 7).cast("string"))
            .as("host"),
          col("ts"),
          expr("""user_id % 29 != 0 AND
                 |event_id % (3 + user_id % 5) = 0""".stripMargin)
            .as("changed"))
      val hints = Tables.events(s, dir)
        .select(col("user_id").as("page_id")).distinct()
        .filter(col("page_id") % 2 === 0)
        .withColumn("lastmod", expr(
          """CASE CAST(page_id % 3 AS INT)
            |WHEN 0 THEN '2030-01-05T23:59:59Z'
            |WHEN 1 THEN '1990-01-01'
            |ELSE 'soon' END""".stripMargin))
        .withColumn("changefreq", expr(
          """CASE CAST(page_id % 4 AS INT)
            |WHEN 0 THEN 'daily' WHEN 1 THEN 'yearly'
            |WHEN 2 THEN 'always' ELSE NULL END""".stripMargin))
        .withColumn("priority_milli", expr(
          """CASE CAST(page_id % 5 AS INT)
            |WHEN 0 THEN 800 WHEN 1 THEN 200 WHEN 2 THEN 1000
            |ELSE NULL END""".stripMargin))
        // r18: ETag/Last-Modified evidence from the fetch ledger —
        // the near-free conditional-refetch tiebreaker
        .withColumn("has_validator", expr("page_id % 6 < 2"))
      val budgets = Seq(("h0", 3), ("h5", 40)).toDF("host", "quota")
      TextOps.recrawlScheduleHinted(visits, "page_id", "host", "ts",
        "changed", hints, perHostBudget = 10,
        hostBudgets = Some(budgets))
    }),

    // -- crawl link structure: host→host link graph extracted from
    //    page bodies — the frontier-prioritization input. Outlinks
    //    are regex-extracted and canonicalized with the SAME rules
    //    the frontier dedups on; malformed links land on dst_host
    //    NULL, pages with a malformed own-URL emit under src_host
    //    NULL — the audit classes stay visible. One host-pair
    //    Exchange; exact string arithmetic — full oracle. ------------
    "q_link_graph" -> ((s, dir) =>
      TextOps.hostLinkGraph(synthLinkPages(s, dir), "doc_id", "url",
        "body")),

    // -- crawl prioritization: host AUTHORITY — the exact integer
    //    PageRank (damping 17/20, pico-unit mass) over the distinct
    //    inter-host edges of q_link_graph; self-loops and the NULL
    //    audit classes are excluded (a host voting for itself is not
    //    authority). Composes the two operators unchanged, so the
    //    8-iteration fixpoint replays in DuckDB CTEs. ----------------
    "q_host_rank" -> ((s, dir) => {
      // the edge list is hosts²-bounded and the 8 unrolled iterations
      // reference it repeatedly — eagerly checkpoint it (the
      // q_pairwise_trend lesson) so the page-scale extraction +
      // resolution chain runs ONCE, not once per iteration (r16: the
      // richer href/base extraction made the re-derivation visible,
      // 4.7 s → 23 s before the checkpoint). r19: checkpoint the RAW
      // graph output and filter AFTER — the isnotnull/self-loop filter
      // on the aggregated frame gets pushdown-RE-SUBSTITUTED below the
      // aggregate (the PlanShapeSpec trap family), cloning the regex
      // extraction chain into a scan-side Filter: the filtered
      // checkpoint measured 4.3-5.1 s vs 1.0-1.4 s for the raw graph
      // (same JVM, min-of-3); full query 6.8 s → 2.9-4.1 s. The
      // checkpointed frame is the hosts²-bounded graph either way.
      val edges = TextOps.hostLinkGraph(synthLinkPages(s, dir), "doc_id",
          "url", "body")
        .localCheckpoint(true)
        .filter(col("src_host").isNotNull && col("dst_host").isNotNull &&
          col("src_host") =!= col("dst_host"))
        .select(col("src_host"), col("dst_host"))
      graft.analytics.PageRank.pageRank(edges, "src_host", "dst_host",
        iters = 8, topN = 50)
    }),

    // -- crawl prioritization for NEW pages: the global top-K fetch
    //    batch by host authority, INDEX-BACKED — the query reads the
    //    PERSISTED authority table (hostAuthorityPath: built once per
    //    refresh by the hostLinkGraph → integer-PageRank chain
    //    q_host_rank gates, then one hosts-sized parquet) and does
    //    broadcast join onto the frontier → TakeOrderedAndProject
    //    (never a global sort, never a per-batch PageRank re-iterate).
    //    newhost plant (absent from the link graph) competes at mass
    //    0 — full oracle incl. the 8-step PageRank replay (the oracle
    //    rebuilds what the index stores; value-equality IS the
    //    store-matches-rebuild law). ----------------------------------
    "q_frontier_priority" -> ((s, dir) => {
      val authority = s.read.parquet(hostAuthorityPath(s, dir))
      val frontier = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("url", expr(
          """CASE WHEN doc_id % 13 = 0
            |  THEN concat('https://newhost.example/f/',
            |              CAST(doc_id AS STRING))
            |  ELSE concat('https://h', CAST(doc_id % 20 AS STRING),
            |              '.example/f/', CAST(doc_id AS STRING))
            |END""".stripMargin))
      TextOps.frontierPriority(frontier, "doc_id", "url", authority,
        "src_host", "pr_pico", k = 100)
    }),

    // -- crawl tier CAPSTONE: the per-host funnel report — compose
    //    canonicalize → first-seen dedup → policy → politeness (the
    //    named stage operators, so the report is bit-consistent with
    //    the per-stage queries) and collapse to one row per host with
    //    the outcome counts and first/last arrival epochs. Feed: 5
    //    hosts with dup plants (ids k, k+200 share a path), the %97
    //    malformed plant, a single-window burst on cr0, and rules
    //    exercising carve-out/tie/whole-host-block. Conservation —
    //    n_urls = Σ outcome counts — is the executed law. ------------
    "q_crawl_report" -> ((s, dir) => {
      import s.implicits._
      val feed = Tables.documents(s, dir).select(col("doc_id"))
        .withColumn("url", expr(
          """CASE WHEN doc_id % 97 = 0
            |  THEN concat('cr', CAST(doc_id % 5 AS STRING), '.example/p/',
            |              CAST(doc_id AS STRING))
            |  ELSE concat('https://cr', CAST(doc_id % 5 AS STRING),
            |              '.example/p/', CAST(doc_id % 200 AS STRING))
            |END""".stripMargin))
        .withColumn("ts", expr(
          """timestamp_seconds(1704067200 + CASE WHEN doc_id % 5 = 0
            |  THEN doc_id % 300 ELSE doc_id % 2400 END)""".stripMargin))
      val rules = Seq(
        ("cr1.example", "/p/1", false),
        ("cr1.example", "/p/12", true),
        ("cr2.example", "/p/3", true),
        ("cr2.example", "/p/3", false),
        ("cr3.example", "/", false)).toDF("host", "prefix", "allow")
      TextOps.crawlReport(feed, "doc_id", "url", "ts", rules,
        windowSeconds = 600L, perHostQuota = 8)
    }),

    // -- crawl freshness: Cho & Garcia-Molina change-rate estimation
    //    over a revisit log (events as pages: 150 pages × ~67
    //    irregular real-timestamp visits at sf0.01). changed flags are
    //    deterministic with per-page rate diversity (modulus 3..7) and
    //    a planted never-changed class (page % 29 = 0 → λ exactly 0).
    //    One page-keyed collapse; the λ tail is the pinned-IEEE ln
    //    chain the oracle replays through the micro floor. -----------
    "q_revisit_schedule" -> ((s, dir) => {
      val visits = Tables.events(s, dir)
        .select(col("user_id").as("page_id"), col("ts"),
          expr("""user_id % 29 != 0 AND
                 |event_id % (3 + user_id % 5) = 0""".stripMargin)
            .as("changed"))
      TextOps.revisitSchedule(visits, "page_id", "ts", "changed")
    }),

    // -- quality: compression-ratio signal (the Gopher/RefinedWeb
    //    repetition filter — deflate bytes over raw bytes in exact
    //    micro-units; codec-bound mapPartitions with one reused
    //    Deflater per partition). Rows-only BY CONTRACT (the deflate
    //    byte count is not SQL-visible); determinism / ordering /
    //    bound laws in TextOpsSpec. --------------------------------
    "q_compression_ratio" -> ((s, dir) =>
      TextOps.compressionRatio(Tables.documents(s, dir), "doc_id", "text")
        .toDF("doc_id", "n_bytes", "n_compressed", "ratio_micro")),

    // -- dedup tier 3 (exact arm): blocked bigram-Jaccard pairs --------
    "q_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "lang", n = 2, threshold = 0.5)),

    // -- dedup tier 3, PPJoin arm: rarest-first prefix-filtered
    //    candidates + exact verify. Output-identical to q_ngram_jaccard
    //    (it carries the same oracle). Measured in commit 1bfbf33: it
    //    loses on this fixture's 31-word vocab (14.6 s PPJoin vs 10.0 s
    //    standard) and wins on a generated 20k-doc corpus of 10
    //    stopwords at 30 % token mass over a 50k-word zipf tail (6.4 s
    //    vs 16.3 s). ----------------------------------------------------
    "q_ngram_jaccard_ppjoin" -> ((s, dir) =>
      Dedup.ngramJaccardPairsPrefix(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "lang", n = 2, threshold = 0.5)),

    // -- the hot-gram guard, EXECUTED: same exact tier with postings
    //    longer than 64 dropped from the join (the 100 TB safety valve
    //    for boilerplate shingles). Capped output intentionally
    //    under-counts vs q_ngram_jaccard — rows-only check; the audit
    //    query below names exactly what was dropped. ------------------
    "q_ngram_jaccard_capped" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "lang", n = 2, threshold = 0.5,
        maxPostingLen = Some(64)).orderBy("id_a", "id_b")),

    // -- the cap's audit: every (lang, gram) posting list the capped
    //    run dropped, with its length. Loud-never-silent contract. ----
    "q_hot_postings" -> ((s, dir) =>
      Dedup.hotPostings(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "lang", n = 2, maxPostingLen = 64)),

    // -- dedup tier 3b: asymmetric CONTAINMENT pairs — a small doc
    //    lifted into a big one scores 1.0 where Jaccard sees noise.
    //    Same inverted-index join, min-size denominator. ---------------
    "q_ngram_containment" -> ((s, dir) =>
      Dedup.ngramContainmentPairs(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "lang", n = 2, threshold = 0.8)),

    // -- tier 3b scale arm: asymmetric prefix filter on the SMALLER
    //    set's rarest grams (sound for containment because the
    //    denominator is min-size) + exact verify. Output-identical to
    //    q_ngram_containment — it carries the same oracle verbatim. ----
    "q_ngram_containment_banded" -> ((s, dir) =>
      Dedup.ngramContainmentPairsBanded(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "lang", n = 2, threshold = 0.8)),

    // -- dedup tier 3 (scale arm): MinHash-LSH banded candidates,
    //    Jaccard-verified. Approximate candidate generation → rows-only
    //    driver check + recall gate in LlmDedupSpec. -------------------
    "q_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashNearDups(Tables.documents(s, dir), "doc_id", "text",
        threshold = 0.5).orderBy("id_a", "id_b")),

    // -- dedup tier 4: SimHash chunk-blocked near-dups. maxHamming=3
    //    makes the 4×16-bit chunk blocking COMPLETE (pigeonhole), so
    //    the only approximation left is the sketch itself. -------------
    "q_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDups(Tables.documents(s, dir), "doc_id", "text",
        maxHamming = 3).orderBy("id_a", "id_b")),

    // -- text analysis: per-document quality statistics ----------------
    "q_text_stats" -> ((s, dir) =>
      withStats(Tables.documents(s, dir))
        .select("doc_id", "n_tokens", "n_uniq", "total_chars", "n_stop",
          "ttr", "avg_token_len", "stop_ratio", "quality")),

    // -- text analysis: Flesch reading-ease in exact micro-units —
    //    the curation bin before curriculum ordering; punctuation-free
    //    text floors at ONE sentence (loud low score, no div error) --
    "q_readability" -> ((s, dir) =>
      TextOps.readability(Tables.documents(s, dir), "doc_id", "text")),

    // -- eval: precision-recall curve of the stop-word ratio as an
    //    English detector (lang = 'en' is the label) — the
    //    threshold-picking table every filter needs; exact micro
    //    P/R/F1 at every distinct threshold --------------------------
    "q_pr_curve" -> ((s, dir) =>
      TextOps.prCurve(
        withStats(Tables.documents(s, dir))
          .withColumn("score_micro",
            expr("(CAST(n_stop AS BIGINT) * 1000000L) div n_tokens"))
          .withColumn("is_en", col("lang") === "en"),
        "is_en", "score_micro")),

    // -- eval: exact ROC-AUC of the same detector — Mann-Whitney U
    //    over doubled average ranks, tie-exact, one row ---------------
    "q_auc" -> ((s, dir) =>
      TextOps.aucRoc(
        withStats(Tables.documents(s, dir))
          .withColumn("score_micro",
            expr("(CAST(n_stop AS BIGINT) * 1000000L) div n_tokens"))
          .withColumn("is_en", col("lang") === "en"),
        "is_en", "score_micro")),

    // -- eval: reliability table of the same detector — fixed-width
    //    score bins, exact mean-score vs positive-rate gap, ECE
    //    stamped on every row; empty bins emitted with NULL rates ----
    "q_calibration" -> ((s, dir) =>
      TextOps.calibration(
        withStats(Tables.documents(s, dir))
          .withColumn("score_micro",
            expr("(CAST(n_stop AS BIGINT) * 1000000L) div n_tokens"))
          .withColumn("is_en", col("lang") === "en"),
        "is_en", "score_micro", nBins = 10)),

    // -- capstone: the detector release report — the whole eval stool
    //    on the stopword detector in ONE row: ranking (AUC), threshold
    //    quality (best F1), score trust (ECE), triage power (top-decile
    //    lift). Every stage is an already-oracle-checked operator; the
    //    COMPOSITION is what this gates ------------------------------
    "q_detector_report" -> ((s, dir) => {
      val scored = withStats(Tables.documents(s, dir))
        .withColumn("score_micro",
          expr("(CAST(n_stop AS BIGINT) * 1000000L) div n_tokens"))
        .withColumn("is_en", col("lang") === "en")
      TextOps.aucRoc(scored, "is_en", "score_micro")
        .select(col("auc_micro"))
        .crossJoin(broadcast(TextOps.prCurve(scored, "is_en", "score_micro")
          .agg(max("f1_micro").as("best_f1_micro"))))
        .crossJoin(broadcast(TextOps.calibration(scored, "is_en", "score_micro")
          .agg(max("ece_micro").as("ece_micro"))))
        .crossJoin(broadcast(TextOps.liftCurve(scored, "is_en", "score_micro")
          .filter(col("bucket") === 0)
          .select(col("lift_micro").as("lift_top_micro"))))
    }),

    // -- training prep: DPO-style preference pairs — per source the
    //    best-vs-worst stopword-scored docs, margin-gated, every group
    //    emitted with its usable verdict ------------------------------
    "q_preference_pairs" -> ((s, dir) =>
      graft.llm.Chunking.preferencePairs(
        withStats(Tables.documents(s, dir))
          .withColumn("score_micro",
            expr("(CAST(n_stop AS BIGINT) * 1000000L) div n_tokens")),
        "source", "doc_id", "score_micro", minMarginMicro = 100000L)),

    // -- eval: isotonic (PAV) calibration fit of the same detector —
    //    the FIX to what q_calibration measures; per-distinct-score
    //    mapping table with pooled blocks. Rows-only BY CONTRACT:
    //    PAV's pooling loop is sequential ---------------------------
    "q_isotonic" -> ((s, dir) =>
      TextOps.isotonicFit(
        withStats(Tables.documents(s, dir))
          .withColumn("score_micro",
            expr("(CAST(n_stop AS BIGINT) * 1000000L) div n_tokens"))
          .withColumn("is_en", col("lang") === "en"),
        "is_en", "score_micro")),

    // -- eval: cumulative gains/lift of the same detector — score-
    //    block-atomic deciles, exact capture rate and cross-multiplied
    //    lift vs base rate; empty buckets emitted, cum-stamped --------
    "q_lift_curve" -> ((s, dir) =>
      TextOps.liftCurve(
        withStats(Tables.documents(s, dir))
          .withColumn("score_micro",
            expr("(CAST(n_stop AS BIGINT) * 1000000L) div n_tokens"))
          .withColumn("is_en", col("lang") === "en"),
        "is_en", "score_micro", nBuckets = 10)),

    // -- flagship composition: the canonical corpus-curation pipeline.
    //    Quality gate → near-duplicate removal (keep the lower doc_id
    //    of each Jaccard pair) → per-source corpus stats. Every stage
    //    reuses the oracle-checked operators above, and the near-dup
    //    arm here is the EXACT tier so the whole pipeline stays
    //    DuckDB-verifiable. min/max (not avg) over quality: order-free,
    //    so doubles stay engine-deterministic. ------------------------
    "q_curation" -> ((s, dir) =>
      curation(Tables.documents(s, dir), kept =>
        Dedup.ngramJaccardPairs(kept, "doc_id", "text",
          blockCol = "lang", n = 2, threshold = 0.5),
        checkpointKept = true)),

    // -- the same pipeline on its SCALE arm: MinHash-LSH (lang-blocked,
    //    so banding inherits the exact tier's blocking) replaces the
    //    Σf² inverted-index join. Approximate candidates → rows-only
    //    driver check; LlmDedupSpec asserts its output EQUALS
    //    q_curation's on the fixture (LSH recall/precision are 1.0
    //    there, LlmDedupSpec). This is the arm a 100 TB run uses. -----
    "q_curation_lsh" -> ((s, dir) =>
      curation(Tables.documents(s, dir), kept =>
        Dedup.minhashNearDups(kept, "doc_id", "text", threshold = 0.5,
          blockCol = Some("lang")))),

    // -- text analysis: Gopher-style quality rule battery (Rae et al.
    //    2021) — per-rule booleans + the conjunction, per document ----
    "q_quality_rules" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", TextOps.tokens("text"))
        .select(col("doc_id"),
          TextOps.gopherRules("toks", StopEn, minTokens = 50).as("r"))
        .select(col("doc_id"), col("r.ok_n_tokens"), col("r.ok_mean_len"),
          col("r.ok_alpha"), col("r.ok_stop"), col("r.ok_all"))),

    // -- quality tier 2: the LEARNED scorer — hashed-unigram logistic
    //    model, weakly supervised by the Gopher rule battery (the
    //    CCNet bootstrap), trained driver-side on a bounded
    //    deterministic sample, scored as a row-local HOF map. The GD
    //    weights are not SQL-expressible → rows-only; determinism,
    //    held-out agreement and content-sensitivity gated in
    //    TextOpsSpec. ---------------------------------------------------
    "q_quality_learned" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val (w, b) = TextOps.trainQualityScorerWeak(docs, "doc_id", "text", StopEn)
      TextOps.qualityScoreLearned(docs, "doc_id", "text", w, b)
        .select(col("doc_id"),
          floor(col("q_score") * lit(1e6)).cast("long").as("score_micro"),
          (col("q_prob") >= 0.5).as("pred"))
    }),

    // -- text analysis: within-document repetition signals (the
    //    Gopher/RefinedWeb repetitious-text filters) ------------------
    "q_repetition" -> ((s, dir) =>
      Tables.documents(s, dir)
        // the repetition lambdas are quadratic per document and
        // interpreted — spread the one-partition parquet first, and
        // materialize the bigram array once per row (column input)
        .repartition(col("doc_id"))
        .withColumn("toks", TextOps.tokens("text"))
        .withColumn("bg", TextOps.ngramsAll("toks", 2))
        .select(col("doc_id"), TextOps.repetitionStats("toks", "bg").as("r"))
        .select(col("doc_id"), col("r.dup_token_frac"),
          col("r.top_token_frac"), col("r.dup_bigram_frac"))),

    // -- PII scrub: emails / IPv4 / long digit runs → typed
    //    placeholders with per-class counts. The fixture text is clean,
    //    so the query plants deterministic PII derived from doc_id
    //    (mirrored exactly in the oracle) — the operator must find and
    //    redact all of it and nothing else. -----------------------------
    "q_pii_redact" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("aug", concat(
          col("text"),
          when(col("doc_id") % 3 === 0,
            concat(lit(" contact u"), col("doc_id").cast("string"),
              lit("@example.com now"))).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
              lit(".7"))).otherwise(lit("")),
          when(col("doc_id") % 7 === 0,
            concat(lit(" ref "), lpad((col("doc_id") * col("doc_id")).cast("string"),
              9, "0"))).otherwise(lit(""))))
        .select(col("doc_id"), TextOps.redactPii("aug").as("r"))
        .select(col("doc_id"), col("r.redacted"), col("r.n_email"),
          col("r.n_ipv4"), col("r.n_number"))),

    // -- text analysis: token counting, whitespace vs BPE-ish regex.
    //    The regex class split ([a-z]+ | digits | single non-alnum) is
    //    the shape subword tokenizers pre-segment with; counts are per
    //    source so the oracle exercises the aggregation too. ----------
    "q_token_regex" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("ws_tokens", size(split(col("text"), " ")))
        .withColumn("re_tokens",
          size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens").cast("long")).as("ws_total"),
          sum(col("re_tokens").cast("long")).as("re_total"),
          max(col("re_tokens")).as("re_max"))),

    // -- text analysis: heuristic stopword-profile language ID ---------
    "q_lang_id" -> ((s, dir) => {
      val base = Tables.documents(s, dir).withColumn("toks", TextOps.tokens("text"))
      val scored = TextOps.LangProfiles.foldLeft(base) { case (d, (lang, words)) =>
        d.withColumn(s"score_$lang", TextOps.langScore("toks", words))
      }
      scored.withColumn("predicted",
          TextOps.predictedLang(TextOps.LangProfiles.map { case (l, _) => (l, s"score_$l") }))
        .select("doc_id", "lang", "score_de", "score_en", "score_es",
          "score_fr", "score_zh", "predicted")
    }),

    // -- dedup tier 5: shared-passage pairs (winnowing containment) —
    //    catches a lifted paragraph inside an otherwise different
    //    document, which barely moves bigram Jaccard. Inverted-index
    //    join on near-unique 8-token window hashes. ------------------
    "q_fingerprint_pairs" -> ((s, dir) =>
      Dedup.fingerprintPairs(Tables.documents(s, dir), "doc_id", "text",
        w = 8, minShared = 1)),

    // -- dedup tier 6: exact substring spans — every MAXIMAL verbatim
    //    token run >= 8 shared between two docs, with both positions
    //    (suffix-array dedup re-expressed as window anchors + gaps-
    //    and-islands run merging + verbatim slice verification). -----
    "q_substring_dup" -> ((s, dir) =>
      // checkpointWindows: standalone 2x win; the layout chains keep
      // the lazy default (measured per-callsite — see substringSpans)
      Dedup.substringSpans(Tables.documents(s, dir), "doc_id", "text", k = 8,
        checkpointWindows = true)),

    // -- dedup tier 6b: the REMOVAL twin — cut every verified cross-
    //    doc span from the higher-id doc (keep-first), union of
    //    covered positions, single-space token rejoin; span-free docs
    //    pass through and fully-covered docs surface empty. ----------
    "q_span_dedup" -> ((s, dir) =>
      // checkpointWindows: standalone 1.9x win (see substringSpans)
      Dedup.spanDedup(Tables.documents(s, dir), "doc_id", "text", k = 8,
        checkpointWindows = true)),

    // -- data selection: DSIR-style importance weights toward the EN
    //    slice — add-one-smoothed integer gram masses, one final
    //    divide (cross-engine exact); both count tables broadcast ----
    "q_importance" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextOps.importanceWeights(docs, docs.filter(col("lang") === "en"),
        "doc_id", "text", n = 2)
    }),

    // -- text analysis: per-document TF-IDF keywords (rational idf —
    //    ranking-invariant and cross-engine exact, see scaladoc) ------
    "q_tfidf_topk" -> ((s, dir) =>
      TextOps.tfidfTopK(Tables.documents(s, dir), "doc_id", "text", k = 3)),

    // -- text analysis: rolling-hash document fingerprint --------------
    "q_doc_fingerprint" -> ((s, dir) =>
      Tables.documents(s, dir)
        .withColumn("toks", TextOps.tokens("text"))
        .withColumn("th", TextOps.tokenHashes("toks"))
        .select(col("doc_id"), TextOps.fingerprint("th", w = 5).as("fp"))),

    // -- full MOSS winnowing: per-window rightmost-min fingerprint
    //    selection with the shared-run guarantee, all row-local -------
    "q_winnow" -> ((s, dir) =>
      TextOps.winnow(Tables.documents(s, dir), "doc_id", "text",
        w = 5, win = 4)),

    // -- similarity: exact quantized-cosine top-k (brute-force oracle
    //    tier; probe side broadcast, corpus never shuffled) ------------
    "q_embed_topk" -> ((s, dir) =>
      Similarity.bruteForceTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        probePred = col("vec_id") < 10, k = 5)),

    // -- similarity: embedding-cosine near-dup pairs (exact tier) ------
    "q_embed_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.35)),

    // -- decontamination, semantic arm: corpus embeddings vs a
    //    broadcast "benchmark" slice (vec_id < 20 stands in for the
    //    eval set) — catches the paraphrased leak the n-gram detector
    //    (q_decontaminate) structurally misses; exact quantized
    //    cosine, corpus never shuffles ---------------------------------
    "q_decontaminate_semantic" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Similarity.semanticContamination(
        emb.filter(col("vec_id") >= 20), emb.filter(col("vec_id") < 20),
        "vec_id", "embedding", threshold = 0.30)
    }),

    // -- splits: leakage-safe train/val/test — hashSplit keyed by the
    //    near-dup CLUSTER representative, so a duplicate family can
    //    never straddle the train/test fence; pairs from the LSH arm
    //    (fixture-equal to the exact tier), singletons key by their
    //    own id and stay row-local -------------------------------------
    "q_split_leakage_safe" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.5)
      graft.llm.Chunking.leakageSafeSplit(docs.select("doc_id", "source"),
          "doc_id", pairs, "id_a", "id_b",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"), col("split"))
    }),

    // -- retrieval evaluation: MRR / precision / recall / NDCG@10 in
    //    exact micro-units over the brute-force dense run, with
    //    same-label embeddings as the binary relevance judgments -----
    "q_retrieval_eval" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val run = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") < 10, k = 10)
      val lbl = emb.select(col("vec_id"), col("label"))
      val qrels = lbl.filter(col("vec_id") < 10)
        .select(col("vec_id").as("probe_id"), col("label"))
        .join(lbl.select(col("vec_id").as("neighbor_id"), col("label")),
          Seq("label"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .select(col("probe_id"), col("neighbor_id"))
      Retrieval.evalBinary(run, qrels, "probe_id", "neighbor_id",
        "rank", k = 10)
    }),

    // -- graph: multi-source BFS hop distances over the symmetrized
    //    kNN graph — unreachable nodes surface as NULL ---------------
    "q_bfs_hops" -> ((s, dir) => {
      // checkpoint the symmetrized kNN edges ONCE: bfsHops checkpoints
      // its own copy internally, but the SOURCES frame below derives
      // from the same lineage and would otherwise re-run the whole
      // quadratic kNN scan (r18 measurement)
      val edges = graft.analytics.LabelProp.symmetrize(
        Similarity.knnGraph(Tables.embeddings(s, dir), "vec_id",
          "embedding", k = 3).select(col("src"), col("dst")),
        "src", "dst").localCheckpoint(true)
      graft.analytics.LabelProp.bfsHops(edges, "src", "dst",
        edges.select(col("src")).filter(col("src") < 5), "src",
        maxIters = 20)
    }),

    // -- clustering: exact DBSCAN over the cosine ε-graph — density
    //    roles with min-id canonical clusters, border ties pinned ----
    "q_dbscan" -> ((s, dir) =>
      Similarity.dbscan(Tables.embeddings(s, dir), "vec_id", "embedding",
        threshold = 0.35, minPts = 2L)),

    // -- similarity: the near-dup pair search on its SCALE arm —
    //    multi-table LSH bucket-join candidates + exact quantized-
    //    cosine verify. Carries the SAME DuckDB oracle as
    //    q_embed_neardup: the bucketed plan must reproduce the exact
    //    result bit-for-bit at sf0.01 (candidate completeness is
    //    deterministic there; see cosineNearDupPairsLsh's scaladoc
    //    for the parameter-honesty notes on this isotropic fixture). --
    "q_embed_neardup_lsh" -> ((s, dir) =>
      Similarity.cosineNearDupPairsLsh(Tables.embeddings(s, dir), "vec_id",
        "embedding", threshold = 0.35)),

    // -- similarity: exact kNN graph (quadratic oracle tier; the
    //    rank-limit window cuts to k rows per node) -------------------
    "q_knn_graph" -> ((s, dir) =>
      Similarity.knnGraph(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 3)),

    // -- similarity: kNN graph on the bucketed SCALE arm (shared-
    //    bucket candidates, exact rerank; recall-gated in AnnSpec) ----
    "q_knn_graph_lsh" -> ((s, dir) =>
      Similarity.knnGraphLsh(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 3)),

    // -- contrastive training data: hard negatives — top-k most-
    //    similar DIFFERENT-label vectors per anchor (quadratic oracle
    //    tier; label filter BEFORE the rank window so k always fills
    //    from valid candidates) --------------------------------------
    "q_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label", k = 3)),

    // -- hard negatives on the LSH candidate arm (corpus-scale;
    //    recall-gated in AnnSpec) ------------------------------------
    "q_hard_negatives_lsh" -> ((s, dir) =>
      Similarity.hardNegativesLsh(Tables.embeddings(s, dir), "vec_id",
        "embedding", "label", k = 3)),

    // -- embedding diagnostics: matryoshka truncation fidelity — the
    //    energy the first w dims retain, per candidate width; exact
    //    norm-prefix ratio on the quantized grid ---------------------
    "q_trunc_fidelity" -> ((s, dir) =>
      Similarity.truncationFidelity(Tables.embeddings(s, dir), "vec_id",
        "embedding", widths = Seq(8, 16, 32, 64))),

    // -- embedding preprocessing: PCA projection (treeAggregate gram,
    //    driver Jacobi eigensolve, broadcast compiled MatVec kernel).
    //    The API (`pcaProject`) returns (vec_id, proj array<double>);
    //    the harness query posexplodes that to one (vec_id, dim,
    //    value_micro) row per output dimension so the driver's
    //    column-sorting comparator sees only scalars — an array cell
    //    is unhashable to its pandas canonicalizer and previously
    //    registered NOTHING (r8 verdict #1). value_micro quantizes to
    //    int micro-units; the row count (N·k) is what the rows-only
    //    contract pins, and the float laws stay gated in PcaSpec. ----
    "q_pca_project" -> ((s, dir) =>
      Similarity.pcaProject(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 8)
        .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "v")))
        .select(col("vec_id"), col("dim"),
          floor(col("v") * lit(1e6)).cast("long").as("value_micro"))),

    // -- semantic dedup, exact arm: keep-lowest over all cosine pairs
    //    ≥ 0.35 (SemDeDup's rule on the whole corpus — the oracle
    //    tier; quantized cosine keeps it cross-engine exact) ---------
    "q_semdedup" -> ((s, dir) =>
      Similarity.semanticDedup(Tables.embeddings(s, dir), "vec_id",
        "embedding", threshold = 0.35)),

    // -- semantic dedup, SCALE arm: the same rule confined to k-means
    //    cells (the SemDeDup paper's shape — pair volume N²/k, join is
    //    an equality shuffle on the cell id). Cell assignment is
    //    data-dependent → rows-only; removals ⊆ exact and planted-
    //    duplicate recall 1.0 gated in SemDedupSpec -------------------
    "q_semdedup_clustered" -> ((s, dir) =>
      Similarity.semanticDedupClustered(Tables.embeddings(s, dir), "vec_id",
        "embedding", threshold = 0.35)),

    // -- the clustered arm's audit: k-means cell sizes (pair volume is
    //    Σ n² per cell — a runaway cell is the silent scale regression
    //    this makes loud). Data-dependent cells → rows-only; the size
    //    law is gated in SemDedupSpec ----------------------------------
    "q_semdedup_cells" -> ((s, dir) =>
      Similarity.semanticDedupCells(Tables.embeddings(s, dir), "vec_id",
        "embedding").orderBy("cell")),

    // -- clustering diagnostic: simplified silhouette per k-means
    //    cell (O(N·k), per-point floored micro-units, integer mean) —
    //    the "is k right / did Lloyd degenerate" screen read before
    //    trusting any clustered tier -------------------------------
    "q_cluster_quality" -> ((s, dir) =>
      Similarity.clusterQuality(Tables.embeddings(s, dir), "vec_id",
        "embedding", nClusters = 8)),

    // -- collocation extraction: per-term top-k co-occurrence partners
    //    by exact integer lift (= exp(PMI), ranks identically with no
    //    ln) — the distributed ORACLE companion to q_word_vectors ----
    "q_collocations" -> ((s, dir) =>
      TextOps.collocations(Tables.documents(s, dir), "text",
        window = 3, topK = 5, minCount = 5)),

    // -- text: TextRank keywords — exact-integer PageRank over the
    //    ±2-window word co-occurrence graph (edges seen >= 5 times);
    //    the corpus collapses to the vocabulary-bounded edge table in
    //    one shuffle, the 10 iterations replay in unrolled CTEs. -----
    "q_textrank" -> ((s, dir) =>
      TextOps.textRank(Tables.documents(s, dir), "text",
        window = 2, topN = 50, minEdgeCount = 5)),

    // Lexical diversity / concentration per source: type-token ratio,
    // exact-rational Simpson index, top-term share — one (source, term)
    // shuffle, arithmetic on the collapsed vocabulary table.
    "q_lexical_diversity" -> ((s, dir) =>
      TextOps.lexicalDiversity(Tables.documents(s, dir), "source", "text")),

    // -- distributional semantics: PPMI-SVD static word embeddings
    //    trained FROM the corpus (Levy & Goldberg 2014) — one
    //    (term, ctx) shuffle to the V²-bounded count table, PPMI +
    //    shared deterministic Jacobi on the driver's model artifact,
    //    harness-sortable (term, dim, value_micro) out --------------
    "q_word_vectors" -> ((s, dir) =>
      WordVectors.ppmiSvd(Tables.documents(s, dir), "text",
        vocabSize = 64, window = 3, dims = 8)),

    // -- the self-trained loop closed: documents embedded as the
    //    exact-integer mean of their own corpus-trained word vectors
    //    (broadcast literal map, row-local — no shuffle, no join;
    //    OOV-only docs surface as a loud dim=-1 row) ----------------
    "q_doc_embed" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      WordVectors.docEmbeddings(docs, "doc_id", "text",
        WordVectors.ppmiSvd(docs, "text", vocabSize = 64, window = 3,
          dims = 8))
    }),

    // -- topic-modeling capstone (BERTopic shape): k-means cells over
    //    embeddings become topics, labeled by exact-integer
    //    discriminative-term lift (the c-TF-IDF idea) — pure
    //    composition of clusterAssign + discriminativeTerms, no new
    //    scale surface ---------------------------------------------
    "q_topic_model" -> ((s, dir) =>
      Topics.topicModel(Tables.documents(s, dir), Tables.embeddings(s, dir),
        "doc_id", "text", "vec_id", "embedding", nClusters = 8,
        topTerms = 5)),

    // -- similarity storage tier: per-vector symmetric int8
    //    quantization (4× density; floor keeps it cross-engine) -------
    // posexplode_OUTER + isNotNull: a plain posexplode infers
    // size(qvec) > 0, and pushdown re-substitutes the whole quantize
    // CASE into a scan-side Filter (the r5 trap — caught by the
    // PlanShapeSpec sweep when this query joined it)
    "q_embed_quantize" -> ((s, dir) =>
      Similarity.quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding")
        .select(col("vec_id"), col("scale"),
          posexplode_outer(col("qvec")).as(Seq("pos", "q")))
        .filter(col("pos").isNotNull)),

    // -- similarity: two-stage search over the int8 store (scale-free
    //    8-bit scoring → exact rerank of the shortlist) — rows-only;
    //    recall vs brute force gated in AnnSpec ------------------------
    "q_embed_topk_int8" -> ((s, dir) =>
      Similarity.topKInt8Rerank(Tables.embeddings(s, dir), "vec_id", "embedding",
        probePred = col("vec_id") < 10, k = 5).orderBy("probe_id", "rank")),

    // -- similarity: multiprobe hyperplane-LSH ANN (scale tier) --------
    "q_ann_lsh" -> ((s, dir) =>
      Similarity.annTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        probePred = col("vec_id") < 10, k = 10).orderBy("probe_id", "rank")),

    // -- similarity: IVF ANN (trained scale tier) — coarse k-means over
    //    normalized vectors, probes scan nProbe/nClusters of the corpus.
    //    Complements q_ann_lsh: IVF adapts to data density (recall ~2×
    //    the scanned fraction on this fixture vs LSH's ~1.8×), at the
    //    cost of a training pass. Rows-only + recall gate in AnnSpec. --
    "q_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        probePred = col("vec_id") < 10, k = 10).orderBy("probe_id", "rank")),

    // -- embedding hygiene: the quarantine splitter made executable —
    //    the fixture is clean, so both engines UNION the same planted
    //    dirty rows (zero vector, all-NaN, wrong dims, null element,
    //    null vector, one +Inf) and must agree on every reason tag.
    //    Oracle-checkable because the audit is pure row-local CASE
    //    logic; 'clean' is coalesced in so the output carries no
    //    nulls. --------------------------------------------------------
    "q_embed_quarantine" -> ((s, dir) => {
      val base = Tables.embeddings(s, dir).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS double))").as("embedding"))
      val dirty = s.sql(
        """SELECT CAST(-1 AS BIGINT) AS vec_id,
          |       transform(sequence(1, 64), i -> CAST(0 AS double)) AS embedding
          |UNION ALL SELECT CAST(-2 AS BIGINT),
          |       transform(sequence(1, 64), i -> CAST('NaN' AS double))
          |UNION ALL SELECT CAST(-3 AS BIGINT),
          |       array(CAST(1 AS double), CAST(2 AS double))
          |UNION ALL SELECT CAST(-4 AS BIGINT),
          |       transform(sequence(1, 64), i -> IF(i = 1, CAST(NULL AS double), CAST(1 AS double)))
          |UNION ALL SELECT CAST(-5 AS BIGINT),
          |       CAST(NULL AS ARRAY<double>)
          |UNION ALL SELECT CAST(-6 AS BIGINT),
          |       transform(sequence(1, 64), i -> IF(i = 1, CAST('Infinity' AS double), CAST(1 AS double)))""".stripMargin)
      Similarity.auditEmbeddings(base.unionByName(dirty), "vec_id",
          "embedding", expectedDims = 64)
        .select(col("vec_id"),
          coalesce(col("quarantine_reason"), lit("clean")).as("quarantine_reason"))
    }),

    // -- similarity: product-quantization ANN — 8-byte codes (m=8
    //    subspaces × ≤256 centroids packed into one int64), per-probe
    //    LUT via the block-diagonal matVec, compiled pq_adc scoring,
    //    exact rerank of the shortlist. The compression rung below
    //    int8. Rows-only; recall + storage-bound gates in AnnSpec. ---
    "q_ann_pq" -> ((s, dir) =>
      Similarity.pqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        probePred = col("vec_id") < 10, k = 10).orderBy("probe_id", "rank")),

    // -- similarity: IVFPQ — coarse cells route candidates (cell
    //    EQUALITY join, nProbe/nClusters of the corpus per probe) and
    //    each vector stores only the 8-byte PQ code of its residual;
    //    inner-product ADC = <p,cent> bias + per-probe LUT lookups.
    //    The top rung of the ANN ladder. Rows-only; recall +
    //    monotonicity gates in AnnSpec. -------------------------------
    "q_ann_ivfpq" -> ((s, dir) =>
      Similarity.ivfpqTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
        probePred = col("vec_id") < 10, k = 10, nProbe = 8)
        .orderBy("probe_id", "rank")),

    // -- similarity: orthogonal Procrustes alignment — align a
    //    rotated twin of the embedding space back onto the original
    //    (the cross-lingual / encoder-version-bridge recipe). The
    //    planted map is a signed reverse permutation (exactly
    //    orthogonal), anchors are the first 200 ids, and the output
    //    is the per-vector cosine between aligned and target — ≈1
    //    everywhere iff W recovered the rotation. Rows-only (float
    //    treeAggregate + Jacobi); ProcrustesSpec gates recovery. ------
    "q_procrustes_align" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"),
          expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("x"))
      val rot = emb.withColumn("y", expr(
        """transform(sequence(0, 63), i ->
          |  CAST(IF(i % 2 = 0, 1, -1) AS DOUBLE) *
          |  element_at(x, 64 - CAST(i AS INT)))""".stripMargin))
      val w = Similarity.procrustesTrain(
        rot.filter(col("vec_id") < 200).select(col("x"), col("y")),
        "x", "y")
      Similarity.procrustesApply(rot, "vec_id", "x", w)
        .join(rot.select(col("vec_id"), col("y")), Seq("vec_id"))
        .select(col("vec_id"), expr(
          """aggregate(zip_with(aligned, y, (a, b) -> a * b), CAST(0.0 AS DOUBLE), (s, v) -> s + v) /
            |(sqrt(aggregate(transform(aligned, a -> a * a), CAST(0.0 AS DOUBLE), (s, v) -> s + v)) *
            | sqrt(aggregate(transform(y, a -> a * a), CAST(0.0 AS DOUBLE), (s, v) -> s + v)))""".stripMargin)
          .as("cos_align"))
        .filter(col("vec_id") < 100)
    }),

    // -- similarity: the PERSISTED dense store end to end — build the
    //    IVF index, save/load it (ModelStore model + cluster-clustered
    //    members parquet), apply a daily diff with FROZEN centroids,
    //    search through the store. The corpus parquet is never read by
    //    the search itself; DenseIndexSpec gates store ≡ rebuild
    //    bit-equality plus the streaming arm. Rows-only (k-means). ---
    "q_dense_index_search" -> ((s, dir) => {
      import graft.llm.DenseIndex
      val emb = Tables.embeddings(s, dir)
      val idx = DenseIndex.build(emb, "vec_id", "embedding",
        nClusters = 16).get
      val store = TempDirs.create("graft_dense_q_").toString + "/idx"
      DenseIndex.save(idx, "vec_id", store)
      // the daily diff: vectors 0..4 "re-crawled" (unchanged content —
      // the update path still exercises remove + re-assign)
      val diff = emb.filter(col("vec_id") < 5)
      val maintained = DenseIndex.update(
        DenseIndex.load(s, "vec_id", store),
        diff.select("vec_id"), diff, "vec_id", "embedding")
      DenseIndex.search(maintained,
          emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          k = 10, nProbe = 4)
        .orderBy("probe_id", "rank")
    }),

    // -- multimodal: binary media column round-trip — build fake media,
    //    stub-decode typed metadata, sample frames. The oracle predicts
    //    every decoded field from the source columns, so the binary
    //    plumbing (header encode/parse, slicing) is what's checked. ----
    "q_multimodal_meta" -> ((s, dir) => {
      val media = Multimodal.withFakeMedia(Tables.documents(s, dir), "doc_id", "text")
      Multimodal.sampleFrames(Multimodal.decodeStub(media, "media"), "media",
          frameBytes = 32, every = 2)
        .select(col("doc_id"), col("meta.codec").as("codec"),
          col("meta.width").as("width"), col("meta.height").as("height"),
          col("meta.n_bytes").as("n_bytes"),
          col("n_frames_total"), col("n_frames_kept"))
    }),

    // -- multimodal: 64-bit perceptual fingerprint (dHash) of every
    //    media payload — the compiled grid-resample kernel
    //    (functions/MediaFunctions). Exact integer arithmetic, so the
    //    oracle replays the whole hash bit-for-bit from the bytes. ----
    "q_media_dhash" -> ((s, dir) => {
      val media = Multimodal.withFakeMedia(Tables.documents(s, dir), "doc_id", "text")
      media.select(col("doc_id"), Multimodal.dHash64("media").as("dhash"))
    }),

    // -- multimodal: PIXEL-domain perceptual near-dups — the real
    //    javax.imageio codec in the mapMediaPartitions slot. Every doc
    //    becomes a deterministic synthetic PNG (Multimodal.synthImage);
    //    every 5th doc also ships a JPEG re-encoded twin (id + 1e6) —
    //    the quality-shifted duplicate that rewrites every byte, which
    //    the byte-domain kernel provably cannot see (MultimodalSpec).
    //    Output = the hamming≤3 banded near-dup pairs over the PIXEL
    //    hashes: every planted twin (exactness gated in MultimodalSpec
    //    on crafted ids), plus the handful of synthetic layouts that
    //    genuinely land near-identical. Rows-only BY CONTRACT: the JDK
    //    codec's decoded raster is not SQL-visible. -------------------
    "q_media_dhash_pixel" -> ((s, dir) => {
      import s.implicits._
      // repartition the bare id column before the codec map: the doc
      // table arrives as one file split, and PNG/JPEG encode+decode is
      // CPU work that must spread across cores (the shuffled payload
      // is just longs — media bytes are created post-shuffle)
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .repartition(32)
        .mapPartitions(_.flatMap { id =>
          val png = Multimodal.synthImage(id)
          if (id % 5 == 0)
            Iterator((id, png), (id + 1000000L, Multimodal.reencodeJpeg(png)))
          else Iterator((id, png))
        }).toDF("doc_id", "media")
      Multimodal.hashNearDups(
        Multimodal.dHashPixel(media, "doc_id", "media")
          .select(col("id").as("doc_id"), col("dhash64").as("dhash_pixel")),
        "doc_id", "dhash_pixel", maxHamming = 3)
    }),

    // -- multimodal: perceptual near-dup pairs — planted perturbed
    //    copies (one byte changed mid-payload, id + 1e6), dHash +
    //    16-bit chunk banding + exact hamming verify. At maxHamming=2
    //    the banding is COMPLETE (pigeonhole over 4 chunks covers
    //    hamming ≤ 3), so the output equals the exact all-pairs join
    //    and the oracle replays it fully — a hash-green near-dup
    //    tier over binary media. ---------------------------------------
    "q_media_neardup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      val perturbed = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("concat(substring(text, 1, length(text) div 2), 'q', " +
            "substring(text, length(text) div 2 + 2))").as("text"))
      val media = Multimodal.withFakeMedia(docs.unionByName(perturbed),
        "doc_id", "text")
      Multimodal.mediaNearDups(media, "doc_id", "media", maxHamming = 2)
        .withColumn("hamming", col("hamming").cast("long"))
    }),

    // -- multimodal: corrupt-media quarantine — deterministic
    //    corruption (null / cut header / header-only / halved payload
    //    / appended garbage by doc_id mod 11), audited against the
    //    header's declared length. The oracle predicts every reason
    //    from doc_id alone, so the binary length arithmetic is what's
    //    checked. -------------------------------------------------------
    "q_media_quarantine" -> ((s, dir) => {
      val media = Multimodal.withFakeMedia(Tables.documents(s, dir), "doc_id", "text")
      val corrupted = media.withColumn("media",
        when(pmod(col("doc_id"), lit(11)) === 5, lit(null).cast("binary"))
          .when(pmod(col("doc_id"), lit(11)) === 7, expr("substring(media, 1, 4)"))
          .when(pmod(col("doc_id"), lit(11)) === 9, expr("substring(media, 1, 8)"))
          .when(pmod(col("doc_id"), lit(11)) === 3,
            expr("substring(media, 1, 8 + (length(media) - 8) div 2)"))
          .when(pmod(col("doc_id"), lit(11)) === 0,
            expr("concat(media, to_binary('0000', 'hex'))"))
          .otherwise(col("media")))
      Multimodal.auditMedia(corrupted, "doc_id", "media")
        .select(col("doc_id"),
          coalesce(col("quarantine_reason"), lit("clean")).as("quarantine_reason"))
    }),

    // -- multimodal capstone: the full media-ingest pipeline —
    //    corrupt-media quarantine, dHash fingerprints on the clean
    //    side, hamming-banded near-dup pairs (planted 1-char twins),
    //    connected components, keep-lowest decision. One status row
    //    per input: quarantined(reason) / dup(of cluster min) / kept.
    //    Every stage is the oracle-checked operator; the composition
    //    is what's under test here ----------------------------------
    "q_media_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val twins = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          expr("""concat(substring(text, 1, length(text) div 2), 'q',
                 |       substring(text, length(text) div 2 + 2))""".stripMargin)
            .as("text"))
      val corpus = docs.select("doc_id", "text").unionByName(twins)
      val media = Multimodal.withFakeMedia(corpus, "doc_id", "text")
      val corrupted = media.withColumn("media",
        when(pmod(col("doc_id"), lit(11)) === 5, lit(null).cast("binary"))
          .when(pmod(col("doc_id"), lit(11)) === 7, expr("substring(media, 1, 4)"))
          .when(pmod(col("doc_id"), lit(11)) === 9, expr("substring(media, 1, 8)"))
          .when(pmod(col("doc_id"), lit(11)) === 3,
            expr("substring(media, 1, 8 + (length(media) - 8) div 2)"))
          .when(pmod(col("doc_id"), lit(11)) === 0,
            expr("concat(media, to_binary('0000', 'hex'))"))
          .otherwise(col("media")))
      val (clean, quar) = Multimodal.quarantineMedia(corrupted, "doc_id", "media")
      val cc = Dedup.connectedComponents(
        Multimodal.mediaNearDups(clean, "doc_id", "media", maxHamming = 2),
        "id_a", "id_b")
      clean.select("doc_id")
        .join(cc.select(col("id").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("cluster_id").isNull || col("cluster_id") === col("doc_id"),
            lit("kept")).otherwise(lit("dup")).as("status"),
          when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"),
            col("cluster_id").cast("string")).otherwise(lit("-")).as("detail"))
        .unionByName(quar.select(col("doc_id"),
          lit("quarantined").as("status"),
          col("quarantine_reason").as("detail")))
    }),

    // -- multimodal capstone v2: the media-ingest pipeline on REAL
    //    images with the PIXEL kernel. Synthesized PNGs; every 5th doc
    //    ships a JPEG re-encoded twin (id + 1e6) — the dup the byte
    //    pipeline can't see; every 11th doc's payload is truncated to
    //    60 bytes (the cut upload), which the JDK codec refuses —
    //    QUARANTINE-BY-DECODE, the gate a real container format gets
    //    (the header-arithmetic audit is the stub format's). Pixel
    //    near-dups at hamming ≤3 → connected components → keep-lowest.
    //    One status row per input: quarantined(undecodable) /
    //    dup(of cluster min) / kept. Rows-only BY CONTRACT (codec
    //    raster); stage laws in MultimodalSpec. ----------------------
    "q_media_pipeline_pixel" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .repartition(32)
        .mapPartitions(_.flatMap { id =>
          val png = Multimodal.synthImage(id)
          val self =
            if (id % 11 == 0) (id, java.util.Arrays.copyOf(png, 60))
            else (id, png)
          if (id % 5 == 0 && id % 11 != 0)
            Iterator(self, (id + 1000000L, Multimodal.reencodeJpeg(png)))
          else Iterator(self)
        }).toDF("doc_id", "media")
      // decode ONCE: the (id, 8-byte hash, flag) table is tiny and
      // feeds four plan consumers (clean x2, banding, quarantine) that
      // would otherwise each re-run the codec pass — localCheckpoint
      // materializes it eagerly, the roleSimilarity convention (r18:
      // the checkpoint this comment promised was MISSING — the phash/
      // audio/video siblings had it, this one re-decoded per consumer)
      val hashed = Multimodal.dHashPixel(media, "doc_id", "media")
        .select(col("id").as("doc_id"), col("dhash64").as("dh"),
          col("decoded"))
        .localCheckpoint()
      val clean = hashed.filter(col("decoded"))
      val cc = Dedup.connectedComponents(
        Multimodal.hashNearDups(clean, "doc_id", "dh", maxHamming = 3),
        "id_a", "id_b")
      clean.select("doc_id")
        .join(cc.select(col("id").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("cluster_id").isNull || col("cluster_id") === col("doc_id"),
            lit("kept")).otherwise(lit("dup")).as("status"),
          when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"),
            col("cluster_id").cast("string")).otherwise(lit("-")).as("detail"))
        .unionByName(hashed.filter(!col("decoded")).select(col("doc_id"),
          lit("quarantined").as("status"),
          lit("undecodable").as("detail")))
    }),

    // -- multimodal capstone v3: the SAME ingest pipeline with the DCT
    //    pHash kernel on the distortion-heavy arm — every 5th doc's
    //    twin is re-encoded at JPEG quality 0.3 (aggressive
    //    quantization), putting the kernel swap under driver-graded
    //    row counts. Measured on this fixture at sf0.01: 84/90
    //    planted twins land within the complete-banding ≤3 ball
    //    (hamming 0: 40, 2: 44 — the median-threshold pHash flips
    //    bits in PAIRS, a median crossing moves both sides), 6 land
    //    at exactly 4 and stay `kept` — the documented quantization
    //    tail, NOT silent misses. (On these smooth synthetic images
    //    the gradient dHash absorbs q=0.3 fully — the pHash swap
    //    earns its keep on textured real-photo content, not here;
    //    the capstone grades the plumbing, not that marketing claim.)
    //    Truncated payloads (every 11th) quarantine by decode. Rows-
    //    only BY CONTRACT (codec raster); q=0.3 collision law in
    //    MultimodalSpec. -------------------------------------------
    "q_media_pipeline_phash" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .repartition(32)
        .mapPartitions(_.flatMap { id =>
          val png = Multimodal.synthImage(id)
          val self =
            if (id % 11 == 0) (id, java.util.Arrays.copyOf(png, 60))
            else (id, png)
          if (id % 5 == 0 && id % 11 != 0)
            Iterator(self, (id + 1000000L, Multimodal.reencodeJpeg(png, 0.3f)))
          else Iterator(self)
        }).toDF("doc_id", "media")
      // decode ONCE (the q_media_pipeline_pixel materialization note)
      val hashed = Multimodal.pHashPixel(media, "doc_id", "media")
        .select(col("id").as("doc_id"), col("dhash64").as("dh"),
          col("decoded"))
        .localCheckpoint()
      val clean = hashed.filter(col("decoded"))
      val cc = Dedup.connectedComponents(
        Multimodal.hashNearDups(clean, "doc_id", "dh", maxHamming = 3),
        "id_a", "id_b")
      clean.select("doc_id")
        .join(cc.select(col("id").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("cluster_id").isNull || col("cluster_id") === col("doc_id"),
            lit("kept")).otherwise(lit("dup")).as("status"),
          when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"),
            col("cluster_id").cast("string")).otherwise(lit("-")).as("detail"))
        .unionByName(hashed.filter(!col("decoded")).select(col("doc_id"),
          lit("quarantined").as("status"),
          lit("undecodable").as("detail")))
    }),

    // -- multimodal capstone, AUDIO modality: deterministic synthetic
    //    WAVs; every 5th doc ships a gain-2 re-mastered twin (id+1e6)
    //    whose fingerprint the kernel's volume-invariance law makes
    //    BIT-EQUAL (hamming 0 — the loudness-normalized duplicate);
    //    every 11th doc's payload is cut to 30 bytes inside the WAV
    //    header, which javax.sound refuses — quarantine-by-decode.
    //    audioHash → banded hamming ≤1 → connected components →
    //    keep-lowest. Rows-only BY CONTRACT (PCM decode not SQL-
    //    visible); gain/resample laws in MultimodalSpec. -----------
    "q_media_pipeline_audio" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir).select(col("doc_id")).as[Long]
        .repartition(32)
        .mapPartitions(_.flatMap { id =>
          val wav = Multimodal.synthWav(id)
          val self =
            if (id % 11 == 0) (id, java.util.Arrays.copyOf(wav, 30))
            else (id, wav)
          if (id % 5 == 0 && id % 11 != 0)
            Iterator(self, (id + 1000000L, Multimodal.synthWav(id, gain = 2)))
          else Iterator(self)
        }).toDF("doc_id", "media")
      // decode ONCE (the q_media_pipeline_pixel materialization note)
      val hashed = Multimodal.audioHash(media, "doc_id", "media")
        .select(col("id").as("doc_id"), col("dhash64").as("dh"),
          col("decoded"))
        .localCheckpoint()
      val clean = hashed.filter(col("decoded"))
      val cc = Dedup.connectedComponents(
        Multimodal.hashNearDups(clean, "doc_id", "dh", maxHamming = 1),
        "id_a", "id_b")
      clean.select("doc_id")
        .join(cc.select(col("id").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("cluster_id").isNull || col("cluster_id") === col("doc_id"),
            lit("kept")).otherwise(lit("dup")).as("status"),
          when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"),
            col("cluster_id").cast("string")).otherwise(lit("-")).as("detail"))
        .unionByName(hashed.filter(!col("decoded")).select(col("doc_id"),
          lit("quarantined").as("status"),
          lit("undecodable").as("detail")))
    }),

    // -- multimodal capstone, VIDEO modality: MJPEG clips (6 synthetic
    //    frames each, every 20th doc id) — every 5th clip ships a
    //    q=0.5 re-encoded twin (same footage, different compression),
    //    every 11th clip's payload is cut inside frame 0, leaving NO
    //    extractable frame — the frameless clip quarantines loudly.
    //    Keyframes (every 2nd frame) pixel-hash map-side; clip pairs
    //    come from mjpegNearDups' packed banding (keyframe pairs
    //    within hamming ≤3) REQUIRING ≥2 corroborating keyframe
    //    pairs — a single frame match across ~150 synthetic frames
    //    is a measured poster-frame coincidence (two 1-frame chance
    //    pairs at sf0.01), while every planted twin matches on ALL 3
    //    keyframes — then connected components → keep-lowest. The
    //    exact sf0.01 arithmetic: 25 clips, 3 quarantined (k%11), 4
    //    re-encoded twins each dup at full support. Keyframe hashes
    //    are decoded ONCE (localCheckpoint) and feed both the banding
    //    pairs and the clip-status scan — codec-bound by design, the
    //    media-capstone class. Rows-only BY CONTRACT
    //    (container split + codec raster); clip re-encode collision /
    //    frame-cadence / truncation laws in MultimodalSpec. --------
    "q_media_pipeline_video" -> ((s, dir) => {
      import s.implicits._
      val media = Tables.documents(s, dir)
        .filter(pmod(col("doc_id"), lit(20)) === 0)
        .select(col("doc_id")).as[Long]
        .repartition(32)
        .mapPartitions(_.flatMap { id =>
          val k = id / 20
          val clip = Multimodal.synthMjpeg((0 until 6).map(f => id * 100L + f))
          val self =
            if (k % 11 == 0) (id, java.util.Arrays.copyOf(clip, 50))
            else (id, clip)
          val twins =
            (if (k % 5 == 0 && k % 11 != 0)
              Iterator((id + 1000000L, Multimodal.reencodeMjpeg(clip, 0.5f)))
            else Iterator.empty) ++
              // r14: cadence-SHIFTED twin — the re-encode missing its
              // lead-in frame; positional (every-k) sampling reads
              // disjoint content and misses it, scene keyframes pair
              // it at full 5-scene support (MultimodalSpec law)
              (if (k % 7 == 0 && k % 11 != 0)
                Iterator((id + 2000000L, Multimodal.reencodeMjpeg(
                  Multimodal.synthMjpeg((1 until 6).map(f => id * 100L + f)),
                  0.5f)))
              else Iterator.empty)
          Iterator(self) ++ twins
        }).toDF("doc_id", "media")
      // decode ONCE: keyframe hashes materialize eagerly and feed BOTH
      // the banding pairs and the clip-status scan — the composition
      // the mjpegNearDups scaladoc tells a production pipeline to run.
      // Scene-change selection (not cadence): all six fixture frames
      // are distinct scenes, and ONLY content-driven keyframes catch
      // the shifted twins planted above.
      val fh = Multimodal.videoSceneKeyframeHashes(media, "doc_id", "media",
        minSceneDiff = 100L).localCheckpoint()
      val clipDecoded = fh.groupBy(col("id").as("doc_id"))
        .agg(max(when(col("decoded"), 1).otherwise(0)).as("__dec"))
      val cc = Dedup.connectedComponents(
        Multimodal.mjpegNearDupsFromHashes(fh,
          maxHamming = 3, minFramePairs = 2L),
        "id_a", "id_b")
      clipDecoded.filter(col("__dec") === 1).select("doc_id")
        .join(cc.select(col("id").as("doc_id"), col("cluster_id")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("cluster_id").isNull || col("cluster_id") === col("doc_id"),
            lit("kept")).otherwise(lit("dup")).as("status"),
          when(col("cluster_id").isNotNull && col("cluster_id") =!= col("doc_id"),
            col("cluster_id").cast("string")).otherwise(lit("-")).as("detail"))
        .unionByName(clipDecoded.filter(col("__dec") === 0)
          .select(col("doc_id"), lit("quarantined").as("status"),
            lit("no_decodable_frame").as("detail")))
    }),

    // -- layout: Z-order (Morton) code over two filter dimensions —
    //    the data-skipping clustering key. Pure codegen'd bit
    //    arithmetic; the oracle replays it with a shift-and-sum
    //    formulation. File-pruning effectiveness gated in ZorderSpec. --
    "q_zorder" -> ((s, dir) => {
      import graft.operators.Zorder
      Tables.documents(s, dir)
        .withColumn("zx", pmod(col("doc_id"), lit(4096)).cast("long"))
        .withColumn("zy", size(split(col("text"), " ")).cast("long"))
        .select(col("doc_id"), col("zx"), col("zy"),
          Zorder.mortonCode(col("zx"), col("zy")).as("z"))
    }),

    // -- physical layout: Hilbert index on the same dimensions — the
    //    locality upgrade over Z-order (continuous curve, tighter
    //    per-file boxes); compiled integer kernel, recursive-CTE
    //    oracle replays the 16-level reflect/swap loop bit-for-bit --
    "q_hilbert" -> ((s, dir) => {
      import graft.operators.Hilbert
      Tables.documents(s, dir)
        .withColumn("hx", pmod(col("doc_id"), lit(4096)).cast("long"))
        .withColumn("hy", size(split(col("text"), " ")).cast("long"))
        .select(col("doc_id"), col("hx"), col("hy"),
          Hilbert.hilbertIndex(col("hx"), col("hy")).as("h"))
    }),

    // -- context shaping: token-window chunking with overlap ------------
    "q_chunk" -> ((s, dir) =>
      Chunking.chunkDocuments(Tables.documents(s, dir), "doc_id", "text",
        chunkTokens = 32, overlapTokens = 8)),

    // -- context shaping: greedy sequence packing per source shard
    //    (secondary-sort shape; the oracle is a recursive CTE) ---------
    "q_pack_greedy" -> ((s, dir) =>
      Chunking.packGreedy(Tables.documents(s, dir), "source", "doc_id", "text",
        budgetTokens = 128)),

    // -- corpus mixing: deterministic stratified sampling with a
    //    broadcast rate table ------------------------------------------
    "q_sample_stratified" -> ((s, dir) =>
      Chunking.stratifiedSample(Tables.documents(s, dir), "lang", "doc_id",
        rates = Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1))),

    // -- sampling: Neyman (optimal) allocation — a 1000-row label
    //    budget split across event types ∝ N_h·σ_h, largest-remainder
    //    exact, caps report shortfall ---------------------------------
    "q_neyman" -> ((s, dir) =>
      Chunking.neymanAllocation(graft.Tables.events(s, dir), "event_type",
        "value", budget = 1000L)),

    // -- corpus mixing: downsample every source to ≈ a token budget
    //    (rate from one aggregate, broadcast back; Weyl pick) ---------
    "q_mix_budget" -> ((s, dir) =>
      Chunking.mixToBudget(Tables.documents(s, dir), "source", "doc_id",
        "text", budgetTokens = 2000L)),

    // -- corpus mixing: temperature-scaled source weights (|s|^0.5 —
    //    IEEE sqrt + integer micro-unit normalization, Weyl pick) ----
    "q_mix_temperature" -> ((s, dir) =>
      Chunking.mixTemperature(Tables.documents(s, dir), "source", "doc_id",
        "text", budgetTokens = 4000L)),

    // -- corpus mixing: UniMax epoch-capped uniform allocation (the
    //    published fairness alternative to temperature sampling —
    //    exact integer waterfill on the |sources| table, per-doc
    //    repetition counts, zero corpus shuffles) --------------------
    "q_mix_unimax" -> ((s, dir) =>
      Chunking.mixUniMax(Tables.documents(s, dir), "source", "doc_id",
        "text", budgetTokens = 6000L, maxEpochs = 2)),

    // -- corpus mixing: exact-k per stratum (eval-set builder) — same
    //    portable Weyl hash as the sampler; WindowGroupLimit top-k ----
    "q_sample_k_per_key" -> ((s, dir) =>
      Chunking.sampleKPerKey(Tables.documents(s, dir), "lang", "doc_id", k = 20)),

    // -- corpus mixing: Gumbel top-k — exactly 25 docs PER SOURCE
    //    drawn ∝ n_chars without replacement (the fixed-size weighted
    //    draw the proportional/Neyman/uniform arms don't cover).
    //    Deterministic Weyl u + micro-floored Gumbel key → the whole
    //    draw hash-replays in the oracle ------------------------------
    "q_sample_gumbel" -> ((s, dir) =>
      Chunking.sampleGumbelTopK(Tables.documents(s, dir), "source",
        "doc_id", "n_chars", k = 25)),

    // -- labeling-budget capstone: Neyman decides HOW MANY per stratum
    //    (budget 1000 ∝ N_h·σ_h over event-type value variance), the
    //    Gumbel draw decides WHICH rows fill each quota (∝ an exact
    //    integer importance weight, without replacement). Both stages
    //    are the oracle-checked operators; the whole composition
    //    hash-replays ------------------------------------------------
    "q_label_budget_draw" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
        .withColumn("label_weight", expr(
          "CAST(1 + abs(CAST(floor(value * 1000) AS BIGINT)) AS BIGINT)"))
      Chunking.sampleGumbelToAllocation(ev, "event_type", "event_id",
        "label_weight",
        Chunking.neymanAllocation(Tables.events(s, dir), "event_type",
          "value", budget = 1000L),
        "alloc", maxAlloc = 1000L)
    }),

    // -- retrieval: BM25 top-k per probe query (rational idf +
    //    micro-unit integer contributions — see TextOps.bm25TopK) ----
    "q_bm25_topk" -> ((s, dir) =>
      TextOps.bm25TopK(Tables.documents(s, dir), "doc_id", "text",
        Bm25Queries, k = 5, k1 = Bm25K1, b = Bm25B)),

    // -- retrieval: RM3 pseudo-relevance feedback — two BM25 passes
    //    with the relevance-model expansion terms interpolated into
    //    the query at 60/40; every inter-pass number is an exact
    //    integer, so the WHOLE two-pass pipeline hash-replays --------
    "q_bm25_rm3" -> ((s, dir) =>
      TextOps.bm25Rm3TopK(Tables.documents(s, dir), "doc_id", "text",
        Bm25Queries, k = 5, fbDocs = 5, fbTerms = 10, origPct = 60,
        k1 = Bm25K1, b = Bm25B)),

    // -- retrieval: exact phrase search via positional anchor votes —
    //    one aggregation instead of the m-way positional self-join;
    //    the oracle brute-scans every window, the engine probes ------
    "q_phrase_search" -> ((s, dir) =>
      Retrieval.phraseSearch(Tables.documents(s, dir), "doc_id", "text",
        Seq("slow", "hash", "batch"))),

    // -- exact heavy hitters: Misra-Gries candidates + exact verify —
    //    only candidate occurrences ever shuffle, output is exact ----
    "q_heavy_hitters" -> ((s, dir) =>
      graft.operators.HeavyHitters.topFrequency(
        Tables.documents(s, dir)
          .select(explode(TextOps.tokens("text")).as("term")),
        "term", k = 50)),

    // -- text analysis: Aho–Corasick taxonomy tagging — the whole
    //    (top-10 unigram + top-10 bigram) dictionary matched in ONE
    //    compiled pass per document, overlapping occurrences counted
    //    at every token end position. The dictionary derivation uses
    //    TakeOrdered (orderBy+limit) — never a corpus-wide window —
    //    then ranks the 10-row result. -----------------------------
    "q_dict_tags" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val toks = docs.select(split(col("text"), " ").as("t"))
      val w = Window.orderBy(col("c").desc, col("p").asc)
      val uni = toks.select(explode(col("t")).as("p"))
        .groupBy("p").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("p").asc).limit(10)
        .withColumn("tag_id", row_number().over(w).cast("long"))
      // t[i] subscripts are 0-based in Spark SQL; sequence guard keeps
      // single-token docs off sequence's descending-range surprise
      val bi = toks.select(explode(expr(
          "CASE WHEN size(t) >= 2 THEN transform(sequence(2, size(t)), " +
            "i -> concat(t[i-2], ' ', t[i-1])) ELSE array() END")).as("p"))
        .groupBy("p").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("p").asc).limit(10)
        .withColumn("tag_id", (row_number().over(w) + lit(10)).cast("long"))
      val dict = uni.select("tag_id", "p").unionAll(bi.select("tag_id", "p"))
      TextOps.tagDictionary(docs, "doc_id", "text", dict, "tag_id", "p")
    }),

    // -- retrieval: the PERSISTED inverted index behind the lexical
    //    arm — per-term document frequency + total term frequency,
    //    rank-limited audit of the build-once/search-many table
    //    (indexed search itself is bit-equality-gated in
    //    RetrievalSpec; the ivfTrain/ivfTopKWith pattern) -------------
    "q_inverted_index" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val idx = Retrieval.buildLexIndex(Tables.documents(s, dir),
        "doc_id", "text")
      idx.termDf.join(idx.postings.groupBy("term")
          .agg(sum(col("tf")).cast("long").as("total_tf")), Seq("term"))
        .select(col("term"), col("df"), col("total_tf"))
        .orderBy(col("df").desc, col("term")).limit(30)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("df").desc, col("term"))))
    }),

    // -- retrieval: HYBRID query-by-example — dense cosine arm +
    //    lexical BM25-by-doc arm, fused by integer reciprocal-rank
    //    fusion (both arms' rank tables are tiny; fusion never sees
    //    corpus-sized data) ----------------------------------------
    "q_hybrid_rrf" -> ((s, dir) =>
      Retrieval.hybridTopKByDoc(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        "doc_id", "text", "vec_id", "embedding",
        probePred = _ < 3, kArm = 20, k = 10,
        c = 60, k1 = Bm25K1, b = Bm25B)),

    // -- retrieval: the hybrid's SCALE arm — dense arm swapped to
    //    multiprobe hyperplane-LSH ANN; lexical arm and integer RRF
    //    fusion unchanged (rows-only: bucket misses are approximate;
    //    recall vs the exact hybrid gated in RetrievalSpec) ----------
    "q_hybrid_rrf_ann" -> ((s, dir) =>
      Retrieval.hybridTopKByDocAnn(
        Tables.documents(s, dir), Tables.embeddings(s, dir),
        "doc_id", "text", "vec_id", "embedding",
        probePred = _ < 3, kArm = 20, k = 10,
        c = 60, k1 = Bm25K1, b = Bm25B)),

    // -- retrieval capstone: RAG context assembly — chunk the corpus
    //    (non-overlapping 32-token windows), BM25-rank chunks per
    //    probe query, keep each probe's rank-order prefix within a
    //    128-token context budget (top chunk kept even if oversized —
    //    the packGreedy never-split rule). Every stage is exact
    //    integer/rank arithmetic → the whole chain is one DuckDB
    //    oracle. ------------------------------------------------------
    "q_rag_context" -> ((s, dir) => {
      val chunks = Chunking.chunkDocuments(
          Tables.documents(s, dir).select("doc_id", "text"),
          "doc_id", "text", chunkTokens = 32, overlapTokens = 0)
        .withColumn("chunk_uid",
          col("doc_id") * lit(10000L) + col("chunk_idx"))
      val ranked = TextOps.bm25TopK(chunks.select("chunk_uid", "chunk_text"),
        "chunk_uid", "chunk_text", Bm25Queries, k = 20, k1 = Bm25K1, b = Bm25B)
      val withMeta = ranked.join(
        chunks.select("chunk_uid", "doc_id", "chunk_idx", "chunk_tokens"),
        Seq("chunk_uid"))
      Retrieval.contextPack(withMeta, "qid", "rank", "chunk_tokens",
          budgetTokens = 128L)
        .select(col("qid"), col("doc_id"), col("chunk_idx"), col("rank"),
          col("chunk_tokens"), col("cum_tokens"))
    }),

    // -- graph: semi-supervised LABEL PROPAGATION over the kNN graph —
    //    a 1-in-5 seeded slice spreads its labels by per-round
    //    neighbor majority vote (count desc, label asc tie-break,
    //    seeds immutable); integer votes end-to-end, 5 unrolled
    //    rounds replay in DuckDB. Sentinels (-1 / 'unreached') keep
    //    the harness output null-free. ------------------------------
    "q_label_prop" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val edges = graft.analytics.LabelProp.symmetrize(
        Similarity.knnGraph(emb, "vec_id", "embedding", k = 3)
          .select(col("src"), col("dst")), "src", "dst")
      val seeds = emb.select(col("vec_id"),
        when(col("vec_id") % 5 === 0, col("label")).as("seed"))
      graft.analytics.LabelProp.propagate(edges, seeds, "vec_id", "seed",
          iters = 5)
        .select(col("vec_id"),
          coalesce(col("label"), lit(-1)).as("label"),
          coalesce(col("origin"), lit("unreached")).as("origin"))
    }),

    // -- graph: Newman modularity of the ground-truth label partition
    //    over the kNN graph — is the class structure graph-coherent?
    //    Exact integers; per-label Q contributions. -----------------
    "q_modularity" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.analytics.LabelProp.modularity(
        graft.analytics.LabelProp.symmetrize(
          Similarity.knnGraph(emb, "vec_id", "embedding", k = 3)
            .select(col("src"), col("dst")), "src", "dst"),
        emb.select(col("vec_id"), col("label")),
        "src", "dst", "vec_id", "label")
    }),

    // -- graph: common-neighbor link prediction over the symmetrized
    //    kNN graph — distance-2 candidates with exact neighborhood
    //    Jaccard, existing edges excluded ---------------------------
    "q_link_predict" -> ((s, dir) =>
      graft.analytics.LabelProp.linkPredict(
        graft.analytics.LabelProp.symmetrize(
          Similarity.knnGraph(Tables.embeddings(s, dir), "vec_id",
            "embedding", k = 3).select(col("src"), col("dst")),
          "src", "dst"),
        "src", "dst", minCommon = 2L)),

    // -- layout: small-file compaction planning over a deterministic
    //    synthetic manifest (per-source micro-shards sized by chars) —
    //    biggest-first cumulative binning, already-compact flagged ---
    "q_compaction_plan" -> ((s, dir) =>
      graft.operators.Compaction.plan(
        Tables.documents(s, dir)
          .groupBy(col("source").as("part"),
            (col("doc_id") % 20).as("file"))
          .agg(sum(col("n_chars")).as("bytes")),
        "part", "file", "bytes", targetBytes = 4096L)),

    // -- training order capstone: CURRICULUM layout — every doc's
    //    PageRank centrality over the kNN graph becomes its training
    //    position: Weyl shard (the q_shard_assign bucket — membership
    //    stays append-stable and write-aligned), position within the
    //    shard by centrality descending (most-representative docs
    //    first — the curriculum/coreset ordering the PageRank scaladoc
    //    promises). Integer end-to-end → full DuckDB replay. ----------
    "q_curriculum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val pr = graft.analytics.PageRank.pageRank(
        Similarity.knnGraph(Tables.embeddings(s, dir), "vec_id",
          "embedding", k = 3).select(col("src"), col("dst")),
        "src", "dst", iters = 10)
        .select(col("src").as("doc_id"), col("pr_pico"))
      val bucket = pmod(pmod(col("doc_id"), lit(65536L)) * lit(40503L),
        lit(65536L))
      val w = Window.partitionBy(col("shard"))
        .orderBy(col("pr_pico").desc, col("doc_id").asc)
      pr.withColumn("shard", pmod(bucket, lit(8L)).cast("int"))
        .withColumn("pos", row_number().over(w).cast("int"))
        .select(col("doc_id"), col("shard"), col("pos"), col("pr_pico"))
    }),

    // -- audit capstone: per-source corpus DATA CARD — doc/token
    //    volume, language spread, Gopher-rule pass count, exact-dup
    //    involvement — the one-row-per-source report a dataset release
    //    ships. One pass: a content-keyed window marks dup docs, the
    //    rule battery is row-local, then a single source groupBy; the
    //    mean is ONE IEEE divide of exact integers. ------------------
    "q_corpus_report" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      Tables.documents(s, dir)
        .withColumn("__ndup", count(lit(1)).over(Window.partitionBy(col("text"))))
        .withColumn("__toks", TextOps.tokens("text"))
        .select(col("source"), col("lang"),
          size(col("__toks")).cast("long").as("__n"),
          TextOps.gopherRules("__toks", StopEn, minTokens = 50)
            .getField("ok_all").as("__ok"),
          (col("__ndup") > 1).as("__dup"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("__n")).as("n_tokens"),
          countDistinct(col("lang")).as("n_langs"),
          sum(when(col("__ok"), 1L).otherwise(0L)).as("n_quality_ok"),
          sum(when(col("__dup"), 1L).otherwise(0L)).as("n_dup_docs"))
        .withColumn("mean_tokens",
          col("n_tokens").cast("double") / col("n_docs").cast("double"))
    }),

    // -- audit: source-centroid DOMAIN-SIMILARITY matrix — per-source
    //    mean embedding, pairwise cosine between sources: the
    //    mixture-design companion to q_corpus_report (which crawl
    //    dumps overlap; which source is redundant under temperature
    //    mixing). One posexplode shuffle that map-side-combines to
    //    S·d rows; exact integer sums, one IEEE divide per centroid
    //    component, dim-ordered folds for the pair cosines ------------
    "q_source_sim" -> ((s, dir) =>
      Similarity.sourceCentroidSim(Tables.documents(s, dir),
        Tables.embeddings(s, dir), "doc_id", "source", "vec_id",
        "embedding")),

    // -- graph: PageRank over the exact kNN graph — centrality as the
    //    coreset/curriculum signal on the embedding store. Exact
    //    integer pico-unit mass with damping 17/20, so the whole
    //    10-iteration fixpoint replays in DuckDB (unrolled CTEs) ------
    "q_pagerank" -> ((s, dir) =>
      graft.analytics.PageRank.pageRank(
        Similarity.knnGraph(Tables.embeddings(s, dir), "vec_id",
          "embedding", k = 3).select(col("src"), col("dst")),
        "src", "dst", iters = 10, topN = 50)),

    // -- graph: PERSONALIZED PageRank — seed-set corpus expansion
    //    ("find more documents like these seeds"): teleport mass lands
    //    only on the seed vectors (every 50th vec id), so stationary
    //    mass = random-walk proximity to the seeds through the kNN
    //    graph. Same exact integer map; 8 unrolled oracle steps -------
    "q_ppr_expand" -> ((s, dir) => {
      // checkpoint the kNN edges ONCE: both the seed derivation and the
      // walk consume them, and without the cut each consumer re-runs the
      // whole quadratic scan (r18 measurement: knnGraph is ~1.4 s of the
      // query; the seed count + validation paid it a second time)
      val edges = Similarity.knnGraph(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 3).select(col("src"), col("dst"))
        .localCheckpoint(true)
      val seeds = edges.select(col("src")).distinct()
        .filter(pmod(col("src"), lit(50L)) === 0L)
      graft.analytics.PageRank.personalizedPageRank(edges, "src", "dst",
        seeds, iters = 8, topN = 100)
    }),

    // -- graph: warm-start PageRank — the daily-refresh composition:
    //    5 cold iterations stand in for "yesterday's stored ranks",
    //    3 warm iterations on top. On an unchanged graph the integer
    //    update map composes exactly (warm(cold(5), 3) = cold(8)), so
    //    the oracle replays 8 unrolled SQL steps; the perturbed-graph
    //    convergence story is gated in PageRankSpec. -------------------
    "q_pagerank_warm" -> ((s, dir) => {
      // checkpoint the kNN edges ONCE: the cold pass and the warm pass
      // each persist-and-release their own copy, so without the cut the
      // quadratic kNN scan ran TWICE (r18: ~1.4 s saved)
      val edges = Similarity.knnGraph(Tables.embeddings(s, dir), "vec_id",
        "embedding", k = 3).select(col("src"), col("dst"))
        .localCheckpoint(true)
      val prev = graft.analytics.PageRank.pageRank(
        edges, "src", "dst", iters = 5)
      graft.analytics.PageRank.pageRankWarm(
        edges, "src", "dst", prev, iters = 3, topN = 50)
    }),

    // -- graph: triangle count + local clustering coefficient over the
    //    SAME kNN graph — redundancy (how replaceable a doc is)
    //    pairing q_pagerank's centrality; degree-ordered orientation
    //    (Schank–Wagner) bounds the wedge fan-out at O(√m) per node,
    //    exact integers ⇒ full DuckDB replay ---------------------------
    "q_triangles" -> ((s, dir) =>
      graft.analytics.Triangles.localTriangles(
        Similarity.knnGraph(Tables.embeddings(s, dir), "vec_id",
          "embedding", k = 3).select(col("src"), col("dst")),
        "src", "dst")
        .select(col("id").as("vec_id"), col("degree"), col("triangles"),
          col("lcc_micro"))),

    // -- graph: 3-core of the ε-similarity graph (the DBSCAN ε-pairs
    //    at cosine ≥ 0.3) — the density backbone: dense topic mass
    //    survives the peel, the sparse tail cascades away (317/500
    //    nodes at sf0.01 — a real peel, unlike the kNN graph whose
    //    uniform out-degree makes every core trivial or empty).
    //    Parallel peeling to the unique fixpoint; convergence-stop ≡
    //    the oracle's unconditionally unrolled rounds (the bfsHops
    //    contract). -------------------------------------------------
    "q_kcore" -> ((s, dir) =>
      graft.analytics.Kcore.kcoreMembers(
        Similarity.cosineNearDupPairs(Tables.embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.3)
          .select(col("id_a").as("src"), col("id_b").as("dst")),
        "src", "dst", k = 3, maxRounds = 10)
        .select(col("id").as("vec_id"), col("core_degree"))),

    // -- coreset: k-center greedy (Gonzalez farthest-point) — the
    //    DIVERSITY selection signal pairing q_pagerank's centrality:
    //    k passes, zero shuffles, one TakeOrdered row collected per
    //    round; the whole greedy trace replays in DuckDB because every
    //    similarity is exact-integer + one IEEE divide ---------------
    "q_coreset" -> ((s, dir) =>
      Coreset.kCenters(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 8)),

    // -- dedup: ENSEMBLE evidence view — the lexical exact tier
    //    (bigram Jaccard) full-outer-joined with the semantic exact
    //    tier (embedding cosine) on the aligned id space: evidence =
    //    both | lexical | semantic per pair. 'both' pairs are the
    //    near-certain removals; single-arm pairs are where the two
    //    notions of duplicate DISAGREE — the review queue. Metrics
    //    absent from an arm surface as -1 sentinels (never NULL — the
    //    harness csv-hashes column values). ---------------------------
    "q_dedup_ensemble" -> ((s, dir) =>
      Dedup.ensemblePairs(
        Dedup.ngramJaccardPairs(Tables.documents(s, dir), "doc_id",
          "text", blockCol = "lang", n = 2, threshold = 0.5),
        Similarity.cosineNearDupPairs(Tables.embeddings(s, dir),
          "vec_id", "embedding", threshold = 0.35))),

    // -- dedup: threshold-sweep decision table — for every decile
    //    threshold above the 0.2 floor, the exact pair count and the
    //    exact distinct docs a dedup at that threshold would touch.
    //    Candidates paid ONCE at the floor; thresholds broadcast. ----
    "q_dedup_sweep" -> ((s, dir) =>
      Dedup.thresholdSweep(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "lang", n = 2, floor = 0.2)),

    // -- dedup: character-level Levenshtein verification tier — the
    //    rung between set-based Jaccard (order-blind) and exact
    //    substring spans (verbatim-only). Candidates from the Jaccard
    //    inverted index at a loose 0.3 floor, then each pair scored by
    //    Spark's BANDED levenshtein kernel (band bound computed exactly
    //    from the corpus max length, so banding never clips a passing
    //    pair — output-identical to the unbanded plan, spec-gated).
    //    sim_micro is integer ((maxlen-lev)*1e6 div maxlen): DuckDB
    //    replays bit-equal with the same lev + `//`. ------------------
    "q_editdist_pairs" -> ((s, dir) =>
      Dedup.editDistancePairs(Tables.documents(s, dir), "doc_id", "text",
        blockCol = "lang", n = 2,
        candidateThreshold = 0.3, simThreshold = 0.5)),

    // -- near-dedup: the 100 TB arm of the edit-distance tier —
    //    minhashNearDups LSH candidates feeding the SAME banded-
    //    Levenshtein verify (the composition the exact tier's
    //    scaladoc promises). Rows-only BY CONTRACT: bucket misses are
    //    one-sided; ⊆-and-recall vs q_editdist_pairs gated in
    //    LlmDedupSpec. -----------------------------------------------
    "q_editdist_pairs_lsh" -> ((s, dir) =>
      Dedup.editDistancePairsLsh(Tables.documents(s, dir), "doc_id", "text",
        candidateThreshold = 0.3, simThreshold = 0.5,
        blockCol = Some("lang"))),

    // -- quality: CCNet perplexity tier — bigram LM trained on the
    //    English reference slice, every doc scored in micro-nat mean
    //    surprise, head/middle/tail terciles per source (rows-only:
    //    ln is not cross-engine exact; LmSpec pins semantics with a
    //    driver-reimplementation bit-equality gate) ------------------
    "q_perplexity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val lm = LanguageModel.trainBigramLm(docs, "text",
        col("lang") === "en", vocabSize = 2048, maxBigrams = 16384)
      LanguageModel.perplexityBuckets(docs, "doc_id", "text", "source", lm)
    }),

    // -- Moore-Lewis cross-entropy selection: in-domain ('en') vs
    //    general LM, one pair explode scoring both — rows-only (ln),
    //    single-pass ≡ two-pass bit-equality gated in LmSpec ---------
    "q_moore_lewis" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val inLm = LanguageModel.trainBigramLm(docs, "text",
        col("lang") === "en", vocabSize = 2048, maxBigrams = 16384)
      val genLm = LanguageModel.trainBigramLm(docs, "text",
        lit(true), vocabSize = 2048, maxBigrams = 16384)
      LanguageModel.mooreLewis(docs, "doc_id", "text", inLm, genLm)
    }),

    // -- dedup: segment-level boilerplate removal (the CCNet/
    //    RefinedWeb line-dedup pass on token segments) ---------------
    "q_segment_dedup" -> ((s, dir) =>
      Dedup.segmentDedup(Tables.documents(s, dir), "doc_id", "text",
        w = 4, minDocs = 3)),

    // -- dedup: intra-document repeated-segment removal (row-local
    //    HOF chain — the transform twin of q_repetition's signals) ----
    "q_intradoc_dedup" -> ((s, dir) =>
      Dedup.intraDocDedup(Tables.documents(s, dir), "doc_id", "text", w = 2)),

    // -- bookkeeping: SNAPSHOT DIFF — the crawl-refresh ledger
    //    (added/removed/changed/unchanged per id, one full-outer
    //    equi-join); old/new views are deterministic slices of the
    //    fixture so the ledger itself is the thing under test ---------
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val prev = docs.filter(col("doc_id") % 7 =!= 3)
        .select(col("doc_id"), col("text"))
      val curr = docs.filter(col("doc_id") % 5 =!= 4)
        .select(col("doc_id"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      Dedup.snapshotDiff(prev, curr, "doc_id", "text")
    }),

    // -- bookkeeping: snapshot DRIFT — the distributional companion to
    //    q_snapshot_diff over the SAME old/new slices: per-source token
    //    shares in exact micro-units, the share delta, and the total-
    //    variation distance of the source mix stamped on every row.
    //    Everything integer ⇒ bit-for-bit cross-engine -----------------
    "q_snapshot_drift" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val prev = docs.filter(col("doc_id") % 7 =!= 3)
        .select(col("source"), col("text"))
      val curr = docs.filter(col("doc_id") % 5 =!= 4)
        .select(col("source"),
          when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
      Dedup.snapshotDrift(prev, curr, "source", "text")
    }),

    // -- embeddings: semantic drift — per label the cosine between the
    //    old/new snapshot centroids, all-integer on the quantized grid
    //    (cosine is scale-invariant ⇒ sums stand in for means); the
    //    even/odd vec_id halves play the two snapshots. --------------
    "q_embed_drift" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.embedDrift(e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 === 1), "label", "embedding")
    }),

    // -- audit: cross-source segment-overlap matrix — the LEXICAL
    //    companion to q_source_sim: distinct shared stride-4 segments
    //    per source pair (verbatim content flow between crawls);
    //    equality join on segment text, never all-pairs ---------------
    "q_source_overlap" -> ((s, dir) =>
      Dedup.crossSourceOverlap(Tables.documents(s, dir), "text",
        "source", w = 4)),

    // -- sink planning: size-targeted shard counts per source — the
    //    small-files valve ahead of a parquet write; exact integer
    //    ceiling division, one aggregate -----------------------------
    "q_shard_plan" -> ((s, dir) =>
      Chunking.shardPlan(Tables.documents(s, dir), "text", "source",
        targetBytes = 65536L)),

    // -- training order: deterministic global shuffle into shards ----
    "q_shard_assign" -> ((s, dir) =>
      Chunking.shardAssign(Tables.documents(s, dir), "doc_id", nShards = 8)),

    // -- context shaping: per-source token-length histogram in exact
    //    power-of-2 buckets (length-of-bin, never float log2) with
    //    integer micro-unit shares — the packing-width decision input.
    //    One partial-agg shuffle collapsing to sources × ~40 rows. ----
    "q_length_hist" -> ((s, dir) =>
      Chunking.lengthHistogram(Tables.documents(s, dir), "source", "text")),

    // -- serving/eval layout: sorted dynamic batching — bucket by
    //    token length (width 64), longest-first inside the bucket, cut
    //    into batches of 8; per batch the exact padded-slot and waste
    //    token accounting (per-doc waste < bucketWidth BY
    //    CONSTRUCTION). Bucket is the window PARTITION key — the sort
    //    is per-bucket, never global. -------------------------------
    "q_length_batching" -> ((s, dir) =>
      Chunking.lengthBatches(Tables.documents(s, dir), "doc_id", "text",
        bucketWidth = 64, batchSize = 8)),

    // -- release engineering: per-shard integrity manifest — doc
    //    count, byte volume, id range, order-free md5-fold checksum
    //    over the same Weyl shards as q_shard_assign. One partial-agg
    //    shuffle collapsing to nShards rows; exact integers, DuckDB
    //    replays md5 + the i² hex fold bit-for-bit. ------------------
    "q_release_manifest" -> ((s, dir) =>
      Chunking.releaseManifest(Tables.documents(s, dir), "doc_id", "text",
        nShards = 8)),

    // -- sampling: PPS-systematic with HT weights — exactly 20
    //    boundary hits per source through the Weyl-hash order; the
    //    low-variance companion to the rate-based mixing tiers -------
    "q_pps_sample" -> ((s, dir) =>
      Chunking.ppsSystematicSample(Tables.documents(s, dir), "source",
        "doc_id", "text", picksPerSource = 20)),

    // -- tokenizer evaluation: per-language fertility (subwords per
    //    word) over the trained merge table; rows-only — the merge
    //    table is data-dependent (the q_bpe_tokens contract) ---------
    "q_fertility" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.llm.Bpe.train(docs, "text", numMerges = 50)
      graft.llm.Bpe.fertility(docs, "lang", "text", merges)
    }),

    // -- release engineering: manifest reconciliation between an "old
    //    release" slice (doc_id % 50 ≠ 0, the decontamination split)
    //    and the full corpus — shard-count rows in and out, corpus
    //    untouched ---------------------------------------------------
    "q_manifest_diff" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Chunking.manifestDiff(
        Chunking.releaseManifest(
          docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
          "doc_id", "text", nShards = 8),
        Chunking.releaseManifest(docs, "doc_id", "text", nShards = 8))
    }),

    // -- training order: multi-epoch reshuffle — a different seeded
    //    affine permutation of each shard's traversal order per epoch
    //    (bijective by coprime stride, gcd-checked driver-side and
    //    gcd-replayed in the oracle); shard membership untouched ------
    "q_epoch_order" -> ((s, dir) =>
      Chunking.epochOrder(Tables.documents(s, dir), "doc_id",
        nShards = 8, epochs = 2, seed = 42L)),

    // -- training layout: concat-with-EOD + exact L-token blocks
    //    (span view — O(docs + crossings) rows, never token explode) --
    "q_pack_blocks" -> ((s, dir) =>
      Chunking.packBlocks(Tables.documents(s, dir), "doc_id", "text",
        nShards = 8, blockTokens = 128)),

    // -- the round-8 TRAINING-LAYOUT layer end-to-end in one query:
    //    intra-doc repetition cut → temperature-scaled source mixing →
    //    deterministic shards → exact-width block spans. Every stage
    //    is oracle-expressible, so the whole chain is replayed in one
    //    DuckDB CTE and hash-checked — the q_prep_pipeline discipline
    //    applied to the layout layer. -------------------------------
    "q_training_layout" -> ((s, dir) => {
      // r9: cross-doc span removal FIRST (keep-first, L-72), so lifted
      // passages don't inflate a source's token budget downstream —
      // then intra-doc stutter, mix, shard, pack as before. The
      // cleaned prefix is persisted: mixTemperature consumes it twice
      // (budget aggregate + sampling join) and packBlocks a third
      // time, and each consumer would otherwise re-run the span chain
      // (see q_layout_funnel for the measured cost of not doing this).
      val spanned = Dedup.spanDedup(Tables.documents(s, dir),
          "doc_id", "text", k = 8)
        .select(col("doc_id"), col("text"))
      val cleaned = Dedup.intraDocDedup(spanned, "doc_id", "text", w = 2)
        .select(col("doc_id"), col("clean_text").as("text")).persist()
      val withSrc = cleaned.join(
        Tables.documents(s, dir).select("doc_id", "source"), Seq("doc_id"))
      val picked = Chunking.mixTemperature(withSrc, "source", "doc_id",
          "text", budgetTokens = 20000L)
        .select("doc_id")
      Chunking.packBlocks(
        withSrc.join(picked, Seq("doc_id"), "left_semi"),
        "doc_id", "text", nShards = 4, blockTokens = 256)
    }),

    // -- funnel audit of the layout chain: one row per stage with doc
    //    and token counts — the loud-never-silent pattern (L-18/L-53)
    //    applied to the whole pipeline, so a stage that silently eats
    //    the corpus shows up as a cliff in a 4-row table -------------
    "q_layout_funnel" -> ((s, dir) => {
      val raw = Tables.documents(s, dir)
      // The funnel fans FIVE consumers out of one cleaning chain; each
      // union branch re-evaluates its whole lineage, so without a
      // persist the span chain (the expensive stage) runs once PER
      // BRANCH (measured: 8.0 s vs 1.4 s pre-span at sf0.1). Persisting
      // the two shared prefixes is exactly what a production audit
      // does before fanning out — semantics-free, results identical.
      val spanned = Dedup.spanDedup(raw, "doc_id", "text", k = 8)
        .select(col("doc_id"), col("text")).persist()
      val cleaned = Dedup.intraDocDedup(spanned, "doc_id", "text", w = 2)
        .select(col("doc_id"), col("clean_text").as("text")).persist()
      val withSrc = cleaned.join(raw.select("doc_id", "source"), Seq("doc_id"))
      val kept = withSrc.join(
        Chunking.mixTemperature(withSrc, "source", "doc_id", "text",
          budgetTokens = 20000L).select("doc_id"),
        Seq("doc_id"), "left_semi")
      val blocks = Chunking.packBlocks(kept, "doc_id", "text",
        nShards = 4, blockTokens = 256)
      def stage(df: DataFrame, name: String, textCol: String) =
        df.agg(count(lit(1)).as("n_docs"),
            sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens"))
          .select(lit(name).as("stage"), col("n_docs"), col("n_tokens"))
      stage(raw, "raw", "text")
        .unionAll(stage(spanned, "span", "text"))
        .unionAll(stage(cleaned, "intradoc", "text"))
        .unionAll(stage(kept, "mix", "text"))
        .unionAll(blocks.agg(
            countDistinct(col("doc_id")).as("n_docs"),
            sum(col("len")).as("n_tokens"))
          .select(lit("pack").as("stage"), col("n_docs"), col("n_tokens")))
    }),

    // -- the FULL training-data prep pipeline in one query: quality
    //    gate → near-dup removal (LSH scale arm, fixture-equal to the
    //    exact tier) → token-window chunking → greedy packing per
    //    source shard. Every stage composes its SCALE arm; the oracle
    //    replays the whole chain (exact pairs + recursive packing
    //    CTE), so the end-to-end result is still hash-checked. Chunk
    //    ids are doc_id·1000 + chunk_idx (≤ ~5 chunks/doc here;
    //    collision-free while chunks/doc < 1000). -------------------
    "q_prep_pipeline" -> ((s, dir) => {
      val kept = withStats(Tables.documents(s, dir))
        .filter(col("quality") >= 0.55 && col("n_tokens") >= 20)
      val dupIds = Dedup.minhashNearDups(kept, "doc_id", "text",
          threshold = 0.5, blockCol = Some("lang"))
        .select(col("id_b").as("doc_id")).distinct()
      val clean = kept.join(dupIds, Seq("doc_id"), "left_anti")
        .select("doc_id", "source", "text")
      val chunks = Chunking.chunkDocuments(clean, "doc_id", "text",
          chunkTokens = 32, overlapTokens = 8, carryCols = Seq("source"))
        .select((col("doc_id") * 1000 + col("chunk_idx")).as("cid"),
          col("source"), col("chunk_text"))
      Chunking.packGreedy(chunks, "source", "cid", "chunk_text",
        budgetTokens = 128)
    }),

    // -- dedup clusters: transitive closure of the near-dup pairs via
    //    min-label connected components. Pairs come from the MinHash-
    //    LSH scale arm (spec-proven equal to the unblocked exact tier
    //    on this corpus — LlmDedupSpec recall/precision 1.0), so the
    //    oracle can replay the EXACT pair graph as a recursive
    //    reachability CTE while the Spark side runs the plan that
    //    survives 100 TB ----------------------------------------------
    "q_dedup_clusters" -> ((s, dir) => {
      val pairs = Dedup.minhashNearDups(Tables.documents(s, dir),
        "doc_id", "text", threshold = 0.5)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),

    // -- dedup: INCREMENTAL clusters — yesterday's labels (docs %10<6)
    //    collapse to star edges, only delta pairs (touching a new doc)
    //    propagate on top; result ≡ the from-scratch clusters, so it
    //    carries q_dedup_clusters' full-corpus oracle. At 100 TB the
    //    delta comes from the persisted-index probe (minhashProbe),
    //    never a full-corpus pair join; here the fixture derives it by
    //    filtering the full pair set ---------------------------------
    "q_dedup_clusters_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val stored = Dedup.connectedComponents(
        Dedup.minhashNearDups(docs.filter(pmod(col("doc_id"), lit(10)) < 6),
          "doc_id", "text", threshold = 0.5),
        "id_a", "id_b").select(col("id"), col("cluster_id"))
      val delta = Dedup.minhashNearDups(docs, "doc_id", "text",
          threshold = 0.5)
        .filter(pmod(col("id_a"), lit(10)) >= 6 ||
          pmod(col("id_b"), lit(10)) >= 6)
      Dedup.connectedComponentsIncremental(stored, delta, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
    }),

    // -- dedup: SOFT retention weights — downweight instead of drop:
    //    each near-dup cluster collectively counts ONCE (exact integer
    //    micro-units, remainder to the min-id member so per-cluster
    //    mass is exactly 1e6 — conserved, composable with the integer
    //    mixing tiers). Pairs from the LSH scale arm (fixture-equal to
    //    the exact tier), so the oracle replays the exact pair graph --
    "q_soft_dedup" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.5)
      Dedup.softDedupWeights(docs, "doc_id", pairs, "id_a", "id_b")
    }),

    // -- mixing: the soft-dedup weights COMPOSED into the mixture
    //    decision input — per source raw vs EFFECTIVE token mass
    //    (cluster text counts once) and the effective micro-unit
    //    share a post-dedup sampler draws from ------------------------
    "q_weighted_mix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        threshold = 0.5)
      val w = Dedup.softDedupWeights(docs, "doc_id", pairs, "id_a", "id_b")
      Chunking.weightedSourceMix(docs, "source", "doc_id", "text", w)
    }),

    // -- tokenizer: BPE trained on THIS corpus's word-frequency table
    //    (one count shuffle + driver merge loop over the bounded
    //    vocab), then per-source subword stats with the encode paid
    //    once per DISTINCT word and broadcast back. Trained merges are
    //    data-dependent → rows-only; BpeSpec gates the textbook
    //    merges, roundtrip, and sequential-replay equivalence --------
    "q_bpe_tokens" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.llm.Bpe.train(docs, "text", numMerges = 50)
      graft.llm.Bpe.subwordStats(docs, "source", "text", merges)
    }),

    // -- unigram-LM tokenizer (Kudo 2018): the OTHER tokenizer family;
    //    Viterbi-best segmentation under a hard-EM-trained piece
    //    table, compiled kernel, same encode-once-per-distinct-word
    //    ledger as q_bpe_tokens (the same rows-only contract) --------
    //    (vocab 40 / pieces <= 4 chars: the fixture has only 31
    //    distinct words, so a larger budget would trivially make every
    //    word its own piece and the ledger degenerate to fertility 1)
    "q_unigram_tokens" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pieces = graft.llm.Unigram.train(docs, "text", vocabSize = 40,
        maxPieceLen = 4)
      graft.llm.Unigram.subwordStats(docs, "source", "text", pieces,
        maxPieceLen = 4)
    }),

    // -- vocabulary: top-k token frequencies (tokenizer-training feed);
    //    TakeOrdered top-k, never a full-vocab sort --------------------
    "q_vocab_topk" -> ((s, dir) =>
      TextOps.vocabTopK(Tables.documents(s, dir), "text", k = 20)),

    // -- corpus comparison: per-source distinctive vocabulary by exact
    //    integer lift (PMI without the log); one corpus shuffle, then
    //    collapsed-table arithmetic + a per-source top-k window ------
    "q_discriminative" -> ((s, dir) =>
      TextOps.discriminativeTerms(Tables.documents(s, dir), "source",
        "text", topK = 15, minCount = 5L)),

    // -- decontamination: corpus docs (doc_id%50 ≠ 0) sharing ≥ 3
    //    distinct 5-grams with a "benchmark" slice (%50 = 0); the
    //    bench side is broadcast, the corpus never shuffles ----------
    "q_decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.contaminationPairs(
        docs.filter(pmod(col("doc_id"), lit(50)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "doc_id", "text", n = 5, minShared = 3L)
    }),

    // -- decontamination capstone: the per-source leak dashboard —
    //    lexical (verbatim) and semantic (paraphrase) verdicts
    //    unioned per document, aggregated per source with exact
    //    micro-unit leak rates. Same %50 bench convention for both
    //    arms so the denominators line up. --------------------------
    "q_contamination_report" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      val lex = Dedup.contaminationPairs(corpus,
        docs.filter(pmod(col("doc_id"), lit(50)) === 0),
        "doc_id", "text", n = 5, minShared = 3L).select("doc_id")
      val emb = Tables.embeddings(s, dir)
      val sem = Similarity.semanticContamination(
        emb.filter(pmod(col("vec_id"), lit(50)) =!= 0),
        emb.filter(pmod(col("vec_id"), lit(50)) === 0),
        "vec_id", "embedding", threshold = 0.30).select("doc_id")
      Dedup.contaminationReport(corpus, "doc_id", "source", lex, sem)
    }),

    // -- dedup QA: per-document n-gram NOVELTY — share of each doc's
    //    distinct trigrams first seen (min doc id = crawl-order proxy)
    //    in that doc; near-0 flags text assembled from earlier docs
    //    even when no pair crosses a near-dup threshold. Keyed
    //    shuffles only — the affordable metric when pair tiers aren't -
    "q_novelty" -> ((s, dir) =>
      Dedup.gramNovelty(Tables.documents(s, dir), "doc_id", "text", n = 3)),

    // -- dedup retention policy: keep the BEST-QUALITY document per
    //    near-dup cluster (not the lowest id) — the policy a curation
    //    pipeline actually wants. Quality is the oracle-shared
    //    composite (deterministic doubles ⇒ identical ordering in both
    //    engines), ties break on doc_id. ------------------------------
    "q_dedup_keep_best" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
      val withCluster = withStats(docs).select("doc_id", "quality")
        .join(cc, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("quality").desc, col("doc_id"))
      withCluster.withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .select(col("cluster_id"), col("doc_id").as("keep_id"),
          col("quality").as("kept_quality"))
    }),

    // -- language-ID evaluation: the (true lang, predicted) confusion
    //    matrix — the accuracy view an operator owner actually reads --
    "q_langid_confusion" -> ((s, dir) => {
      val base = Tables.documents(s, dir).withColumn("toks", TextOps.tokens("text"))
      val scored = TextOps.LangProfiles.foldLeft(base) { case (d, (lang, words)) =>
        d.withColumn(s"score_$lang", TextOps.langScore("toks", words))
      }
      scored.withColumn("predicted",
          TextOps.predictedLang(TextOps.LangProfiles.map { case (l, _) => (l, s"score_$l") }))
        .groupBy("lang", "predicted")
        .agg(count(lit(1)).as("n"))
    }),

    // -- leakage-safe split: assign train/val/test by near-dup CLUSTER
    //    (LSH pairs → connected components; singletons are their own
    //    cluster), so two near-duplicate documents can never straddle
    //    the train/test boundary — the split-level decontamination a
    //    per-doc hash split cannot give. Same Weyl cuts, keyed on the
    //    cluster id. Oracle replays the reachability CTE + the cuts. --
    "q_split_by_cluster" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .select(col("id").as("doc_id"), col("cluster_id"))
      val withCluster = docs.select("doc_id").join(cc, Seq("doc_id"), "left")
        .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
      Chunking.hashSplit(withCluster, "cluster_id",
          weights = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select("doc_id", "cluster_id", "split")
    }),

    // -- train/val/test assignment: same Weyl bucket as the sampler,
    //    cut at cumulative weights — row-local and append-stable ------
    "q_split_assign" -> ((s, dir) =>
      Chunking.hashSplit(Tables.documents(s, dir), "doc_id",
          weights = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))),

    // -- cross-batch dedup, exact arm: hash anti-join of an incoming
    //    batch (doc_id%10 ≥ 4) against the existing corpus (%10 < 6);
    //    the %10∈{4,5} slice is the planted overlap -------------------
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.newDocsExact(
        docs.filter(pmod(col("doc_id"), lit(10)) < 6),
        docs.filter(pmod(col("doc_id"), lit(10)) >= 4),
        "doc_id", "text")
    }),

    // -- cross-batch dedup, Bloom scale arm: same batches, map-side
    //    BloomFilterMightContain probe, no shuffle. One-sided error
    //    (≤ fpp chance of wrongly dropping a new doc) → rows-only;
    //    bloom ⊆ exact is gated in LlmDedupSpec ------------------------
    "q_dedup_incremental_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.newDocsBloom(
        docs.filter(pmod(col("doc_id"), lit(10)) < 6),
        docs.filter(pmod(col("doc_id"), lit(10)) >= 4),
        "doc_id", "text", expectedItems = 10000L, fpp = 0.001)
    }))

  /** DuckDB twin of `synthSitemaps` — shared by the standalone
    * sitemap parse and the r16 discovery composition.
    */
  private val SitemapBodyCtes: String =
    """hs AS (
      |  SELECT DISTINCT CAST(doc_id % 5 AS INT) AS h FROM documents
      |), sm AS (
      |  SELECT concat('sm', CAST(h AS VARCHAR), '.example') AS host,
      |    CASE h
      |    WHEN 0 THEN concat_ws(chr(10),
      |      '<?xml version="1.0"?>',
      |      '<urlset>',
      |      '  <url>',
      |      '    <loc>https://sm0.example/a</loc>',
      |      '    <lastmod>2024-01-05</lastmod>',
      |      '    <changefreq>daily</changefreq>',
      |      '    <priority>0.8</priority>',
      |      '  </url>',
      |      '  <url>',
      |      '    <loc>https://sm0.example/b</loc>',
      |      '    <lastmod>2024-02-06T10:00:00Z</lastmod>',
      |      '    <changefreq>WEEKLY</changefreq>',
      |      '    <priority>1.0</priority>',
      |      '  </url>',
      |      '</urlset>')
      |    WHEN 1 THEN concat(
      |      '<urlset><url><loc>https://sm1.example/p?a=1&amp;b=2',
      |      '</loc></url></urlset>')
      |    WHEN 2 THEN concat_ws(chr(10),
      |      '<urlset>',
      |      concat('<url><lastmod>2024-03-01</lastmod>',
      |             '<changefreq>sometimes</changefreq></url>'),
      |      concat('<url><loc> https://sm2.example/ws </loc>',
      |             '<priority>1.5</priority></url>'),
      |      '</urlset>')
      |    WHEN 3 THEN concat(
      |      '<sitemapindex><sitemap><loc>https://sm3.example/more.xml',
      |      '</loc></sitemap></sitemapindex>')
      |    ELSE concat_ws(chr(10),
      |      '<urlset>',
      |      concat('<url><loc>https://sm4.example/x</loc>',
      |             '<priority>0</priority></url>'),
      |      concat('<url><loc>https://sm4.example/y</loc>',
      |             '<lastmod>2024-04-01</lastmod>',
      |             '<priority>0.55</priority></url>'),
      |      concat('<url><loc>https://sm4.example/z&amp;lt;esc</loc>',
      |             '<changefreq>never</changefreq></url>'),
      |      '</urlset>')
      |    END AS content
      |  FROM hs
      |)""".stripMargin

  /** Generator-shortcut oracle shared by BOTH WARC container layouts
    * (raw `q_warc_records` and gzip-member `q_warc_records_gz`): the
    * fixtures write the same three records per file, so either
    * walker must reproduce exactly these rows.
    */
  private val WarcRecordsOracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    concat('graft warcinfo ', CAST(doc_id AS VARCHAR)) AS b1,
      |    concat('payload with WARC/1.0 inside ',
      |           CAST(doc_id AS VARCHAR)) AS b2,
      |    concat('https://w', CAST(doc_id % 7 AS VARCHAR),
      |           '.example/p/', CAST(doc_id AS VARCHAR)) AS u2
      |  FROM documents
      |)
      |SELECT doc_id AS file_id, CAST(0 AS INTEGER) AS rec_idx,
      |  'warcinfo' AS warc_type, CAST(NULL AS VARCHAR) AS target_uri,
      |  CAST(length(b1) AS BIGINT) AS content_length,
      |  b1 AS body_text, 'ok' AS status FROM d
      |UNION ALL
      |SELECT doc_id, CAST(1 AS INTEGER), 'response', u2,
      |  CAST(length(b2) AS BIGINT), b2, 'ok' FROM d
      |UNION ALL
      |SELECT doc_id, CAST(2 AS INTEGER), 'metadata',
      |  CAST(NULL AS VARCHAR), CAST(4 AS BIGINT), 'meta', 'ok'
      |FROM d""".stripMargin

  /** DuckDB twin of `synthRobots` + the RFC 9309 parse/group-select
    * chain: parallel unnest zips lines with positions, the group id
    * is a lag + running-sum pair of window CTE levels, selection is a
    * QUALIFY over the per-host max specificity.
    */
  private val RobotsCtes: String =
    """WITH hostsr AS (
      |  SELECT DISTINCT CAST(doc_id % 10 AS INT) AS h FROM documents
      |), bodies AS (
      |  SELECT concat('rb', CAST(h AS VARCHAR), '.example') AS host,
      |    CASE h
      |    WHEN 0 THEN concat_ws(chr(10),
      |      'Disallow: /orphan', 'Sitemap:',
      |      'User-agent: *', 'Disallow: /tmp/*', 'Allow: /tmp/public')
      |    WHEN 1 THEN concat_ws(chr(10),
      |      'User-agent: *', 'Disallow: /', '',
      |      'User-agent: graftbot', 'Allow: /a$', 'Disallow: /a')
      |    WHEN 2 THEN concat_ws(chr(10),
      |      concat('# robots for rb2', chr(13)),
      |      concat('USER-AGENT: GraftBot', chr(13)),
      |      concat('DISALLOW: /private', chr(13)),
      |      concat('Crawl-Delay: 7', chr(13)))
      |    WHEN 3 THEN concat_ws(chr(10),
      |      'User-agent: otherbot', 'User-agent: graftbot',
      |      'Disallow: /x', 'Crawl-delay: 3',
      |      'Sitemap: https://offline.example/m.xml')
      |    WHEN 4 THEN concat_ws(chr(10),
      |      'User-agent: *', 'Crawl-delay: 0', 'Disallow:')
      |    WHEN 5 THEN concat_ws(chr(10),
      |      'User-agent: graftbot', 'Disallow: /one', 'Crawl-delay: 9',
      |      'User-agent: graftbot', 'Allow: /two', 'Crawl-delay: 4')
      |    WHEN 6 THEN concat_ws(chr(10),
      |      'User-agent: otherbot', 'Disallow: /',
      |      'Sitemap: https://sm1.example/map.xml')
      |    WHEN 7 THEN concat_ws(chr(10),
      |      'User-agent: graftbot', 'Crawl-delay: fast',
      |      'Disallow: /slow')
      |    WHEN 8 THEN concat_ws(chr(10),
      |      'User-agent: *', '',
      |      'Sitemap: https://sm4.example/map.xml',
      |      'Crawl-delay: 0.5',
      |      'Disallow: /p:q')
      |    ELSE concat_ws(chr(10),
      |      'User-agent: *', 'Disallow: /cal/*', 'Allow: /cal/today$')
      |    END AS content
      |  FROM hostsr
      |), rlines AS (
      |  SELECT host,
      |    unnest(string_split(content, chr(10))) AS raw,
      |    unnest(range(1, len(string_split(content, chr(10))) + 1)) AS ln
      |  FROM bodies
      |), rdirs AS (
      |  SELECT host, ln,
      |    lower(regexp_extract(line, '^([A-Za-z-]+)\s*:', 1)) AS dir,
      |    regexp_extract(line, '^[A-Za-z-]+\s*:\s*(.*)$', 1) AS val
      |  FROM (SELECT host, ln, regexp_replace(regexp_replace(raw,
      |      '#.*$', ''), '^\s+|\s+$', '', 'g') AS line FROM rlines)
      |  WHERE line != ''
      |), rrel AS (
      |  SELECT host, ln, dir, val, (dir = 'user-agent') AS isua
      |  FROM rdirs
      |  WHERE dir IN ('user-agent', 'allow', 'disallow', 'crawl-delay')
      |), rnew AS (
      |  SELECT host, ln, dir, val, isua,
      |    (isua AND NOT coalesce(lag(isua) OVER (
      |       PARTITION BY host ORDER BY ln), false)) AS newgrp
      |  FROM rrel
      |), rgrps AS (
      |  SELECT host, ln, dir, val, isua,
      |    SUM(CASE WHEN newgrp THEN 1 ELSE 0 END) OVER (
      |      PARTITION BY host ORDER BY ln) AS grp
      |  FROM rnew
      |), rspec AS (
      |  SELECT host, grp,
      |    max(CASE WHEN lower(val) = 'graftbot' THEN 2
      |             WHEN val = '*' THEN 1 ELSE 0 END) AS spec
      |  FROM rgrps WHERE isua GROUP BY 1, 2
      |), rchosen AS (
      |  SELECT host, grp FROM rspec
      |  QUALIFY spec = max(spec) OVER (PARTITION BY host) AND spec > 0
      |)""".stripMargin

  private val baseOracleSql: Map[String, String] = Map(

    "q_robots_rules" ->
      s"""$RobotsCtes
        |SELECT g.host, g.val AS prefix, (g.dir = 'allow') AS allow
        |FROM rgrps g JOIN rchosen c USING (host, grp)
        |WHERE g.dir IN ('allow', 'disallow') AND g.val != ''""".stripMargin,

    "q_robots_delays" ->
      s"""$RobotsCtes
        |SELECT g.host,
        |  min(CASE WHEN regexp_matches(g.val, '^[0-9]+([.][0-9]+)?$$')
        |      THEN CAST(regexp_extract(g.val, '^([0-9]+)', 1) AS BIGINT)
        |         + CASE WHEN regexp_extract(g.val,
        |             '^[0-9]+[.]([0-9]*[1-9])', 1) != ''
        |           THEN 1 ELSE 0 END END) AS crawl_delay
        |FROM rgrps g JOIN rchosen c USING (host, grp)
        |WHERE g.dir = 'crawl-delay'
        |GROUP BY 1""".stripMargin,

    // closed-form class replay: each body class's declared target and
    // verdict are direct string builds from doc_id (the
    // generator-shortcut convention) — an extractor blind to attribute
    // order, a resolver that needs a base for absolute refs, or a
    // canonicalizer that misses the port/utm mess mismatches instantly
    "q_rel_canonical" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 5 AS INT) AS k,
        |    (doc_id % 97 = 0) AS mal,
        |    concat('https://cn', CAST(doc_id % 6 AS VARCHAR),
        |           '.example/p/', CAST(doc_id % 40 AS VARCHAR)) AS own
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN mal THEN NULL ELSE own END AS self_canonical,
        |  CASE k
        |    WHEN 1 THEN own
        |    WHEN 2 THEN CASE WHEN mal THEN NULL
        |      ELSE concat('https://cn', CAST(doc_id % 6 AS VARCHAR),
        |                  '.example/p/0') END
        |    WHEN 3 THEN 'https://cn0.example/dup'
        |    ELSE NULL END AS decl_canonical,
        |  CASE WHEN mal THEN 'malformed'
        |       WHEN k = 0 THEN 'none'
        |       WHEN k = 1 THEN 'self'
        |       WHEN k = 4 THEN 'broken'
        |       ELSE 'cross' END AS verdict
        |FROM d""".stripMargin,

    // the redirect walk replay: the SAME 8 unrolled linear steps
    // with the returned-to-origin flag — the algorithm is the
    // contract, so no closed form exists to shortcut
    "q_redirect_collapse" ->
      s"""WITH re0 AS (
        |  SELECT doc_id, CAST(doc_id % 9 AS INT) AS c, doc_id // 9 AS m
        |  FROM documents WHERE doc_id % 97 != 0
        |), re AS (
        |  SELECT
        |    CASE c
        |    WHEN 0 THEN concat('https://rd.example/s/',
        |                       CAST(doc_id AS VARCHAR))
        |    WHEN 1 THEN concat('https://rd.example/a/', CAST(m AS VARCHAR))
        |    WHEN 2 THEN concat('https://rd.example/b/', CAST(m AS VARCHAR))
        |    WHEN 3 THEN concat('https://rd.example/self/',
        |                       CAST(doc_id AS VARCHAR))
        |    WHEN 4 THEN concat('https://rd.example/ca/', CAST(m AS VARCHAR))
        |    WHEN 5 THEN concat('https://rd.example/cb/', CAST(m AS VARCHAR))
        |    WHEN 6 THEN concat('https://rd.example/z1/', CAST(m AS VARCHAR))
        |    WHEN 7 THEN concat('https://rd.example/z2/', CAST(m AS VARCHAR))
        |    ELSE concat('https://rd.example/z3/', CAST(m AS VARCHAR))
        |    END AS src,
        |    CASE c
        |    WHEN 0 THEN concat('https://rd.example/t/',
        |                       CAST(doc_id % 40 AS VARCHAR))
        |    WHEN 1 THEN concat('https://rd.example/b/', CAST(m AS VARCHAR))
        |    WHEN 2 THEN concat('https://rd.example/t2/',
        |                       CAST(m AS VARCHAR))
        |    WHEN 3 THEN concat('https://rd.example/self/',
        |                       CAST(doc_id AS VARCHAR))
        |    WHEN 4 THEN concat('https://rd.example/cb/', CAST(m AS VARCHAR))
        |    WHEN 5 THEN concat('https://rd.example/ca/', CAST(m AS VARCHAR))
        |    WHEN 6 THEN concat('https://rd.example/z2/', CAST(m AS VARCHAR))
        |    WHEN 7 THEN concat('https://rd.example/z3/', CAST(m AS VARCHAR))
        |    ELSE concat('https://rd.example/z1/', CAST(m AS VARCHAR))
        |    END AS dst
        |  FROM re0
        |), rp0 AS (
        |  SELECT src AS alias_url, dst AS cur,
        |    CAST(1 AS INTEGER) AS hops, (dst = src) AS lp
        |  FROM re
        |),
        |${redirectStepCtes(8)},
        |rsrc AS (SELECT DISTINCT src FROM re)
        |SELECT p.alias_url,
        |  CASE WHEN p.lp OR s.src IS NOT NULL THEN NULL
        |       ELSE p.cur END AS final_url,
        |  CAST(CASE WHEN p.lp OR s.src IS NOT NULL THEN NULL
        |       ELSE p.hops END AS INTEGER) AS hops,
        |  CASE WHEN p.lp THEN 'loop'
        |       WHEN s.src IS NOT NULL THEN 'too_long'
        |       ELSE 'resolved' END AS redirect_class
        |FROM rp8 p LEFT JOIN rsrc s ON p.cur = s.src""".stripMargin,

    // identity-map replay: single-hop closed forms of both alias
    // sources, the pinned precedence CASE (redirect > canonical >
    // syntactic), conflict/agreement/ambiguity/malformed classes
    "q_url_identity" ->
      """WITH d AS (
        |  SELECT doc_id, (doc_id % 97 = 0) AS mal,
        |    concat('https://ui', CAST(doc_id % 9 AS VARCHAR),
        |           '.example/p/', CAST(doc_id AS VARCHAR)) AS c
        |  FROM documents
        |), x AS (
        |  SELECT doc_id, mal, c,
        |    (NOT mal AND doc_id % 5 = 0) AS has_r,
        |    (NOT mal AND doc_id % 3 = 0) AS has_k,
        |    (NOT mal AND doc_id % 6 = 3 AND doc_id % 5 != 0) AS amb,
        |    concat('https://rf.example/f/',
        |           CAST(doc_id % 40 AS VARCHAR)) AS r,
        |    CASE WHEN doc_id % 30 = 0
        |      THEN concat('https://rf.example/f/',
        |                  CAST(doc_id % 40 AS VARCHAR))
        |      ELSE concat('https://cn.example/c/',
        |                  CAST(doc_id % 30 AS VARCHAR)) END AS k
        |  FROM d
        |)
        |SELECT doc_id,
        |  CASE WHEN mal THEN concat('ui', CAST(doc_id % 9 AS VARCHAR),
        |         '.example/no-scheme')
        |       ELSE concat('https://ui', CAST(doc_id % 9 AS VARCHAR),
        |         '.example/p/', CAST(doc_id AS VARCHAR),
        |         CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x'
        |              ELSE '' END) END AS url,
        |  CASE WHEN mal THEN NULL
        |       WHEN has_r THEN r
        |       WHEN amb THEN c
        |       WHEN has_k THEN k
        |       ELSE c END AS identity_url,
        |  CASE WHEN mal THEN 'malformed'
        |       WHEN has_r AND has_k AND r != k
        |         THEN 'redirect_canonical_conflict'
        |       WHEN has_r THEN 'redirect'
        |       WHEN amb THEN 'ambiguous_canonical'
        |       WHEN has_k THEN 'canonical'
        |       ELSE 'syntactic' END AS identity_source
        |FROM x""".stripMargin,

    // status-aware policy replay: the parse chain for 2xx hosts,
    // synthetic disallow-all rows for the 5xx/unreachable/redirect
    // classes, the LIKE precedence pick, and the policy_source audit
    // join — a fetch-failed host is never a silent default-allow
    "q_robots_fetch_policy" ->
      s"""$RobotsCtes,
        |st AS (
        |  SELECT host, CAST(substring(host, 3, 1) AS INT) AS h
        |  FROM bodies
        |), pol AS (
        |  SELECT host,
        |    CASE WHEN h IN (0, 1, 6, 9) THEN 'parsed'
        |         WHEN h IN (2, 7) THEN 'allow_all_4xx'
        |         WHEN h = 8 THEN 'disallow_all_5xx'
        |         WHEN h IN (3, 5) THEN 'redirect_unfollowed_disallow'
        |         ELSE 'unreachable_disallow' END AS policy_source
        |  FROM st
        |), rls AS (
        |  SELECT g.host, g.val AS prefix, (g.dir = 'allow') AS allow
        |  FROM rgrps g JOIN rchosen c USING (host, grp)
        |  JOIN pol p ON p.host = g.host AND p.policy_source = 'parsed'
        |  WHERE g.dir IN ('allow', 'disallow') AND g.val != ''
        |  UNION ALL
        |  SELECT host, '/', false FROM pol
        |  WHERE policy_source IN ('unreachable_disallow',
        |    'redirect_unfollowed_disallow', 'disallow_all_5xx')
        |), rulesp AS (
        |  SELECT host, prefix, allow,
        |    concat(replace(replace(replace(replace(
        |      CASE WHEN prefix LIKE '%$$'
        |           THEN substring(prefix, 1, length(prefix) - 1)
        |           ELSE prefix END,
        |      '!', '!!'), '%', '!%'), '_', '!_'), '*', '%'),
        |      CASE WHEN prefix LIKE '%$$' THEN '' ELSE '%' END) AS pat
        |  FROM rls
        |), fr AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 THEN NULL
        |    ELSE concat('https://rb', CAST(doc_id % 10 AS VARCHAR),
        |      '.example',
        |      CASE CAST(doc_id % 4 AS INT)
        |        WHEN 0 THEN concat('/tmp/', CAST(doc_id % 3 AS VARCHAR))
        |        WHEN 1 THEN '/tmp/public'
        |        WHEN 2 THEN '/cal/today'
        |        ELSE concat('/p/', CAST(doc_id % 7 AS VARCHAR))
        |      END) END AS canonical_url
        |  FROM documents
        |), mf AS (
        |  SELECT f.doc_id, f.canonical_url, r.prefix, r.allow
        |  FROM fr f LEFT JOIN rulesp r
        |    ON regexp_extract(f.canonical_url,
        |         '^[a-z][a-z0-9+.-]*://([^/?]*)', 1) = r.host
        |   AND regexp_extract(f.canonical_url,
        |         '^[a-z][a-z0-9+.-]*://[^/?]*(.*)$$', 1)
        |       LIKE r.pat ESCAPE '!'
        |), rankedf AS (
        |  SELECT doc_id, canonical_url, prefix, allow,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY length(prefix) DESC NULLS LAST,
        |               allow DESC NULLS LAST,
        |               prefix DESC NULLS LAST) AS rn
        |  FROM mf
        |)
        |SELECT r.doc_id, r.canonical_url,
        |  CASE WHEN r.canonical_url IS NULL THEN false
        |       ELSE coalesce(r.allow, true) END AS allowed,
        |  r.prefix AS rule_prefix, p.policy_source
        |FROM rankedf r LEFT JOIN pol p
        |  ON regexp_extract(r.canonical_url,
        |       '^[a-z][a-z0-9+.-]*://([^/?]*)', 1) = p.host
        |WHERE r.rn = 1""".stripMargin,

    // Sitemap lines live OUTSIDE the group machinery: rdirs (all
    // parsed lines) filtered by directive, no group join anywhere
    "q_robots_sitemaps" ->
      s"""$RobotsCtes
        |SELECT host, nullif(val, '') AS sitemap_url
        |FROM rdirs WHERE dir = 'sitemap'""".stripMargin,

    // the discovery chain in one lineage: directive extract ->
    // host-keyed fetch join -> block parse under the advertising host
    "q_discovery_fetchlist" ->
      s"""$RobotsCtes, $SitemapBodyCtes, adv AS (
        |  SELECT host AS robots_host,
        |    regexp_extract(val, '^https?://([^/?]*)', 1) AS sm_host
        |  FROM rdirs WHERE dir = 'sitemap' AND val != ''
        |), fetched AS (
        |  SELECT a.robots_host AS host, s.content
        |  FROM adv a JOIN sm s ON a.sm_host = s.host
        |), blksd AS (
        |  SELECT host, unnest(regexp_extract_all(
        |    regexp_replace(content, '\\s+', ' ', 'g'),
        |    '<url>.*?</url>|<sitemap>.*?</sitemap>', 0)) AS blk
        |  FROM fetched
        |), blksh AS (
        |  SELECT host, blk,
        |    lower(regexp_extract(blk,
        |      '<changefreq>\\s*(.*?)\\s*</changefreq>', 1)) AS cfr,
        |    CASE WHEN regexp_matches(regexp_extract(blk,
        |        '<priority>\\s*(.*?)\\s*</priority>', 1),
        |        '^[01]([.][0-9]{1,3})?$$')
        |      THEN CAST(regexp_extract(regexp_extract(blk,
        |          '<priority>\\s*(.*?)\\s*</priority>', 1),
        |          '^([01])', 1) AS INTEGER) * 1000
        |        + CAST(rpad(regexp_extract(regexp_extract(blk,
        |            '<priority>\\s*(.*?)\\s*</priority>', 1),
        |            '^[01][.]([0-9]{1,3})$$', 1), 3, '0') AS INTEGER)
        |      END AS pm
        |  FROM blksd
        |)
        |SELECT host,
        |  nullif(replace(replace(replace(replace(replace(
        |    regexp_extract(blk, '<loc>\\s*(.*?)\\s*</loc>', 1),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&apos;', ''''), '&amp;', '&'), '') AS url,
        |  nullif(regexp_extract(blk,
        |    '<lastmod>\\s*(.*?)\\s*</lastmod>', 1), '') AS lastmod,
        |  starts_with(blk, '<sitemap>') AS is_index,
        |  CASE WHEN cfr IN ('always', 'hourly', 'daily', 'weekly',
        |    'monthly', 'yearly', 'never') THEN cfr END AS changefreq,
        |  CAST(CASE WHEN pm <= 1000 THEN pm END AS INTEGER)
        |    AS priority_milli
        |FROM blksh""".stripMargin,

    // generator-shortcut oracle: the walker must reproduce EXACTLY
    // the records the fixture wrote — a delimiter-driven split would
    // cut the red-herring body and mismatch
    "q_warc_records" -> WarcRecordsOracle,

    // the gzip-member twin PARSES TO THE SAME RECORDS by design —
    // one oracle, two container layouts (parity is also a spec law)
    "q_warc_records_gz" -> WarcRecordsOracle,

    // generator shortcut: the closed form of the ten HTTP fixture
    // classes (the parser must reproduce what the fixture wrote)
    "q_http_response" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 10 AS INT) AS c,
        |    concat('<html>page ', CAST(doc_id AS VARCHAR),
        |           '</html>') AS html,
        |    concat('https://hx', CAST(doc_id % 10 AS VARCHAR),
        |           '.example/p/', CAST(doc_id AS VARCHAR)) AS uri
        |  FROM documents
        |)
        |SELECT doc_id AS msg_id, uri,
        |  CAST(CASE c WHEN 3 THEN 404 WHEN 4 THEN 301 WHEN 5 THEN NULL
        |    WHEN 7 THEN 204 ELSE 200 END AS INTEGER) AS status_code,
        |  CASE c WHEN 3 THEN 'Not Found' WHEN 4 THEN 'Moved Permanently'
        |    WHEN 5 THEN NULL WHEN 7 THEN NULL ELSE 'OK' END AS reason,
        |  CASE WHEN c IN (0, 1, 6, 8) THEN 'text/html'
        |    WHEN c IN (2, 3) THEN 'text/plain' END AS mime,
        |  CASE WHEN c IN (0, 6) THEN 'utf-8'
        |    WHEN c = 1 THEN 'iso-8859-1' END AS charset,
        |  CAST(CASE WHEN c IN (0, 6) THEN length(html)
        |    WHEN c IN (4, 7) THEN 0 END AS BIGINT) AS content_length,
        |  CASE WHEN c = 4 THEN concat('/moved/', CAST(doc_id AS VARCHAR))
        |    END AS location,
        |  CASE WHEN c = 0 THEN concat('"e', CAST(doc_id AS VARCHAR), '"')
        |    END AS etag,
        |  CASE WHEN c = 3 THEN 'Wed, 01 Jan 2025 00:00:00 GMT'
        |    END AS last_modified,
        |  CASE c WHEN 2 THEN concat('chunk one ', CAST(doc_id AS VARCHAR),
        |      ' and chunk two')
        |    WHEN 3 THEN concat('missing ', CAST(doc_id AS VARCHAR))
        |    WHEN 5 THEN concat('<html>lost header ',
        |      CAST(doc_id AS VARCHAR), '</html>')
        |    WHEN 9 THEN 'partial ok'
        |    WHEN 1 THEN '' WHEN 4 THEN '' WHEN 7 THEN 'brotli bytes'
        |    WHEN 8 THEN ''
        |    ELSE html END AS payload_text,
        |  CASE c WHEN 5 THEN 'bad_status_line'
        |    WHEN 8 THEN 'truncated_headers'
        |    WHEN 9 THEN 'bad_chunk'
        |    WHEN 1 THEN 'bad_content_encoding'
        |    WHEN 7 THEN 'unsupported_encoding' ELSE 'ok' END AS status
        |FROM d""".stripMargin,

    // the collapse replay: class + representative from the closed
    // form of the eight fixture classes, with PRESENCE + STABILITY
    // of the declared target replayed in SQL (partner healthy :=
    // its doc_id exists and is not %97-malformed), then the
    // first-seen survivor window over representatives
    "q_canonical_collapse" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |d AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS c, doc_id // 8 AS m,
        |    (doc_id % 97 = 0) AS bad
        |  FROM documents
        |), h AS (
        |  SELECT d.*,
        |    EXISTS (SELECT 1 FROM ids i WHERE i.doc_id = d.m * 8 + 7
        |            AND i.doc_id % 97 != 0) AS c7_ok,
        |    EXISTS (SELECT 1 FROM ids i WHERE i.doc_id = d.m * 8 + 4
        |            AND i.doc_id % 97 != 0) AS c4_ok,
        |    EXISTS (SELECT 1 FROM ids i WHERE i.doc_id = d.m * 8 + 5
        |            AND i.doc_id % 97 != 0) AS c5_ok
        |  FROM d
        |), r AS (
        |  SELECT doc_id,
        |    CASE WHEN bad THEN NULL
        |      ELSE CASE c
        |        WHEN 0 THEN concat('https://cl0.example/p0/',
        |                           CAST(doc_id AS VARCHAR))
        |        WHEN 1 THEN concat('https://cl1.example/p1/',
        |                           CAST(doc_id AS VARCHAR))
        |        WHEN 2 THEN concat('https://cl2.example/p2/',
        |                           CAST(doc_id AS VARCHAR))
        |        WHEN 3 THEN concat('https://cl3.example/c3/',
        |                           CAST(m AS VARCHAR))
        |        WHEN 4 THEN concat('https://lp.example/a/',
        |                           CAST(m AS VARCHAR))
        |        WHEN 5 THEN concat('https://lp.example/b/',
        |                           CAST(m AS VARCHAR))
        |        WHEN 6 THEN concat('https://cl6.example/p6/',
        |                           CAST(doc_id AS VARCHAR))
        |        ELSE concat('https://cl7.example/c7/', CAST(m AS VARCHAR))
        |      END END AS self_canonical,
        |    CASE WHEN bad THEN 'malformed'
        |      WHEN c IN (0, 1, 6) THEN 'kept'
        |      WHEN c = 2 THEN 'collapsed'
        |      WHEN c = 3 THEN CASE WHEN c7_ok THEN 'chain'
        |                          ELSE 'collapsed' END
        |      WHEN c = 4 THEN CASE WHEN c5_ok THEN 'loop'
        |                          ELSE 'collapsed' END
        |      WHEN c = 5 THEN CASE WHEN c4_ok THEN 'loop'
        |                          ELSE 'collapsed' END
        |      ELSE 'collapsed' END AS collapse_class,
        |    CASE WHEN bad THEN NULL
        |      WHEN c = 2 THEN concat('https://hub.example/h/',
        |                             CAST(doc_id % 10 AS VARCHAR))
        |      WHEN c = 3 AND NOT c7_ok
        |        THEN concat('https://cl7.example/c7/', CAST(m AS VARCHAR))
        |      WHEN c = 4 AND NOT c5_ok
        |        THEN concat('https://lp.example/b/', CAST(m AS VARCHAR))
        |      WHEN c = 5 AND NOT c4_ok
        |        THEN concat('https://lp.example/a/', CAST(m AS VARCHAR))
        |      WHEN c = 7 THEN concat('https://stable.example/s/',
        |                             CAST(m AS VARCHAR))
        |      ELSE CASE c
        |        WHEN 0 THEN concat('https://cl0.example/p0/',
        |                           CAST(doc_id AS VARCHAR))
        |        WHEN 1 THEN concat('https://cl1.example/p1/',
        |                           CAST(doc_id AS VARCHAR))
        |        WHEN 3 THEN concat('https://cl3.example/c3/',
        |                           CAST(m AS VARCHAR))
        |        WHEN 4 THEN concat('https://lp.example/a/',
        |                           CAST(m AS VARCHAR))
        |        WHEN 5 THEN concat('https://lp.example/b/',
        |                           CAST(m AS VARCHAR))
        |        ELSE concat('https://cl6.example/p6/',
        |                    CAST(doc_id AS VARCHAR))
        |      END END AS representative
        |  FROM h
        |)
        |SELECT doc_id, self_canonical, representative, collapse_class,
        |  CASE WHEN representative IS NOT NULL THEN
        |    min(doc_id) OVER (PARTITION BY representative) END
        |    AS survivor_id,
        |  coalesce(doc_id = CASE WHEN representative IS NOT NULL THEN
        |    min(doc_id) OVER (PARTITION BY representative) END, false)
        |    AS is_survivor
        |FROM r""".stripMargin,

    // closed form of the planted links that survive the
    // status-200 text/html gate: %5==1 pages emit (own, own) TWICE
    // (the canonical tag's href + the rooted /l href) + (own,
    // x(doc_id%3)); %5==3 pages emit (own, own) twice (the rooted
    // /cn canonical href + the ../r relative href); 404, text/plain
    // and 301 classes emit nothing
    "q_warc_http" ->
      """WITH d AS (
        |  SELECT doc_id, concat('w', CAST(doc_id % 7 AS VARCHAR),
        |    '.example') AS sh
        |  FROM documents
        |), e AS (
        |  SELECT doc_id, sh AS src_host, sh AS dst_host FROM d
        |  WHERE doc_id % 5 IN (1, 3)
        |  UNION ALL
        |  SELECT doc_id, sh, sh FROM d WHERE doc_id % 5 IN (1, 3)
        |  UNION ALL
        |  SELECT doc_id, sh, concat('x', CAST(doc_id % 3 AS VARCHAR),
        |    '.example') FROM d WHERE doc_id % 5 = 1
        |)
        |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
        |FROM e GROUP BY 1, 2""".stripMargin,

    // the canonical-declaration twin over the same WARC pages: the
    // html classes' closed-form verdicts (absolute self tag on %5==1,
    // single-quoted rooted cross tag on %5==3)
    "q_warc_canonical" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 5 AS INT) AS c,
        |    concat('https://w', CAST(doc_id % 7 AS VARCHAR),
        |      '.example/p/', CAST(doc_id AS VARCHAR)) AS own,
        |    concat('https://w', CAST(doc_id % 7 AS VARCHAR),
        |      '.example/cn/', CAST(doc_id % 6 AS VARCHAR)) AS cn
        |  FROM documents WHERE doc_id % 5 IN (1, 3)
        |)
        |SELECT doc_id AS msg_id, own AS self_canonical,
        |  CASE c WHEN 1 THEN own ELSE cn END AS decl_canonical,
        |  CASE c WHEN 1 THEN 'self' ELSE 'cross' END AS verdict
        |FROM d""".stripMargin,

    // visible-text closed form of the two html classes: class 1's
    // title is entity-decoded + trimmed into its OWN column, its
    // body text keeps the anchor text + bare URL; class 3 is the
    // single anchor letter
    "q_warc_text" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 5 AS INT) AS c,
        |    concat('https://w', CAST(doc_id % 7 AS VARCHAR),
        |      '.example/p/', CAST(doc_id AS VARCHAR)) AS own
        |  FROM documents WHERE doc_id % 5 IN (1, 3)
        |)
        |SELECT doc_id AS msg_id, own AS uri,
        |  CASE WHEN c = 1 THEN concat('Page & ',
        |    CAST(doc_id AS VARCHAR)) END AS title,
        |  CASE WHEN c = 1 THEN concat('x see https://x',
        |    CAST(doc_id % 3 AS VARCHAR), '.example/a')
        |    ELSE 'u' END AS text
        |FROM d""".stripMargin,

    // charset-precedence closed form: the six prescan classes
    "q_http_charset" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(doc_id % 8 AS INT) AS c FROM documents
        |)
        |SELECT doc_id AS msg_id,
        |  CASE WHEN c = 0 THEN 'iso-8859-1' END AS http_charset,
        |  CASE c WHEN 0 THEN 'utf-8' WHEN 1 THEN 'windows-1252'
        |    WHEN 3 THEN 'iso-8859-1' WHEN 5 THEN 'utf-8'
        |    WHEN 6 THEN 'utf-8'
        |    END AS meta_charset,
        |  CASE c
        |  WHEN 0 THEN '<meta charset="utf-8">hé'
        |  WHEN 1 THEN '<meta charset="windows-1252">“A”'
        |  WHEN 2 THEN concat('plain ', CAST(doc_id AS VARCHAR))
        |  WHEN 3 THEN concat('<meta http-equiv="Content-Type" ',
        |    'content="text/html; charset=ISO-8859-1">hé')
        |  WHEN 4 THEN concat(repeat('x', 1100),
        |    '<meta charset="iso-8859-1"> tail ',
        |    CAST(doc_id AS VARCHAR))
        |  WHEN 6 THEN concat('<meta charset=utf-8>gz ok ',
        |    CAST(doc_id AS VARCHAR))
        |  WHEN 7 THEN concat('zlib seven ', CAST(doc_id AS VARCHAR))
        |  ELSE concat('<meta charset=utf-8 > five ',
        |    CAST(doc_id AS VARCHAR))
        |  END AS page_text
        |FROM d""".stripMargin,

    // the redirect-map composition: the 301 class's (request URI →
    // resolved Location) edge closed form, then the SAME 8 unrolled
    // walk steps as q_redirect_collapse — the %20 subclass's
    // cross-record chains advance exactly when the partner record
    // exists
    "q_warc_redirects" ->
      s"""WITH re AS (
        |  SELECT concat('https://w', CAST(doc_id % 7 AS VARCHAR),
        |      '.example/p/', CAST(doc_id AS VARCHAR)) AS src,
        |    CASE WHEN doc_id % 20 = 4
        |      THEN concat('https://w', CAST((doc_id + 5) % 7 AS VARCHAR),
        |        '.example/p/', CAST(doc_id + 5 AS VARCHAR))
        |      ELSE concat('https://w', CAST(doc_id % 7 AS VARCHAR),
        |        '.example/moved/', CAST(doc_id % 9 AS VARCHAR)) END AS dst
        |  FROM documents WHERE doc_id % 5 = 4
        |), rp0 AS (
        |  SELECT src AS alias_url, dst AS cur,
        |    CAST(1 AS INTEGER) AS hops, (dst = src) AS lp
        |  FROM re
        |),
        |${redirectStepCtes(8)},
        |rsrc AS (SELECT DISTINCT src FROM re)
        |SELECT p.alias_url,
        |  CASE WHEN p.lp OR s.src IS NOT NULL THEN NULL
        |       ELSE p.cur END AS final_url,
        |  CAST(CASE WHEN p.lp OR s.src IS NOT NULL THEN NULL
        |       ELSE p.hops END AS INTEGER) AS hops,
        |  CASE WHEN p.lp THEN 'loop'
        |       WHEN s.src IS NOT NULL THEN 'too_long'
        |       ELSE 'resolved' END AS redirect_class
        |FROM rp8 p LEFT JOIN rsrc s ON p.cur = s.src""".stripMargin,

    // same block-regex chain; nullif('') replays the loud NULL class
    "q_sitemap_urls" ->
      s"""WITH $SitemapBodyCtes
        |, blks AS (
        |  SELECT host,
        |    unnest(regexp_extract_all(
        |      regexp_replace(content, '\\s+', ' ', 'g'),
        |      '<url>.*?</url>|<sitemap>.*?</sitemap>', 0)) AS blk
        |  FROM sm
        |), blkx AS (
        |  SELECT host, blk,
        |    lower(regexp_extract(blk,
        |      '<changefreq>\\s*(.*?)\\s*</changefreq>', 1)) AS cfr,
        |    regexp_extract(blk,
        |      '<priority>\\s*(.*?)\\s*</priority>', 1) AS prr
        |  FROM blks
        |), blkh AS (
        |  SELECT host, blk, cfr,
        |    CASE WHEN regexp_matches(prr, '^[01]([.][0-9]{1,3})?$$')
        |      THEN CAST(regexp_extract(prr, '^([01])', 1) AS INTEGER)
        |        * 1000
        |        + CAST(rpad(regexp_extract(prr,
        |            '^[01][.]([0-9]{1,3})$$', 1), 3, '0') AS INTEGER)
        |      END AS pm
        |  FROM blkx
        |)
        |SELECT host,
        |  nullif(replace(replace(replace(replace(replace(
        |    regexp_extract(blk, '<loc>\\s*(.*?)\\s*</loc>', 1),
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&apos;', ''''), '&amp;', '&'), '') AS url,
        |  nullif(regexp_extract(blk, '<lastmod>\\s*(.*?)\\s*</lastmod>', 1),
        |    '') AS lastmod,
        |  starts_with(blk, '<sitemap>') AS is_index,
        |  CASE WHEN cfr IN ('always', 'hourly', 'daily', 'weekly',
        |    'monthly', 'yearly', 'never') THEN cfr END AS changefreq,
        |  CAST(CASE WHEN pm <= 1000 THEN pm END AS INTEGER)
        |    AS priority_milli
        |FROM blkh""".stripMargin,

    // the whole funnel in one SQL lineage: robots parse ->
    // group-select -> LIKE-compiled rules + derived quotas ->
    // first-seen dedup -> precedence QUALIFY -> quota'd window rank
    "q_crawl_report_from_robots" ->
      s"""$RobotsCtes, rulesr AS (
        |  SELECT g.host AS rhost, g.val AS prefix,
        |    (g.dir = 'allow') AS allow,
        |    concat(
        |      replace(replace(replace(replace(
        |        CASE WHEN g.val LIKE '%$$'
        |             THEN substring(g.val, 1, length(g.val) - 1)
        |             ELSE g.val END,
        |        '!', '!!'), '%', '!%'), '_', '!_'), '*', '%'),
        |      CASE WHEN g.val LIKE '%$$' THEN '' ELSE '%' END) AS pat
        |  FROM rgrps g JOIN rchosen c USING (host, grp)
        |  WHERE g.dir IN ('allow', 'disallow') AND g.val != ''
        |), delaysr AS (
        |  SELECT g.host,
        |    min(CASE WHEN regexp_matches(g.val, '^[0-9]+([.][0-9]+)?$$')
        |        THEN CAST(regexp_extract(g.val, '^([0-9]+)', 1) AS BIGINT)
        |           + CASE WHEN regexp_extract(g.val,
        |               '^[0-9]+[.]([0-9]*[1-9])', 1) != ''
        |             THEN 1 ELSE 0 END END) AS crawl_delay
        |  FROM rgrps g JOIN rchosen c USING (host, grp)
        |  WHERE g.dir = 'crawl-delay'
        |  GROUP BY 1
        |), quotasr AS (
        |  SELECT host AS qhost,
        |    CAST(greatest(1, 600 // greatest(crawl_delay, 1)) AS INTEGER) AS quota
        |  FROM delaysr WHERE crawl_delay IS NOT NULL
        |), rawr AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 THEN NULL
        |         ELSE concat('rb', CAST(doc_id % 10 AS VARCHAR),
        |                     '.example') END AS host,
        |    CASE WHEN doc_id % 97 = 0 THEN NULL
        |         ELSE CASE CAST(doc_id % 10 AS INT)
        |           WHEN 0 THEN CASE WHEN doc_id % 3 = 0
        |             THEN concat('/tmp/public',
        |                         CAST(doc_id % 300 AS VARCHAR))
        |             ELSE concat('/tmp/x',
        |                         CAST(doc_id % 300 AS VARCHAR)) END
        |           WHEN 1 THEN CASE WHEN doc_id % 3 = 0 THEN '/a'
        |             ELSE concat('/a/',
        |                         CAST(doc_id % 300 AS VARCHAR)) END
        |           WHEN 9 THEN CASE WHEN doc_id % 3 = 0
        |             THEN '/cal/today'
        |             ELSE concat('/cal/',
        |                         CAST(doc_id % 300 AS VARCHAR)) END
        |           ELSE concat('/r/', CAST(doc_id % 300 AS VARCHAR)) END
        |    END AS pth,
        |    CAST(1704067200 + doc_id % 2400 AS BIGINT) AS tsec
        |  FROM documents
        |), stagedr AS (
        |  SELECT doc_id, host, pth, tsec,
        |    CASE WHEN host IS NULL THEN NULL
        |         ELSE concat('https://', host, pth) END AS canonical_url,
        |    CASE WHEN host IS NULL THEN 'malformed'
        |         WHEN doc_id != min(doc_id) OVER (
        |             PARTITION BY concat('https://', host, pth))
        |           THEN 'dup' END AS stage
        |  FROM rawr
        |), polr AS (
        |  SELECT s.doc_id, coalesce(r.allow, true) AS allowed
        |  FROM (SELECT * FROM stagedr WHERE stage IS NULL) s
        |  LEFT JOIN rulesr r
        |    ON s.host = r.rhost AND s.pth LIKE r.pat ESCAPE '!'
        |  QUALIFY row_number() OVER (PARTITION BY s.doc_id
        |    ORDER BY length(r.prefix) DESC NULLS LAST,
        |             r.allow DESC NULLS LAST,
        |             r.prefix DESC NULLS LAST) = 1
        |), schedr AS (
        |  SELECT s.doc_id,
        |    CASE WHEN row_number() OVER (
        |        PARTITION BY s.host, (s.tsec // 600) * 600
        |        ORDER BY s.tsec, s.doc_id) <= coalesce(q.quota, 6)
        |      THEN 'scheduled' ELSE 'deferred' END AS stage
        |  FROM stagedr s
        |  JOIN polr p ON s.doc_id = p.doc_id
        |  LEFT JOIN quotasr q ON s.host = q.qhost
        |  WHERE s.stage IS NULL AND p.allowed
        |), outcomesr AS (
        |  SELECT host, tsec, stage FROM stagedr WHERE stage IS NOT NULL
        |  UNION ALL
        |  SELECT s.host, s.tsec, 'blocked' AS stage
        |  FROM stagedr s JOIN polr p ON s.doc_id = p.doc_id
        |  WHERE NOT p.allowed
        |  UNION ALL
        |  SELECT s.host, s.tsec, sc.stage
        |  FROM stagedr s JOIN schedr sc ON s.doc_id = sc.doc_id
        |)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(CASE WHEN stage = 'malformed' THEN 1 END) AS BIGINT)
        |    AS n_malformed,
        |  CAST(count(CASE WHEN stage = 'dup' THEN 1 END) AS BIGINT)
        |    AS n_dup,
        |  CAST(count(CASE WHEN stage = 'blocked' THEN 1 END) AS BIGINT)
        |    AS n_blocked,
        |  CAST(count(CASE WHEN stage = 'scheduled' THEN 1 END) AS BIGINT)
        |    AS n_scheduled,
        |  CAST(count(CASE WHEN stage = 'deferred' THEN 1 END) AS BIGINT)
        |    AS n_deferred,
        |  min(tsec) AS first_epoch, max(tsec) AS last_epoch
        |FROM outcomesr GROUP BY host""".stripMargin,

    // robots parse -> delay -> quota -> politeness rank, one SQL
    // lineage; the canonical-clean feed uses the host shortcut
    "q_politeness_from_robots" ->
      s"""$RobotsCtes, delays AS (
        |  SELECT g.host,
        |    min(CASE WHEN regexp_matches(g.val, '^[0-9]+([.][0-9]+)?$$')
        |        THEN CAST(regexp_extract(g.val, '^([0-9]+)', 1) AS BIGINT)
        |           + CASE WHEN regexp_extract(g.val,
        |               '^[0-9]+[.]([0-9]*[1-9])', 1) != ''
        |             THEN 1 ELSE 0 END END) AS crawl_delay
        |  FROM rgrps g JOIN rchosen c USING (host, grp)
        |  WHERE g.dir = 'crawl-delay'
        |  GROUP BY 1
        |), quotas AS (
        |  SELECT host,
        |    CAST(greatest(1, 600 // greatest(crawl_delay, 1)) AS INTEGER) AS quota
        |  FROM delays WHERE crawl_delay IS NOT NULL
        |), feed AS (
        |  SELECT doc_id,
        |    concat('rb', CAST(doc_id % 10 AS VARCHAR), '.example')
        |      AS host,
        |    1704067200 + CASE WHEN doc_id % 10 = 2
        |      THEN doc_id % 120 ELSE doc_id % 2400 END AS tsec
        |  FROM documents
        |), ranked AS (
        |  SELECT doc_id, host,
        |    CAST((tsec // 600) * 600 AS BIGINT) AS win_start,
        |    CAST(row_number() OVER (
        |      PARTITION BY host, (tsec // 600) * 600
        |      ORDER BY tsec, doc_id) AS INTEGER) AS host_rank
        |  FROM feed
        |)
        |SELECT r.doc_id, r.host, r.win_start, r.host_rank,
        |  CASE WHEN r.host_rank <= coalesce(q.quota, 4)
        |       THEN 'scheduled' ELSE 'deferred' END AS status
        |FROM ranked r LEFT JOIN quotas q USING (host)""".stripMargin,

    // the dominant-template pick replays the struct-max tiebreak as
    // ORDER BY n DESC, tpl DESC
    "q_crawl_traps" ->
      """WITH feed AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |      THEN concat('https://cal.example/day/',
        |                  CAST(doc_id AS VARCHAR))
        |      ELSE concat('https://mix.example',
        |        CASE CAST(doc_id % 5 AS INT)
        |          WHEN 0 THEN '/about'
        |          WHEN 1 THEN concat('/news/', CAST(doc_id AS VARCHAR))
        |          WHEN 2 THEN concat('/tags/t',
        |                             CAST(doc_id % 3 AS VARCHAR))
        |          WHEN 3 THEN concat('/p/', CAST(doc_id AS VARCHAR))
        |          ELSE '/faq' END)
        |    END AS url
        |  FROM documents
        |), tpl AS (
        |  SELECT regexp_extract(url,
        |      '^[a-z][a-z0-9+.-]*://([^/?]*)', 1) AS host,
        |    regexp_replace(
        |      CASE WHEN regexp_extract(url,
        |          '^[a-z][a-z0-9+.-]*://[^/?]*([^?]*)', 1) = '' THEN '/'
        |        ELSE regexp_extract(url,
        |          '^[a-z][a-z0-9+.-]*://[^/?]*([^?]*)', 1) END,
        |      '[0-9]+', 'N', 'g') AS t
        |  FROM feed
        |), cnt AS (
        |  SELECT host, t, CAST(count(*) AS BIGINT) AS n
        |  FROM tpl GROUP BY 1, 2
        |), top AS (
        |  SELECT host, t, n FROM cnt
        |  QUALIFY row_number() OVER (PARTITION BY host
        |    ORDER BY n DESC, t DESC) = 1
        |), agg AS (
        |  SELECT host, CAST(sum(n) AS BIGINT) AS n_urls,
        |    CAST(count(*) AS BIGINT) AS n_templates
        |  FROM cnt GROUP BY 1
        |)
        |SELECT a.host, a.n_urls, a.n_templates,
        |  p.t AS top_template, p.n AS top_n,
        |  CAST(CAST(p.n AS HUGEINT) * 1000000 // a.n_urls AS BIGINT)
        |    AS share_micro,
        |  CASE WHEN a.n_urls >= 20 AND
        |    CAST(CAST(p.n AS HUGEINT) * 1000000 // a.n_urls AS BIGINT)
        |      >= 800000
        |    THEN 'trap_suspect' ELSE 'ok' END AS verdict
        |FROM agg a JOIN top p USING (host)""".stripMargin,

    "q_dedup_exact" ->
      """SELECT md5(text) AS content_hash, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q_dedup_norm" ->
      """SELECT md5(array_to_string(list_filter(
        |    string_split(lower(regexp_replace(text, '\s+', ' ', 'g')), ' '),
        |    t -> t NOT IN ('the', 'a')), ' ')) AS content_hash,
        |  CAST(min(doc_id) AS BIGINT) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q_url_canonical" ->
      s"""$UrlCanonCtes, mn AS (
        |  SELECT doc_id, canonical_url,
        |    min(doc_id) OVER (PARTITION BY canonical_url) AS m
        |  FROM cc WHERE canonical_url IS NOT NULL
        |)
        |SELECT doc_id, canonical_url,
        |  CASE WHEN doc_id = m THEN 'kept' ELSE 'dup' END AS status,
        |  CASE WHEN doc_id = m THEN '-' ELSE CAST(m AS VARCHAR) END AS detail
        |FROM mn
        |UNION ALL
        |SELECT doc_id, canonical_url, 'malformed' AS status, url AS detail
        |FROM cc WHERE canonical_url IS NULL""".stripMargin,

    // the rule patterns compile to LIKE exactly as the Spark side
    // does: strip a trailing '$' anchor, escape !/%/_ via ESCAPE '!',
    // '*' -> '%', trailing '%' only when unanchored
    // closed-form replay: each ref class's resolution is a direct
    // string build from doc_id (the generator-shortcut convention —
    // a resolver that mis-merges, fails to clamp, or keeps fragments
    // mismatches immediately)
    "q_url_resolve" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 THEN NULL
        |         ELSE concat('https://r', CAST(doc_id % 7 AS VARCHAR),
        |                     '.example/dir/sub/page',
        |                     CAST(doc_id % 5 AS VARCHAR), '?q=1')
        |    END AS base,
        |    concat('https://r', CAST(doc_id % 7 AS VARCHAR),
        |           '.example') AS h,
        |    CAST(doc_id % 12 AS INT) AS k
        |  FROM documents
        |)
        |SELECT doc_id, base,
        |  CASE k
        |  WHEN 0 THEN 'https://abs.example/a#frag'
        |  WHEN 1 THEN concat('//cdn', CAST(doc_id % 3 AS VARCHAR),
        |                     '.example/lib.js')
        |  WHEN 2 THEN concat('/rooted/', CAST(doc_id % 9 AS VARCHAR))
        |  WHEN 3 THEN concat('child', CAST(doc_id % 4 AS VARCHAR))
        |  WHEN 4 THEN '../up'
        |  WHEN 5 THEN '../../twice'
        |  WHEN 6 THEN '../../../past-root'
        |  WHEN 7 THEN ''
        |  WHEN 8 THEN '?x=2'
        |  WHEN 9 THEN './here?y=3#f'
        |  WHEN 10 THEN 'a/./b/../c'
        |  ELSE '#frag-only' END AS ref,
        |  CASE
        |  WHEN k = 0 THEN 'https://abs.example/a'
        |  WHEN base IS NULL THEN NULL
        |  WHEN k = 1 THEN concat('https://cdn',
        |                         CAST(doc_id % 3 AS VARCHAR),
        |                         '.example/lib.js')
        |  WHEN k = 2 THEN concat(h, '/rooted/',
        |                         CAST(doc_id % 9 AS VARCHAR))
        |  WHEN k = 3 THEN concat(h, '/dir/sub/child',
        |                         CAST(doc_id % 4 AS VARCHAR))
        |  WHEN k = 4 THEN concat(h, '/dir/up')
        |  WHEN k = 5 THEN concat(h, '/twice')
        |  WHEN k = 6 THEN concat(h, '/past-root')
        |  WHEN k = 7 THEN base
        |  WHEN k = 8 THEN concat(h, '/dir/sub/page',
        |                         CAST(doc_id % 5 AS VARCHAR), '?x=2')
        |  WHEN k = 9 THEN concat(h, '/dir/sub/here?y=3')
        |  WHEN k = 10 THEN concat(h, '/dir/sub/a/c')
        |  ELSE base END AS resolved_url
        |FROM d""".stripMargin,

    "q_url_policy" ->
      s"""$UrlCanonCtes, rules0(host, prefix, allow) AS (
        |  VALUES ('www.news-site.com', '/articles/1', false),
        |         ('www.news-site.com', '/articles/12', true),
        |         ('www.news-site.com', '/articles/2', true),
        |         ('www.news-site.com', '/articles/2', false),
        |         ('www.news-site.com', '/articles/*7', false),
        |         ('www.news-site.com', '/articles/4?a=1&b=2$$', true),
        |         ('www.news-site.com', '/articles/4', false),
        |         ('www.news-site.com', '/*z=%2Fx$$', false),
        |         ('other.example', '/', false)
        |), rules AS (
        |  SELECT host, prefix, allow,
        |    concat(
        |      replace(replace(replace(replace(
        |        CASE WHEN prefix LIKE '%$$'
        |             THEN substring(prefix, 1, length(prefix) - 1)
        |             ELSE prefix END,
        |        '!', '!!'), '%', '!%'), '_', '!_'), '*', '%'),
        |      CASE WHEN prefix LIKE '%$$' THEN '' ELSE '%' END) AS pat
        |  FROM rules0
        |), m AS (
        |  SELECT c.doc_id, c.canonical_url, r.prefix, r.allow
        |  FROM cc c LEFT JOIN rules r
        |    ON regexp_extract(c.canonical_url,
        |         '^[a-z][a-z0-9+.-]*://([^/?]*)', 1) = r.host
        |   AND regexp_extract(c.canonical_url,
        |         '^[a-z][a-z0-9+.-]*://[^/?]*(.*)$$', 1)
        |       LIKE r.pat ESCAPE '!'
        |), ranked AS (
        |  SELECT doc_id, canonical_url, prefix, allow,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY length(prefix) DESC NULLS LAST,
        |               allow DESC NULLS LAST,
        |               prefix DESC NULLS LAST) AS rn
        |  FROM m
        |)
        |SELECT doc_id, canonical_url,
        |  CASE WHEN canonical_url IS NULL THEN false
        |       ELSE coalesce(allow, true) END AS allowed,
        |  prefix AS rule_prefix, allow AS rule_allow
        |FROM ranked WHERE rn = 1""".stripMargin,

    // politeness replay: the synth feed's URLs are already canonical
    // (clean scheme/host/path, no query/fragment), so the host
    // shortcut below IS the canonicalizer's output on them; integer
    // floor-window + row_number ORDER BY (tsec, doc_id) replays the
    // Spark rank bit-for-bit
    "q_url_politeness" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 THEN NULL
        |         ELSE concat('host', CAST(doc_id % 5 AS VARCHAR),
        |                     '.example') END AS host,
        |    1704067200 + CASE WHEN doc_id % 5 = 0
        |      THEN doc_id % 300 ELSE doc_id % 2400 END AS tsec
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, host,
        |    CAST((tsec // 600) * 600 AS BIGINT) AS win_start,
        |    CASE WHEN host IS NULL THEN NULL
        |         ELSE CAST(row_number() OVER (
        |           PARTITION BY host, (tsec // 600) * 600
        |           ORDER BY tsec, doc_id) AS INTEGER) END AS host_rank
        |  FROM raw
        |)
        |SELECT doc_id, host, win_start, host_rank,
        |  CASE WHEN host IS NULL THEN 'malformed'
        |       WHEN host_rank <= 8 THEN 'scheduled'
        |       ELSE 'deferred' END AS status
        |FROM r""".stripMargin,

    // per-host quota replay: identical rank chain, the quota CASE is
    // the broadcast rules table inlined
    "q_politeness_hostquota" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 THEN NULL
        |         ELSE concat('host', CAST(doc_id % 5 AS VARCHAR),
        |                     '.example') END AS host,
        |    1704067200 + CASE WHEN doc_id % 5 = 0
        |      THEN doc_id % 300 ELSE doc_id % 2400 END AS tsec
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, host,
        |    CAST((tsec // 600) * 600 AS BIGINT) AS win_start,
        |    CASE WHEN host IS NULL THEN NULL
        |         ELSE CAST(row_number() OVER (
        |           PARTITION BY host, (tsec // 600) * 600
        |           ORDER BY tsec, doc_id) AS INTEGER) END AS host_rank
        |  FROM raw
        |)
        |SELECT doc_id, host, win_start, host_rank,
        |  CASE WHEN host IS NULL THEN 'malformed'
        |       WHEN host_rank <= (CASE host
        |         WHEN 'host0.example' THEN 2
        |         WHEN 'host3.example' THEN 20
        |         WHEN 'host9.example' THEN 1
        |         ELSE 8 END) THEN 'scheduled'
        |       ELSE 'deferred' END AS status
        |FROM r""".stripMargin,

    // the estimator CTE is q_revisit_schedule's verbatim plus the
    // host key; the rank replays Spark's desc_nulls_last exactly
    "q_recrawl_schedule" ->
      """WITH v AS (
        |  SELECT user_id AS page_id,
        |    concat('h', CAST(user_id % 7 AS VARCHAR)) AS host,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    (user_id % 29 != 0 AND event_id % (3 + user_id % 5) = 0)
        |      AS changed
        |  FROM events
        |), g AS (
        |  SELECT page_id, host, CAST(count(*) AS BIGINT) AS n_visits,
        |    CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_changes,
        |    max(tsec) - min(tsec) AS span_seconds
        |  FROM v GROUP BY 1, 2
        |), l AS (
        |  SELECT page_id, host, n_visits, n_changes, span_seconds,
        |    CASE WHEN n_visits >= 2 AND span_seconds > 0 THEN
        |      CAST(floor((-ln(
        |          CAST(2 * (n_visits - n_changes) + 1 AS DOUBLE) /
        |          CAST(2 * n_visits + 1 AS DOUBLE)))
        |        * 1000000.0 * 86400.0
        |        * CAST(n_visits - 1 AS DOUBLE)
        |        / CAST(span_seconds AS DOUBLE)) AS BIGINT)
        |    ELSE NULL END AS lambda_day_micro
        |  FROM g
        |), rk AS (
        |  SELECT page_id, host, n_visits, n_changes, span_seconds,
        |    lambda_day_micro,
        |    CAST(row_number() OVER (PARTITION BY host
        |      ORDER BY lambda_day_micro DESC NULLS LAST, page_id)
        |      AS INTEGER) AS fetch_rank
        |  FROM l
        |)
        |SELECT page_id, host, n_visits, n_changes, span_seconds,
        |  lambda_day_micro, fetch_rank,
        |  CASE WHEN fetch_rank <= (CASE host
        |    WHEN 'h0' THEN 3 WHEN 'h5' THEN 40 ELSE 10 END)
        |    THEN 'fetch' ELSE 'defer' END AS status
        |FROM rk""".stripMargin,

    // the recrawl oracle plus the hint chain: pinned date-prefix
    // parse, per-page max epoch, stale = lastmod_epoch > last visit,
    // stale-first rank
    "q_recrawl_hinted" ->
      """WITH v AS (
        |  SELECT user_id AS page_id,
        |    concat('h', CAST(user_id % 7 AS VARCHAR)) AS host,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    (user_id % 29 != 0 AND event_id % (3 + user_id % 5) = 0)
        |      AS changed
        |  FROM events
        |), g AS (
        |  SELECT page_id, min(host) AS host,
        |    CAST(count(*) AS BIGINT) AS n_visits,
        |    CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_changes,
        |    max(tsec) - min(tsec) AS span_seconds,
        |    max(tsec) AS last_epoch
        |  FROM v GROUP BY 1
        |), l AS (
        |  SELECT page_id, host, n_visits, n_changes, span_seconds,
        |    last_epoch,
        |    CASE WHEN n_visits >= 2 AND span_seconds > 0 THEN
        |      CAST(floor((-ln(
        |          CAST(2 * (n_visits - n_changes) + 1 AS DOUBLE) /
        |          CAST(2 * n_visits + 1 AS DOUBLE)))
        |        * 1000000.0 * 86400.0
        |        * CAST(n_visits - 1 AS DOUBLE)
        |        / CAST(span_seconds AS DOUBLE)) AS BIGINT)
        |    ELSE NULL END AS lambda_day_micro
        |  FROM g
        |), hq AS (
        |  SELECT page_id,
        |    max(CASE WHEN regexp_matches(lastmod,
        |          '^[0-9]{4}-[0-9]{2}-[0-9]{2}')
        |        THEN CAST(datediff('day', DATE '1970-01-01',
        |               CAST(substring(lastmod, 1, 10) AS DATE))
        |             AS BIGINT) * 86400 END) AS lastmod_epoch
        |  FROM (
        |    SELECT DISTINCT user_id AS page_id,
        |      CASE CAST(user_id % 3 AS INT)
        |        WHEN 0 THEN '2030-01-05T23:59:59Z'
        |        WHEN 1 THEN '1990-01-01'
        |        ELSE 'soon' END AS lastmod
        |    FROM events WHERE user_id % 2 = 0)
        |  GROUP BY 1
        |), hr AS (
        |  SELECT l.page_id, l.host, l.n_visits, l.n_changes,
        |    l.span_seconds, l.lambda_day_micro, h.lastmod_epoch,
        |    coalesce(h.lastmod_epoch > l.last_epoch, false) AS stale_hint
        |  FROM l LEFT JOIN hq h USING (page_id)
        |), rk AS (
        |  SELECT page_id, host, n_visits, n_changes, span_seconds,
        |    lambda_day_micro, lastmod_epoch, stale_hint,
        |    CAST(row_number() OVER (PARTITION BY host
        |      ORDER BY stale_hint DESC, lambda_day_micro DESC NULLS LAST,
        |               page_id) AS INTEGER) AS fetch_rank
        |  FROM hr
        |)
        |SELECT page_id, host, n_visits, n_changes, span_seconds,
        |  lambda_day_micro, lastmod_epoch, stale_hint, fetch_rank,
        |  CASE WHEN fetch_rank <= (CASE host
        |    WHEN 'h0' THEN 3 WHEN 'h5' THEN 40 ELSE 10 END)
        |    THEN 'fetch' ELSE 'defer' END AS status
        |FROM rk""".stripMargin,

    // the hinted recrawl replay plus the two typed tiebreak keys:
    // frequency ordinal (min-collapsed) then priority (max), both
    // NULLS LAST after the (stale, λ̂) order
    "q_recrawl_sitemap_hints" ->
      """WITH v AS (
        |  SELECT user_id AS page_id,
        |    concat('h', CAST(user_id % 7 AS VARCHAR)) AS host,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    (user_id % 29 != 0 AND event_id % (3 + user_id % 5) = 0)
        |      AS changed
        |  FROM events
        |), g AS (
        |  SELECT page_id, min(host) AS host,
        |    CAST(count(*) AS BIGINT) AS n_visits,
        |    CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_changes,
        |    max(tsec) - min(tsec) AS span_seconds,
        |    max(tsec) AS last_epoch
        |  FROM v GROUP BY 1
        |), l AS (
        |  SELECT page_id, host, n_visits, n_changes, span_seconds,
        |    last_epoch,
        |    CASE WHEN n_visits >= 2 AND span_seconds > 0 THEN
        |      CAST(floor((-ln(
        |          CAST(2 * (n_visits - n_changes) + 1 AS DOUBLE) /
        |          CAST(2 * n_visits + 1 AS DOUBLE)))
        |        * 1000000.0 * 86400.0
        |        * CAST(n_visits - 1 AS DOUBLE)
        |        / CAST(span_seconds AS DOUBLE)) AS BIGINT)
        |    ELSE NULL END AS lambda_day_micro
        |  FROM g
        |), hq AS (
        |  SELECT page_id,
        |    max(CASE WHEN regexp_matches(lastmod,
        |          '^[0-9]{4}-[0-9]{2}-[0-9]{2}')
        |        THEN CAST(datediff('day', DATE '1970-01-01',
        |               CAST(substring(lastmod, 1, 10) AS DATE))
        |             AS BIGINT) * 86400 END) AS lastmod_epoch,
        |    min(CASE changefreq WHEN 'always' THEN 1 WHEN 'hourly'
        |        THEN 2 WHEN 'daily' THEN 3 WHEN 'weekly' THEN 4
        |        WHEN 'monthly' THEN 5 WHEN 'yearly' THEN 6
        |        WHEN 'never' THEN 7 END) AS changefreq_ord,
        |    max(priority_milli) AS priority_milli,
        |    max(has_validator) AS has_validator
        |  FROM (
        |    SELECT DISTINCT user_id AS page_id,
        |      CASE CAST(user_id % 3 AS INT)
        |        WHEN 0 THEN '2030-01-05T23:59:59Z'
        |        WHEN 1 THEN '1990-01-01'
        |        ELSE 'soon' END AS lastmod,
        |      CASE CAST(user_id % 4 AS INT)
        |        WHEN 0 THEN 'daily' WHEN 1 THEN 'yearly'
        |        WHEN 2 THEN 'always' ELSE NULL END AS changefreq,
        |      CASE CAST(user_id % 5 AS INT)
        |        WHEN 0 THEN 800 WHEN 1 THEN 200 WHEN 2 THEN 1000
        |        ELSE NULL END AS priority_milli,
        |      (user_id % 6 < 2) AS has_validator
        |    FROM events WHERE user_id % 2 = 0)
        |  GROUP BY 1
        |), hr AS (
        |  SELECT l.page_id, l.host, l.n_visits, l.n_changes,
        |    l.span_seconds, l.lambda_day_micro, h.lastmod_epoch,
        |    coalesce(h.lastmod_epoch > l.last_epoch, false) AS stale_hint,
        |    CAST(h.changefreq_ord AS INTEGER) AS changefreq_ord,
        |    CAST(h.priority_milli AS INTEGER) AS priority_milli,
        |    coalesce(h.has_validator, false) AS has_validator
        |  FROM l LEFT JOIN hq h USING (page_id)
        |), rk AS (
        |  SELECT page_id, host, n_visits, n_changes, span_seconds,
        |    lambda_day_micro, lastmod_epoch, stale_hint,
        |    changefreq_ord, priority_milli, has_validator,
        |    CAST(row_number() OVER (PARTITION BY host
        |      ORDER BY stale_hint DESC, lambda_day_micro DESC NULLS LAST,
        |               changefreq_ord ASC NULLS LAST,
        |               priority_milli DESC NULLS LAST,
        |               has_validator DESC,
        |               page_id) AS INTEGER) AS fetch_rank
        |  FROM hr
        |)
        |SELECT page_id, host, n_visits, n_changes, span_seconds,
        |  lambda_day_micro, lastmod_epoch, stale_hint, changefreq_ord,
        |  priority_milli, has_validator, fetch_rank,
        |  CASE WHEN fetch_rank <= (CASE host
        |    WHEN 'h0' THEN 3 WHEN 'h5' THEN 40 ELSE 10 END)
        |    THEN 'fetch' ELSE 'defer' END AS status
        |FROM rk""".stripMargin,

    // link-graph replay: the page's own URLs are built canonical
    // (lowercase https, no port/params), so the src_host CASE below
    // IS the canonicalizer's output on them (the politeness-oracle
    // shortcut); the LINK side replays the full
    // fragment-strip → lower-scheme/host → default-port-strip chain,
    // because only the HOST of a canonical URL feeds the edge
    "q_link_graph" ->
      s"""$LinkPageCtes,
        |$LinkEdgeCtes
        |SELECT src_host, dst_host, CAST(count(*) AS BIGINT) AS n_links,
        |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_pages
        |FROM e0 GROUP BY 1, 2""".stripMargin,

    // the same authority chain as q_host_rank, top-K'd onto a synth
    // frontier: row_number replays the (mass DESC, id ASC) total order
    "q_frontier_priority" ->
      s"""$LinkPageCtes,
        |$LinkEdgeCtes,
        |e AS (
        |  SELECT DISTINCT src_host AS src, dst_host AS dst FROM e0
        |  WHERE src_host IS NOT NULL AND dst_host IS NOT NULL
        |    AND src_host != dst_host
        |),
        |${pageRankStepCtes(8)},
        |frontier AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN 'newhost.example'
        |         ELSE concat('h', CAST(doc_id % 20 AS VARCHAR),
        |                     '.example') END AS host
        |  FROM documents
        |)
        |SELECT doc_id, host, host_mass_pico FROM (
        |  SELECT f.doc_id, f.host,
        |    CAST(coalesce(p.mass, 0) AS BIGINT) AS host_mass_pico,
        |    row_number() OVER (ORDER BY coalesce(p.mass, 0) DESC,
        |                       f.doc_id) AS rn
        |  FROM frontier f LEFT JOIN pr8 p ON f.host = p.v)
        |WHERE rn <= 100""".stripMargin,

    "q_host_rank" ->
      s"""$LinkPageCtes,
        |$LinkEdgeCtes,
        |e AS (
        |  SELECT DISTINCT src_host AS src, dst_host AS dst FROM e0
        |  WHERE src_host IS NOT NULL AND dst_host IS NOT NULL
        |    AND src_host != dst_host
        |),
        |${pageRankStepCtes(8)}
        |SELECT src_host, pr_pico, CAST(rnk AS INTEGER) AS "rank" FROM (
        |  SELECT v AS src_host, mass AS pr_pico,
        |    row_number() OVER (ORDER BY mass DESC, v) AS rnk
        |  FROM pr8)
        |WHERE rnk <= 50""".stripMargin,

    // crawl-report replay: canonical-clean feed (the politeness
    // shortcut), then the four stages in order — first-seen window,
    // longest-prefix policy QUALIFY, per-(host, window) rank — and
    // the outcome union aggregated per host
    "q_crawl_report" ->
      """WITH raw AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 97 = 0 THEN NULL
        |         ELSE concat('https://cr', CAST(doc_id % 5 AS VARCHAR),
        |                     '.example/p/', CAST(doc_id % 200 AS VARCHAR))
        |    END AS canonical_url,
        |    CASE WHEN doc_id % 97 = 0 THEN NULL
        |         ELSE concat('cr', CAST(doc_id % 5 AS VARCHAR),
        |                     '.example') END AS host,
        |    CASE WHEN doc_id % 97 = 0 THEN NULL
        |         ELSE concat('/p/', CAST(doc_id % 200 AS VARCHAR))
        |    END AS pth,
        |    CAST(1704067200 + CASE WHEN doc_id % 5 = 0 THEN doc_id % 300
        |                           ELSE doc_id % 2400 END AS BIGINT) AS tsec
        |  FROM documents
        |), staged AS (
        |  SELECT doc_id, canonical_url, host, pth, tsec,
        |    CASE WHEN canonical_url IS NULL THEN 'malformed'
        |         WHEN doc_id != min(doc_id) OVER (PARTITION BY canonical_url)
        |           THEN 'dup' END AS stage
        |  FROM raw
        |), rules(rhost, prefix, allow) AS (
        |  VALUES ('cr1.example', '/p/1', false),
        |         ('cr1.example', '/p/12', true),
        |         ('cr2.example', '/p/3', true),
        |         ('cr2.example', '/p/3', false),
        |         ('cr3.example', '/', false)
        |), pol AS (
        |  SELECT s.doc_id, coalesce(r.allow, true) AS allowed
        |  FROM (SELECT * FROM staged WHERE stage IS NULL) s
        |  LEFT JOIN rules r
        |    ON s.host = r.rhost AND starts_with(s.pth, r.prefix)
        |  QUALIFY row_number() OVER (PARTITION BY s.doc_id
        |    ORDER BY length(r.prefix) DESC NULLS LAST,
        |             r.allow DESC NULLS LAST,
        |             r.prefix DESC NULLS LAST) = 1
        |), sched AS (
        |  SELECT s.doc_id,
        |    CASE WHEN row_number() OVER (
        |        PARTITION BY s.host, (s.tsec // 600) * 600
        |        ORDER BY s.tsec, s.doc_id) <= 8
        |      THEN 'scheduled' ELSE 'deferred' END AS stage
        |  FROM staged s JOIN pol p ON s.doc_id = p.doc_id
        |  WHERE s.stage IS NULL AND p.allowed
        |), outcomes AS (
        |  SELECT host, tsec, stage FROM staged WHERE stage IS NOT NULL
        |  UNION ALL
        |  SELECT s.host, s.tsec, 'blocked' AS stage
        |  FROM staged s JOIN pol p ON s.doc_id = p.doc_id
        |  WHERE NOT p.allowed
        |  UNION ALL
        |  SELECT s.host, s.tsec, sc.stage
        |  FROM staged s JOIN sched sc ON s.doc_id = sc.doc_id
        |)
        |SELECT host, CAST(count(*) AS BIGINT) AS n_urls,
        |  CAST(count(CASE WHEN stage = 'malformed' THEN 1 END) AS BIGINT)
        |    AS n_malformed,
        |  CAST(count(CASE WHEN stage = 'dup' THEN 1 END) AS BIGINT)
        |    AS n_dup,
        |  CAST(count(CASE WHEN stage = 'blocked' THEN 1 END) AS BIGINT)
        |    AS n_blocked,
        |  CAST(count(CASE WHEN stage = 'scheduled' THEN 1 END) AS BIGINT)
        |    AS n_scheduled,
        |  CAST(count(CASE WHEN stage = 'deferred' THEN 1 END) AS BIGINT)
        |    AS n_deferred,
        |  min(tsec) AS first_epoch, max(tsec) AS last_epoch
        |FROM outcomes GROUP BY host""".stripMargin,

    // revisit replay: same collapse, same pinned ln chain — the ratio
    // is one IEEE divide of exact integers, then ln and three pinned
    // left-to-right multiplies/divides through the micro floor
    "q_revisit_schedule" ->
      """WITH v AS (
        |  SELECT user_id AS page_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec,
        |    (user_id % 29 != 0 AND event_id % (3 + user_id % 5) = 0)
        |      AS changed
        |  FROM events
        |), g AS (
        |  SELECT page_id, CAST(count(*) AS BIGINT) AS n_visits,
        |    CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_changes,
        |    max(tsec) - min(tsec) AS span_seconds
        |  FROM v GROUP BY 1
        |)
        |SELECT page_id, n_visits, n_changes, span_seconds,
        |  CASE WHEN n_visits >= 2 AND span_seconds > 0 THEN
        |    CAST(floor((-ln(
        |        CAST(2 * (n_visits - n_changes) + 1 AS DOUBLE) /
        |        CAST(2 * n_visits + 1 AS DOUBLE)))
        |      * 1000000.0 * 86400.0
        |      * CAST(n_visits - 1 AS DOUBLE)
        |      / CAST(span_seconds AS DOUBLE)) AS BIGINT)
        |  ELSE NULL END AS lambda_day_micro
        |FROM g""".stripMargin,

    "q_ngram_jaccard" ->
      s"""WITH ${gramIndexCtes(langBlocked = true)},
        |${jaccardPairCte("0.5")}
        |SELECT * FROM p""".stripMargin,

    // the inverted index only surfaces shared >= 1 pairs — exactly the
    // rows the all-pairs form's `shared >= 1` guard kept (two empty
    // gram sets can never share a posting)
    "q_ngram_containment" ->
      s"""WITH ${gramIndexCtes(langBlocked = true)}
        |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
        |  CAST(shared AS DOUBLE) / CAST(least(la, lb) AS DOUBLE) AS containment
        |FROM ix
        |WHERE CAST(shared AS DOUBLE) / CAST(least(la, lb) AS DOUBLE) >= 0.8""".stripMargin,

    // the banded containment arm is exact by construction — same
    // oracle as the standard arm, verbatim
    "q_ngram_containment_banded" ->
      s"""WITH ${gramIndexCtes(langBlocked = true)}
        |SELECT id_a, id_b, CAST(shared AS BIGINT) AS shared,
        |  CAST(shared AS DOUBLE) / CAST(least(la, lb) AS DOUBLE) AS containment
        |FROM ix
        |WHERE CAST(shared AS DOUBLE) / CAST(least(la, lb) AS DOUBLE) >= 0.8""".stripMargin,

    // the PPJoin arm is exact by construction — same oracle as the
    // standard arm, verbatim
    "q_ngram_jaccard_ppjoin" ->
      s"""WITH ${gramIndexCtes(langBlocked = true)},
        |${jaccardPairCte("0.5")}
        |SELECT * FROM p""".stripMargin,

    // the audit side of the maxPostingLen cap is plain relational
    // algebra — it carries a full oracle even though the capped join
    // itself is rows-only (its contract is "under-counts, loudly")
    "q_hot_postings" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    list_distinct(CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |      ELSE [] END) AS grams
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents)
        |), p AS (
        |  SELECT lang, unnest(grams) AS gram FROM t
        |)
        |SELECT lang, gram, count(*) AS posting_len
        |FROM p GROUP BY 1, 2 HAVING count(*) > 64""".stripMargin,

    // the UNBLOCKED LSH arm must land on exactly the unblocked exact
    // tier's rows: candidates are Jaccard-verified with the same
    // integer intersect/union sizes and the same one-divide double, and
    // LSH miss probability at the planted pairs' j>=0.9 is < 1e-8 with
    // 16x4 banding (LlmDedupSpec gates set equality vs the exact arm).
    // Same oracle-borrowing pattern as q_embed_neardup_lsh below.
    "q_minhash_lsh" ->
      s"""WITH ${gramIndexCtes(langBlocked = false)},
        |${jaccardPairCte("0.5")}
        |SELECT * FROM p""".stripMargin,

    "q_text_stats" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq,
        |    CAST(list_sum(list_transform(toks, t -> CAST(len(t) AS BIGINT))) AS BIGINT) AS total_chars,
        |    CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'is', 'to'))) AS INTEGER) AS n_stop
        |  FROM t
        |)
        |SELECT doc_id, n_tokens, n_uniq, total_chars, n_stop,
        |  CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS ttr,
        |  CAST(total_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS avg_token_len,
        |  CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS stop_ratio,
        |  CAST(least(n_tokens, 60) AS DOUBLE) / 60.0 * 0.5 +
        |    CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.3 +
        |    CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.2 AS quality
        |FROM s""".stripMargin,

    // doubled-average-rank Mann-Whitney replay, HUGEINT rank sums
    "q_auc" ->
      """WITH s AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
        |), f AS (
        |  SELECT (CAST(len(list_filter(toks,
        |      t -> t IN ('the', 'a', 'of', 'and', 'is', 'to'))) AS BIGINT)
        |      * 1000000) // len(toks) AS sc,
        |    (lang = 'en') AS y
        |  FROM s
        |), g AS (
        |  SELECT sc,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n
        |  FROM f GROUP BY 1
        |), r AS (
        |  SELECT *,
        |    sum(p + n) OVER (ORDER BY sc ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM g
        |), a AS (
        |  SELECT CAST(sum(p) AS BIGINT) AS n_pos,
        |    CAST(sum(n) AS BIGINT) AS n_neg,
        |    sum(CAST(p AS HUGEINT) *
        |      (2 * (cum - (p + n) + 1) + (p + n) - 1)) AS rs2
        |  FROM r
        |)
        |SELECT n_pos, n_neg,
        |  CAST((rs2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
        |    // nullif(CAST(2 AS HUGEINT) * n_pos * n_neg, 0) AS BIGINT)
        |    AS auc_micro
        |FROM a""".stripMargin,

    // per-stratum exact moments → one IEEE sqrt weight, HUGEINT
    // budget·w, largest-remainder split, cap + shortfall
    "q_neyman" ->
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |), st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(v AS HUGEINT)) AS s, sum(CAST(v AS HUGEINT) * v) AS q
        |  FROM b GROUP BY 1
        |), w AS (
        |  SELECT event_type, n,
        |    CAST(floor(1000000.0 * sqrt(CAST(n * q - s * s AS DOUBLE)))
        |      AS BIGINT) AS w_micro
        |  FROM st
        |), t AS (
        |  SELECT *, sum(w_micro) OVER () AS wsum FROM w
        |), a AS (
        |  SELECT *,
        |    CASE WHEN wsum = 0 THEN NULL ELSE
        |      CAST((CAST(1000 AS HUGEINT) * w_micro) // wsum AS BIGINT)
        |    END AS base,
        |    CASE WHEN wsum = 0 THEN NULL ELSE
        |      CAST((CAST(1000 AS HUGEINT) * w_micro) % wsum AS BIGINT)
        |    END AS rem
        |  FROM t
        |), l AS (
        |  SELECT *, 1000 - sum(base) OVER () AS leftover,
        |    CAST(row_number() OVER (ORDER BY rem DESC, event_type)
        |      AS BIGINT) AS rk
        |  FROM a
        |)
        |SELECT event_type, n, w_micro,
        |  CASE WHEN base IS NULL THEN NULL ELSE
        |    least(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END, n)
        |  END AS alloc,
        |  CASE WHEN base IS NULL THEN NULL ELSE
        |    greatest(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END - n,
        |      0)
        |  END AS shortfall
        |FROM l""".stripMargin,

    // two rank windows under pinned (score, id) orders, 1-row-per-group
    // aggregate, margin/degenerate gates
    "q_preference_pairs" ->
      """WITH s AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks
        |  FROM documents
        |), f AS (
        |  SELECT source, doc_id,
        |    (CAST(len(list_filter(toks,
        |      t -> t IN ('the', 'a', 'of', 'and', 'is', 'to'))) AS BIGINT)
        |      * 1000000) // len(toks) AS sc
        |  FROM s
        |), r AS (
        |  SELECT source, doc_id, sc,
        |    row_number() OVER (PARTITION BY source ORDER BY sc DESC, doc_id)
        |      AS rt,
        |    row_number() OVER (PARTITION BY source ORDER BY sc ASC, doc_id)
        |      AS rb
        |  FROM f
        |), g AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n,
        |    min(CASE WHEN rt = 1 THEN doc_id END) AS chosen_id,
        |    min(CASE WHEN rt = 1 THEN sc END) AS chosen_score,
        |    min(CASE WHEN rb = 1 THEN doc_id END) AS rejected_id,
        |    min(CASE WHEN rb = 1 THEN sc END) AS rejected_score
        |  FROM r GROUP BY 1
        |)
        |SELECT source, n, chosen_id, chosen_score, rejected_id,
        |  rejected_score, chosen_score - rejected_score AS margin_micro,
        |  (chosen_score - rejected_score >= 100000
        |    AND chosen_id <> rejected_id) AS usable
        |FROM g""".stripMargin,

    // fixed-grid bin collapse, HUGEINT score sums, spine LEFT JOIN so
    // empty bins surface with NULL rates; ECE = sum(n*gap) // N
    "q_calibration" ->
      """WITH s AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
        |), f AS (
        |  SELECT (CAST(len(list_filter(toks,
        |      t -> t IN ('the', 'a', 'of', 'and', 'is', 'to'))) AS BIGINT)
        |      * 1000000) // len(toks) AS sc,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM s
        |), b AS (
        |  SELECT least(sc // 100000, 9) AS bin,
        |    CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(y) AS BIGINT) AS n_pos,
        |    sum(CAST(sc AS HUGEINT)) AS ssum
        |  FROM f GROUP BY 1
        |), g AS (
        |  SELECT bin, n, n_pos,
        |    CAST(ssum // n AS BIGINT) AS mean_score_micro,
        |    CAST(CAST(n_pos AS HUGEINT) * 1000000 // n AS BIGINT)
        |      AS pos_rate_micro
        |  FROM b
        |), g2 AS (
        |  SELECT *, abs(mean_score_micro - pos_rate_micro) AS gap_micro
        |  FROM g
        |), t AS (
        |  SELECT sum(n) AS N,
        |    sum(CAST(n AS HUGEINT) * gap_micro) AS wgap
        |  FROM g2
        |), spine AS (
        |  SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS bin
        |)
        |SELECT spine.bin, spine.bin * 100000 AS lo_micro,
        |  coalesce(g2.n, 0) AS n, coalesce(g2.n_pos, 0) AS n_pos,
        |  g2.mean_score_micro, g2.pos_rate_micro, g2.gap_micro,
        |  CAST(t.wgap // nullif(t.N, 0) AS BIGINT) AS ece_micro
        |FROM spine LEFT JOIN g2 USING (bin) CROSS JOIN t""".stripMargin,

    // per-score collapse, desc cumulative, block-atomic bucket =
    // cum_before·10 // N, spine join, cum re-stamped over all buckets
    "q_lift_curve" ->
      """WITH s AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
        |), f AS (
        |  SELECT (CAST(len(list_filter(toks,
        |      t -> t IN ('the', 'a', 'of', 'and', 'is', 'to'))) AS BIGINT)
        |      * 1000000) // len(toks) AS sc,
        |    CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
        |  FROM s
        |), ps AS (
        |  SELECT sc, CAST(count(*) AS BIGINT) AS c,
        |    CAST(sum(y) AS BIGINT) AS cp
        |  FROM f GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS N, CAST(sum(cp) AS BIGINT) AS P
        |  FROM ps
        |), cum AS (
        |  SELECT sc, c, cp,
        |    CAST(sum(c) OVER (ORDER BY sc DESC ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum_n
        |  FROM ps
        |), bk AS (
        |  SELECT ((cum.cum_n - cum.c) * 10) // tot.N AS bucket,
        |    CAST(sum(cum.c) AS BIGINT) AS n,
        |    CAST(sum(cum.cp) AS BIGINT) AS n_pos,
        |    min(cum.sc) AS min_score
        |  FROM cum CROSS JOIN tot GROUP BY 1
        |), spine AS (
        |  SELECT CAST(unnest(range(0, 10)) AS BIGINT) AS bucket
        |), j AS (
        |  SELECT spine.bucket, coalesce(bk.n, 0) AS n,
        |    coalesce(bk.n_pos, 0) AS n_pos, bk.min_score
        |  FROM spine LEFT JOIN bk USING (bucket)
        |), cj AS (
        |  SELECT bucket, n, n_pos, min_score,
        |    CAST(sum(n) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum_n,
        |    CAST(sum(n_pos) OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum_pos
        |  FROM j
        |)
        |SELECT cj.bucket, cj.n, cj.n_pos, cj.min_score, cj.cum_n, cj.cum_pos,
        |  CAST((cj.cum_pos * 1000000) // nullif(tot.P, 0) AS BIGINT)
        |    AS capture_micro,
        |  CAST(CAST(cj.cum_pos AS HUGEINT) * tot.N * 1000000
        |    // nullif(CAST(cj.cum_n AS HUGEINT) * tot.P, 0) AS BIGINT)
        |    AS lift_micro
        |FROM cj CROSS JOIN tot""".stripMargin,

    // per-score collapse, descending cumulative window, exact P/R/F1
    "q_pr_curve" ->
      """WITH s AS (
        |  SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
        |), f AS (
        |  SELECT (CAST(len(list_filter(toks,
        |      t -> t IN ('the', 'a', 'of', 'and', 'is', 'to'))) AS BIGINT)
        |      * 1000000) // len(toks) AS threshold,
        |    (lang = 'en') AS y
        |  FROM s
        |), g AS (
        |  SELECT threshold,
        |    CAST(sum(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS p,
        |    CAST(sum(CASE WHEN y THEN 0 ELSE 1 END) AS BIGINT) AS n
        |  FROM f GROUP BY 1
        |), c AS (
        |  SELECT threshold,
        |    CAST(sum(p) OVER (ORDER BY threshold DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
        |    CAST(sum(n) OVER (ORDER BY threshold DESC
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp,
        |    CAST(sum(p) OVER () AS BIGINT) AS ap
        |  FROM g
        |)
        |SELECT threshold, tp, fp, ap - tp AS fn,
        |  (tp * 1000000) // (tp + fp) AS precision_micro,
        |  (tp * 1000000) // nullif(ap, 0) AS recall_micro,
        |  (2 * tp * 1000000) // nullif(2 * tp + fp + (ap - tp), 0) AS f1_micro
        |FROM c""".stripMargin,

    // vowel-group syllables + [.!?] sentence chars, floored at 1;
    // the same fixed-order IEEE tail both engines round identically
    "q_readability" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(greatest(len(regexp_replace(text, '[^.!?]', '', 'g')), 1) AS BIGINT) AS n_sentences,
        |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syllables
        |  FROM documents
        |)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  CAST(floor((206.835
        |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
        |    - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)))
        |    * 1000000.0) AS BIGINT) AS flesch_micro
        |FROM s WHERE n_words > 0""".stripMargin,

    "q_curation" ->
      s"""WITH t AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq,
        |    CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'is', 'to'))) AS INTEGER) AS n_stop
        |  FROM t
        |), q AS (
        |  SELECT *,
        |    CAST(least(n_tokens, 60) AS DOUBLE) / 60.0 * 0.5 +
        |      CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.3 +
        |      CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.2 AS quality
        |  FROM s
        |), passed AS (
        |  SELECT * FROM q WHERE quality >= 0.55 AND n_tokens >= 20
        |), g AS (
        |  SELECT t.doc_id, t.lang,
        |    list_distinct(CASE WHEN len(t.toks) >= 2
        |      THEN list_transform(range(1, len(t.toks)), i -> t.toks[i] || ' ' || t.toks[i+1])
        |      ELSE [] END) AS grams
        |  FROM t JOIN passed USING (doc_id)
        |), $CurationDupCtes, kept AS (
        |  SELECT * FROM passed
        |  WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(quality) AS min_quality, max(quality) AS max_quality
        |FROM kept GROUP BY 1""".stripMargin,

    // the LSH curation arm carries the EXACT arm's oracle verbatim:
    // on the fixture the lang-blocked LSH pair set equals the
    // lang-blocked exact pair set (LlmDedupSpec "lang-blocked MinHash
    // equals lang-blocked exact Jaccard"), so the whole pipeline output
    // must be bit-identical to q_curation's.
    "q_curation_lsh" ->
      s"""WITH t AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq,
        |    CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'is', 'to'))) AS INTEGER) AS n_stop
        |  FROM t
        |), q AS (
        |  SELECT *,
        |    CAST(least(n_tokens, 60) AS DOUBLE) / 60.0 * 0.5 +
        |      CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.3 +
        |      CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.2 AS quality
        |  FROM s
        |), passed AS (
        |  SELECT * FROM q WHERE quality >= 0.55 AND n_tokens >= 20
        |), g AS (
        |  SELECT t.doc_id, t.lang,
        |    list_distinct(CASE WHEN len(t.toks) >= 2
        |      THEN list_transform(range(1, len(t.toks)), i -> t.toks[i] || ' ' || t.toks[i+1])
        |      ELSE [] END) AS grams
        |  FROM t JOIN passed USING (doc_id)
        |), $CurationDupCtes, kept AS (
        |  SELECT * FROM passed
        |  WHERE doc_id NOT IN (SELECT doc_id FROM dup)
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  min(quality) AS min_quality, max(quality) AS max_quality
        |FROM kept GROUP BY 1""".stripMargin,

    "q_quality_rules" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    len(toks) BETWEEN 50 AND 100000 AS ok_n_tokens,
        |    (CAST(list_sum(list_transform(toks, t -> CAST(len(t) AS BIGINT))) AS DOUBLE)
        |       / CAST(len(toks) AS DOUBLE)) BETWEEN 3.0 AND 10.0 AS ok_mean_len,
        |    (CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
        |       / CAST(len(toks) AS DOUBLE)) >= 0.8 AS ok_alpha,
        |    len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'is', 'to'))) >= 2 AS ok_stop
        |  FROM t
        |)
        |SELECT doc_id, ok_n_tokens, ok_mean_len, ok_alpha, ok_stop,
        |  ok_n_tokens AND ok_mean_len AND ok_alpha AND ok_stop AS ok_all
        |FROM s""".stripMargin,

    "q_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |      ELSE [] END AS bg
        |  FROM t
        |)
        |SELECT doc_id,
        |  1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) AS dup_token_frac,
        |  CAST(list_max(list_transform(list_distinct(toks),
        |         d -> len(list_filter(toks, t -> t = d)))) AS DOUBLE)
        |    / CAST(len(toks) AS DOUBLE) AS top_token_frac,
        |  CASE WHEN len(toks) >= 2
        |    THEN CAST(len(list_filter(bg, g -> len(list_filter(bg, h -> h = g)) > 1)) AS DOUBLE)
        |           / CAST(len(toks) - 1 AS DOUBLE)
        |    ELSE 0.0 END AS dup_bigram_frac
        |FROM s""".stripMargin,

    "q_pii_redact" ->
      """WITH a AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0
        |      THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' ref ' || lpad(CAST(doc_id * doc_id AS VARCHAR), 9, '0')
        |      ELSE '' END AS aug
        |  FROM documents
        |), e AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(aug, '[a-z0-9._-]+@[a-z0-9-]+\.[a-z]{2,}')) AS INTEGER) AS n_email,
        |    regexp_replace(aug, '[a-z0-9._-]+@[a-z0-9-]+\.[a-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM a
        |), i AS (
        |  SELECT doc_id, n_email,
        |    CAST(len(regexp_extract_all(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS INTEGER) AS n_ipv4,
        |    regexp_replace(t1, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g') AS t2
        |  FROM e
        |)
        |SELECT doc_id,
        |  regexp_replace(t2, '[0-9]{6,}', '<NUM>', 'g') AS redacted,
        |  n_email, n_ipv4,
        |  CAST(len(regexp_extract_all(t2, '[0-9]{6,}')) AS INTEGER) AS n_number
        |FROM i""".stripMargin,

    "q_token_regex" ->
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
        |    CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS INTEGER) AS re_tokens
        |  FROM documents
        |)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(ws_tokens) AS BIGINT) AS ws_total,
        |  CAST(sum(re_tokens) AS BIGINT) AS re_total,
        |  max(re_tokens) AS re_max
        |FROM t GROUP BY 1""".stripMargin,

    "q_lang_id" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht'))) AS INTEGER) AS score_de,
        |    CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is','to'))) AS INTEGER) AS score_en,
        |    CAST(len(list_filter(toks, t -> t IN ('el','la','los','y','es','de'))) AS INTEGER) AS score_es,
        |    CAST(len(list_filter(toks, t -> t IN ('le','la','les','et','est','une'))) AS INTEGER) AS score_fr,
        |    CAST(len(list_filter(toks, t -> t IN ('的','是','了','在','我','不'))) AS INTEGER) AS score_zh
        |  FROM t
        |)
        |SELECT doc_id, lang, score_de, score_en, score_es, score_fr, score_zh,
        |  CASE WHEN score_de >= greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
        |       WHEN score_en >= greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
        |       WHEN score_es >= greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
        |       WHEN score_fr >= greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
        |       WHEN score_zh >= greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'zh'
        |  END AS predicted
        |FROM s""".stripMargin,

    "q_fingerprint_pairs" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |h AS (
        |  SELECT doc_id, len(toks) AS n,
        |    list_transform(toks, tok -> list_reduce(
        |      list_prepend(CAST(7 AS BIGINT),
        |        list_transform(range(1, len(tok) + 1), i -> CAST(ascii(tok[i]) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007)) AS th
        |  FROM t WHERE len(toks) >= 8
        |), wh AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(range(1, n - 6), i -> list_reduce(
        |      list_prepend(CAST(11 AS BIGINT), list_slice(th, i, i + 7)),
        |      (a, b) -> (a * 37 + b) % 1000000007))) AS ws
        |  FROM h
        |), p AS (
        |  SELECT doc_id, len(ws) AS nw, unnest(ws) AS h FROM wh
        |), j AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.nw AS nwa, b.nw AS nwb,
        |    count(*) AS shared
        |  FROM p a JOIN p b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2, 3, 4
        |)
        |SELECT id_a, id_b, shared,
        |  CAST(shared AS DOUBLE) / CAST(least(nwa, nwb) AS DOUBLE) AS containment
        |FROM j WHERE shared >= 1""".stripMargin,

    // replays the anchor chain (token poly hash -> 8-window poly hash
    // with positions), the diagonal gaps-and-islands merge, and the
    // verbatim slice verification
    "q_substring_dup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |h AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    list_transform(toks, tok -> list_reduce(
        |      list_prepend(CAST(7 AS BIGINT),
        |        list_transform(range(1, len(tok) + 1), i -> CAST(ascii(tok[i]) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007)) AS th
        |  FROM t WHERE len(toks) >= 8
        |), wh AS (
        |  SELECT doc_id,
        |    list_transform(range(1, n - 6), i -> list_reduce(
        |      list_prepend(CAST(11 AS BIGINT), list_slice(th, i, i + 7)),
        |      (a, b) -> (a * 37 + b) % 1000000007)) AS ws
        |  FROM h
        |), p AS (
        |  SELECT doc_id, CAST(unnest(range(0, len(ws))) AS INTEGER) AS pos,
        |    unnest(ws) AS wh
        |  FROM wh
        |), anch AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.pos AS pos_a, b.pos AS pos_b, b.pos - a.pos AS diag
        |  FROM p a JOIN p b ON a.wh = b.wh AND a.doc_id < b.doc_id
        |), isl AS (
        |  SELECT id_a, id_b, diag, pos_a, pos_b,
        |    pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag
        |                               ORDER BY pos_a) AS grp
        |  FROM anch
        |), spans AS (
        |  SELECT id_a, id_b,
        |    CAST(min(pos_a) AS INTEGER) AS pos_a,
        |    CAST(min(pos_b) AS INTEGER) AS pos_b,
        |    CAST(count(*) + 7 AS BIGINT) AS span_tokens
        |  FROM isl GROUP BY id_a, id_b, diag, grp
        |)
        |SELECT s.id_a, s.id_b, s.pos_a, s.pos_b, s.span_tokens
        |FROM spans s
        |JOIN t ta ON ta.doc_id = s.id_a
        |JOIN t tb ON tb.doc_id = s.id_b
        |WHERE list_slice(ta.toks, s.pos_a + 1, s.pos_a + s.span_tokens)
        |    = list_slice(tb.toks, s.pos_b + 1, s.pos_b + s.span_tokens)""".stripMargin,

    // the removal twin replays the whole verified-span chain, then
    // cuts covered positions from each higher-id doc (DuckDB list
    // lambdas are 1-indexed — hence i - 1 against the 0-based spans)
    "q_span_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |h AS (
        |  SELECT doc_id, toks, len(toks) AS n,
        |    list_transform(toks, tok -> list_reduce(
        |      list_prepend(CAST(7 AS BIGINT),
        |        list_transform(range(1, len(tok) + 1), i -> CAST(ascii(tok[i]) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007)) AS th
        |  FROM t WHERE len(toks) >= 8
        |), wh AS (
        |  SELECT doc_id,
        |    list_transform(range(1, n - 6), i -> list_reduce(
        |      list_prepend(CAST(11 AS BIGINT), list_slice(th, i, i + 7)),
        |      (a, b) -> (a * 37 + b) % 1000000007)) AS ws
        |  FROM h
        |), p AS (
        |  SELECT doc_id, CAST(unnest(range(0, len(ws))) AS INTEGER) AS pos,
        |    unnest(ws) AS wh
        |  FROM wh
        |), anch AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    a.pos AS pos_a, b.pos AS pos_b, b.pos - a.pos AS diag
        |  FROM p a JOIN p b ON a.wh = b.wh AND a.doc_id < b.doc_id
        |), isl AS (
        |  SELECT id_a, id_b, diag, pos_a, pos_b,
        |    pos_a - row_number() OVER (PARTITION BY id_a, id_b, diag
        |                               ORDER BY pos_a) AS grp
        |  FROM anch
        |), spans AS (
        |  SELECT id_a, id_b,
        |    CAST(min(pos_a) AS INTEGER) AS pos_a,
        |    CAST(min(pos_b) AS INTEGER) AS pos_b,
        |    CAST(count(*) + 7 AS BIGINT) AS span_tokens
        |  FROM isl GROUP BY id_a, id_b, diag, grp
        |), verified AS (
        |  SELECT s.id_a, s.id_b, s.pos_a, s.pos_b, s.span_tokens
        |  FROM spans s
        |  JOIN t ta ON ta.doc_id = s.id_a
        |  JOIN t tb ON tb.doc_id = s.id_b
        |  WHERE list_slice(ta.toks, s.pos_a + 1, s.pos_a + s.span_tokens)
        |      = list_slice(tb.toks, s.pos_b + 1, s.pos_b + s.span_tokens)
        |), ivs AS (
        |  SELECT id_b AS doc_id,
        |    list(struct_pack(s := pos_b, l := span_tokens)) AS ivs
        |  FROM verified GROUP BY id_b
        |), alltoks AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), kept AS (
        |  SELECT a.doc_id, a.toks,
        |    CASE WHEN v.ivs IS NULL THEN a.toks
        |         ELSE list_filter(a.toks, (tok, i) ->
        |           NOT len(list_filter(v.ivs, iv ->
        |             i - 1 >= iv.s AND i - 1 < iv.s + iv.l)) > 0) END AS keep
        |  FROM alltoks a LEFT JOIN ivs v USING (doc_id)
        |)
        |SELECT doc_id,
        |  -- DuckDB array_to_string([]) is NULL where Spark's
        |  -- array_join([]) is '' — coalesce so a fully-covered doc
        |  -- surfaces as empty text on both engines
        |  COALESCE(array_to_string(keep, ' '), '') AS text,
        |  CAST(len(toks) - len(keep) AS BIGINT) AS removed_tokens
        |FROM kept""".stripMargin,

    "q_importance" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT doc_id, lang,
        |    unnest(CASE WHEN len(toks) >= 2
        |      THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |      ELSE [] END) AS gram
        |  FROM t
        |), r AS (
        |  SELECT gram, count(*) AS r FROM g GROUP BY 1
        |), tc AS (
        |  SELECT gram, count(*) AS t FROM g WHERE lang = 'en' GROUP BY 1
        |), m AS (
        |  SELECT g.doc_id, count(*) AS n_grams,
        |    CAST(sum(1 + coalesce(tc.t, 0)) AS BIGINT) AS tgt_mass,
        |    CAST(sum(1 + r.r) AS BIGINT) AS raw_mass
        |  FROM g JOIN r USING (gram) LEFT JOIN tc USING (gram)
        |  GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(m.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(m.tgt_mass, 0) AS BIGINT) AS tgt_mass,
        |  CAST(coalesce(m.raw_mass, 0) AS BIGINT) AS raw_mass,
        |  CASE WHEN coalesce(m.raw_mass, 0) = 0 THEN 1.0
        |       ELSE CAST(m.tgt_mass AS DOUBLE) / CAST(m.raw_mass AS DOUBLE)
        |  END AS weight
        |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id""".stripMargin,

    "q_tfidf_topk" ->
      """WITH t AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2
        |), df AS (
        |  SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1
        |), n AS (
        |  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
        |), s AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    CAST(tf.tf AS DOUBLE) * (CAST(n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE)) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n
        |), r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, term) AS INTEGER) AS "rank"
        |  FROM s
        |)
        |SELECT doc_id, term, tf, df, score, "rank" FROM r WHERE "rank" <= 3""".stripMargin,

    "q_doc_fingerprint" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |h AS (
        |  SELECT doc_id, len(toks) AS n,
        |    list_transform(toks, tok -> list_reduce(
        |      list_prepend(CAST(7 AS BIGINT),
        |        list_transform(range(1, len(tok) + 1), i -> CAST(ascii(tok[i]) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007)) AS th
        |  FROM t
        |)
        |SELECT doc_id,
        |  CASE WHEN n >= 5
        |    THEN list_min(list_transform(range(1, n - 3), i -> list_reduce(
        |           list_prepend(CAST(11 AS BIGINT), list_slice(th, i, i + 4)),
        |           (a, b) -> (a * 37 + b) % 1000000007)))
        |    ELSE list_reduce(list_prepend(CAST(11 AS BIGINT), th),
        |           (a, b) -> (a * 37 + b) % 1000000007)
        |  END AS fp
        |FROM h""".stripMargin,

    // Winnowing replay: the fingerprint oracle's hash chain, then the
    // RELATIONAL formulation of per-window rightmost-min selection —
    // a starts×positions range join + row_number qualify (DuckDB has
    // no per-row struct-accumulator state; the win× join blowup is
    // exactly what the Spark side's row-local HOF avoids).
    "q_winnow" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), h AS (
        |  SELECT doc_id, len(toks) AS nt,
        |    list_transform(toks, tok -> list_reduce(
        |      list_prepend(CAST(7 AS BIGINT),
        |        list_transform(range(1, len(tok) + 1),
        |          i -> CAST(ascii(tok[i]) AS BIGINT))),
        |      (a, b) -> (a * 31 + b) % 1000000007)) AS th
        |  FROM t
        |), wh AS (
        |  SELECT doc_id,
        |    CASE WHEN nt >= 5
        |      THEN list_transform(range(1, nt - 3), i -> list_reduce(
        |             list_prepend(CAST(11 AS BIGINT), list_slice(th, i, i + 4)),
        |             (a, b) -> (a * 37 + b) % 1000000007))
        |      ELSE [list_reduce(list_prepend(CAST(11 AS BIGINT), th),
        |             (a, b) -> (a * 37 + b) % 1000000007)]
        |    END AS wh
        |  FROM h
        |), p AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos, wh[CAST(i AS INTEGER)] AS fp,
        |    len(wh) AS m
        |  FROM wh, unnest(range(1, len(wh) + 1)) u(i)
        |), st AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS s
        |  FROM (SELECT doc_id, greatest(m - 3, 1) AS ns FROM p GROUP BY 1, m) q,
        |       unnest(range(1, ns + 1)) u(i)
        |), sel AS (
        |  SELECT p.doc_id, p.pos, p.fp,
        |    row_number() OVER (PARTITION BY p.doc_id, st.s
        |      ORDER BY p.fp ASC, p.pos DESC) AS rk
        |  FROM st JOIN p ON p.doc_id = st.doc_id
        |    AND p.pos >= st.s AND p.pos < st.s + 4
        |)
        |SELECT DISTINCT doc_id, pos, fp FROM sel WHERE rk = 1""".stripMargin,

    "q_embed_topk" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM q
        |), p AS (
        |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
        |      sqrt(CAST(a.nsq * b.nsq AS DOUBLE)) AS cos
        |  FROM n a JOIN n b ON a.vec_id < 10 AND b.vec_id != a.vec_id
        |), r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS INTEGER) AS "rank"
        |  FROM p
        |)
        |SELECT probe_id, neighbor_id, "rank", cos FROM r WHERE "rank" <= 5""".stripMargin,

    "q_knn_graph" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM q
        |), p AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst,
        |    CAST(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
        |      sqrt(CAST(a.nsq * b.nsq AS DOUBLE)) AS cos
        |  FROM n a JOIN n b ON b.vec_id != a.vec_id
        |), r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY src ORDER BY cos DESC, dst) AS INTEGER) AS "rank"
        |  FROM p
        |)
        |SELECT src, dst, "rank", cos FROM r WHERE "rank" <= 3""".stripMargin,

    // Truncation fidelity: the same quantized grid, prefix-norm
    // ratio, one double sqrt, floored micro-units, integer mean
    "q_trunc_fidelity" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM q WHERE v IS NOT NULL
        |), e AS (
        |  SELECT vec_id, v, nsq, CAST(w AS INTEGER) AS width
        |  FROM n, unnest([8, 16, 32, 64]) AS t(w)
        |), f AS (
        |  SELECT width, nsq,
        |    CASE WHEN nsq > 0 THEN CAST(floor(
        |      sqrt(CAST(CAST(list_sum(list_transform(v[1:width], x -> x * x))
        |          AS BIGINT) AS DOUBLE) / CAST(nsq AS DOUBLE)) * 1000000.0)
        |      AS BIGINT) END AS fid
        |  FROM e
        |)
        |SELECT width, CAST(count(fid) AS BIGINT) AS n_vecs,
        |  CAST(sum(CASE WHEN nsq = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
        |  CAST(CAST(sum(fid) AS HUGEINT) // count(fid) AS BIGINT) AS mean_fid_micro,
        |  min(fid) AS min_fid_micro
        |FROM f GROUP BY width""".stripMargin,

    // Hard negatives: the q_knn_graph replay with the label inequality
    // in the pair join — same quantized integers, bit-equal cosines
    "q_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, label, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM q
        |), p AS (
        |  SELECT a.vec_id AS src, a.label AS src_label,
        |    b.vec_id AS dst, b.label AS dst_label,
        |    CAST(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
        |      sqrt(CAST(a.nsq * b.nsq AS DOUBLE)) AS cos
        |  FROM n a JOIN n b ON b.vec_id != a.vec_id AND b.label != a.label
        |), r AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY src ORDER BY cos DESC, dst) AS INTEGER) AS "rank"
        |  FROM p
        |)
        |SELECT src, src_label, dst, dst_label, cos, "rank"
        |FROM r WHERE "rank" <= 3""".stripMargin,

    "q_embed_quarantine" ->
      """WITH base AS (
        |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS embedding FROM embeddings
        |), dirty AS (
        |  SELECT CAST(-1 AS BIGINT) AS vec_id,
        |         list_transform(generate_series(1, 64), i -> CAST(0 AS DOUBLE)) AS embedding
        |  UNION ALL SELECT CAST(-2 AS BIGINT),
        |         list_transform(generate_series(1, 64), i -> CAST('NaN' AS DOUBLE))
        |  UNION ALL SELECT CAST(-3 AS BIGINT),
        |         [CAST(1 AS DOUBLE), CAST(2 AS DOUBLE)]
        |  UNION ALL SELECT CAST(-4 AS BIGINT),
        |         list_transform(generate_series(1, 64), i -> CASE WHEN i = 1 THEN NULL ELSE CAST(1 AS DOUBLE) END)
        |  UNION ALL SELECT CAST(-5 AS BIGINT),
        |         CAST(NULL AS DOUBLE[])
        |  UNION ALL SELECT CAST(-6 AS BIGINT),
        |         list_transform(generate_series(1, 64), i -> CASE WHEN i = 1 THEN CAST('Infinity' AS DOUBLE) ELSE CAST(1 AS DOUBLE) END)
        |), u AS (
        |  SELECT * FROM base UNION ALL SELECT * FROM dirty
        |)
        |SELECT vec_id, COALESCE(CASE
        |  WHEN embedding IS NULL THEN 'null_vector'
        |  WHEN len(embedding) <> 64 THEN 'wrong_dims'
        |  WHEN len(list_filter(embedding, x -> x IS NULL)) > 0 THEN 'null_element'
        |  WHEN len(list_filter(embedding, x -> isnan(x) OR x = CAST('Infinity' AS DOUBLE) OR x = CAST('-Infinity' AS DOUBLE))) > 0 THEN 'non_finite'
        |  WHEN len(list_filter(embedding, x -> x <> CAST(0 AS DOUBLE))) = 0 THEN 'zero_norm'
        |  ELSE NULL END, 'clean') AS quarantine_reason
        |FROM u""".stripMargin,

    "q_embed_neardup" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM q
        |), p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
        |      sqrt(CAST(a.nsq * b.nsq AS DOUBLE)) AS cos
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |)
        |SELECT * FROM p WHERE cos >= 0.35""".stripMargin,

    // Retrieval-eval replay: the brute-force top-10 CTE, same-label
    // qrels, the PINNED discount CASE table and its prefix sums —
    // no log2 anywhere.
    "q_retrieval_eval" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM q
        |), p AS (
        |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id,
        |    CAST(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
        |      sqrt(CAST(a.nsq * b.nsq AS DOUBLE)) AS cos
        |  FROM n a JOIN n b ON a.vec_id < 10 AND b.vec_id != a.vec_id
        |), run AS (
        |  SELECT probe_id, neighbor_id, rnk FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY probe_id ORDER BY cos DESC, neighbor_id) AS rnk
        |    FROM p) WHERE rnk <= 10
        |), qr AS (
        |  SELECT a.vec_id AS probe_id, b.vec_id AS neighbor_id
        |  FROM embeddings a JOIN embeddings b ON a.label = b.label
        |    AND a.vec_id < 10 AND b.vec_id != a.vec_id
        |), nrel AS (
        |  SELECT probe_id, CAST(count(*) AS BIGINT) AS n_rel
        |  FROM qr GROUP BY 1
        |), sc AS (
        |  SELECT run.probe_id, run.rnk,
        |    (qr.probe_id IS NOT NULL) AS rel,
        |    CASE run.rnk WHEN 1 THEN 1000000 WHEN 2 THEN 630929
        |      WHEN 3 THEN 500000 WHEN 4 THEN 430676 WHEN 5 THEN 386852
        |      WHEN 6 THEN 356207 WHEN 7 THEN 333333 WHEN 8 THEN 315464
        |      WHEN 9 THEN 301029 ELSE 289064 END AS disc
        |  FROM run LEFT JOIN qr ON run.probe_id = qr.probe_id
        |    AND run.neighbor_id = qr.neighbor_id
        |), g AS (
        |  SELECT probe_id,
        |    CAST(sum(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
        |    min(CASE WHEN rel THEN CAST(rnk AS BIGINT) END) AS fr,
        |    CAST(sum(CASE WHEN rel THEN disc ELSE 0 END) AS BIGINT) AS dcg
        |  FROM sc GROUP BY 1
        |), j AS (
        |  SELECT g.probe_id, coalesce(n_rel, 0) AS n_rel, n_hits, fr, dcg,
        |    CASE least(coalesce(n_rel, 0), 10)
        |      WHEN 0 THEN NULL WHEN 1 THEN 1000000 WHEN 2 THEN 1630929
        |      WHEN 3 THEN 2130929 WHEN 4 THEN 2561605 WHEN 5 THEN 2948457
        |      WHEN 6 THEN 3304664 WHEN 7 THEN 3637997 WHEN 8 THEN 3953461
        |      WHEN 9 THEN 4254490 ELSE 4543554 END AS idcg
        |  FROM g LEFT JOIN nrel ON g.probe_id = nrel.probe_id
        |)
        |SELECT probe_id, n_rel, n_hits,
        |  coalesce(1000000 // fr, 0) AS mrr_micro,
        |  (n_hits * 1000000) // 10 AS precision_micro,
        |  (n_hits * 1000000) // nullif(n_rel, 0) AS recall_micro,
        |  (dcg * 1000000) // idcg AS ndcg_micro
        |FROM j""".stripMargin,

    // BFS replay: the shared kNN CTE, UNION symmetrize, bounded
    // recursive frontier, min-hop per node, NULL for unreached.
    "q_bfs_hops" ->
      s"""WITH RECURSIVE ${KnnEdgesCte.stripPrefix("WITH ")},
        |eu AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |nodes AS (SELECT DISTINCT src AS id FROM eu),
        |walk AS (
        |  SELECT id, CAST(0 AS BIGINT) AS h FROM nodes WHERE id < 5
        |  UNION
        |  SELECT eu.dst, w.h + 1 FROM walk w JOIN eu ON eu.src = w.id
        |  WHERE w.h < 20
        |), mh AS (
        |  SELECT id, min(h) AS hops FROM walk GROUP BY 1
        |)
        |SELECT nodes.id, mh.hops
        |FROM nodes LEFT JOIN mh ON nodes.id = mh.id""".stripMargin,

    // DBSCAN replay: the near-dup pair CTE, symmetric ε-graph,
    // self-excluded degrees, reachability components over core-core
    // edges, min-cluster border assignment, every point emitted.
    "q_dbscan" ->
      """WITH RECURSIVE q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM q
        |), p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE CAST(list_sum(list_transform(list_zip(a.v, b.v),
        |      z -> z[1] * z[2])) AS DOUBLE) /
        |    sqrt(CAST(a.nsq * b.nsq AS DOUBLE)) >= 0.35
        |), e AS (
        |  SELECT id_a, id_b FROM p UNION ALL SELECT id_b, id_a FROM p
        |), core AS (
        |  SELECT id_a AS id FROM e GROUP BY 1 HAVING count(*) >= 2
        |), ce AS (
        |  SELECT e.id_a AS src, e.id_b AS dst FROM e
        |  JOIN core c1 ON e.id_a = c1.id JOIN core c2 ON e.id_b = c2.id
        |), reach AS (
        |  SELECT id AS node, id AS r FROM core
        |  UNION
        |  SELECT re.node, ce.dst FROM reach re JOIN ce ON ce.src = re.r
        |), comp AS (
        |  SELECT node AS id, CAST(min(r) AS BIGINT) AS ccl
        |  FROM reach GROUP BY 1
        |), bord AS (
        |  SELECT e.id_a AS id, CAST(min(c.ccl) AS BIGINT) AS bcl
        |  FROM e JOIN comp c ON e.id_b = c.id GROUP BY 1
        |)
        |SELECT emb.vec_id,
        |  CASE WHEN comp.id IS NOT NULL THEN 'core'
        |    WHEN bord.bcl IS NOT NULL THEN 'border'
        |    ELSE 'noise' END AS role,
        |  CASE WHEN comp.id IS NOT NULL THEN comp.ccl
        |    ELSE bord.bcl END AS cluster_id
        |FROM embeddings emb
        |LEFT JOIN comp ON emb.vec_id = comp.id
        |LEFT JOIN bord ON emb.vec_id = bord.id""".stripMargin,

    // SemDeDup exact arm: the same quantized pair list as
    // q_embed_neardup, reduced to one keep/remove decision per doc
    "q_semdedup" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM q
        |), p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
        |      sqrt(CAST(a.nsq * b.nsq AS DOUBLE)) AS cos
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |), d AS (
        |  SELECT id_b AS vec_id, CAST(min(id_a) AS BIGINT) AS dup_of
        |  FROM p WHERE cos >= 0.35 GROUP BY 1
        |)
        |SELECT e.vec_id, d.dup_of IS NULL AS kept, d.dup_of
        |FROM embeddings e LEFT JOIN d USING (vec_id)""".stripMargin,

    // the bucketed scale arm must land on EXACTLY the exact arm's rows
    "q_embed_neardup_lsh" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM q
        |), p AS (
        |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |    CAST(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
        |      sqrt(CAST(a.nsq * b.nsq AS DOUBLE)) AS cos
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |)
        |SELECT * FROM p WHERE cos >= 0.35""".stripMargin,

    // the semantic-decontamination replay: the q_embed_neardup
    // quantized-cosine machinery split corpus-vs-bench
    "q_decontaminate_semantic" ->
      """WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM q
        |), p AS (
        |  SELECT c.vec_id AS doc_id, b.vec_id AS bench_id,
        |    CAST(list_sum(list_transform(list_zip(c.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
        |      sqrt(CAST(c.nsq * b.nsq AS DOUBLE)) AS cos
        |  FROM n c CROSS JOIN n b
        |  WHERE c.vec_id >= 20 AND b.vec_id < 20
        |)
        |SELECT * FROM p WHERE cos >= 0.30""".stripMargin,

    "q_multimodal_meta" ->
      """SELECT doc_id,
        |  'stub/v1' AS codec,
        |  CAST(16 + (n_chars % 64) AS INTEGER) AS width,
        |  CAST(16 + (doc_id % 48) AS INTEGER) AS height,
        |  CAST(n_chars AS BIGINT) AS n_bytes,
        |  CAST(ceil(CAST(n_chars AS DOUBLE) / 32) AS INTEGER) AS n_frames_total,
        |  CAST(ceil(CAST(ceil(CAST(n_chars AS DOUBLE) / 32) AS DOUBLE) / 2) AS INTEGER) AS n_frames_kept
        |FROM documents""".stripMargin,

    // full bit-for-bit replay of the compiled dHash kernel — the
    // fake-media payload is the UTF-8 text, so the oracle hashes the
    // same bytes the binary column carries
    "q_media_dhash" ->
      (mediaDhashSql("SELECT doc_id, text FROM documents") +
        "\nSELECT doc_id, dhash FROM mdh"),

    // planted single-byte perturbations + exact all-pairs hamming —
    // equals the banded Spark plan because 4-chunk pigeonhole banding
    // is complete for hamming <= 3
    "q_media_neardup" ->
      (mediaDhashSql(
        """SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000,
          |    concat(substring(text, 1, length(text) // 2), 'q',
          |           substring(text, length(text) // 2 + 2))
          |  FROM documents WHERE doc_id % 5 = 0""".stripMargin) +
        """
          |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  CAST(bit_count(xor(a.dhash, b.dhash)) AS BIGINT) AS hamming
          |FROM mdh a JOIN mdh b ON a.doc_id < b.doc_id
          |WHERE bit_count(xor(a.dhash, b.dhash)) <= 2""".stripMargin),

    // the capstone replay: corruption-schedule verdicts, the dHash
    // CTE over the clean corpus (originals + 1-char twins), exact
    // all-pairs hamming (= the banded plan by pigeonhole), the
    // reachability CC, and the keep/dup/quarantined statuses
    "q_media_pipeline" -> {
      val corpusCte =
        """SELECT doc_id, text FROM documents
          |  UNION ALL
          |  SELECT doc_id + 1000000,
          |    concat(substring(text, 1, length(text) // 2), 'q',
          |           substring(text, length(text) // 2 + 2))
          |  FROM documents WHERE doc_id % 5 = 0""".stripMargin
      mediaDhashSql(
        s"""SELECT doc_id, text FROM ($corpusCte)
           |  WHERE doc_id % 11 NOT IN (5, 7, 9, 3, 0)""".stripMargin)
        .replace("WITH mdh_docs", "WITH RECURSIVE mdh_docs") +
        """, mp_pairs AS (
          |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
          |  FROM mdh a JOIN mdh b ON a.doc_id < b.doc_id
          |  WHERE bit_count(xor(a.dhash, b.dhash)) <= 2
          |), mp_edges AS (
          |  SELECT id_a AS src, id_b AS dst FROM mp_pairs
          |  UNION SELECT id_b, id_a FROM mp_pairs
          |), mp_reach AS (
          |  SELECT src AS node, src AS r FROM mp_edges
          |  UNION
          |  SELECT re.node, e.dst FROM mp_reach re
          |  JOIN mp_edges e ON e.src = re.r
          |), mp_cl AS (
          |  SELECT node AS doc_id, min(r) AS cluster_id
          |  FROM mp_reach GROUP BY node
          |)
          |SELECT m.doc_id,
          |  CASE WHEN c.cluster_id IS NULL OR c.cluster_id = m.doc_id
          |       THEN 'kept' ELSE 'dup' END AS status,
          |  CASE WHEN c.cluster_id IS NOT NULL AND c.cluster_id != m.doc_id
          |       THEN CAST(c.cluster_id AS VARCHAR) ELSE '-' END AS detail
          |FROM mdh m LEFT JOIN mp_cl c USING (doc_id)
          |UNION ALL
          |SELECT doc_id, 'quarantined',
          |  CASE WHEN doc_id % 11 = 5 THEN 'null_media'
          |       WHEN doc_id % 11 = 7 THEN 'short_header'
          |       WHEN doc_id % 11 = 9 THEN 'empty_payload'
          |       WHEN doc_id % 11 = 3 THEN 'truncated_payload'
          |       ELSE 'padded_payload' END
          |FROM (""".stripMargin + corpusCte +
        ") WHERE doc_id % 11 IN (5, 7, 9, 3, 0)"
    },

    // the corruption schedule is keyed on doc_id alone, so the oracle
    // predicts every audit verdict without touching binary — the
    // Spark side's length/header arithmetic is what's under test
    "q_media_quarantine" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 11 = 5 THEN 'null_media'
        |       WHEN doc_id % 11 = 7 THEN 'short_header'
        |       WHEN doc_id % 11 = 9 THEN 'empty_payload'
        |       WHEN doc_id % 11 = 3 THEN 'truncated_payload'
        |       WHEN doc_id % 11 = 0 THEN 'padded_payload'
        |       ELSE 'clean' END AS quarantine_reason
        |FROM documents""".stripMargin,

    // bit interleave replayed as Σ_i bit_i(x)·4^i + 2·Σ_i bit_i(y)·4^i
    // — pure integer arithmetic, identical to the mask-shift chain
    "q_zorder" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(doc_id % 4096 AS BIGINT) AS zx,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS zy
        |  FROM documents
        |)
        |SELECT doc_id, zx, zy,
        |  CAST(list_sum(list_transform(range(0, 16), i -> ((zx >> i) & 1) << (2 * i))) +
        |    2 * list_sum(list_transform(range(0, 16), i -> ((zy >> i) & 1) << (2 * i)))
        |    AS BIGINT) AS z
        |FROM t""".stripMargin,

    // Hilbert replay: the canonical xy2d loop as a recursive CTE —
    // every step is integer CASE arithmetic (quadrant digit via xor,
    // s-local reflect + swap when ry=0), 16 iterations, final rows at
    // s=0. Negative intermediates are fine: &, CASE and arithmetic are
    // two's-complement BIGINT in both engines.
    "q_hilbert" ->
      """WITH RECURSIVE pts AS (
        |  SELECT doc_id, CAST(doc_id % 4096 AS BIGINT) AS hx,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS hy
        |  FROM documents
        |), it(doc_id, x, y, d, s) AS (
        |  SELECT doc_id, hx & 65535, hy & 65535,
        |    CAST(0 AS BIGINT), CAST(32768 AS BIGINT)
        |  FROM pts
        |  UNION ALL
        |  SELECT doc_id,
        |    CASE WHEN (y & s) = 0 THEN
        |      CASE WHEN (x & s) > 0 THEN s - 1 - y ELSE y END
        |    ELSE x END,
        |    CASE WHEN (y & s) = 0 THEN
        |      CASE WHEN (x & s) > 0 THEN s - 1 - x ELSE x END
        |    ELSE y END,
        |    d + s * s * xor(CASE WHEN (x & s) > 0 THEN 3 ELSE 0 END,
        |                    CASE WHEN (y & s) > 0 THEN 1 ELSE 0 END),
        |    s // 2
        |  FROM it WHERE s > 0
        |)
        |SELECT p.doc_id, p.hx, p.hy, i.d AS h
        |FROM it i JOIN pts p USING (doc_id) WHERE i.s = 0""".stripMargin,

    // starts = 0, 24, 48, … < n − overlap  ⇔  Spark
    // sequence(0, greatest(n-9, 0), 24);
    // duck 1-based inclusive list slicing ⇔ Spark slice(toks, s+1, 32)
    "q_chunk" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents WHERE text IS NOT NULL
        |), s AS (
        |  SELECT doc_id, toks, n,
        |    unnest(range(0, greatest(n - 8, 1), 24)) AS start FROM t
        |)
        |SELECT doc_id, CAST(start // 24 AS INTEGER) AS chunk_idx,
        |  array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text,
        |  CAST(least(32, n - start) AS BIGINT) AS chunk_tokens
        |FROM s""".stripMargin,

    // greedy accumulator as a recursive CTE: all shards advance in
    // lockstep, one doc per shard per iteration
    "q_pack_greedy" ->
      """WITH RECURSIVE ord AS (
        |  SELECT source AS shard, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n,
        |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
        |  FROM documents WHERE text IS NOT NULL
        |), rec AS (
        |  SELECT shard, doc_id, rn, n, n AS acc, CAST(1 AS BIGINT) AS pack_id
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.doc_id, o.rn, o.n,
        |    CASE WHEN r.acc + o.n > 128 THEN o.n ELSE r.acc + o.n END AS acc,
        |    CASE WHEN r.acc + o.n > 128 THEN r.pack_id + 1 ELSE r.pack_id END AS pack_id
        |  FROM rec r JOIN ord o ON o.shard = r.shard AND o.rn = r.rn + 1
        |)
        |SELECT shard, pack_id, count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS pack_tokens,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc,
        |  CAST(max(doc_id) AS BIGINT) AS last_doc
        |FROM rec GROUP BY 1, 2""".stripMargin,

    // Weyl mix on the low 16 id bits — exact integer arithmetic in
    // both engines (Chunking.stratifiedSample)
    "q_sample_stratified" ->
      """SELECT d.doc_id, d.lang
        |FROM documents d
        |JOIN (VALUES ('en', 0.5), ('de', 0.25), ('zh', 0.1)) r(lang, rate)
        |  USING (lang)
        |WHERE ((d.doc_id % 65536) * 40503) % 65536 < r.rate * 65536""".stripMargin,

    // Constants are interpolated from the SAME Scala doubles the Spark
    // side folds (toString round-trips the exact bit pattern), so both
    // Link-prediction replay: the shared kNN CTE, UNION symmetrize,
    // wedge self-join, anti-exclusion of present edges, broadcast-less
    // relational degrees — same exact Jaccard micro-units.
    "q_link_predict" ->
      s"""$KnnEdgesCte,
        |eu AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |deg AS (SELECT src AS v, CAST(count(*) AS BIGINT) AS d
        |        FROM eu GROUP BY 1),
        |cand AS (
        |  SELECT a.src AS s, b.dst AS t, CAST(count(*) AS BIGINT) AS common
        |  FROM eu a JOIN eu b ON a.dst = b.src
        |  WHERE a.src < b.dst
        |  GROUP BY 1, 2 HAVING count(*) >= 2
        |), nc AS (
        |  SELECT c.* FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM eu
        |    WHERE eu.src = c.s AND eu.dst = c.t)
        |)
        |SELECT nc.s AS src, nc.t AS dst, common,
        |  da.d AS deg_src, db.d AS deg_dst,
        |  (common * 1000000) // (da.d + db.d - common) AS jaccard_micro
        |FROM nc JOIN deg da ON nc.s = da.v JOIN deg db ON nc.t = db.v""".stripMargin,

    // Compaction replay: identical biggest-first walk and cumulative
    // integer binning per partition.
    "q_compaction_plan" ->
      """WITH f AS (
        |  SELECT source AS part, doc_id % 20 AS file,
        |    CAST(sum(n_chars) AS BIGINT) AS bytes
        |  FROM documents GROUP BY 1, 2
        |), c AS (
        |  SELECT part, file, bytes,
        |    CAST(coalesce(sum(bytes) OVER (PARTITION BY part
        |      ORDER BY bytes DESC, file
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS bef
        |  FROM f
        |)
        |SELECT part, file, bytes, bef // 4096 AS bin,
        |  bytes >= 4096 AS already_compact
        |FROM c""".stripMargin,

    // Phrase replay: the brute-force window scan the positional index
    // exists to avoid — every start position of every document checked
    // against all three tokens.
    "q_phrase_search" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), occ AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS p
        |  FROM t, unnest(range(1, len(toks) - 1)) u(i)
        |  WHERE toks[CAST(i AS INTEGER)] = 'slow'
        |    AND toks[CAST(i AS INTEGER) + 1] = 'hash'
        |    AND toks[CAST(i AS INTEGER) + 2] = 'batch'
        |)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  min(p) AS first_pos
        |FROM occ GROUP BY 1""".stripMargin,

    // Heavy-hitter replay: the naive full-vocabulary count the
    // candidate+verify plan avoids shuffling — same strict threshold,
    // same exact shares.
    "q_heavy_hitters" ->
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |), i AS (
        |  SELECT unnest(toks) AS item FROM t
        |), tot AS (
        |  SELECT CAST(count(*) AS BIGINT) AS total FROM i
        |), c AS (
        |  SELECT item, CAST(count(*) AS BIGINT) AS n FROM i GROUP BY 1
        |)
        |SELECT item, n, (n * 1000000) // nullif(total, 0) AS share_micro
        |FROM c, tot WHERE n * 50 > total""".stripMargin,

    // engines evaluate identical IEEE operations in identical order.
    "q_bm25_topk" ->
      s"""WITH q(qid, term) AS (VALUES ${
        Bm25Queries.flatMap { case (qid, ts) =>
          ts.map(t => s"($qid, '$t')") }.mkString(", ")}),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM tok),
        |ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok),
        |tf AS (
        |  SELECT q.qid, e.doc_id, e.term, count(*) AS tf, max(e.dl) AS dl
        |  FROM ex e JOIN q ON e.term = q.term GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.qid, tf.doc_id,
        |    CAST(floor(
        |      (CAST(s.n_docs AS DOUBLE) / CAST(dfq.df AS DOUBLE)) *
        |      (CAST(tf.tf AS DOUBLE) * ${Bm25K1 + 1}) /
        |      (CAST(tf.tf AS DOUBLE) + ${Bm25K1 * (1 - Bm25B)} + ${Bm25K1 * Bm25B} *
        |        (CAST(tf.dl AS DOUBLE) /
        |         (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
        |      * 1000000.0) AS BIGINT) AS c
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats s),
        |agg AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
        |        FROM sc GROUP BY 1, 2),
        |r AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS INTEGER) AS "rank"
        |  FROM agg)
        |SELECT CAST(qid AS INTEGER) AS qid, doc_id, score_micro, "rank"
        |FROM r WHERE "rank" <= 5""".stripMargin,

    // RM3 full replay: pass-1 BM25 (the q_bm25_topk CTEs) -> top-5
    // feedback docs -> integer relevance-model weights -> top-10
    // terms -> micro normalization -> 60/40 interpolation with the
    // uniform original weights -> weighted pass-2 BM25. Every
    // inter-pass number is an exact integer; the two IEEE formulas
    // are interpolated from the same Scala doubles as q_bm25_topk.
    "q_bm25_rm3" ->
      s"""WITH q(qid, term, q_micro) AS (VALUES ${
        Bm25Queries.flatMap { case (qid, ts) =>
          val d = ts.distinct
          d.map(t => s"($qid, '$t', ${1000000L / d.length})") }
          .mkString(", ")}),
        |tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |stats AS MATERIALIZED (
        |  SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM tok),
        |ex AS MATERIALIZED (
        |  SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok),
        |tf1 AS (
        |  SELECT q.qid, e.doc_id, e.term, count(*) AS tf, max(e.dl) AS dl
        |  FROM ex e JOIN q ON e.term = q.term GROUP BY 1, 2, 3),
        |df1 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf1 GROUP BY 1),
        |sc1 AS (
        |  SELECT tf1.qid, tf1.doc_id,
        |    CAST(floor(
        |      (CAST(s.n_docs AS DOUBLE) / CAST(df1.df AS DOUBLE)) *
        |      (CAST(tf1.tf AS DOUBLE) * ${Bm25K1 + 1}) /
        |      (CAST(tf1.tf AS DOUBLE) + ${Bm25K1 * (1 - Bm25B)} + ${Bm25K1 * Bm25B} *
        |        (CAST(tf1.dl AS DOUBLE) /
        |         (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
        |      * 1000000.0) AS BIGINT) AS c
        |  FROM tf1 JOIN df1 USING (term) CROSS JOIN stats s),
        |agg1 AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
        |         FROM sc1 GROUP BY 1, 2),
        |fb AS (
        |  SELECT qid, doc_id, score_micro FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS rn
        |    FROM agg1) WHERE rn <= 5),
        |rmtf AS (
        |  SELECT f.qid, f.doc_id, e.term, count(*) AS tf,
        |    max(f.score_micro) AS sm, max(e.dl) AS dl
        |  FROM fb f JOIN ex e USING (doc_id) GROUP BY 1, 2, 3),
        |rmraw AS (
        |  SELECT qid, term, CAST(sum((sm * tf) // dl) AS BIGINT) AS rm_raw
        |  FROM rmtf GROUP BY 1, 2 HAVING sum((sm * tf) // dl) > 0),
        |tt AS (
        |  SELECT qid, term, rm_raw FROM (
        |    SELECT *, row_number() OVER (
        |      PARTITION BY qid ORDER BY rm_raw DESC, term) AS rk
        |    FROM rmraw) WHERE rk <= 10),
        |rmn AS (
        |  SELECT qid, term, CAST((rm_raw * 1000000) //
        |    (sum(rm_raw) OVER (PARTITION BY qid)) AS BIGINT) AS rm_micro
        |  FROM tt),
        |mw AS (
        |  SELECT qid, term, w FROM (
        |    SELECT coalesce(o.qid, r.qid) AS qid,
        |      coalesce(o.term, r.term) AS term,
        |      CAST((60 * coalesce(o.q_micro, 0) +
        |        40 * coalesce(r.rm_micro, 0)) // 100 AS BIGINT) AS w
        |    FROM q o FULL OUTER JOIN rmn r
        |      ON o.qid = r.qid AND o.term = r.term)
        |  WHERE w > 0),
        |tf2 AS (
        |  SELECT m.qid, e.doc_id, e.term, count(*) AS tf,
        |    max(e.dl) AS dl, max(m.w) AS w
        |  FROM ex e JOIN mw m ON e.term = m.term GROUP BY 1, 2, 3),
        |df2 AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf2 GROUP BY 1),
        |sc2 AS (
        |  SELECT tf2.qid, tf2.doc_id,
        |    CAST(floor(
        |      (CAST(s.n_docs AS DOUBLE) / CAST(df2.df AS DOUBLE)) *
        |      (CAST(tf2.tf AS DOUBLE) * ${Bm25K1 + 1}) /
        |      (CAST(tf2.tf AS DOUBLE) + ${Bm25K1 * (1 - Bm25B)} + ${Bm25K1 * Bm25B} *
        |        (CAST(tf2.dl AS DOUBLE) /
        |         (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
        |      * CAST(tf2.w AS DOUBLE)) AS BIGINT) AS c
        |  FROM tf2 JOIN df2 USING (term) CROSS JOIN stats s),
        |agg2 AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
        |         FROM sc2 GROUP BY 1, 2),
        |r2 AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS INTEGER) AS "rank"
        |  FROM agg2)
        |SELECT CAST(qid AS INTEGER) AS qid, doc_id, score_micro, "rank"
        |FROM r2 WHERE "rank" <= 5""".stripMargin,

    // the index's per-term audit: df = distinct docs per term,
    // total_tf = summed in-doc counts, top 30 by (df desc, term)
    "q_inverted_index" ->
      """WITH tok AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), ex AS (
        |  SELECT doc_id, unnest(toks) AS term FROM tok
        |), tf AS (
        |  SELECT term, doc_id, count(*) AS tf FROM ex GROUP BY 1, 2
        |), st AS (
        |  SELECT term, CAST(count(*) AS BIGINT) AS df,
        |    CAST(sum(tf) AS BIGINT) AS total_tf
        |  FROM tf GROUP BY 1
        |)
        |SELECT term, df, total_tf,
        |  CAST(row_number() OVER (ORDER BY df DESC, term) AS INTEGER) AS "rank"
        |FROM st ORDER BY df DESC, term LIMIT 30""".stripMargin,

    // Corpus report: dup window + the q_quality_rules CTE + one
    // source groupBy; the mean is one IEEE divide of exact integers
    "q_corpus_report" ->
      """WITH t AS (
        |  SELECT source, lang, doc_id, string_split(text, ' ') AS toks,
        |    count(*) OVER (PARTITION BY text) > 1 AS dup
        |  FROM documents
        |), s AS (
        |  SELECT source, lang, dup,
        |    CAST(len(toks) AS BIGINT) AS n,
        |    (len(toks) BETWEEN 50 AND 100000) AND
        |    ((CAST(list_sum(list_transform(toks, t -> CAST(len(t) AS BIGINT))) AS DOUBLE)
        |       / CAST(len(toks) AS DOUBLE)) BETWEEN 3.0 AND 10.0) AND
        |    ((CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]'))) AS DOUBLE)
        |       / CAST(len(toks) AS DOUBLE)) >= 0.8) AND
        |    (len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'is', 'to'))) >= 2)
        |      AS ok_all
        |  FROM t
        |), g AS (
        |  SELECT source,
        |    count(*) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS n_tokens,
        |    count(DISTINCT lang) AS n_langs,
        |    CAST(sum(CASE WHEN ok_all THEN 1 ELSE 0 END) AS BIGINT) AS n_quality_ok,
        |    CAST(sum(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
        |  FROM s GROUP BY 1
        |)
        |SELECT source, n_docs, n_tokens, n_langs, n_quality_ok, n_dup_docs,
        |  CAST(n_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE) AS mean_tokens
        |FROM g""".stripMargin,

    // PageRank: knn-graph SQL verbatim → out-degrees → 10 UNROLLED
    // iteration CTEs, each one BIGINT multiply + integral divide
    // (DuckDB // ≡ Spark div on positive operands) — bit-exact replay
    // Modularity: shared kNN CTE + UNION-symmetrized edges + label
    // joins; both Q terms through HUGEINT // ≡ Spark DECIMAL div
    "q_modularity" ->
      s"""$KnnEdgesCte,
        |eu AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |el AS (
        |  SELECT eu.src, eu.dst, a.label AS ls, b.label AS ld
        |  FROM eu JOIN embeddings a ON eu.src = a.vec_id
        |  JOIN embeddings b ON eu.dst = b.vec_id
        |), pl AS (
        |  SELECT ls AS label, CAST(count(*) AS BIGINT) AS degree_sum,
        |    CAST(SUM(CASE WHEN ls = ld THEN 1 ELSE 0 END) // 2 AS BIGINT)
        |      AS internal_edges
        |  FROM el GROUP BY 1
        |), mm AS (SELECT CAST(count(*) // 2 AS BIGINT) AS m FROM el
        |), nnod AS (
        |  SELECT label, CAST(count(*) AS BIGINT) AS n_nodes
        |  FROM embeddings GROUP BY 1
        |)
        |SELECT nnod.label, n_nodes,
        |  coalesce(internal_edges, 0) AS internal_edges,
        |  coalesce(degree_sum, 0) AS degree_sum,
        |  CAST(CAST(coalesce(internal_edges, 0) AS HUGEINT) * 1000000
        |    // CAST(m AS HUGEINT) AS BIGINT)
        |  - CAST(CAST(coalesce(degree_sum, 0) AS HUGEINT)
        |    * coalesce(degree_sum, 0) * 1000000
        |    // (4 * CAST(m AS HUGEINT) * m) AS BIGINT) AS q_contrib_micro
        |FROM nnod LEFT JOIN pl ON nnod.label = pl.label CROSS JOIN mm""".stripMargin,

    "q_pagerank" ->
      s"""$PageRankCtes
        |SELECT src, pr_pico, CAST(rnk AS INTEGER) AS "rank" FROM (
        |  SELECT v AS src, mass AS pr_pico,
        |    row_number() OVER (ORDER BY mass DESC, v) AS rnk
        |  FROM pr10)
        |WHERE rnk <= 50""".stripMargin,

    // seed-teleport steps unrolled: same integer map, CASE-gated base.
    // sf0.01-ONLY heavy class BY CONTRACT (the q_pagerank convention):
    // the KnnEdgesCte replays the exact-kNN edge build in DuckDB,
    // which is quadratic in the embedding count — fine at the gated
    // sf0.01, prohibitive at sf0.1. The Spark side scales (cell-pruned
    // candidate join); it is the ORACLE that is bounded.
    "q_ppr_expand" ->
      s"""$KnnEdgesCte,
        |${pprStepCtes(8)}
        |SELECT src, ppr_pico, CAST(rnk AS INTEGER) AS "rank" FROM (
        |  SELECT v AS src, mass AS ppr_pico,
        |    row_number() OVER (ORDER BY mass DESC, v) AS rnk
        |  FROM pr8)
        |WHERE rnk <= 100""".stripMargin,

    // warm(cold(5), 3) on an unchanged graph IS cold(8) under the
    // exact integer map — the oracle replays the 8-step composition
    "q_pagerank_warm" ->
      s"""$KnnEdgesCte,
        |${pageRankStepCtes(8)}
        |SELECT src, pr_pico, CAST(rnk AS INTEGER) AS "rank" FROM (
        |  SELECT v AS src, mass AS pr_pico,
        |    row_number() OVER (ORDER BY mass DESC, v) AS rnk
        |  FROM pr8)
        |WHERE rnk <= 50""".stripMargin,

    // the shared kNN CTE + canonical undirected edges + degree-ordered
    // orientation + wedge/close joins — the exact Schank–Wagner replay;
    // lcc in integer micro-units (// ≡ div on positive operands)
    "q_triangles" ->
      s"""$KnnEdgesCte,
        |und AS (
        |  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
        |  FROM e WHERE src != dst
        |), dg AS (
        |  SELECT v, count(*) AS degree FROM (
        |    SELECT a AS v FROM und UNION ALL SELECT b FROM und)
        |  GROUP BY 1
        |), ori AS (
        |  SELECT CASE WHEN da.degree <= db.degree THEN u.a ELSE u.b END AS src,
        |         CASE WHEN da.degree <= db.degree THEN u.b ELSE u.a END AS dst
        |  FROM und u JOIN dg da ON da.v = u.a JOIN dg db ON db.v = u.b
        |), od AS (
        |  SELECT o.src, o.dst, d.degree AS dd
        |  FROM ori o JOIN dg d ON d.v = o.dst
        |), wedge AS (
        |  SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
        |  FROM od e1 JOIN od e2 ON e1.src = e2.src
        |  WHERE e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.dst < e2.dst)
        |), tri AS (
        |  SELECT wg.u, wg.v, wg.w
        |  FROM wedge wg JOIN ori o ON o.src = wg.v AND o.dst = wg.w
        |), pern AS (
        |  SELECT v, count(*) AS triangles FROM (
        |    SELECT u AS v FROM tri
        |    UNION ALL SELECT v FROM tri
        |    UNION ALL SELECT w FROM tri)
        |  GROUP BY 1
        |)
        |SELECT d.v AS vec_id, CAST(d.degree AS BIGINT) AS degree,
        |  CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles,
        |  CAST(CASE WHEN d.degree >= 2
        |    THEN 2000000 * coalesce(p.triangles, 0)
        |      // (d.degree * (d.degree - 1))
        |    ELSE 0 END AS BIGINT) AS lcc_micro
        |FROM dg d LEFT JOIN pern p ON p.v = d.v""".stripMargin,

    "q_kcore" ->
      s"""WITH q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM q
        |), e AS (
        |  SELECT a.vec_id AS src, b.vec_id AS dst
        |  FROM n a JOIN n b ON a.vec_id < b.vec_id
        |  WHERE CAST(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
        |      sqrt(CAST(a.nsq * b.nsq AS DOUBLE)) >= 0.3
        |),
        |${kcoreStepCtes(10, 3)}
        |SELECT e.src AS vec_id, CAST(count(*) AS BIGINT) AS core_degree
        |FROM eu e JOIN s10 x ON e.src = x.id JOIN s10 y ON e.dst = y.id
        |GROUP BY 1""".stripMargin,

    "q_label_prop" -> LabelPropSql,

    "q_coreset" -> CoresetSql,

    "q_source_sim" ->
      """WITH j AS (
        |  SELECT d.source, e.embedding
        |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id
        |), x AS (
        |  SELECT source,
        |    CAST(unnest(range(0, len(embedding))) AS INTEGER) AS dim,
        |    CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS q
        |  FROM j
        |), s AS (
        |  SELECT source, dim, CAST(sum(q) AS BIGINT) AS sq, count(*) AS n
        |  FROM x GROUP BY 1, 2
        |), c AS (
        |  SELECT source, list(sq ORDER BY dim) AS sqs, max(n) AS n
        |  FROM s GROUP BY source
        |), cen AS (
        |  SELECT source,
        |    list_transform(sqs, v -> CAST(v AS DOUBLE) / n) AS cen, n
        |  FROM c
        |), cn AS (
        |  SELECT source, cen, n,
        |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |      list_transform(cen, x -> x * x)), (a, b) -> a + b) AS nsq
        |  FROM cen
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
        |    list_transform(list_zip(a.cen, b.cen), z -> z[1] * z[2])),
        |    (acc, p) -> acc + p) / sqrt(a.nsq * b.nsq) AS cos,
        |  a.n AS n_a, b.n AS n_b
        |FROM cn a JOIN cn b ON a.source < b.source""".stripMargin,

    // Curriculum layout: the pagerank chain verbatim, then the
    // q_shard_assign Weyl bucket and a per-shard centrality-desc
    // position window
    "q_curriculum" ->
      s"""$PageRankCtes,
        |cur AS (
        |  SELECT v AS doc_id, mass AS pr_pico,
        |    CAST((((v % 65536) * 40503) % 65536) % 8 AS INTEGER) AS shard
        |  FROM pr10)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY shard ORDER BY pr_pico DESC, doc_id) AS INTEGER) AS pos,
        |  pr_pico
        |FROM cur""".stripMargin,

    // Threshold sweep: the jaccard pair CTE at the 0.2 floor, theta-
    // joined against the decile table — same IEEE doubles, same
    // comparisons, loud zero rows for empty deciles
    "q_dedup_sweep" ->
      s"""WITH ${gramIndexCtes(langBlocked = true)},
        |${jaccardPairCte("0.2")},
        |th AS (
        |  SELECT CAST(unnest(range(2, 11)) AS INTEGER) AS th_decile
        |), pg AS (
        |  SELECT th_decile, CAST(count(*) AS BIGINT) AS pairs_ge
        |  FROM th JOIN p ON p.jaccard >= CAST(th_decile AS DOUBLE) / 10.0
        |  GROUP BY th_decile
        |), u AS (
        |  SELECT id_a AS id, jaccard FROM p
        |  UNION ALL SELECT id_b AS id, jaccard FROM p
        |), dg AS (
        |  SELECT th_decile, CAST(count(DISTINCT id) AS BIGINT) AS docs_ge
        |  FROM th JOIN u ON u.jaccard >= CAST(th_decile AS DOUBLE) / 10.0
        |  GROUP BY th_decile
        |)
        |SELECT th.th_decile,
        |  coalesce(pg.pairs_ge, 0) AS pairs_ge,
        |  coalesce(dg.docs_ge, 0) AS docs_ge
        |FROM th LEFT JOIN pg USING (th_decile) LEFT JOIN dg USING (th_decile)""".stripMargin,

    // Levenshtein verification tier: the q_ngram_jaccard candidate CTE
    // at the 0.3 floor, text joined back, DuckDB's levenshtein + `//`
    // replaying Spark's banded kernel + `div` bit-for-bit
    "q_editdist_pairs" ->
      s"""WITH ${gramIndexCtes(langBlocked = true)},
        |${jaccardPairCte("0.3")},
        |s AS (
        |  SELECT p.id_a, p.id_b,
        |    CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
        |    CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS maxlen
        |  FROM p
        |  JOIN documents da ON da.doc_id = p.id_a
        |  JOIN documents db ON db.doc_id = p.id_b
        |)
        |SELECT id_a, id_b, lev,
        |  ((maxlen - lev) * 1000000) // maxlen AS sim_micro
        |FROM s WHERE ((maxlen - lev) * 1000000) // maxlen >= 500000""".stripMargin,

    // Ensemble dedup evidence: both exact tiers' SQL verbatim, glued
    // by one FULL OUTER JOIN + CASE — absent metrics become -1
    "q_dedup_ensemble" ->
      s"""WITH ${gramIndexCtes(langBlocked = true)},
        |${jaccardPairCte("0.5")},
        |lex AS (SELECT id_a, id_b, jaccard FROM p),
        |q AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), n AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM q
        |), sem AS (
        |  SELECT id_a, id_b, cos FROM (
        |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |      CAST(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
        |        sqrt(CAST(a.nsq * b.nsq AS DOUBLE)) AS cos
        |    FROM n a JOIN n b ON a.vec_id < b.vec_id)
        |  WHERE cos >= 0.35
        |)
        |SELECT coalesce(lex.id_a, sem.id_a) AS id_a,
        |  coalesce(lex.id_b, sem.id_b) AS id_b,
        |  CASE WHEN lex.id_a IS NOT NULL AND sem.id_a IS NOT NULL THEN 'both'
        |       WHEN lex.id_a IS NOT NULL THEN 'lexical'
        |       ELSE 'semantic' END AS evidence,
        |  coalesce(lex.jaccard, -1.0) AS jaccard,
        |  coalesce(sem.cos, -1.0) AS cos
        |FROM lex FULL OUTER JOIN sem
        |  ON lex.id_a = sem.id_a AND lex.id_b = sem.id_b""".stripMargin,

    // RAG context assembly: chunk replay (q_chunk's windowing at
    // overlap 0) → BM25 over chunks (same interpolated constants) →
    // rank-order running token sum cut at the budget, top chunk
    // always kept
    "q_rag_context" ->
      s"""WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents WHERE text IS NOT NULL
        |), sgen AS (
        |  SELECT doc_id, toks, n,
        |    unnest(range(0, greatest(n, 1), 32)) AS start FROM t
        |), ch AS (
        |  SELECT doc_id, CAST(start // 32 AS INTEGER) AS chunk_idx,
        |    array_to_string(toks[start + 1 : start + 32], ' ') AS chunk_text,
        |    CAST(least(32, n - start) AS BIGINT) AS chunk_tokens,
        |    doc_id * 10000 + (start // 32) AS chunk_uid
        |  FROM sgen
        |), q(qid, term) AS (VALUES ${
        Bm25Queries.flatMap { case (qid, ts) =>
          ts.map(t => s"($qid, '$t')") }.mkString(", ")}),
        |tok AS (SELECT chunk_uid, string_split(chunk_text, ' ') AS toks FROM ch),
        |stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM tok),
        |ex AS (SELECT chunk_uid, len(toks) AS dl, unnest(toks) AS term FROM tok),
        |tf AS (
        |  SELECT q.qid, e.chunk_uid, e.term, count(*) AS tf, max(e.dl) AS dl
        |  FROM ex e JOIN q ON e.term = q.term GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(DISTINCT chunk_uid) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.qid, tf.chunk_uid,
        |    CAST(floor(
        |      (CAST(s.n_docs AS DOUBLE) / CAST(dfq.df AS DOUBLE)) *
        |      (CAST(tf.tf AS DOUBLE) * ${Bm25K1 + 1}) /
        |      (CAST(tf.tf AS DOUBLE) + ${Bm25K1 * (1 - Bm25B)} + ${Bm25K1 * Bm25B} *
        |        (CAST(tf.dl AS DOUBLE) /
        |         (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
        |      * 1000000.0) AS BIGINT) AS c
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats s),
        |agg AS (SELECT qid, chunk_uid, CAST(sum(c) AS BIGINT) AS score_micro
        |        FROM sc GROUP BY 1, 2),
        |rk AS (SELECT qid, chunk_uid, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY score_micro DESC, chunk_uid) AS INTEGER) AS "rank"
        |  FROM agg),
        |topk AS (SELECT * FROM rk WHERE "rank" <= 20),
        |j AS (
        |  SELECT topk.qid, ch.doc_id, ch.chunk_idx, topk."rank", ch.chunk_tokens
        |  FROM topk JOIN ch USING (chunk_uid)),
        |cum AS (
        |  SELECT *, CAST(SUM(chunk_tokens) OVER (
        |    PARTITION BY qid ORDER BY "rank") AS BIGINT) AS cum_tokens
        |  FROM j)
        |SELECT CAST(qid AS INTEGER) AS qid, doc_id, chunk_idx, "rank",
        |  chunk_tokens, cum_tokens
        |FROM cum WHERE cum_tokens <= 128 OR "rank" = 1""".stripMargin,

    // Hybrid RRF: the lexical arm replays the BM25 chain with probe
    // docs' distinct tokens as the query (self excluded BEFORE the
    // rank window), the dense arm replays the quantized-cosine chain,
    // and fusion is pure integer arithmetic: floor(1e9/(60+rank)) per
    // arm — one correctly-rounded divide + floor — summed as BIGINTs.
    "q_hybrid_rrf" ->
      s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |qt AS (SELECT doc_id AS qid, unnest(list_distinct(toks)) AS term
        |       FROM tok WHERE doc_id < 3),
        |stats AS (SELECT count(*) AS n_docs, sum(len(toks)) AS sum_dl FROM tok),
        |ex AS (SELECT doc_id, len(toks) AS dl, unnest(toks) AS term FROM tok),
        |tf AS (
        |  SELECT q.qid, e.doc_id, e.term, count(*) AS tf, max(e.dl) AS dl
        |  FROM ex e JOIN qt q ON e.term = q.term GROUP BY 1, 2, 3),
        |dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
        |sc AS (
        |  SELECT tf.qid, tf.doc_id,
        |    CAST(floor(
        |      (CAST(s.n_docs AS DOUBLE) / CAST(dfq.df AS DOUBLE)) *
        |      (CAST(tf.tf AS DOUBLE) * ${Bm25K1 + 1}) /
        |      (CAST(tf.tf AS DOUBLE) + ${Bm25K1 * (1 - Bm25B)} + ${Bm25K1 * Bm25B} *
        |        (CAST(tf.dl AS DOUBLE) /
        |         (CAST(s.sum_dl AS DOUBLE) / CAST(s.n_docs AS DOUBLE))))
        |      * 1000000.0) AS BIGINT) AS c
        |  FROM tf JOIN dfq USING (term) CROSS JOIN stats s),
        |agg AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS score_micro
        |        FROM sc WHERE doc_id != qid GROUP BY 1, 2),
        |lex AS (SELECT qid, doc_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY score_micro DESC, doc_id) AS r
        |  FROM agg),
        |qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings),
        |nv AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM qv),
        |dp AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS doc_id,
        |    CAST(list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
        |      sqrt(CAST(a.nsq * b.nsq AS DOUBLE)) AS cos
        |  FROM nv a JOIN nv b ON a.vec_id < 3 AND b.vec_id != a.vec_id),
        |den AS (SELECT qid, doc_id, row_number() OVER (
        |    PARTITION BY qid ORDER BY cos DESC, doc_id) AS r
        |  FROM dp),
        |u AS (
        |  SELECT qid, doc_id,
        |    CAST(FLOOR(1000000000.0 / (60.0 + CAST(r AS DOUBLE))) AS BIGINT) AS c
        |  FROM lex WHERE r <= 20
        |  UNION ALL
        |  SELECT qid, doc_id,
        |    CAST(FLOOR(1000000000.0 / (60.0 + CAST(r AS DOUBLE))) AS BIGINT) AS c
        |  FROM den WHERE r <= 20),
        |f AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
        |        count(*) AS n_arms
        |      FROM u GROUP BY 1, 2),
        |fr AS (SELECT *, CAST(row_number() OVER (
        |    PARTITION BY qid ORDER BY rrf_micro DESC, doc_id) AS INTEGER) AS "rank"
        |  FROM f)
        |SELECT qid, doc_id, rrf_micro, n_arms, "rank"
        |FROM fr WHERE "rank" <= 10""".stripMargin,

    "q_segment_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |d AS (SELECT doc_id, toks,
        |        CAST(ceil(len(toks) / 4.0) AS INTEGER) AS nseg FROM t),
        |seg AS (
        |  SELECT doc_id, i,
        |    array_to_string(list_slice(toks, i*4+1, i*4+4), ' ') AS seg_text
        |  FROM d, unnest(range(0, nseg)) AS u(i)
        |),
        |boiler AS (SELECT seg_text FROM seg
        |           GROUP BY 1 HAVING count(DISTINCT doc_id) >= 3),
        |kept AS (SELECT * FROM seg
        |         WHERE seg_text NOT IN (SELECT seg_text FROM boiler)),
        |c AS (SELECT doc_id, string_agg(seg_text, ' ' ORDER BY i) AS clean_text,
        |        count(*) AS nkept FROM kept GROUP BY 1)
        |SELECT d.doc_id, coalesce(c.clean_text, '') AS clean_text,
        |  CAST(d.nseg AS BIGINT) AS n_seg,
        |  CAST(d.nseg - coalesce(c.nkept, 0) AS BIGINT) AS n_dropped
        |FROM d LEFT JOIN c USING (doc_id)""".stripMargin,

    "q_mix_temperature" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), tot AS (
        |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total
        |  FROM t GROUP BY 1
        |), w AS (
        |  SELECT source, total,
        |    CAST(floor(sqrt(CAST(total AS DOUBLE)) * 1000000.0) AS BIGINT) AS wq
        |  FROM tot
        |), ws AS (SELECT CAST(sum(wq) AS BIGINT) AS wsum FROM w),
        |a AS (
        |  SELECT source, total,
        |    least(total, (4000 * wq) // wsum) AS alloc
        |  FROM w CROSS JOIN ws
        |), r AS (
        |  SELECT source, alloc AS alloc_tokens,
        |    least(1.0, CAST(alloc AS DOUBLE) / CAST(total AS DOUBLE)) AS rate
        |  FROM a
        |)
        |SELECT t.source, t.doc_id, t.n_tokens, r.alloc_tokens, r.rate
        |FROM t JOIN r USING (source)
        |WHERE ((t.doc_id % 65536) * 40503) % 65536 < r.rate * 65536""".stripMargin,

    // Collocation replay: the same ±3 window pair explode (DuckDB's
    // 1-based t[i] over correlated unnest ranges ≡ Spark's 0-based
    // transform/sequence), HUGEINT lift ≡ DECIMAL(38,0) integral div.
    "q_collocations" ->
      """WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
        |pos AS (SELECT t, unnest(range(1, len(t) + 1)) AS i FROM toks),
        |pj AS (SELECT t, i,
        |         unnest(range(greatest(1, i - 3), least(len(t), i + 3) + 1)) AS j
        |       FROM pos),
        |pr AS (SELECT t[i] AS w, t[j] AS c FROM pj
        |       WHERE j != i AND t[i] != '' AND t[j] != ''),
        |cnt AS (SELECT w, c, CAST(count(*) AS BIGINT) AS n FROM pr GROUP BY 1, 2),
        |wt AS (SELECT w, CAST(sum(n) AS BIGINT) AS rw FROM cnt GROUP BY 1),
        |ct AS (SELECT c, CAST(sum(n) AS BIGINT) AS rc FROM cnt GROUP BY 1),
        |tt AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM cnt),
        |sc AS (
        |  SELECT cnt.w, cnt.c, cnt.n,
        |    CAST((CAST(cnt.n AS HUGEINT) * nn * 1000000) //
        |      (CAST(rw AS HUGEINT) * rc) AS BIGINT) AS lift_micro
        |  FROM cnt JOIN wt USING (w) JOIN ct USING (c) CROSS JOIN tt
        |  WHERE cnt.n >= 5
        |)
        |SELECT w AS term, c AS context, n, lift_micro,
        |  CAST(row_number() OVER (PARTITION BY w
        |    ORDER BY lift_micro DESC, c) AS INT) AS rank
        |FROM sc QUALIFY rank <= 5""".stripMargin,

    // TextRank replay: the collocations pair CTE (window 2) as the
    // edge table, then the same unrolled exact-integer PageRank chain
    // as q_pagerank
    "q_textrank" ->
      s"""WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
         |pos0 AS (SELECT t, unnest(range(1, len(t) + 1)) AS i FROM toks),
         |pj0 AS (SELECT t, i,
         |         unnest(range(greatest(1, i - 2), least(len(t), i + 2) + 1)) AS j
         |       FROM pos0),
         |wp AS (SELECT t[i] AS w, t[j] AS c FROM pj0
         |       WHERE j != i AND t[i] != '' AND t[j] != ''),
         |cnt AS (SELECT w, c, CAST(count(*) AS BIGINT) AS n FROM wp GROUP BY 1, 2),
         |e AS MATERIALIZED (SELECT w AS src, c AS dst FROM cnt WHERE n >= 5),
         |${pageRankStepCtes(10)}
         |SELECT src AS term, pr_pico, CAST(rnk AS INTEGER) AS "rank" FROM (
         |  SELECT v AS src, mass AS pr_pico,
         |    row_number() OVER (ORDER BY mass DESC, v) AS rnk
         |  FROM pr10)
         |WHERE rnk <= 50""".stripMargin,

    // Lexical diversity replay: same (source, term) collapse; the
    // n(n−1) repeat mass goes through HUGEINT ≡ Spark DECIMAL(38,0),
    // all shares are integral micro-unit divs.
    "q_lexical_diversity" ->
      """WITH st AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL
        |), f AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS n
        |  FROM st WHERE term != '' GROUP BY 1, 2
        |)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
        |  CAST(count(*) AS BIGINT) AS n_types,
        |  (CAST(count(*) AS BIGINT) * 1000000) // CAST(sum(n) AS BIGINT)
        |    AS ttr_micro,
        |  CAST((sum(CAST(n AS HUGEINT) * (n - 1)) * 1000000) //
        |    nullif(CAST(sum(n) AS HUGEINT) * (CAST(sum(n) AS BIGINT) - 1), 0)
        |    AS BIGINT) AS simpson_micro,
        |  (CAST(max(n) AS BIGINT) * 1000000) // CAST(sum(n) AS BIGINT)
        |    AS top_share_micro
        |FROM f GROUP BY 1""".stripMargin,

    // Aho–Corasick tagging replay: same top-10 unigram/bigram dict
    // derivation (QUALIFY rank ≡ TakeOrdered + row_number, identical
    // (count desc, phrase asc) tie-break), then brute-force position
    // counting — every start position whose token slice equals the
    // phrase, which is exactly the automaton's every-end-position
    // overlapping-count semantics.
    "q_dict_tags" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), uc AS (SELECT unnest(t) AS p FROM toks),
        |ug AS (SELECT p, count(*) AS c FROM uc GROUP BY 1),
        |ur AS (SELECT p, CAST(row_number() OVER (ORDER BY c DESC, p) AS BIGINT)
        |         AS tag_id
        |       FROM ug QUALIFY tag_id <= 10),
        |bc AS (SELECT unnest(CASE WHEN len(t) >= 2
        |         THEN list_transform(range(2, len(t) + 1),
        |                i -> t[i-1] || ' ' || t[i])
        |         ELSE [] END) AS p FROM toks),
        |bg AS (SELECT p, count(*) AS c FROM bc GROUP BY 1),
        |br AS (SELECT p,
        |         CAST(10 + row_number() OVER (ORDER BY c DESC, p) AS BIGINT)
        |         AS tag_id
        |       FROM bg QUALIFY tag_id <= 20),
        |dict AS (SELECT p, tag_id,
        |           CAST(len(string_split(p, ' ')) AS BIGINT) AS lp
        |         FROM (SELECT * FROM ur UNION ALL SELECT * FROM br)),
        |hits AS (
        |  SELECT tk.doc_id, d.tag_id,
        |    CAST(len(list_filter(
        |      range(1, CAST(len(tk.t) AS BIGINT) - d.lp + 2),
        |      i -> array_to_string(list_slice(tk.t, i, i + d.lp - 1), ' ') = d.p))
        |      AS BIGINT) AS n_hits
        |  FROM toks tk CROSS JOIN dict d
        |)
        |SELECT doc_id, tag_id, n_hits FROM hits WHERE n_hits > 0""".stripMargin,

    // UniMax waterfill replay: same ascending-(cap, source) window,
    // the same division-form funded test (nonneg numerator ⇒ DuckDB
    // floor `//` ≡ Spark trunc `div`), integer remainder split, and
    // the integer fractional-epoch Weyl threshold.
    "q_mix_unimax" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |), tot AS (
        |  SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total
        |  FROM t GROUP BY 1
        |), c AS (
        |  SELECT source, total, total * 2 AS cap FROM tot
        |), o AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY cap, source) AS BIGINT) AS rk,
        |    CAST(count(*) OVER () AS BIGINT) AS n,
        |    sum(cap) OVER (ORDER BY cap, source ROWS UNBOUNDED PRECEDING) AS pref
        |  FROM c
        |), f AS (
        |  SELECT *, (6000 - (pref - cap)) >= 0 AND
        |            cap <= (6000 - (pref - cap)) // (n - rk + 1) AS funded
        |  FROM o
        |), g AS (
        |  SELECT coalesce(sum(CASE WHEN funded THEN cap END), 0) AS pfund,
        |         coalesce(sum(CASE WHEN funded THEN 1 ELSE 0 END), 0) AS nf,
        |         CAST(count(*) AS BIGINT) AS n2
        |  FROM f
        |), a AS (
        |  SELECT f.source, f.total,
        |    CASE WHEN f.funded THEN f.cap
        |         ELSE (6000 - g.pfund) // (g.n2 - g.nf) END AS alloc
        |  FROM f CROSS JOIN g
        |)
        |SELECT t.source, t.doc_id, t.n_tokens,
        |  CAST(a.alloc AS BIGINT) AS alloc_tokens,
        |  CAST(a.alloc // a.total +
        |    (CASE WHEN ((t.doc_id % 65536) * 40503) % 65536 <
        |      ((a.alloc % a.total) * 65536) // a.total THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_copies
        |FROM t JOIN a USING (source)
        |WHERE CAST(a.alloc // a.total +
        |    (CASE WHEN ((t.doc_id % 65536) * 40503) % 65536 <
        |      ((a.alloc % a.total) * 65536) // a.total THEN 1 ELSE 0 END)
        |    AS BIGINT) > 0""".stripMargin,

    "q_layout_funnel" ->
      (LayoutSpanPrefixSql +
      """|sg AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(toks) / 2.0) AS INTEGER)),
        |      i -> array_to_string(list_slice(toks, i*2+1, i*2+2), ' ')) AS segs
        |  FROM t0
        |),
        |cln AS (
        |  SELECT doc_id, array_to_string(list_filter(segs,
        |    (seg, i) -> list_position(segs, seg) = i), ' ') AS text
        |  FROM sg
        |),
        |d AS (SELECT c.doc_id, d0.source, c.text
        |      FROM cln c JOIN documents d0 USING (doc_id)),
        |t AS (SELECT source, doc_id, text,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM d),
        |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total
        |        FROM t GROUP BY 1),
        |w AS (SELECT source, total,
        |        CAST(floor(sqrt(CAST(total AS DOUBLE)) * 1000000.0) AS BIGINT) AS wq
        |      FROM tot),
        |ws AS (SELECT CAST(sum(wq) AS BIGINT) AS wsum FROM w),
        |a AS (SELECT source, total, least(total, (20000 * wq) // wsum) AS alloc
        |      FROM w CROSS JOIN ws),
        |r AS (SELECT source,
        |        least(1.0, CAST(alloc AS DOUBLE) / CAST(total AS DOUBLE)) AS rate
        |      FROM a),
        |kept AS (
        |  SELECT t.doc_id, t.text, t.n_tokens FROM t JOIN r USING (source)
        |  WHERE ((t.doc_id % 65536) * 40503) % 65536 < r.rate * 65536
        |)
        |SELECT 'raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |FROM documents
        |UNION ALL
        |SELECT 'span', CAST(count(*) AS BIGINT),
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) FROM sp_clean
        |UNION ALL
        |SELECT 'intradoc', CAST(count(*) AS BIGINT),
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) FROM cln
        |UNION ALL
        |SELECT 'mix', CAST(count(*) AS BIGINT),
        |  CAST(sum(n_tokens) AS BIGINT) FROM kept
        |UNION ALL
        |SELECT 'pack', CAST(count(*) AS BIGINT),
        |  CAST(sum(n_tokens) AS BIGINT) FROM kept""".stripMargin),

    // The layout layer's end-to-end chain, replayed stage by stage:
    // cross-doc span removal (r9) → intra-doc keep-first → temperature
    // mix on the CLEANED text → Weyl shards → block spans. Same CTEs
    // as the stage oracles.
    "q_training_layout" ->
      (LayoutSpanPrefixSql +
      """|sg AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(toks) / 2.0) AS INTEGER)),
        |      i -> array_to_string(list_slice(toks, i*2+1, i*2+2), ' ')) AS segs
        |  FROM t0
        |),
        |cln AS (
        |  SELECT doc_id, array_to_string(list_filter(segs,
        |    (seg, i) -> list_position(segs, seg) = i), ' ') AS text
        |  FROM sg
        |),
        |d AS (SELECT c.doc_id, d0.source, c.text
        |      FROM cln c JOIN documents d0 USING (doc_id)),
        |t AS (SELECT source, doc_id, text,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |      FROM d),
        |tot AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS total
        |        FROM t GROUP BY 1),
        |w AS (SELECT source, total,
        |        CAST(floor(sqrt(CAST(total AS DOUBLE)) * 1000000.0) AS BIGINT) AS wq
        |      FROM tot),
        |ws AS (SELECT CAST(sum(wq) AS BIGINT) AS wsum FROM w),
        |a AS (SELECT source, total, least(total, (20000 * wq) // wsum) AS alloc
        |      FROM w CROSS JOIN ws),
        |r AS (SELECT source,
        |        least(1.0, CAST(alloc AS DOUBLE) / CAST(total AS DOUBLE)) AS rate
        |      FROM a),
        |kept AS (
        |  SELECT t.doc_id, t.text FROM t JOIN r USING (source)
        |  WHERE ((t.doc_id % 65536) * 40503) % 65536 < r.rate * 65536
        |),
        |b AS (SELECT doc_id, ((doc_id % 65536) * 40503) % 65536 AS bucket,
        |        CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |      FROM kept),
        |s AS (SELECT doc_id, bucket, n, CAST(bucket % 4 AS INTEGER) AS shard FROM b),
        |o AS (SELECT doc_id, shard, n,
        |        CAST(coalesce(sum(n + 1) OVER (
        |          PARTITION BY shard ORDER BY bucket, doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |      FROM s),
        |e AS (SELECT doc_id, shard, n, off,
        |        CAST(unnest(range(off // 256, (off + n - 1) // 256 + 1)) AS BIGINT) AS block
        |      FROM o)
        |SELECT doc_id, shard, block,
        |  greatest(block * 256, off) - off AS start_in_doc,
        |  greatest(block * 256, off) - block * 256 AS start_in_block,
        |  least((block + 1) * 256, off + n) - greatest(block * 256, off) AS len
        |FROM e""".stripMargin),

    "q_intradoc_dedup" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id,
        |    list_transform(range(0, CAST(ceil(len(toks) / 2.0) AS INTEGER)),
        |      i -> array_to_string(list_slice(toks, i*2+1, i*2+2), ' ')) AS segs
        |  FROM t
        |)
        |SELECT doc_id,
        |  array_to_string(list_filter(segs,
        |    (seg, i) -> list_position(segs, seg) = i), ' ') AS clean_text,
        |  CAST(len(segs) AS BIGINT) AS n_seg,
        |  CAST(len(segs) - len(list_filter(segs,
        |    (seg, i) -> list_position(segs, seg) = i)) AS BIGINT) AS n_dropped
        |FROM s""".stripMargin,

    "q_pack_blocks" ->
      """WITH b AS (
        |  SELECT doc_id, ((doc_id % 65536) * 40503) % 65536 AS bucket,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, bucket, n, CAST(bucket % 8 AS INTEGER) AS shard FROM b
        |), o AS (
        |  SELECT doc_id, shard, n,
        |    CAST(coalesce(sum(n + 1) OVER (
        |      PARTITION BY shard ORDER BY bucket, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
        |  FROM s
        |), e AS (
        |  SELECT doc_id, shard, n, off,
        |    CAST(unnest(range(off // 128, (off + n - 1) // 128 + 1)) AS BIGINT) AS block
        |  FROM o
        |)
        |SELECT doc_id, shard, block,
        |  greatest(block * 128, off) - off AS start_in_doc,
        |  greatest(block * 128, off) - block * 128 AS start_in_block,
        |  least((block + 1) * 128, off + n) - greatest(block * 128, off) AS len
        |FROM e""".stripMargin,

    "q_shard_assign" ->
      """WITH b AS (
        |  SELECT doc_id, ((doc_id % 65536) * 40503) % 65536 AS bucket
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, CAST(bucket % 8 AS INTEGER) AS shard, bucket FROM b
        |)
        |SELECT doc_id, shard,
        |  CAST(row_number() OVER (
        |    PARTITION BY shard ORDER BY bucket, doc_id) AS INTEGER) AS pos
        |FROM s""".stripMargin,

    "q_snapshot_diff" ->
      """WITH o AS (SELECT doc_id, text FROM documents WHERE doc_id % 7 != 3),
        |n AS (SELECT doc_id,
        |        CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
        |      FROM documents WHERE doc_id % 5 != 4)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |  CASE WHEN o.doc_id IS NULL THEN 'added'
        |       WHEN n.doc_id IS NULL THEN 'removed'
        |       WHEN o.text != n.text THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  CAST(coalesce(strlen(o.text), -1) AS BIGINT) AS bytes_old,
        |  CAST(coalesce(strlen(n.text), -1) AS BIGINT) AS bytes_new
        |FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""".stripMargin,

    // q_snapshot_diff's old/new slices, aggregated to per-source token
    // mass; integer micro-unit shares (DuckDB // ≡ Spark div on
    // Embedding drift: parallel unnest(range)/unnest(list) replays the
    // posexplode; integer centroid sums, one double division at the end
    "q_embed_drift" ->
      """WITH q AS (
        |  SELECT CASE WHEN vec_id % 2 = 0 THEN 0 ELSE 1 END AS side, label,
        |    CAST(unnest(range(0, len(v))) AS INTEGER) AS dim, unnest(v) AS qv
        |  FROM (SELECT vec_id, label, list_transform(embedding, x ->
        |        CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |        FROM embeddings)
        |), ds AS (
        |  SELECT side, label, dim, CAST(sum(qv) AS BIGINT) AS sq,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM q GROUP BY 1, 2, 3
        |), j AS (
        |  SELECT coalesce(o.label, nw.label) AS label,
        |    coalesce(o.sq, 0) AS so, coalesce(nw.sq, 0) AS sn,
        |    coalesce(o.n, 0) AS no, coalesce(nw.n, 0) AS nn
        |  FROM (SELECT * FROM ds WHERE side = 0) o
        |  FULL OUTER JOIN (SELECT * FROM ds WHERE side = 1) nw
        |    ON o.label = nw.label AND o.dim = nw.dim
        |), a AS (
        |  SELECT label, CAST(max(no) AS BIGINT) AS n_old,
        |    CAST(max(nn) AS BIGINT) AS n_new,
        |    CAST(sum(so * sn) AS BIGINT) AS dot,
        |    CAST(sum(so * so) AS BIGINT) AS o2,
        |    CAST(sum(sn * sn) AS BIGINT) AS n2
        |  FROM j GROUP BY 1
        |)
        |SELECT label, n_old, n_new,
        |  CASE WHEN o2 > 0 AND n2 > 0 THEN
        |    CAST(floor(CAST(dot AS DOUBLE) /
        |      (sqrt(CAST(o2 AS DOUBLE)) * sqrt(CAST(n2 AS DOUBLE)))
        |      * 1000000) AS BIGINT)
        |  ELSE CAST(-2000000 AS BIGINT) END AS centroid_cos_micro
        |FROM a""".stripMargin,

    // positive operands; sums wrapped in CAST — DuckDB sum(BIGINT) is
    // HUGEINT), TV distance = halved integer sum over all sources
    "q_snapshot_drift" ->
      """WITH o AS (
        |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS toks_old
        |  FROM documents WHERE doc_id % 7 != 3 GROUP BY 1
        |), n AS (
        |  SELECT source, CAST(sum(len(string_split(
        |      CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END,
        |      ' '))) AS BIGINT) AS toks_new
        |  FROM documents WHERE doc_id % 5 != 4 GROUP BY 1
        |), j AS (
        |  SELECT coalesce(o.source, n.source) AS source,
        |    coalesce(toks_old, 0) AS toks_old,
        |    coalesce(toks_new, 0) AS toks_new
        |  FROM o FULL OUTER JOIN n ON o.source = n.source
        |), s AS (
        |  SELECT source, toks_old, toks_new,
        |    toks_old * 1000000 // CAST((SELECT sum(toks_old) FROM j) AS BIGINT)
        |      AS share_old_micro,
        |    toks_new * 1000000 // CAST((SELECT sum(toks_new) FROM j) AS BIGINT)
        |      AS share_new_micro
        |  FROM j
        |)
        |SELECT source, toks_old, toks_new,
        |  CAST(share_old_micro AS BIGINT) AS share_old_micro,
        |  CAST(share_new_micro AS BIGINT) AS share_new_micro,
        |  CAST(share_new_micro - share_old_micro AS BIGINT) AS delta_micro,
        |  CAST(CAST(sum(abs(share_new_micro - share_old_micro)) OVER ()
        |    AS BIGINT) // 2 AS BIGINT) AS tv_micro
        |FROM s""".stripMargin,

    "q_source_overlap" ->
      """WITH t AS (SELECT source, string_split(text, ' ') AS toks FROM documents),
        |d AS (SELECT source, toks,
        |        CAST(ceil(len(toks) / 4.0) AS INTEGER) AS nseg FROM t),
        |seg AS (
        |  SELECT DISTINCT source,
        |    array_to_string(list_slice(toks, i*4+1, i*4+4), ' ') AS seg_text
        |  FROM d, unnest(range(0, nseg)) AS u(i)
        |)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM seg a JOIN seg b
        |  ON a.seg_text = b.seg_text AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,

    "q_shard_plan" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(strlen(text)) AS BIGINT) AS total_bytes,
        |  CAST(greatest(1,
        |    (CAST(sum(strlen(text)) AS BIGINT) + 65535) // 65536)
        |    AS INTEGER) AS n_shards
        |FROM documents GROUP BY source""".stripMargin,

    // Sorted dynamic batching: per-bucket longest-first row_number cut
    // into batches of 8; all columns exact BIGINTs
    "q_length_batching" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN text IS NULL THEN 0
        |         ELSE len(string_split(text, ' ')) END AS BIGINT) AS n_tokens
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, n_tokens, n_tokens // 64 AS bucket,
        |    row_number() OVER (PARTITION BY n_tokens // 64
        |      ORDER BY n_tokens DESC, doc_id) AS rn
        |  FROM t
        |)
        |SELECT bucket, (rn - 1) // 8 AS batch,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  max(n_tokens) AS max_tokens,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(count(*) * max(n_tokens) AS BIGINT) AS padded_tokens,
        |  CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
        |    AS waste_tokens
        |FROM r GROUP BY 1, 2""".stripMargin,

    // Length histogram: bucket = length of the minimal binary string
    // (bin() identical in both engines), shares by integer division
    // against the per-source window total
    "q_length_hist" ->
      """WITH d AS (
        |  SELECT source,
        |    CASE WHEN text IS NULL THEN 0
        |         ELSE len(string_split(text, ' ')) END AS n
        |  FROM documents
        |), b AS (
        |  SELECT source,
        |    CAST(CASE WHEN n <= 0 THEN 0 ELSE length(bin(n)) END AS INTEGER) AS bucket,
        |    n
        |  FROM d
        |), h AS (
        |  SELECT source, bucket,
        |    CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n) AS BIGINT) AS tok_sum
        |  FROM b GROUP BY source, bucket
        |)
        |SELECT source, bucket,
        |  CAST(CASE WHEN bucket = 0 THEN 0
        |       ELSE (CAST(1 AS BIGINT) << (bucket - 1)) END AS BIGINT) AS lo,
        |  CAST(CASE WHEN bucket = 0 THEN 0
        |       ELSE (CAST(1 AS BIGINT) << bucket) - 1 END AS BIGINT) AS hi,
        |  n_docs, tok_sum,
        |  (n_docs * 1000000) //
        |    CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS share_micro
        |FROM h""".stripMargin,

    // Release manifest: the q_shard_assign Weyl bucket + per-doc
    // md5 hex fold (ascii(h[i])·i², positions 1..32) summed as exact
    // BIGINTs — order-free, so DuckDB's scan order is irrelevant
    "q_release_manifest" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    CAST((((doc_id % 65536) * 40503) % 65536) % 8 AS INTEGER) AS shard,
        |    md5(concat(CAST(doc_id AS VARCHAR), '|', text)) AS h
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, text, shard,
        |    CAST(list_sum(list_transform(range(1, 33),
        |      i -> ascii(substr(h, CAST(i AS INTEGER), 1)) * i * i)) AS BIGINT) AS dig
        |  FROM s
        |)
        |SELECT shard,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        |  min(doc_id) AS id_min,
        |  max(doc_id) AS id_max,
        |  CAST(sum(dig) AS BIGINT) AS checksum
        |FROM d GROUP BY shard""".stripMargin,

    // PPS-systematic sample: running token sums through the Weyl-hash
    // order, boundary hits by integer floors (all operands
    // non-negative, so DuckDB's floor // ≡ Spark's truncating div),
    // HT weights in HUGEINT ≡ Spark DECIMAL(38,0)
    "q_pps_sample" ->
      """WITH base AS (
        |  SELECT source, doc_id,
        |    ((doc_id % 65536) * 40503) % 65536 AS bucket,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents
        |), nz AS (
        |  SELECT * FROM base WHERE nt > 0
        |), cum AS (
        |  SELECT source, doc_id, nt,
        |    CAST(sum(nt) OVER (PARTITION BY source ORDER BY bucket, doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c
        |  FROM nz
        |), tot AS (
        |  SELECT source, CAST(sum(nt) AS BIGINT) AS t,
        |    CAST(sum(nt) AS BIGINT) // 20 AS stride
        |  FROM nz GROUP BY 1
        |), h AS (
        |  SELECT cum.source, cum.doc_id, cum.nt, tot.t,
        |    least((cum.c - 1) // tot.stride, 19) AS bhi,
        |    CASE WHEN cum.c = cum.nt THEN -1
        |         ELSE least((cum.c - cum.nt - 1) // tot.stride, 19) END AS blo
        |  FROM cum JOIN tot USING (source)
        |)
        |SELECT source, doc_id, nt AS n_tokens,
        |  bhi - blo AS n_hits,
        |  CAST((CAST(bhi - blo AS HUGEINT) * t * 1000000) //
        |    (CAST(nt AS HUGEINT) * 20) AS BIGINT) AS weight_micro
        |FROM h WHERE bhi - blo > 0""".stripMargin,

    // Manifest diff: both ledgers replayed from the q_release_manifest
    // CTE, full-outer on shard, whole-row change comparison
    "q_manifest_diff" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    CAST((((doc_id % 65536) * 40503) % 65536) % 8 AS INTEGER) AS shard,
        |    md5(concat(CAST(doc_id AS VARCHAR), '|', text)) AS h
        |  FROM documents
        |), d AS (
        |  SELECT doc_id, text, shard,
        |    CAST(list_sum(list_transform(range(1, 33),
        |      i -> ascii(substr(h, CAST(i AS INTEGER), 1)) * i * i)) AS BIGINT) AS dig
        |  FROM s
        |), m_old AS (
        |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        |    min(doc_id) AS id_min, max(doc_id) AS id_max,
        |    CAST(sum(dig) AS BIGINT) AS checksum
        |  FROM d WHERE doc_id % 50 != 0 GROUP BY shard
        |), m_new AS (
        |  SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(strlen(text)) AS BIGINT) AS n_bytes,
        |    min(doc_id) AS id_min, max(doc_id) AS id_max,
        |    CAST(sum(dig) AS BIGINT) AS checksum
        |  FROM d GROUP BY shard
        |)
        |SELECT coalesce(o.shard, n.shard) AS shard,
        |  CASE WHEN o.checksum IS NULL THEN 'added'
        |       WHEN n.checksum IS NULL THEN 'removed'
        |       WHEN o.n_docs != n.n_docs OR o.n_bytes != n.n_bytes
        |         OR o.id_min != n.id_min OR o.id_max != n.id_max
        |         OR o.checksum != n.checksum THEN 'changed'
        |       ELSE 'unchanged' END AS status,
        |  coalesce(o.n_docs, -1) AS n_docs_old,
        |  coalesce(n.n_docs, -1) AS n_docs_new,
        |  coalesce(o.n_bytes, -1) AS n_bytes_old,
        |  coalesce(n.n_bytes, -1) AS n_bytes_new
        |FROM m_old o FULL OUTER JOIN m_new n ON o.shard = n.shard""".stripMargin,

    "q_epoch_order" ->
      """WITH w AS (
        |  SELECT doc_id, ((doc_id % 65536) * 40503) % 65536 AS bucket
        |  FROM documents
        |), s AS (
        |  SELECT doc_id, CAST(bucket % 8 AS INTEGER) AS shard, bucket FROM w
        |), p AS (
        |  SELECT doc_id, shard,
        |    CAST(row_number() OVER (
        |      PARTITION BY shard ORDER BY bucket, doc_id) AS INTEGER) AS pos
        |  FROM s
        |), cnt AS (
        |  SELECT shard, count(*) AS n FROM p GROUP BY 1
        |), params AS (
        |  SELECT CAST(e.epoch AS INTEGER) AS epoch, c.shard, c.n,
        |    list_filter(range(
        |        (40503 * e.epoch + 2654435761 * c.shard + 42) % 997 + 2,
        |        (40503 * e.epoch + 2654435761 * c.shard + 42) % 997 + 1002),
        |      a -> gcd(a, c.n) = 1)[1] AS stride,
        |    (42 * 31 + e.epoch * 17 + c.shard * 101) % c.n AS off
        |  FROM (SELECT unnest([1, 2]) AS epoch) e, cnt c
        |)
        |SELECT pr.epoch, p.doc_id, p.shard,
        |  CAST(((pr.stride * (p.pos - 1) + pr.off) % pr.n) + 1 AS INTEGER) AS pos
        |FROM p JOIN params pr USING (shard)""".stripMargin,

    "q_mix_budget" ->
      """WITH t AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents
        |), tot AS (
        |  SELECT source, CAST(sum(nt) AS BIGINT) AS total FROM t GROUP BY 1
        |), r AS (
        |  SELECT source, total,
        |    least(1.0, 2000.0 / CAST(total AS DOUBLE)) AS rate
        |  FROM tot
        |)
        |, picked AS (
        |  SELECT t.source, count(*) AS ns, CAST(sum(t.nt) AS BIGINT) AS st
        |  FROM t JOIN r USING (source)
        |  WHERE ((t.doc_id % 65536) * 40503) % 65536 < r.rate * 65536
        |  GROUP BY 1
        |)
        |SELECT r.source, CAST(COALESCE(picked.ns, 0) AS BIGINT) AS n_sampled,
        |  CAST(COALESCE(picked.st, 0) AS BIGINT) AS sampled_tokens,
        |  CAST(r.total AS BIGINT) AS corpus_tokens
        |FROM r LEFT JOIN picked USING (source)""".stripMargin,

    "q_sample_k_per_key" ->
      """SELECT lang, doc_id, CAST(rk AS INTEGER) AS pick_rank FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY ((doc_id % 65536) * 40503) % 65536, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20""".stripMargin,

    // the full composition replayed: the q_neyman allocation CTEs
    // feed the Gumbel rank join — rank <= alloc per stratum
    "q_label_budget_draw" ->
      """WITH b AS (
        |  SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS v
        |  FROM events WHERE value IS NOT NULL
        |), st AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    sum(CAST(v AS HUGEINT)) AS s, sum(CAST(v AS HUGEINT) * v) AS q
        |  FROM b GROUP BY 1
        |), w AS (
        |  SELECT event_type, n,
        |    CAST(floor(1000000.0 * sqrt(CAST(n * q - s * s AS DOUBLE)))
        |      AS BIGINT) AS w_micro
        |  FROM st
        |), t AS (SELECT *, sum(w_micro) OVER () AS wsum FROM w
        |), a AS (
        |  SELECT *,
        |    CASE WHEN wsum = 0 THEN NULL ELSE
        |      CAST((CAST(1000 AS HUGEINT) * w_micro) // wsum AS BIGINT)
        |    END AS base,
        |    CASE WHEN wsum = 0 THEN NULL ELSE
        |      CAST((CAST(1000 AS HUGEINT) * w_micro) % wsum AS BIGINT)
        |    END AS rem
        |  FROM t
        |), l AS (
        |  SELECT *, 1000 - sum(base) OVER () AS leftover,
        |    CAST(row_number() OVER (ORDER BY rem DESC, event_type)
        |      AS BIGINT) AS rk
        |  FROM a
        |), al AS (
        |  SELECT event_type,
        |    CASE WHEN base IS NULL THEN NULL ELSE
        |      least(base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END, n)
        |    END AS alloc
        |  FROM l
        |), keyed AS (
        |  SELECT event_type, event_id,
        |    CAST(floor((ln(CAST(1 + abs(CAST(floor(value * 1000) AS BIGINT))
        |        AS DOUBLE)) -
        |      ln(-ln((((event_id % 65536) * 40503) % 65536 + 1) / 65537.0)))
        |      * 1000000.0) AS BIGINT) AS gumbel_micro
        |  FROM events WHERE value IS NOT NULL
        |), rk2 AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY gumbel_micro DESC, event_id) AS r
        |  FROM keyed
        |)
        |SELECT k.event_type, k.event_id, k.gumbel_micro,
        |  CAST(k.r AS INTEGER) AS sample_rank, al.alloc
        |FROM rk2 k JOIN al USING (event_type)
        |WHERE k.r <= al.alloc""".stripMargin,

    // the Gumbel-max draw replayed term-for-term: same Weyl u, same
    // IEEE-double ln chain, same micro floor, same (key desc, id) rank
    "q_sample_gumbel" ->
      """SELECT source, doc_id, gumbel_micro,
        |  CAST(rk AS INTEGER) AS sample_rank FROM (
        |  SELECT source, doc_id, gumbel_micro,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY gumbel_micro DESC, doc_id) AS rk
        |  FROM (
        |    SELECT source, doc_id,
        |      CAST(floor((ln(CAST(n_chars AS DOUBLE)) -
        |        ln(-ln((((doc_id % 65536) * 40503) % 65536 + 1) / 65537.0)))
        |        * 1000000.0) AS BIGINT) AS gumbel_micro
        |    FROM documents))
        |WHERE rk <= 25""".stripMargin,

    "q_embed_quantize" ->
      """SELECT vec_id, scale, CAST(pos AS INTEGER) AS pos, q FROM (
        |  SELECT vec_id, scale,
        |    unnest(range(0, len(v))) AS pos,
        |    unnest(list_transform(v, x -> CASE WHEN scale = 0 THEN 0
        |      ELSE CAST(floor(x / scale) AS BIGINT) END)) AS q
        |  FROM (
        |    SELECT vec_id, v,
        |      list_max(list_transform(v, x -> abs(x))) / 127 AS scale
        |    FROM (SELECT vec_id,
        |            list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |          FROM embeddings)))""".stripMargin,

    // the whole prep chain replayed: q_curation's quality/dedup CTEs
    // (exact pairs — the Spark side's LSH arm is fixture-equal),
    // q_chunk's window starts, q_pack_greedy's recursive accumulator
    "q_prep_pipeline" ->
      s"""WITH RECURSIVE t AS (SELECT doc_id, lang, source, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, lang, source,
        |    CAST(len(toks) AS INTEGER) AS n_tokens,
        |    CAST(len(list_distinct(toks)) AS INTEGER) AS n_uniq,
        |    CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'is', 'to'))) AS INTEGER) AS n_stop
        |  FROM t
        |), q AS (
        |  SELECT *,
        |    CAST(least(n_tokens, 60) AS DOUBLE) / 60.0 * 0.5 +
        |      CAST(n_uniq AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.3 +
        |      CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE) * 0.2 AS quality
        |  FROM s
        |), passed AS (
        |  SELECT * FROM q WHERE quality >= 0.55 AND n_tokens >= 20
        |), g AS (
        |  SELECT t.doc_id, t.lang,
        |    list_distinct(CASE WHEN len(t.toks) >= 2
        |      THEN list_transform(range(1, len(t.toks)), i -> t.toks[i] || ' ' || t.toks[i+1])
        |      ELSE [] END) AS grams
        |  FROM t JOIN passed USING (doc_id)
        |), $CurationDupCtes, clean AS (
        |  SELECT p.doc_id, p.source, t.toks,
        |    CAST(len(t.toks) AS BIGINT) AS nt
        |  FROM passed p JOIN t USING (doc_id)
        |  WHERE p.doc_id NOT IN (SELECT doc_id FROM dup)
        |), chunks AS (
        |  SELECT source, doc_id * 1000 + start // 24 AS cid,
        |    least(32, nt - start) AS n
        |  FROM (SELECT doc_id, source, nt,
        |          unnest(range(0, greatest(nt - 8, 1), 24)) AS start
        |        FROM clean)
        |), ord AS (
        |  SELECT source AS shard, cid, n,
        |    row_number() OVER (PARTITION BY source ORDER BY cid) AS rn
        |  FROM chunks
        |), rec AS (
        |  SELECT shard, cid, rn, n, n AS acc, CAST(1 AS BIGINT) AS pack_id
        |  FROM ord WHERE rn = 1
        |  UNION ALL
        |  SELECT o.shard, o.cid, o.rn, o.n,
        |    CASE WHEN r.acc + o.n > 128 THEN o.n ELSE r.acc + o.n END AS acc,
        |    CASE WHEN r.acc + o.n > 128 THEN r.pack_id + 1 ELSE r.pack_id END AS pack_id
        |  FROM rec r JOIN ord o ON o.shard = r.shard AND o.rn = r.rn + 1
        |)
        |SELECT shard, pack_id, count(*) AS n_docs,
        |  CAST(sum(n) AS BIGINT) AS pack_tokens,
        |  CAST(min(cid) AS BIGINT) AS first_doc,
        |  CAST(max(cid) AS BIGINT) AS last_doc
        |FROM rec GROUP BY 1, 2""".stripMargin,

    // reachability fixpoint (UNION-distinct recursion) over the same
    // unblocked pair SQL as q_minhash_lsh; cluster = min reachable id
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $DedupReachCtes
        |SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY node""".stripMargin,

    // the incremental arm is BIT-EQUAL to from-scratch clustering by
    // the star-collapse argument, so it carries the same full-corpus
    // reachability oracle verbatim
    "q_dedup_clusters_incremental" ->
      s"""WITH RECURSIVE $DedupReachCtes
        |SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY node""".stripMargin,

    // q_dedup_clusters' reachability CTE + singleton fill via LEFT
    // join + exact integer micro-unit weights (DuckDB // ≡ Spark div
    // on positive BIGINTs); remainder to the min-id member so each
    // cluster sums to exactly 1e6
    "q_soft_dedup" ->
      s"""WITH RECURSIVE $DedupReachCtes, cc AS (
        |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
        |), lab AS (
        |  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
        |), sz AS (
        |  SELECT cluster_id, count(*) AS cluster_size, min(doc_id) AS minid
        |  FROM lab GROUP BY 1
        |)
        |SELECT l.doc_id, CAST(l.cluster_id AS BIGINT) AS cluster_id,
        |  CAST(s.cluster_size AS BIGINT) AS cluster_size,
        |  CAST(1000000 // s.cluster_size + CASE WHEN l.doc_id = s.minid
        |    THEN 1000000 - s.cluster_size * (1000000 // s.cluster_size)
        |    ELSE 0 END AS BIGINT) AS weight_micro
        |FROM lab l JOIN sz s USING (cluster_id)""".stripMargin,

    // q_soft_dedup's weight chain as a CTE, composed into the
    // per-source effective-mass aggregation (floor-scaled integer
    // products; // ≡ div on positive operands)
    "q_weighted_mix" ->
      s"""WITH RECURSIVE $DedupReachCtes, cc AS (
        |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
        |), lab AS (
        |  SELECT d.doc_id, COALESCE(cc.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cc ON cc.doc_id = d.doc_id
        |), sz AS (
        |  SELECT cluster_id, count(*) AS cluster_size, min(doc_id) AS minid
        |  FROM lab GROUP BY 1
        |), wtab AS (
        |  SELECT l.doc_id,
        |    CAST(1000000 // s.cluster_size + CASE WHEN l.doc_id = s.minid
        |      THEN 1000000 - s.cluster_size * (1000000 // s.cluster_size)
        |      ELSE 0 END AS BIGINT) AS weight_micro
        |  FROM lab l JOIN sz s USING (cluster_id)
        |), nt AS (
        |  SELECT d.doc_id, d.source,
        |    CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ntok
        |  FROM documents d
        |), eff AS (
        |  SELECT nt.source, nt.ntok,
        |    (nt.ntok * w.weight_micro) // 1000000 AS e
        |  FROM nt JOIN wtab w ON w.doc_id = nt.doc_id
        |), ps AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS raw_tokens,
        |    CAST(sum(e) AS BIGINT) AS eff_tokens
        |  FROM eff GROUP BY 1
        |)
        |SELECT source, n_docs, raw_tokens, eff_tokens,
        |  CAST(eff_tokens * 1000000
        |    // CAST((SELECT sum(eff_tokens) FROM ps) AS BIGINT)
        |    AS BIGINT) AS eff_share_micro
        |FROM ps""".stripMargin,

    "q_vocab_topk" ->
      """WITH tok AS (
        |  SELECT unnest(string_split(text, ' ')) AS token
        |  FROM documents WHERE text IS NOT NULL
        |), c AS (
        |  SELECT token, count(*) AS n FROM tok GROUP BY 1
        |)
        |SELECT token, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, token) AS INTEGER) AS "rank"
        |FROM c ORDER BY n DESC, token LIMIT 20""".stripMargin,

    // Discriminative terms: lift in HUGEINT micro-units — o·T·1e6 //
    // (r·c) replays Spark's DECIMAL(38,0) integral div exactly
    // (positive operands: truncation = floor on both engines)
    "q_discriminative" ->
      """WITH tok AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS term
        |  FROM documents WHERE text IS NOT NULL
        |), st AS (
        |  SELECT source, term, CAST(count(*) AS BIGINT) AS o
        |  FROM tok WHERE term != '' GROUP BY 1, 2
        |), tt AS (
        |  SELECT term, CAST(sum(o) AS BIGINT) AS c FROM st GROUP BY 1
        |), rt AS (
        |  SELECT source, CAST(sum(o) AS BIGINT) AS r FROM st GROUP BY 1
        |), tot AS (
        |  SELECT CAST(sum(o) AS BIGINT) AS t_all FROM st
        |), sc AS (
        |  SELECT st.source, st.term, st.o, tt.c,
        |    CAST((CAST(st.o AS HUGEINT) * tot.t_all * 1000000) //
        |      (CAST(rt.r AS HUGEINT) * tt.c) AS BIGINT) AS lift_micro
        |  FROM st JOIN tt USING (term) JOIN rt USING (source) CROSS JOIN tot
        |  WHERE st.o >= 5
        |), rk AS (
        |  SELECT *, CAST(row_number() OVER (
        |    PARTITION BY source ORDER BY lift_micro DESC, term) AS INTEGER) AS "rank"
        |  FROM sc
        |)
        |SELECT source, term, o AS n_in_source, c AS n_total, lift_micro, "rank"
        |FROM rk WHERE "rank" <= 15""".stripMargin,

    "q_decontaminate" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 5
        |    THEN list_transform(range(1, len(toks) - 3), i ->
        |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |      toks[i+3] || ' ' || toks[i+4])
        |    ELSE [] END)) AS gram
        |  FROM t
        |)
        |SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS shared
        |FROM g c JOIN g b ON c.gram = b.gram
        |WHERE c.doc_id % 50 != 0 AND b.doc_id % 50 = 0
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin,

    // the capstone: both detector CTEs (the q_decontaminate 5-gram
    // join + the quantized-cosine cross join at the SAME %50 bench),
    // distinct verdict ids, per-source aggregation with exact rates
    "q_contamination_report" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 5
        |    THEN list_transform(range(1, len(toks) - 3), i ->
        |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |      toks[i+3] || ' ' || toks[i+4])
        |    ELSE [] END)) AS gram
        |  FROM t
        |), lexp AS (
        |  SELECT c.doc_id, b.doc_id AS bench_id, count(*) AS shared
        |  FROM g c JOIN g b ON c.gram = b.gram
        |  WHERE c.doc_id % 50 != 0 AND b.doc_id % 50 = 0
        |  GROUP BY 1, 2 HAVING count(*) >= 3
        |), lex AS (SELECT DISTINCT doc_id FROM lexp
        |), qv AS (
        |  SELECT vec_id,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS v
        |  FROM embeddings
        |), nv AS (
        |  SELECT vec_id, v,
        |    CAST(list_sum(list_transform(v, x -> x * x)) AS BIGINT) AS nsq
        |  FROM qv
        |), semp AS (
        |  SELECT c.vec_id AS doc_id
        |  FROM nv c CROSS JOIN nv b
        |  WHERE c.vec_id % 50 != 0 AND b.vec_id % 50 = 0
        |    AND CAST(list_sum(list_transform(list_zip(c.v, b.v), z -> z[1] * z[2])) AS DOUBLE) /
        |      sqrt(CAST(c.nsq * b.nsq AS DOUBLE)) >= 0.30
        |), sem AS (SELECT DISTINCT doc_id FROM semp
        |), agg AS (
        |  SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(CASE WHEN l.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lexical,
        |    CAST(sum(CASE WHEN s.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_semantic,
        |    CAST(sum(CASE WHEN l.doc_id IS NOT NULL OR s.doc_id IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_leaked
        |  FROM documents d
        |  LEFT JOIN lex l USING (doc_id)
        |  LEFT JOIN sem s ON s.doc_id = d.doc_id
        |  WHERE d.doc_id % 50 != 0
        |  GROUP BY 1
        |)
        |SELECT source, n_docs, n_lexical, n_semantic, n_leaked,
        |  CAST((n_leaked * 1000000) // n_docs AS BIGINT) AS leak_rate_micro
        |FROM agg""".stripMargin,

    // distinct trigrams per doc, global first owner = min doc_id,
    // integer micro-unit share; short docs −1 sentinel via LEFT join
    "q_novelty" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents WHERE text IS NOT NULL
        |), g AS (
        |  SELECT doc_id, unnest(list_distinct(CASE WHEN len(toks) >= 3
        |    THEN list_transform(range(1, len(toks) - 1), i ->
        |      toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
        |    ELSE [] END)) AS gram
        |  FROM t
        |), f AS (
        |  SELECT gram, min(doc_id) AS first_id FROM g GROUP BY 1
        |), pd AS (
        |  SELECT g.doc_id, count(*) AS n_grams,
        |    CAST(sum(CASE WHEN g.doc_id = f.first_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_novel
        |  FROM g JOIN f USING (gram) GROUP BY 1
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(pd.n_novel, 0) AS BIGINT) AS n_novel,
        |  CAST(CASE WHEN coalesce(pd.n_grams, 0) > 0
        |    THEN coalesce(pd.n_novel, 0) * 1000000 // pd.n_grams
        |    ELSE -1 END AS BIGINT) AS novelty_micro
        |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id""".stripMargin,

    // reachability CTE (exact pairs, fixture-equal to the LSH arm) +
    // the oracle-shared quality composite + row_number per cluster
    "q_dedup_keep_best" ->
      s"""WITH RECURSIVE $DedupReachCtes, cc AS (
        |  SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY node
        |), s AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        |), q AS (
        |  SELECT doc_id,
        |    CAST(least(len(toks), 60) AS DOUBLE) / 60.0 * 0.5 +
        |      CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) * 0.3 +
        |      CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'is', 'to'))) AS DOUBLE)
        |        / CAST(len(toks) AS DOUBLE) * 0.2 AS quality
        |  FROM s
        |), assigned AS (
        |  SELECT q.doc_id, q.quality,
        |    coalesce(cc.cluster_id, q.doc_id) AS cluster_id
        |  FROM q LEFT JOIN cc ON q.doc_id = cc.doc_id
        |), r AS (
        |  SELECT cluster_id, doc_id, quality, row_number() OVER (
        |    PARTITION BY cluster_id ORDER BY quality DESC, doc_id) AS rk
        |  FROM assigned
        |)
        |SELECT cluster_id, doc_id AS keep_id, quality AS kept_quality
        |FROM r WHERE rk = 1""".stripMargin,

    "q_langid_confusion" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    CAST(len(list_filter(toks, t -> t IN ('der','die','das','und','ist','nicht'))) AS INTEGER) AS score_de,
        |    CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','is','to'))) AS INTEGER) AS score_en,
        |    CAST(len(list_filter(toks, t -> t IN ('el','la','los','y','es','de'))) AS INTEGER) AS score_es,
        |    CAST(len(list_filter(toks, t -> t IN ('le','la','les','et','est','une'))) AS INTEGER) AS score_fr,
        |    CAST(len(list_filter(toks, t -> t IN ('的','是','了','在','我','不'))) AS INTEGER) AS score_zh
        |  FROM t
        |), pr AS (
        |  SELECT lang,
        |    CASE WHEN score_de >= greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'de'
        |         WHEN score_en >= greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'en'
        |         WHEN score_es >= greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'es'
        |         WHEN score_fr >= greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'fr'
        |         WHEN score_zh >= greatest(score_de, score_en, score_es, score_fr, score_zh) THEN 'zh'
        |    END AS predicted
        |  FROM s
        |)
        |SELECT lang, predicted, count(*) AS n FROM pr GROUP BY 1, 2""".stripMargin,

    // the reachability fixpoint from q_dedup_clusters (exact pairs —
    // the LSH arm is fixture-equal, spec-proven) + left join for the
    // singleton clusters + the q_split_assign Weyl cuts on cluster_id
    "q_split_by_cluster" ->
      s"""WITH RECURSIVE $DedupReachCtes, cc AS (
        |  SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        |  FROM reach GROUP BY node
        |), assigned AS (
        |  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
        |  FROM documents d LEFT JOIN cc ON d.doc_id = cc.doc_id
        |), b AS (
        |  SELECT doc_id, cluster_id,
        |    ((cluster_id % 65536) * 40503) % 65536 AS bucket
        |  FROM assigned
        |)
        |SELECT doc_id, cluster_id,
        |  CASE WHEN bucket < 0.9 * 65536 THEN 'train'
        |       WHEN bucket < 0.95 * 65536 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b""".stripMargin,

    "q_split_assign" ->
      """WITH b AS (
        |  SELECT doc_id, ((doc_id % 65536) * 40503) % 65536 AS bucket
        |  FROM documents
        |), a AS (
        |  SELECT doc_id,
        |    CASE WHEN bucket < 0.9 * 65536 THEN 'train'
        |         WHEN bucket < 0.95 * 65536 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM b
        |)
        |SELECT split, count(*) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS min_id,
        |  CAST(max(doc_id) AS BIGINT) AS max_id
        |FROM a GROUP BY 1""".stripMargin,

    // q_dedup_clusters' reachability CTE keys the split by the
    // cluster representative; singletons key by their own id
    "q_split_leakage_safe" ->
      s"""WITH RECURSIVE $DedupReachCtes, cl AS (
        |  SELECT node AS doc_id, min(r) AS cluster_id
        |  FROM reach GROUP BY node
        |), rep AS (
        |  SELECT d.doc_id, coalesce(cl.cluster_id, d.doc_id) AS rk
        |  FROM documents d LEFT JOIN cl USING (doc_id)
        |)
        |SELECT doc_id,
        |  CASE WHEN ((rk % 65536) * 40503) % 65536 < 0.8 * 65536 THEN 'train'
        |       WHEN ((rk % 65536) * 40503) % 65536 < 0.9 * 65536 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM rep""".stripMargin,

    // texts are corpus-unique, so the planted overlap is the shared
    // %10∈{4,5} slice and the new docs are exactly %10∈{6..9}
    "q_dedup_incremental" ->
      """SELECT i.doc_id FROM documents i
        |WHERE i.doc_id % 10 >= 4
        |  AND md5(i.text) NOT IN
        |    (SELECT md5(text) FROM documents WHERE doc_id % 10 < 6)""".stripMargin)

  /** The detector-report capstone oracle COMPOSES the four eval-stool
    * oracles verbatim (the q_experiment_report discipline: every stage
    * is already oracle-checked, the composition is what this gates) —
    * building it from the map entries means the capstone can never
    * drift from its parts.
    */
  val oracleSql: Map[String, String] = baseOracleSql ++ Map(
    "q_detector_report" ->
      s"""SELECT a.auc_micro, f.best_f1_micro, e.ece_micro, l.lift_top_micro
         |FROM (${baseOracleSql("q_auc")}) a
         |CROSS JOIN (SELECT max(f1_micro) AS best_f1_micro
         |  FROM (${baseOracleSql("q_pr_curve")})) f
         |CROSS JOIN (SELECT max(ece_micro) AS ece_micro
         |  FROM (${baseOracleSql("q_calibration")})) e
         |CROSS JOIN (SELECT lift_micro AS lift_top_micro
         |  FROM (${baseOracleSql("q_lift_curve")}) WHERE bucket = 0) l""".stripMargin)
}
