package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (array<float>).
  *
  * Two tiers:
  *  - `bruteForceTopK` — exact cosine top-k of a SMALL probe set
  *    against the full corpus. The probe side is broadcast, so the
  *    "join" is a map-side pass over the corpus with no shuffle of the
  *    big table; cost is O(|corpus| × |probes| × dims).
  *  - `annTopK` — random-hyperplane LSH: each vector gets an n-bit
  *    signature (sign of ⟨v, plane_j⟩ for n deterministic pseudo-random
  *    planes); candidates are corpus vectors whose bucket is within
  *    hamming distance `probeFlips` of the probe's bucket (multiprobe).
  *    Cost drops to the candidate fraction; recall is property-tested
  *    against the brute-force oracle in AnnSpec.
  *
  * Determinism: the oracle-checked exact tier works on QUANTIZED
  * vectors — floor(x·1000) as int64 — so dot products and norms are
  * exact integer arithmetic, and the final cosine is one IEEE divide
  * of exactly-representable doubles (|dot| ≤ 6.4e7 « 2^53, norm
  * product ≤ 3.2e14 « 2^53): bit-identical on Spark and DuckDB.
  * Hyperplane weights come from xxhash64, Spark-side only.
  *
  * Zero-norm vectors: the cosine tiers divide by the norm product, so
  * under Spark 4's default ANSI mode an all-zero embedding fails the
  * query LOUDLY (DIVIDE_BY_ZERO) rather than silently propagating
  * NaN — deliberate: the engines disagree on float x/0 (DuckDB yields
  * ±inf), so a silent path could never be oracle-checked. A corpus
  * that can legitimately contain zero vectors should quarantine them
  * upstream (the k-means tiers already do, via `normalizedVecs`'s
  * null-marking CASE).
  */
object Similarity {

  /** floor(x·1000) per element, as exact int64s (floor, not round —
    * round's half-up/half-even convention differs across engines).
    */
  def quantize(embCol: String): Column =
    expr(s"transform($embCol, x -> CAST(floor(CAST(x AS double) * 1000) AS bigint))")

  /** Exact integer dot product of two quantized vectors — the compiled
    * `DotQExpr` kernel (bit-identical to the aggregate/zip_with HOF
    * formulation, which evaluates ~3·dims interpreted lambda calls per
    * pair; on the all-pairs tiers that inner product IS the query).
    */
  def dotQ(a: String, b: String): Column =
    graft.functions.Sketches.dotQ(col(a), col(b))

  /** Exact integer squared norm — wrapped NON-NULLABLE (sentinel -1):
    * the cosine-threshold filters downstream infer isnotnull(nsq), and
    * predicate pushdown re-substitutes the whole quantize+dot kernel
    * into the parquet scan below the repartition, single-core (the
    * ivfTopK trap, measured again on q_embed_neardup_lsh this round).
    * The sentinel is unreachable in results: nsq is null only for a
    * malformed vector (null / null element), and any PAIR dot against
    * a malformed vector is itself null, so the row drops on the cos
    * filter before the sentinel could fabricate a NaN comparison.
    */
  def normSqQ(v: String): Column =
    coalesce(dotQ(v, v), lit(-1L))

  /** The quantized cosine of vector `a` (exact squared norm `na`)
    * against `b` (norm `nb`): the exact integer dot over the root of
    * the exact norm product — one IEEE divide of exactly-representable
    * doubles, the cross-engine-exact formula every cosine tier here
    * (and `Coreset.kCenters`) scores with.
    */
  private[llm] def cosQ(a: Column, na: Column, b: Column, nb: Column): Column =
    graft.functions.Sketches.dotQ(a, b).cast("double") / sqrt((na * nb).cast("double"))

  /** Each `by` group's `n` best rows by `score` DESC, ties broken on
    * `tie` ASC, numbered 1..n in column `as`: the one ranking rule of
    * every top-k, shortlist and kNN cut here.
    */
  private def topPer(df: DataFrame, by: String, score: String, tie: String,
                     n: Int, as: String): DataFrame =
    df.withColumn(as, row_number().over(
        Window.partitionBy(by).orderBy(col(score).desc, col(tie))))
      .filter(col(as) <= n)

  /** The tail of every probe-side top-k: score (probe_id, pv, pnsq) ×
    * (idCol, `v`, nsq) rows by quantized cosine and keep each probe's
    * k best as (probe_id, neighbor_id, rank, cos).
    */
  private def probeTopK(pairs: DataFrame, idCol: String, v: String,
                        k: Int): DataFrame =
    topPer(pairs.withColumn("cos", cosQ(col("pv"), col("pnsq"), col(v), col("nsq"))),
        "probe_id", "cos", idCol, k, "rank")
      .select(col("probe_id"), col(idCol).as("neighbor_id"), col("rank"), col("cos"))

  /** `probeTopK`'s output with no rows: the trained tiers' answer when
    * there is nothing to train on.
    */
  private def noNeighbors(df: DataFrame, idCol: String): DataFrame =
    df.limit(0).select(col(idCol).as("probe_id"), col(idCol).as("neighbor_id"),
      lit(1).as("rank"), lit(null).cast("double").as("cos"))

  /** The probe side of a top-k join: the id, vector `v` and norm
    * `nsq`, renamed to (probe_id, pv, pnsq).
    */
  private def probeCols(idCol: String, v: String): Seq[Column] =
    Seq(col(idCol).as("probe_id"), col(v).as("pv"), col("nsq").as("pnsq"))

  /** `keep` plus the quantized vector `v` and its norm `nsq`: the row
    * shape of the exact, un-repartitioned tiers.
    */
  private def exactVecs(df: DataFrame, embCol: String, keep: Column*): DataFrame =
    df.select(keep :+ quantize(embCol).as("v"): _*).withColumn("nsq", normSqQ("v"))

  private def asDouble(embCol: String): Column =
    expr(s"transform($embCol, x -> CAST(x AS double))")

  /** `df` repartitioned on `idCol` — a small parquet arrives as one
    * partition, and every expression after this is a per-row kernel —
    * with its vector as doubles, `vd`.
    */
  private def doubleVecs(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.repartition(col(idCol)).select(col(idCol), asDouble(embCol).as("vd"))

  /** `vecs` plus the quantized `vq` of its `vd` and the exact norm `nsq`. */
  private def withQuantized(vecs: DataFrame): DataFrame =
    vecs.withColumn("vq", quantize("vd")).withColumn("nsq", normSqQ("vq"))

  /** Quantized-cosine top-k: exact, deterministic, oracle-checkable.
    * Probes are the rows matching `probePred`; ranking is
    * (cosine DESC, candidate id ASC) with self-pairs excluded.
    */
  def bruteForceTopK(df: DataFrame, idCol: String, embCol: String,
                     probePred: Column, k: Int): DataFrame = {
    val vecs = exactVecs(df, embCol, col(idCol))
    val probes = broadcast(vecs.filter(probePred).select(probeCols(idCol, "v"): _*))
    probeTopK(probes.join(vecs, col("probe_id") =!= col(idCol)), idCol, "v", k)
  }

  /** Two-stage search over the INT8 store: score every candidate with
    * the 8-bit vectors (scale-free — the per-vector scales cancel in
    * the cosine), keep `k · rerankFactor` per probe, then rerank just
    * those with the exact quantized-1000 cosine. This is how a
    * quantized embedding store is actually queried at scale: the wide
    * float (or int64-quantized) vectors are touched only for the
    * shortlisted candidates, so the full-corpus pass reads 4× less.
    * Exactness is probabilistic in the shortlist only — AnnSpec gates
    * recall vs `bruteForceTopK` (1.0 on the fixture at factor 4).
    */
  def topKInt8Rerank(df: DataFrame, idCol: String, embCol: String,
                     probePred: Column, k: Int, rerankFactor: Int = 4): DataFrame = {
    val q8 = quantizeInt8(df, idCol, embCol)
      .select(col(idCol), col("qvec"))
      .withColumn("n8", dotQ("qvec", "qvec"))
    val probes8 = broadcast(q8.filter(probePred)
      .select(col(idCol).as("probe_id"), col("qvec").as("p8"), col("n8").as("pn8")))
    rerankExact(probes8.join(q8, col("probe_id") =!= col(idCol))
        .withColumn("cos8", cosQ(col("p8"), col("pn8"), col("qvec"), col("n8"))),
      "cos8", df, idCol, embCol, probePred, k, rerankFactor)
  }

  /** The exact stage of the two-stage tiers: keep each probe's
    * `k · rerankFactor` best (probe_id, idCol) rows of `scored` by its
    * approximate `score`, then re-score that shortlist with the exact
    * quantized cosine — wide vectors are read ONLY for shortlisted ids
    * and the broadcast probes.
    */
  private def rerankExact(scored: DataFrame, score: String, df: DataFrame,
                          idCol: String, embCol: String, probePred: Column,
                          k: Int, rerankFactor: Int): DataFrame = {
    val shortlist = topPer(scored, "probe_id", score, idCol, k * rerankFactor, "r8")
      .select(col("probe_id"), col(idCol))
    val wide = exactVecs(df, embCol, col(idCol))
    val pv = broadcast(wide.filter(probePred).select(probeCols(idCol, "v"): _*))
    probeTopK(shortlist.join(wide, idCol).join(pv, "probe_id"), idCol, "v", k)
  }

  /** Dimensionality probe: one tiny head() job on the first non-null
    * vector. Assumes uniform dims (the embedding-table contract); 0
    * when there is no vector at all.
    */
  private def dimsOf(df: DataFrame, embCol: String): Int =
    df.where(expr(embCol).isNotNull).select(size(expr(embCol))).head(1)
      .headOption.map(_.getInt(0)).getOrElse(0)

  /** IVFPQ — the top rung of the ANN ladder (brute → int8 → IVF/LSH →
    * PQ → this), the shape FAISS's IVFPQ and friends standardized from
    * Jégou et al. 2011 ("Product Quantization for Nearest Neighbor
    * Search"): a coarse k-means quantizer routes every vector to a
    * cell (the IVF part — candidates shrink to ~nProbe/nClusters of
    * the corpus per probe), and each vector stores only the PQ code of
    * its RESIDUAL from the cell centroid (the PQ part — 8 bytes per
    * vector). Residuals concentrate near zero, so the same 256
    * centroids per subspace spend their resolution on a much smaller
    * ball than raw-vector PQ — which is why this pairing, not PQ
    * alone, is the standard trillion-vector layout.
    *
    * Training is one bounded hash-selected sample, driver-side, for
    * BOTH quantizers (coarse Lloyd, then per-subspace Lloyd on the
    * sample's residuals). Query: each probe explodes to its nProbe
    * nearest cells; ONE compiled `matVec` of the FULL probe vector
    * against the block-diagonal residual codebooks gives a per-probe
    * ADC table shared across its cells, and each (probe, cell) row
    * adds the scalar <probe, centroid> bias — the inner-product ADC
    * decomposition (see the inline note). Candidates arrive by cell
    * EQUALITY join (the ivfTopK shape — never a distance predicate)
    * carrying only their 8-byte code, are scored by m table lookups in
    * `pq_adc` plus the bias, rank-limited to k·rerankFactor, and
    * exact-reranked.
    *
    * Null/zero-norm discipline is inherited wholesale: null `nd`
    * takes the -1 sentinel cell (never probed) via the same
    * coalesce-non-nullable key as `ivfTopK`, and the residual is a
    * lazy CASE so the -1 row never evaluates `element_at(…, 0)`
    * (ANSI would throw on the zero index). Approximate by design
    * (cell misses + residual quantization) → rows-only; recall gated
    * in AnnSpec.
    */
  def ivfpqTopK(df: DataFrame, idCol: String, embCol: String,
                probePred: Column, k: Int, nClusters: Int = 16,
                nProbe: Int = 4, m: Int = 8, nCentroids: Int = 256,
                lloydIters: Int = 5, trainSample: Int = 1024,
                rerankFactor: Int = 4): DataFrame = {
    val d = pqParams(df, embCol, m, nCentroids)
    val sub = d / m
    val vecs = normalizedVecs(df, idCol, embCol)
    val sample = sampleNormalized(vecs, idCol, df.count(),
      math.max(trainSample, math.max(nClusters, nCentroids)))
    if (sample.isEmpty) return noNeighbors(df, idCol)
    val coarse = lloyd(sample, math.min(nClusters, sample.length), lloydIters)
    val coarseDists = graft.functions.Sketches.centroidDists(
      col("nd"), coarse.flatten, coarse.length)
    val residSample = sample.map { v =>
      val cc = coarse(nearestCentroid(v, coarse))
      Array.tabulate(d)(i => v(i) - cc(i))
    }
    val (books, kEff) = subspaceBooks(residSample, m, sub, nCentroids, lloydIters)
    // coarse centroids as a SQL literal for the residual zip_with (16
    // cells × dims doubles — plan-sized, same class as the plane/
    // centroid literals elsewhere)
    val centLit = coarse.map(c =>
      c.map(x => s"${x}D").mkString("array(", ",", ")"))
      .mkString("array(", ",", ")")
    val members = pqEncodeWith(
      withCell(vecs, coarseDists, "__cd", "cell").withColumn("__resid", expr(
        s"""CASE WHEN cell >= 0 THEN
           |  zip_with(nd, element_at($centLit, CAST(cell + 1 AS int)), (x, c) -> x - c)
           |ELSE NULL END""".stripMargin)),
      idCol, books, kEff, m, sub, vecCol = "__resid", keep = Seq("cell"))

    // Inner-product ADC decomposition (cross-cell comparable):
    //   <p, x> ≈ <p, cent_cell(x)> + <p, x_residual-reconstructed>
    // so the lookup table is built from the FULL probe vector against
    // the residual codebooks — ONE matVec per probe, shared across its
    // nProbe cells — and each (probe, cell) row adds the scalar
    // <p, cent_cell> bias. Scoring by the residual-vs-residual dot
    // instead would drop the <cent, x_r> cross term and make scores
    // incomparable across a probe's nProbe cells.
    val probes = broadcast(
      vecs.filter(probePred)
        .withColumn("__cd", coarseDists)
        .withColumn("__lut", adcTable(books, kEff, sub))
        .select(col(idCol).as("probe_id"), col("nd").as("__nd"), col("__lut"),
          probeCells("__cd", nProbe))
        .select(col("probe_id"), col("__lut"), probeCell.as("cell"),
          expr(s"""CASE WHEN pc.c >= 0 THEN
                  |  aggregate(zip_with(__nd, element_at($centLit, CAST(pc.c + 1 AS int)),
                  |    (x, c) -> x * c), CAST(0.0 AS double), (a, b) -> a + b)
                  |ELSE NULL END""".stripMargin).as("__bias")))

    rerankExact(probes.join(members, Seq("cell"))
        .filter(col("probe_id") =!= col(idCol))
        .withColumn("adc", col("__bias") + graft.functions.Sketches.pqAdc(
          col("__lut"), col("pq_code"), m, kEff))
        .filter(col("adc").isNotNull)
        .select(col("probe_id"), col(idCol), col("adc")),
      "adc", df, idCol, embCol, probePred, k, rerankFactor)
  }

  /** Tag every row with a `quarantine_reason` (NULL = clean): the
    * executable form of the zero-norm contract documented on this
    * object's scaladoc — the cosine tiers fail LOUDLY on an all-zero
    * vector (ANSI DIVIDE_BY_ZERO) and expect dirty corpora to
    * quarantine upstream; this is the upstream. Reasons, in fixed
    * precedence order (first match wins, so a row carries exactly one):
    * `null_vector`, `wrong_dims`, `null_element`, `non_finite`
    * (NaN/±Inf), `zero_norm`. Pure row-local Column logic — a map at
    * any scale, no UDF, SQL-expressible on both engines (DuckDB
    * oracle on `q_embed_quarantine`). The dimensionality is declared,
    * not read off the data: a vector of any other length is
    * `wrong_dims`, whichever row comes first.
    */
  def auditEmbeddings(df: DataFrame, idCol: String, embCol: String,
                      expectedDims: Int): DataFrame = {
    require(!df.columns.contains("quarantine_reason"),
      "auditEmbeddings: 'quarantine_reason' is reserved for output — rename it")
    val asD = s"transform($embCol, x -> CAST(x AS double))"
    df.withColumn("quarantine_reason",
      when(col(embCol).isNull, lit("null_vector"))
        .when(size(col(embCol)) =!= expectedDims, lit("wrong_dims"))
        .when(expr(s"exists($embCol, x -> isnull(x))"), lit("null_element"))
        .when(expr(s"exists($asD, x -> isnan(x) OR x = CAST('Infinity' AS double)" +
          " OR x = CAST('-Infinity' AS double))"), lit("non_finite"))
        .when(expr(s"forall($asD, x -> x = CAST(0 AS double))"), lit("zero_norm"))
        .otherwise(lit(null).cast("string")))
  }

  /** The (clean, quarantined) split over `auditEmbeddings`: clean keeps
    * the input schema and is safe for every cosine tier; quarantined
    * rows carry their reason — loud-never-silent, nothing vanishes.
    * (Both frames re-evaluate the audit predicate; a real pipeline
    * would persist the audit once and split the cached frame.)
    */
  def quarantineEmbeddings(df: DataFrame, idCol: String, embCol: String,
                           expectedDims: Int): (DataFrame, DataFrame) = {
    val a = auditEmbeddings(df, idCol, embCol, expectedDims)
    (a.filter(col("quarantine_reason").isNull).drop("quarantine_reason"),
      a.filter(col("quarantine_reason").isNotNull))
  }

  /** Train the m per-subspace codebooks on one bounded sample. */
  private def pqBooks(vecs: DataFrame, idCol: String, nRows: Long, m: Int,
                      sub: Int, nCentroids: Int, lloydIters: Int,
                      trainSample: Int): Option[(Array[Array[Double]], Int)] = {
    val sample = sampleNormalized(vecs, idCol, nRows,
      math.max(trainSample, nCentroids))
    if (sample.isEmpty) None
    else Some(subspaceBooks(sample, m, sub, nCentroids, lloydIters))
  }

  /** Lloyd on each of the m `sub`-dim slices of `sample`: the codebooks
    * (flat kEff × sub each) and their shared effective size kEff.
    */
  private def subspaceBooks(sample: Array[Array[Double]], m: Int, sub: Int,
                            nCentroids: Int, lloydIters: Int): (Array[Array[Double]], Int) = {
    val kEff = math.min(nCentroids, sample.length)
    (Array.tabulate(m) { j =>
      lloyd(sample.map(_.slice(j * sub, (j + 1) * sub)), kEff, lloydIters).flatten
    }, kEff)
  }

  /** Encode against trained codebooks: code_j = argmin centroid of
    * subspace j of `vecCol`, packed one byte each into a single int64.
    * Extra columns named in `keep` ride along (the IVFPQ variant keeps
    * its coarse cell id next to the code).
    */
  private def pqEncodeWith(vecs: DataFrame, idCol: String,
                           books: Array[Array[Double]], kEff: Int,
                           m: Int, sub: Int, vecCol: String = "nd",
                           keep: Seq[String] = Nil): DataFrame = {
    var enc = vecs
    for (j <- 0 until m)
      enc = enc.withColumn(s"__d$j", graft.functions.Sketches.centroidDists(
        expr(s"slice($vecCol, ${j * sub + 1}, $sub)"), books(j), kEff))
    val packed = (0 until m).map(j =>
      expr(s"shiftleft(array_position(__d$j, array_min(__d$j)) - 1, ${8 * j})"))
      .reduce(_ + _)
    enc.select(col(idCol) +: packed.as("pq_code") +: keep.map(col): _*)
  }

  /** A probe's ADC lookup table: ONE compiled matVec of its full unit
    * vector `nd` through the block-diagonal codebook matrix (m·kEff
    * rows, zeros outside block j), so entry j·kEff + c is the dot of
    * the probe's subspace j with centroid c of book j.
    */
  private def adcTable(books: Array[Array[Double]], kEff: Int, sub: Int): Column = {
    val m = books.length
    val d = m * sub
    val bigM = new Array[Double](m * kEff * d)
    for (j <- 0 until m; c <- 0 until kEff; t <- 0 until sub)
      bigM((j * kEff + c) * d + j * sub + t) = books(j)(c * sub + t)
    graft.functions.Sketches.matVec(col("nd"), bigM, new Array[Double](m * kEff))
  }

  private def pqParams(df: DataFrame, embCol: String, m: Int,
                       nCentroids: Int): Int = {
    val d = dimsOf(df, embCol)
    require(m >= 1 && m <= 8, s"PQ: 1 <= m <= 8 (codes pack one byte each into an int64), got $m")
    require(d % m == 0, s"PQ: dims $d must divide into m=$m subspaces")
    require(nCentroids >= 1 && nCentroids <= 256, s"PQ: codes are 8-bit, got $nCentroids")
    d
  }

  /** The storage artifact alone: (idCol, pq_code bigint) — 8 bytes per
    * vector. A zero-norm vector encodes to a NULL code (no direction;
    * same quarantine as the other cosine tiers). See `pqTopK` for the
    * full design story.
    */
  def pqEncode(df: DataFrame, idCol: String, embCol: String, m: Int = 8,
               nCentroids: Int = 256, lloydIters: Int = 5,
               trainSample: Int = 1024): DataFrame = {
    val d = pqParams(df, embCol, m, nCentroids)
    val sub = d / m
    val vecs = normalizedVecs(df, idCol, embCol)
    pqBooks(vecs, idCol, df.count(), m, sub, nCentroids, lloydIters,
        trainSample) match {
      case None => df.limit(0).select(col(idCol), lit(null).cast("long").as("pq_code"))
      case Some((books, kEff)) => pqEncodeWith(vecs, idCol, books, kEff, m, sub)
    }
  }

  /** Product-quantization ANN: the compression rung below int8 on the
    * brute → int8 → IVF/LSH ladder. The vector space is split into `m`
    * subspaces of d/m dims; each subspace gets its own `nCentroids`-
    * centroid k-means codebook (trained driver-side on ONE bounded
    * hash-selected sample — the same recipe and sampler as `ivfTopK`);
    * a vector is stored as its m nearest-centroid ids, packed one byte
    * each into a single int64. At m=8 that is 8 BYTES per vector
    * (d/m·8× less than int8's d bytes, 4·d/8× less than float32) —
    * at 100 TB the PQ code table for a trillion 64-dim vectors is
    * ~8 TB and fits a modest cluster's page cache, which is why every
    * large-scale vector store (FAISS IVFPQ, SCaNN) quantizes this way.
    *
    * Query = classic ADC (asymmetric distance computation): the probe
    * stays un-quantized; its dot product against every centroid of
    * every codebook is ONE `matVec` through the block-diagonal
    * codebook matrix (m·kEff rows, zeros outside block j — built
    * driver-side, broadcast as expression literals), giving a per-
    * probe lookup table; scoring a candidate is then m table lookups
    * in the compiled `pq_adc` kernel (`functions/Sketches.scala`) —
    * never a d-element multiply. Corpus vectors are L2-normalized
    * before encoding, so the ADC dot approximates cosine directly.
    * Stage 2 reranks the `k·rerankFactor` shortlist with the exact
    * quantized cosine, touching wide vectors ONLY for shortlisted ids
    * (the `topKInt8Rerank` shape). Approximate by design → rows-only;
    * recall vs `bruteForceTopK` and the 8-byte storage bound are gated
    * in AnnSpec.
    *
    * Scale notes: the ADC scan shuffles only (probe_id, id, adc) into
    * the rank-limit window — the packed code is the ONLY per-vector
    * payload read, and wide vectors ride the (tiny) rerank join.
    * Zero-norm vectors quarantine to a null code (no direction → never
    * a candidate), same CASE-not-filter discipline as `ivfTopK`.
    */
  def pqTopK(df: DataFrame, idCol: String, embCol: String,
             probePred: Column, k: Int, m: Int = 8, nCentroids: Int = 256,
             lloydIters: Int = 5, trainSample: Int = 1024,
             rerankFactor: Int = 4): DataFrame = {
    val d = pqParams(df, embCol, m, nCentroids)
    val sub = d / m
    val vecs = normalizedVecs(df, idCol, embCol)
    val trained = pqBooks(vecs, idCol, df.count(), m, sub, nCentroids,
      lloydIters, trainSample)
    if (trained.isEmpty) return noNeighbors(df, idCol)
    val (books, kEff) = trained.get
    val encoded = pqEncodeWith(vecs, idCol, books, kEff, m, sub)
    val probes = broadcast(vecs.filter(probePred)
      .select(col(idCol).as("probe_id"), adcTable(books, kEff, sub).as("__lut")))
    // ADC scan + rank-limit shortlist (narrow rows only)
    rerankExact(probes.join(encoded, col("probe_id") =!= col(idCol))
        .withColumn("adc", graft.functions.Sketches.pqAdc(
          col("__lut"), col("pq_code"), m, kEff))
        .filter(col("adc").isNotNull)
        .select(col("probe_id"), col(idCol), col("adc")),
      "adc", df, idCol, embCol, probePred, k, rerankFactor)
  }

  /** ANN top-k via multiprobe hyperplane LSH. Candidates = corpus
    * vectors whose bucket equals the probe's bucket or differs in at
    * most `probeFlips` of the low `nbits` bits (enumerated buckets,
    * so the join key is exact bucket equality — a plain shuffle/
    * broadcast join, never a distance predicate). The signature is the
    * compiled `HyperplaneSigsExpr` kernel over driver-precomputed
    * planes, and the bucket key is wrapped NON-NULLABLE so the inner
    * join infers no isnotnull filter (which pushdown would otherwise
    * re-substitute as a second full signature evaluation below the
    * scan — the same trap `ivfTopK` documents).
    */
  def annTopK(df: DataFrame, idCol: String, embCol: String,
              probePred: Column, k: Int, nbits: Int = 5,
              probeFlips: Int = 1): DataFrame = {
    val vecs = withQuantized(doubleVecs(df, idCol, embCol)
      .withColumn("bucket", coalesce(element_at(
        graft.functions.Sketches.hyperplaneSigs(
          col("vd"), planesFor(df, embCol, 1, nbits), 1, nbits), 1), lit(-1L))))
    // enumerated multiprobe: all bucket ids within hamming <= probeFlips
    // of the probe's bucket. 2-bit probing matters at the deeper codes
    // corpus scale needs for selectivity (at nbits=8, 1-bit probing
    // visits 9/256 buckets and visibly under-recalls — AnnSpec).
    val flips1: Seq[Long] = if (probeFlips >= 1) (0 until nbits).map(1L << _) else Nil
    val flips2: Seq[Long] =
      if (probeFlips >= 2)
        for { i <- 0 until nbits; j <- (i + 1) until nbits } yield (1L << i) | (1L << j)
      else Nil
    val flips: Seq[Long] = 0L +: (flips1 ++ flips2)
    val probes = broadcast(
      vecs.filter(probePred)
        .select(col(idCol).as("probe_id"), col("bucket").as("pb"),
          col("vq").as("pv"), col("nsq").as("pnsq"))
        .withColumn("flip", explode(lit(flips.toArray)))
        .withColumn("bucket", col("flip").bitwiseXOR(col("pb")))
        .drop("flip", "pb"))
    probeTopK(probes.join(vecs.drop("vd"), Seq("bucket"))
      .filter(col("probe_id") =!= col(idCol))
      .dropDuplicates("probe_id", idCol), idCol, "vq", k)
  }

  /** Shared vector prep for the k-means-based tiers (ivfTopK,
    * semanticDedupClustered): quantized ints + exact norms for the
    * verify stage, and an L2-normalized double vector for clustering.
    * Repartitions FIRST (a small parquet is one partition and every
    * expression here is a per-row kernel); zero-norm vectors are
    * quarantined as nd = NULL via a CASE, never a filter — see the
    * pushdown-trap note in `ivfTopK`.
    */
  private[llm] def normalizedVecs(df: DataFrame, idCol: String, embCol: String): DataFrame =
    withQuantized(doubleVecs(df, idCol, embCol))
      .withColumn("__n",
        sqrt(expr("aggregate(transform(vd, x -> x * x), CAST(0.0 AS double), (a, b) -> a + b)")))
      .withColumn("nd",
        expr("CASE WHEN __n > 0.0 THEN transform(vd, x -> x / __n) ELSE NULL END"))
      .drop("__n")

  /** Deterministic bounded sample of normalized vectors: the `want`
    * rows with the smallest xxhash64(id), realized as a hash-threshold
    * filter + TakeOrdered over the ~8× oversampled survivors (one
    * scan, no corpus-wide sort; falls back to the full scan when the
    * filter underfills — see the scale notes on `ivfTopK`). Shared by
    * `trainKmeans` and the PQ codebook trainer.
    */
  private def sampleNormalized(vecs: DataFrame, idCol: String,
                               nRows: Long, want: Int): Array[Array[Double]] = {
    val hash = xxhash64(col(idCol).cast("string"))
    val frac = 8.0 * want.toDouble / math.max(nRows, 1L).toDouble
    def takeSample(src: DataFrame): Array[Array[Double]] =
      // zero-norm rows surface here as null nd (see quarantine note in
      // normalizedVecs) and are dropped driver-side — a Spark-side
      // isnotnull(nd) filter would re-substitute the normalize HOF
      // into the scan
      src.orderBy(hash, col(idCol)).limit(want).select("nd").collect()
        .filterNot(_.isNullAt(0)).map(_.getSeq[Double](0).toArray)
    // signed threshold matching the sort order: the want smallest
    // signed hashes all sit below Long.MinValue + frac·2^64 unless the
    // binomial tail misbehaves — guarded below by rerunning unfiltered
    val filtered =
      if (frac >= 0.5) vecs
      else vecs.filter(hash < lit(Long.MinValue + (frac * 1.8446744073709552e19).toLong))
    var sample = takeSample(filtered)
    if (sample.length < math.min(want.toLong, nRows) && frac < 0.5)
      sample = takeSample(vecs)
    sample
  }

  /** Deterministic driver-side Lloyd iterations (seeded on the first
    * kEff sample vectors; an emptied cluster keeps its old centroid).
    */
  private def lloyd(sample: Array[Array[Double]], kEff: Int,
                    iters: Int): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = sample.take(kEff).map(_.clone())
    for (_ <- 1 to iters) {
      val sums = Array.fill(kEff)(new Array[Double](sample.head.length))
      val counts = new Array[Long](kEff)
      for (v <- sample) {
        val best = nearestCentroid(v, centroids)
        counts(best) += 1
        var i = 0; while (i < v.length) { sums(best)(i) += v(i); i += 1 }
      }
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        if (counts(c) == 0) old else sums(c).map(_ / counts(c))
      }
    }
    centroids
  }

  /** Index of the centroid nearest `v` in squared L2, the first on a tie. */
  private def nearestCentroid(v: Array[Double], centroids: Array[Array[Double]]): Int = {
    def sqd(c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < v.length) { val t = v(i) - c(i); s += t * t; i += 1 }
      s
    }
    var best = 0; var bd = sqd(centroids(0)); var c = 1
    while (c < centroids.length) {
      val d = sqd(centroids(c)); if (d < bd) { bd = d; best = c }; c += 1
    }
    best
  }

  /** Deterministic driver-side Lloyd over a bounded hash-selected
    * sample of `vecs` (which must carry the `nd` column from
    * `normalizedVecs`). Returns the flattened centroid array and the
    * effective cluster count, or None when the input is empty / all
    * zero-norm. Shared by `ivfTrain` and `trainAssign`; the scale notes
    * live on `ivfTopK`.
    */
  private def trainKmeans(vecs: DataFrame, idCol: String, nRows: Long,
                          nClusters: Int, lloydIters: Int,
                          trainSample: Int): Option[(Array[Double], Int)] = {
    val want = math.max(trainSample, nClusters)
    val sample = sampleNormalized(vecs, idCol, nRows, want)
    if (sample.isEmpty) return None
    val kEff = math.min(nClusters, sample.length)
    Some((lloyd(sample, kEff, lloydIters).flatten, kEff))
  }

  /** `vecs` plus column `dists` = `dist` (the squared distances of its
    * unit vector to each centroid: a `centroidDists` column, or null
    * when nothing was trained) and `as`, the 0-based index of the first
    * minimal distance: the k-means cell. A null distance array
    * (zero-norm or malformed vector, no centroids) takes the −1
    * quarantine cell.
    *
    * The coalesce also makes the cell NON-NULLABLE: an inner join on a
    * nullable key gets an inferred isnotnull(key) filter, and predicate
    * pushdown re-substitutes the alias — re-evaluating the whole
    * k-distance assignment a second time BELOW the repartition,
    * single-core in the lone parquet partition (measured: 16 s of a
    * 17 s query at sf0.1). With a non-nullable key no such filter
    * exists; assignment runs once, distributed.
    */
  private def withCell(vecs: DataFrame, dist: Column, dists: String,
                       as: String): DataFrame =
    vecs.withColumn(dists, dist)
      .withColumn(as, coalesce(expr(s"array_position($dists, array_min($dists)) - 1"), lit(-1L)))

  /** A probe row exploded to its `nProbe` nearest cells by its
    * `dists` column, as struct `pc` (d = distance, c = cell); read the
    * cell with `probeCell`. A null `dists` explodes to no row.
    */
  private def probeCells(dists: String, nProbe: Int): Column =
    explode(expr(
      s"slice(array_sort(transform($dists, (x, i) -> struct(x AS d, i AS c))), 1, $nProbe)"))
      .as("pc")

  /** The cell of a `probeCells` row, non-nullable like `withCell`'s. */
  private val probeCell: Column = coalesce(col("pc.c").cast("long"), lit(-1L))

  /** IVF members: (idCol, cluster, vq, nsq) of `withCell` over frozen
    * centroids — the rows `ivfSearch` joins and `DenseIndex` stores.
    */
  private[llm] def ivfMembers(vecs: DataFrame, idCol: String,
                              flatCentroids: Array[Double], kEff: Int): DataFrame =
    withCell(vecs, graft.functions.Sketches.centroidDists(col("nd"), flatCentroids, kEff),
        "__d", "cluster")
      .select(col(idCol), col("cluster"), col("vq"), col("nsq"))

  /** IVF search: every `probeVecs` row (`normalizedVecs` columns) fans
    * out to its `nProbe` nearest cells and broadcasts into an equi-join
    * with `members` on `cluster`; the exact quantized cosine ranks what
    * those cells hold, the probe's own id excluded.
    */
  private[llm] def ivfSearch(probeVecs: DataFrame, members: DataFrame, idCol: String,
                             flatCentroids: Array[Double], kEff: Int, nProbe: Int,
                             k: Int): DataFrame = {
    val probes = broadcast(probeVecs
      .withColumn("__d", graft.functions.Sketches.centroidDists(col("nd"), flatCentroids, kEff))
      .select(probeCols(idCol, "vq") :+ probeCells("__d", nProbe): _*)
      .select(col("probe_id"), col("pv"), col("pnsq"), probeCell.as("cluster")))
    probeTopK(probes.join(members, Seq("cluster")).filter(col("probe_id") =!= col(idCol)),
      idCol, "vq", k)
  }

  /** The front half of the clustered tiers: k-means trained on `df`'s
    * bounded sample, every row of `normalizedVecs(df)` given its cell
    * `as` by `withCell`. With nothing to train on — an empty or
    * all-zero-norm corpus — every row takes the −1 quarantine cell.
    */
  private def trainAssign(df: DataFrame, idCol: String, embCol: String,
                          nClusters: Int, lloydIters: Int, trainSample: Int,
                          as: String): DataFrame = {
    val vecs = normalizedVecs(df, idCol, embCol)
    val dist = trainKmeans(vecs, idCol, df.count(), nClusters, lloydIters, trainSample) match {
      case Some((flat, kEff)) => graft.functions.Sketches.centroidDists(col("nd"), flat, kEff)
      case None => lit(null).cast("array<double>")
    }
    withCell(vecs, dist, "__d", as)
  }

  /** IVF (inverted-file) ANN: a coarse k-means quantizer over
    * L2-NORMALIZED vectors (squared L2 on the unit sphere is monotone
    * in cosine), then probes scan only the `nProbe` nearest centroid
    * lists — the classic FAISS-style scale path, complementary to the
    * hyperplane-LSH tier (`annTopK`): IVF adapts to the data's actual
    * density, LSH is oblivious and needs no training pass.
    *
    * Everything is deterministic so the driver's rows-only check and
    * the AnnSpec recall gate are stable: the training sample is the
    * `trainSample` vectors with the smallest xxhash64(id) (no RNG),
    * init takes the sample's first `nClusters`, Lloyd runs on the
    * driver over that bounded sample in a fixed order, and assignment
    * ties break on the first minimal distance.
    *
    * Scale notes: training on a BOUNDED sample is the standard IVF
    * recipe (a coarse quantizer needs ~10-100 samples per centroid,
    * not the corpus) — so the train step collects k·dims-bounded data
    * once, never the corpus (selected by a hash-threshold filter, not
    * a corpus-wide sort — see below), and the distributed work is
    * exactly two map passes (assign members, assign probes) against
    * literal centroids plus one equality join on cluster id; the
    * assignment's k·dims inner loop runs in the compiled
    * `CentroidDistsExpr` kernel (graft.functions.Sketches). Candidate
    * volume is ~nProbe/nClusters of the corpus per probe.
    */
  def ivfTopK(df: DataFrame, idCol: String, embCol: String,
              probePred: Column, k: Int, nClusters: Int = 16,
              nProbe: Int = 4, lloydIters: Int = 5,
              trainSample: Int = 512): DataFrame = {
    // Zero-norm vectors are quarantined up front: they have no
    // direction (cosine undefined), and a NaN-normalized sample vector
    // would silently poison a centroid during Lloyd (NaN compares
    // false, so it piles onto cluster 0 and turns its mean all-NaN).
    // Quarantine = nd -> NULL via the CASE, NOT a filter: an explicit
    // `__n > 0` filter pushes through the repartition Exchange and
    // re-substitutes the whole interpreted norm HOF at the parquet
    // scan, single-core (plan-gated in PlanShapeSpec). A null nd flows
    // to the -1 sentinel cluster on the member side (never probed) and
    // explodes to zero probe rows on the probe side — same exclusion,
    // no pushable predicate.
    //
    // Training sample = the `trainSample` vectors with the smallest
    // xxhash64(id): deterministic (no RNG, no partition-order
    // dependence) and partition-layout-free. Realized as a hash-
    // THRESHOLD filter (the distributed TABLESAMPLE analogue — one
    // scan, no corpus-wide TakeOrdered whose per-partition heaps would
    // all merge on the driver at large partition counts) followed by a
    // TakeOrdered on the ~8× oversampled survivors: the smallest s
    // hashes are inside any threshold ≥ the s-th order statistic, so
    // with 8× headroom this selects exactly the same sample as sorting
    // the full corpus, at filter cost. Falls back to the full scan
    // (frac = 1) when the corpus is small or the filter underfills.
    // Empty (or all-zero-norm) input: nothing to train on and nothing
    // to match — an empty frame with the output schema.
    ivfTrain(df, idCol, embCol, nClusters, lloydIters, trainSample) match {
      case None => noNeighbors(df, idCol)
      case Some((c, ke)) => ivfTopKWith(df, idCol, embCol, probePred, k, c, ke, nProbe)
    }
  }

  /** The IVF trainer alone — centroids for `api.ModelStore`
    * persistence (index-build once, search every run; the pcaTrain /
    * pcaProjectWith split applied to the ANN ladder). Returns
    * (flat row-major centroids, effective cluster count), or None on
    * an empty / all-zero-norm corpus.
    */
  def ivfTrain(df: DataFrame, idCol: String, embCol: String,
               nClusters: Int = 16, lloydIters: Int = 5,
               trainSample: Int = 512): Option[(Array[Double], Int)] =
    trainKmeans(normalizedVecs(df, idCol, embCol), idCol, df.count(),
      nClusters, lloydIters, trainSample)

  /** IVF search through an already-trained (possibly store-loaded)
    * centroid table — identical plan to `ivfTopK` after its train
    * step; see that scaladoc for the quarantine/pushdown/broadcast
    * reasoning.
    */
  def ivfTopKWith(df: DataFrame, idCol: String, embCol: String,
                  probePred: Column, k: Int, flatCentroids: Array[Double],
                  kEff: Int, nProbe: Int = 4): DataFrame = {
    require(kEff > 0 && flatCentroids.length % kEff == 0,
      "ivfTopKWith: centroids must be kEff x d row-major")
    val vecs = normalizedVecs(df, idCol, embCol)
    ivfSearch(vecs.filter(probePred), ivfMembers(vecs, idCol, flatCentroids, kEff),
      idCol, flatCentroids, kEff, nProbe, k)
  }

  /** Embedding-cosine near-duplicate pairs over the quantized grid:
    * all pairs above `threshold`, id_a < id_b. Exact and deterministic
    * (the oracle tier); `cosineNearDupPairsLsh` is the same semantics
    * with bucketed candidate generation — the corpus-scale plan.
    */
  def cosineNearDupPairs(df: DataFrame, idCol: String, embCol: String,
                         threshold: Double, partitions: Int = 32): DataFrame = {
    val vecs = exactVecs(df, embCol, col(idCol))
    // the nested-loop join parallelizes over LEFT partitions; a small
    // parquet arrives as one partition, which would serialize the whole
    // O(n²) scan onto one core
    vecs.repartition(partitions).as("a")
      .join(vecs.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        cosQ(col("a.v"), col("a.nsq"), col("b.v"), col("b.nsq")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Semantic benchmark decontamination — the embedding-space sibling
    * of `Dedup.contaminationPairs`: which corpus documents sit within
    * cosine `threshold` of some benchmark item? Catches the leak the
    * n-gram detector structurally misses — a PARAPHRASED test
    * question shares no 5-gram with its source but lands at cosine
    * 0.9 next to it (the published decontamination recipes run both
    * detectors for exactly this reason; the two compose by unioning
    * their (doc, bench) verdicts).
    *
    * Exact quantized cosine — deterministic and oracle-checkable.
    * Shape mirrors the n-gram arm's broadcast contract: benchmarks
    * are tiny next to a 100 TB corpus, so the BENCH side broadcasts
    * and the corpus never shuffles — per corpus partition the cost is
    * rows × |bench| compiled integer dot products, embarrassingly
    * parallel. A benchmark too large to broadcast swaps the candidate
    * stage for the LSH bucket join (`cosineNearDupPairsLsh`'s
    * machinery) with this verify unchanged.
    */
  def semanticContamination(corpus: DataFrame, bench: DataFrame,
                            idCol: String, embCol: String,
                            threshold: Double): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"semanticContamination: threshold in (0, 1], got $threshold")
    def q(df: DataFrame, as: String) = df
      .select(col(idCol).as(as), quantize(embCol).as(s"__v_$as"))
      .withColumn(s"__n_$as", normSqQ(s"__v_$as"))
    q(corpus, "doc_id").repartition(32)
      .crossJoin(broadcast(q(bench, "bench_id")))
      .select(col("doc_id"), col("bench_id"),
        cosQ(col("__v_doc_id"), col("__n_doc_id"), col("__v_bench_id"), col("__n_bench_id"))
          .as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Storage-tier int8 quantization: per-vector symmetric scale
    * (maxabs/127), elements stored as floor(x/scale) ∈ [−127, 127].
    * 4× the density of float32 — at 100 TB the embedding store is
    * usually the single largest table, and int8 is the standard
    * first compression step (re-ranking dequantizes only the
    * candidate set). A zero vector quantizes to zeros with scale 0.
    *
    * floor (not round) keeps the oracle cross-engine: both engines
    * compute the identical doubles for scale and x/scale, and floor
    * has no rounding-convention split. The dequantization error per
    * element is < scale by construction; `AnnSpec` gates cosine
    * fidelity of the reconstruction.
    */
  def quantizeInt8(df: DataFrame, idCol: String, embCol: String): DataFrame =
    df.select(col(idCol), asDouble(embCol).as("__v"))
      .withColumn("scale", int8Scale("__v"))
      .select(col(idCol), col("scale"), int8Code("__v", "scale").as("qvec"))

  /** The symmetric int8 scale of double vector `v`: maxabs / 127. */
  private def int8Scale(v: String): Column =
    array_max(expr(s"transform($v, x -> abs(x))")) / lit(127.0)

  /** The int8 code of double vector `v` at `scale`: floor(x / scale),
    * all zeros at scale 0.
    */
  private def int8Code(v: String, scale: String): Column =
    when(col(scale) === 0.0, expr(s"transform($v, x -> CAST(0 AS bigint))"))
      .otherwise(expr(s"transform($v, x -> CAST(floor(x / $scale) AS bigint))"))

  /** Like `quantizeInt8` but APPENDS the 8-bit code column to the
    * input row instead of projecting it out — the streaming arm needs
    * the event-time column to ride along. Same math, same zero-scale
    * guard; the scale itself is not kept (the scale-free int8 cosine
    * is the only consumer there).
    */
  def quantizeInt8Attach(df: DataFrame, embCol: String, as: String): DataFrame = {
    for (c <- Seq("__v8", "__scale8", as) if df.columns.contains(c))
      require(false, s"quantizeInt8Attach: '$c' is reserved — rename it")
    df.withColumn("__v8", asDouble(embCol))
      .withColumn("__scale8", int8Scale("__v8"))
      .withColumn(as, int8Code("__v8", "__scale8"))
      .drop("__v8", "__scale8")
  }

  /** Reconstruct an approximate float vector from `quantizeInt8`
    * output: x̂ = (q + 0.5)·scale (midpoint of the floor bucket —
    * halves the worst-case error vs q·scale).
    */
  def dequantizeInt8(df: DataFrame, qvecCol: String, scaleCol: String,
                     as: String): DataFrame =
    df.withColumn(as,
      expr(s"transform($qvecCol, q -> CAST((CAST(q AS double) + 0.5) * $scaleCol AS float))"))

  /** Deterministic driver-side pseudo-random in [-0.5, 0.5] (splitmix64
    * finalizer). Plane weights are Spark-internal — no oracle ever sees
    * them — so they are precomputed here ONCE and shipped as literals:
    * evaluating a string-concat + hash per (table, bit, dim, row)
    * inside an interpreted lambda was the dominant cost of the
    * multi-table signature (~10k string hashes per row).
    */
  private def splitmixUnit(seed: Long): Double = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    (java.lang.Long.remainderUnsigned(z, 1000001L).toDouble / 1000000.0) - 0.5
  }

  /** Flattened (tables × nbits × dims) plane array for the compiled
    * `HyperplaneSigsExpr` kernel; seed scheme is stable (it pins the
    * verified candidate completeness at the oracle SF). Shared with
    * the streaming arm (`EventStream.semanticDedupStream`) so both
    * sides of a stream-static bucket join hash identically.
    */
  private[graft] def planeArray(tables: Int, nbits: Int, dims: Int): Array[Double] = {
    val out = new Array[Double](tables * nbits * dims)
    var i = 0
    for (t <- 0 until tables; j <- 0 until nbits; d <- 0 until dims) {
      out(i) = splitmixUnit(t.toLong * 1000003L + j.toLong * 8191L + d.toLong)
      i += 1
    }
    out
  }

  /** `planeArray` at `df`'s dimensionality — at least 1, so an empty
    * corpus still gets a well-formed (and unused) plane set.
    */
  private def planesFor(df: DataFrame, embCol: String, tables: Int, nbits: Int): Array[Double] =
    planeArray(tables, nbits, math.max(1, dimsOf(df, embCol)))

  /** Greedy keep-lowest decision over a near-dup pair list: a document
    * is removed iff it has a close neighbor with a LOWER id (SemDeDup's
    * keep-one-per-group rule, realized without iteration — the rule is
    * a per-row predicate over the pair list, not a transitive closure).
    * Output one row per input doc: (id, kept, dup_of = the smallest
    * close lower neighbor, NULL when kept).
    */
  private def applyKeepRule(df: DataFrame, idCol: String,
                            pairs: DataFrame): DataFrame = {
    val dups = pairs.groupBy(col("id_b").as(idCol))
      .agg(min(col("id_a")).as("dup_of"))
    df.select(col(idCol)).join(dups, Seq(idCol), "left")
      .select(col(idCol), col("dup_of").isNull.as("kept"), col("dup_of"))
  }

  /** Semantic deduplication, exact arm: remove every document whose
    * embedding has cosine ≥ `threshold` to a lower-id document
    * (SemDeDup, Abbas et al. 2023 — keep one representative per group
    * of semantically-identical documents). All-pairs by contract: this
    * is the oracle tier (quantized cosine, cross-engine exact); the
    * 100 TB arm is `semanticDedupClustered`, which confines the
    * pairwise scan to k-means cells exactly as the paper does.
    */
  def semanticDedup(df: DataFrame, idCol: String, embCol: String,
                    threshold: Double, partitions: Int = 32): DataFrame =
    applyKeepRule(df, idCol,
      cosineNearDupPairs(df, idCol, embCol, threshold, partitions))

  /** Semantic deduplication, SCALE arm: assign every vector to a
    * k-means cell (same deterministic bounded-sample trainer and
    * compiled assignment kernel as `ivfTopK`), then apply the
    * keep-lowest rule to WITHIN-CELL pairs only — the SemDeDup paper's
    * actual shape. Pair volume drops from N²/2 to Σ_c n_c²/2 ≈
    * N²/(2k); at 100 TB k grows with N (cells stay ~10³-10⁴ vectors)
    * so the per-cell scan is bounded and the join is an equality
    * shuffle on the cell id, never a cartesian.
    *
    * Approximation is one-sided BY CONSTRUCTION: every removal is
    * verified by an exact quantized cosine ≥ threshold, so removals ⊆
    * the exact arm's removals (cross-cell pairs are the misses —
    * semantically-identical vectors land in the same cell; gated with
    * planted duplicates in SemDedupSpec).
    */
  def semanticDedupClustered(df: DataFrame, idCol: String, embCol: String,
                             threshold: Double, nClusters: Int = 16,
                             lloydIters: Int = 5,
                             trainSample: Int = 512): DataFrame = {
    // Zero-norm vectors (null nd) take the -1 sentinel cell and pair
    // only with each other: a pair of them divides 0 by 0 and fails the
    // query under ANSI (DIVIDE_BY_ZERO), the exact tier's contract; a
    // malformed vector's null dot drops its pairs at the threshold.
    val members = trainAssign(df, idCol, embCol, nClusters, lloydIters, trainSample, "cell")
      .select(col(idCol), col("cell"), col("vq"), col("nsq"))
    val pairs = members.as("a")
      .join(members.as("b"),
        col("a.cell") === col("b.cell") && col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        cosQ(col("a.vq"), col("a.nsq"), col("b.vq"), col("b.nsq")).as("cos"))
      .filter(col("cos") >= threshold)
    applyKeepRule(df, idCol, pairs)
  }

  /** Audit for `semanticDedupClustered`: the k-means cell sizes. The
    * clustered arm's pair volume is Σ_cell n², so one runaway cell
    * (badly-trained centroids, degenerate data) silently regresses the
    * scale arm toward the exact tier's N²/2 — this query makes that
    * inspectable, in the same loud-never-silent pattern as
    * `Dedup.hotPostings` for the posting cap. `-1` is the zero-norm
    * quarantine cell.
    */
  def semanticDedupCells(df: DataFrame, idCol: String, embCol: String,
                         nClusters: Int = 16, lloydIters: Int = 5,
                         trainSample: Int = 512): DataFrame =
    trainAssign(df, idCol, embCol, nClusters, lloydIters, trainSample, "cell")
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"))

  /** Public k-means cluster assignment — the shared front half of every
    * clustered tier (semanticDedupClustered, IVF), exposed for the
    * topics/diagnostics layer: (idCol, cluster) with the −1 zero-norm
    * quarantine sentinel. Map-only after the bounded centroid train
    * (compiled `CentroidDistsExpr`, centroids ride the closure).
    */
  def clusterAssign(df: DataFrame, idCol: String, embCol: String,
                    nClusters: Int = 16, lloydIters: Int = 5,
                    trainSample: Int = 512): DataFrame =
    trainAssign(df, idCol, embCol, nClusters, lloydIters, trainSample, "cluster")
      .select(col(idCol), col("cluster"))

  /** Simplified-silhouette clustering diagnostic — the O(N·k) variant
    * (per point: a = distance to its OWN (nearest) centroid, b =
    * distance to the second-nearest; s = (b−a)/max(a,b)), the scale
    * substitute for the O(N²) pairwise silhouette. With a = min the
    * score lives in [0, 1]: near-0 points sit on a cluster boundary,
    * near-1 points are unambiguous — the "is k right / did Lloyd
    * degenerate" screen read before trusting any clustered tier.
    *
    * Exactness discipline: per-point scores floor to integer
    * micro-units, the per-cluster mean is sum div n — addition-order-
    * free. Zero-norm vectors land in the −1 quarantine cell with NULL
    * silhouette (loud, never a 0/0); with a degenerate single
    * effective centroid every silhouette is NULL (no second centroid
    * to compare against — surfaced, not defaulted). Map-only + ONE
    * cluster-keyed aggregate.
    */
  def clusterQuality(df: DataFrame, idCol: String, embCol: String,
                     nClusters: Int = 16, lloydIters: Int = 5,
                     trainSample: Int = 512): DataFrame =
    trainAssign(df, idCol, embCol, nClusters, lloydIters, trainSample, "cluster")
      .withColumn("__s", expr("array_sort(__d)"))
      // try_element_at: a single effective centroid has no second
      // distance — NULL silhouette, not an ANSI index error. Identical
      // twin centroids can put a==b==0: the tiny floor in max() turns
      // that 0/0 into a clean s=0, deterministically.
      .withColumn("__sil",
        when(col("cluster") === lit(-1L), lit(null).cast("long"))
          .otherwise(floor(lit(1e6) *
            (expr("try_element_at(__s, 2)") - expr("try_element_at(__s, 1)")) /
            greatest(expr("try_element_at(__s, 1)"),
              expr("try_element_at(__s, 2)"), lit(1e-300))).cast("long")))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_members"),
        expr("sum(__sil) div count(__sil)").as("silhouette_micro"))

  /** Bucketed near-duplicate pairs: multi-table hyperplane-LSH
    * candidate generation + exact quantized-cosine verification. Same
    * output contract as `cosineNearDupPairs` (id_a < id_b, exact cos ≥
    * threshold) but the join is bucket-equality over (table, bucket) —
    * never an all-pairs product. Candidate volume per table is
    * Σ_bucket n_b² ≈ N²/2^nbits; total ≈ T·N²/2^nbits of the exact
    * arm's N²/2, with per-pair miss probability (1-p^b)^T where
    * p = 1-θ/π is the per-bit agreement at angle θ.
    *
    * Parameter honesty: at REAL near-dup thresholds (cos ≥ 0.9,
    * p ≈ 0.86) a deep code (nbits 16+) separates true pairs from the
    * 2^-nbits random-collision floor and the plan is genuinely
    * sub-quadratic. At this fixture's adversarial setting — isotropic
    * vectors, threshold 0.35 ⇒ p ≈ 0.61 vs the 0.5 floor — NO
    * hyperplane code separates well (0.61/0.5 per bit), so the
    * defaults below are tuned for verified completeness on the fixture
    * (the driver oracle-checks this query EQUAL to the exact arm),
    * not for speed there. The plan shape, not the fixture constants,
    * is what survives the 100× scale-up.
    */
  def cosineNearDupPairsLsh(df: DataFrame, idCol: String, embCol: String,
                            threshold: Double, nbits: Int = 0,
                            tables: Int = 32): DataFrame = {
    // repartition FIRST — the quantize/norm/signature kernels below are
    // per-row interpreted HOFs and a small parquet is one partition.
    // (r18: checkpointing this frame for its three plan branches was
    // MEASURED a slight regression — 2.6 s -> 2.9 s — the blocking
    // materialization loses to the lazy, fully-parallel re-derivation
    // at bench scale; the lazy shape stays.)
    val vecs = withQuantized(doubleVecs(df, idCol, embCol))
    // nbits = 0 (the default) auto-sizes the code depth so buckets stay
    // ~64 vectors: in-bucket pair volume per table is then bounded at
    // ~N·32 rows regardless of corpus size — the depth, not the table
    // count, is what must grow with N. One count() job, cheap next to
    // the pair stage it bounds. (At the oracle SF this resolves to
    // nbits=3, the setting whose candidate completeness was verified.)
    val bits =
      if (nbits > 0) nbits
      else math.max(1, math.ceil(math.log(math.max(df.count(), 2L) / 64.0) /
        math.log(2.0)).toInt)
    // r19: pair generation is a compiled (table, bucket) self-join of
    // the checkpointed posting frame, not collect_list + the
    // interpreted bucketPairs HOF explode — the hashNearDups r18
    // lesson applied to the hyperplane arm. Same candidate set
    // (a.id < b.id rides the join condition; exceptAll-verified 0/0
    // both ways at sf0.1), but whole-stage-codegen'd and without
    // materializing ~64-id buckets as sorted arrays: candidate stage
    // 2.96 s -> 2.11 s same-JVM min-of-3 (the stage is ~85% of this
    // operator at sf0.1 — 1.27 M candidate pairs from N=2000 at
    // nbits=5, the honest below-crossover regime). The checkpoint
    // materializes only (id, table, bucket) rows — N·tables of them —
    // so the sig kernel above it runs once, not once per join side
    // (the r18 bandRows-self-join trap). The cross-table distinct
    // stays: a first-matching-table filter needs the sig arrays on
    // both join sides and an interpreted first-equal-index search per
    // raw candidate row — measured 12.5 s, 6x WORSE.
    val posts = vecs
      .select(col(idCol), posexplode(graft.functions.Sketches.hyperplaneSigs(
        col("vd"), planesFor(df, embCol, tables, bits), tables, bits)))
      .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
      .localCheckpoint()
    val candidates = posts.as("a").join(posts.as("b"),
        col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val sides = vecs.select(col(idCol), col("vq"), col("nsq"))
    candidates
      .join(sides.toDF("id_a", "va", "nsqa"), "id_a")
      .join(sides.toDF("id_b", "vb", "nsqb"), "id_b")
      .select(col("id_a"), col("id_b"),
        cosQ(col("va"), col("nsqa"), col("vb"), col("nsqb")).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Exact kNN graph: every corpus vector's k nearest neighbors by
    * quantized cosine — the input table for graph-based ANN index
    * builds, agglomerative clustering, and label propagation. This is
    * the ORACLE tier and is quadratic by contract (the theta join
    * parallelizes over the left's repartitioned blocks, same shape as
    * `cosineNearDupPairs`); `knnGraphLsh` is the bucketed scale arm.
    * The per-node cut is a rank-limit window, so only k rows per node
    * survive the shuffle. Ties break on the neighbor id.
    * Output: (src, dst, rank, cos).
    */
  def knnGraph(df: DataFrame, idCol: String, embCol: String, k: Int,
               partitions: Int = 32): DataFrame =
    exactKnn(df, idCol, embCol, None, k, partitions)

  /** The quadratic scan of the exact kNN tiers: every ordered pair of
    * rows with distinct ids — and distinct `label`, when there is one —
    * scored by quantized cosine, each src cut to its k best. Output:
    * (src[, src_label], dst[, dst_label], cos, rank).
    */
  private def exactKnn(df: DataFrame, idCol: String, embCol: String,
                       label: Option[String], k: Int, partitions: Int): DataFrame = {
    val keys = idCol +: label.toSeq
    val vecs = exactVecs(df, embCol, keys.map(col): _*)
    def side(t: String, as: String): Seq[Column] =
      col(s"$t.$idCol").as(as) +: label.map(l => col(s"$t.$l").as(s"${as}_label")).toSeq
    topPer(vecs.repartition(partitions).as("a")
        .join(vecs.as("b"), keys.map(c => col(s"a.$c") =!= col(s"b.$c")).reduce(_ && _))
        .select(side("a", "src") ++ side("b", "dst") :+
          cosQ(col("a.v"), col("a.nsq"), col("b.v"), col("b.nsq")).as("cos"): _*),
      "src", "cos", "dst", k, "rank")
  }

  /** Hard-negative mining for contrastive training: for every anchor
    * vector, the k MOST similar vectors carrying a DIFFERENT label —
    * the pairs that teach a metric model the most (easy negatives are
    * already far; hard ones sit inside the margin). The standard
    * companion to the kNN graph when the embedding store has labels.
    *
    * Exact tier: the knnGraph quadratic scan BY CONTRACT (the oracle
    * tier — same quantized-cosine integers, so DuckDB replays it
    * bit-for-bit) with the label inequality in the join condition, so
    * same-label pairs are discarded BEFORE the rank window, never
    * after (a post-rank filter would silently under-fill k).
    * `hardNegativesLsh` is the same semantics over LSH candidates —
    * the corpus-scale arm, recall-gated in AnnSpec like knnGraphLsh.
    */
  def hardNegatives(df: DataFrame, idCol: String, embCol: String,
                    labelCol: String, k: Int,
                    partitions: Int = 32): DataFrame =
    exactKnn(df, idCol, embCol, Some(labelCol), k, partitions)

  /** Hard negatives, bucketed SCALE arm: LSH candidate pairs (linear
    * pair volume), labels attached by two id-keyed equi-joins, the
    * label inequality applied BEFORE the rank window — identical
    * fill-k semantics to the exact tier on whatever candidates the
    * buckets surface. Same honest N ≫ 64·tables crossover as
    * knnGraphLsh.
    */
  def hardNegativesLsh(df: DataFrame, idCol: String, embCol: String,
                       labelCol: String, k: Int,
                       nbits: Int = 0, tables: Int = 32): DataFrame = {
    val labels = df.select(col(idCol), col(labelCol))
    topPer(lshEdges(df, idCol, embCol, nbits, tables)
        .join(labels.withColumnRenamed(idCol, "src")
          .withColumnRenamed(labelCol, "src_label"), "src")
        .join(labels.withColumnRenamed(idCol, "dst")
          .withColumnRenamed(labelCol, "dst_label"), "dst")
        .filter(col("src_label") =!= col("dst_label")),
        "src", "cos", "dst", k, "rank")
      .select(col("src"), col("src_label"), col("dst"), col("dst_label"),
        col("cos"), col("rank"))
  }

  /** Every `cosineNearDupPairsLsh` candidate pair (threshold −1), in
    * both directions, as (src, dst, cos). r19: both directions from ONE
    * row-local explode — the union of two selects re-planned the whole
    * candidate+verify pipeline per branch (exchange reuse caught the
    * shuffles but re-ran the join and cosine compute; 4.04 -> 3.50 s
    * same-JVM on knnGraphLsh, exceptAll-equal).
    */
  private def lshEdges(df: DataFrame, idCol: String, embCol: String,
                       nbits: Int, tables: Int): DataFrame =
    cosineNearDupPairsLsh(df, idCol, embCol, threshold = -1.0, nbits = nbits, tables = tables)
      .select(explode(array(
        struct(col("id_a").as("src"), col("id_b").as("dst"), col("cos")),
        struct(col("id_b").as("src"), col("id_a").as("dst"), col("cos")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"), col("e.cos").as("cos"))

  /** kNN graph, bucketed SCALE arm: candidate neighbors come from
    * shared hyperplane-LSH buckets (the same multi-table signature +
    * in-bucket pair machinery as `cosineNearDupPairsLsh`, so bucket
    * sizes stay ~64 and pair volume is ~N·32·tables instead of N²),
    * then each node ranks its candidates by exact quantized cosine
    * and keeps k. Approximate BY CONTRACT: a true neighbor that
    * shares no bucket in any table is missed, so the arm is
    * recall-gated against `knnGraph` in AnnSpec rather than
    * oracle-compared; recall rises with `tables` (more chances to
    * collide) exactly like `annTopK`'s multiprobe story.
    *
    * Honest crossover: candidate volume is ~N·32·tables (linear —
    * the growth law is gated in ScalePatternsSpec), so the arm only
    * beats the exact N²/2 scan once N ≫ 64·tables; at the sf0.1
    * bench's N=2000 the exact tier is legitimately faster, and this
    * arm is the shape that survives when N² stops fitting anywhere.
    */
  def knnGraphLsh(df: DataFrame, idCol: String, embCol: String, k: Int,
                  nbits: Int = 0, tables: Int = 32): DataFrame =
    topPer(lshEdges(df, idCol, embCol, nbits, tables), "src", "cos", "dst", k, "rank")

  /** Matryoshka truncation-fidelity report — the diagnostic an
    * MRL-style dimensionality cut reads before shrinking the ANN
    * index: for each candidate prefix width, how much of each
    * vector's energy the first w dimensions retain. The cosine
    * between a zero-padded truncation and its own full vector
    * collapses to sqrt(prefix_norm² / full_norm²), so fidelity is an
    * exact norm-prefix ratio: integer quantized norms, one double
    * sqrt (correctly-rounded IEEE in both engines), floored to
    * micro-units before the integer mean — never a summed double.
    *
    * Row-local width explode (|widths| rows per vector) on the
    * quantized grid, one partial-agg shuffle collapsing to |widths|
    * rows. Zero vectors are excluded LOUDLY into a `n_zero` column
    * rather than poisoning the ratio with a 0/0.
    */
  def truncationFidelity(df: DataFrame, idCol: String, embCol: String,
                         widths: Seq[Int]): DataFrame = {
    require(widths.nonEmpty && widths.forall(_ > 0),
      "truncationFidelity: widths must be positive")
    val vecs = df.select(col(idCol), quantize(embCol).as("v"))
      .withColumn("__nsq", dotQ("v", "v"))
      .filter(col("v").isNotNull)
    val wArr = widths.sorted.map(w => lit(w))
    vecs
      .select(col(idCol), col("v"), col("__nsq"),
        explode(array(wArr: _*)).as("width"))
      .withColumn("__pnsq", expr(
        "aggregate(slice(v, 1, width), 0L, (acc, x) -> acc + x * x)"))
      .withColumn("__fid", when(col("__nsq") > 0L,
        floor(sqrt(col("__pnsq").cast("double") / col("__nsq").cast("double"))
          * lit(1000000.0)).cast("long")))
      .groupBy(col("width"))
      .agg(count(col("__fid")).as("n_vecs"),
        sum(when(col("__nsq") === 0L, 1L).otherwise(0L)).as("n_zero"),
        expr("sum(__fid) div count(__fid)").as("mean_fid_micro"),
        min(col("__fid")).as("min_fid_micro"))
  }

  /** Embedding-drift monitor — the SEMANTIC member of the drift family
    * (L-97 tracks token mass, L-102 streams it): per label, the cosine
    * between the old and new snapshots' class centroids. Because
    * cosine is scale-invariant, the centroid cosine equals the cosine
    * of the per-dimension INTEGER SUMS on the quantized grid — so the
    * whole comparison is exact BIGINT arithmetic (per-dim sums ≤
    * n·maxq, dots ≤ d·(n·maxq)² ≪ 2^63) with ONE correctly-rounded
    * double division and two sqrts at the very end, floored to
    * micro-units. A label present on only one side (or with a
    * zero-sum centroid) surfaces with the −2e6 sentinel — outside the
    * cosine range, loud, never NULL.
    *
    * Scale shape: each snapshot collapses row-locally (posexplode) to
    * labels × d integer sums in one partial-aggregated shuffle; the
    * full-outer equi-join and the label collapse run on those tiny
    * tables. Corpus vectors never pairwise-join.
    */
  def embedDrift(oldDf: DataFrame, newDf: DataFrame, labelCol: String,
                 embCol: String): DataFrame = {
    def dimSums(df: DataFrame, s: String, n: String): DataFrame =
      df.select(col(labelCol).as("label"),
          posexplode(quantize(embCol)).as(Seq("dim", "__q")))
        .groupBy(col("label"), col("dim"))
        .agg(sum(col("__q")).as(s), count(lit(1)).as(n))
    dimSums(oldDf, "__so", "__no")
      .join(dimSums(newDf, "__sn", "__nn"), Seq("label", "dim"), "full_outer")
      .groupBy(col("label"))
      .agg(max(coalesce(col("__no"), lit(0L))).as("n_old"),
        max(coalesce(col("__nn"), lit(0L))).as("n_new"),
        sum(coalesce(col("__so"), lit(0L)) * coalesce(col("__sn"), lit(0L)))
          .as("__dot"),
        sum(coalesce(col("__so"), lit(0L)) * coalesce(col("__so"), lit(0L)))
          .as("__o2"),
        sum(coalesce(col("__sn"), lit(0L)) * coalesce(col("__sn"), lit(0L)))
          .as("__n2"))
      .withColumn("centroid_cos_micro",
        when(col("__o2") > 0L && col("__n2") > 0L,
          floor(col("__dot").cast("double") /
            (sqrt(col("__o2").cast("double")) *
              sqrt(col("__n2").cast("double"))) * lit(1000000.0))
            .cast("long"))
          .otherwise(lit(-2000000L)))
      .select(col("label"), col("n_old"), col("n_new"),
        col("centroid_cos_micro"))
  }

  /** PCA over the embedding store — the dimensionality-reduction /
    * whitening pass that precedes ANN indexing and clustering on a
    * real pipeline (shorter vectors: smaller index, faster kernels).
    *
    * Scale shape is the classic one (MLlib's RowMatrix): ONE
    * `treeAggregate` pass accumulates (n, Σx, Σxxᵀ) — d²+d+1 doubles
    * per partition, ~33 KB at d=64, independent of corpus size — the
    * driver runs an O(d³) cyclic-Jacobi eigensolve on the d×d
    * covariance (deterministic: fixed sweep order, convergence on the
    * off-diagonal norm, sign fixed per vector), and the k×d projection
    * goes back BROADCAST inside the compiled `MatVecExpr` kernel with
    * the mean subtraction folded into its bias. The corpus is read
    * twice and never shuffled.
    *
    * Returns (mean[d], components[k·d] row-major — orthonormal rows in
    * descending-eigenvalue order, eigenvalues[k]).
    */
  def pcaTrain(df: DataFrame, idCol: String, embCol: String,
               k: Int): (Array[Double], Array[Double], Array[Double]) = {
    val d = dimsOf(df, embCol)
    require(d > 0, "pcaTrain: no well-formed vectors")
    require(k > 0 && k <= d, s"pcaTrain: need 0 < k <= dims, got $k/$d")
    val vecs = df
      .select(asDouble(embCol).as("vd"))
      .where(col("vd").isNotNull && size(col("vd")) === d)
    // Shifted one-pass accumulation (r8 advisor): E[xxᵀ] - μμᵀ suffers
    // catastrophic cancellation when the mean is large relative to the
    // variance (spurious ~-1e-9 eigenvalues that whitening amplifies).
    // Centering on the corpus's FIRST vector before accumulating keeps
    // the Gram entries O(variance) instead of O(mean²) while staying a
    // single distributed pass; cov is shift-invariant, and the true
    // mean is recovered as shift + mean(centered). The 1-row take is a
    // bounded driver probe, same class as the date-bounds collect.
    val firstRow = vecs.take(1)
    require(firstRow.nonEmpty, "pcaTrain: no well-formed vectors")
    val shift = firstRow(0).getSeq[Double](0).toArray
    // acc layout: [0] = n, [1..d] = Σ(x-s), [1+d ..] = Σ(x-s)(x-s)ᵀ
    val zero = new Array[Double](1 + d + d * d)
    val acc = vecs.rdd.map(_.getSeq[Double](0).toArray).treeAggregate(zero)(
      (a, v) => {
        a(0) += 1.0
        var i = 0
        while (i < d) {
          val xi = v(i) - shift(i)
          a(1 + i) += xi
          val off = 1 + d + i * d
          var j = 0
          while (j < d) { a(off + j) += xi * (v(j) - shift(j)); j += 1 }
          i += 1
        }
        a
      },
      (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    val n = acc(0)
    require(n > 0, "pcaTrain: no well-formed vectors")
    val meanC = Array.tabulate(d)(i => acc(1 + i) / n)
    val mean = Array.tabulate(d)(i => shift(i) + meanC(i))
    val cov = Array.tabulate(d, d)((i, j) =>
      acc(1 + d + i * d + j) / n - meanC(i) * meanC(j))
    val (eig, vecsOut) = jacobiEig(cov)
    val order = eig.indices.sortBy(i => -eig(i)).take(k)
    val comps = new Array[Double](k * d)
    val eigK = new Array[Double](k)
    for ((src, c) <- order.zipWithIndex) {
      eigK(c) = eig(src)
      // column src of the accumulated rotation is the eigenvector;
      // fix its sign so the largest-magnitude entry is positive
      // (eigenvectors are defined up to sign — this pins a canonical
      // representative so reruns and tests are stable)
      var maxAbs = 0.0; var maxIdx = 0
      var i = 0
      while (i < d) {
        val x = math.abs(vecsOut(i)(src))
        if (x > maxAbs + 1e-15) { maxAbs = x; maxIdx = i }
        i += 1
      }
      val s = if (vecsOut(maxIdx)(src) < 0) -1.0 else 1.0
      i = 0
      while (i < d) { comps(c * d + i) = s * vecsOut(i)(src); i += 1 }
    }
    (mean, comps, eigK)
  }

  /** Orthogonal Procrustes alignment (Schönemann 1966; the
    * Mikolov/MUSE cross-lingual embedding recipe): the orthogonal map
    * W minimizing Σ‖W·x − y‖² over anchor pairs — align two embedding
    * spaces (two encoder versions, two languages, two snapshots)
    * WITHOUT distorting either's internal geometry (W is a rotation:
    * all distances and cosines are preserved, the property a general
    * least-squares map destroys). W = U·Vᵀ from the SVD of the
    * cross-moment M = Σ y·xᵀ, realized on the existing machinery:
    * ONE treeAggregate accumulates the d×d M (d² doubles per
    * partition, corpus-size-independent — the pcaTrain shape), the
    * driver takes eig(MᵀM) = V·Σ²·Vᵀ with the shared deterministic
    * Jacobi, U = M·V·Σ⁻¹ column-wise (σ floored at 1e-12: a
    * rank-deficient anchor set leaves that direction ~unconstrained
    * and the floor keeps it finite rather than exploding — document
    * anchors should span the space). Returns row-major W (d×d).
    *
    * Rows-only surface BY CONTRACT (float treeAggregate order +
    * iterative Jacobi); ProcrustesSpec gates planted-rotation
    * recovery, orthogonality, and geometry preservation.
    */
  def procrustesTrain(pairs: DataFrame, srcCol: String,
                      tgtCol: String): Array[Double] = {
    val rows = pairs
      .select(asDouble(srcCol).as("x"), asDouble(tgtCol).as("y"))
      .where(col("x").isNotNull && col("y").isNotNull &&
        size(col("x")) === size(col("y")))
    val first = rows.take(1)
    require(first.nonEmpty, "procrustesTrain: no well-formed anchor pairs")
    val d = first(0).getSeq[Double](0).length
    val zero = new Array[Double](d * d)
    val m = rows.rdd
      .map(r => (r.getSeq[Double](0).toArray, r.getSeq[Double](1).toArray))
      .filter { case (x, y) => x.length == d && y.length == d }
      .treeAggregate(zero)(
        (a, p) => {
          val (x, y) = p
          var i = 0
          while (i < d) {
            val yi = y(i); val off = i * d
            var j = 0
            while (j < d) { a(off + j) += yi * x(j); j += 1 }
            i += 1
          }
          a
        },
        (a, b) => { var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a })
    // MᵀM is symmetric PSD: eig -> V, sqrt(eig) -> Σ
    val mtm = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var r = 0
      while (r < d) { s += m(r * d + i) * m(r * d + j); r += 1 }
      s
    }
    val (eig, v) = jacobiEig(mtm)
    val sigma = eig.map(e => math.sqrt(math.max(e, 0.0)))
    // U columns: u_c = M v_c / σ_c (floored)
    val u = Array.ofDim[Double](d, d)
    var c = 0
    while (c < d) {
      val s = math.max(sigma(c), 1e-12)
      var r = 0
      while (r < d) {
        var acc = 0.0; var j = 0
        while (j < d) { acc += m(r * d + j) * v(j)(c); j += 1 }
        u(r)(c) = acc / s
        r += 1
      }
      c += 1
    }
    // W = U Vᵀ, row-major
    val w = new Array[Double](d * d)
    var r = 0
    while (r < d) {
      var cc = 0
      while (cc < d) {
        var acc = 0.0; var k2 = 0
        while (k2 < d) { acc += u(r)(k2) * v(cc)(k2); k2 += 1 }
        w(r * d + cc) = acc
        cc += 1
      }
      r += 1
    }
    w
  }

  /** Apply a trained Procrustes map: aligned = W·x through the
    * compiled broadcast MatVec kernel (zero bias) — map-only, the
    * pcaProjectWith plan shape.
    */
  def procrustesApply(df: DataFrame, idCol: String, embCol: String,
                      w: Array[Double]): DataFrame = {
    val d = math.sqrt(w.length).toInt
    require(d * d == w.length, "procrustesApply: W must be square d x d")
    df.select(col(idCol), asDouble(embCol).as("__vd"))
      .select(col(idCol),
        graft.functions.Sketches.matVec(col("__vd"), w,
          new Array[Double](d)).as("aligned"))
  }

  /** Deterministic cyclic Jacobi for a symmetric matrix: returns
    * (eigenvalues, rotation V with eigenvectors as COLUMNS). Fixed
    * (p,q) sweep order, stop when the off-diagonal Frobenius mass
    * drops below 1e-12 of the diagonal's (or 64 sweeps).
    */
  private[llm] def jacobiEig(a0: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    def offMass(): Double = {
      var s = 0.0
      for (i <- 0 until d; j <- 0 until d if i != j) s += a(i)(j) * a(i)(j)
      s
    }
    val diagMass = math.max(1e-300, (0 until d).map(i => a(i)(i) * a(i)(i)).sum)
    var sweep = 0
    while (sweep < 64 && offMass() > 1e-12 * diagMass) {
      for (p <- 0 until d; q <- p + 1 until d if math.abs(a(p)(q)) > 1e-300) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
        // sign(0) must be 1 here: equal diagonal entries (θ = 0) need
        // the full 45° rotation — math.signum(0.0) = 0 would turn the
        // rotation into the identity and stall the sweep entirely (a
        // zero-diagonal PPMI matrix exposed this; covariance inputs
        // almost never have exactly-equal diagonals)
        val sg = if (theta >= 0.0) 1.0 else -1.0
        val t = sg / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val s = t * c
        var i = 0
        while (i < d) {
          val aip = a(i)(p); val aiq = a(i)(q)
          a(i)(p) = c * aip - s * aiq
          a(i)(q) = s * aip + c * aiq
          i += 1
        }
        i = 0
        while (i < d) {
          val api = a(p)(i); val aqi = a(q)(i)
          a(p)(i) = c * api - s * aqi
          a(q)(i) = s * api + c * aqi
          val vip = v(i)(p); val viq = v(i)(q)
          v(i)(p) = c * vip - s * viq
          v(i)(q) = s * vip + c * viq
          i += 1
        }
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  /** Project every vector onto the top-k principal components (rows of
    * the trained basis); `whiten = true` additionally scales each
    * output dimension to unit variance (1/√λ, λ floored at 1e-12 so a
    * rank-deficient direction maps to ~0 instead of exploding).
    * Output: (idCol, proj array<double>[k]). Projection runs in the
    * broadcast compiled kernel; see `pcaTrain` for the scale story.
    */
  def pcaProject(df: DataFrame, idCol: String, embCol: String, k: Int,
                 whiten: Boolean = false): DataFrame = {
    val (mean, comps, eig) = pcaTrain(df, idCol, embCol, k)
    pcaProjectWith(df, idCol, embCol, mean, comps, eig, whiten)
  }

  /** Projection through an already-trained (possibly
    * `api.ModelStore`-loaded) basis — train once, project everywhere;
    * same broadcast compiled-kernel map as `pcaProject`.
    */
  def pcaProjectWith(df: DataFrame, idCol: String, embCol: String,
                     mean: Array[Double], comps: Array[Double],
                     eig: Array[Double], whiten: Boolean = false): DataFrame = {
    val k = eig.length
    val d = mean.length
    require(comps.length == k * d, "pcaProjectWith: components must be k x d")
    val m = new Array[Double](k * d)
    var c = 0
    while (c < k) {
      val scale = if (whiten) 1.0 / math.sqrt(math.max(eig(c), 1e-12)) else 1.0
      var i = 0
      while (i < d) { m(c * d + i) = comps(c * d + i) * scale; i += 1 }
      c += 1
    }
    val bias = Array.tabulate(k) { cc =>
      var s = 0.0; var i = 0
      while (i < d) { s -= m(cc * d + i) * mean(i); i += 1 }
      s
    }
    df.select(col(idCol), asDouble(embCol).as("__vd"))
      .select(col(idCol),
        graft.functions.Sketches.matVec(col("__vd"), m, bias).as("proj"))
  }

  /** Source-centroid domain-similarity matrix — the mixture-design
    * input: per-source mean embedding (the "domain vector"), then
    * pairwise cosine between sources. Which crawl dumps overlap, which
    * curated source is closest to the eval domain, which pair is
    * redundant under temperature mixing — all read off this S×S map
    * (the Pile/DoReMi-style domain geometry, computed exactly).
    *
    * Cross-engine-exact arithmetic: embeddings are milli-quantized,
    * per-(source, dim) sums are exact BIGINTs, and the centroid
    * component is ONE IEEE divide of exactly-representable integers
    * (|Σq| must stay < 2^53 — at |q| ≤ ~4000 that is ~2e12 docs per
    * source before the bound bites). The pairwise dot/norm folds run
    * LEFT-TO-RIGHT over the dim-ordered centroid arrays (`aggregate`
    * here ≡ `list_reduce` in DuckDB), so every double is
    * bit-reproducible. An all-zero-centroid source fails the cosine
    * divide loudly under ANSI — the cosine-tier contract.
    *
    * Scale shape: ONE posexplode shuffle whose partial aggregation
    * collapses to S·d rows per partition before the exchange (the
    * map-side combine is the whole story — corpus rows never reach
    * the reduce side); everything after is S-sized. The pair join is
    * S²/2 rows of d-length arrays — trivia next to the corpus scan.
    * Output: (source_a, source_b, cos, n_a, n_b), source_a < source_b.
    */
  def sourceCentroidSim(docs: DataFrame, embs: DataFrame,
                        docIdCol: String, sourceCol: String,
                        embIdCol: String, embCol: String): DataFrame = {
    val joined = docs.select(col(docIdCol).as("__id"), col(sourceCol).as("__src"))
      .join(embs.select(col(embIdCol).as("__id"), quantize(embCol).as("__vq")),
        "__id")
    val sums = joined
      .select(col("__src"), posexplode(col("__vq")).as(Seq("__dim", "__q")))
      .groupBy(col("__src"), col("__dim"))
      .agg(sum(col("__q")).as("__sq"), count(lit(1)).as("__n"))
    val cen = sums
      .groupBy(col("__src"))
      .agg(sort_array(collect_list(struct(col("__dim"), col("__sq"))))
        .as("__pairs"), max(col("__n")).as("__n"))
      .select(col("__src"),
        expr("transform(__pairs, x -> CAST(x.__sq AS double) / CAST(__n AS double))")
          .as("__cen"),
        col("__n"))
    val withNorm = cen.withColumn("__nsq",
      expr("aggregate(transform(__cen, x -> x * x), CAST(0.0 AS double), (a, b) -> a + b)"))
    // broadcast one side: the pair join is S-sized, but without the
    // hint Spark's unknown-stats planner picks CartesianProduct — the
    // shape the scale sweeps (rightly) flag
    withNorm.as("a")
      .join(broadcast(withNorm.as("b")), col("a.__src") < col("b.__src"))
      .select(col("a.__src").as("source_a"), col("b.__src").as("source_b"),
        (expr("aggregate(zip_with(a.__cen, b.__cen, (x, y) -> x * y), CAST(0.0 AS double), (acc, p) -> acc + p)") /
          sqrt(col("a.__nsq") * col("b.__nsq"))).as("cos"),
        col("a.__n").as("n_a"), col("b.__n").as("n_b"))
  }

  /** Exact DBSCAN (Ester et al. 1996) over cosine ε-neighborhoods —
    * the density clustering that, unlike k-means, needs no k and
    * labels outliers instead of absorbing them: a point with ≥
    * `minPts` neighbors at cos ≥ `threshold` (SELF EXCLUDED — the
    * pinned convention) is CORE; clusters are connected components of
    * the core-core neighbor graph (min-id canonical labels); a
    * non-core point with a core neighbor is BORDER and joins the
    * MINIMUM cluster id among its core neighbors — the deterministic
    * pin for the classic border ambiguity (sequential DBSCAN assigns
    * border points by discovery order, which has no distributed
    * meaning); everything else is NOISE. EVERY input point is
    * emitted with a role — a clustering that silently dropped its
    * outliers would defeat the reason to run DBSCAN.
    *
    * Scale shape: the ε-graph comes from the exact quadratic pair
    * tier BY CONTRACT (`cosineNearDupPairsLsh` is the drop-in scale
    * arm — same output contract, banded); the pair list is
    * checkpointed (it feeds the degree, core-edge and border
    * branches), and everything after runs on the graph, not the
    * vectors: degrees partial-aggregate, components are
    * `connectedComponents`' per-partition union-find contraction and
    * its min-label rounds (2 when the core edges fit one partition),
    * border assignment is one join + min.
    */
  def dbscan(df: DataFrame, idCol: String, embCol: String,
             threshold: Double, minPts: Long): DataFrame = {
    require(minPts >= 1L, s"dbscan: minPts >= 1, got $minPts")
    val pairs = cosineNearDupPairs(df, idCol, embCol, threshold)
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .localCheckpoint(true)
    val edges = pairs.union(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    // r19: the core set and the core-core edge list are each consumed
    // by MULTIPLE downstream branches (core feeds both coreEdges sides
    // and coreClusters; coreEdges feeds connectedComponents' two-way
    // union, which would re-derive the whole degree-join chain per
    // branch) — eagerly checkpoint both, the nodes²-bounded frames.
    // Same-JVM min-of-3 at sf0.1: 5.4 s -> 3.7 s, exceptAll-verified
    // identical output (guide §5 lineage cut, in-query only).
    val core = edges.groupBy(col("id_a").as("id"))
      .agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") >= minPts)
      .select(col("id"))
      .localCheckpoint(true)
    val coreEdges = edges
      .join(core.select(col("id").as("id_a")), Seq("id_a"))
      .join(core.select(col("id").as("id_b")), Seq("id_b"))
      .filter(col("id_a") < col("id_b"))
      .localCheckpoint(true)
    val comp = Dedup.connectedComponents(coreEdges, "id_a", "id_b")
    // isolated cores (no core neighbor) are their own singleton
    // cluster — min-id canonical trivially
    val coreClusters = core
      .join(comp, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id"))
        .as("__ccl"))
    val borderAssign = edges
      .select(col("id_a").as("id"), col("id_b").as("__nb"))
      .join(coreClusters.select(col("id").as("__nb"),
        col("__ccl").as("__ncl")), Seq("__nb"))
      .groupBy(col("id")).agg(min(col("__ncl")).as("__bcl"))
    df.select(col(idCol).cast("long").as("id"))
      .join(coreClusters, Seq("id"), "left")
      .join(borderAssign, Seq("id"), "left")
      .select(col("id").as(idCol),
        when(col("__ccl").isNotNull, lit("core"))
          .when(col("__bcl").isNotNull, lit("border"))
          .otherwise(lit("noise")).as("role"),
        when(col("__ccl").isNotNull, col("__ccl"))
          .otherwise(col("__bcl")).as("cluster_id"))
  }
}
