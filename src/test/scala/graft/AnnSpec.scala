package graft

import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Recall gate for the approximate-nearest-neighbor tier: hyperplane
  * LSH is approximate by design, so the driver's rows-only check is
  * backed here by a deterministic recall measurement against the
  * exact brute-force ranking (same data, same quantization — the only
  * difference is candidate generation).
  */
class AnnSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"

  test("ANN recall@10 beats the scanned-fraction baseline and a fixed floor") {
    val emb = Tables.embeddings(spark, Sf)
    val probes = col("vec_id") < 10
    val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probes, k = 10)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.annTopK(emb, "vec_id", "embedding", probes, k = 10,
        nbits = 5, probeFlips = 1)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & ann).size.toDouble / truth.size
    // multiprobe over 6 of 32 buckets scans ~19% of the corpus; random
    // scanning at that fraction would land recall ≈ 0.19. Everything is
    // deterministic (fixed vectors, hash-derived planes), so the
    // measured value is stable run to run; 0.25 is the honest floor —
    // the embeddings fixture is near-isotropic, which is the LSH
    // worst case (measured: 0.35 at sf0.01).
    val scannedFraction = 6.0 / 32.0
    assert(recall > scannedFraction, s"recall $recall <= scanned fraction $scannedFraction")
    assert(recall >= 0.25, s"recall $recall below floor")
  }

  test("multiprobe recall is monotone in probeFlips at a deep code (nbits=8)") {
    // at nbits=8 the corpus spreads over 256 buckets: 0-flip probing
    // scans ~1 bucket, 1-flip 9, 2-flip 37 — recall must rise with each
    // step, and the 2-bit tier must add real recall over 1-bit (the
    // r3 gap: probeFlips=2 silently behaved as 1)
    val emb = Tables.embeddings(spark, Sf)
    val probes = col("vec_id") < 10
    val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probes, k = 10)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(flips: Int): Double = {
      val ann = Similarity.annTopK(emb, "vec_id", "embedding", probes, k = 10,
          nbits = 8, probeFlips = flips)
        .select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & ann).size.toDouble / truth.size
    }
    val r0 = recallAt(0); val r1 = recallAt(1); val r2 = recallAt(2)
    assert(r0 <= r1 && r1 <= r2, s"recall not monotone: $r0, $r1, $r2")
    assert(r2 > r1, s"2-bit probing added no recall at nbits=8: r1=$r1 r2=$r2")
  }

  test("IVF recall beats the scanned fraction and a fixed floor") {
    // nProbe/nClusters = 4/16 = 25% of the corpus scanned; the k-means
    // locality bonus must lift recall well above that (measured 0.53 at
    // sf0.001 / 0.49 at sf0.01 — density-ADAPTIVE beats the oblivious
    // LSH tier's 0.35 at a comparable scan fraction). Deterministic:
    // hash-seeded init, decimal-averaged Lloyd updates.
    val emb = Tables.embeddings(spark, Sf)
    val probes = col("vec_id") < 10
    val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probes, k = 10)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", probes, k = 10,
        nClusters = 16, nProbe = 4)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth & ivf).size.toDouble / truth.size
    assert(recall > 0.25, s"recall $recall <= scanned fraction 0.25")
    assert(recall >= 0.40, s"recall $recall below floor")
  }

  test("bucketed near-dup pairs equal the exact all-pairs arm") {
    // the scale arm (multi-table LSH candidates + exact verify) must
    // reproduce the exact theta-join result bit-for-bit — same gate the
    // driver applies at sf0.01 via the shared DuckDB oracle
    val emb = Tables.embeddings(spark, Sf)
    val exact = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val bucketed = Similarity.cosineNearDupPairsLsh(emb, "vec_id", "embedding", 0.35)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty)
    assert(bucketed == exact,
      s"bucketed=${bucketed.size} exact=${exact.size} missed=${(exact -- bucketed).size}")
  }

  test("exact top-k: self excluded, ranks dense from 1, cosine within [-1, 1]") {
    val emb = Tables.embeddings(spark, Sf)
    val topk = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      col("vec_id") < 5, k = 3).collect()
    assert(topk.length == 15)
    assert(topk.forall(r => r.getLong(0) != r.getLong(1)))
    val byProbe = topk.groupBy(_.getLong(0))
    assert(byProbe.values.forall(_.map(_.getInt(2)).sorted.toSeq == Seq(1, 2, 3)))
    assert(topk.forall { r => val c = r.getDouble(3); c >= -1.0 && c <= 1.0 })
    // ranks follow cosine descending
    byProbe.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
      assert(sorted == sorted.sorted.reverse)
    }
  }

  test("int8 rerank tier: recall 1.0 vs brute force at shortlist factor 4, exact final cosines") {
    val emb = Tables.embeddings(spark, Sf)
    val probes = col("vec_id") < 10
    val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probes, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val got = Similarity.topKInt8Rerank(emb, "vec_id", "embedding", probes, k = 5,
        rerankFactor = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    // on this fixture the 8-bit shortlist at factor 4 never loses a true
    // neighbor, and the rerank stage re-scores with the SAME exact
    // kernel as brute force — so the full rows agree bit-for-bit
    assert(got.toSet == truth.toSet,
      s"int8 rerank diverged: missing ${truth.toSet -- got.toSet}")
  }

  test("quarantine split: cosine tiers accept a dirty corpus after it, reasons are loud") {
    val emb = Tables.embeddings(spark, Sf)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS double))").as("embedding"))
    val dirty = emb.unionByName(spark.sql(
      """SELECT CAST(-1 AS BIGINT) AS vec_id,
        |       transform(sequence(1, 64), i -> CAST(0 AS double)) AS embedding
        |UNION ALL SELECT CAST(-2 AS BIGINT),
        |       transform(sequence(1, 64), i -> CAST('NaN' AS double))
        |UNION ALL SELECT CAST(-3 AS BIGINT),
        |       array(CAST(1 AS double), CAST(2 AS double))
        |UNION ALL SELECT CAST(-4 AS BIGINT),
        |       transform(sequence(1, 64), i -> IF(i = 1, CAST(NULL AS double), CAST(1 AS double)))
        |UNION ALL SELECT CAST(-5 AS BIGINT), CAST(NULL AS ARRAY<double>)""".stripMargin))
    val (clean, quarantined) = Similarity.quarantineEmbeddings(
      dirty, "vec_id", "embedding", expectedDims = 64)
    // nothing vanishes: every input row lands on exactly one side
    assert(clean.count() + quarantined.count() == dirty.count())
    val reasons = quarantined.select("vec_id", "quarantine_reason").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(reasons == Map(-1L -> "zero_norm", -2L -> "non_finite",
      -3L -> "wrong_dims", -4L -> "null_element", -5L -> "null_vector"),
      s"unexpected reason tags: $reasons")
    // the documented contract: the zero-norm row makes the exact
    // cosine tier fail loudly pre-quarantine...
    val probes = col("vec_id") === -1L || col("vec_id") < 10
    intercept[Exception] {
      Similarity.bruteForceTopK(dirty.filter(col("vec_id") >= -1), "vec_id",
        "embedding", probes, k = 3).collect()
    }
    // ...and the clean side runs green with results bit-equal to the
    // never-dirtied corpus
    val onClean = Similarity.bruteForceTopK(clean, "vec_id", "embedding",
      col("vec_id") < 10, k = 3).collect().toSet
    val onOrig = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      col("vec_id") < 10, k = 3).collect().toSet
    assert(onClean == onOrig)
  }

  test("PQ tier: 8-byte codes, recall floor vs brute force, exact final cosines") {
    val emb = Tables.embeddings(spark, Sf)
    val probes = col("vec_id") < 10

    // storage bound: the PQ artifact is ONE int64 per vector — 8 bytes,
    // vs int8's d bytes (64 here) and float32's 4·d. Codes must be
    // well-formed on this fixture (no zero-norm vectors → none null).
    val codes = Similarity.pqEncode(emb, "vec_id", "embedding").collect()
    assert(codes.nonEmpty)
    val codeField = Similarity.pqEncode(emb, "vec_id", "embedding")
      .schema("pq_code").dataType
    assert(codeField == org.apache.spark.sql.types.LongType,
      s"pq_code must be a single int64 (8 bytes/vector), got $codeField")
    assert(codes.forall(!_.isNullAt(1)), "unexpected null PQ code on a clean fixture")

    val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probes, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val got = Similarity.pqTopK(emb, "vec_id", "embedding", probes, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    val truthPairs = truth.map(t => (t._1, t._2)).toSet
    val gotPairs = got.map(t => (t._1, t._2)).toSet
    val recall = (truthPairs & gotPairs).size.toDouble / truthPairs.size
    // the ADC shortlist at factor 4 over 8-byte codes on the near-
    // isotropic fixture (the PQ worst case: no cluster structure for
    // the codebooks to exploit). Measured: 0.96 here and at sf0.01;
    // 1.0 at rerankFactor 8 on both — 0.8 is the honest floor.
    assert(recall >= 0.8, s"PQ recall@10 $recall below floor")
    // rerank re-scores with the SAME exact quantized-cosine kernel as
    // brute force, so every returned cosine must be bit-equal to the
    // exact cosine for that pair
    val truthCos = truth.map(t => ((t._1, t._2), t._4)).toMap
    got.foreach { case (p, n, _, c) =>
      truthCos.get((p, n)).foreach(exact =>
        assert(exact == c, s"PQ rerank cosine for ($p,$n): $c != exact $exact"))
    }
  }

  test("IVFPQ tier: recall beats the scanned fraction, monotone in nProbe, full-probe matches PQ") {
    val emb = Tables.embeddings(spark, Sf)
    val probes = col("vec_id") < 10
    val truth = Similarity.bruteForceTopK(emb, "vec_id", "embedding", probes, k = 10)
      .select("probe_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(nProbe: Int): Double = {
      val got = Similarity.ivfpqTopK(emb, "vec_id", "embedding", probes,
          k = 10, nProbe = nProbe)
        .select("probe_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (truth & got).size.toDouble / truth.size
    }
    val r4 = recallAt(4); val r8 = recallAt(8); val r16 = recallAt(16)
    // measured 0.56/0.85/0.96 here and 0.50/0.81/0.99 at sf0.01 — the
    // cell-locality bonus (~2× the 4/16 scanned fraction at nProbe=4)
    // plus, at a full scan, recall equal to the raw-PQ tier's: the
    // residual coding and the <p,cent>+ADC bias decomposition recover
    // what cell routing alone would lose
    assert(r4 > 4.0 / 16.0, s"recall@nProbe4 $r4 <= scanned fraction")
    assert(r4 >= 0.4, s"recall@nProbe4 $r4 below floor")
    assert(r4 <= r8 && r8 <= r16, s"recall not monotone in nProbe: $r4, $r8, $r16")
    assert(r16 >= 0.9, s"full-probe recall $r16 below the PQ tier's band")
  }

  test("kNN graph: LSH arm recall floor vs the exact graph, monotone in tables; exact arm well-formed") {
    import graft.llm.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.knnGraph(emb, "vec_id", "embedding", k = 3)
      .select("src", "dst").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val n = emb.count()
    assert(exact.size == n * 3, "exact graph: exactly k edges per node")
    assert(!exact.exists(e => e._1 == e._2), "no self edges")
    def lshEdges(tables: Int) =
      Similarity.knnGraphLsh(emb, "vec_id", "embedding", k = 3,
          tables = tables)
        .select("src", "dst").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val wide = lshEdges(32)
    val narrow = lshEdges(4)
    val recallWide = (wide & exact).size.toDouble / exact.size
    val recallNarrow = (narrow & exact).size.toDouble / exact.size
    assert(recallWide >= 0.9, s"recall@32tables $recallWide")
    assert(recallWide >= recallNarrow - 0.02,
      s"recall must not DROP with more tables: $recallNarrow -> $recallWide")
  }

  test("truncation fidelity: exact prefix-energy ratios, zero vectors loud not poisonous") {
    import spark.implicits._
    import graft.llm.Similarity
    val vecs = Seq(
      (1L, Seq(3.0f, 4.0f, 0.0f, 0.0f)),   // all energy in the first 2 dims
      (2L, Seq(0.0f, 0.0f, 0.0f, 2.0f)),   // none before dim 4
      (3L, Seq(0.0f, 0.0f, 0.0f, 0.0f))    // zero vector — must not poison
    ).toDF("vec_id", "embedding")
    val out = Similarity.truncationFidelity(vecs, "vec_id", "embedding",
      widths = Seq(2, 4))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // width 2: v1 fid = 1e6 exactly, v2 fid = 0; mean = 500000
    assert(out(2) == ((2L, 1L, 500000L, 0L)))
    // width 4 = full dims: every non-zero vector is exactly 1e6
    assert(out(4) == ((2L, 1L, 1000000L, 1000000L)))
  }

  test("hard negatives: never same-label, labels faithful, LSH arm recall floor") {
    import graft.llm.Similarity
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.hardNegatives(emb, "vec_id", "embedding", "label", k = 3)
    val rows = exact.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getInt(1) != r.getInt(3)),
      "a hard negative must carry a different label than its anchor")
    // labels on the output must be the store's labels, not fabricated
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(rows.forall(r => labels(r.getLong(0)) == r.getInt(1) &&
      labels(r.getLong(2)) == r.getInt(3)))
    // every anchor fills k when enough different-label vectors exist
    val byAnchor = rows.groupBy(_.getLong(0))
    assert(byAnchor.values.forall(_.length == 3),
      "label filter runs BEFORE the rank window, so k must fill")
    val exactSet = rows.map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = Similarity.hardNegativesLsh(emb, "vec_id", "embedding",
        "label", k = 3, tables = 32)
      .collect()
    assert(lsh.forall(r => r.getInt(1) != r.getInt(3)))
    val lshSet = lsh.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (lshSet & exactSet).size.toDouble / exactSet.size
    assert(recall >= 0.9, s"hard-negative LSH recall $recall")
  }

  test("int8 quantization: bounded element error, cosine fidelity, zero-vector safe") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val emb = Tables.embeddings(spark, Sf)
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val deq = Similarity.dequantizeInt8(q, "qvec", "scale", "vhat")
    val joined = emb.select(col("vec_id"), col("embedding"))
      .join(deq.select(col("vec_id"), col("scale"), col("vhat")), "vec_id")
      .collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      val v = r.getSeq[Float](1).map(_.toDouble)
      val scale = r.getDouble(2)
      val vh = r.getSeq[Float](3).map(_.toDouble)
      // midpoint reconstruction: per-element error strictly < scale/2 + float ulp
      v.zip(vh).foreach { case (x, xh) =>
        assert(math.abs(x - xh) <= scale / 2 + 1e-6, s"err ${math.abs(x - xh)} vs $scale") }
      val dot = v.zip(vh).map { case (a, b) => a * b }.sum
      val cos = dot / math.sqrt(v.map(x => x * x).sum * vh.map(x => x * x).sum)
      assert(cos > 0.999, s"cosine fidelity after 8-bit quantization, got $cos")
    }
    // a zero vector must not divide by zero
    val zschema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val z = spark.createDataFrame(
      Seq(Row(1L, Seq(0.0f, 0.0f, 0.0f))).asJava, zschema)
    val zq = Similarity.quantizeInt8(z, "vec_id", "embedding").collect().head
    assert(zq.getDouble(1) == 0.0 && zq.getSeq[Long](2).forall(_ == 0L))
  }

  test("embedDrift: centroid cosine extremes, one-sided and zero sentinels") {
    import spark.implicits._
    // 3-4-5 vectors so the integer norms are PERFECT SQUARES and the
    // final double ratio is exactly ±1.0 / 0.0 — no floor-of-0.999…
    def d(rows: (Int, Seq[Float])*) =
      rows.toDF("label", "embedding")
    val old = d((1, Seq(3f, 4f)), (2, Seq(3f, 4f)), (3, Seq(3f, 4f)),
      (4, Seq(0f, 0f)))
    val nw = d(
      (1, Seq(3f, 4f)),   // identical centroid → +1e6
      (2, Seq(-3f, -4f)), // opposite → −1e6
      (5, Seq(3f, 4f)),   // label absent in old → sentinel
      (4, Seq(0f, 0f)))   // zero centroid both sides → sentinel
    val out = Similarity.embedDrift(old, nw, "label", "embedding")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1) == ((1L, 1L, 1000000L)))
    assert(out(2) == ((1L, 1L, -1000000L)))
    assert(out(3) == ((1L, 0L, -2000000L)), "one-sided label is a loud sentinel")
    assert(out(5) == ((0L, 1L, -2000000L)))
    assert(out(4) == ((1L, 1L, -2000000L)), "zero centroids never divide")
    // orthogonal centroids → exactly 0
    val o2 = Similarity.embedDrift(
      d((9, Seq(5f, 0f))), d((9, Seq(0f, 5f))), "label", "embedding")
      .collect().head.getLong(3)
    assert(o2 == 0L)
  }

  test("dbscan: core/border/noise roles, min-id clusters, minPts escalation") {
    import spark.implicits._
    // angles 0°, ±5° form a dense blob; 28° touches only the 5°
    // member; 90° is isolated
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.996f, 0.087f)),
      (3L, Seq(0.996f, -0.087f)), (4L, Seq(0.883f, 0.469f)),
      (5L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val out = Similarity.dbscan(vecs, "vec_id", "embedding",
        threshold = 0.9, minPts = 2L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out.size == 5, "every point must be emitted")
    assert(out(1L) == (("core", 1L)) && out(2L) == (("core", 1L)) &&
      out(3L) == (("core", 1L)))
    assert(out(4L) == (("border", 1L)), "one core neighbor → border")
    assert(out(5L) == (("noise", -1L)), "isolated point stays noise")
    // minPts = 3: only the 5° member keeps 3 neighbors — the blob
    // collapses to one core with three borders
    val strict = Similarity.dbscan(vecs, "vec_id", "embedding",
        threshold = 0.9, minPts = 3L)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(strict(2L) == (("core", 2L)))
    assert(Seq(1L, 3L, 4L).forall(strict(_) == (("border", 2L))))
    assert(strict(5L) == (("noise", -1L)))
    intercept[IllegalArgumentException] {
      Similarity.dbscan(vecs, "vec_id", "embedding", 0.9, 0L)
    }
  }

  test("empty and null-first input: the corpus's rows, an empty frame, or pcaTrain's own error") {
    import org.apache.spark.sql.{DataFrame, Row}
    val emb = Tables.embeddings(spark, Sf)
    val nullFirst = spark.createDataFrame(
        java.util.List.of(Row(-1L, null, 0)), emb.schema)
      .unionByName(emb).coalesce(1)
    val probes = col("vec_id") < 10
    // the rows that do not name the null vector's id -1 in `ids`
    def rowsOf(df: DataFrame, ids: String*): Set[Seq[Any]] =
      df.filter(ids.map(c => col(c) =!= -1L).reduce(_ && _))
        .collect().map(_.toSeq).toSet
    // (operator, run, the error it raises on an empty corpus)
    val cases: Seq[(String, DataFrame => Set[Seq[Any]], Option[String])] = Seq(
      ("cosineNearDupPairsLsh", d => rowsOf(
        Similarity.cosineNearDupPairsLsh(d, "vec_id", "embedding", 0.35), "id_a", "id_b"), None),
      ("annTopK", d => rowsOf(
        Similarity.annTopK(d, "vec_id", "embedding", probes, k = 10),
        "probe_id", "neighbor_id"), None),
      ("auditEmbeddings", d => rowsOf(
        Similarity.auditEmbeddings(d, "vec_id", "embedding", 64)
          .select("vec_id", "quarantine_reason"), "vec_id"), None),
      ("pqEncode", d => rowsOf(Similarity.pqEncode(d, "vec_id", "embedding"), "vec_id"), None),
      ("pqTopK", d => rowsOf(
        Similarity.pqTopK(d, "vec_id", "embedding", probes, k = 10),
        "probe_id", "neighbor_id"), None),
      ("ivfpqTopK", d => rowsOf(
        Similarity.ivfpqTopK(d, "vec_id", "embedding", probes, k = 10),
        "probe_id", "neighbor_id"), None),
      ("pcaTrain", { d =>
        val (mean, comps, eig) = Similarity.pcaTrain(d, "vec_id", "embedding", 2)
        // float sums in partition order: equal to 1e-6, not bit-equal
        Set((mean ++ comps ++ eig).toSeq.map(x => math.round(x * 1e6)))
      }, Some("no well-formed vectors")))
    for ((name, run, emptyError) <- cases) {
      withClue(s"$name, null vector first: ") {
        assert(run(nullFirst) == run(emb))
      }
      withClue(s"$name, empty corpus: ") {
        emptyError match {
          case None => assert(run(emb.limit(0)).isEmpty)
          case Some(msg) =>
            val e = intercept[IllegalArgumentException](run(emb.limit(0)))
            assert(e.getMessage.contains(msg))
        }
      }
    }
  }

  test("empty input: every trained tier returns no rows, with its fixture schema") {
    import org.apache.spark.sql.DataFrame
    val emb = Tables.embeddings(spark, Sf)
    val probes = col("vec_id") < 10
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "ivfTopK" -> (d => Similarity.ivfTopK(d, "vec_id", "embedding", probes, k = 10)),
      "pqTopK" -> (d => Similarity.pqTopK(d, "vec_id", "embedding", probes, k = 10)),
      "ivfpqTopK" -> (d => Similarity.ivfpqTopK(d, "vec_id", "embedding", probes, k = 10)),
      "pqEncode" -> (d => Similarity.pqEncode(d, "vec_id", "embedding")),
      "semanticDedupClustered" ->
        (d => Similarity.semanticDedupClustered(d, "vec_id", "embedding", 0.35)),
      "semanticDedupCells" -> (d => Similarity.semanticDedupCells(d, "vec_id", "embedding")),
      "clusterAssign" -> (d => Similarity.clusterAssign(d, "vec_id", "embedding")),
      "clusterQuality" -> (d => Similarity.clusterQuality(d, "vec_id", "embedding")))
    for ((name, op) <- ops) withClue(s"$name: ") {
      val empty = op(emb.limit(0))
      assert(empty.count() == 0L)
      assert(empty.schema == op(emb).schema)
    }
  }
}
