package graft

import org.apache.spark.sql.functions._

import graft.llm.Similarity

/** Gates for the semantic-dedup pair (SemDeDup, Abbas et al. 2023):
  * the exact arm is DuckDB-oracle-checked by the driver; the clustered
  * SCALE arm is approximate (cross-cell pairs are invisible), so its
  * contract is pinned here:
  *  - one-sided error: everything the clustered arm removes, the exact
  *    arm removes too (each removal carries an exact cosine witness);
  *  - planted semantic duplicates are ALWAYS caught: an identical
  *    vector lands in the same k-means cell as its original by
  *    determinism of the assignment, so the within-cell scan sees it.
  */
class SemDedupSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"
  private val Threshold = 0.35

  test("exact arm equals the keep-lowest rule over the exact pair list") {
    val emb = Tables.embeddings(spark, Sf)
    val pairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", Threshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val expectRemoved = pairs.groupBy(_._2).map { case (b, ps) => b -> ps.map(_._1).min }
    val got = Similarity.semanticDedup(emb, "vec_id", "embedding", Threshold)
      .collect().map(r => (r.getLong(0), r.getBoolean(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSeq
    assert(got.size == emb.count(), "one decision row per document")
    for ((id, kept, dupOf) <- got) {
      assert(kept == !expectRemoved.contains(id), s"kept flag wrong for $id")
      assert(dupOf == expectRemoved.get(id), s"dup_of wrong for $id")
    }
    assert(got.exists(!_._2), "fixture has planted near-dups; some must be removed")
  }

  test("clustered removals are a subset of exact removals (one-sided error)") {
    val emb = Tables.embeddings(spark, Sf)
    def removed(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.filter(!col("kept")).select("vec_id").collect().map(_.getLong(0)).toSet
    val exact = removed(Similarity.semanticDedup(emb, "vec_id", "embedding", Threshold))
    val clustered = removed(
      Similarity.semanticDedupClustered(emb, "vec_id", "embedding", Threshold))
    assert(clustered.subsetOf(exact),
      s"clustered removed non-duplicates: ${clustered -- exact}")
    assert(clustered.nonEmpty,
      "within-cell scan must still find pairs on this fixture")
  }

  test("planted identical vectors are always removed by the clustered arm") {
    // copy 10 vectors to fresh higher ids: identical input ⇒ identical
    // deterministic cell assignment ⇒ the within-cell scan must see
    // every (original, copy) pair (cos = 1.0), so all copies go.
    val emb = Tables.embeddings(spark, Sf)
    val maxId = emb.agg(max("vec_id")).head.getLong(0)
    val copies = emb.filter(col("vec_id") < 10)
      .withColumn("vec_id", col("vec_id") + lit(maxId + 1))
    val aug = emb.unionByName(copies)
    val out = Similarity.semanticDedupClustered(aug, "vec_id", "embedding", Threshold)
    val copyRows = out.filter(col("vec_id") > maxId)
      .collect().map(r => (r.getLong(0), r.getBoolean(1))).toMap
    assert(copyRows.size == 10)
    assert(copyRows.values.forall(_ == false),
      s"identical copies must be removed: kept = ${copyRows.filter(_._2)}")
    // and each copy's dup_of is a real lower id, not another copy
    val dupOf = out.filter(col("vec_id") > maxId)
      .select("dup_of").collect().map(_.getLong(0))
    assert(dupOf.forall(_ <= maxId), "dup_of must point at a lower-id witness")
  }

  test("cell audit: members conserved, pair volume genuinely sub-quadratic") {
    val emb = Tables.embeddings(spark, Sf)
    val n = emb.count()
    val cells = Similarity.semanticDedupCells(emb, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(cells.map(_._2).sum == n, "every vector lands in exactly one cell")
    assert(cells.forall(_._1 >= -1L))
    // the audit's reason to exist: Σ n_c² must sit well under n² — on
    // this fixture (isotropic, 16 cells) a healthy clustering keeps the
    // within-cell pair volume at a fraction of the all-pairs count
    val pairVolume = cells.map(c => c._2 * c._2).sum
    assert(pairVolume < n * n / 4,
      s"cells too lopsided: Σn²=$pairVolume vs n²=${n * n}")
  }

  test("decision cardinality and dup_of witness law on the clustered arm") {
    val emb = Tables.embeddings(spark, Sf)
    val out = Similarity.semanticDedupClustered(emb, "vec_id", "embedding", Threshold)
    assert(out.count() == emb.count(), "one row per document")
    // every removal's witness must itself be a KEPT-or-removed lower id
    // that really is within threshold (exact cosine check via the
    // oracle-tier pair list)
    val exactPairs = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", Threshold)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val witnesses = out.filter(!col("kept"))
      .select("dup_of", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1)))
    for ((a, b) <- witnesses)
      assert(exactPairs.contains((a, b)), s"witness ($a,$b) is not a true near-dup pair")
  }

  test("semanticContamination: scaled paraphrase flagged, orthogonal content silent, corpus side never drops") {
    import spark.implicits._
    import graft.llm.Similarity
    // bench item 0 along e0; corpus: 100 = 2x the bench vector
    // (cosine 1 — the paraphrase), 101 = orthogonal, 102 = negated
    def v(axis: Int, scale: Double) =
      Seq.tabulate(8)(d => if (d == axis) scale else 0.0)
    val bench = Seq((0L, v(0, 1.0)), (1L, v(1, 1.0)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (100L, v(0, 2.0)), (101L, v(2, 5.0)), (102L, v(0, -1.0)),
      (103L, Seq.tabulate(8)(d => if (d <= 1) 1.0 else 0.0))
    ).toDF("vec_id", "embedding")
    val got = Similarity.semanticContamination(corpus, bench,
      "vec_id", "embedding", threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 100 hits bench 0 (cos 1); 103 hits BOTH bench items (cos ~0.707);
    // the orthogonal and the negated stay silent at 0.5
    assert(got == Set((100L, 0L), (103L, 0L), (103L, 1L)), s"got $got")
    // thresholds compose monotonically: lowering can only add pairs
    val loose = Similarity.semanticContamination(corpus, bench,
      "vec_id", "embedding", threshold = 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(loose))
    intercept[IllegalArgumentException] {
      Similarity.semanticContamination(corpus, bench, "vec_id",
        "embedding", threshold = 0.0)
    }
  }

  test("an all-zero-norm corpus: every row in the -1 cell, and the pair arms fail loudly") {
    import spark.implicits._
    val zeros = (1L to 5L).map(i => (i, Seq(0f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val cells = Similarity.clusterAssign(zeros, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cells == (1L to 5L).map(_ -> -1L).toSet)
    val sizes = Similarity.semanticDedupCells(zeros, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(sizes == Seq((-1L, 5L)))
    val quality = Similarity.clusterQuality(zeros, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.isNullAt(2))).toSeq
    assert(quality == Seq((-1L, 5L, true)), "counted, silhouette NULL")
    // the clustered arm scores the -1 cell like any other, so a zero
    // vector fails it loudly, as it fails the exact arm: the pushed-down
    // cosine filter is evaluated before the id order, even for a
    // vector's pair with itself
    val one = zeros.filter(col("vec_id") === 1L)
    for (arm <- Seq[org.apache.spark.sql.DataFrame => Any](
        Similarity.semanticDedup(_, "vec_id", "embedding", Threshold).collect(),
        Similarity.semanticDedupClustered(_, "vec_id", "embedding", Threshold).collect())) {
      val e = intercept[Exception](arm(one))
      assert(e.getMessage.contains("DIVIDE_BY_ZERO"))
    }
  }
}
