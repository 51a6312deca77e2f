package graft

import org.apache.spark.sql.functions._

import graft.analytics.Triangles
import graft.llm.Similarity

/** Laws for the Schank–Wagner triangle count: textbook graphs with
  * hand-computable answers, input-form invariance (the orientation
  * must collapse directed/duplicated kNN output), and partitioning
  * determinism on the real fixture graph.
  */
class TrianglesSpec extends SparkSpec {

  private def asMap(rows: Array[org.apache.spark.sql.Row]) =
    rows.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap

  test("ring of 6: degree 2 everywhere, zero triangles, zero coefficient") {
    import spark.implicits._
    val edges = (0 until 6).map(i => (i.toLong, ((i + 1) % 6).toLong))
      .toDF("a", "b")
    val out = Triangles.localTriangles(edges, "a", "b").collect()
    assert(out.length == 6)
    assert(out.forall(r =>
      r.getLong(1) == 2L && r.getLong(2) == 0L && r.getLong(3) == 0L))
  }

  test("K5: every node in C(4,2)=6 triangles, coefficient exactly 1e6") {
    import spark.implicits._
    val edges = (for { i <- 0 until 5; j <- 0 until 5 if i < j }
      yield (i.toLong, j.toLong)).toDF("a", "b")
    val out = Triangles.localTriangles(edges, "a", "b").collect()
    assert(out.length == 5)
    assert(out.forall(r =>
      r.getLong(1) == 4L && r.getLong(2) == 6L && r.getLong(3) == 1000000L))
  }

  test("K4 plus pendant: pendant surfaces loud with zeros, hub's open wedges dilute its coefficient") {
    import spark.implicits._
    val k4 = for { i <- 0 until 4; j <- 0 until 4 if i < j }
      yield (i.toLong, j.toLong)
    val m = asMap(Triangles.localTriangles(
      (k4 :+ ((3L, 9L))).toDF("a", "b"), "a", "b").collect())
    assert(m(9L) == ((1L, 0L, 0L)), "degree-1 pendant: zero triangles, never dropped")
    assert(m(0L) == ((3L, 3L, 1000000L)), "pure K4 member: closed neighborhood")
    assert(m(3L) == ((4L, 3L, 500000L)), "hub: 2*3*1e6 div (4*3)")
  }

  test("a call leaves no cache entry behind and counts as before") {
    import spark.implicits._
    spark.catalog.clearCache()
    val k4 = for { i <- 0 until 4; j <- 0 until 4 if i < j }
      yield (i.toLong, j.toLong)
    val m = asMap(Triangles.localTriangles(
      (k4 :+ ((3L, 9L))).toDF("a", "b"), "a", "b").collect())
    assert(spark.sharedState.cacheManager.isEmpty,
      "localTriangles must not leave cached frames in the session")
    assert(m == Map(0L -> ((3L, 3L, 1000000L)), 1L -> ((3L, 3L, 1000000L)),
      2L -> ((3L, 3L, 1000000L)), 3L -> ((4L, 3L, 500000L)), 9L -> ((1L, 0L, 0L))))
  }

  test("input-form invariance: reversed and duplicated directed edges count identically") {
    import spark.implicits._
    val base = for { i <- 0 until 4; j <- 0 until 4 if i < j }
      yield (i.toLong, j.toLong)
    val messy = (base ++ base.map(_.swap) ++ base).toDF("a", "b")
    val clean = base.toDF("a", "b")
    assert(Triangles.localTriangles(messy, "a", "b").collect().toSet ==
      Triangles.localTriangles(clean, "a", "b").collect().toSet)
  }

  test("partitioning determinism on the fixture kNN graph") {
    val edges = Similarity.knnGraph(
        Tables.embeddings(spark, "/root/testdata/sf0.001"),
        "vec_id", "embedding", k = 3)
      .select(col("src"), col("dst"))
    val a = Triangles.localTriangles(edges, "src", "dst").collect().toSet
    val b = Triangles.localTriangles(edges.repartition(7), "src", "dst")
      .collect().toSet
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("kcore: K4 plus a pendant chain — the clique survives the 3-peel, the chain cascades away") {
    import spark.implicits._
    import graft.analytics.Kcore
    // K4 on {0,1,2,3}; chain 3-4-5-6 hangs off it; one self-loop and
    // a duplicated/reversed edge to exercise canonicalization
    val edges = (Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L),
      (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (5L, 5L), (2L, 1L)))
      .toDF("src", "dst")
    val got = Kcore.kcoreMembers(edges, "src", "dst", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L),
      s"3-core must be exactly the K4 with in-core degree 3, got $got")
    // chain cascade at k=2: the pendant chain peels from the tip
    // inward, the K4 keeps its cycle
    val core2 = Kcore.kcoreMembers(edges, "src", "dst", k = 2)
      .collect().map(_.getLong(0)).toSet
    assert(core2 == Set(0L, 1L, 2L, 3L),
      s"2-core must peel the whole open chain, got $core2")
    // a pure path has NO 2-core — the cascade must run to empty
    val path = (0L until 6L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(Kcore.kcoreMembers(path, "src", "dst", k = 2).isEmpty)
    // partitioning-independence
    val rep = Kcore.kcoreMembers(edges.repartition(7), "src", "dst", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == got)
    // a pendant chain longer than maxRounds: the 2-core needs 3 peels,
    // so a cap of r returns exactly r unrolled peels — the honest
    // superset the oracle's unconditionally unrolled rounds give
    val und = edges.collect().map(r => (r.getLong(0) min r.getLong(1),
      r.getLong(0) max r.getLong(1))).filter { case (a, b) => a != b }.toSet
    def degrees(s: Set[Long]): Map[Long, Long] = und.toSeq
      .filter { case (a, b) => s(a) && s(b) }
      .flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (v, vs) => v -> vs.size.toLong }
    for (r <- Seq(1, 2)) {
      val peeled = (1 to r).foldLeft((0L to 6L).toSet)((s, _) =>
        degrees(s).filter(_._2 >= 2).keySet)
      val capped = Kcore.kcoreMembers(edges, "src", "dst", k = 2, maxRounds = r)
        .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
      assert(capped == degrees(peeled), s"maxRounds=$r")
      assert(capped.keySet == (0L to 6L - r).toSet, s"maxRounds=$r keeps the chain's base")
    }
  }

  test("contaminationReport: union counts once, per-detector columns split verbatim vs paraphrase, exact rates") {
    import spark.implicits._
    import graft.llm.Dedup
    val corpus = Seq(
      (1L, "web"), (2L, "web"), (3L, "web"), (4L, "web"),
      (5L, "books"), (6L, "books")
    ).toDF("doc_id", "source")
    val lex = Seq(1L, 2L).toDF("doc_id")      // verbatim leaks
    val sem = Seq(2L, 3L, 5L).toDF("doc_id")  // paraphrase leaks (2 = both)
    val got = Dedup.contaminationReport(corpus, "doc_id", "source",
      lex, sem).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    // web: 4 docs, lex {1,2}, sem {2,3} -> union {1,2,3} = 3; rate 750000
    assert(got("web") == ((4L, 2L, 2L, 3L, 750000L)), s"got ${got("web")}")
    // books: 6 docs? no — 2 docs, sem {5} -> 1 leaked, rate 500000
    assert(got("books") == ((2L, 0L, 1L, 1L, 500000L)), s"got ${got("books")}")
    // duplicate verdict ids must not double-count
    val dupVerdicts = Dedup.contaminationReport(corpus, "doc_id", "source",
      Seq(1L, 1L, 1L).toDF("doc_id"), Seq.empty[Long].toDF("doc_id"))
      .filter(col("source") === "web").head()
    assert(dupVerdicts.getLong(2) == 1L && dupVerdicts.getLong(4) == 1L)
  }

  test("assortativity: star → exactly −1e6, regular ring → NULL, dup/directed edges collapse, hand value") {
    import spark.implicits._
    // K1,5: hub degree 5 meets leaf degree 1 on every edge; d1 = d2 =
    // n²(n−1)² is a PERFECT SQUARE so the IEEE tail is exact → −1e6
    val star = (1 to 5).map(l => (0L, l.toLong)).toDF("a", "b")
    val s = Triangles.assortativity(star, "a", "b").head()
    assert(s.getLong(0) == 10L && s.getLong(1) == -1000000L, s"got $s")
    // a ring is 2-regular: degree variance 0 → undefined, never fake 0
    val ring = (0 to 5).map(i => (i.toLong, ((i + 1) % 6).toLong))
      .toDF("a", "b")
    assert(Triangles.assortativity(ring, "a", "b").head().isNullAt(1))
    // duplicates, reversed duplicates and self-loops collapse/drop
    val messy = star.unionAll(star.select(col("b").as("a"),
      col("a").as("b"))).unionAll(Seq((3L, 3L)).toDF("a", "b"))
    assert(Triangles.assortativity(messy, "a", "b").head() == s)
    // hand graph: path 1-2-3 plus pendant 3-4; replicate the pinned
    // IEEE tail with the driver's own moments
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val p = Triangles.assortativity(path, "a", "b").head()
    // degrees: 1→1, 2→2, 3→2, 4→1; directed pairs (dx, dy):
    // (1,2),(2,1),(2,2),(2,2),(2,1),(1,2) → n=6, Σxy=16, Σx=Σy=10,
    // Σx²=Σy²=18 → num = 96−100 = −4, d = 108−100 = 8
    val expect = math.floor(1000000.0 * -4.0 /
      (math.sqrt(8.0) * math.sqrt(8.0))).toLong
    assert(p.getLong(0) == 6L && p.getLong(1) == expect, s"got $p")
    // empty edge set: one NULL row, never a crash
    assert(Triangles.assortativity(star.limit(0), "a", "b").head()
      .isNullAt(1))
  }
}
