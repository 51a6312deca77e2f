package graft

import org.apache.spark.sql.functions._

import graft.llm.Coreset

/** Laws for the k-center greedy coreset (Gonzalez farthest-point):
  * cluster coverage before repetition, radius monotonicity,
  * partitioning determinism, bit-equality against a driver
  * reimplementation of the exact arithmetic, and the loud k > N
  * contract.
  */
class CoresetSpec extends SparkSpec {

  /** Exact driver-side twin of the operator's arithmetic: milli-unit
    * quantization, BIGINT dot, one IEEE multiply/sqrt/divide.
    */
  private def bruteGreedy(vecs: Seq[(Long, Seq[Float])],
                          k: Int): Seq[(Long, Int, Double)] = {
    val q = vecs.map { case (id, v) =>
      id -> v.map(x => math.floor(x.toDouble * 1000).toLong).toArray
    }.sortBy(_._1)
    def nsq(a: Array[Long]): Long = a.map(x => x * x).sum
    def cos(a: Array[Long], b: Array[Long]): Double =
      a.zip(b).map { case (x, y) => x * y }.sum.toDouble /
        math.sqrt((nsq(a) * nsq(b)).toDouble)
    val sel = collection.mutable.ArrayBuffer[(Long, Double)]((q.head._1, -2.0))
    val best = collection.mutable.Map[Long, Double]()
    q.foreach { case (id, v) => best(id) = cos(v, q.head._2) }
    val byId = q.toMap
    while (sel.length < k) {
      val chosen = sel.map(_._1).toSet
      val (nid, nbest) = q.filterNot(p => chosen(p._1))
        .map(p => (p._1, best(p._1)))
        .minBy { case (id, b) => (b, id) }
      sel += ((nid, nbest))
      q.foreach { case (id, v) =>
        best(id) = math.max(best(id), cos(v, byId(nid)))
      }
    }
    sel.toSeq.zipWithIndex.map { case ((id, far), i) => (id, i + 1, far) }
  }

  /** Three tight direction clusters: 8 points each around axes e0, e1,
    * e2 of a 4-dim space, within-cluster perturbation on the unused
    * 4th axis only (so cross-cluster cosine stays ~0 and in-cluster
    * cosine stays ~1).
    */
  private def clustered(): Seq[(Long, Seq[Float])] =
    for (c <- 0 until 3; i <- 0 until 8) yield {
      val v = Array.fill(4)(0.001f)
      v(c) = 1.0f
      v(3) = v(3) + 0.01f * i
      ((c * 8 + i).toLong, v.toSeq)
    }

  test("three separated clusters: the first three centers hit three distinct clusters") {
    import spark.implicits._
    val df = clustered().toDF("vec_id", "embedding")
    val out = Coreset.kCenters(df, "vec_id", "embedding", k = 3).collect()
    assert(out.map(_.getAs[Int]("sel_round")).sorted.toSeq == Seq(1, 2, 3))
    val clustersHit = out.map(_.getAs[Long]("vec_id") / 8).distinct
    assert(clustersHit.length == 3,
      s"k-center must cover all clusters before repeating one, got ${out.toSeq}")
    // first center is the minimum id — the pinned deterministic seed
    assert(out.find(_.getAs[Int]("sel_round") == 1).get
      .getAs[Long]("vec_id") == 0L)
  }

  test("far_cos is non-decreasing from round 2 (Gonzalez radius monotonicity)") {
    val out = SparkEntry.queries("q_coreset")(spark, "/root/testdata/sf0.001")
      .collect().sortBy(_.getAs[Int]("sel_round"))
    assert(out.length == 8)
    assert(out.head.getAs[Double]("far_cos") == -2.0)
    val fc = out.tail.map(_.getAs[Double]("far_cos"))
    assert(fc.zip(fc.tail).forall { case (a, b) => a <= b },
      s"selection similarities must be non-decreasing, got ${fc.toSeq}")
    // k distinct centers
    assert(out.map(_.getAs[Long]("vec_id")).distinct.length == 8)
  }

  test("partitioning determinism + brute-force bit-equality") {
    import spark.implicits._
    // pseudo-random but deterministic fixture: 40 vectors, 6 dims
    val vecs = (0L until 40L).map { id =>
      (id, (0 until 6).map(d =>
        (((id * 2654435761L + d * 40503L) % 1997L).toFloat / 997f) - 1f))
    }
    val expected = bruteGreedy(vecs, k = 5)
    for (parts <- Seq(1, 3, 7)) {
      val got = Coreset.kCenters(
        vecs.toDF("vec_id", "embedding").repartition(parts),
        "vec_id", "embedding", k = 5)
        .collect().sortBy(_.getAs[Int]("sel_round"))
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("sel_round"),
          r.getAs[Double]("far_cos")))
      assert(got.toSeq == expected,
        s"parts=$parts must reproduce the driver twin bit-exactly")
    }
  }

  test("k exceeding the corpus fails loudly") {
    import spark.implicits._
    val df = Seq((1L, Seq(1f, 0f)), (2L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Coreset.kCenters(df, "vec_id", "embedding", k = 3).collect()
    }
    assert(e.getMessage.contains("exceeds"))
    val empty = intercept[IllegalArgumentException] {
      Coreset.kCenters(df.limit(0), "vec_id", "embedding", k = 1).collect()
    }
    assert(empty.getMessage.contains("exceeds the number of distinct vectors (0 found)"))
  }

  test("reserved columns are rejected") {
    import spark.implicits._
    val df = Seq((1L, Seq(1f, 0f), 0.5)).toDF("vec_id", "embedding", "far_cos")
    intercept[IllegalArgumentException] {
      Coreset.kCenters(df, "vec_id", "embedding", k = 1)
    }
  }
}
