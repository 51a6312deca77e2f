package graft

import org.apache.spark.sql.functions._

import graft.analytics.PageRank

/** Laws for the integer PageRank: symmetry, centrality ordering,
  * mass conservation up to the documented floor leak, determinism,
  * and the top-N rank contract.
  */
class PageRankSpec extends SparkSpec {

  test("directed cycle: perfect symmetry gives identical masses summing to ~1e12") {
    import spark.implicits._
    val n = 10
    val edges = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong))
      .toDF("src", "dst")
    val pr = PageRank.pageRank(edges, "src", "dst", iters = 10).collect()
    assert(pr.length == n)
    val masses = pr.map(_.getAs[Long]("pr_pico")).distinct
    assert(masses.length == 1, s"cycle nodes must tie exactly, got ${masses.toSeq}")
    val total = pr.map(_.getAs[Long]("pr_pico")).sum
    // floor leak: ≤ 1 pico-unit per (edge + base) per iteration
    assert(total <= PageRank.MassUnit)
    assert(total >= PageRank.MassUnit - 10L * (2 * n) - n)
  }

  test("hub-and-spoke: the hub out-ranks every leaf; ranks are (mass desc, id asc)") {
    import spark.implicits._
    // leaves 1..9 all point at hub 0; the hub spreads back over all
    // leaves (no dangling nodes — the kNN-graph contract this operator
    // rides). The star is bipartite, so mass oscillates hub↔leaves
    // with amplitude ~0.85² per round trip: 30 iterations put the
    // residual well under the hub-leaf gap.
    val edges = ((1 to 9).map(i => (i.toLong, 0L)) ++
      (1 to 9).map(i => (0L, i.toLong))).toDF("src", "dst")
    val pr = PageRank.pageRank(edges, "src", "dst", iters = 30).collect()
    val byId = pr.map(r => r.getAs[Long]("src") ->
      (r.getAs[Long]("pr_pico"), r.getAs[Int]("rank"))).toMap
    assert(byId(0L)._2 == 1, s"hub must rank first, got $byId")
    assert((1L to 9L).forall(l => byId(0L)._1 > byId(l)._1))
    // leaves are symmetric: identical masses, ranks 2..10 by id
    val tail = (1L to 9L).map(byId).map(_._1).distinct
    assert(tail.length == 1)
    assert((1L to 9L).map(byId).map(_._2).toSeq == (2 to 10))
  }

  test("curriculum layout: one row per vector, Weyl shards, centrality-desc positions") {
    val rows = SparkEntry.queries("q_curriculum")(spark, "/root/testdata/sf0.001")
      .collect()
    val nVecs = Tables.embeddings(spark, "/root/testdata/sf0.001").count()
    assert(rows.length == nVecs, "every vector gets exactly one curriculum slot")
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[Int]("shard") == (((id % 65536L) * 40503L) % 65536L % 8L).toInt)
    }
    rows.groupBy(_.getAs[Int]("shard")).foreach { case (_, g) =>
      val byPos = g.sortBy(_.getAs[Int]("pos"))
      assert(byPos.map(_.getAs[Int]("pos")).toSeq == (1 to g.length))
      val order = byPos.map(r => (r.getAs[Long]("pr_pico"), r.getAs[Long]("doc_id")))
      assert(order.sliding(2).forall { case Array((m1, d1), (m2, d2)) =>
        m1 > m2 || (m1 == m2 && d1 < d2) }, "positions must follow (pr desc, id asc)")
    }
  }

  test("deterministic across runs and partitionings; topN cuts after full fixpoint") {
    import spark.implicits._
    val edges = (0 until 40).flatMap { i =>
      Seq((i.toLong, ((i + 7) % 40).toLong), (i.toLong, ((i * 3 + 1) % 40).toLong))
    }.filter { case (a, b) => a != b }.toDF("src", "dst")
    val full = PageRank.pageRank(edges, "src", "dst", iters = 8).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("pr_pico"), r.getAs[Int]("rank")))
    val again = PageRank.pageRank(edges.repartition(7), "src", "dst", iters = 8)
      .collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("pr_pico"), r.getAs[Int]("rank")))
    assert(full.sortBy(_._3).toSeq == again.sortBy(_._3).toSeq)
    val top5 = PageRank.pageRank(edges, "src", "dst", iters = 8, topN = 5)
      .collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("pr_pico"), r.getAs[Int]("rank")))
    assert(top5.sortBy(_._3).toSeq == full.sortBy(_._3).take(5).toSeq,
      "topN must be the prefix of the full ranking, not a re-converged fixpoint")
  }

  test("personalized: seed-free components hold exactly zero; all-seeds degenerates to pageRank; guards loud") {
    import spark.implicits._
    // two disconnected 4-cycles; seeds only in component A (0..3):
    // mass enters via seeds and moves along edges, so component B is
    // EXACTLY zero at every node — the locality law that makes PPR a
    // seed-expansion signal rather than a popularity one
    val cyc = (g: Long) => (0 until 4).map(i =>
      (g * 10 + i, g * 10 + (i + 1) % 4))
    val edges = (cyc(0L) ++ cyc(1L)).toDF("src", "dst")
    val seeds = Seq(0L, 2L).toDF("src")
    val ppr = PageRank.personalizedPageRank(edges, "src", "dst", seeds,
      iters = 10).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((10L to 13L).forall(ppr(_) == 0L),
      s"the seed-free component must hold exactly zero mass: $ppr")
    assert(ppr(0L) > 0L && ppr(1L) > 0L, "the walk reaches non-seeds in A")
    assert(ppr.values.sum <= PageRank.MassUnit, "mass never exceeds the unit")
    // with S = all nodes the teleport term and init equal pageRank's —
    // the two operators must coincide bit-for-bit
    val all = edges.select("src").union(edges.select("dst")).distinct()
    val asPpr = PageRank.personalizedPageRank(edges, "src", "dst", all,
        iters = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    val asPr = PageRank.pageRank(edges, "src", "dst", iters = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sortBy(_._1)
    assert(asPpr.sameElements(asPr), "S = all nodes ⟹ PPR ≡ PageRank exactly")
    // guards: an out-of-graph seed and an empty seed set refuse loud
    val e1 = intercept[IllegalArgumentException] {
      PageRank.personalizedPageRank(edges, "src", "dst",
        Seq(999L).toDF("src"), iters = 2).collect()
    }
    assert(e1.getMessage.contains("not graph nodes"))
    val e2 = intercept[IllegalArgumentException] {
      PageRank.personalizedPageRank(edges, "src", "dst",
        spark.emptyDataset[Long].toDF("src"), iters = 2).collect()
    }
    assert(e2.getMessage.contains("empty seed set"))
  }

  test("an empty graph fails loudly and leaves no cache behind") {
    import spark.implicits._
    // ids, not a count: the context cleaner may drop unreferenced
    // checkpoints of earlier tests meanwhile
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val empty = intercept[IllegalArgumentException] {
      PageRank.pageRank(Seq.empty[(Long, Long)].toDF("src", "dst"), "src", "dst").collect()
    }
    assert(empty.getMessage.contains("empty graph"))
    assert((persisted -- before).isEmpty, spark.sparkContext.getPersistentRDDs)
  }

  test("warm start: composition law on an unchanged graph — warm(cold(5), 3) = cold(8) bit-for-bit") {
    import spark.implicits._
    val edges = (0 until 40).flatMap { i =>
      Seq((i.toLong, ((i + 7) % 40).toLong), (i.toLong, ((i * 3 + 1) % 40).toLong))
    }.filter { case (a, b) => a != b }.toDF("src", "dst")
    val prev = PageRank.pageRank(edges, "src", "dst", iters = 5)
    val warm = PageRank.pageRankWarm(edges, "src", "dst", prev, iters = 3)
      .collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("pr_pico"), r.getAs[Int]("rank")))
    val cold8 = PageRank.pageRank(edges, "src", "dst", iters = 8).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("pr_pico"), r.getAs[Int]("rank")))
    assert(warm.sortBy(_._3).toSeq == cold8.sortBy(_._3).toSeq,
      "the integer update map must compose exactly")
  }

  test("warm start: after an edge delta, few warm iterations converge to the from-scratch fixpoint") {
    import spark.implicits._
    val old = (0 until 40).flatMap { i =>
      Seq((i.toLong, ((i + 7) % 40).toLong), (i.toLong, ((i * 3 + 1) % 40).toLong))
    }.filter { case (a, b) => a != b }.toDF("src", "dst")
    // the daily delta: 3 edges rewire, node 40 arrives
    val nu = old.filter(!(col("src") === 0L && col("dst") === 7L))
      .unionByName(Seq((0L, 11L), (5L, 40L), (40L, 5L)).toDF("src", "dst"))
    val prev = PageRank.pageRank(old, "src", "dst", iters = 30)
    val warm = PageRank.pageRankWarm(nu, "src", "dst", prev, iters = 20)
      .collect().map(r => (r.getAs[Long]("src"),
        r.getAs[Long]("pr_pico"), r.getAs[Int]("rank")))
    val cold = PageRank.pageRank(nu, "src", "dst", iters = 30).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("pr_pico"), r.getAs[Int]("rank")))
    // the contraction ratio is 17/20 per round: a rewired node starts
    // ~5% of its mass from the new fixpoint, and 20 warm rounds shrink
    // that by (17/20)^20 ≈ 0.039 — identical RANKING, masses within
    // 0.5% relative (measured residual ~0.2%; 10 rounds leaves ~0.9%)
    val warmById = warm.map(t => t._1 -> t._2).toMap
    val coldById = cold.map(t => t._1 -> t._2).toMap
    assert(warmById.keySet == coldById.keySet,
      "the arriving node must surface, departed mass must not linger")
    coldById.foreach { case (v, m) =>
      assert(math.abs(warmById(v) - m) <= math.max(m / 200L, 50L),
        s"node $v: warm ${warmById(v)} vs cold $m drifted past 0.5%")
    }
    // ranking: exact agreement wherever the fixpoint separates nodes
    // by more than the warm residual; a pair tied within it may swap
    // (observed once: two nodes 0.02% apart) — that is the tolerance,
    // not a defect
    val coldOrder = cold.sortBy(_._3)
    coldOrder.sliding(2).foreach { case Array((a, ma, _), (b, mb, _)) =>
      if (ma - mb > ma / 200L)
        assert(warmById(a) > warmById(b),
          s"separated pair $a > $b must keep its order under warm refresh")
    }
    assert(warm.sortBy(_._3).map(_._1).take(10).toSeq ==
      coldOrder.map(_._1).take(10).toSeq,
      "the head of the ranking must be reproduced exactly")
  }
}
