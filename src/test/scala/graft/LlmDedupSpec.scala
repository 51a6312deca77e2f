package graft

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.Level
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.llm.{Dedup, TextOps}
import graft.operators.Fixpoint

/** Property gates for the approximate dedup tier: the rows-only driver
  * check can't judge quality, so MinHash-LSH is held to its exact
  * counterpart (recall AND precision), and SimHash to its defining
  * monotonicity property.
  */
class LlmDedupSpec extends SparkSpec {

  private val Sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, Sf)

  /** 30 near-dup clusters of 6 (hub = min id of the cluster, members
    * star onto it) bridged in sequence: member 5 of cluster c pairs
    * with member 1 of cluster c + 1. One component, labelled 0.
    */
  private val clusterChain: Seq[(Long, Long)] =
    (for (c <- 0 until 30; m <- 1 until 6) yield (c * 100L, c * 100L + m)) ++
      (for (c <- 0 until 29) yield (c * 100L + 5L, (c + 1) * 100L + 1L))

  /** Unblocked exact truth: every pair with bigram Jaccard >= t. */
  private def exactPairs(t: Double): Set[(Long, Long)] =
    Dedup.ngramJaccardPairs(
      docs.withColumn("__all", lit(1)), "doc_id", "text", "__all", 2, t)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("MinHash-LSH: recall 1.0 and precision 1.0 vs exact bigram Jaccard at 0.5") {
    val truth = exactPairs(0.5)
    assert(truth.nonEmpty, "fixture should contain planted near-duplicates")
    val found = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is structural (candidates are Jaccard-verified before the
    // threshold filter); recall is the property under test — with 16
    // bands × 4 rows, a true pair at j >= 0.5 is missed w.p. (1-j^4)^16
    // <= 1.6e-2, and the planted pairs sit at j >= 0.9 (miss < 1e-8).
    assert(found == truth,
      s"minhash=${found.size} truth=${truth.size} missed=${(truth -- found).size} extra=${(found -- truth).size}")
  }

  test("curation scale-arm swap: q_curation_lsh equals q_curation") {
    // The exact inverted-index arm exists so the pipeline stays
    // DuckDB-verifiable; the MinHash arm is the plan a 100 TB run uses.
    // On this fixture LSH recall/precision are 1.0 (test above), so the
    // two pipelines must agree bit-for-bit.
    import graft.queries.PipelineQueries
    def rows(q: String): Set[Row] =
      PipelineQueries.queries(q)(spark, Sf).collect().toSet
    val exact = rows("q_curation")
    val lsh = rows("q_curation_lsh")
    assert(exact.nonEmpty)
    assert(lsh == exact,
      s"lsh=${lsh.size} exact=${exact.size} diff=${(lsh diff exact).size + (exact diff lsh).size}")
  }

  test("lang-blocked MinHash equals lang-blocked exact Jaccard") {
    val truth = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 2, 0.5)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5,
        blockCol = Some("lang"))
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truth.nonEmpty)
    assert(found == truth)
  }

  test("null blocks never pair: scale arm mirrors the exact arm's equi-join semantics") {
    // Two identical texts whose block is NULL: the exact arm's
    // (block, gram) equi-join can't match NULL=NULL, so it finds no
    // pair — the LSH arm's groupBy bucket WOULD (grouping treats NULLs
    // as equal) unless null-block rows are filtered out of candidate
    // generation. Both arms must agree: no pair.
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("blk", StringType),
      StructField("text", StringType)))
    val txt = (1 to 30).map(i => s"tok$i").mkString(" ")
    val df = spark.createDataFrame(Seq(
      Row(1L, null, txt), Row(2L, null, txt),           // null-block twins
      Row(3L, "en", txt), Row(4L, "en", txt)).asJava,   // blocked twins
      schema)
    val exact = Dedup.ngramJaccardPairs(df, "id", "text", "blk", 2, 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashNearDups(df, "id", "text", threshold = 0.5,
        blockCol = Some("blk"))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((3L, 4L)), s"exact arm saw $exact")
    assert(lsh == exact, s"lsh=$lsh exact=$exact — null-block rows paired")
  }

  test("maxPostingLen cap drops hot grams loudly, never silently") {
    // cap=5 on this fixture (31-word vocab → every gram hot) must (a)
    // report the dropped postings via the audit query and (b) visibly
    // change the result; cap=None stays byte-identical to the default.
    val uncapped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 2, 0.5)
      .collect().toSet
    val capped = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 2, 0.5,
      maxPostingLen = Some(5)).collect().toSet
    val dropped = Dedup.hotPostings(docs, "doc_id", "text", "lang", 2, maxPostingLen = 5)
    assert(dropped.count() > 0, "fixture grams are common; cap=5 must flag some")
    assert(capped != uncapped, "capping hot grams must change the exact result here")
    val explicitNone = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 2, 0.5,
      maxPostingLen = None).collect().toSet
    assert(explicitNone == uncapped)
    // a cap no posting exceeds is a no-op — and the audit agrees (empty)
    val high = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 2, 0.5,
      maxPostingLen = Some(1000000)).collect().toSet
    assert(high == uncapped)
    assert(Dedup.hotPostings(docs, "doc_id", "text", "lang", 2, 1000000).count() == 0)
  }

  test("prefix-filtered Jaccard join is exact vs in-memory brute force") {
    val data = docs.select("doc_id", "lang", "text").collect()
    def bigrams(t: String): Set[String] =
      t.split(" ").sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSet
    val sets = data.map(r => (r.getLong(0), r.getString(1), bigrams(r.getString(2))))
    val naive = (for {
      (ia, la, ga) <- sets; (ib, lb, gb) <- sets
      if la == lb && ia < ib
      isz = (ga & gb).size
      if isz.toDouble / (ga.size + gb.size - isz) >= 0.5
    } yield (ia, ib)).toSet
    val impl = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", n = 2, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(impl == naive)
    assert(naive.nonEmpty)
  }

  test("PPJoin prefix arm equals the standard arm on fixture AND realistic-vocab corpora") {
    // fixture corpus (adversarial 31-word vocab — where prefix filtering
    // LOSES on cost but must still be output-identical)
    def pairs(d: org.apache.spark.sql.DataFrame, block: String): Set[(Long, Long, Double)] = {
      def get(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val std = get(Dedup.ngramJaccardPairs(d, "doc_id", "text", block, 2, 0.5))
      val pp = get(Dedup.ngramJaccardPairsPrefix(d, "doc_id", "text", block, 2, 0.5))
      assert(pp == std, s"ppjoin=${pp.size} std=${std.size} " +
        s"missed=${(std -- pp).size} extra=${(pp -- std).size}")
      std
    }
    assert(pairs(docs, "lang").nonEmpty)

    // realistic-vocabulary corpus: 5000-word zipf-ish vocab, selective
    // grams (the regime where the prefix filter pays), planted near-dups
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 5000).map(i => s"w$i")
    def zipfWord(): String = {
      // crude zipf: rank ~ u^3 concentrates mass on low ranks while
      // keeping a long selective tail
      val u = rnd.nextDouble()
      vocab(math.min(4999, (u * u * u * 5000).toInt))
    }
    val base = (1 to 150).map { i =>
      (i.toLong, "all", (1 to 30 + rnd.nextInt(40)).map(_ => zipfWord()).mkString(" "))
    }
    // plant near-duplicates: copy with one token appended (bigram
    // jaccard stays >= 0.5)
    val dups = base.take(12).map { case (id, b, t) => (id + 10000L, b, t + " " + zipfWord()) }
    import spark.implicits._
    val gen = (base ++ dups).toDF("doc_id", "blk", "text")
    val found = pairs(gen, "blk")
    assert(found.size >= 12, s"planted near-dups must surface, got ${found.size}")
  }

  test("banded containment arm equals the exact arm on fixture AND realistic-vocab corpora") {
    // same crossover story as the PPJoin test: output-identical
    // everywhere, pays on selective vocabularies. The prefix here is
    // taken on each doc's OWN size (sound because containment's
    // denominator is the min side) — the asymmetric case a symmetric
    // size prefilter would break.
    def pairs(d: org.apache.spark.sql.DataFrame, block: String): Set[(Long, Long, Long, Double)] = {
      def get(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      val std = get(Dedup.ngramContainmentPairs(d, "doc_id", "text", block, 2, 0.8))
      val banded = get(Dedup.ngramContainmentPairsBanded(d, "doc_id", "text", block, 2, 0.8))
      assert(banded == std, s"banded=${banded.size} std=${std.size} " +
        s"missed=${(std -- banded).size} extra=${(banded -- std).size}")
      std
    }
    assert(pairs(docs, "lang").nonEmpty, "fixture must contain containment pairs")

    // realistic vocab + the asymmetric plant: a SMALL doc lifted
    // wholesale into a much larger host (containment 1.0, Jaccard tiny)
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 5000).map(i => s"w$i")
    def zipfWord(): String = {
      val u = rnd.nextDouble()
      vocab(math.min(4999, (u * u * u * 5000).toInt))
    }
    val base = (1 to 150).map { i =>
      (i.toLong, "all", (1 to 30 + rnd.nextInt(40)).map(_ => zipfWord()).mkString(" "))
    }
    val lifted = base.take(10).map { case (id, b, t) =>
      val host = (1 to 120).map(_ => zipfWord()).mkString(" ")
      (id + 10000L, b, host + " " + t)
    }
    import spark.implicits._
    val gen = (base ++ lifted).toDF("doc_id", "blk", "text")
    val found = pairs(gen, "blk")
    val planted = (1 to 10).map(i => (i.toLong, i + 10000L)).toSet
    val foundIds = found.map(p => (p._1, p._2))
    assert(planted.subsetOf(foundIds),
      s"lifted docs must pair at containment 0.8: missing ${planted -- foundIds}")
  }

  test("fingerprint pairs: a lifted passage pairs documents that bigram Jaccard misses") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val passage = (1 to 10).map(i => s"lifted$i").mkString(" ")
    val hostA = ((1 to 40).map(i => s"aw$i") :+ passage).mkString(" ")   // 50 toks
    val hostB = ((1 to 40).map(i => s"bw$i") :+ passage).mkString(" ")   // disjoint except passage
    val clean = (1 to 50).map(i => s"cw$i").mkString(" ")
    val df = spark.createDataFrame(Seq(
      Row(1L, hostA), Row(2L, hostB), Row(3L, clean)).asJava, schema)
    val pairs = Dedup.fingerprintPairs(df, "id", "text", w = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // the 10-token passage contributes exactly 3 shared 8-windows
    assert(pairs.keySet == Set((1L, 2L)), s"got ${pairs.keySet}")
    assert(pairs((1L, 2L)) == 3L)
    // contrast: bigram Jaccard at 0.5 does NOT pair them (10 shared
    // bigrams-ish over ~49 each — far below threshold)
    val jac = Dedup.ngramJaccardPairs(
      df.withColumn("blk", org.apache.spark.sql.functions.lit("x")),
      "id", "text", "blk", 2, 0.5).collect()
    assert(jac.isEmpty)
  }

  test("substring spans: planted verbatim run surfaces maximally, short/absent runs don't") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val aToks = (1 to 40).map(i => s"a$i")
    // doc 2 lifts a10..a21 (12 tokens) verbatim at 0-based position 10
    val doc2 = ((1 to 10).map(i => s"b$i") ++ aToks.slice(9, 21) ++
      (11 to 40).map(i => s"b$i")).mkString(" ")
    // doc 3 shares only a 7-token run — below k=8, must not pair
    val doc3 = ((1 to 20).map(i => s"c$i") ++ aToks.slice(9, 16) ++
      (21 to 40).map(i => s"c$i")).mkString(" ")
    val doc4 = (1 to 40).map(i => s"d$i").mkString(" ")
    val df = spark.createDataFrame(Seq(
      Row(1L, aToks.mkString(" ")), Row(2L, doc2),
      Row(3L, doc3), Row(4L, doc4)).asJava, schema)
    val spans = Dedup.substringSpans(df, "id", "text", k = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(2), r.getInt(3), r.getLong(4)))).toMap
    // exactly one pair, the lifted run, MAXIMAL (12 tokens, not a
    // window fragment), at the exact planted positions
    assert(spans.keySet == Set((1L, 2L)), s"got ${spans.keySet}")
    assert(spans((1L, 2L)) == ((9, 10, 12L)),
      s"span must be maximal and positioned: ${spans((1L, 2L))}")
    // raising k above the planted span length empties the result
    assert(Dedup.substringSpans(df, "id", "text", k = 13).count() == 0)
    // two disjoint lifted runs in one pair -> two separate spans
    val doc5 = (aToks.slice(0, 8) ++ Seq("x1", "x2") ++ aToks.slice(20, 30))
      .mkString(" ")
    val df2 = spark.createDataFrame(Seq(
      Row(1L, aToks.mkString(" ")), Row(5L, doc5)).asJava, schema)
    val two = Dedup.substringSpans(df2, "id", "text", k = 8)
      .collect().map(r => (r.getInt(2), r.getInt(3), r.getLong(4))).toSet
    assert(two == Set((0, 0, 8L), (20, 10, 10L)), s"got $two")
  }

  test("span removal: keep-first cut at planted positions, pass-through, idempotence") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val aToks = (1 to 40).map(i => s"a$i")
    // doc 2 lifts a10..a21 (12 tokens) at 0-based position 10; doc 4 is
    // span-free; doc 6 lifts the same passage AGAIN (transitive case:
    // both 2 and 6 must lose it, only doc 1 — the lowest id — keeps it)
    val lifted = aToks.slice(9, 21)
    val doc2toks = (1 to 10).map(i => s"b$i") ++ lifted ++ (11 to 40).map(i => s"b$i")
    val doc6toks = (1 to 5).map(i => s"e$i") ++ lifted ++ (6 to 40).map(i => s"e$i")
    val doc4 = (1 to 40).map(i => s"d$i").mkString(" ")
    val df = spark.createDataFrame(Seq(
      Row(1L, aToks.mkString(" ")), Row(2L, doc2toks.mkString(" ")),
      Row(4L, doc4), Row(6L, doc6toks.mkString(" "))).asJava, schema)
    val out = Dedup.spanDedup(df, "id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // nothing vanishes
    assert(out.keySet == Set(1L, 2L, 4L, 6L))
    // keeper and span-free doc untouched
    assert(out(1L) == (aToks.mkString(" "), 0L))
    assert(out(4L) == (doc4, 0L))
    // both higher-id holders lose exactly the lifted passage
    assert(out(2L) == (((1 to 10).map(i => s"b$i") ++ (11 to 40).map(i => s"b$i")).mkString(" "), 12L))
    assert(out(6L) == (((1 to 5).map(i => s"e$i") ++ (6 to 40).map(i => s"e$i")).mkString(" "), 12L))
    // idempotence: a second pass over the cleaned corpus cuts nothing —
    // texts unchanged, removed_tokens all zero (the counter is per-pass)
    val cleaned = Dedup.spanDedup(df, "id", "text", k = 8).select("id", "text")
    val again = Dedup.spanDedup(cleaned, "id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(again.view.mapValues(_._1).toMap == out.view.mapValues(_._1).toMap,
      "second spanDedup pass changed text")
    assert(again.values.forall(_._2 == 0L),
      s"second spanDedup pass removed tokens: $again")
  }

  test("MinHash estimate tracks true Jaccard on controlled documents") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val half = ((1 to 20).map(i => s"tok$i") ++ (1 to 20).map(i => s"alt$i")).mkString(" ")
    val disjoint = (1 to 40).map(i => s"other$i").mkString(" ")
    val df = spark.createDataFrame(Seq(
      Row(1L, base), Row(2L, base), Row(3L, half), Row(4L, disjoint)).asJava, schema)
    val sigs = Dedup.minhashSignatures(df, "id", "text", numHashes = 128, shingleN = 2)
      .select("id", "sig").collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    def est(a: Long, b: Long): Double =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toDouble / 128
    assert(est(1L, 2L) == 1.0)                      // identical docs
    assert(est(1L, 4L) < 0.1)                       // disjoint docs
    // true bigram jaccard of base vs half ≈ 19/59 ≈ 0.32; 128 hashes
    // put the estimate within ±0.15 deterministically for this fixture
    assert(math.abs(est(1L, 3L) - 0.32) < 0.15)
  }

  test("SimHash: identical→equal, near-duplicate→closer than unrelated") {
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("text", StringType)))
    val a = (1 to 50).map(i => s"w$i").mkString(" ")
    val aEdit = ((1 to 49).map(i => s"w$i") :+ "changed").mkString(" ")
    val b = (1 to 50).map(i => s"z$i").mkString(" ")
    val df = spark.createDataFrame(Seq(
      Row(1L, a), Row(2L, a), Row(3L, aEdit), Row(4L, b)).asJava, schema)
    val h = df.withColumn("__toks", TextOps.tokens("text"))
      .withColumn("__th", expr("transform(__toks, t -> xxhash64(t))"))
      .select(col("id"), Dedup.simhash64("__th").as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(x: Long, y: Long): Int = java.lang.Long.bitCount(x ^ y)
    assert(h(1L) == h(2L))
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)))
    assert(ham(h(1L), h(3L)) <= 8) // one token changed out of 50
  }

  test("SimHash chunk blocking is complete at hamming <= 3 on the corpus") {
    // candidates come only from 16-bit chunk collisions; pigeonhole says
    // hamming <= 3 pairs MUST collide on some chunk, so the blocked
    // result equals the unblocked truth at that radius
    val blocked = Dedup.simhashNearDups(docs, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashes = docs
      .withColumn("__toks", TextOps.tokens("text"))
      .withColumn("__th", expr("transform(__toks, t -> xxhash64(t))"))
      .select(col("doc_id"), Dedup.simhash64("__th").as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val truth = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib)).toSet
    assert(blocked == truth)
    assert(truth.nonEmpty)
  }

  test("connected components: chains merge transitively, components stay separate") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3), pair 10-11, triangle 20-21-22
    val pairs = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
    // pairwise min-keep (the per-pair heuristic) would key 3~4 by 3,
    // splitting the family; the component keys it by 1
    assert(got(4L) == 1L, "transitive closure, not per-pair keep")
    val zero = jobsByGroup("maxIter=0" -> (() =>
      intercept[IllegalArgumentException](Dedup.connectedComponents(pairs, "id_a", "id_b", maxIter = 0))))
    assert(zero("maxIter=0") == 0, "maxIter = 0 must be refused before any job starts")
  }

  test("connected components: a null endpoint gives no edge and no null row; empty in, empty out") {
    val sch = StructType(Seq(StructField("id_a", LongType), StructField("id_b", LongType)))
    def cc(rows: Row*) = Dedup.connectedComponents(
      spark.createDataFrame(rows.asJava, sch), "id_a", "id_b")
    // (2, null) must not bridge 1-2 and (null, 5) into one component
    // through a null node; 5 stays a node with its own label
    val got = cc(Row(1L, 2L), Row(2L, null), Row(3L, 4L), Row(null, 5L), Row(null, null))
      .collect().map(r => (r.get(0), r.get(1))).toSet
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 5L)), got)
    val empty = cc()
    assert(empty.columns.toSeq == Seq("id", "cluster_id"))
    assert(empty.isEmpty)
  }

  test("connected components: a long cluster-chain converges inside maxIter to the exact min labels") {
    import spark.implicits._
    // 30 near-dup clusters of 6 (hub = min id of the cluster, members
    // star onto it) bridged in sequence — the media-tier pair-graph
    // topology where the pointer jump alone is structurally blind
    // (every member already points at its hub; the smaller min enters
    // each cluster through ONE bridge member): the old loop needed
    // ~2.3 rounds per boundary and shipped the maxIter=20 cutoff
    // unconverged on the sf0.1 pixel graph. The r19 label-edge rounds
    // (min-propagation on the contracted cluster graph) must reach
    // the EXACT fixpoint — every node labeled 0 — within the default
    // 20-round budget.
    val got = Dedup.connectedComponents(clusterChain.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == 180)
    assert(got.forall(_._2 == 0L),
      s"chain of 30 clusters must fully merge to label 0 inside maxIter; " +
        s"got ${got.filter(_._2 != 0L).take(5).mkString(", ")}")
  }

  test("connected components: labels do not depend on the shuffle partitioning") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val sparse = Seq.fill(300)((rnd.nextInt(400).toLong, rnd.nextInt(400).toLong))
    def labels(pairs: Seq[(Long, Long)]): (Set[Row], Seq[String]) =
      linesLogged(Fixpoint.getClass, Level.INFO) {
        Dedup.connectedComponents(pairs.toDF("id_a", "id_b"), "id_a", "id_b").collect().toSet
      }
    val confs = Seq("spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    for ((name, pairs) <- Seq("cluster chain" -> clusterChain, "sparse random" -> sparse)) {
      val (coalesced, _) = labels(pairs)
      val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      val (spread, lines) = try {
        confs.foreach { case (k, v) => spark.conf.set(k, v) }
        labels(pairs)
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      assert(spread == coalesced, s"$name: 16 partitions gave other labels")
      // spread over 16 partitions, the chain's local stars meet only
      // across partitions, so the rounds past the first two must merge them
      if (name == "cluster chain")
        assert(lines.exists(_.matches("fixpoint op=connectedComponents rounds=([3-9]|1\\d) .*")), lines)
    }
  }

  test("connected components: a chain contracted in one task converges in 2 rounds") {
    import spark.implicits._
    val (_, lines) = linesLogged(Fixpoint.getClass, Level.INFO) {
      Dedup.connectedComponents(clusterChain.toDF("id_a", "id_b"), "id_a", "id_b").collect()
    }
    assert(lines == Seq("fixpoint op=connectedComponents rounds=2 max=20 converged=true"), lines)
  }

  test("decontamination: leaked passage flags, clean docs don't, bench side broadcasts") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val sch = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    def mk(rows: (Long, String)*) =
      spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, sch)
    val benchText = "alpha beta gamma delta epsilon zeta eta theta"
    val bench = mk(100L -> benchText)
    val corpus = mk(
      1L -> s"intro words then $benchText and a tail", // leaked passage: many shared 5-grams
      2L -> "totally different words with no overlap at all here",
      3L -> "alpha beta gamma unrelated continuation of text") // < minShared shared grams
    val got = Dedup.contaminationPairs(corpus, bench, "doc_id", "text",
      n = 5, minShared = 3L)
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows.map(t => (t._1, t._2)) == Set((1L, 100L)), s"got $rows")
    assert(rows.head._3 == 4L, "the 8-token passage shares exactly 4 distinct 5-grams")
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "benchmark side must broadcast")
  }

  test("containment catches a lifted small doc that Jaccard misses") {
    val sch = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("text", StringType)))
    def mk(rows: (Long, String)*) = spark.createDataFrame(
      rows.map(r => Row(r._1, "en", r._2)).asJava, sch)
    val small = "alpha beta gamma delta epsilon"
    val host = s"one two three four five six seven $small eight nine ten " +
      "eleven twelve thirteen fourteen fifteen sixteen seventeen"
    val corpus = mk(1L -> small, 2L -> host,
      3L -> "completely different content with zero shared bigrams whatsoever")
    // Jaccard at 0.5 sees nothing: |A|=4 bigrams, |B|=24, |A∩B|=4 ⇒
    // j = 4/24 = 0.17. Containment = 4/min(4,24) = 1.0.
    val jac = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", "lang", 2, 0.5)
      .collect()
    assert(jac.isEmpty, "Jaccard must miss the asymmetric pair")
    val con = Dedup.ngramContainmentPairs(corpus, "doc_id", "text", "lang", 2, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(con.toSeq == Seq((1L, 2L, 4L, 1.0)), s"got ${con.toSeq}")
  }

  test("containment agrees with a brute-force computation on the fixture") {
    // independent truth: per-doc distinct bigram sets intersected in
    // memory, min-size denominator
    val rows = docs
      .withColumn("__t", TextOps.tokens("text"))
      .select(col("doc_id"), col("lang"), array_distinct(TextOps.ngramsAll("__t", 2)).as("g"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).toSet))
    val truth = (for {
      (ia, la, ga) <- rows; (ib, lb, gb) <- rows
      if la == lb && ia < ib && ga.nonEmpty && gb.nonEmpty
      shared = (ga & gb).size
      c = shared.toDouble / math.min(ga.size, gb.size)
      if c >= 0.8
    } yield (ia, ib, shared.toLong, c)).toSet
    val got = Dedup.ngramContainmentPairs(docs, "doc_id", "text", "lang", 2, 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == truth, s"got ${got.size} truth ${truth.size}")
  }

  test("containment cap laws: high cap is a no-op, real cap only removes pairs") {
    val uncapped = Dedup.ngramContainmentPairs(docs, "doc_id", "text", "lang", 2, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val noop = Dedup.ngramContainmentPairs(docs, "doc_id", "text", "lang", 2, 0.8,
        maxPostingLen = Some(1000000))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(noop == uncapped, "a cap above every posting length must change nothing")
    val capped = Dedup.ngramContainmentPairs(docs, "doc_id", "text", "lang", 2, 0.8,
        maxPostingLen = Some(8))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(uncapped), "capping can only remove pairs, never invent them")
  }

  test("incremental dedup: bloom arm ⊆ exact arm, planted dups always removed") {
    val existing = docs.filter(pmod(col("doc_id"), lit(10)) < 6)
    val incoming = docs.filter(pmod(col("doc_id"), lit(10)) >= 4)
    val exact = Dedup.newDocsExact(existing, incoming, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    val bloom = Dedup.newDocsBloom(existing, incoming, "doc_id", "text",
      expectedItems = 1000L, fpp = 0.001)
      .collect().map(_.getLong(0)).toSet
    // texts are corpus-unique: new docs are exactly the %10 ∈ {6..9} slice
    val expected = docs.filter(pmod(col("doc_id"), lit(10)) >= 6)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(exact == expected, "exact arm = set difference on content hash")
    // one-sided error: bloom may over-drop (fpp) but NEVER admits a dup
    assert(bloom.subsetOf(exact), "no false negatives in the bloom filter")
    assert(bloom.size >= (exact.size * 0.99).toInt, s"≤1% over-drop (fpp), got ${bloom.size}/${exact.size}")
  }

  test("substring spans equal a brute-force diagonal walk on a random small-vocab corpus") {
    import spark.implicits._
    // 4-symbol vocabulary forces many CHANCE shared runs (P(match)=¼
    // per aligned position), so this exercises merge/maximality far
    // beyond the planted cases; one genuinely lifted passage on top.
    val rnd = new scala.util.Random(11)
    val vocab = Array("a", "b", "c", "d")
    val base = (0L until 15L).map(i =>
      (i, Array.fill(30)(vocab(rnd.nextInt(4))).toSeq))
    val lifted = {
      val src = base(3)._2
      (100L, base(7)._2.take(5) ++ src.slice(10, 22) ++ base(7)._2.drop(25))
    }
    val docs = base :+ lifted
    val k = 4
    val got = Dedup.substringSpans(
        docs.map { case (id, t) => (id, t.mkString(" ")) }.toDF("doc_id", "text"),
        "doc_id", "text", k)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3), r.getLong(4)))
      .toSet

    // brute force: for every ordered pair and every diagonal, emit the
    // maximal aligned token runs of length >= k
    val byId = docs.toMap
    val expected = (for {
      ia <- docs.map(_._1); ib <- docs.map(_._1) if ia < ib
      ta = byId(ia).toArray; tb = byId(ib).toArray
      d <- -(ta.length - 1) to (tb.length - 1)
      } yield {
        val spans = scala.collection.mutable.ListBuffer[(Long, Long, Int, Int, Long)]()
        var i = math.max(0, -d)
        while (i < ta.length && i + d < tb.length) {
          if (ta(i) == tb(i + d)) {
            val start = i
            while (i < ta.length && i + d < tb.length && ta(i) == tb(i + d)) i += 1
            val len = i - start
            if (len >= k) spans += ((ia, ib, start, start + d, len.toLong))
          } else i += 1
        }
        spans.toList
      }).flatten.toSet
    assert(got == expected,
      s"got ${got.size} spans, expected ${expected.size}; " +
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    // the planted lift surfaces as one 12-token span at the right spot
    assert(expected.contains((3L, 100L, 10, 5, 12L)))
  }

  test("intra-doc dedup: later copies cut, first kept in place, unique docs untouched") {
    import spark.implicits._
    val df = Seq(
      // "nav bar" repeats at segments 0, 2, 4 → segments 2 and 4 cut
      (1L, "nav bar alpha beta nav bar gamma delta nav bar"),
      (2L, "one two three four five six"),          // no repeats
      (3L, "x y x y x y x y"),                      // template stutter
      (4L, "solo")).toDF("doc_id", "text")
    val out = Dedup.intraDocDedup(df, "doc_id", "text", w = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("nav bar alpha beta gamma delta", 5L, 2L)))
    assert(out(2L) == (("one two three four five six", 3L, 0L)))
    assert(out(3L) == (("x y", 4L, 3L)))
    assert(out(4L) == (("solo", 1L, 0L)))
    // idempotent by construction (kept segments are already distinct)
    val again = Dedup.intraDocDedup(
      Dedup.intraDocDedup(df, "doc_id", "text", w = 2)
        .select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", w = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(3)))
    again.foreach { case (id, txt, dropped) =>
      assert(txt == out(id)._1 && dropped == 0L, s"doc $id not idempotent")
    }
  }

  test("segment dedup: boilerplate cut everywhere, unique text kept in order, all-boiler doc surfaces empty") {
    import spark.implicits._
    // 3-token segments; the planted boilerplate "nav bar footer" opens
    // three documents; doc 4 is NOTHING BUT two copies of it; doc 5
    // shares no segment with anyone.
    val df = Seq(
      (1L, "nav bar footer alpha beta gamma delta epsilon zeta"),
      (2L, "nav bar footer one two three four five six"),
      (3L, "nav bar footer seven eight nine"),
      (4L, "nav bar footer nav bar footer"),
      (5L, "lone words only here no dup")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(df, "doc_id", "text", w = 3, minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap

    assert(out(1L) == (("alpha beta gamma delta epsilon zeta", 3L, 1L)))
    assert(out(2L) == (("one two three four five six", 3L, 1L)))
    assert(out(3L) == (("seven eight nine", 2L, 1L)))
    // a fully-boilerplate document is NOT silently dropped — it rides
    // the left join back with an empty clean_text (both its segments
    // are the planted one; distinct-doc count still sees doc 4 once)
    assert(out(4L) == (("", 2L, 2L)))
    assert(out(5L) == (("lone words only here no dup", 2L, 0L)))
    // idempotence: a second pass over cleaned text removes nothing
    val again = Dedup.segmentDedup(
      Dedup.segmentDedup(df, "doc_id", "text", w = 3, minDocs = 3)
        .select(col("doc_id"), col("clean_text").as("text")),
      "doc_id", "text", w = 3, minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { case (id, (txt, _, _)) => assert(again(id) == txt) }
  }

  test("corpus report: dup window, quality count, language spread on a planted fixture") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-report").toString
    // 60 tokens, mean token length 4.7, all alpha, 6 stopword hits —
    // passes every Gopher rule
    val longOk = (1 to 6).map(_ =>
      "quick brown foxes jumped over lazy sleeping dogs the end").mkString(" ")
    Seq(
      // srcA: two exact dups + one unique long clean doc
      (1L, "dup dup dup", "en", "srcA", 11L),
      (2L, "dup dup dup", "en", "srcA", 11L),
      (3L, longOk, "en", "srcA", longOk.length.toLong),
      // srcB: one short doc, two langs
      (4L, "tiny", "de", "srcB", 4L),
      (5L, "klein auch", "fr", "srcB", 10L)
    ).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_corpus_report")(spark, dir).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("n_langs"), r.getAs[Long]("n_quality_ok"),
          r.getAs[Long]("n_dup_docs"), r.getAs[Double]("mean_tokens"))).toMap
    // srcA: 3 docs; dups 1,2 counted BOTH (involvement, not losers);
    // only doc 3 passes the 50-token Gopher floor
    assert(out("srcA") == ((3L, 66L, 1L, 1L, 2L, 22.0)))
    assert(out("srcB") == ((2L, 3L, 2L, 0L, 0L, 1.5)))
  }

  test("ensemble pairs: both/lexical/semantic branches, -1 sentinels, no pair lost") {
    import spark.implicits._
    val lex = Seq((1L, 2L, 0.9), (3L, 4L, 0.6)).toDF("id_a", "id_b", "jaccard")
    val sem = Seq((1L, 2L, 0.99), (5L, 6L, 0.5)).toDF("id_a", "id_b", "cos")
    val out = Dedup.ensemblePairs(lex, sem).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        (r.getAs[String]("evidence"), r.getAs[Double]("jaccard"), r.getAs[Double]("cos")))
      .toMap
    assert(out.size == 3, "full outer join must keep every pair exactly once")
    assert(out((1L, 2L)) == (("both", 0.9, 0.99)))
    assert(out((3L, 4L)) == (("lexical", 0.6, -1.0)))
    assert(out((5L, 6L)) == (("semantic", -1.0, 0.5)))
  }

  test("cross-source overlap: distinct shared segments per pair, sparse strict triangle") {
    import spark.implicits._
    // w=2 segments; "p q" and "r s" shared by A and B (B repeats "p q"
    // twice — must still count ONCE); C shares nothing with anyone.
    val docs = Seq(
      (1L, "p q r s", "A"),
      (2L, "p q r s x1 x2", "B"),
      (3L, "p q p q", "B"),
      (4L, "z1 z2 z3 z4", "C")
    ).toDF("doc_id", "text", "source")
    val out = graft.llm.Dedup.crossSourceOverlap(docs, "text", "source", w = 2)
      .collect().map(r => (r.getAs[String]("source_a"),
        r.getAs[String]("source_b"), r.getAs[Long]("n_shared"))).toSet
    assert(out == Set(("A", "B", 2L)),
      s"A-B share exactly {p q, r s}; C pairs are absent, got $out")
  }

  test("snapshot diff: all four statuses, exact byte ledger, -1 sentinels") {
    import spark.implicits._
    val prev = Seq((1L, "same"), (2L, "old text"), (3L, "goes away"))
      .toDF("doc_id", "text")
    val curr = Seq((1L, "same"), (2L, "new text!"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val out = graft.llm.Dedup.snapshotDiff(prev, curr, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status"),
        r.getAs[Long]("bytes_old"), r.getAs[Long]("bytes_new"))).toSet
    assert(out == Set(
      (1L, "unchanged", 4L, 4L),
      (2L, "changed", 8L, 9L),
      (3L, "removed", 9L, -1L),
      (4L, "added", -1L, 9L)), s"got $out")
  }

  test("softDedupWeights: per-cluster mass exactly 1e6, remainder on min id, singletons untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "t"), (2L, "t"), (3L, "t"),    // cluster of 3 (via pairs)
      (10L, "u"), (11L, "u"),             // cluster of 2
      (20L, "v"), (21L, "w")              // singletons (no pair)
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val out = graft.llm.Dedup.softDedupWeights(docs, "doc_id", pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.size == 7, "every doc surfaces exactly once")
    // floor(1e6/3) = 333333; the division remainder 1 goes to min id 1
    assert(out(1L) == ((1L, 3L, 333334L)))
    assert(out(2L) == ((1L, 3L, 333333L)))
    assert(out(3L) == ((1L, 3L, 333333L)))
    assert(out(10L) == ((10L, 2L, 500000L)))
    assert(out(11L) == ((10L, 2L, 500000L)))
    assert(out(20L) == ((20L, 1L, 1000000L)))
    assert(out(21L) == ((21L, 1L, 1000000L)))
    // conservation: each cluster sums to EXACTLY 1e6 micro-units
    val byCluster = out.values.groupBy(_._1).view.mapValues(_.map(_._3).sum)
    assert(byCluster.values.forall(_ == 1000000L),
      s"per-cluster mass must be exactly 1e6, got $byCluster")
  }

  test("gramNovelty: first doc fully novel, verbatim copy zero, short doc -1 sentinel") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e"),   // 3 distinct trigrams, all first here
      (2L, "a b c d e"),   // exact copy — nothing novel
      (3L, "a b c x y z"), // 4 trigrams, 'a b c' seen in doc 1 → 3/4
      (4L, "q r")          // < n tokens: 0 grams, -1 sentinel
    ).toDF("doc_id", "text")
    val out = graft.llm.Dedup.gramNovelty(docs, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((3L, 3L, 1000000L)))
    assert(out(2L) == ((3L, 0L, 0L)))
    assert(out(3L) == ((4L, 3L, 750000L)))
    assert(out(4L) == ((0L, 0L, -1L)))
  }

  test("snapshotDrift: exact micro-unit shares, TV distance, absent sources loud zeros") {
    import spark.implicits._
    val oldDf = Seq(("s1", "a b c d"), ("s2", "e f g h"))
      .toDF("source", "text") // 4 + 4 tokens → shares 500000 / 500000
    val newDf = Seq(("s1", "a b c d e f"), ("s3", "x y"))
      .toDF("source", "text") // 6 + 2 → shares 750000 / 250000
    val rows = graft.llm.Dedup.snapshotDrift(oldDf, newDf, "source", "text")
      .collect()
    val m = rows.map(r => r.getString(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(m.keySet == Set("s1", "s2", "s3"))
    assert(m("s1") == ((4L, 6L, 500000L, 750000L, 250000L)))
    assert(m("s2") == ((4L, 0L, 500000L, 0L, -500000L)), "removed source: 0 tokens, never NULL")
    assert(m("s3") == ((0L, 2L, 0L, 250000L, 250000L)), "added source: 0 old tokens")
    // TV = (|250000| + |-500000| + |250000|) div 2, stamped on every row
    assert(rows.forall(_.getLong(6) == 500000L))
  }

  test("snapshotDrift: identical snapshots have zero deltas and zero TV") {
    val d = docs.select(col("source"), col("text"))
    val rows = graft.llm.Dedup.snapshotDrift(d, d, "source", "text").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(5) == 0L && r.getLong(6) == 0L))
  }

  test("minhash index: probe alerts on planted dup, batch-twin candidates, est exactness") {
    import spark.implicits._
    val corpus = docs.select("doc_id", "text")
    val copiedText = docs.orderBy(length(col("text")).desc, col("doc_id"))
      .select("doc_id", "text").head()
    val incoming = Seq(
      (900001L, copiedText.getString(1)), // verbatim copy of an indexed doc
      (900002L, "zq1 zq2 zq3 zq4 zq5 zq6 zq7 zq8") // disjoint shingles
    ).toDF("doc_id", "text")
    val idx = Dedup.buildMinhashIndex(corpus, "doc_id", "text")
    val alerts = Dedup.minhashProbe(idx, incoming, "doc_id", "text",
        thresholdMicro = 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(alerts.exists(a =>
        a._1 == 900001L && a._2 == copiedText.getLong(0) && a._3 == 1000000L),
      s"verbatim copy must alert at exactly 1e6, got ${alerts.mkString(",")}")
    assert(!alerts.exists(_._1 == 900002L), "disjoint-shingle doc must not alert")
    // batch twin: threshold-0 probe candidates == a full lshBands run
    // on the union, restricted to new↔old pairs
    val probeAll = Dedup.minhashProbe(idx, incoming, "doc_id", "text", 0L)
      .select("id_new", "id_old").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val unionSigs = Dedup.minhashSignatures(
      corpus.unionByName(incoming), "doc_id", "text", 64, 2)
    val unionBands = Dedup.lshBands(unionSigs.select("doc_id", "sig"), "doc_id", 16, 4)
    val newIds = Set(900001L, 900002L)
    val twin = unionBands.as("a")
      .join(unionBands.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("n"), col("b.doc_id").as("o"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter(p => newIds.contains(p._1) && !newIds.contains(p._2)).toSet
    assert(probeAll == twin,
      "probe candidates must equal the full-union banding restricted to new-old pairs")
  }

  test("minhash index: incremental update is bit-equal to a full rebuild; round-trip; loud schema") {
    import spark.implicits._
    val ids = docs.select("doc_id").orderBy("doc_id").limit(3)
      .collect().map(_.getLong(0))
    val (changedId, removedId) = (ids(0), ids(1))
    val oldCorpus = docs.select("doc_id", "text")
    val newCorpus = oldCorpus
      .filter(col("doc_id") =!= removedId)
      .withColumn("text", when(col("doc_id") === changedId,
        concat(col("text"), lit(" changed tail"))).otherwise(col("text")))
      .unionByName(Seq((900100L, "brand new document text for the update"))
        .toDF("doc_id", "text"))
    val removedIds = Seq(changedId, removedId).toDF("doc_id")
    val addedDocs = newCorpus.filter(col("doc_id").isin(changedId, 900100L))
    val updated = Dedup.updateMinhashIndex(
      Dedup.buildMinhashIndex(oldCorpus, "doc_id", "text"),
      removedIds, addedDocs, "doc_id", "text")
    val rebuilt = Dedup.buildMinhashIndex(newCorpus, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(updated.sigs) == rows(rebuilt.sigs), "sigs must match the rebuild")
    assert(rows(updated.bands) == rows(rebuilt.bands), "bands must match the rebuild")
    val probeBatch = Seq((900200L, "brand new document text for the update"))
      .toDF("doc_id", "text")
    def probe(i: Dedup.MinhashIndex): Set[String] =
      rows(Dedup.minhashProbe(i, probeBatch, "doc_id", "text", 500000L))
    assert(probe(updated) == probe(rebuilt), "probe must be identical through both")
    assert(probe(updated).nonEmpty, "the planted twin of the added doc must alert")
    // parquet round-trip: loaded index probes bit-equal; foreign schema loud
    val dir = java.nio.file.Files.createTempDirectory("mh_idx").toString
    Dedup.saveMinhashIndex(updated, "doc_id", dir)
    val loaded = Dedup.loadMinhashIndex(spark, "doc_id", dir)
    assert(probe(loaded) == probe(updated), "loaded index must probe bit-equal")
    val err = intercept[IllegalArgumentException] {
      Dedup.loadMinhashIndex(spark, "wrong_id", dir)
    }
    assert(err.getMessage.contains("unexpected"), "schema mismatch must fail loud")
  }

  test("thresholdSweep: monotone curve, exact counts vs brute force, loud empty deciles") {
    val out = Dedup.thresholdSweep(docs, "doc_id", "text", "lang",
        n = 2, floor = 0.2)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet == (2 to 10).toSet, "one row per decile incl. empty ones")
    // both curves are non-increasing in the threshold
    for (d <- 2 to 9) {
      assert(out(d)._1 >= out(d + 1)._1, s"pairs_ge must not rise at decile ${d + 1}")
      assert(out(d)._2 >= out(d + 1)._2, s"docs_ge must not rise at decile ${d + 1}")
    }
    // exact agreement with an independent per-threshold recompute
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "lang", 2, 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    for (d <- Seq(2, 5, 8)) {
      val sel = pairs.filter(_._3 >= d.toDouble / 10.0)
      assert(out(d)._1 == sel.length.toLong, s"pairs_ge mismatch at decile $d")
      assert(out(d)._2 == sel.flatMap(p => Seq(p._1, p._2)).distinct.length.toLong,
        s"docs_ge mismatch at decile $d")
    }
  }

  /** Reference unit-cost Levenshtein (classic DP) for the edit tier. */
  private def levRef(a: String, b: String): Long = {
    val prev = Array.tabulate(b.length + 1)(_.toLong)
    val cur = new Array[Long](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i.toLong
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0L else 1L)
        cur(j) = math.min(sub, math.min(prev(j) + 1L, cur(j - 1) + 1L))
      }
      Array.copy(cur, 0, prev, 0, cur.length)
    }
    prev(b.length)
  }

  test("editDistancePairs: planted paraphrase scores exactly, blocks hold, unrelated absent") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog"
    val para = "the quick brown fox jumped over the lazy dog"
    val fixture = Seq(
      (1L, base, "en"),
      (2L, para, "en"),
      (3L, "completely different words entirely unrelated text here", "en"),
      (4L, base, "de"), // identical text, other block — must NOT pair with 1
      (5L, base, "en")  // verbatim copy of 1
    ).toDF("doc_id", "text", "lang")
    val out = Dedup.editDistancePairs(fixture, "doc_id", "text", "lang",
        n = 2, candidateThreshold = 0.3, simThreshold = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(out.keySet == Set((1L, 2L), (1L, 5L), (2L, 5L)),
      s"expected the paraphrase + copy pairs only, got ${out.keySet}")
    val levP = levRef(base, para)
    val maxP = math.max(base.length, para.length).toLong
    assert(out((1L, 2L)) == ((levP, (maxP - levP) * 1000000L / maxP)),
      "sim_micro must be the exact integer micro-unit formula")
    assert(out((1L, 5L)) == ((0L, 1000000L)), "verbatim copy: lev 0, sim 1e6")
    assert(out((2L, 5L)) == out((1L, 2L)), "copy inherits the paraphrase score")
  }

  test("editDistancePairs: banded kernel is output-identical to the unbanded plan") {
    def run(banded: Boolean): Set[(Long, Long, Long, Long)] =
      Dedup.editDistancePairs(docs, "doc_id", "text", "lang",
          n = 2, candidateThreshold = 0.3, simThreshold = 0.5, banded = banded)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    val b = run(banded = true)
    assert(b.nonEmpty, "fixture should contain edit-similar pairs")
    assert(b == run(banded = false),
      "the exact band bound must make banding a pure optimization")
    // spot-check the kernel against the reference DP on the fixture text
    val txt = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((idA, idB, lev, _) <- b.take(5))
      assert(lev == levRef(txt(idA), txt(idB)),
        s"Spark levenshtein($idA,$idB) disagrees with the reference DP")
  }

  test("editDistancePairsLsh: output ⊆ exact arm, planted paraphrases recalled, scores identical") {
    import spark.implicits._
    // corpus + planted paraphrases: the LSH candidate stage may only
    // LOSE pairs (bucket misses), never invent or rescore them
    val planted = Seq(
      (900001L, "the quick brown fox jumped over the lazy dog today", "en"),
      (900002L, "the quick brown fox jumps over the lazy dog today", "en"))
      .toDF("doc_id", "text", "lang")
    val corpus = docs.select("doc_id", "text", "lang").unionByName(planted)
    def toMapOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    val exact = toMapOf(Dedup.editDistancePairs(corpus, "doc_id", "text", "lang",
      n = 2, candidateThreshold = 0.3, simThreshold = 0.5))
    val lsh = toMapOf(Dedup.editDistancePairsLsh(corpus, "doc_id", "text",
      candidateThreshold = 0.3, simThreshold = 0.5, blockCol = Some("lang")))
    assert(lsh.keySet.subsetOf(exact.keySet),
      s"LSH arm invented pairs: ${lsh.keySet -- exact.keySet}")
    lsh.foreach { case (k, v) =>
      assert(exact(k) == v, s"pair $k scored differently in the two arms")
    }
    assert(lsh.contains((900001L, 900002L)),
      "the planted near-verbatim paraphrase must survive the LSH candidate stage")
    // the fixture is tiny and high-similarity — recall should be total here
    assert(lsh.keySet == exact.keySet,
      s"unexpected bucket misses on the fixture: ${exact.keySet -- lsh.keySet}")
  }

  test("incremental CC: star + delta equals from-scratch, including a bridge merging two old components") {
    import spark.implicits._
    // yesterday: components {1,2,8} and {3,4}
    val oldPairs = Seq((1L, 2L), (2L, 8L), (3L, 4L)).toDF("id_a", "id_b")
    val stored = Dedup.connectedComponents(oldPairs, "id_a", "id_b")
      .select("id", "cluster_id")
    // today: doc 5 BRIDGES the two old components; 6-7 is a fresh pair
    val delta = Seq((8L, 5L), (5L, 3L), (6L, 7L)).toDF("id_a", "id_b")
    val inc = Dedup.connectedComponentsIncremental(stored, delta,
      "id_a", "id_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val full = Dedup.connectedComponents(
      oldPairs.unionByName(delta), "id_a", "id_b").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(inc == full,
      s"incremental must equal from-scratch: $inc vs $full")
    // the merged family takes the GLOBAL min across both old components
    assert(Seq(1L, 2L, 3L, 4L, 5L, 8L).forall(inc(_) == 1L))
    assert(inc(6L) == 6L && inc(7L) == 6L)
  }
}
