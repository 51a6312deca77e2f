package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.llm.Chunking

/** Property gates for the context-shaping operators (chunk / pack /
  * stratified sample); the fixture-scale arithmetic is oracle-checked
  * via q_chunk / q_pack_greedy / q_sample_stratified.
  */
class ChunkingSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("shard", StringType),
    StructField("text", StringType)))

  private def frame(rows: (Long, String, String)*) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2, r._3)).asJava, schema)

  private def words(n: Int, tag: String = "w"): String =
    (1 to n).map(i => s"$tag$i").mkString(" ")

  test("chunk: coverage, window size, overlap, short-doc identity") {
    val df = frame(
      (1L, "a", words(80)),  // 80 toks, stride 24 → starts 0,24,48
      (2L, "a", words(32)),  // exactly one window
      (3L, "a", words(5)))   // shorter than window → identity chunk
    val chunks = Chunking.chunkDocuments(df, "id", "text",
        chunkTokens = 32, overlapTokens = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getLong(3)))
      .sortBy(c => (c._1, c._2))

    val byDoc = chunks.groupBy(_._1)
    assert(byDoc(1L).length == 3 && byDoc(2L).length == 1 && byDoc(3L).length == 1)
    assert(chunks.forall(c => c._4 <= 32 && c._4 == c._3.split(" ").length))
    assert(byDoc(3L).head._3 == words(5), "short doc chunks to itself")
    assert(byDoc(2L).head._3 == words(32), "window-sized doc chunks to itself")
    // consecutive windows share exactly the overlap suffix/prefix
    val c1 = byDoc(1L).map(_._3.split(" "))
    (0 until 2).foreach { i =>
      assert(c1(i).takeRight(8).sameElements(c1(i + 1).take(8)),
        s"overlap between chunk $i and ${i + 1}")
    }
    // dropping each chunk's overlap prefix reconstructs the document
    val rebuilt = c1.head ++ c1.tail.flatMap(_.drop(8))
    assert(rebuilt.sameElements(words(80).split(" ")), "chunks cover every token once")
  }

  test("chunk: overlap 0 partitions the document exactly") {
    val df = frame((1L, "a", words(50)))
    val chunks = Chunking.chunkDocuments(df, "id", "text",
        chunkTokens = 20, overlapTokens = 0)
      .collect().map(r => (r.getInt(1), r.getString(2))).sortBy(_._1)
    assert(chunks.map(_._1).toSeq == Seq(0, 1, 2))
    assert(chunks.flatMap(_._2.split(" ")).sameElements(words(50).split(" ")),
      "zero-overlap chunks concatenate back to the document")
  }

  test("chunk runs unchanged on a stream (stateless row-local op)") {
    // the batch operator IS the streaming operator: no state, no
    // watermark needed — the whole context-shaping layer applies to a
    // document stream as-is
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String)]
    val q = Chunking.chunkDocuments(
        in.toDF().toDF("id", "text"), "id", "text", 32, 8)
      .writeStream.outputMode("append").format("memory")
      .queryName("chunk_stream_out").start()
    try {
      in.addData((1L, words(80)), (2L, words(5)))
      q.processAllAvailable()
      val n = spark.table("chunk_stream_out").count()
      assert(n == 4, s"3 chunks + 1 identity chunk, got $n")
    } finally q.stop()
  }

  test("pack: budget respected, order preserved, every doc exactly once") {
    val docs = frame(
      (1L, "s1", words(50)), (2L, "s1", words(60)), (3L, "s1", words(30)),
      (4L, "s1", words(200)), // alone over budget → own pack
      (5L, "s1", words(10)),
      (6L, "s2", words(128)), (7L, "s2", words(1)))
    val packs = Chunking.packGreedy(docs, "shard", "id", "text", budgetTokens = 128)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).sortBy(p => (p._1, p._2))

    // s1: [50+60]=110, [30]→ then 200 won't fit → [30] closes at 30+200>128
    //   greedy: 50+60=110, +30>128 → pack2: 30, +200>128 → pack3: 200, +10>128 → pack4: 10
    val s1 = packs.filter(_._1 == "s1")
    assert(s1.map(p => (p._2, p._3, p._4)).toSeq ==
      Seq((1L, 2L, 110L), (2L, 1L, 30L), (3L, 1L, 200L), (4L, 1L, 10L)))
    assert(s1.map(p => (p._5, p._6)).toSeq ==
      Seq((1L, 2L), (3L, 3L), (4L, 4L), (5L, 5L)), "packs are contiguous id ranges")
    val s2 = packs.filter(_._1 == "s2")
    assert(s2.map(p => (p._2, p._3, p._4)).toSeq == Seq((1L, 1L, 128L), (2L, 1L, 1L)),
      "exact-budget pack closes before the next doc")
    assert(packs.map(_._3).sum == 7, "every doc in exactly one pack")
  }

  test("pack sub-sharding (skew valve): complete, budget-respected, provenance-named") {
    val docs = frame((1L to 60L).map(i => (i, "hot", words(40))): _*)
    val packs = Chunking.packGreedy(docs, "shard", "id", "text",
        budgetTokens = 128, subShards = 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(packs.map(_._1).forall(_.matches("hot#[0-3]")), "sub-shard provenance in the name")
    assert(packs.map(_._1).distinct.length >= 2, "the hot shard actually split")
    assert(packs.map(_._3).sum == 60, "every doc packed exactly once")
    // budget still holds per pack (docs are 40 tokens; 3 per pack max)
    assert(packs.forall(p => p._4 <= 128))
  }

  test("reserved-column guards refuse clashing inputs instead of shadowing them") {
    val df = frame((1L, "a", words(10)))
    intercept[IllegalArgumentException](
      Chunking.chunkDocuments(df.withColumn("chunk_text", lit("x")), "id", "text"))
    intercept[IllegalArgumentException](
      Chunking.chunkDocuments(df.withColumn("__toks", lit("x")), "id", "text"))
    intercept[IllegalArgumentException](
      Chunking.hashSplit(df.withColumn("split", lit("x")), "id", Seq("a" -> 1.0)))
    intercept[IllegalArgumentException](
      Chunking.packGreedy(df, "shard", "id", "text", budgetTokens = 0))
  }

  test("hash split: exhaustive, disjoint, append-stable, weight-shaped") {
    val df = frame((0L until 2000L).map(i => (i, "a", "t")): _*)
    val w = Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05)
    val got = Chunking.hashSplit(df, "id", w)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 2000, "every row gets exactly one split")
    val frac = got.values.groupBy(identity).view.mapValues(_.size / 2000.0).toMap
    assert(math.abs(frac("train") - 0.9) < 0.05 &&
      math.abs(frac.getOrElse("val", 0.0) - 0.05) < 0.03 &&
      math.abs(frac.getOrElse("test", 0.0) - 0.05) < 0.03, s"$frac")
    // append stability: a grown corpus never reassigns an old id
    val grown = Chunking.hashSplit(
      frame((0L until 3000L).map(i => (i, "a", "t")): _*), "id", w)
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.forall { case (id, s) => grown(id) == s })
    intercept[IllegalArgumentException](
      Chunking.hashSplit(df, "id", Seq("a" -> 0.9, "b" -> 0.2)))
  }

  test("budget mixing: under-budget sources pass whole, over-budget downsample to ≈budget") {
    // source "big": 200 docs × 10 tokens = 2000 tokens, budget 500 ⇒
    // rate 0.25; source "small": 20 docs × 10 = 200 tokens ⇒ rate 1.0
    val df = frame(
      ((0L until 200L).map(i => (i, "big", words(10))) ++
        (1000L until 1020L).map(i => (i, "small", words(10)))): _*)
    val out = Chunking.mixToBudget(df, "shard", "id", "text", budgetTokens = 500L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val (nSmall, tokSmall, totSmall) = out("small")
    assert(nSmall == 20 && tokSmall == 200 && totSmall == 200,
      s"under-budget source must pass whole: ${out("small")}")
    val (nBig, tokBig, totBig) = out("big")
    assert(totBig == 2000)
    // Weyl pick at rate 0.25 over 200 uniform ids: expect ~50 docs /
    // ~500 tokens; the hash is fixed so the exact count is stable —
    // assert the budget is approximated within 2×, both sides
    assert(tokBig >= 250 && tokBig <= 1000, s"sampled $tokBig of 2000 for budget 500")
    assert(nBig.toDouble / 200.0 >= 0.125 && nBig.toDouble / 200.0 <= 0.5)
    // determinism
    val again = Chunking.mixToBudget(df, "shard", "id", "text", budgetTokens = 500L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(again == out)
  }

  test("budget mixing: zero-pick sources still surface, rows view agrees with stats view") {
    // source "unlucky": ONE doc whose Weyl bucket (id=1 → 40503) sits
    // above rate·65536 at rate = 10/100 — the pick keeps nothing, and
    // the stats view must still report the source with n_sampled = 0
    // instead of dropping the row
    val df = frame(
      ((0L until 50L).map(i => (i * 2, "even", words(10))) :+
        (1L, "unlucky", words(100))): _*)
    val stats = Chunking.mixToBudget(df, "shard", "id", "text", budgetTokens = 10L)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(stats.contains("unlucky"), "empty source must not disappear from the audit")
    assert(stats("unlucky") == ((0L, 0L, 100L)))
    // the rows view is the ground truth the stats view must aggregate to
    val rows = Chunking.mixToBudgetRows(df, "shard", "id", "text", budgetTokens = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(rows.forall(_._1 == "even"))
    assert(rows.forall(_._3 == 10L))
    val (nEven, tokEven, totEven) = stats("even")
    assert(rows.length.toLong == nEven && rows.map(_._3).sum == tokEven)
    assert(totEven == 500L)
  }

  test("cluster split: no near-dup pair ever straddles the split boundary") {
    // the leakage law q_split_by_cluster exists for: a per-doc hash
    // split puts ~9.5% of near-dup pairs across train/test; splitting
    // by connected component makes that structurally impossible
    val dir = "/root/testdata/sf0.001"
    val split = SparkEntry.queries("q_split_by_cluster")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val docs = Tables.documents(spark, dir)
    assert(split.size == docs.count(), "every document is assigned")
    val pairs = graft.llm.Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    for ((a, b) <- pairs) {
      assert(split(a)._1 == split(b)._1, s"pair ($a,$b) in different clusters")
      assert(split(a)._2 == split(b)._2, s"pair ($a,$b) straddles splits — leakage")
    }
    assert(split.values.map(_._2).toSet.contains("train"))
  }

  test("stratified sample: deterministic, subset, stratum-filtered, rate-shaped") {
    val df = frame((0L until 2000L).map(i =>
      (i, "a", if (i % 2 == 0) "en" else if (i % 3 == 0) "de" else "fr")): _*)
      .withColumnRenamed("shard", "unused")
      .withColumn("lang", when(col("id") % 2 === 0, "en")
        .when(col("id") % 3 === 0, "de").otherwise("fr"))
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    val s1 = Chunking.stratifiedSample(df, "lang", "id", rates)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val s2 = Chunking.stratifiedSample(df, "lang", "id", rates)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(s1 == s2, "same input, same sample")
    assert(!s1.exists(_._2 == "fr"), "stratum without a rate is dropped")
    val nEn = s1.count(_._2 == "en").toDouble / 1000.0
    val nDe = s1.count(_._2 == "de").toDouble / df.filter(col("lang") === "de").count()
    assert(math.abs(nEn - 0.5) < 0.1, s"en rate $nEn ~ 0.5")
    assert(math.abs(nDe - 0.25) < 0.1, s"de rate $nDe ~ 0.25")
  }

  test("gumbelTopK: exact k, deterministic, dominance beyond the noise band, ~w-proportional") {
    import spark.implicits._
    // one stratum of 100 docs, k = 10: exactly k, ranks dense 1..k
    val one = (0L until 100L).map(i => (i, "s", 10L)).toDF("id", "src", "w")
    val p1 = Chunking.sampleGumbelTopK(one, "src", "id", "w", k = 10).collect()
    assert(p1.length == 10 && p1.map(_.getInt(3)).sorted.sameElements(1 to 10))
    val p2 = Chunking.sampleGumbelTopK(one, "src", "id", "w", k = 10)
      .collect().map(_.getLong(1)).toSet
    assert(p1.map(_.getLong(1)).toSet == p2, "same input, same draw")
    // a stratum smaller than k surfaces whole
    val tiny = Seq((1L, "t", 5L), (2L, "t", 5L)).toDF("id", "src", "w")
    assert(Chunking.sampleGumbelTopK(tiny, "src", "id", "w", 10).count() == 2)
    // dominance: the Gumbel noise g = -ln(-ln(u)) spans ~[-2.4, 11.1]
    // on the 16-bit u grid, so a weight ratio beyond e^13.5 ALWAYS
    // outranks — the certainty-inclusion law PPS designs share
    val dom = ((0L until 50L).map(i => (i, "d", 10L)) :+ (999L, "d", 10000000000L))
      .toDF("id", "src", "w")
    val picked = Chunking.sampleGumbelTopK(dom, "src", "id", "w", k = 1)
      .collect().map(_.getLong(1)).toSet
    assert(picked == Set(999L), s"the e^13.5-dominant weight must win, got $picked")
    // ~proportional: 1000 two-doc strata (light w=1 vs heavy w=9),
    // k=1 — P(heavy) = 0.9 exactly under Gumbel; the deterministic
    // Weyl u's should land in a generous band around 900/1000
    val pairs = (0L until 1000L).flatMap(sid =>
      Seq((2 * sid, s"p$sid", 1L), (2 * sid + 1, s"p$sid", 9L)))
      .toDF("id", "src", "w")
    val heavyWins = Chunking.sampleGumbelTopK(pairs, "src", "id", "w", k = 1)
      .filter(col("id") % 2 === 1).count()
    assert(heavyWins > 830 && heavyWins < 970,
      s"heavy (w=9 vs 1) should win ~900/1000, got $heavyWins")
    // non-positive weight fails LOUD, never silently drops
    val bad = Seq((1L, "b", 0L)).toDF("id", "src", "w")
    val e = intercept[Exception] {
      Chunking.sampleGumbelTopK(bad, "src", "id", "w", 1).collect()
    }
    assert(e.getMessage.contains("positive weight"))
  }

  test("gumbelToAllocation: per-stratum quotas filled exactly, prefix of the top-k order, loud valve") {
    import spark.implicits._
    val rows = (0L until 300L).map(i =>
      (i, if (i < 200) "big" else if (i < 280) "mid" else "tiny", 1L + i % 9))
      .toDF("id", "src", "w")
    val alloc = Seq(("big", 40L), ("mid", 15L), ("tiny", 200L), ("ghost", 5L))
      .toDF("src", "alloc")
    val out = Chunking.sampleGumbelToAllocation(rows, "src", "id", "w",
      alloc, "alloc", maxAlloc = 1000L).collect()
    val bySrc = out.groupBy(_.getString(0)).view.mapValues(_.toSeq).toMap
    // each stratum fills exactly min(alloc, population); a stratum in
    // the allocation but absent from the corpus draws nothing
    assert(bySrc("big").size == 40 && bySrc("mid").size == 15)
    assert(bySrc("tiny").size == 20, "an over-allocated stratum yields its population")
    assert(!bySrc.contains("ghost"))
    // the draw is the PREFIX of the fixed-k draw's order — the two
    // operators share one key, so quotas compose consistently
    val top40 = Chunking.sampleGumbelTopK(
        rows.filter(col("src") === "big"), "src", "id", "w", k = 40)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toSet
    assert(bySrc("big").map(r => (r.getLong(1), r.getInt(3))).toSet == top40,
      "allocation draw ≡ top-k draw at the same quota")
    // a NULL allocation (the Neyman all-constant case) draws nothing
    val nullAlloc = Seq(("big", Some(10L)), ("mid", None))
      .toDF("src", "alloc")
    val out2 = Chunking.sampleGumbelToAllocation(rows, "src", "id", "w",
      nullAlloc, "alloc", maxAlloc = 1000L)
      .select("src").distinct().collect().map(_.getString(0)).toSet
    assert(out2 == Set("big"), "NULL-alloc strata absent by contract")
    // an allocation above the declared valve refuses loud
    val e = intercept[Exception] {
      Chunking.sampleGumbelToAllocation(rows, "src", "id", "w",
        Seq(("big", 50L)).toDF("src", "alloc"), "alloc", maxAlloc = 40L)
        .collect()
    }
    assert(e.getMessage != null && e.getMessage.contains("exceeds maxAlloc")
      || e.getCause != null,
      s"over-valve allocation must refuse: ${e.getMessage}")
  }

  test("shard assign: partition of the corpus, dense 1-based positions, append-stable membership") {
    import spark.implicits._
    val ids = (0L until 500L)
    val df = ids.toDF("id")
    val out = Chunking.shardAssign(df, "id", nShards = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))

    assert(out.map(_._1).toSet == ids.toSet, "every doc exactly once")
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(0 <= shard && shard < 8)
      assert(rows.map(_._3).sorted.sameElements(1 to rows.length),
        s"shard $shard: positions dense 1..${rows.length}")
    }
    // shard = weyl(id) % 8, row-local
    out.foreach { case (id, shard, _) =>
      assert(shard == (((id % 65536) * 40503) % 65536 % 8).toInt)
    }
    // decorrelated from insertion order: consecutive ids spread across
    // shards rather than filling one shard at a time
    assert(out.filter(_._1 < 8).map(_._2).distinct.length >= 4)
    // append stability: growing the corpus never moves an old doc's
    // shard (positions may shift — membership must not)
    val grown = Chunking.shardAssign((0L until 800L).toDF("id"), "id", 8)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.foreach { case (id, shard, _) => assert(grown(id) == shard) }
  }

  test("mix temperature: sqrt flattening, budget split, caps, determinism") {
    import spark.implicits._
    // big: 400 docs × 10 tokens = 4000; small: 10 docs × 10 = 100.
    // α=0.5 weights: sqrt(4000):sqrt(100) ≈ 6.3:1 — the small source
    // gets ~14% of budget despite holding ~2.4% of tokens.
    val docs = ((0L until 400L).map(i => ("big", i, words(10))) ++
      (1000L until 1010L).map(i => ("small", i, words(10))))
      .toDF("source", "id", "text")
    val out = Chunking.mixTemperature(docs, "source", "id", "text",
        budgetTokens = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4)))

    val bySrc = out.groupBy(_._1)
    val (wBig, wSmall) = (math.floor(math.sqrt(4000.0) * 1e6).toLong,
      math.floor(math.sqrt(100.0) * 1e6).toLong)
    val allocBig = math.min(4000L, 1000L * wBig / (wBig + wSmall))
    val allocSmall = math.min(100L, 1000L * wSmall / (wBig + wSmall))
    assert(bySrc("big").head._4 == allocBig, "big-source allocation")
    assert(bySrc("small").head._4 == allocSmall, "small-source allocation")
    // temperature flattening: sqrt gives the small source ~14% of the
    // budget — MORE than its whole corpus, so it passes uncapped
    // (rate 1.0) while the bulk source is cut to ~22%
    assert(bySrc("small").head._5 == 1.0, "small source passes whole")
    assert(bySrc("big").head._5 < 0.25,
      s"big source downsampled, rate ${bySrc("big").head._5}")
    // sampled mass tracks the allocation (Weyl low-discrepancy pick:
    // slack of a few documents over 400 consecutive ids)
    bySrc.foreach { case (_, rows) =>
      val mass = rows.map(_._3).sum
      assert(mass <= rows.head._4 + 100, s"mass $mass vs alloc ${rows.head._4}")
      assert(mass >= rows.head._4 - 100, s"mass $mass vs alloc ${rows.head._4}")
    }
    // deterministic: a re-run picks the identical documents
    val again = Chunking.mixTemperature(docs, "source", "id", "text", 1000L)
      .collect().map(r => r.getLong(1)).toSet
    assert(again == out.map(_._2).toSet)
  }

  test("mix unimax: waterfill prefix, uniform remainder, epoch cap, repetition counts") {
    import spark.implicits._
    // caps at maxEpochs=2 (ascending): small 20, mid 200, big 2000.
    // budget 331 → small fully funded (20 ≤ 331 div 3); mid fails
    // (200 > 311 div 2 = 155); remainder 311 splits 155/155 with a
    // loud 1-token div shortfall — never a renormalization.
    val docs = (Seq(("small", 5000L, words(10))) ++
      (1000L until 1010L).map(i => ("mid", i, words(10))) ++
      (0L until 100L).map(i => ("big", i, words(10))))
      .toDF("source", "id", "text")
    val out = Chunking.mixUniMax(docs, "source", "id", "text",
        budgetTokens = 331L, maxEpochs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    val bySrc = out.groupBy(_._1)

    // waterfill allocations: cap for the funded prefix, equal split after
    assert(bySrc("small").head._4 == 20L, "funded source gets its full cap")
    assert(bySrc("mid").head._4 == 155L && bySrc("big").head._4 == 155L,
      "unfunded sources split the remainder uniformly")
    // epoch cap: a fully-funded source repeats EXACTLY maxEpochs times
    assert(bySrc("small").map(_._5).toSet == Set(2L),
      "capped source: every doc at maxEpochs copies, no fractional pick")
    assert(out.forall(_._5 <= 2L), "n_copies never exceeds maxEpochs")
    assert(out.forall(_._5 >= 1L), "zero-copy docs are dropped")
    // mid: alloc 155 over 100 tokens → every doc ≥ 1 full copy, the
    // 55-token fractional epoch picked at the integer Weyl threshold
    assert(bySrc("mid").length == 10 && bySrc("mid").exists(_._5 == 2L))
    // sampled mass tracks each allocation within Weyl slack
    bySrc.foreach { case (src, rows) =>
      val mass = rows.map(r => r._3 * r._5).sum
      assert(math.abs(mass - rows.head._4) <= 100,
        s"$src mass $mass vs alloc ${rows.head._4}")
    }
    // ample budget: every source hits its cap exactly, all docs at 2 copies
    val capped = Chunking.mixUniMax(docs, "source", "id", "text",
        budgetTokens = 10000L, maxEpochs = 2)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(4)))
    assert(capped.forall(_._3 == 2L), "ample budget: maxEpochs everywhere")
    assert(capped.map(c => (c._1, c._2)).toSet ==
      Set(("small", 20L), ("mid", 200L), ("big", 2000L)),
      "ample budget: alloc = cap per source")
    // deterministic re-run
    val again = Chunking.mixUniMax(docs, "source", "id", "text", 331L, 2)
      .collect().map(r => (r.getLong(1), r.getLong(4))).toSet
    assert(again == out.map(r => (r._2, r._5)).toSet)
  }

  test("pack blocks: spans match a brute-force stream cut; tokens conserved; blocks exact-width") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val docs = (0L until 60L).map(id => (id, words(5 + rnd.nextInt(40)).trim))
    val (nShards, bt) = (4, 32)
    val got = Chunking.packBlocks(docs.toDF("id", "text"), "id", "text",
        nShards, bt)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))

    // brute force: lay out each shard's stream doc-by-doc (+1 EOD slot),
    // cut every doc interval at multiples of bt
    def weyl(id: Long) = ((id % 65536) * 40503) % 65536
    val expected = docs
      .map { case (id, t) => (id, weyl(id), t.split(" ").length.toLong) }
      .groupBy { case (id, b, _) => (b % nShards).toInt }
      .toSeq.flatMap { case (shard, rows) =>
        var off = 0L
        rows.sortBy { case (id, b, _) => (b, id) }.flatMap { case (id, _, n) =>
          val spans = (off until off + n).groupBy(_ / bt).toSeq.map {
            case (blk, toks) =>
              (id, shard, blk, toks.min - off, toks.min - blk * bt,
                toks.length.toLong)
          }
          off += n + 1
          spans
        }
      }
    assert(got.toSet == expected.toSet, s"${got.length} vs ${expected.length} spans")
    // conservation: every doc's spans tile exactly its token count
    val byDoc = got.groupBy(_._1)
    docs.foreach { case (id, t) =>
      assert(byDoc(id).map(_._6).sum == t.split(" ").length.toLong, s"doc $id")
    }
    // within a block: spans disjoint, inside [0, bt), never overlapping
    got.groupBy(g => (g._2, g._3)).foreach { case ((shard, blk), spans) =>
      val slots = spans.flatMap(s => s._5 until (s._5 + s._6))
      assert(slots.distinct.length == slots.length,
        s"block ($shard,$blk): overlapping spans")
      assert(slots.forall(p => p >= 0 && p < bt),
        s"block ($shard,$blk): span outside block")
    }
  }

  test("epoch order: per-(epoch, shard) bijection, stable membership, epochs differ, deterministic") {
    import spark.implicits._
    val docs = (0L until 97L).map(id => (id, s"doc $id")).toDF("doc_id", "text")
    val out = Chunking.epochOrder(docs, "doc_id", nShards = 4, epochs = 2,
        seed = 42L).collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("shard"), r.getAs[Int]("pos")))
    assert(out.length == 2 * 97, "every doc appears once per epoch")
    // membership matches shardAssign's append-stable Weyl bucket
    out.foreach { case (_, id, shard, _) =>
      assert(shard == (((id % 65536L) * 40503L) % 65536L % 4L).toInt)
    }
    // bijection: positions within each (epoch, shard) are exactly 1..n
    out.groupBy(t => (t._1, t._3)).foreach { case ((e, sh), g) =>
      assert(g.map(_._4).sorted.toSeq == (1 to g.length),
        s"epoch $e shard $sh: positions must be a permutation of 1..n")
    }
    // the two epochs order at least one multi-doc shard differently
    val orders = out.groupBy(t => (t._1, t._3)).view.mapValues(
      _.sortBy(_._4).map(_._2).toSeq).toMap
    val shards = out.map(_._3).distinct
    assert(shards.exists(sh => orders((1, sh)) != orders((2, sh))),
      "epoch reshuffle must actually change some traversal order")
    // and within one epoch the order is not the identity traversal
    // (the affine stride decorrelates adjacent positions)
    val rerun = Chunking.epochOrder(docs, "doc_id", nShards = 4, epochs = 2,
        seed = 42L).collect()
      .map(r => (r.getAs[Int]("epoch"), r.getAs[Long]("doc_id"),
        r.getAs[Int]("shard"), r.getAs[Int]("pos"))).sorted
    assert(rerun.toSeq == out.sorted.toSeq, "epochOrder must be deterministic")
  }

  test("epoch order: reserved columns rejected, bad args loud") {
    import spark.implicits._
    val docs = Seq((1L, "x", 3)).toDF("doc_id", "text", "epoch")
    intercept[IllegalArgumentException] {
      Chunking.epochOrder(docs, "doc_id", 2, 1, 0L)
    }
    intercept[IllegalArgumentException] {
      Chunking.epochOrder(docs.select("doc_id", "text"), "doc_id", 2, 0, 0L)
    }
  }

  test("shard plan: exact byte sums and ceiling division") {
    import spark.implicits._
    val docs = Seq(
      (1L, "aaaa", "A"),        // 4 bytes
      (2L, "bbbbbb", "A"),      // 6 bytes -> A: 10 bytes, 2 docs
      (3L, "c" * 25, "B")       // B: 25 bytes, 1 doc
    ).toDF("doc_id", "text", "source")
    val plan = Chunking.shardPlan(docs, "text", "source", targetBytes = 8L)
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("total_bytes"), r.getAs[Int]("n_shards"))).toSet
    assert(plan == Set(("A", 2L, 10L, 2), ("B", 1L, 25L, 4)),
      s"got $plan")
  }

  test("sized shard write: file fan-out equals the plan, rows conserved") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sized_").toString
    val docs = (0L until 50L).map(id => (id, "x" * 100)).toDF("doc_id", "text")
    // 5000 bytes at 1200 target -> ceil = 5 shards
    val n = Chunking.writeSizedShards(docs, "doc_id", "text", 1200L, dir)
    assert(n == 5, s"expected 5 shards, planned $n")
    val parts = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(parts == n, s"expected $n part files, found $parts")
    val back = spark.read.parquet(dir)
    assert(back.count() == 50L)
    assert(back.columns.toSet == Set("doc_id", "text"))
  }

  test("weightedSourceMix: singleton weights keep raw mass; a dup cluster's text counts once") {
    import spark.implicits._
    val docs = Seq(
      (1L, "s1", "w w w w"),  // 4 tokens, duplicate pair {1, 2}
      (2L, "s1", "w w w w"),
      (3L, "s2", "x y z a")   // 4 tokens, singleton
    ).toDF("doc_id", "source", "text")
    val w = Seq((1L, 500000L), (2L, 500000L), (3L, 1000000L))
      .toDF("doc_id", "weight_micro")
    val m = Chunking.weightedSourceMix(docs, "source", "doc_id", "text", w)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // s1's 8 raw tokens deflate to 4 effective (the pair counts once),
    // restoring the 50/50 share the duplicates had skewed to 2/3
    assert(m("s1") == ((2L, 8L, 4L, 500000L)))
    assert(m("s2") == ((1L, 4L, 4L, 500000L)))
  }

  test("lengthHistogram: exact power-of-2 buckets, micro shares sum, loud empty bucket") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "a"),                   // 1 token  → bucket 1 [1,1]
      ("s1", "a b"),                 // 2 tokens → bucket 2 [2,3]
      ("s1", "a b c"),               // 3 tokens → bucket 2
      ("s1", "a b c d e f g h"),     // 8 tokens → bucket 4 [8,15]
      ("s2", null.asInstanceOf[String]) // null → bucket 0, loud
    ).toDF("source", "text")
    val out = Chunking.lengthHistogram(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    assert(out(("s1", 1)) == ((1L, 1L, 1L, 1L, 250000L)))
    assert(out(("s1", 2)) == ((2L, 3L, 2L, 5L, 500000L)))
    assert(out(("s1", 4)) == ((8L, 15L, 1L, 8L, 250000L)))
    assert(out(("s2", 0)) == ((0L, 0L, 1L, 0L, 1000000L)),
      "null text must surface in bucket 0, never vanish")
    // shares within a source sum to ≤ 1e6 (floor division) and > 1e6 - #buckets
    val s1 = out.collect { case (("s1", _), v) => v._5 }.sum
    assert(s1 <= 1000000L && s1 > 1000000L - 3)
  }

  test("lengthBatches: per-bucket longest-first batches, exact waste, bounded per-doc padding") {
    import spark.implicits._
    def doc(id: Long, n: Int) = (id, Seq.fill(n)("t").mkString(" "))
    // bucketWidth=4: ids 1-3 → bucket 0 (1,2,3 tokens); 4-6 → bucket 1
    // (5,6,7); 7 → bucket 2 (9). batchSize=2.
    val df = Seq(doc(1, 1), doc(2, 2), doc(3, 3), doc(4, 5), doc(5, 6),
      doc(6, 7), doc(7, 9)).toDF("doc_id", "text")
    val out = Chunking.lengthBatches(df, "doc_id", "text",
      bucketWidth = 4, batchSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6)))).toMap
    // bucket 0 longest-first: (3,2) then (1); bucket 1: (7,6) then (5)
    assert(out == Map(
      (0L, 0L) -> ((2L, 3L, 5L, 6L, 1L)),
      (0L, 1L) -> ((1L, 1L, 1L, 1L, 0L)),
      (1L, 0L) -> ((2L, 7L, 13L, 14L, 1L)),
      (1L, 1L) -> ((1L, 5L, 5L, 5L, 0L)),
      (2L, 0L) -> ((1L, 9L, 9L, 9L, 0L))))
    // conservation: every token appears in exactly one batch
    assert(out.values.map(_._3).sum == 33L)
    // the bound the bucketing exists for: waste < bucketWidth per doc
    out.foreach { case (k, (n, _, _, _, waste)) =>
      assert(waste < 4L * n, s"batch $k wastes ≥ bucketWidth per doc")
    }
    // bad args are loud
    intercept[IllegalArgumentException] {
      Chunking.lengthBatches(df, "doc_id", "text", 0, 2)
    }
    intercept[IllegalArgumentException] {
      Chunking.lengthBatches(df, "doc_id", "text", 4, 0)
    }
  }

  test("releaseManifest: exact ledger, order-free checksum, content+key sensitivity") {
    import spark.implicits._
    val docs = Seq((0L, "alpha"), (1L, "beta"), (8L, "gamma"), (65536L, "delta"))
      .toDF("doc_id", "text")
    def manifest(df: org.apache.spark.sql.DataFrame) =
      Chunking.releaseManifest(df, "doc_id", "text", nShards = 8)
        .collect()
        .map(r => r.getInt(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
        .toMap
    val m = manifest(docs)
    // Weyl buckets: id 0 → 0, id 65536 → 0 (65536 % 65536 = 0), so
    // shard 0 holds {0, 65536}; id 1 → 40503 % 8 = 7; id 8 → (8·40503)
    // % 65536 = 61464, % 8 = 0 — also shard 0. Check the ledger parts.
    assert(m.values.map(_._1).sum == 4L, "every doc lands in exactly one shard")
    val s0 = m(0)
    assert(s0._1 == 3L && s0._2 == ("alpha".length + "gamma".length + "delta".length).toLong)
    assert(s0._3 == 0L && s0._4 == 65536L, "id range spans the shard's members")
    assert(m(7) == ((1L, 4L, 1L, 1L, m(7)._5)))
    // order-free: a reversed input produces the identical manifest
    assert(manifest(docs.orderBy(col("doc_id").desc)) == m)
    // content sensitivity: one flipped character moves the checksum
    val flipped = Seq((0L, "alphb"), (1L, "beta"), (8L, "gamma"), (65536L, "delta"))
      .toDF("doc_id", "text")
    assert(manifest(flipped)(0)._5 != s0._5, "bit rot must move the checksum")
    // key sensitivity: same text under a re-keyed id changes the digest
    // (8 and 65536 share shard 0 — swap their texts, byte sum is equal)
    val rekeyed = Seq((0L, "alpha"), (1L, "beta"), (8L, "delta"), (65536L, "gamma"))
      .toDF("doc_id", "text")
    val r0 = manifest(rekeyed)(0)
    assert(r0._2 == s0._2 && r0._5 != s0._5,
      "re-keyed rows keep the byte sum but must move the checksum")
  }

  test("ppsSystematicSample: exact hit conservation, PPS certainty, determinism, loud oversample") {
    import spark.implicits._
    // source s1: one giant doc (60 tokens) among small ones — PPS must
    // pick it with multiplicity; s2: uniform docs
    val giant = ("s1", 100L, (1 to 60).map(_ => "w").mkString(" "))
    val docs = (Seq(giant) ++ (1 to 20).map(i => ("s1", i.toLong, "a b c")) ++
      (1 to 10).map(i => ("s2", i.toLong, "x y z w v"))).toDF("source", "doc_id", "text")
    val out = Chunking.ppsSystematicSample(docs, "source", "doc_id", "text",
      picksPerSource = 10)
    val rows = out.collect()
    // conservation: every source lands EXACTLY m boundary hits
    val hits = rows.groupBy(_.getString(0)).view.mapValues(_.map(_.getLong(3)).sum)
    assert(hits("s1") == 10L && hits("s2") == 10L,
      s"systematic sampling must hit exactly m per source, got $hits")
    // certainty pick: s1 totals 120 tokens, stride 12 — the 60-token
    // giant spans 5 boundaries regardless of where the order puts it
    val g = rows.find(r => r.getString(0) == "s1" && r.getLong(1) == 100L).get
    assert(g.getLong(3) == 5L, s"giant doc must be hit total/stride times, got $g")
    // HT weight of the giant: hits·total·1e6 div (nt·m) = 5·120e6/(60·10) = 1e6
    assert(g.getLong(4) == 1000000L)
    // determinism: a reshuffled input produces the identical sample
    val again = Chunking.ppsSystematicSample(docs.orderBy(rand(42)), "source",
      "doc_id", "text", picksPerSource = 10).collect()
    assert(again.map(_.toString).sorted.toSeq == rows.map(_.toString).sorted.toSeq)
    // oversample: a 3-token source cannot yield 10 picks — loud
    val tiny = Seq(("s3", 1L, "a b c")).toDF("source", "doc_id", "text")
    val ex = intercept[Exception] {
      Chunking.ppsSystematicSample(tiny, "source", "doc_id", "text", 10).collect()
    }
    assert(ex.getMessage.contains("fewer than 10 tokens"))
  }

  test("manifestDiff: added/removed/changed/unchanged statuses, -1 sentinels, content-edit trips") {
    import spark.implicits._
    def manifest(rows: Seq[(Long, String)]) =
      Chunking.releaseManifest(rows.toDF("doc_id", "text"), "doc_id", "text",
        nShards = 8)
    // shards: 0 holds {0, 8}, 7 holds {1}, id 2 → (2·40503)%65536=15470
    // % 8 = 6 → shard 6
    val oldM = manifest(Seq((0L, "alpha"), (8L, "gamma"), (1L, "beta")))
    val newM = manifest(Seq((0L, "alphb"), (8L, "gamma"), (2L, "new doc")))
    val d = Chunking.manifestDiff(oldM, newM)
      .collect().map(r => r.getInt(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(d(0)._1 == "changed",
      "a count-preserving one-character edit must trip the checksum")
    assert(d(0)._2 == 2L && d(0)._3 == 2L)
    assert(d(7) == (("removed", 1L, -1L, 4L, -1L)))
    assert(d(6) == (("added", -1L, 1L, -1L, 7L)))
    assert(d.size == 3)
    // identical ledgers: every shard unchanged
    val same = Chunking.manifestDiff(oldM, oldM).collect()
    assert(same.forall(_.getString(1) == "unchanged"))
  }

  test("leakageSafeSplit: a near-dup family never straddles the fence; singletons match hashSplit") {
    import spark.implicits._
    // three duplicate families (chains A~B~C via pairs) + singletons
    val docs = (0L until 40L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq(
      (1L, 7L), (7L, 13L),          // family {1,7,13}
      (2L, 22L),                    // family {2,22}
      (5L, 11L), (11L, 31L), (5L, 31L) // family {5,11,31}
    ).toDF("id_a", "id_b")
    val w = Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2)
    val got = Chunking.leakageSafeSplit(docs, "doc_id", pairs,
      "id_a", "id_b", w).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(got.size == 40, "every document gets exactly one split")
    for (fam <- Seq(Seq(1L, 7L, 13L), Seq(2L, 22L), Seq(5L, 11L, 31L)))
      assert(fam.map(got).distinct.size == 1,
        s"family $fam straddles the fence: ${fam.map(got)}")
    // each family lands where its MIN id would land alone
    val solo = Chunking.hashSplit(docs, "doc_id", w).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    assert(got(1L) == solo(1L) && got(2L) == solo(2L) && got(5L) == solo(5L))
    // and every non-paired doc splits exactly as plain hashSplit
    val paired = Set(1L, 7L, 13L, 2L, 22L, 5L, 11L, 31L)
    (0L until 40L).filterNot(paired).foreach { i =>
      assert(got(i) == solo(i), s"singleton $i moved: ${got(i)} vs ${solo(i)}")
    }
  }

  test("neymanAllocation: sigma-proportional split, largest remainder, caps report shortfall, zero-variance draws nothing, all-constant NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // A = {1,2} → w = 1e9; B = {1,7} → w = 6e9 (exact perfect squares)
    val df = Seq(("A", 1.0), ("A", 2.0), ("B", 1.0), ("B", 7.0))
      .toDF("k", "v")
    val g7 = graft.llm.Chunking.neymanAllocation(df, "k", "v", budget = 7L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(g7("A").getLong(2) == 1000000000L
      && g7("B").getLong(2) == 6000000000L, s"weights: ${g7.values.toSeq}")
    assert(g7("A").getLong(3) == 1L && g7("B").getLong(3) == 2L
      && g7("B").getLong(4) == 4L,
      s"1:6 split caps at n with the shortfall reported: ${g7.values.toSeq}")
    // budget 3: bases (0, 2), remainders (3e9, 4e9) → B takes the +1
    val g3 = graft.llm.Chunking.neymanAllocation(df, "k", "v", budget = 3L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(g3("A").getLong(3) == 0L && g3("B").getLong(3) == 2L,
      s"largest remainder: ${g3.values.toSeq}")
    // conservation when nothing caps: sum(alloc) = budget
    val big = (1 to 50).map(i => ("A", i.toDouble)) ++
      (1 to 50).map(i => ("B", i * 3.0))
    val gb = graft.llm.Chunking.neymanAllocation(big.toDF("k", "v"), "k", "v",
      budget = 10L).collect()
    assert(gb.map(_.getLong(3)).sum == 10L)
    // a zero-variance stratum draws nothing; a lone varying one takes all
    val withConst = Seq(("C", 5.0), ("C", 5.0), ("D", 1.0), ("D", 9.0))
      .toDF("k", "v")
    val gc = graft.llm.Chunking.neymanAllocation(withConst, "k", "v", 2L)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(gc("C").getLong(3) == 0L && gc("D").getLong(3) == 2L)
    // every stratum constant: undefined, NULL allocations
    val allConst = Seq(("C", 5.0), ("C", 5.0), ("E", 3.0)).toDF("k", "v")
    assert(graft.llm.Chunking.neymanAllocation(allConst, "k", "v", 2L)
      .collect().forall(_.isNullAt(3)))
    intercept[IllegalArgumentException] {
      graft.llm.Chunking.neymanAllocation(df, "k", "v", 0L)
    }
  }

  test("preferencePairs: best-vs-worst per group, tie to lowest id, degenerate groups emit unusable, margin gate") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(
      ("g1", 1L, 900000L), ("g1", 2L, 500000L), ("g1", 3L, 100000L),
      ("g2", 4L, 700000L), ("g2", 5L, 700000L), ("g2", 6L, 200000L),
      ("g3", 7L, 400000L), ("g3", 8L, 400000L),      // all equal
      ("g4", 9L, 600000L),                           // group of one
      ("g5", 10L, 500000L), ("g5", 11L, 450000L)     // under margin
    ).toDF("g", "id", "s")
    val got = graft.llm.Chunking.preferencePairs(df, "g", "id", "s",
      minMarginMicro = 100000L).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(got.size == 5, "every group emits, degenerate included")
    val g1 = got("g1")
    assert(g1.getLong(2) == 1L && g1.getLong(4) == 3L
      && g1.getLong(6) == 800000L && g1.getBoolean(7), s"got $g1")
    assert(got("g2").getLong(2) == 4L, "top-score tie breaks to the lowest id")
    assert(!got("g3").getBoolean(7) &&
      got("g3").getLong(2) == got("g3").getLong(4),
      "all-equal scores cannot form a pair")
    assert(!got("g4").getBoolean(7), "a singleton group is unusable")
    assert(!got("g5").getBoolean(7) && got("g5").getLong(6) == 50000L,
      "a real pair under the margin is emitted but flagged")
    intercept[IllegalArgumentException] {
      graft.llm.Chunking.preferencePairs(df, "g", "id", "s", -1L)
    }
    // null scores/ids are excluded before pairing
    val withNull = Seq(("g", Some(1L), Some(10L)), ("g", Some(2L), None),
      ("g", None, Some(30L))).toDF("g", "id", "s")
    assert(graft.llm.Chunking.preferencePairs(withNull, "g", "id", "s", 0L)
      .filter(col("g") === "g").head().getLong(1) == 1L)
  }
}
