package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.llm.Bpe

/** Gates for the BPE tokenizer (q_bpe_tokens is rows-only — the
  * trained merge table is data-dependent — so correctness is pinned
  * here): textbook merge learning, the roundtrip law, equivalence of
  * the rank-based encoder with a naive sequential replay of the merge
  * list, determinism, and the compiled expression matching the
  * canonical driver-side encoder.
  */
class BpeSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  private def corpus(rows: (Long, String)*) =
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)

  /** Independent reference: apply each merge IN LIST ORDER to every
    * word (Sennrich's original formulation). For a merge list learned
    * by rank, this is equivalent to the rank-argmax encoder — the law
    * the spec checks, since the two implementations share no code.
    */
  private def replayEncode(token: String, merges: Seq[(String, String)]): Array[String] = {
    var syms: Array[String] = token.map(_.toString).toArray
    for ((a, b) <- merges) {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
          out += a + b; i += 2
        } else { out += syms(i); i += 1 }
      }
      syms = out.toArray
    }
    syms
  }

  test("textbook corpus learns the expected first merges") {
    // 'ab' appears with weight 8 (4 docs x twice), 'bc' with 4, so the
    // first merge must be (a,b); after it, ('ab','c') dominates.
    val df = corpus(
      (1L, "abc abc"), (2L, "abc abc"), (3L, "abd abd"), (4L, "abd abd"))
    val merges = Bpe.train(df, "text", numMerges = 2)
    assert(merges.head == (("a", "b")), s"first merge: ${merges.head}")
    // second merge: 'ab'+'c' and 'ab'+'d' tie at 2 vocab entries...
    // weights: abc count 4, abd count 4 — tie broken lexicographically
    assert(merges(1) == (("ab", "c")), s"second merge: ${merges(1)}")
  }

  test("roundtrip: concatenated subwords reproduce every fixture token") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.train(docs, "text", numMerges = 50)
    val toks = docs.select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "").distinct()
    val enc = toks.select(col("tok"),
        concat_ws("", Bpe.encode(col("tok"), merges)).as("joined"),
        size(Bpe.encode(col("tok"), merges)).as("n_sub"))
      .collect()
    assert(enc.nonEmpty)
    for (r <- enc) {
      assert(r.getString(1) == r.getString(0), s"roundtrip broke on '${r.getString(0)}'")
      assert(r.getInt(2) >= 1 && r.getInt(2) <= r.getString(0).length)
    }
  }

  test("rank-argmax encoder equals naive sequential replay of the merge list") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val merges = Bpe.train(docs, "text", numMerges = 50)
    val ranks = merges.zipWithIndex.toMap
    val words = docs.select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "").distinct().collect().map(_.getString(0))
    assert(words.length > 10)
    for (w <- words)
      assert(Bpe.encodeToken(w, ranks).toSeq == replayEncode(w, merges).toSeq,
        s"encoders disagree on '$w'")
  }

  test("training is deterministic and merges actually compress the corpus") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val m1 = Bpe.train(docs, "text", numMerges = 30)
    val m2 = Bpe.train(docs, "text", numMerges = 30)
    assert(m1 == m2, "same corpus must yield the same merge table")
    assert(m1.size == 30)
    val stats = Bpe.subwordStats(docs, "source", "text", m1).collect()
    assert(stats.nonEmpty)
    for (r <- stats) {
      val (nWords, nSub, nChars) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nSub < nChars, "merges must compress below the char count")
      assert(nSub >= nWords, "every word is at least one subword")
    }
  }

  test("compiled expression equals the canonical encoder on constructed edge cases") {
    val merges = Seq(("a", "b"), ("ab", "ab"), ("c", "c"))
    val ranks = merges.zipWithIndex.toMap
    val cases = Seq("", "a", "abab", "ababab", "ccc", "cccc", "abcabc", "zzz")
    val df = spark.createDataFrame(
      cases.zipWithIndex.map { case (t, i) => Row(i.toLong, t) }.asJava, schema)
    val got = df.select(col("text"), Bpe.encode(col("text"), merges).as("e"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    for (t <- cases)
      assert(got(t) == Bpe.encodeToken(t, ranks).toSeq, s"mismatch on '$t': ${got(t)}")
    // spot-check the overlap convention: "aaa" with (a,a) unlearned
    // stays chars; "abab" with both merges collapses fully
    assert(got("abab") == Seq("abab"))
    assert(got("ccc") == Seq("cc", "c"))
  }

  test("fertility: exact micro ratios per group on constructed merges") {
    import spark.implicits._
    // merges = [(a,b)]: "ab" → 1 subword; "abcd" → [ab, c, d] = 3
    val docs = Seq(
      ("en", "ab ab"),   // 2 words, 2 subwords, 4 chars
      ("de", "abcd")     // 1 word, 3 subwords, 4 chars
    ).toDF("lang", "text")
    val out = Bpe.fertility(docs, "lang", "text", Seq(("a", "b")))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out("en") == ((2L, 2L, 4L, 1000000L, 2000000L)))
    assert(out("de") == ((1L, 3L, 4L, 3000000L, 1333333L)))
  }
}
