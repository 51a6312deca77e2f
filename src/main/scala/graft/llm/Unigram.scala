package graft.llm

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM subword tokenizer (Kudo 2018 — the SentencePiece unigram
  * model): the OTHER major tokenizer family next to BPE. Where BPE
  * greedily merges bottom-up, the unigram model scores every possible
  * segmentation of a word under a piece-probability table and keeps the
  * Viterbi-best — which is why it supports sampling/regularization in
  * the literature and tends to produce more linguistically plausible
  * pieces.
  *
  * Training here is the standard pipeline with one documented
  * simplification: seed candidates are the frequent substrings of the
  * word-frequency table, then HARD-EM rounds (Viterbi counts instead of
  * forward-backward expected counts — "Viterbi-EM", deterministic and
  * the usual engineering shortcut), then a frequency prune to the
  * target vocab with all single characters retained for coverage.
  * The distributed work is exactly ONE word-count aggregation (the
  * same shuffle `Bpe.train` pays); everything after runs on the
  * bounded vocabulary on the driver, which is how production
  * tokenizer trainers work.
  *
  * Determinism: every tie in seeding/pruning breaks on
  * (count desc, piece asc); piece costs are integer MICRO-NATS
  * computed with `StrictMath.log` (reproducible across JVMs, unlike
  * the intrinsified `Math.log`); Viterbi compares Long cost sums and
  * breaks ties toward the LONGER final piece. Same corpus, same
  * table, same encoding — everywhere.
  */
object Unigram {

  /** Sentinel cost for a character absent from the piece table
    * (unseen at training time): ~e^-40, worse than any real piece but
    * finite, so encoding never fails — the unknown char surfaces as
    * its own piece, loud in the fertility stats, never dropped.
    */
  val UnkCostMicroNats: Long = 40000000L

  /** Learn a piece table of `vocabSize` entries: (piece, cost) where
    * cost = round(−ln p · 1e6). One distributed word count + bounded
    * TakeOrdered (the `maxVocab` driver-memory guard, same bound class
    * as `Bpe.train`), then driver-side seeding/EM/pruning.
    */
  def train(df: DataFrame, textCol: String, vocabSize: Int,
            maxVocab: Int = 10000, maxPieceLen: Int = 8,
            emIters: Int = 4): Seq[(String, Long)] = {
    val vocab = df
      .select(explode_outer(TextOps.tokens(textCol)).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainFromVocab(vocab, vocabSize, maxPieceLen, emIters)
  }

  /** Driver-side trainer over the bounded (word, frequency) table. */
  def trainFromVocab(vocab: Array[(String, Long)], vocabSize: Int,
                     maxPieceLen: Int = 8,
                     emIters: Int = 4): Seq[(String, Long)] = {
    require(vocabSize >= 1, "unigram: vocabSize must be >= 1")
    require(maxPieceLen >= 1 && emIters >= 1, "unigram: positive params")
    if (vocab.isEmpty) return Seq.empty

    // 1. seed: substring frequencies (weighted by word count); all
    //    single chars are kept unconditionally for coverage
    val subCounts = mutable.Map.empty[String, Long]
    for ((w, n) <- vocab; i <- 0 until w.length;
         l <- 1 to math.min(maxPieceLen, w.length - i)) {
      val p = w.substring(i, i + l)
      subCounts(p) = subCounts.getOrElse(p, 0L) + n
    }
    val chars = subCounts.keysIterator.filter(_.length == 1).toSeq.sorted
    val seedMulti = subCounts.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, n) => (-n, p) }
      .take(math.max(vocabSize * 4, 16))
      .map(_._1)
    var counts: Map[String, Long] =
      (chars ++ seedMulti).map(p => p -> subCounts(p)).toMap

    // 2. hard-EM: Viterbi-segment every word under current costs,
    //    re-estimate piece counts from the segmentations
    for (_ <- 1 to emIters) {
      val costs = toCosts(counts)
      val next = mutable.Map.empty[String, Long]
      for ((w, n) <- vocab; piece <- encodeToken(w, costs, maxPieceLen))
        next(piece) = next.getOrElse(piece, 0L) + n
      // chars stay for coverage even when currently unused
      counts = (chars.map(c => c -> math.max(next.getOrElse(c, 0L), 1L)) ++
        next.iterator.filter { case (p, n) => p.length > 1 && n > 0L }).toMap
    }

    // 3. prune to vocabSize: chars first, then best multi-char pieces
    val keptMulti = counts.iterator.filter(_._1.length > 1).toSeq
      .sortBy { case (p, n) => (-n, p) }
      .take(math.max(vocabSize - chars.size, 0))
    toCosts((chars.map(c => c -> counts(c)) ++ keptMulti).toMap)
      .toSeq.sortBy { case (p, c) => (c, p) }
  }

  /** counts → integer micro-nat costs: cost = round(−ln(n/total)·1e6),
    * StrictMath for cross-JVM reproducibility.
    */
  private def toCosts(counts: Map[String, Long]): Map[String, Long] = {
    val total = counts.valuesIterator.sum.toDouble
    counts.map { case (p, n) =>
      p -> math.rint(-StrictMath.log(n.toDouble / total) * 1e6).toLong
    }
  }

  /** Canonical Viterbi encoder: minimal total cost over all
    * segmentations into table pieces; a position with no matching
    * piece falls back to its single char at `UnkCostMicroNats`. Cost
    * ties break toward the LONGER final piece (the scan tries lengths
    * ascending and lets an equal-cost longer piece overwrite). Used by
    * the tests and by the compiled `unigram_encode` kernel, so the two
    * cannot drift.
    */
  def encodeToken(token: String, costs: Map[String, Long],
                  maxPieceLen: Int): Array[String] = {
    val n = token.length
    if (n == 0) return Array.empty
    val dp = Array.fill(n + 1)(Long.MaxValue)
    val back = Array.fill(n + 1)(-1) // length of the piece ending at i
    dp(0) = 0L
    var i = 1
    while (i <= n) {
      var l = 1
      while (l <= math.min(maxPieceLen, i)) {
        if (dp(i - l) != Long.MaxValue) {
          val sub = token.substring(i - l, i)
          val c = costs.getOrElse(sub,
            if (l == 1) UnkCostMicroNats else Long.MaxValue)
          if (c != Long.MaxValue && dp(i - l) + c <= dp(i)) {
            dp(i) = dp(i - l) + c
            back(i) = l
          }
        }
        l += 1
      }
      i += 1
    }
    val out = mutable.ArrayBuffer.empty[String]
    var pos = n
    while (pos > 0) {
      val l = back(pos)
      out += token.substring(pos - l, pos)
      pos -= l
    }
    out.reverseIterator.toArray
  }

  /** Compiled per-token encoder column: array<string> of pieces. */
  def encode(tokenCol: Column, pieces: Seq[(String, Long)],
             maxPieceLen: Int = 8): Column =
    graft.functions.UnigramFunctions.unigramEncode(tokenCol, pieces, maxPieceLen)

  /** Per-source subword statistics under the unigram table — the same
    * encode-ONCE-per-distinct-word scale shape as `Bpe.subwordStats`
    * (vocabulary-sized kernel pass, corpus picks counts up through a
    * broadcast join).
    */
  def subwordStats(df: DataFrame, groupCol: String, textCol: String,
                   pieces: Seq[(String, Long)], maxPieceLen: Int = 8): DataFrame = {
    val toks = df
      .withColumn("__toks", TextOps.tokens(textCol))
      .select(col(groupCol), explode_outer(col("__toks")).as("tok"))
      .filter(col("tok").isNotNull && col("tok") =!= "")
    val vocabEnc = toks.select("tok").distinct()
      .withColumn("n_sub", size(encode(col("tok"), pieces, maxPieceLen)))
    toks.join(broadcast(vocabEnc), Seq("tok"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub").cast("long")).as("n_subwords"),
        sum(length(col("tok")).cast("long")).as("n_chars"))
  }
}
