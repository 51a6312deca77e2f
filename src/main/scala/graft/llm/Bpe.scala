package graft.llm

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding tokenizer: the subword layer a training pipeline
  * runs between raw text and token ids.
  *
  * Training follows the classic recipe (Sennrich et al. 2016): learn
  * merges over the WORD-FREQUENCY table, not the corpus — the
  * distributed work is exactly one word-count aggregation (the same
  * shuffle `vocabTopK` runs), and the merge loop is driver-side over
  * the bounded vocabulary, which is how production BPE trainers work
  * (the vocab is ~10⁴-10⁶ entries regardless of corpus size).
  *
  * Encoding is per-token and stateless: apply the learned merges by
  * rank (lowest rank first) until no adjacent pair is mergeable. The
  * hot path is the compiled `BpeEncodeExpr` kernel; the canonical
  * implementation lives here (`encodeToken`) and the expression calls
  * it, so the two can't drift. Tokens are treated as char sequences
  * (the documents fixture is ASCII; surrogate pairs would split —
  * acceptable for the space-split lowercase contract of `TextOps`).
  *
  * Everything is deterministic: ties in the pair-count argmax break on
  * the lexicographically smallest pair, so the same corpus always
  * yields the same merge table.
  */
object Bpe {

  /** Learn `numMerges` merges from the corpus's word-frequency table.
    * One distributed count + a bounded TakeOrdered (the `maxVocab` cap
    * is the driver-memory guard, same bound class as IVF's train
    * sample); the merge loop itself is O(numMerges · vocab chars) on
    * the driver.
    */
  def train(df: DataFrame, textCol: String, numMerges: Int,
            maxVocab: Int = 10000): Seq[(String, String)] = {
    val vocab = df
      .select(explode_outer(TextOps.tokens(textCol)).as("token"))
      .filter(col("token").isNotNull && col("token") =!= "")
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(maxVocab)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainFromVocab(vocab, numMerges)
  }

  /** The driver-side merge loop over (word, frequency) pairs. */
  def trainFromVocab(vocab: Array[(String, Long)],
                     numMerges: Int): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] =
      vocab.map { case (w, n) => (w.map(_.toString).toArray, n) }
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var continue = true
    while (continue && merges.size < numMerges) {
      val pairCounts = mutable.Map.empty[(String, String), Long]
      for ((syms, n) <- words; i <- 0 until syms.length - 1) {
        val p = (syms(i), syms(i + 1))
        pairCounts(p) = pairCounts.getOrElse(p, 0L) + n
      }
      if (pairCounts.isEmpty) continue = false
      else {
        // argmax by count; deterministic lexicographic tie-break
        val best = pairCounts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += best
        words = words.map { case (syms, n) => (mergePair(syms, best), n) }
      }
    }
    merges.toSeq
  }

  /** Replace every adjacent (a, b) occurrence with a+b, left to right
    * (after a merge the scan continues AFTER the merged symbol — the
    * standard convention, so "aaa" with merge (a,a) gives [aa, a]).
    */
  private def mergePair(syms: Array[String], p: (String, String)): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == p._1 && syms(i + 1) == p._2) {
        out += syms(i) + syms(i + 1); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Canonical encoder: split to chars, then repeatedly merge the
    * best-ranked (lowest rank) adjacent pair present until none is
    * mergeable. Used by tests and by the compiled expression.
    */
  def encodeToken(token: String, ranks: Map[(String, String), Int]): Array[String] = {
    var syms: Array[String] = token.map(_.toString).toArray
    var continue = syms.length >= 2
    while (continue) {
      var bestRank = Int.MaxValue
      var bestPair: (String, String) = null
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < bestRank) { bestRank = r; bestPair = (syms(i), syms(i + 1)) }
        i += 1
      }
      if (bestPair == null) continue = false
      else syms = mergePair(syms, bestPair)
      if (syms.length < 2) continue = false
    }
    syms
  }

  /** Compiled per-token encoder column: array<string> of subwords. */
  def encode(tokenCol: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeFunctions.bpeEncode(tokenCol, merges)

  /** Tokenizer fertility report — the standard tokenizer-evaluation
    * metric, per group (typically language): subwords emitted per
    * whitespace word and characters per subword, both in exact
    * integer micro-units over `subwordStats`' ledger. High fertility
    * on a language = the merge table under-serves it — the number a
    * multilingual vocab budget negotiation actually reads. Same scale
    * shape as subwordStats (encode once per distinct word); the ratio
    * arithmetic runs on the collapsed per-group rows.
    */
  def fertility(df: DataFrame, groupCol: String, textCol: String,
                merges: Seq[(String, String)]): DataFrame =
    subwordStats(df, groupCol, textCol, merges)
      .withColumn("fertility_micro",
        expr("(n_subwords * 1000000L) div n_words"))
      .withColumn("chars_per_subword_micro",
        expr("(n_chars * 1000000L) div n_subwords"))

  /** Per-source subword statistics — the scale-aware shape: tokens are
    * encoded ONCE PER DISTINCT WORD (a vocabulary-sized map pass), and
    * the corpus-sized token stream picks its subword count up through
    * a broadcast join. Encoding per occurrence would run the merge
    * loop ~(corpus/vocab)× more often for identical results.
    *
    * The distinct-word table is natural-language-vocabulary-shaped
    * (Heaps' law keeps it sublinear in corpus size) but NOT bounded by
    * `maxVocab` — adversarial corpora (random hex, id dumps) make it
    * corpus-sized, and the broadcast then ships a corpus-sized table.
    */
  def subwordStats(df: DataFrame, groupCol: String, textCol: String,
                   merges: Seq[(String, String)]): DataFrame = {
    val toks = df
      .withColumn("__toks", TextOps.tokens(textCol))
      .select(col(groupCol), explode_outer(col("__toks")).as("tok"))
      .filter(col("tok").isNotNull && col("tok") =!= "")
    val vocabEnc = toks.select("tok").distinct()
      .withColumn("n_sub", size(encode(col("tok"), merges)))
    toks.join(broadcast(vocabEnc), Seq("tok"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sub").cast("long")).as("n_subwords"),
        sum(length(col("tok")).cast("long")).as("n_chars"))
  }
}
