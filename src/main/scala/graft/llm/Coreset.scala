package graft.llm

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** k-center greedy coreset selection (Gonzalez farthest-point
  * traversal) over the embedding store — the DIVERSITY counterpart of
  * the PageRank/curriculum centrality signal: where centrality ranks
  * the most *representative* documents, k-center picks the maximally
  * *spread* ones (each new center is the point least similar to every
  * center chosen so far), the standard seed set for coreset training
  * runs, active-learning batches, and IVF/kmeans initialization with a
  * 2-approximation guarantee on the coverage radius.
  *
  * Reference scope: the reference engine has no coreset operator; this
  * extends the training-data layer the same way PageRank (L-82) and
  * SemDeDup (L-43) do, from published shape (Gonzalez 1985; Sener &
  * Savarese 2018 for the coreset-training framing).
  *
  * EXACT cross-engine arithmetic, so the whole greedy trace is
  * oracle-checkable: vectors are quantized to integer milli-units
  * (`Similarity.quantize` — the same representation the kNN/cosine
  * tiers share), a pair similarity is `Similarity.cosQ` — the exact
  * BIGINT dot over the root of the exact norm product: one IEEE
  * multiply, sqrt, divide on exactly-representable integers,
  * bit-identical in DuckDB — and the per-round argmin orders by that
  * double with ties on id. A center's self-similarity is exactly 1.0
  * (nsq ≤ ~6.4e7 at d=64 milli-quantized, so nsq² < 2^53 is an
  * exactly-representable perfect square and sqrt returns nsq), but
  * selection never relies on that: already-chosen ids are excluded
  * explicitly.
  *
  * Scale shape: k passes, NO shuffle anywhere. The per-point state
  * (best = max cosine to any chosen center) lives in a column and is
  * updated INCREMENTALLY — one `greatest(best, cos(v, newest))` map
  * per round against the newest center's vector shipped as a plan
  * literal (the classic k-center optimization: round i costs one
  * corpus map, not i of them). The argmin is TakeOrdered (local top-1
  * per partition + driver merge of one row each), the only driver
  * collect is that single row per round, and lineage is cut every
  * `CheckpointEvery` rounds so round i's plan does not replay rounds
  * 1..i-1 (not `Fixpoint.rounds`: its cuts of the first and last state
  * cost 12 -> 14 jobs at k = 8). The quantized corpus is persisted once.
  *
  * Returns the k selected centers as (idCol, sel_round, far_cos):
  * sel_round = 1-based selection order, far_cos = the center's max
  * similarity to all PREVIOUSLY selected centers at the moment it was
  * chosen (-2.0 sentinel for round 1 — below the cosine range, never
  * confusable with a real similarity). far_cos is non-decreasing from
  * round 2 on (the Gonzalez radius-monotonicity law, gated in
  * CoresetSpec); far_cos of round k+1 would be the coverage radius.
  *
  * Zero-norm vectors fail the divide loudly under ANSI mode (the
  * cosine-tier contract from commit 5588cf8) — quarantine upstream
  * with `Similarity.quarantineEmbeddings`.
  */
object Coreset {

  /** Rounds between lineage cuts. */
  private val CheckpointEvery = 2

  def kCenters(df: DataFrame, idCol: String, embCol: String, k: Int): DataFrame = {
    require(k >= 1 && k <= 4096, s"kCenters: k must be in [1, 4096], got $k")
    for (c <- Seq("__vq", "__nsq", "__best", "sel_round", "far_cos")
         if df.columns.contains(c))
      require(false, s"kCenters: '$c' is reserved for internal use — rename it")
    val spark = df.sparkSession
    val vecs = df
      .select(col(idCol), Similarity.quantize(embCol).as("__vq"))
      .withColumn("__nsq", Similarity.normSqQ("__vq"))
      .persist()
    try {
      // Round 1: the minimum id — deterministic, partition-independent,
      // and replayable as ORDER BY id LIMIT 1 in the oracle.
      val lowest = vecs.sort(col(idCol).asc).head(1)
      require(lowest.nonEmpty,
        s"kCenters: k=$k exceeds the number of distinct vectors (0 found)")
      val first = lowest(0)
      val selected = collection.mutable.ArrayBuffer[(Long, Double)]()

      def centerCos(row: Row): org.apache.spark.sql.Column = {
        Similarity.cosQ(col("__vq"), col("__nsq"),
          typedLit(row.getSeq[Long](row.fieldIndex("__vq"))),
          lit(row.getLong(row.fieldIndex("__nsq"))))
      }

      selected += ((first.getLong(first.fieldIndex(idCol)), -2.0))
      var state = vecs.withColumn("__best", centerCos(first))
      var round = 1
      while (round < k) {
        if (round % CheckpointEvery == 0) state = state.localCheckpoint(eager = true)
        val next = state
          .filter(!col(idCol).isin(selected.map(_._1).toSeq: _*))
          .sort(col("__best").asc, col(idCol).asc)
          .head(1)
        require(next.nonEmpty,
          s"kCenters: k=$k exceeds the number of distinct vectors (${round} found)")
        val row = next(0)
        selected += ((row.getLong(row.fieldIndex(idCol)),
          row.getDouble(row.fieldIndex("__best"))))
        state = state.withColumn("__best",
          greatest(col("__best"), centerCos(row)))
        round += 1
      }
      import spark.implicits._
      spark.createDataset(selected.toSeq.zipWithIndex.map {
        case ((id, far), i) => (id, i + 1, far)
      }).toDF(idCol, "sel_round", "far_cos")
        .select(col(idCol), col("sel_round").cast("int"), col("far_cos"))
    } finally vecs.unpersist()
  }
}
