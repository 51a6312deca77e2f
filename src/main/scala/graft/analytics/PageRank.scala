package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an edge list — centrality for the kNN graph of the
  * embedding store (which documents are the most "representative":
  * the standard graph signal for coreset selection and curriculum
  * ordering, run on the `Similarity.knnGraph` output).
  *
  * EXACT INTEGER formulation, so the result is oracle-checkable and
  * partitioning-independent: mass is carried in pico-units (initial
  * mass = 1e12 div N per node) and one update step is
  *   pr'(v) = base + Σ_{u→v} (pr(u) · 17) div (20 · outdeg(u))
  * with base = (1e12 · 3) div (20 · N) — damping 0.85 as the RATIONAL
  * 17/20, every op a BIGINT multiply or integral divide (Spark `div`
  * and DuckDB `//` agree on positive operands). Floors leak a little
  * mass (bounded by one pico-unit per term) — deterministically, on
  * both engines. Overflow headroom: total mass ≤ 1e12, so pr·17 ≤
  * 1.7e13 « 2^63.
  *
  * Scale shape: the edge list is pre-joined with its out-degree table
  * ONCE (one degree-annotated edge frame, eagerly checkpointed), so
  * each iteration is exactly ONE join of the (node, mass) table with
  * the annotated edges plus ONE partial-aggregated groupBy — the
  * per-node teleport `base` rides the SAME aggregation as a unioned
  * (node, base) row instead of a second per-iteration join (r18
  * optimization: the old join-deg-then-left-join-nodes loop measured
  * 5.6 s for 10 iterations on the sf0.1 kNN graph, this shape 2.0 s,
  * bit-identical output). The per-iteration shuffle carries one row
  * per (dst × partition). Lineage is cut with localCheckpoint every
  * `CheckpointEvery` (2) iterations (the connectedComponents pattern —
  * without it the plan doubles per round). Nodes with no in-edges
  * keep receiving `base` via their union row — nothing vanishes.
  */
object PageRank {

  val MassUnit: Long = 1000000000000L // 1e12 pico-units of total mass

  /** Iterations between lineage cuts; measured below at the loop. */
  private val CheckpointEvery = 2

  /** Ranks the `topN` heaviest nodes of `edges` (directed src→dst).
    * Returns (`srcCol`, pr_pico, rank) — rank 1 = highest mass, ties
    * broken by node id ascending. The top-N cut is TakeOrdered (local
    * top-N per partition + driver merge — the skewProfile shape), so
    * the full node table is never globally sorted; the rank window
    * runs over ≤ topN rows.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 10, topN: Int = Int.MaxValue): DataFrame =
    pageRankFrom(edges, srcCol, dstCol, None, iters, topN)

  /** Warm-start arm — the daily-refresh shape: iterate from the
    * PREVIOUS snapshot's stored masses instead of uniform. `prevRanks`
    * is a (srcCol, pr_pico) frame (the `pageRank` output columns; any
    * extra columns are ignored). Nodes of the new graph missing from
    * the store (arrivals) start at the uniform mass; stored nodes
    * absent from the new graph simply drop (their mass is not
    * re-injected — the teleport term re-normalizes total mass toward
    * 1e12 geometrically, exactly as it absorbs the floor leak).
    *
    * The payoff: the update map is a contraction with ratio 17/20, so
    * starting ||pr_prev − pr*|| ≈ ε away from the new fixpoint (a
    * small edge delta moves it little) needs log_{20/17}(ε/δ)
    * iterations instead of the full cold count — on an UNCHANGED
    * graph, warm(cold(k), j) is BY CONSTRUCTION identical to
    * cold(k + j) (the q_pagerank_warm oracle replays exactly that
    * composition in SQL), and PageRankSpec gates the perturbed-graph
    * convergence story against the from-scratch fixpoint.
    */
  def pageRankWarm(edges: DataFrame, srcCol: String, dstCol: String,
                   prevRanks: DataFrame, iters: Int = 3,
                   topN: Int = Int.MaxValue): DataFrame =
    pageRankFrom(edges, srcCol, dstCol,
      Some(prevRanks.select(col(srcCol).as("__pv"),
        col("pr_pico").as("__pmass"))),
      iters, topN)

  /** Personalized PageRank (random-walk-with-restart) — seed-set
    * corpus expansion, the "find more documents like these" selection
    * signal: the teleport mass lands ONLY on the seed set (init =
    * 1e12 div |S| per seed, per-step base = (1e12·3) div (20·|S|) per
    * seed, 0 everywhere else), so the stationary mass measures
    * random-walk proximity to the seeds through the kNN graph. The
    * integer map is otherwise IDENTICAL to `pageRank` — with S = all
    * nodes the two operators coincide exactly (executed law), and a
    * component with no seed holds mass EXACTLY 0 forever (mass enters
    * only via seeds and moves only along edges — the locality law
    * PageRankSpec executes on a two-component graph).
    *
    * Seeds must be nodes of the graph — an absent seed fails LOUD
    * (silently dropping it would re-normalize the walk toward the
    * surviving seeds, a different query than the caller asked).
    * Output: (`srcCol`, ppr_pico, rank), rank 1 = closest to the
    * seed set; the seeds themselves usually lead — drop them for the
    * expansion read.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, iters: Int = 10,
                           topN: Int = Int.MaxValue): DataFrame =
    pageRankFrom(edges, srcCol, dstCol, None, iters, topN,
      Some(seeds.select(col(srcCol).as("__sv")).distinct()))
      .withColumnRenamed("pr_pico", "ppr_pico")

  private def pageRankFrom(edges: DataFrame, srcCol: String, dstCol: String,
                           prev: Option[DataFrame], iters: Int, topN: Int,
                           seeds: Option[DataFrame] = None): DataFrame = {
    require(iters >= 1 && iters <= 100, "pageRank: iters must be in [1, 100]")
    require(topN > 0, "pageRank: topN must be positive")
    import org.apache.spark.sql.expressions.Window
    val e = edges.select(col(srcCol).as("__src"), col(dstCol).as("__dst"))
      .persist()
    val nodes = e.select(col("__src").as("__v"))
      .union(e.select(col("__dst").as("__v"))).distinct().persist()
    val n = nodes.count()
    require(n > 0, "pageRank: empty graph")
    // out-degree is a per-edge CONSTANT across iterations — annotate the
    // edge list with it once and checkpoint, so the loop never joins the
    // degree table again (r18: one join per iteration, not two)
    val ed = e.groupBy("__src").agg(count(lit(1)).as("__od"))
      .join(e, "__src")
      .select(col("__src"), col("__dst"), col("__od"))
      .localCheckpoint(eager = true)
    // nodesB carries each node's per-step teleport mass: uniform for
    // classic PageRank, seed-only for the personalized walk.
    val nodesB = seeds match {
      case None =>
        nodes.select(col("__v"), lit((MassUnit * 3L) / (20L * n)).as("__base"))
          .persist()
      case Some(s) =>
        val sd = s.persist()
        // validation failures must not leak the caches persisted above
        val nSeeds = try {
          val n0 = sd.count()
          require(n0 > 0, "personalizedPageRank: empty seed set")
          val missing = sd.join(nodes, sd("__sv") === nodes("__v"), "left_anti")
            .count()
          require(missing == 0,
            s"personalizedPageRank: $missing seeds are not graph nodes — " +
              "silently dropping them would re-normalize the walk toward " +
              "the survivors; intersect the seed set with the graph first")
          n0
        } catch {
          case t: Throwable =>
            sd.unpersist(); e.unpersist(); nodes.unpersist()
            throw t
        }
        val flagged = nodes.join(sd, nodes("__v") === sd("__sv"), "left")
          .select(col("__v"),
            when(col("__sv").isNotNull,
              lit((MassUnit * 3L) / (20L * nSeeds))).otherwise(lit(0L))
              .as("__base"),
            when(col("__sv").isNotNull, lit(MassUnit / nSeeds))
              .otherwise(lit(0L)).as("__seedinit"))
          .persist()
        sd.unpersist()
        flagged
    }
    val init = (seeds, prev) match {
      case (Some(_), _) =>
        nodesB.select(col("__v"), col("__seedinit").as("__mass"))
      case (None, None) =>
        nodes.select(col("__v"), lit(MassUnit / n).as("__mass"))
      case (None, Some(p)) =>
        nodes.join(p, nodes("__v") === p("__pv"), "left")
          .select(col("__v"),
            coalesce(col("__pmass"), lit(MassUnit / n)).as("__mass"))
    }
    // the teleport rows ride the SAME aggregation as the edge
    // contributions: pr'(v) = Σ of {base row} ∪ {per-in-edge terms} —
    // arithmetic identical to base + Σ contrib, one exchange per
    // iteration instead of a groupBy plus a left join
    val baseRows = nodesB.select(col("__v"), col("__base").as("__c"))
    var pr = init.localCheckpoint(eager = true)
    for (i <- 1 to iters) {
      pr = ed
        .join(pr, ed("__src") === pr("__v"))
        .select(col("__dst").as("__v"),
          expr("(__mass * 17L) div (20L * __od)").as("__c"))
        .unionByName(baseRows)
        .groupBy("__v").agg(sum(col("__c")).as("__mass"))
      // checkpoint every K rounds, not every round: each eager
      // localCheckpoint is a blocking job submission (~the iteration
      // floor at small N), while the lineage between checkpoints is
      // only K joins deep — the connectedComponents tradeoff, tuned.
      // Measured on the sf0.1 kNN graph (5k nodes, 10 iters, warm):
      // every-1 9.2 s, every-2 8.5 s, every-5 13.5 s (deep lineage
      // re-analysis beats the jobs saved) — results bit-identical.
      if (i % CheckpointEvery == 0 || i == iters)
        pr = pr.localCheckpoint(eager = true)
    }
    e.unpersist(); nodes.unpersist(); nodesB.unpersist()
    val cut = pr.select(col("__v").as(srcCol), col("__mass").as("pr_pico"))
      .orderBy(col("pr_pico").desc, col(srcCol).asc)
    (if (topN == Int.MaxValue) cut else cut.limit(topN))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("pr_pico").desc, col(srcCol).asc)).cast("int"))
  }
}
