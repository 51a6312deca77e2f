package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Fixpoint

/** Synchronous label propagation over an edge list — semi-supervised
  * labeling on the embedding store's kNN graph: a small seeded set
  * (human-annotated docs) spreads labels to the rest of the corpus,
  * the standard cheap annotator for quality/domain/topic tags
  * (Zhu & Ghahramani 2002's hard-label variant).
  *
  * One round: every non-seed node takes the MAJORITY label of its
  * in-neighbors' current labels (null-labeled neighbors don't vote),
  * keeping its previous label when no neighbor has one; seeds are
  * immutable. Ties break toward the SMALLEST label id — with the
  * vote count an exact integer, every step is deterministic and the
  * whole fixpoint replays in DuckDB (unrolled CTEs, the PageRank
  * pattern). Labels and votes are integers end-to-end; no floats
  * anywhere.
  *
  * Scale shape: per iteration one (dst, label)-keyed partial-agg
  * count shuffle and one per-dst argmax AGGREGATE (min of
  * struct(-count, label) — the rank-1 window row without the window's
  * extra shuffle-and-sort) — both on the label-bearing edge subset,
  * not the corpus; the label frame carries the immutable seed so no
  * per-iteration node-table join; lineage cut on the `Fixpoint.rounds`
  * cadence.
  * Direction note: pass a symmetrized edge list for the classic
  * undirected semantics (`symmetrize`).
  */
object LabelProp {

  /** union of both directions — label influence flows along kNN edges
    * both ways (i's neighbor j is evidence about i AND vice versa,
    * even when the kNN relation itself is asymmetric)
    */
  def symmetrize(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .union(edges.select(col(dstCol).as("src"), col(srcCol).as("dst")))
      .distinct()

  /** Propagate `iters` rounds. `seeds` must have (`idCol`, seed) with
    * seed null for unlabeled nodes and covering EVERY node (it is the
    * node table). Returns (`idCol`, label, origin) where origin ∈
    * {seed, propagated} and label is null only for nodes no label
    * ever reached — loud, never dropped.
    */
  def propagate(edges: DataFrame, seeds: DataFrame, idCol: String,
                seedCol: String, iters: Int = 5): DataFrame = {
    require(iters >= 1 && iters <= 100, "propagate: iters must be in [1, 100]")
    val e = edges.select(col("src"), col("dst")).persist()
    val base = seeds.select(col(idCol).as("__v"), col(seedCol).cast("int").as("__seed"))
      .persist()
    // the "Scale shape" step (r18): 5 iterations 3.16 s -> ~1.5 s on the
    // sf0.1 kNN graph, bit-identical output; count >= 1, so the argmax's
    // negation never overflows
    val init = base.select(col("__v"), col("__seed").as("__lbl"), col("__seed"))
    val lab = Fixpoint.rounds("propagate", init, iters) { (lab, _) =>
      val majority = e
        .join(lab.filter(col("__lbl").isNotNull), e("src") === lab("__v"))
        .groupBy(col("dst"), col("__lbl").as("__nl"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("__c")).as("__negc"), col("__nl").as("__l")))
          .as("__m"))
        .select(col("dst"), col("__m.__l").as("__nl"))
      lab
        .join(majority, lab("__v") === majority("dst"), "left")
        .select(col("__v"),
          when(col("__seed").isNotNull, col("__seed"))
            .otherwise(coalesce(col("__nl"), col("__lbl"))).as("__lbl"),
          col("__seed"))
    }
    e.unpersist()
    val out = base.join(lab.select(col("__v"), col("__lbl")), Seq("__v"))
      .select(col("__v").as(idCol), col("__lbl").as("label"),
        when(col("__seed").isNotNull, lit("seed"))
          .when(col("__lbl").isNotNull, lit("propagated"))
          .otherwise(lit(null).cast("string")).as("origin"))
    base.unpersist()
    out
  }

  /** Newman modularity of a node partition over an undirected graph —
    * the PARTITION-quality diagnostic pairing `Similarity
    * .clusterQuality`'s point-level silhouette: per community c,
    * Q_c = e_c/m − (d_c/2m)², where e_c counts undirected
    * intra-community edges, d_c sums the community's degrees and m is
    * the undirected edge count. Read before trusting a community
    * structure (label propagation output, or whether ground-truth
    * classes are graph-coherent at all): Q near 0 means the partition
    * does no better than random wiring.
    *
    * Exact integers end to end: q_contrib_micro =
    * e_c·1e6 div m − d_c²·1e6 div (4m²), every product through
    * DECIMAL(38,0) (≡ DuckDB HUGEINT `//`), all operands non-negative
    * so `div` ≡ `//`. The two floors are per-community and
    * deterministic; Q itself is their sum.
    *
    * `edges` must be the SYMMETRIZED directed pair list (each
    * undirected edge both ways — `symmetrize`'s output); nodes
    * carrying labels but no edges contribute n_nodes only.
    *
    * Scale shape: two id-keyed equi-joins attach endpoint labels, one
    * partial-aggregated collapse to |labels| rows, the m total rides
    * back on a 1-row broadcast. No pairwise surface beyond the edge
    * list itself.
    */
  def modularity(edges: DataFrame, labels: DataFrame, srcCol: String,
                 dstCol: String, idCol: String, labelCol: String): DataFrame = {
    val lab = labels.select(col(idCol).as("__v"), col(labelCol).as("__l"))
    val e2 = edges
      .select(col(srcCol).as("__s"), col(dstCol).as("__d"))
      .join(lab.select(col("__v").as("__s"), col("__l").as("__ls")), Seq("__s"))
      .join(lab.select(col("__v").as("__d"), col("__l").as("__ld")), Seq("__d"))
    val perLabel = e2.groupBy(col("__ls").as("label"))
      .agg((count(lit(1))).as("degree_sum"),
        (sum(when(col("__ls") === col("__ld"), 1L).otherwise(0L)) / 2)
          .cast("long").as("internal_edges"))
    val m = e2.agg((count(lit(1)) / 2).cast("long").as("__m"))
    val nodes = lab.groupBy(col("__l").as("label"))
      .agg(count(lit(1)).as("n_nodes"))
    nodes.join(perLabel, Seq("label"), "left")
      .na.fill(0L, Seq("degree_sum", "internal_edges"))
      .crossJoin(broadcast(m))
      .withColumn("q_contrib_micro", expr(
        """CAST(CAST(internal_edges AS DECIMAL(38,0)) * 1000000
          |  div CAST(__m AS DECIMAL(38,0)) AS BIGINT)
          |- CAST(CAST(degree_sum AS DECIMAL(38,0)) * degree_sum * 1000000
          |  div (4 * CAST(__m AS DECIMAL(38,0)) * __m) AS BIGINT)""".stripMargin))
      .select(col("label"), col("n_nodes"), col("internal_edges"),
        col("degree_sum"), col("q_contrib_micro"))
  }

  /** Multi-source BFS hop distances — the graph primitive under
    * "how far is everything from the seed set" (freshness radius from
    * trusted sources, blast-radius analysis, level-of-separation
    * features): per node, the MINIMUM hop count from any source, NULL
    * for unreachable nodes (emitted, never dropped — unreachable is
    * the interesting answer). Min-propagation rounds (hop' =
    * min(hop, neighbor hop + 1)) converge in diameter rounds, run by
    * `Fixpoint` with a (NULL count, Σ hops) probe; `maxIters` bounds
    * both the rounds and the reported distance — a node past that
    * radius reports NULL BY CONTRACT (matching the oracle's recursion
    * bound), and the capped run says so in Fixpoint's WARN line.
    *
    * Scale shape: the edge list is checkpointed once; each round is
    * one equi-join + partial-aggregated min, materialized by one
    * checkpoint job that also carries the probe — O(diameter) rounds
    * of edge-linear work, never a frontier collect.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              sources: DataFrame, idCol: String,
              maxIters: Int = 20): DataFrame = {
    require(maxIters <= 100, s"bfsHops: maxIters in [1, 100], got $maxIters")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val seeds = sources.select(col(idCol).as("id")).distinct()
      .withColumn("__h", lit(0L))
    // node universe = src ∪ dst ∪ seeds: on a DIRECTED edge list a
    // sink-only node must still surface (with NULL — unreachable is
    // the interesting answer), and a seed with no out-edges must keep
    // its hop-0 row rather than vanish in the join (r9 advisor).
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id")))
      .union(seeds.select(col("id")))
      .distinct()
    val init = nodes.join(seeds, Seq("id"), "left")
      .select(col("id"), col("__h").as("hops"))
    Fixpoint("bfsHops", init, maxIters,
        count_if(col("hops").isNull).as("nulls"), sum("hops").as("hop_sum")) { (labels, _) =>
      val neigh = e
        .join(labels.select(col("id").as("src"), col("hops").as("__nh")),
          Seq("src"))
        .filter(col("__nh").isNotNull)
        .select(col("dst").as("id"), (col("__nh") + 1L).as("hops"))
      labels.union(neigh)
        .groupBy(col("id")).agg(min(col("hops")).as("hops"))
    }._1
  }

  /** Common-neighbor link prediction (Liben-Nowell & Kleinberg 2003 —
    * the baseline every link-prediction paper still reports): for
    * node pairs at distance two in the undirected graph, the count of
    * shared neighbors and the neighborhood-Jaccard
    * |Γa ∩ Γc| / |Γa ∪ Γc| in exact integer micro-units. Pairs that
    * are ALREADY edges are excluded (predicting the present isn't
    * prediction); candidates below `minCommon` shared neighbors are
    * thinned before any join fan-out materializes downstream.
    *
    * Input contract: a SYMMETRIZED, deduplicated edge list (the
    * `symmetrize` output — the same contract `modularity` reads).
    *
    * Scale shape: the wedge enumeration is ONE equi-join of the edge
    * list with itself on the center node — Σ deg² pair volume, the
    * triangle-counting bound class, bounded here by the kNN degree
    * cap k — collapsing partial-aggregated to the candidate table;
    * degrees ride a broadcast, the existing-edge exclusion is one
    * anti-join. The edge list is eagerly checkpointed: it appears in
    * FOUR plan branches (two wedge sides, degrees, exclusion), and
    * without the checkpoint each branch would recompute the full kNN
    * build it came from (the pairwiseTrend lesson at graph scale).
    */
  def linkPredict(edges: DataFrame, srcCol: String, dstCol: String,
                  minCommon: Long = 2L): DataFrame = {
    require(minCommon >= 1L, s"linkPredict: minCommon >= 1, got $minCommon")
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint(true)
    val deg = e.groupBy(col("src").as("__v"))
      .agg(count(lit(1)).as("__deg"))
    val cand = e.select(col("src").as("__a"), col("dst").as("__b"))
      .join(e.select(col("src").as("__b2"), col("dst").as("__c")),
        col("__b") === col("__b2"))
      .filter(col("__a") < col("__c"))
      .groupBy(col("__a"), col("__c"))
      .agg(count(lit(1)).as("common"))
      .filter(col("common") >= minCommon)
      .join(e.select(col("src").as("__a"), col("dst").as("__c")),
        Seq("__a", "__c"), "left_anti")
    cand
      .join(broadcast(deg.select(col("__v").as("__a"),
        col("__deg").as("deg_src"))), Seq("__a"))
      .join(broadcast(deg.select(col("__v").as("__c"),
        col("__deg").as("deg_dst"))), Seq("__c"))
      .withColumn("jaccard_micro",
        expr("(common * 1000000L) div (deg_src + deg_dst - common)"))
      .select(col("__a").as("src"), col("__c").as("dst"), col("common"),
        col("deg_src"), col("deg_dst"), col("jaccard_micro"))
  }
}
