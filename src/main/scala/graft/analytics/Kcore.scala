package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Fixpoint

/** k-core extraction — the density backbone of a graph (Seidman 1983):
  * the unique maximal subgraph in which every node keeps degree ≥ k.
  * On the kNN graph of the embedding store this is the "dense topic
  * mass vs stragglers" separator: core members sit in tight semantic
  * neighborhoods (candidate boilerplate / template families, or the
  * well-covered head of a domain), peeled nodes are the sparse tail —
  * the complement signal to PageRank centrality and triangle support.
  */
object Kcore {

  /** Members of the k-core with their within-core degree. Peeling:
    * repeatedly drop nodes whose CURRENT degree < k; the fixpoint is
    * the k-core, which is UNIQUE and order-independent — so the
    * per-round parallel drop (all under-degree nodes at once) lands
    * on the same answer as sequential peeling, deterministically.
    *
    * Edges are canonicalized undirected internally (self-loops
    * dropped, both orientations counted once). Rounds are bounded by
    * `maxRounds` BY CONTRACT and the loop stops early only at the
    * (survivor-count, degree-sum) fixpoint — extra rounds are no-ops
    * there, which is exactly what lets the oracle unroll `maxRounds`
    * SQL rounds unconditionally and still match bit-for-bit (the
    * bfsHops convergence-vs-unrolled contract). A pathological peel
    * chain longer than maxRounds leaves a SUPERSET of the k-core on
    * both engines — same rounds, same answer, contract documented.
    *
    * Scale shape: one distinct-canonicalize shuffle up front; each
    * `Fixpoint` round is one equi-join of the edge list against the
    * (shrinking) survivor set + one partial-aggregated degree count,
    * whose checkpoint job also carries the (count, Σ degree) probe; a
    * capped run logs a WARN. O(peel-depth) rounds — real near-dup/kNN
    * graphs peel in a handful.
    */
  def kcoreMembers(edges: DataFrame, srcCol: String, dstCol: String,
                   k: Int, maxRounds: Int = 15): DataFrame = {
    require(k >= 1, s"kcoreMembers: k must be >= 1, got $k")
    require(maxRounds <= 50, s"kcoreMembers: maxRounds in [1, 50], got $maxRounds")
    val und = edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
    val eu = und.select(col("a").as("src"), col("b").as("dst"))
      .union(und.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    def degrees(e: DataFrame): DataFrame =
      e.groupBy(col("src").as("id")).agg(count(lit(1)).as("core_degree"))
    // the state is the survivors' degrees, all nodes to start with. At
    // the fixpoint every survivor's degree is >= k by definition; no
    // final filter, so the maxRounds-bounded (non-converged) case
    // emits the SAME honest superset as the oracle's unrolled rounds
    Fixpoint("kcoreMembers", degrees(eu), maxRounds,
        count(lit(1)).as("n"), sum("core_degree").as("degree_sum")) { (s, _) =>
      val surv = s.filter(col("core_degree") >= k).select("id")
      degrees(eu.join(surv.select(col("id").as("src")), Seq("src"))
        .join(surv.select(col("id").as("dst")), Seq("dst")))
    }._1
  }
}
