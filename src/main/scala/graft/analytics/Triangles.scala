package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Triangle counting + local clustering coefficient over an
  * undirected graph — the cohesion diagnostic of the kNN/near-dup
  * graph: a node with a high coefficient sits inside a dense semantic
  * clique (a template/boilerplate family that one exemplar could
  * represent), a low-coefficient hub bridges unrelated regions (a
  * genuinely diverse document). Complements `PageRank`'s centrality
  * (how REPRESENTATIVE a doc is) with redundancy (how REPLACEABLE it
  * is) — the pair of signals coreset selection wants.
  *
  * Algorithm is the Schank–Wagner forward method, shaped for shuffles:
  *  1. canonicalize to distinct undirected edges (a < b) — directed /
  *     duplicated inputs (the raw kNN output) collapse here;
  *  2. orient every edge from its lower endpoint to its higher one
  *     under the TOTAL order (degree, id). Degree-ordering is the
  *     entire scale story: each triangle now has exactly ONE node with
  *     out-edges to the other two (counted once, no /3 fixup), and a
  *     node's oriented out-degree is O(√m) for ANY graph — the
  *     celebrity hub that would explode a naive neighbor self-join
  *     ships only its few higher-degree neighbors;
  *  3. wedges: self-join oriented edges on src, ordered (again by
  *     (degree, id)) so each unordered wedge appears once;
  *  4. close: equality-join wedges against oriented edges — the
  *     closing edge of a wedge (v, w) with v before w in the order is
  *     necessarily oriented v→w, so one equi-join finds it.
  * Two equality-join shuffles total, both partial-aggregable; per-node
  * counts explode the 3 corners of each triangle (triangle-table-sized,
  * tiny next to the edge list). Exact integers throughout ⇒ the whole
  * computation replays in DuckDB.
  *
  * Output: (id, degree, triangles, lcc_micro) for EVERY node of the
  * graph — triangle-free nodes surface with 0 (left join from the
  * degree table, never dropped); lcc_micro = 2·tri·1e6 div
  * (deg·(deg−1)) in exact micro-units, 0 for degree < 2.
  */
object Triangles {

  def localTriangles(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    // und, deg and od are each read by several joins below: eager local
    // checkpoints compute each once and leave no CacheManager entry
    // behind (q_triangles, sf0.1, 4 cores, same JVM, min of 3: 2.43 s against
    // 3.09 s for uncut persists and 2.87 s for persists released after
    // checkpointing the result)
    val und = edges
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(eager = true)
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("degree"))
      .localCheckpoint(eager = true)
    // src = argmin of the two endpoints under (degree, id); a < b by
    // construction, so a wins ties — degree dominates, id breaks.
    val ori = und
      .join(deg.select(col("v").as("a"), col("degree").as("__da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("degree").as("__db")), Seq("b"))
      .select(
        when(col("__da") <= col("__db"), col("a")).otherwise(col("b")).as("src"),
        when(col("__da") <= col("__db"), col("b")).otherwise(col("a")).as("dst"))
    // carry dst's degree so the wedge self-join can order its two legs
    // by the SAME (degree, id) key the orientation used
    val od = ori
      .join(deg.select(col("v").as("dst"), col("degree").as("__dd")), Seq("dst"))
      .select(col("src"), col("dst"), col("__dd"))
      .localCheckpoint(eager = true)
    val wedges = od.as("e1").join(od.as("e2"),
        col("e1.src") === col("e2.src") &&
          (col("e1.__dd") < col("e2.__dd") ||
            (col("e1.__dd") === col("e2.__dd") &&
              col("e1.dst") < col("e2.dst"))))
      .select(col("e1.src").as("u"), col("e1.dst").as("v"),
        col("e2.dst").as("w"))
    val tris = wedges
      .join(ori.select(col("src").as("v"), col("dst").as("w")), Seq("v", "w"))
    val perNode = tris
      .select(explode(array(col("u"), col("v"), col("w"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v").as("id"),
        col("degree").cast("long").as("degree"),
        coalesce(col("triangles"), lit(0L)).cast("long").as("triangles"),
        when(col("degree") >= 2,
          expr("2000000 * coalesce(triangles, 0) div (degree * (degree - 1))"))
          .otherwise(lit(0L)).cast("long").as("lcc_micro"))
  }

  /** Degree assortativity (Newman 2002) — do hubs link to hubs
    * (r > 0, social-network shape) or to leaves (r < 0, hub-and-spoke
    * shape)? The one-number structure summary next to the local
    * clustering coefficient: Pearson correlation over the
    * (deg(src), deg(dst)) pairs of the symmetrized edge set (each
    * undirected edge contributes BOTH orientations — the standard
    * convention, making Σx = Σy and r symmetric by construction).
    * Same exactness contract as `Forensics.spearman`: all moments are
    * exact DECIMAL(38,0) integers (degrees ≤ n keep m·Σd² well inside
    * 38 digits at any real edge count), and only the final
    * r_micro = floor(1e6·num/(√d1·√d2)) touches floats — the pinned
    * two-sqrt IEEE tail both engines replay bit-for-bit. A REGULAR
    * graph (all degrees equal) has d = 0 → NULL — assortativity of a
    * degree-constant graph is undefined, never a fake 0. Self-loops
    * dropped, duplicate/directed input edges collapse in the same
    * canonicalize step `localTriangles` uses.
    *
    * Scale shape: one canonicalize shuffle, one degree aggregate, two
    * equi joins mapping degrees onto edge endpoints (broadcast when
    * the degree table is small), one 1-row moment aggregate.
    */
  def assortativity(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val und = edges
      .select(least(col(aCol), col(bCol)).as("a"),
        greatest(col(aCol), col(bCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    val sym = und.union(und.select(col("b").as("a"), col("a").as("b")))
    val deg = sym.groupBy("a").agg(count(lit(1)).as("d"))
    sym
      .join(deg.select(col("a"), col("d").as("dx")), Seq("a"))
      .join(deg.select(col("a").as("b"), col("d").as("dy")), Seq("b"))
      .agg(count(lit(1)).as("n_directed_edges"),
        sum(expr("CAST(dx AS DECIMAL(38,0)) * dy")).as("__sxy"),
        sum(expr("CAST(dx AS DECIMAL(38,0)) * dx")).as("__sxx"),
        sum(expr("CAST(dy AS DECIMAL(38,0)) * dy")).as("__syy"),
        sum(expr("CAST(dx AS DECIMAL(38,0))")).as("__sx"),
        sum(expr("CAST(dy AS DECIMAL(38,0))")).as("__sy"))
      .withColumn("r_micro", expr(
        """CASE WHEN __sxy IS NULL
          |  OR n_directed_edges * __sxx - __sx * __sx = 0
          |  OR n_directed_edges * __syy - __sy * __sy = 0 THEN NULL
          |ELSE CAST(floor(1000000.0 *
          |  CAST(n_directed_edges * __sxy - __sx * __sy AS DOUBLE) /
          |  (sqrt(CAST(n_directed_edges * __sxx - __sx * __sx AS DOUBLE)) *
          |   sqrt(CAST(n_directed_edges * __syy - __sy * __sy AS DOUBLE))))
          |  AS BIGINT) END""".stripMargin))
      .select(col("n_directed_edges"), col("r_micro"))
  }
}
