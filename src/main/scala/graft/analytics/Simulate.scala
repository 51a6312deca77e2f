package graft.analytics


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Synthetic event-log generation from a discovered model — the loop
  * closer for the reference's domain (an event-log GENERATOR): walk a
  * `Dfg.transitionMatrix` as a Markov chain and emit traces whose
  * statistics match the mined behavior. Discover → simulate →
  * `footprintConformance` back against the source model is the
  * standard round-trip check, and simulated logs are how you
  * load-test a pipeline at 1000× the real corpus without copying
  * customer data.
  *
  * DETERMINISTIC BY CONSTRUCTION: the "random" draw at (trace, pos)
  * is an LCG-style integer hash — pure bounded `%`-arithmetic, so a
  * DuckDB recursive CTE replays the entire walk bit-for-bit (the
  * oracle), reruns are stable, and no RNG state rides the executors.
  * Per state the next-step ranges are cumulative COUNTS (not the
  * floored p_micro, whose rounding shortfall would leave unhittable
  * gaps): lo/hi over next_state order, draw = h mod Σn.
  *
  * Scale shape: the matrix is |states|²-bounded and broadcast; the
  * frontier is one row per live trace, joined against it `maxLen` times,
  * with the lineage cut every fourth step but not the last
  * (`Fixpoint.rounds`' cadence: 0.64 -> 0.88 s, sf0.1, 4 cores). Traces
  * end when they draw `__END__`; a trace still live at `maxLen` is
  * TRUNCATED — visible as a trace whose last row is not followed by an end
  * (and as the frontier the spec inspects), never silently extended.
  */
object Simulate {

  def markovTraces(matrix: DataFrame, nTraces: Int, maxLen: Int,
                   seed: Long): DataFrame = {
    require(nTraces > 0 && nTraces <= 10000000,
      "simulate: nTraces must be in [1, 1e7]")
    require(maxLen >= 1 && maxLen <= 200, "simulate: maxLen must be in [1, 200]")
    require(seed >= 0, "simulate: seed must be non-negative")
    val spark = matrix.sparkSession
    val tw = Window.partitionBy(col("state"))
    // materialized ONCE: every step's branch joins this table, and
    // without the checkpoint each of the maxLen union branches would
    // re-derive the matrix windows from scratch (measured 6.1 s → sub-
    // second at sf0.1)
    val cum = matrix.select(col("state"), col("next_state"), col("n"))
      .withColumn("lo", coalesce(sum(col("n")).over(
        tw.orderBy(col("next_state")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("hi", col("lo") + col("n"))
      .withColumn("tot", sum(col("n")).over(tw))
      .localCheckpoint(eager = true)
    // the walked path rides IN the frontier (one chain, exploded once
    // at the end) instead of one union branch per step — a maxLen-
    // branch union pays the job-submission floor maxLen times over
    // (measured 6.1 s for 104 rows at sf0.1; this shape is sub-second)
    var frontier = spark.range(nTraces.toLong)
      .select(col("id").as("trace_id"), lit("__START__").as("state"),
        expr("CAST(array() AS array<string>)").as("path"))
    for (pos <- 1 to maxLen) {
      // LCG draw: bounded products (x % 2^20 keeps the multiply far
      // from int64 overflow), identical `%` arithmetic in DuckDB
      val h = expr(
        s"(1103515245L * ((trace_id * 1000003L + ${pos}L * 7919L + ${seed}L) " +
          s"% 1048576L) + 12345L) % 2147483648L")
      // finished traces (state __END__) have no matrix row and ride the
      // left join unchanged; live traces match exactly one range
      frontier = frontier.as("f")
        .join(broadcast(cum).as("m"),
          col("f.state") === col("m.state") &&
            (h % col("m.tot")) >= col("m.lo") &&
            (h % col("m.tot")) < col("m.hi"), "left")
        .select(col("f.trace_id").as("trace_id"),
          coalesce(col("m.next_state"), col("f.state")).as("state"),
          when(col("m.next_state").isNotNull &&
              col("m.next_state") =!= "__END__",
            concat(col("f.path"), array(col("m.next_state"))))
            .otherwise(col("f.path")).as("path"))
      if (pos % 4 == 0 && pos < maxLen)
        frontier = frontier.localCheckpoint(eager = true)
    }
    frontier
      .select(col("trace_id"), posexplode(col("path")))
      .select(col("trace_id"), (col("pos") + 1).cast("int").as("pos"),
        col("col").as("activity"))
  }
}
