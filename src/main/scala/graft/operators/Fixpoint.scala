package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.slf4j.LoggerFactory

/** How a [[Fixpoint]] run ended: steps run, and whether the probe came to rest. */
final case class Iterations(rounds: Int, converged: Boolean)

/** The driver loops of graft's iterative operators. Both forms call
  * `step(current, round)` with the round from 0 and cut the iterative lineage
  * with an eager `localCheckpoint`. `apply` runs to convergence: the initial
  * frame and each step are materialized, and the probe aggregates ride that
  * same job through `Dataset.observe`, so convergence costs no job of its
  * own. It stops when a round's probe row equals the previous one, or after
  * `maxRounds` steps, and logs one line: INFO when converged, WARN when
  * capped. The checkpoint must be eager: on a lazy one the observation
  * silently reads an empty frame (0, null). `rounds` runs a fixed number of
  * steps.
  */
object Fixpoint {
  private val log = LoggerFactory.getLogger(getClass)

  def apply(op: String, init: DataFrame, maxRounds: Int, probe: Column*)(
      step: (DataFrame, Int) => DataFrame): (DataFrame, Iterations) = {
    require(maxRounds >= 1, s"$op: maxRounds must be >= 1, got $maxRounds")
    def materialize(df: DataFrame): (DataFrame, Map[String, Any]) = {
      val obs = new Observation()
      val out = df.observe(obs, probe.head, probe.tail: _*).localCheckpoint(eager = true)
      (out, obs.get)
    }
    @annotation.tailrec
    def loop(cur: DataFrame, seen: Map[String, Any], round: Int): (DataFrame, Iterations) =
      if (round == maxRounds) (cur, Iterations(round, converged = false))
      else {
        val (next, now) = materialize(step(cur, round))
        if (now == seen) (next, Iterations(round + 1, converged = true))
        else loop(next, now, round + 1)
      }
    val (start, seen) = materialize(init)
    val (out, it) = loop(start, seen, 0)
    val line = s"fixpoint op=$op rounds=${it.rounds} max=$maxRounds converged=${it.converged}"
    if (it.converged) log.info(line) else log.warn(line)
    (out, it)
  }

  /** Runs exactly `n` steps; `n = 0` returns `init` and starts no job.
    * Cuts `init`, every second step (PageRank, sf0.1: every step 9.2 s,
    * every second 8.5 s, every fifth 13.5 s) and the last, which must not
    * read caches the caller releases after the loop. Uncut, `init` cost
    * label propagation 45 jobs instead of 41 (sf0.1, 4 cores).
    */
  def rounds(op: String, init: DataFrame, n: Int)(
      step: (DataFrame, Int) => DataFrame): DataFrame = {
    require(n >= 0, s"$op: rounds must be >= 0, got $n")
    def cut(df: DataFrame) = df.localCheckpoint(eager = true)
    (0 until n).foldLeft(if (n == 0) init else cut(init)) { (cur, round) =>
      val next = step(cur, round)
      if (round % 2 == 1 || round == n - 1) cut(next) else next
    }
  }
}
