package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.slf4j.LoggerFactory

/** How a [[Fixpoint]] run ended: steps run, and whether the probe came to rest. */
final case class Iterations(rounds: Int, converged: Boolean)

/** The driver loop of graft's iterative operators. The initial frame and
  * each `step(current, round)` (round from 0) are materialized by an eager
  * `localCheckpoint`, which cuts the iterative lineage; the probe
  * aggregates ride that same job through `Dataset.observe`, so convergence
  * costs no job of its own. The run stops when a round's probe row equals
  * the previous one, or after `maxRounds` steps, and logs one line: INFO
  * when converged, WARN when capped. The checkpoint must be eager: on a
  * lazy one the observation silently reads an empty frame (0, null).
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
}
