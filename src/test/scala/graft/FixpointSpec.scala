package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.Level
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.analytics.{Kcore, LabelProp}
import graft.llm.Dedup
import graft.operators.{Fixpoint, Iterations}

/** The shared driver loops of the iterative operators. The convergence
  * form: its probe values are the ones a direct aggregate over each
  * round's frame gives, its report says how the run ended, it adds no
  * job of its own, and every capped run of kcoreMembers, bfsHops and
  * connectedComponents says so. The fixed-round form: it computes what
  * plain repetition computes, and starts exactly one job per cut of its
  * cadence.
  */
class FixpointSpec extends SparkSpec {

  private val probe = Seq(count(lit(1)).as("fx_rows"), sum("id").as("fx_sum"))

  /** Grows `0, 1, 2, …` by one id per round until it holds ids 0..4. */
  private def grow(cur: DataFrame, round: Int): DataFrame =
    cur.union(cur.agg((max("id") + 1).as("id")).filter(col("id") < 5))

  test("the observed probe of every round equals a direct agg over that round's checkpointed frame") {
    val seen = new ConcurrentLinkedQueue[Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.observedMetrics.values.filter(_.schema.fieldNames.contains("fx_rows"))
          .foreach(seen.add)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val frames = ArrayBuffer.empty[DataFrame]
    spark.listenerManager.register(listener)
    val (out, it) = try {
      Fixpoint("grow", spark.range(1).toDF(), 10, probe: _*) { (cur, round) =>
        frames += cur
        grow(cur, round)
      }
    } finally {
      // listener events are delivered asynchronously
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (seen.size < frames.size + 1 && System.nanoTime() < deadline) Thread.sleep(20)
      spark.listenerManager.unregister(listener)
    }
    frames += out
    val direct = frames.map(_.agg(probe.head, probe.tail: _*).head()).toSeq
    assert(seen.asScala.toSeq == direct,
      "each round's observation must carry its own frame's values (an eager checkpoint)")
    assert(direct.map(_.getLong(0)) == Seq(1L, 2L, 3L, 4L, 5L, 5L))
    assert(it == Iterations(5, converged = true))
  }

  test("Iterations reports a converged and a capped run; maxRounds must be >= 1") {
    val init = spark.range(1).toDF()
    val (done, converged) = Fixpoint("grow", init, 10, probe: _*)(grow)
    assert(converged == Iterations(5, converged = true))
    assert(done.count() == 5)
    val (cut, capped) = Fixpoint("grow", init, 3, probe: _*)(grow)
    assert(capped == Iterations(3, converged = false))
    assert(cut.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      Fixpoint("grow", init, 0, probe: _*)(grow)
    }
  }

  test("a one-round run submits no more jobs than checkpointing the initial frame and one step") {
    val init = spark.range(200).select((col("id") % 7).as("id")).groupBy("id").count()
    def step(cur: DataFrame, round: Int): DataFrame =
      cur.groupBy((col("id") % 3).as("id")).agg(sum("count").as("count"))
    val counts = jobsByGroup(
      "checkpoints" -> (() =>
        step(init.localCheckpoint(eager = true), 0).localCheckpoint(eager = true)),
      "fixpoint" -> (() =>
        assert(Fixpoint("one", init, 1, sum("count").as("fx_total"))(step)._2.rounds == 1)))
    assert(counts("checkpoints") > 0)
    assert(counts("fixpoint") <= counts("checkpoints"), counts)
  }

  /** A shuffle-free step, so that one cut of its frame is one job. */
  private def affine(cur: DataFrame, round: Int): DataFrame =
    cur.select(((col("id") * 3 + round) % 101).as("id"))

  test("rounds(n) gives the same rows as n plain applications of step") {
    val init = spark.range(50).toDF()
    for (n <- 0 to 5) {
      val plain = (0 until n).foldLeft(init)(affine)
      val fixed = Fixpoint.rounds("affine", init, n)(affine)
      assert(fixed.exceptAll(plain).isEmpty && plain.exceptAll(fixed).isEmpty, s"n = $n")
    }
  }

  test("rounds cuts init, every second step and the last step, and nothing else") {
    val init = spark.range(50).toDF()
    val cuts = Map(1 -> 2, 2 -> 2, 3 -> 3, 4 -> 3, 5 -> 4, 6 -> 4)
    val oneCut = "one cut" -> (() => affine(init, 0).localCheckpoint(eager = true))
    val runs = cuts.keys.toSeq.sorted.map(n => s"n=$n" -> (() => Fixpoint.rounds("affine", init, n)(affine)))
    val jobs = jobsByGroup(oneCut +: runs: _*)
    assert(jobs("one cut") == 1, jobs)
    for ((n, c) <- cuts) assert(jobs(s"n=$n") == c, s"n = $n: $jobs")
  }

  test("rounds(0) returns init without starting a job; a negative count is rejected") {
    val init = spark.range(50).toDF()
    val zero = jobsByGroup("zero" -> (() => assert(Fixpoint.rounds("affine", init, 0)(affine) eq init)))
    assert(zero("zero") == 0)
    val e = intercept[IllegalArgumentException](Fixpoint.rounds("affine", init, -1)(affine))
    assert(e.getMessage.contains("affine"))
  }

  test("a capped kcoreMembers, bfsHops or connectedComponents logs one WARN line; a converged one none") {
    import spark.implicits._
    def warnsOf(run: => DataFrame): Seq[String] =
      linesLogged(Fixpoint.getClass, Level.WARN)(run.collect())._2
    val chain = (1L until 8L).map(i => (i, i + 1)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val path = LabelProp.symmetrize(chain, "src", "dst")
    val cases = Seq(
      ("kcoreMembers", 2,
        (r: Int) => Kcore.kcoreMembers(chain, "src", "dst", k = 2, maxRounds = r)),
      ("bfsHops", 2,
        (r: Int) => LabelProp.bfsHops(path, "src", "dst", seeds, "id", maxIters = r)),
      ("connectedComponents", 1,
        (r: Int) => Dedup.connectedComponents(chain, "src", "dst", maxIter = r)))
    for ((op, cap, run) <- cases) {
      val capped = warnsOf(run(cap))
      assert(capped.size == 1, s"$op capped at $cap logged $capped")
      assert(capped.head == s"fixpoint op=$op rounds=$cap max=$cap converged=false",
        capped.head)
      assert(warnsOf(run(20)).isEmpty, s"$op converged but logged a WARN")
    }
  }
}
