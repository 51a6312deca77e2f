package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval. Spans of one request or query share `op`. */
final case class Span(id: Long, op: String, name: String, startNs: Long, endNs: Long,
                      attrs: Map[String, Any] = Map.empty)

/** Spark-side counters for one job group, filled by the listener. */
final class GroupCounters {
  val jobs, stages, tasks, cpuNs, shuffleRead, shuffleWrite, spill, waitMs = new LongAdder
}

/** In-memory trace of a run: spans recorded around calls into each layer
  * by the benchmark, plus Spark job/stage/task counters and Catalyst
  * planning time read from the session's listeners. Nothing is written
  * until `Main` dumps it at the end of the run.
  */
final class Recorder {
  private val nextId = new AtomicLong(1)
  val spans = new ConcurrentLinkedQueue[Span]()
  val groups = new ConcurrentHashMap[String, GroupCounters]()
  val planMs = new LongAdder
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val drainLatches = new ConcurrentHashMap[String, CountDownLatch]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long)]()
  // listener events carry wall-clock milliseconds; spans use nanoTime
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def group(g: String): GroupCounters = groups.computeIfAbsent(g, _ => new GroupCounters)

  def span[T](op: String, name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally record(op, name, t0, System.nanoTime(), attrs)
  }

  def record(op: String, name: String, startNs: Long, endNs: Long,
             attrs: Map[String, Any] = Map.empty): Unit =
    spans.add(Span(nextId.getAndIncrement(), op, name, startNs, endNs, attrs))

  private[perfbench] val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("none")
      group(g).jobs.increment()
      jobStart.put(e.jobId, (g, e.time))
      e.stageInfos.foreach(s => stageGroup.put(s.stageId, g))
      Option(drainLatches.get(g)).foreach(_.countDown())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (g, t0) =>
        record(g, "spark.job", t0 * 1000000L - clockOffsetNs, e.time * 1000000L - clockOffsetNs,
          Map("job" -> e.jobId))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      e.stageInfo.submissionTime.foreach(t => stageSubmitted.put(e.stageInfo.stageId, t))
      group(stageGroup.getOrDefault(e.stageInfo.stageId, "none")).stages.increment()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = group(stageGroup.getOrDefault(e.stageId, "none"))
      c.tasks.increment()
      Option(stageSubmitted.get(e.stageId)).foreach { s =>
        c.waitMs.add(math.max(0L, e.taskInfo.launchTime - s))
      }
      Option(e.taskMetrics).foreach { m =>
        c.cpuNs.add(m.executorCpuTime)
        c.shuffleRead.add(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private[perfbench] val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planMs.add(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** Waits until the listener bus has delivered every event posted so far:
    * runs one tiny job in its own group and waits for that job's start
    * event, which the bus delivers after everything queued before it.
    */
  def drain(spark: SparkSession): Unit = {
    val g = s"drain-${nextId.getAndIncrement()}"
    val latch = new CountDownLatch(1)
    drainLatches.put(g, latch)
    spark.sparkContext.setJobGroup(g, "listener drain", interruptOnCancel = false)
    try spark.range(1).collect() finally spark.sparkContext.clearJobGroup()
    latch.await(30, TimeUnit.SECONDS)
    drainLatches.remove(g)
  }

  /** Sum of counters over the groups accepted by `p`. */
  def total(p: String => Boolean): Map[String, Long] = {
    val sel = groups.asScala.filter { case (g, _) => !g.startsWith("drain-") && p(g) }.values
    def sum(f: GroupCounters => LongAdder) = sel.map(f(_).sum).sum
    Map("jobs" -> sum(_.jobs), "stages" -> sum(_.stages), "tasks" -> sum(_.tasks),
      "cpu_ns" -> sum(_.cpuNs), "shuffle_read" -> sum(_.shuffleRead),
      "shuffle_write" -> sum(_.shuffleWrite), "spill" -> sum(_.spill),
      "wait_ms" -> sum(_.waitMs))
  }
}

object Recorder {
  private val installed = new java.util.WeakHashMap[SparkContext, Recorder]()

  /** The session's recorder, registered with its SparkContext and
    * listener manager on first use only: a second call returns the same
    * instance instead of adding a second pair of listeners.
    */
  def install(spark: SparkSession): Recorder = installed.synchronized {
    val sc = spark.sparkContext
    Option(installed.get(sc)).getOrElse {
      val r = new Recorder
      sc.addSparkListener(r.sparkListener)
      spark.listenerManager.register(r.queryListener)
      installed.put(sc, r)
      r
    }
  }

  /** Removes the session's recorder from its listeners; the recorder keeps
    * what it has and can still record spans.
    */
  def uninstall(spark: SparkSession): Unit = installed.synchronized {
    Option(installed.remove(spark.sparkContext)).foreach { r =>
      spark.sparkContext.removeSparkListener(r.sparkListener)
      spark.listenerManager.unregister(r.queryListener)
    }
  }
}
