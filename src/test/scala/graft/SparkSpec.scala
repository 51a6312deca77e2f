package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession for the whole forked test JVM (sbt `Test / fork`
  * runs all suites in a single JVM, so this is created once).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // the HTTP surface isolates requests in per-request pools; FAIR
      // is a context-creation-time setting, so the shared test session
      // carries it (inert for every other suite)
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Runs each body, in order, in a Spark job group of its name and
    * returns the number of jobs each one started (0 for none).
    */
  def jobsByGroup(bodies: (String, () => Any)*): Map[String, Int] = {
    val marker = "jobsByGroup-marker"
    val groups = new ConcurrentLinkedQueue[String]()
    val markerStarted = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(ps => Option(ps.getProperty("spark.jobGroup.id"))) match {
          case Some(`marker`) => markerStarted.countDown()
          case Some(g)        => groups.add(g)
          case None           =>
        }
    }
    val sc = spark.sparkContext
    def inGroup(g: String)(body: => Any): Unit = {
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      for ((g, body) <- bodies) inGroup(g)(body())
      // listener events arrive in order: once the marker job has started,
      // every job before it has been counted
      inGroup(marker)(spark.range(1).count())
      assert(markerStarted.await(30, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val started = groups.asScala.toSeq
    bodies.map { case (g, _) => g -> started.count(_ == g) }.toMap
  }
}
