package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
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

  /** Runs `body` with the log4j logger of `cls` set to `level` and
    * returns its result with, in order, the messages the logger logged
    * at `level` or above while the body ran. The logger's level is
    * restored afterwards.
    */
  def linesLogged[T](cls: Class[_], level: Level)(body: => T): (T, Seq[String]) = {
    val lines = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("linesLogged", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(level)) lines.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger(cls).asInstanceOf[Logger]
    val saved = logger.getLevel
    appender.start()
    logger.addAppender(appender)
    logger.setLevel(level)
    try {
      val out = body
      (out, lines.asScala.toSeq)
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(saved)
      appender.stop()
    }
  }
}
