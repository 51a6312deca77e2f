package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp
import javax.xml.parsers.DocumentBuilderFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.api.{EventLogGenerator, ResultCache}
import graft.api.EventLogGenerator.Params
import graft.xes.XesWriter

/** A string whose deserializer throws outside shuffle partition 0, so
  * that draining a several-partition `traceXml` gets its first partition
  * and then fails partway.
  */
@SQLUserDefinedType(udt = classOf[FailingValueUDT])
final case class FailingValue(s: String)

class FailingValueUDT extends UserDefinedType[FailingValue] {
  override def sqlType: DataType = StringType
  override def serialize(v: FailingValue): Any = UTF8String.fromString(v.s)
  override def deserialize(datum: Any): FailingValue =
    if (TaskContext.getPartitionId() > 0) throw new IllegalStateException("drain failed")
    else FailingValue(datum.toString)
  override def userClass: Class[FailingValue] = classOf[FailingValue]
}

/** Executes the XES sink for real (VERDICT r2 #1/#2): golden XML for a
  * single-trace fixture, DOM-verified grouping/ordering/typing for a
  * multi-trace one, the generateXes cache miss→write→hit→empty→None
  * lifecycle, and the sharded scale path.
  */
class XesWriterSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val xesSchema = StructType(Seq(
    StructField("case:concept:name", StringType),
    StructField("concept:name", StringType),
    StructField("time:timestamp", TimestampType),
    StructField("in-service-context", BooleanType),
    StructField("event_id", LongType),
    StructField("score", DoubleType)))

  private def xesDf(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, xesSchema)

  private def parse(p: Path) = {
    val dbf = DocumentBuilderFactory.newInstance()
    dbf.newDocumentBuilder().parse(p.toFile)
  }

  private def tmpDir(prefix: String): Path = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  test("golden XML: escaping, attribute typing, chronological order within trace") {
    // one case, events deliberately out of chronological order, a value
    // that needs every XML escape, and a NULL attribute (must be omitted)
    val df = xesDf(Seq(
      Row("c1", """b<&>"quote"'apos'""", ts("2024-01-01 10:00:01.0"), java.lang.Boolean.FALSE, 2L, null),
      Row("c1", "a", ts("2024-01-01 10:00:00.0"), java.lang.Boolean.TRUE, 1L, java.lang.Double.valueOf(0.5))))
    val out = tmpDir("xes-golden").resolve("golden.xes")
    assert(XesWriter.write(df, out, tieCols = Seq("event_id")).contains(out))

    val expected = XesWriter.Header +
      "<trace>\n" +
      "<string key=\"concept:name\" value=\"c1\"/>\n" +
      "<event>" +
      "<string key=\"concept:name\" value=\"a\"/>" +
      "<date key=\"time:timestamp\" value=\"2024-01-01T10:00:00.000Z\"/>" +
      "<boolean key=\"in-service-context\" value=\"true\"/>" +
      "<int key=\"event_id\" value=\"1\"/>" +
      "<float key=\"score\" value=\"0.5\"/>" +
      "</event>\n" +
      "<event>" +
      "<string key=\"concept:name\" value=\"b&lt;&amp;&gt;&quot;quote&quot;&apos;apos&apos;\"/>" +
      "<date key=\"time:timestamp\" value=\"2024-01-01T10:00:01.000Z\"/>" +
      "<boolean key=\"in-service-context\" value=\"false\"/>" +
      "<int key=\"event_id\" value=\"2\"/>" +
      "</event>\n" +
      "</trace>\n" +
      XesWriter.Footer
    assert(Files.readString(out) == expected)

    // and the golden output round-trips through a real XML parser
    val doc = parse(out)
    val events = doc.getElementsByTagName("event")
    assert(events.getLength == 2)
    val strings = doc.getElementsByTagName("string")
    val values = (0 until strings.getLength).map(i =>
      strings.item(i).getAttributes.getNamedItem("value").getNodeValue)
    assert(values.contains("""b<&>"quote"'apos'""")) // unescapes back exactly
  }

  test("multi-trace grouping: every case is one trace, events stay with their case") {
    val rows = for {
      c <- Seq("ca", "cb", "cc"); i <- 1 to 4
    } yield Row(c, s"act$i", ts(s"2024-01-01 10:00:0$i.0"), java.lang.Boolean.TRUE, i.toLong, null)
    val out = tmpDir("xes-multi").resolve("multi.xes")
    assert(XesWriter.write(xesDf(rows), out, tieCols = Seq("event_id")).isDefined)

    val doc = parse(out)
    val traces = doc.getElementsByTagName("trace")
    assert(traces.getLength == 3)
    val seen = scala.collection.mutable.Map[String, Int]()
    for (i <- 0 until traces.getLength) {
      val t = traces.item(i).asInstanceOf[org.w3c.dom.Element]
      val caseId = t.getElementsByTagName("string").item(0)
        .getAttributes.getNamedItem("value").getNodeValue
      seen(caseId) = t.getElementsByTagName("event").getLength
    }
    assert(seen == Map("ca" -> 4, "cb" -> 4, "cc" -> 4))
  }

  test("a write that fails partway leaves the existing file intact and no temp file behind") {
    val dir = tmpDir("xes-atomic")
    val out = dir.resolve("log.xes")
    val cases = (1 to 40).map(i => s"case$i")
    val ok = cases.map(c => Row(c, "act", ts("2024-01-01 10:00:00.0"), java.lang.Boolean.TRUE, 1L, null))
    assert(XesWriter.write(xesDf(ok), out).contains(out))
    val before = Files.readAllBytes(out)

    // 40 cases over the 4 shuffle partitions: partition 0 drains, a later
    // one throws while the new document is half written
    val failingSchema = StructType(Seq(
      StructField("case:concept:name", StringType),
      StructField("time:timestamp", TimestampType),
      StructField("payload", new FailingValueUDT)))
    val failing = spark.createDataFrame(
      cases.map(c => Row(c, ts("2024-01-01 11:00:00.0"), FailingValue(c))).asJava, failingSchema)
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    spark.conf.set(key, "false")
    try intercept[Exception](XesWriter.write(failing, out))
    finally spark.conf.unset(key)

    assert(java.util.Arrays.equals(Files.readAllBytes(out), before))
    assert(Files.list(dir).iterator().asScala.toSeq == Seq(out))
  }

  private val elSchema = StructType(Seq(
    StructField("EVENT_TYPE", StringType),
    StructField("CASE_ID", StringType),
    StructField("ACTIVITY_NAME", StringType),
    StructField("TIME_STAMP", TimestampType),
    StructField("LIFECYCLE_PHASE", StringType),
    StructField("RESOURCE", StringType),
    StructField("RESOURCE_TYPE", StringType),
    StructField("REMARKS", StringType)))

  private def eventlog(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, elSchema)

  test("generateXes end-to-end: cache miss writes, second call is a pure cache hit") {
    val el = eventlog(Seq(
      Row("SERVICE_CUSTOM_MESSAGE_1", "c1", "hello", ts("2024-01-01 09:00:00.0"),
        "complete", "r1", "user", """{"user":"u1"}"""),
      Row("SERVICE_CUSTOM_MESSAGE_3", "c1", "lookup", ts("2024-01-01 09:00:05.0"),
        "complete", "r1", "user", null)))
    val cache = new ResultCache(tmpDir("xes-cache"), ttlSeconds = 3600)
    val params = Params(resourceIds = Seq("r1"))

    val first = EventLogGenerator.generateXes(el, params, cache)
    assert(first.isDefined)
    val path = first.get
    val doc = parse(path)
    assert(doc.getElementsByTagName("trace").getLength == 1)
    assert(doc.getElementsByTagName("event").getLength == 2)

    // mutate the cached file; a true cache hit must serve it untouched
    Files.writeString(path, Files.readString(path) + "<!--sentinel-->")
    val second = EventLogGenerator.generateXes(el, params, cache)
    assert(second.contains(path))
    assert(Files.readString(path).endsWith("<!--sentinel-->"))
  }

  test("generateXes on empty input returns None (the HTTP 204 path)") {
    val el = eventlog(Nil)
    val cache = new ResultCache(tmpDir("xes-empty"), ttlSeconds = 3600)
    assert(EventLogGenerator.generateXes(el, Params(resourceIds = Seq("rX")), cache).isEmpty)
  }

  /** Two resources over several cases, with microsecond timestamps whose
    * min and max fall in different cases and resources.
    */
  private lazy val dated = eventlog(
    for {
      (r, c, t) <- Seq(
        ("r1", "c1", "2024-01-01 09:00:00.000001"), ("r1", "c1", "2024-01-01 09:00:05.5"),
        ("r1", "c2", "2024-01-02 10:15:00.25"), ("r1", "c3", "2024-01-03 23:59:59.999999"),
        ("r2", "c4", "2023-12-31 23:00:00.000123"), ("r2", "c4", "2024-01-02 08:00:00.0"),
        ("r2", "c5", "2024-01-04 12:34:56.789"))
    } yield Row("SERVICE_CUSTOM_MESSAGE_1", c, s"act-$t", ts(t), "complete", r, "user", null))

  private def withSessionZone[A](zone: String)(body: => A): A = {
    val key = "spark.sql.session.timeZone"
    val before = spark.conf.get(key)
    spark.conf.set(key, zone)
    try body finally spark.conf.set(key, before)
  }

  /** The number of Spark jobs `body` starts, counted by job group as
    * the job-count test below counts them.
    */
  private def jobCount(body: => Unit): Int = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    def group(js: SparkListenerJobStart): Option[String] =
      Option(js.properties).flatMap(ps => Option(ps.getProperty("spark.jobGroup.id")))
    val counted = new AtomicInteger
    val marker = new CountDownLatch(1)
    val sc = spark.sparkContext
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = group(js) match {
        case Some("counted") => counted.incrementAndGet()
        case Some("marker")  => marker.countDown()
        case _               =>
      }
    }
    def inGroup(g: String)(b: => Unit): Unit = {
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try b finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup("counted")(body)
      // listener events arrive in order: once the marker job has started,
      // every job before it has been counted
      inGroup("marker")(spark.range(1).count())
      assert(marker.await(30, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    counted.get
  }

  /** Publishes `params` uncached, checks that the file lands on the key
    * of `params` as sent, then checks that a cached repeat is a hit on
    * that file which runs no Spark job and leaves the file untouched.
    */
  private def assertKeyedAsSent(cache: ResultCache, params: Params, clue: String): Unit = {
    val path = cache.pathFor(EventLogGenerator.cacheKey(params))
    assert(EventLogGenerator.generateXes(dated, params, cache, useCache = false).contains(path), clue)
    val mtime = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 5000)
    Files.setLastModifiedTime(path, mtime)
    val jobs = jobCount {
      assert(EventLogGenerator.generateXes(dated, params, cache).contains(path), clue)
    }
    assert(jobs == 0, clue)
    assert(Files.getLastModifiedTime(path) == mtime, clue)
  }

  test("generateXes keys by the request as sent; a cached repeat runs no Spark job") {
    // a session zone off UTC, so that no key can depend on formatting a date in it
    for (zone <- Seq("UTC", "America/Los_Angeles"); ids <- Seq(Seq("r1"), Seq("r1", "r2")))
      withSessionZone(zone) {
        val cache = new ResultCache(tmpDir("xes-key"), ttlSeconds = 3600)
        assertKeyedAsSent(cache, Params(resourceIds = ids), s"zone $zone, ids $ids")
      }
  }

  test("generateXes with one date keeps the missing bound out of the key") {
    for (zone <- Seq("UTC", "America/Los_Angeles"); ids <- Seq(Seq("r1"), Seq("r1", "r2")))
      withSessionZone(zone) {
        val cache = new ResultCache(tmpDir("xes-half"), ttlSeconds = 3600)
        val dateless = Params(resourceIds = ids)
        val startOnly = dateless.copy(startDate = Some("2024-01-02 00:00:00"))
        val endOnly = dateless.copy(endDate = Some("2024-01-02 12:00:00"))
        for (params <- Seq(startOnly, endOnly))
          assertKeyedAsSent(cache, params, s"zone $zone, $params")
        assert(Seq(dateless, startOnly, endOnly).map(EventLogGenerator.cacheKey).distinct.size == 3)
      }
  }

  test("generateXes over rows whose timestamps are all null writes them, not None") {
    val el = eventlog(Seq("c1", "c2").map(c =>
      Row("SERVICE_CUSTOM_MESSAGE_1", c, "hello", null, "complete", "r1", "user", null)))
    for (useCache <- Seq(false, true)) {
      val cache = new ResultCache(tmpDir("xes-nullts"), ttlSeconds = 3600)
      val params = Params(resourceIds = Seq("r1"))
      val path = EventLogGenerator.generateXes(el, params, cache, useCache = useCache)
      assert(path.contains(cache.pathFor(EventLogGenerator.cacheKey(params))), s"use_cache=$useCache")
      val doc = parse(path.get)
      assert(doc.getElementsByTagName("trace").getLength == 2)
      assert(doc.getElementsByTagName("date").getLength == 0)
    }
  }

  test("a dateless uncached generateXes runs no more Spark jobs than draining its traces") {
    import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val groups = new ConcurrentLinkedQueue[String]()
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(ps => Option(ps.getProperty("spark.jobGroup.id")))
          .foreach(groups.add)
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        if (groups.contains("marker")) done.countDown()
    }
    val sc = spark.sparkContext
    val params = Params(resourceIds = Seq("r1", "r2"))
    val cache = new ResultCache(tmpDir("xes-jobs"), ttlSeconds = 3600)
    def inGroup(g: String)(body: => Unit): Unit = {
      sc.setJobGroup(g, g, interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }
    sc.addSparkListener(listener)
    try {
      inGroup("drain") {
        val it = XesWriter.traceXml(EventLogGenerator.generate(dated, params)).toLocalIterator()
        while (it.hasNext) it.next()
      }
      inGroup("generateXes") {
        assert(EventLogGenerator.generateXes(dated, params, cache, useCache = false).isDefined)
      }
      // listener events arrive in order: once the marker job has ended,
      // every job before it has been counted
      inGroup("marker")(spark.range(1).count())
      assert(done.await(30, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    val counts = groups.asScala.toSeq.groupBy(identity).map { case (g, js) => g -> js.size }
    assert(counts("drain") > 0)
    assert(counts("generateXes") <= counts("drain"), s"jobs per group: $counts")
  }

  test("writeShards: each shard is a self-contained XES document, traces partition-complete") {
    val rows = for {
      c <- Seq("s1", "s2", "s3", "s4", "s5"); i <- 1 to 3
    } yield Row(c, s"act$i", ts(s"2024-01-01 11:00:0$i.0"), java.lang.Boolean.TRUE, i.toLong, null)
    val dir = tmpDir("xes-shards").resolve("out")
    XesWriter.writeShards(xesDf(rows), dir.toString, tieCols = Seq("event_id"))

    val shardFiles = Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .filter(Files.size(_) > 0).toSeq
    assert(shardFiles.nonEmpty)
    val allCases = shardFiles.flatMap { f =>
      val doc = parse(f) // throws if a shard is not well-formed XML
      val traces = doc.getElementsByTagName("trace")
      (0 until traces.getLength).map { i =>
        val t = traces.item(i).asInstanceOf[org.w3c.dom.Element]
        assert(t.getElementsByTagName("event").getLength == 3) // no split traces
        t.getElementsByTagName("string").item(0)
          .getAttributes.getNamedItem("value").getNodeValue
      }
    }
    assert(allCases.sorted == Seq("s1", "s2", "s3", "s4", "s5"))
  }
}
