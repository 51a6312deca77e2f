package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, StandardOpenOption}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.api.{EventLogGenerator, ResultCache, XesHttpServer}
import graft.api.EventLogGenerator.Params
import graft.xes.XesWriter

/** Curl-level integration gate for the three reference routes
  * (app.py:76,102,130): 200 with a parseable XES body, 204 on an empty
  * result, 400 on client errors, and the bot route's id resolution;
  * plus concurrent identical requests and the server's shutdown.
  */
class HttpServerSpec extends SparkSpec {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val elSchema = StructType(Seq(
    StructField("EVENT_TYPE", StringType),
    StructField("CASE_ID", StringType),
    StructField("ACTIVITY_NAME", StringType),
    StructField("TIME_STAMP", TimestampType),
    StructField("LIFECYCLE_PHASE", StringType),
    StructField("RESOURCE", StringType),
    StructField("RESOURCE_TYPE", StringType),
    StructField("REMARKS", StringType)))

  private lazy val eventlog = spark.createDataFrame(Seq(
    Row("SERVICE_CUSTOM_MESSAGE_1", "c1", "hello", ts("2024-01-01 09:00:00.0"),
      "complete", "r1", "user", null),
    Row("SERVICE_CUSTOM_MESSAGE_3", "c1", "lookup", ts("2024-01-01 09:00:05.0"),
      "complete", "r1", "user", null),
    Row("SERVICE_CUSTOM_MESSAGE_1", "c2", "hi", ts("2024-01-01 10:00:00.0"),
      "complete", "r2", "user", null)).asJava, elSchema)

  private val http = HttpClient.newHttpClient()

  private def withServer[A](f: (XesHttpServer, Int) => A): A = withServerOver(eventlog)(f)

  private def tmpCache(): ResultCache = {
    val dir = Files.createTempDirectory("http-xes")
    dir.toFile.deleteOnExit()
    new ResultCache(dir, ttlSeconds = 3600)
  }

  private def withServerOver[A](el: DataFrame, cache: ResultCache = tmpCache())(
      f: (XesHttpServer, Int) => A): A = {
    val srv = new XesHttpServer(
      () => el, cache,
      resolveBotIds = (url, bot) => if (bot == "sam") Seq("r1", "r2") else Nil)
    val port = srv.start()
    try f(srv, port) finally srv.stop()
  }

  private def get(port: Int, pathAndQuery: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$pathAndQuery")).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  private def post(port: Int, path: String, body: String): HttpResponse[String] =
    http.send(HttpRequest.newBuilder(URI.create(s"http://localhost:$port$path"))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def parseTraces(xml: String): Int = {
    val doc = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      .newDocumentBuilder()
      .parse(new java.io.ByteArrayInputStream(xml.getBytes("UTF-8")))
    doc.getElementsByTagName("trace").getLength
  }

  test("GET /resource/{id}: 200 with a well-formed single-trace XES document") {
    withServer { (_, port) =>
      val r = get(port, "/resource/r1")
      assert(r.statusCode() == 200)
      assert(r.headers().firstValue("Content-Type").orElse("").startsWith("application/xml"))
      assert(parseTraces(r.body()) == 1)
    }
  }

  test("GET /resource/{id}: empty result is a bodyless 204") {
    withServer { (_, port) =>
      val r = get(port, "/resource/nobody")
      assert(r.statusCode() == 204)
      assert(r.body().isEmpty)
    }
  }

  test("POST /resources: multi-id body, both traces in one log; bad bodies are 400") {
    withServer { (_, port) =>
      val ok = post(port, "/resources", """{"resource_ids": ["r1", "r2"]}""")
      assert(ok.statusCode() == 200)
      assert(parseTraces(ok.body()) == 2)
      assert(post(port, "/resources", """{"wrong": 1}""").statusCode() == 400)
      assert(post(port, "/resources", """{"resource_ids": []}""").statusCode() == 400)
    }
  }

  test("GET /bot/{name}: resolves ids then runs the pipeline; param errors are 400") {
    withServer { (_, port) =>
      val r = get(port, "/bot/sam?bot-manager-url=http%3A%2F%2Fstub")
      assert(r.statusCode() == 200)
      assert(parseTraces(r.body()) == 2)
      assert(get(port, "/bot/sam").statusCode() == 400)                        // missing url
      assert(get(port, "/bot/ghost?bot-manager-url=http%3A%2F%2Fstub").statusCode() == 400) // no ids
      assert(get(port, "/resource/r1?include_bot_messages=yes").statusCode() == 400) // bad flag
    }
  }

  test("internal failures surface as 500 with a fixed body, not a hung request") {
    val dir = Files.createTempDirectory("http-500")
    dir.toFile.deleteOnExit()
    val srv = new XesHttpServer(
      () => throw new RuntimeException("source exploded"),
      new ResultCache(dir, ttlSeconds = 3600))
    val port = srv.start()
    try {
      val r = get(port, "/resource/r1")
      assert(r.statusCode() == 500)
      assert(!r.body().contains("source exploded")) // logged, not sent
    } finally srv.stop()
  }

  test("every request logs exactly one key=value line with its status") {
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lines = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("request-lines", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel == Level.INFO) lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(classOf[XesHttpServer]).asInstanceOf[Logger]
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.INFO)
    // the line is written after the response is sent, so wait for it
    def linesOf(send: => Int): (Int, Seq[String]) = {
      val before = lines.size
      val status = send
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (lines.size == before && System.nanoTime() < deadline) Thread.sleep(20)
      Thread.sleep(200) // a second line, if there were one, would show by now
      (status, lines.asScala.toSeq.drop(before))
    }
    try {
      val seen = withServer { (_, port) =>
        Seq(
          linesOf(get(port, "/resource/r1?use_cache=true").statusCode()),
          linesOf(get(port, "/resource/nobody").statusCode()),
          linesOf(post(port, "/resources", """{"resource_ids": ["r1", "r2"]}""").statusCode()),
          linesOf(get(port, "/resource/r1?include_bot_messages=yes").statusCode()))
      }
      val dir = Files.createTempDirectory("http-log-500")
      dir.toFile.deleteOnExit()
      val failing = new XesHttpServer(
        () => throw new RuntimeException("source exploded"), new ResultCache(dir, ttlSeconds = 3600))
      val port = failing.start()
      val crashed = try linesOf(get(port, "/resource/r1").statusCode()) finally failing.stop()

      assert((seen :+ crashed).map(_._1) == Seq(200, 204, 200, 400, 500))
      for ((status, ls) <- seen :+ crashed) {
        assert(ls.size == 1, s"status $status logged $ls")
        assert(ls.head.startsWith("method=") && ls.head.contains(s" status=$status "), ls.head)
      }
      val first = seen.head._2.head
      assert(first.contains("method=GET route=resource ids=1 use_cache=true status=200 bytes="), first)
      assert(seen(2)._2.head.contains("method=POST route=resources ids=2 use_cache=false"))
      val bytes = """ bytes=(\d+) ms=\d+\.\d$""".r
      assert(bytes.findFirstMatchIn(first).exists(_.group(1).toLong > 0), first)
      assert(bytes.findFirstMatchIn(seen(1)._2.head).exists(_.group(1) == "0"))
    } finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
      appender.stop()
    }
  }

  test("concurrent requests run in distinct fair-scheduler pools and both complete") {
    // deterministic gate for the starvation fix: a SparkListener records
    // which pool each job ran in; two concurrent requests must land in
    // two different graft-req-* pools (FAIR then shares the cluster
    // between them instead of FIFO-queueing the second behind the first)
    import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}
    val pools = new ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
          .flatMap(ps => Option(ps.getProperty("spark.scheduler.pool")))
        p.filter(_.startsWith("graft-req-")).foreach(pools.add)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try withServer { (_, port) =>
      val exec = Executors.newFixedThreadPool(2)
      val f1 = exec.submit(() => get(port, "/resource/r1?use_cache=false"))
      val f2 = exec.submit(() => get(port, "/resource/r2?use_cache=false"))
      assert(f1.get(60, TimeUnit.SECONDS).statusCode() == 200)
      assert(f2.get(60, TimeUnit.SECONDS).statusCode() == 200)
      exec.shutdown()
      // listener events are posted asynchronously; poll until delivered
      def distinctPools = pools.toArray(Array.empty[String]).toSet
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (distinctPools.size < 2 && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(distinctPools.size >= 2, s"expected >=2 request pools, saw $distinctPools")
      assert(spark.sparkContext.getConf.get("spark.scheduler.mode") == "FAIR")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("use_cache=true serves the cached artifact, use_cache=false regenerates") {
    val cache = tmpCache()
    withServerOver(eventlog, cache) { (_, port) =>
      val first = get(port, "/resource/r1?use_cache=true")
      assert(first.statusCode() == 200)
      // poison-pill check: append a marker to the request-keyed file; a
      // cache hit returns the marker, a regeneration removes it
      val keyed = cache.pathFor(EventLogGenerator.cacheKey(Params(resourceIds = Seq("r1"))))
      Files.writeString(keyed, "<!--sentinel-->", StandardOpenOption.APPEND)
      val second = get(port, "/resource/r1?use_cache=true")
      assert(second.statusCode() == 200 && second.body() == first.body() + "<!--sentinel-->")
      val fresh = get(port, "/resource/r1?use_cache=false")
      assert(fresh.statusCode() == 200 && fresh.body() == first.body())
    }
  }

  test("concurrent identical regenerations all serve the same complete document") {
    // big enough (about 2.5 MB of XES) that a reader racing an in-place
    // write would see a cut file
    import org.apache.spark.sql.functions.{col, concat, lit, timestamp_seconds}
    import java.util.concurrent.{Executors, TimeUnit}
    val big = spark.range(10000).select(
      lit("SERVICE_CUSTOM_MESSAGE_1").as("EVENT_TYPE"),
      concat(lit("case"), (col("id") % 1000).cast("string")).as("CASE_ID"),
      concat(lit("act"), col("id").cast("string")).as("ACTIVITY_NAME"),
      timestamp_seconds(lit(1704067200L) + col("id")).as("TIME_STAMP"),
      lit("complete").as("LIFECYCLE_PHASE"),
      lit("big").as("RESOURCE"),
      lit("user").as("RESOURCE_TYPE"),
      lit(null).cast("string").as("REMARKS"))
    withServerOver(big) { (_, port) =>
      val exec = Executors.newFixedThreadPool(4)
      try {
        var first: String = null
        for (_ <- 1 to 5) {
          val round = (1 to 4).map(_ => exec.submit(() => get(port, "/resource/big?use_cache=false")))
          round.map(_.get(120, TimeUnit.SECONDS)).foreach { r =>
            assert(r.statusCode() == 200)
            val body = r.body()
            if (first == null) first = body
            // a plain Boolean, so that a failure does not print megabytes
            val same = body.endsWith(XesWriter.Footer) && body == first
            assert(same, s"a body of ${body.length} chars is cut or differs from the first (${first.length})")
          }
        }
        assert(parseTraces(first) == 1000)
      } finally exec.shutdown()
    }
  }

  test("stop() shuts down the request threads") {
    withServer { (_, port) => assert(get(port, "/resource/r1").statusCode() == 200) }
    def alive = Thread.getAllStackTraces.keySet.asScala.exists(_.getName == "graft-http")
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (alive && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!alive)
  }
}
