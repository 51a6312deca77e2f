package graft.api

import java.net.InetSocketAddress
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.StandardCharsets
import java.nio.file.Path
import java.util.concurrent.Executors

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.slf4j.LoggerFactory

import org.apache.spark.sql.DataFrame

import graft.sources.{BotManagerClient, MiniJson}

/** The reference's HTTP surface (app.py:76-170), three routes over one
  * pipeline:
  *
  *   GET  /resource/{resourceId}   — one resource's XES log
  *   POST /resources               — JSON body {"resource_ids": [...]}
  *   GET  /bot/{botName}?bot-manager-url=… — ids resolved via the
  *        bot-manager /bots endpoint, then the same pipeline
  *
  * Shared query params (reference names, app.py:79-84): `start_date`,
  * `end_date`, `include_bot_messages`, `include_life_cycle_start`,
  * `use_cache`. Decided divergences (SURVEY §2.8): flags parse as real
  * booleans ("false" is false — the reference treated any non-empty
  * string as truthy), `use_cache` actually gates the cache probe (the
  * reference's check was dead code), and the empty-result path returns
  * a real 204 (the reference's None-check tested the wrong variable,
  * §2.8.4). Errors map like app.py:96-99: client errors → 400,
  * everything else → 500 with a fixed body; the exception goes to the
  * log, not to the client.
  *
  * Glue, not engine: one request = one Spark job chain on the shared
  * session. Request concurrency rides Spark's scheduler (the
  * reference's gunicorn 4×2 workers correspond to concurrent jobs on
  * one SparkSession; use fair-scheduler pools when requests contend).
  */
final class XesHttpServer(
    eventlog: () => DataFrame,
    cache: ResultCache,
    resolveBotIds: (String, String) => Seq[String] =
      (url, bot) => new BotManagerClient(url).resourceIdsForBot(bot),
    port: Int = 0) {

  private final case class BadRequest(msg: String) extends RuntimeException(msg)

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  // the JDK default executor serializes requests; the reference serves
  // 8 concurrently (gunicorn --workers=4 --threads=2, Dockerfile:26).
  // Concurrent handlers become concurrent Spark jobs on the shared
  // session; each request runs in its OWN fair-scheduler pool (set
  // per-thread below), so under spark.scheduler.mode=FAIR a small
  // request's stages share the cluster with a big one instead of
  // queueing behind all of its jobs. Unconfigured pools default to
  // weight 1 / minShare 0, which is exactly the equal-share intent;
  // under the default FIFO mode the property is inert, so setting it
  // is always safe.
  private val executor = Executors.newFixedThreadPool(8, r => {
    val t = new Thread(r, "graft-http"); t.setDaemon(true); t
  })
  server.setExecutor(executor)

  private val log = LoggerFactory.getLogger(classOf[XesHttpServer])

  def start(): Int = { server.start(); server.getAddress.getPort }
  def stop(): Unit = { server.stop(0); executor.shutdown() }

  /** Routes one request and logs one INFO line for it, whatever the
    * outcome: `method= route= ids= use_cache= status= bytes= ms=`.
    */
  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val method = ex.getRequestMethod
    val segments = ex.getRequestURI.getPath.stripSuffix("/").split("/").drop(1).toList
    var ids = 0
    var useCache = false
    var bytes = 0L
    def generate(requested: Seq[String], q: Map[String, String]): Long = {
      ids = requested.size
      useCache = flag(q, "use_cache")
      generateAndReply(ex, requested, q, useCache)
    }
    try {
      bytes = (method, segments) match {
        case ("GET", "resource" :: id :: Nil) if id.nonEmpty =>
          generate(Seq(id), query(ex))
        case ("POST", "resources" :: Nil) =>
          val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
          val fields = MiniJson.parseObject(body)
          val requested = fields.get("resource_ids") match {
            case Some(MiniJson.JArr(items)) =>
              items.collect { case MiniJson.JStr(s) => s }
            case _ => throw BadRequest("body must contain resource_ids: [string, ...]")
          }
          if (requested.isEmpty) throw BadRequest("resource_ids is empty")
          generate(requested, query(ex))
        case ("GET", "bot" :: botName :: Nil) if botName.nonEmpty =>
          val q = query(ex)
          val url = q.getOrElse("bot-manager-url",
            throw BadRequest("bot-manager-url parameter is required"))
          val requested = resolveBotIds(url, botName)
          if (requested.isEmpty) throw BadRequest(s"no resources found for bot $botName")
          generate(requested, q)
        case _ =>
          respond(ex, 404, "not found")
      }
    } catch {
      case BadRequest(msg)                => bytes = respond(ex, 400, msg)
      case e: IllegalArgumentException    => bytes = respond(ex, 400, String.valueOf(e.getMessage))
      case e: Throwable =>
        log.error(s"$method ${ex.getRequestURI} failed", e)
        bytes = respond(ex, 500, "internal error")
    } finally {
      ex.close()
      // the route is one of the known names, never client text, so the
      // line stays one line of key=value pairs
      val route = segments.headOption.filter(Routes).getOrElse("other")
      log.info(f"method=$method route=$route ids=$ids use_cache=$useCache " +
        f"status=${ex.getResponseCode} bytes=$bytes ms=${(System.nanoTime() - t0) / 1e6}%.1f")
    }
  }

  private val Routes = Set("resource", "resources", "bot")

  /** Generates the log for `ids` and sends it; returns the body's size. */
  private def generateAndReply(ex: HttpExchange, ids: Seq[String],
                               q: Map[String, String], useCache: Boolean): Long = {
    val params = EventLogGenerator.Params(
      resourceIds = ids,
      startDate = q.get("start_date").filter(_.nonEmpty),
      endDate = q.get("end_date").filter(_.nonEmpty),
      includeBotMessages = flag(q, "include_bot_messages"),
      includeLifecycleStart = flag(q, "include_life_cycle_start"),
      deserializeRemarks = flag(q, "deserialize_remarks"))
    val df = eventlog()
    // pool assignment is a thread-local property, so it scopes exactly
    // to the Spark jobs this handler thread submits. The pool NAME is
    // per-worker-thread, not per-request: Spark creates a Pool object
    // the first time a name appears and never removes it, so
    // per-request unique names would leak one Pool per request served
    // forever. Concurrent requests always run on distinct threads of
    // the fixed pool, so thread-keyed names give the same FAIR
    // isolation with at most 8 pools alive.
    val sc = df.sparkSession.sparkContext
    sc.setLocalProperty("spark.scheduler.pool", s"graft-req-${Thread.currentThread().getId}")
    try {
      EventLogGenerator.generateXes(df, params, cache, useCache = useCache) match {
        case Some(path) => respondFile(ex, path)
        case None       => respond(ex, 204, "")
      }
    } finally sc.setLocalProperty("spark.scheduler.pool", null)
  }

  private def flag(q: Map[String, String], name: String): Boolean =
    q.get(name) match {
      case None | Some("")       => false
      case Some("true")          => true
      case Some("false")         => false
      case Some(other)           => throw BadRequest(s"$name must be true or false, got '$other'")
    }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).fold(Map.empty[String, String]) { raw =>
      raw.split("&").iterator.filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => decode(k) -> decode(v)
          case Array(k)    => decode(k) -> ""
        }
      }.toMap
    }

  private def decode(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Sends `body` with status `code`; returns the body's size. */
  private def respond(ex: HttpExchange, code: Int, body: String): Long = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    if (code == 204) ex.sendResponseHeaders(204, -1)
    else {
      ex.getResponseHeaders.add("Content-Type", "text/plain; charset=utf-8")
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
    }
    bytes.length
  }

  /** Streams the file from one open channel. A published file is never
    * written again (a newer one replaces it by rename, an eviction only
    * unlinks it), so once it is open the whole body is sent as it was.
    * Returns the bytes sent.
    */
  private def respondFile(ex: HttpExchange, path: Path): Long = {
    val ch = FileChannel.open(path)
    try {
      ex.getResponseHeaders.add("Content-Type", "application/xml; charset=utf-8")
      ex.getResponseHeaders.add("Content-Disposition",
        s"""attachment; filename="${path.getFileName}"""")
      ex.sendResponseHeaders(200, ch.size())
      Channels.newInputStream(ch).transferTo(ex.getResponseBody)
    } finally ch.close()
  }
}
