package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.time.{Duration, LocalDate}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.api.{EventLogGenerator, ResultCache, XesHttpServer}
import graft.queries.EventQueries

/** The HTTP serving workloads: an in-process `XesHttpServer` over the
  * events table, driven by closed-loop clients in the same JVM.
  */
object Serve {
  val IdsPerBot = 20
  val IdsPerPost = 100
  val WindowDays = 7

  /** One request, always with `use_cache=false`. `ids` are the resource
    * ids the server ends up filtering on (for `/bot` the ids the stub
    * resolver returns); `window` is the inclusive day range sent as
    * start/end dates, None for no dates.
    */
  final case class Req(route: String, ids: IndexedSeq[String], bot: String,
                       window: Option[(Int, Int)]) {
    def params: EventLogGenerator.Params = EventLogGenerator.Params(
      resourceIds = ids,
      startDate = window.map(w => s"${LocalDate.ofEpochDay(w._1.toLong)} 00:00:00"),
      endDate = window.map(w => s"${LocalDate.ofEpochDay(w._2.toLong)} 23:59:59.999999"))

    def key: String = EventLogGenerator.cacheKey(params)

    def http(base: String): HttpRequest = {
      val p = params
      val q = (Seq("use_cache" -> "false") ++
        p.startDate.map("start_date" -> _) ++ p.endDate.map("end_date" -> _) ++
        (if (route == "bot") Seq("bot-manager-url" -> "stub") else Nil))
        .map { case (k, v) => s"$k=${URLEncoder.encode(v, UTF_8)}" }.mkString("&")
      val b = HttpRequest.newBuilder().timeout(Duration.ofSeconds(120))
      route match {
        case "resource" => b.uri(URI.create(s"$base/resource/${ids.head}?$q")).GET().build()
        case "bot" => b.uri(URI.create(s"$base/bot/$bot?$q")).GET().build()
        case _ =>
          val body = ids.map(id => "\"" + id + "\"").mkString("{\"resource_ids\": [", ", ", "]}")
          b.uri(URI.create(s"$base/resources?$q"))
            .header("Content-Type", "application/json")
            .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      }
    }
  }

  /** One completed request as the client saw it. */
  final case class Sample(route: String, startNs: Long, endNs: Long, status: Int,
                          bytes: Long, error: Option[String]) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  /** A started server with everything the checks need. */
  final class Ctx(val spark: SparkSession, val eventlog: DataFrame, val cache: ResultCache,
                  val cacheDir: Path, val server: XesHttpServer, val port: Int,
                  val exp: Checks.Expectations, val botNames: IndexedSeq[String],
                  val bots: Map[String, IndexedSeq[String]], val eventlogCalls: AtomicLong) {
    val base = s"http://localhost:$port"
    def stop(): Unit = server.stop()
    def expect(r: Req): Checks.Expect =
      r.window.fold(exp.expectAll(r.ids))(w => exp.expect(r.ids, w._1, w._2))
  }

  /** Loads the events, computes the expectations with one grouped job
    * over `EventLogGenerator.generate`, and starts the server. The stub
    * resolver knows ten bots, or one per client when there are more. When
    * `tagRequests` is set, every request's Spark jobs run in their own
    * job group, named by the eventlog supplier the server calls once per
    * request.
    */
  def start(spark: SparkSession, sfDir: String, cacheDir: Path, clients: Int,
            tagRequests: () => Boolean): Ctx = {
    val eventlog = EventQueries.asEventlog(Tables.events(spark, sfDir))
    val rows = EventLogGenerator.generate(eventlog, EventLogGenerator.Params())
      .groupBy(col("RESOURCE"), unix_date(to_date(col("time:timestamp"))).as("day"))
      .agg(countDistinct(col("case:concept:name")).as("traces"), count(lit(1)).as("events"))
      .collect()
    val perDay = rows.groupBy(_.getString(0)).map { case (id, rs) =>
      id -> rs.map(r => r.getInt(1) -> (r.getLong(2), r.getLong(3))).toMap
    }
    val days = rows.map(_.getInt(1))
    val exp = new Checks.Expectations((days.min, days.max), perDay)
    val botNames = (0 until math.max(10, clients)).map(i => s"bot$i")
    val bots = botNames.zipWithIndex.map { case (name, i) =>
      name -> new Random(1000L + i).shuffle(exp.resources).take(IdsPerBot)
    }.toMap
    val calls = new AtomicLong
    val cache = new ResultCache(cacheDir, ttlSeconds = 86400L)
    val server = new XesHttpServer(
      () => {
        val n = calls.incrementAndGet()
        if (tagRequests()) spark.sparkContext.setJobGroup(s"req-$n", "request", interruptOnCancel = false)
        eventlog
      },
      cache, (_, bot) => bots.getOrElse(bot, Nil))
    val port = server.start()
    new Ctx(spark, eventlog, cache, cacheDir, server, port, exp, botNames, bots, calls)
  }

  /** One deck of the route mix: 55 % one resource, 25 % 100 resources,
    * 10 % a bot's 20 resources, 10 % an export of every resource over a
    * 7-day window. Clients deal shuffled decks, so every run keeps these
    * shares exactly while the order, ids and windows vary with the seed.
    */
  val Deck: IndexedSeq[String] = IndexedSeq.fill(11)("resource") ++ IndexedSeq.fill(5)("resources") ++
    IndexedSeq.fill(2)("bot") ++ IndexedSeq.fill(2)("export")

  /** A request of the given route with uniformly drawn ids and window,
    * from the share of client `client` of `clients`. The single ids, the
    * bots and the export windows are split among the clients by index
    * modulo `clients`, so that no two clients send the same request. Two
    * identical requests in flight together can be served a truncated file
    * (README, "Truncated 200 under concurrency"). Two draws of 100 ids
    * from 1 500 are never the same set in practice, so those are not split.
    */
  def draw(ctx: Ctx, rnd: Random, route: String, client: Int = 0, clients: Int = 1): Req = {
    val all = ctx.exp.resources
    val (d0, d1) = ctx.exp.days
    // a uniform index below n that is `client` modulo `clients`; any index
    // when there are fewer than `clients` of them
    def mine(n: Int): Int = {
      val k = (n - client + clients - 1) / clients
      if (k > 0) client + clients * rnd.nextInt(k) else rnd.nextInt(n)
    }
    route match {
      case "resource" => Req(route, IndexedSeq(all(mine(all.size))), "", None)
      case "resources" => Req(route, sample(rnd, all, IdsPerPost), "", None)
      case "bot" =>
        val bot = ctx.botNames(mine(ctx.botNames.size))
        Req(route, ctx.bots(bot), bot, None)
      case "export" =>
        val s = d0 + mine(d1 - d0 - WindowDays + 2)
        Req(route, all, "", Some((s, s + WindowDays - 1)))
    }
  }

  /** One client's request stream. */
  def misses(ctx: Ctx, rnd: Random, client: Int = 0, clients: Int = 1): Iterator[Req] =
    Iterator.continually(rnd.shuffle(Deck)).flatten.map(route => draw(ctx, rnd, route, client, clients))

  private def sample(rnd: Random, all: IndexedSeq[String], k: Int): IndexedSeq[String] = {
    val a = all.toArray
    for (i <- 0 until k) {
      val j = i + rnd.nextInt(a.length - i)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.take(k).toIndexedSeq
  }

  def client(): HttpClient =
    HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(30)).build()

  /** Sends one request and checks the response after the clock stops. */
  def send(ctx: Ctx, http: HttpClient, r: Req): Sample = sendTo(ctx.base, http, r, ctx.expect(r))

  def sendTo(base: String, http: HttpClient, r: Req, exp: Checks.Expect): Sample = {
    val req = r.http(base)
    val t0 = System.nanoTime()
    val res = try Right(http.send(req, HttpResponse.BodyHandlers.ofByteArray()))
              catch { case e: Exception => Left(e) }
    val t1 = System.nanoTime()
    res match {
      case Left(e) =>
        Sample(r.route, t0, t1, -1, 0L, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      case Right(resp) =>
        val body = resp.body()
        Sample(r.route, t0, t1, resp.statusCode(), body.length.toLong,
          Checks.xes(resp.statusCode(), body, exp))
    }
  }

  /** Runs `clients` closed-loop clients, each on its own connection,
    * until `seconds` have passed; requests in flight at the deadline
    * finish and count. Returns the samples and the phase's wall time.
    */
  def load(ctx: Ctx, clients: Int, seconds: Double, seed: Long): (Seq[Sample], Double) = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val out = Array.fill(clients)(ArrayBuffer[Sample]())
    val threads = (0 until clients).map { c =>
      val t = new Thread(() => {
        val requests = misses(ctx, new Random(seed * 1000003L + c), c, clients)
        val http = client()
        while (System.nanoTime() < deadline) out(c) += send(ctx, http, requests.next())
      }, s"bench-client-$c")
      t.start(); t
    }
    threads.foreach(_.join())
    val samples = out.toSeq.flatten
    (samples, (samples.map(_.endNs).maxOption.getOrElse(t0) - t0) / 1e9)
  }
}
