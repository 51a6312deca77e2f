package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.HttpServer

import graft.xes.XesWriter

/** Checks of the benchmark's own logic that need no Spark session: the
  * XES body check, the expectation arithmetic, the clients' disjoint
  * request shares, quantiles, the metric catalog, and that a truncated
  * 200 response counts as a failed request.
  * Prints the catalog as the last line, for `selftest.py` to compare with
  * BENCHMARK.json.
  */
object SelfTest {
  private var checks = 0

  private def check(cond: Boolean, what: String): Unit = {
    if (!cond) throw new AssertionError(s"selftest failed: $what")
    checks += 1
  }

  private def doc(traces: Int, eventsPerTrace: Int): Array[Byte] = {
    val body = (0 until traces).map { t =>
      "<trace>\n<string key=\"concept:name\" value=\"c" + t + "\"/>\n" +
        ("<event><string key=\"concept:name\" value=\"a&lt;event&gt;\"/></event>\n" * eventsPerTrace) +
        "</trace>\n"
    }.mkString
    (XesWriter.Header + body + XesWriter.Footer).getBytes(UTF_8)
  }

  def run(): Unit = {
    // XES body check
    val ok = doc(3, 4)
    check(Checks.xes(200, ok, Checks.Expect(3, 12)).isEmpty, "a whole document passes")
    check(Checks.xes(200, ok, Checks.Expect(3, 11)).isDefined, "a wrong event count fails")
    check(Checks.xes(200, ok, Checks.Expect(2, 12)).isDefined, "a wrong trace count fails")
    for (cut <- Seq(ok.length - 1, ok.length / 2, XesWriter.Header.length, 10, 0))
      check(Checks.xes(200, ok.take(cut), Checks.Expect(3, 12)).isDefined, s"a body cut at $cut fails")
    check(Checks.xes(500, ok, Checks.Expect(3, 12)).isDefined, "a 500 fails")
    check(Checks.xes(204, Array.emptyByteArray, Checks.Expect(0, 0)).isEmpty, "204 for no rows passes")
    check(Checks.xes(200, ok, Checks.Expect(0, 0)).isDefined, "200 where 204 was expected fails")
    check(Checks.count("<a><a>x<a".getBytes(UTF_8), "<a>".getBytes(UTF_8)) == 2, "pattern count")

    // expectation arithmetic: cases are per resource and day, so sums add up
    val e = new Checks.Expectations((10, 14), Map(
      "1" -> Map(10 -> (1L, 5L), 12 -> (1L, 2L)),
      "2" -> Map(11 -> (1L, 7L), 14 -> (1L, 1L)),
      "10" -> Map(13 -> (1L, 3L))))
    check(e.resources == IndexedSeq("1", "2", "10"), "resource order")
    check(e.expectAll(Seq("1")) == Checks.Expect(2, 7), "one resource, all days")
    check(e.expectAll(Seq("1", "2", "10")) == Checks.Expect(5, 18), "all resources")
    check(e.expectAll(Seq("1", "1", "2")) == Checks.Expect(4, 15), "a repeated id counts once")
    check(e.expect(Seq("1", "2", "10"), 11, 13) == Checks.Expect(3, 12), "a window")
    check(e.expect(Seq("2"), 12, 13) == Checks.Expect(0, 0), "an empty window")
    check(e.expectAll(Seq("99")) == Checks.Expect(0, 0), "an unknown id")

    // clients draw from disjoint shares, so no two send the same request
    val ids = (0 until 30).map(_.toString)
    val botNames = (0 until 10).map(i => s"bot$i")
    val shares = new Checks.Expectations((0, 29), ids.map(_ -> Map(0 -> (1L, 1L))).toMap)
    val ctx = new Serve.Ctx(null, null, null, null, null, 0, shares, botNames,
      botNames.map(b => b -> ids.take(3)).toMap, null)
    val sent = (0 until 4).map { c =>
      val rnd = new scala.util.Random(c)
      Seq("resource", "bot", "export").flatMap(route => Seq.fill(200)(Serve.draw(ctx, rnd, route, c, 4))).toSet
    }
    check(sent.combinations(2).forall { case Seq(x, y) => (x & y).isEmpty }, "clients' requests are disjoint")
    check(sent.flatten.filter(_.route == "resource").map(_.ids.head).toSet == ids.toSet,
      "together the clients draw every id")
    check(sent.flatten.filter(_.route == "export").map(_.window).toSet.size == 30 - Serve.WindowDays + 1,
      "together the clients draw every export window")

    // quantiles interpolate like statistics.quantiles(method="inclusive")
    check(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5, "median")
    check(math.abs(Stats.quantile(Seq(1.0, 2.0, 3.0, 4.0, 5.0), 0.95) - 4.8) < 1e-9, "p95")
    check(Stats.quantile(Seq(7.0), 0.95) == 7.0, "p95 of one sample")

    // metric catalog
    val names = Catalog.endToEnd.map(_._1) ++ Catalog.perLayer.map(_._1)
    check(names.distinct.size == names.size, "metric names are unique")
    check(names.forall(_.matches("[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")), "metric name syntax")
    check((Catalog.endToEnd ++ Catalog.perLayer).forall(_._2.matches("[A-Za-z0-9_/%.-]{1,16}")), "unit syntax")
    check(Catalog.endToEnd.contains("setup_s" -> "s"), "setup_s is an end-to-end metric")

    // a truncated 200 counts as a failed request
    val server = HttpServer.create(new InetSocketAddress("localhost", 0), 0)
    def reply(body: Array[Byte]): com.sun.net.httpserver.HttpHandler = ex => {
      ex.sendResponseHeaders(200, body.length.toLong)
      ex.getResponseBody.write(body)
      ex.close()
    }
    server.createContext("/resource/", reply(ok.take(ok.length / 2)))
    server.createContext("/bot/", reply(ok))
    server.start()
    try {
      val base = s"http://localhost:${server.getAddress.getPort}"
      val http = Serve.client()
      val truncated = Serve.sendTo(base, http, Serve.Req("resource", IndexedSeq("7"), "", None),
        Checks.Expect(3, 12))
      check(truncated.status == 200 && truncated.error.exists(_.contains("</log>")),
        "a truncated 200 is a failure")
      val whole = Serve.sendTo(base, http, Serve.Req("bot", IndexedSeq("7"), "b", None), Checks.Expect(3, 12))
      check(whole.status == 200 && whole.error.isEmpty, "a whole 200 passes")
    } finally server.stop(0)

    println(s"selftest: $checks checks passed")
    println(Stats.json(Map(
      "end_to_end" -> Catalog.endToEnd.map { case (n, u) => Map("name" -> n, "unit" -> u) },
      "per_layer" -> Catalog.perLayer.map { case (n, u) => Map("name" -> n, "unit" -> u) })))
  }
}
