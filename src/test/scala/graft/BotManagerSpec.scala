package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime

import com.sun.net.httpserver.HttpServer

import org.scalatest.funsuite.AnyFunSuite

import graft.api.ResultCache
import graft.sources.BotManagerClient

/** Closes the last untested reference paths: the bot-manager HTTP
  * lookup (O-6) with its driver-side name filter (O-15), and the cache
  * TTL (O-29), both at lookup and in the explicit sweep.
  */
class BotManagerSpec extends AnyFunSuite {

  private val BotsJson =
    """{
      |  "res-1": {"name": "sam", "version": "1.0"},
      |  "res-2": {"name": "sam"},
      |  "res-3": {"name": "other"},
      |  "res-4": "not-an-object",
      |  "res-5": {"name": "sam", "tags": ["a", "b"], "active": true, "n": 3}
      |}""".stripMargin

  test("idsForBot: keeps object entries with matching name, sorted; ignores non-objects") {
    assert(BotManagerClient.idsForBot(BotsJson, "sam") == Seq("res-1", "res-2", "res-5"))
    assert(BotManagerClient.idsForBot(BotsJson, "other") == Seq("res-3"))
    assert(BotManagerClient.idsForBot(BotsJson, "ghost").isEmpty)
    assert(BotManagerClient.idsForBot("{}", "sam").isEmpty)
  }

  test("idsForBot: JSON escapes in names round-trip") {
    val json = """{"r1": {"name": "a\"b\\cA"}}"""
    assert(BotManagerClient.idsForBot(json, "a\"b\\cA") == Seq("r1"))
  }

  test("fetchBots + resourceIdsForBot against a live /bots endpoint") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    server.createContext("/bots", ex => {
      val bytes = BotsJson.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    })
    server.start()
    try {
      val client = new BotManagerClient(s"http://localhost:${server.getAddress.getPort}")
      assert(client.resourceIdsForBot("sam") == Seq("res-1", "res-2", "res-5"))
    } finally server.stop(0)
  }

  test("ResultCache TTL eviction deletes only expired entries") {
    val dir = Files.createTempDirectory("ttl-cache")
    dir.toFile.deleteOnExit()
    val cache = new ResultCache(dir, ttlSeconds = 60)
    val old = dir.resolve("old.xes")
    val fresh = dir.resolve("fresh.xes")
    Files.writeString(old, "<log/>")
    Files.writeString(fresh, "<log/>")
    Files.setLastModifiedTime(old,
      FileTime.fromMillis(System.currentTimeMillis() - 120 * 1000))
    val evicted = cache.evictExpired()
    assert(evicted == 1)
    assert(!Files.exists(old))
    assert(Files.exists(fresh))
  }

  test("ResultCache lookup: an entry older than the TTL is a miss and is kept") {
    val dir = Files.createTempDirectory("ttl-lookup")
    dir.toFile.deleteOnExit()
    val cache = new ResultCache(dir, ttlSeconds = 60)
    val stale = cache.pathFor("stale")
    Files.writeString(stale, "<log/>")
    Files.setLastModifiedTime(stale,
      FileTime.fromMillis(System.currentTimeMillis() - 120 * 1000))
    Files.writeString(cache.pathFor("fresh"), "<log/>")
    assert(cache.lookup("stale").isEmpty)
    // not unlinked: a regeneration replaces it by rename, or the sweep removes it
    assert(Files.exists(stale))
    assert(cache.lookup("fresh").contains(cache.pathFor("fresh")))
    assert(cache.lookup("absent").isEmpty)
  }
}
