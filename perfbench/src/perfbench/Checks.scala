package perfbench

import java.nio.charset.StandardCharsets.UTF_8

/** Output checks and the arithmetic behind them. Pure code, so the
  * self-test can drive it without a Spark session.
  */
object Checks {
  private val Header = graft.xes.XesWriter.Header.getBytes(UTF_8)
  private val Footer = graft.xes.XesWriter.Footer.getBytes(UTF_8)
  private val TraceTag = "<trace>".getBytes(UTF_8)
  private val EventTag = "<event>".getBytes(UTF_8)

  /** Expected `<trace>` and `<event>` counts of one XES response. */
  final case class Expect(traces: Long, events: Long)

  /** Checks one response against its expectation. An empty expectation
    * must come back as 204, anything else as a whole XES document with
    * exactly the expected numbers of traces and events. Returns the
    * reason a response fails, or None.
    */
  def xes(status: Int, body: Array[Byte], exp: Expect): Option[String] =
    if (exp.events == 0) {
      if (status == 204) None else Some(s"status $status where 204 was expected")
    } else if (status != 200) Some(s"status $status")
    else if (!startsWith(body, Header)) Some("body does not start with the XES header")
    else if (!endsWith(body, Footer)) Some(s"body of ${body.length} bytes does not end with </log>")
    else {
      val t = count(body, TraceTag)
      val e = count(body, EventTag)
      if (t != exp.traces || e != exp.events)
        Some(s"$t traces / $e events where ${exp.traces} / ${exp.events} were expected")
      else None
    }

  def startsWith(b: Array[Byte], p: Array[Byte]): Boolean =
    b.length >= p.length && java.util.Arrays.equals(b, 0, p.length, p, 0, p.length)

  def endsWith(b: Array[Byte], p: Array[Byte]): Boolean =
    b.length >= p.length &&
      java.util.Arrays.equals(b, b.length - p.length, b.length, p, 0, p.length)

  /** Non-overlapping occurrences of `p` in `b`. */
  def count(b: Array[Byte], p: Array[Byte]): Long = {
    var n = 0L
    var i = 0
    val last = b.length - p.length
    while (i <= last) {
      if (b(i) == p(0) && java.util.Arrays.equals(b, i, i + p.length, p, 0, p.length)) {
        n += 1; i += p.length
      } else i += 1
    }
    n
  }

  /** Per-resource, per-day counts of the rows `EventLogGenerator.generate`
    * keeps under the default flags. A case id is a resource plus a day
    * (`EventQueries.asEventlog`), so a case never spans two resources or
    * two days, and the counts of any id set over any whole-day window are
    * plain sums.
    *
    * @param days      first and last day, as epoch days
    * @param perDay    resource -> (epoch day -> (traces, events))
    */
  final class Expectations(val days: (Int, Int), perDay: Map[String, Map[Int, (Long, Long)]]) {
    val resources: IndexedSeq[String] = perDay.keys.toIndexedSeq.sortBy(id => (id.length, id))

    def expect(ids: Seq[String], fromDay: Int, toDay: Int): Expect = {
      var t = 0L
      var e = 0L
      ids.distinct.foreach { id =>
        perDay.getOrElse(id, Map.empty).foreach { case (d, (dt, de)) =>
          if (d >= fromDay && d <= toDay) { t += dt; e += de }
        }
      }
      Expect(t, e)
    }

    def expectAll(ids: Seq[String]): Expect = expect(ids, days._1, days._2)
  }
}
