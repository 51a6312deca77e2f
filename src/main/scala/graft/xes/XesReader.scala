package graft.xes

import org.apache.spark.sql.{DataFrame, SparkSession}

/** XES XML source — the other half of the reference's artifact
  * lifecycle: the service SERVES .xes files (app.py:230) and its
  * consumers load them with `pm4py.read_xes`, so a library user needs
  * the read path to swap engines completely. Parses the writer's own
  * single-file and sharded outputs (and any XES whose attributes are
  * flat typed key/values) back into one row per event.
  *
  * There is one read path, the `xes` DataSource V2 scan
  * (`XesDataSource`): `read` is `spark.read.format("xes")`. This object
  * holds the streaming parser that scan runs in every task. The
  * trace's own `concept:name` becomes the case column; an absent
  * attribute is null (the writer omits null attributes symmetrically,
  * so write → read round-trips losslessly up to the date format's
  * millisecond precision — XesReaderSpec pins it, and the
  * q_xes_roundtrip oracle proves it against the raw table).
  */
object XesReader {

  /** key → (xes tag, raw value) per event, with its trace's case id. */
  private[xes] final case class RawEvent(caseId: String,
                                         attrs: Map[String, (String, String)])

  /** Streaming (StAX cursor) XES event iterator — memory is bounded
    * by ONE TRACE, not the document: events buffer only until their
    * trace closes, because the trace's `concept:name` may legally
    * appear after its events, and every event of a trace carries that
    * one case id (a trace without one yields a null case id). A giant
    * single-shard log therefore never has to fit in an executor. A
    * stream whose root element is not `<log>` (a non-XES file among
    * the shards) yields no events. Malformed XML after a valid root
    * throws. The input stream is closed when the document ends.
    *
    * Only DIRECT children are honored: events at trace depth,
    * attributes at event depth, the case id at trace depth — a
    * `<global>` block's defaults or nested containers never leak into
    * rows. DTDs and external entities are disabled (the files are
    * machine-written, and a log shard must not be able to make the
    * parser fetch anything).
    */
  private[graft] def staxEvents(in: java.io.InputStream): Iterator[RawEvent] = {
    val fac = javax.xml.stream.XMLInputFactory.newInstance()
    fac.setProperty(javax.xml.stream.XMLInputFactory.SUPPORT_DTD, false)
    fac.setProperty(javax.xml.stream.XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    import javax.xml.stream.XMLStreamConstants._
    new scala.collection.AbstractIterator[RawEvent] {
      private val pending = scala.collection.mutable.Queue.empty[RawEvent]
      private var reader: javax.xml.stream.XMLStreamReader = _
      private var rootChecked = false
      private var done = false
      private var depth = 0
      private var traceDepth = -1
      private var eventDepth = -1
      private var caseId: String = null
      private var evAttrs: scala.collection.mutable.Builder[
        (String, (String, String)), Map[String, (String, String)]] = _
      private val traceEvs =
        scala.collection.mutable.ArrayBuffer.empty[Map[String, (String, String)]]

      private def finish(): Unit = {
        done = true
        if (reader != null) reader.close()
        in.close()
      }

      private def advance(): Unit = {
        if (done || pending.nonEmpty) return
        try {
          if (reader == null) reader = fac.createXMLStreamReader(in)
          while (pending.isEmpty && !done) {
            if (!reader.hasNext) finish()
            else reader.next() match {
              case START_ELEMENT =>
                depth += 1
                val name = reader.getLocalName
                if (!rootChecked) {
                  rootChecked = true
                  if (name != "log") finish()
                } else if (traceDepth < 0 && name == "trace") {
                  traceDepth = depth; caseId = null; traceEvs.clear()
                } else if (traceDepth > 0 && eventDepth < 0 &&
                           depth == traceDepth + 1 && name == "event") {
                  eventDepth = depth; evAttrs = Map.newBuilder
                } else if (eventDepth > 0 && depth == eventDepth + 1) {
                  evAttrs += reader.getAttributeValue(null, "key") ->
                    ((name, reader.getAttributeValue(null, "value")))
                } else if (traceDepth > 0 && eventDepth < 0 &&
                           depth == traceDepth + 1 && name == "string" &&
                           reader.getAttributeValue(null, "key") == "concept:name") {
                  caseId = reader.getAttributeValue(null, "value")
                }
              case END_ELEMENT =>
                if (eventDepth > 0 && depth == eventDepth) {
                  traceEvs += evAttrs.result(); eventDepth = -1
                } else if (traceDepth > 0 && depth == traceDepth) {
                  val cid = caseId
                  traceEvs.foreach(m => pending.enqueue(RawEvent(cid, m)))
                  traceEvs.clear(); traceDepth = -1
                }
                depth -= 1
              case END_DOCUMENT => finish()
              case _ =>
            }
          }
        } catch {
          // a stream that can't produce a root element (empty sidecar,
          // non-XML bytes) is "not an XES file" — skip, like the old
          // contains("<log") probe; errors PAST a valid root rethrow
          case _: javax.xml.stream.XMLStreamException if !rootChecked =>
            finish()
        }
      }

      override def hasNext: Boolean = { advance(); pending.nonEmpty }
      override def next(): RawEvent = {
        advance()
        if (pending.isEmpty) throw new NoSuchElementException("staxEvents")
        pending.dequeue()
      }
    }
  }

  /** Read XES file(s) at `path` (a file, a sharded directory, or a
    * glob) into an event DataFrame: the `xes` DataSource V2 scan
    * (`XesDataSource`) with `caseCol` as the case column.
    */
  def read(spark: SparkSession, path: String,
           caseCol: String = XesWriter.DefaultCaseCol): DataFrame =
    spark.read.format("xes").option("casecol", caseCol).load(path)
}
