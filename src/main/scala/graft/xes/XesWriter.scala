package graft.xes

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption, StandardOpenOption}
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter
import java.util.UUID

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** XES XML sink (SURVEY.md O-4/O-24/O-25) — the reference's sole output
  * artifact (`pm4py.write_xes(event_log, ..., case_id_key=
  * 'case:concept:name')`, app.py:216-217).
  *
  * Design, Spark-first:
  *  - Trace assembly is distributed: `repartition(case)` +
  *    `sortWithinPartitions(case, ts, tie)` + `mapPartitions` that walks
  *    the sorted stream and emits one rendered `<trace>` per case-key
  *    run. Memory is bounded by ONE trace's XML, never a whole group or
  *    partition — unlike `groupByKey.mapGroups`, which must materialize
  *    a group to sort it.
  *  - Attribute typing (O-25) is driven by the Spark schema:
  *    timestamp→`<date>` (ISO-8601, UTC offset), boolean→`<boolean>`,
  *    integral→`<int>`, fractional→`<float>`, everything else→`<string>`.
  *    Null attributes are omitted (pm4py drops NaN attributes likewise).
  *  - Rows with a NULL case id are dropped here as a safety net; the
  *    upstream pipeline already filters them (O-8, event_reader.py:59).
  *  - `write` produces the reference's single-file artifact by streaming
  *    `toLocalIterator` — the driver holds one trace at a time — and
  *    publishes it with an atomic rename. A single
  *    XES file is inherently a single-writer bottleneck; at cluster
  *    scale use `writeShards`, which writes one self-contained XES file
  *    per partition with no driver involvement at all.
  */
object XesWriter {

  val DefaultCaseCol = "case:concept:name"
  val DefaultTsCol = "time:timestamp"

  private val TsFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX").withZone(ZoneOffset.UTC)

  def escape(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '&'  => sb.append("&amp;")
        case '<'  => sb.append("&lt;")
        case '>'  => sb.append("&gt;")
        case '"'  => sb.append("&quot;")
        case '\'' => sb.append("&apos;")
        case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' =>
          sb.append(' ') // control chars are illegal in XML 1.0
        case c => sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  def formatTs(ts: java.sql.Timestamp): String = TsFmt.format(ts.toInstant)

  /** One typed XES attribute, or "" when the value is null. */
  private def attr(key: String, dt: DataType, row: Row, idx: Int): String = {
    if (row.isNullAt(idx)) return ""
    val k = escape(key)
    dt match {
      case TimestampType =>
        s"""<date key="$k" value="${formatTs(row.getAs[java.sql.Timestamp](idx))}"/>"""
      case BooleanType =>
        s"""<boolean key="$k" value="${row.getBoolean(idx)}"/>"""
      case ByteType | ShortType | IntegerType | LongType =>
        s"""<int key="$k" value="${row.get(idx)}"/>"""
      case FloatType | DoubleType | _: DecimalType =>
        s"""<float key="$k" value="${row.get(idx)}"/>"""
      case _ =>
        s"""<string key="$k" value="${escape(String.valueOf(row.get(idx)))}"/>"""
    }
  }

  /** Standard XES document header (extensions the reference's attribute
    * set uses: concept, time, lifecycle) and footer.
    */
  val Header: String =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<log xes.version="1849-2016" xes.features="nested-attributes" xmlns="http://www.xes-standard.org/">
      |<extension name="Concept" prefix="concept" uri="http://www.xes-standard.org/concept.xesext"/>
      |<extension name="Time" prefix="time" uri="http://www.xes-standard.org/time.xesext"/>
      |<extension name="Lifecycle" prefix="lifecycle" uri="http://www.xes-standard.org/lifecycle.xesext"/>
      |<classifier name="Event Name" keys="concept:name"/>
      |""".stripMargin
  val Footer: String = "</log>\n"

  /** Distributed trace assembly: one (caseId, `<trace>…</trace>`) row per
    * case. One shuffle (on the case key) + one sort; XML is rendered
    * inside the scan of the sorted stream.
    */
  def traceXml(df: DataFrame, caseCol: String = DefaultCaseCol,
               tsCol: String = DefaultTsCol,
               tieCols: Seq[String] = Nil): Dataset[(String, String)] = {
    val schema = df.schema
    val caseIdx = schema.fieldIndex(caseCol)
    val eventFields: Array[(String, DataType, Int)] =
      schema.fields.zipWithIndex.collect {
        case (f, i) if f.name != caseCol => (f.name, f.dataType, i)
      }
    val sortCols = (Seq(caseCol, tsCol) ++ tieCols).map(col)
    val sorted = df.repartition(col(caseCol)).sortWithinPartitions(sortCols: _*)

    sorted.mapPartitions { rows =>
      val in = rows.buffered
      def renderEvent(r: Row, sb: StringBuilder): Unit = {
        sb.append("<event>")
        var i = 0
        while (i < eventFields.length) {
          val (name, dt, idx) = eventFields(i)
          sb.append(attr(name, dt, r, idx))
          i += 1
        }
        sb.append("</event>\n")
      }
      new Iterator[(String, String)] {
        // skip null-case rows (upstream normally filtered them, O-8)
        private def skipNullCase(): Unit =
          while (in.hasNext && in.head.isNullAt(caseIdx)) in.next()
        override def hasNext: Boolean = { skipNullCase(); in.hasNext }
        override def next(): (String, String) = {
          skipNullCase()
          val caseId = String.valueOf(in.head.get(caseIdx))
          val sb = new StringBuilder(256)
          sb.append("<trace>\n")
          sb.append(s"""<string key="concept:name" value="${escape(caseId)}"/>""").append('\n')
          while (in.hasNext && !in.head.isNullAt(caseIdx) &&
                 String.valueOf(in.head.get(caseIdx)) == caseId) {
            renderEvent(in.next(), sb)
          }
          sb.append("</trace>")
          (caseId, sb.toString)
        }
      }
    }(Encoders.tuple(Encoders.STRING, Encoders.STRING))
  }

  /** Single-file XES artifact (the reference's product). Returns None
    * when the input has no rows — the caller maps that to HTTP 204
    * (app.py:209-211; the reference's own `file_name is None` check was
    * on the wrong variable, SURVEY §2.8.4 — this is the intended
    * behavior). Traces stream through the driver one at a time into a
    * uniquely named file in `path`'s directory, which is then renamed
    * onto `path` in one atomic step: a reader of `path` sees either the
    * previous complete file or the new complete one, never a partial
    * write, and a write that fails leaves `path` untouched and no temp
    * file behind.
    */
  def write(df: DataFrame, path: Path, caseCol: String = DefaultCaseCol,
            tsCol: String = DefaultTsCol, tieCols: Seq[String] = Nil): Option[Path] = {
    val it = traceXml(df, caseCol, tsCol, tieCols).toLocalIterator()
    if (!it.hasNext) return None
    val dir = path.toAbsolutePath.getParent
    Files.createDirectories(dir)
    val tmp = dir.resolve(s".${UUID.randomUUID()}.tmp")
    try {
      val w = Files.newBufferedWriter(tmp, StandardCharsets.UTF_8, StandardOpenOption.CREATE_NEW)
      try {
        w.write(Header)
        while (it.hasNext) { w.write(it.next()._2); w.write("\n") }
        w.write(Footer)
      } finally w.close()
      Some(Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE))
    } finally Files.deleteIfExists(tmp) // a no-op once the move has happened
  }

  /** Scale path: fully distributed sink — every partition writes one
    * self-contained, valid XES document (header + its traces + footer)
    * through the normal text sink. No driver funnel, no coalesce(1)
    * contention; downstream consumers treat the directory as a sharded
    * log (each shard holds complete traces because the assembly
    * partitioned by case).
    */
  def writeShards(df: DataFrame, dir: String, caseCol: String = DefaultCaseCol,
                  tsCol: String = DefaultTsCol, tieCols: Seq[String] = Nil): Unit = {
    val traces = traceXml(df, caseCol, tsCol, tieCols)
    traces.mapPartitions { it =>
      if (it.isEmpty) Iterator.empty
      else Iterator(Header.stripSuffix("\n")) ++ it.map(_._2) ++ Iterator(Footer.stripSuffix("\n"))
    }(Encoders.STRING).write.mode("overwrite").text(dir)
  }
}
