package graft.xes

import java.io.{FileNotFoundException, InputStream}
import java.util.{Map => JMap}

import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, PathFilter, Path => HPath}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** DataSource V2 provider for the XES XML format, and graft's one XES
  * read path: `spark.read.format("xes").load(path)` (registered via
  * META-INF/services, so the short name works without imports);
  * `XesReader.read` is this scan.
  *
  * `path` is a file, a directory of shards, or a glob. Listing follows
  * Hadoop's input rule: a name starting with `_` or `.` is hidden and
  * skipped, so `_SUCCESS` markers, `.crc` checksums and the
  * half-written `.<uuid>.tmp` sibling `XesWriter.write` leaves during
  * a write are never parsed.
  *
  * Each listed file is one `InputPartition` (scan parallelism = shard
  * count, same distribution story as the sharded writer), and the scan
  * implements `SupportsPushDownRequiredColumns`, so `SELECT case, ts
  * FROM xes` only converts the two requested attributes per event —
  * on wide logs (the reference's dynamic JSON widening can add dozens
  * of columns) that is the difference between parsing the XML once and
  * building every row twice as wide. XesDsv2Spec gates the pruned
  * `readSchema()` end-to-end.
  *
  * Without a user schema, the schema is inferred like schema-less
  * `spark.read.json`: one distributed pass, one task per file, unions
  * the (attribute key → XES tag) pairs of EVERY file, so the schema
  * does not depend on how the log is split into files (the writer omits
  * null attributes, so even its own shards need not share a key set).
  * Type mapping (inverse of XesWriter's): date → timestamp, int → long,
  * float → double, boolean → boolean, string → string; a key seen under
  * conflicting tags widens to string with the raw attribute text.
  * Column order: the case column, then attribute keys sorted.
  */
class XesDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "xes"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    XesDataSource.infer(
      options.get("path"),
      options.getOrDefault("casecol", XesWriter.DefaultCaseCol))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new XesTable(properties.get("path"), schema,
      Option(properties.get("casecol")).getOrElse(XesWriter.DefaultCaseCol))
}

object XesDataSource {

  private[xes] def hadoopConf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  /** Hadoop's hidden-file rule, the one `FileInputFormat` applies. */
  private val visible: PathFilter = p =>
    !p.getName.startsWith("_") && !p.getName.startsWith(".")

  /** The visible files `path` names: its glob matches, with each
    * matched directory replaced by the files directly inside it,
    * sorted. A path that matches nothing is a FileNotFoundException;
    * an empty directory is an empty log.
    */
  private[xes] def listFiles(path: String): Seq[String] = {
    require(path != null, "xes source requires a path")
    val p = new HPath(path)
    val fs = p.getFileSystem(hadoopConf)
    val matched = Option(fs.globStatus(p, visible)).getOrElse(Array.empty[FileStatus])
    if (matched.isEmpty) throw new FileNotFoundException(s"xes: no file matches $path")
    matched.toSeq.flatMap { st =>
      if (st.isDirectory) fs.listStatus(st.getPath, visible).toSeq.filter(_.isFile)
      else Seq(st)
    }.map(_.getPath.toString).sorted
  }

  private[xes] def open(file: String, conf: Configuration): InputStream = {
    val p = new HPath(file)
    p.getFileSystem(conf).open(p)
  }

  private def typeOf(tag: String): DataType = tag match {
    case "date" => TimestampType
    case "int" => LongType
    case "float" => DoubleType
    case "boolean" => BooleanType
    case _ => StringType
  }

  private[xes] def infer(path: String, caseCol: String): StructType = {
    val files = listFiles(path)
    val conf = new SerializableConfiguration(hadoopConf)
    // one task per file, each returning the file's distinct (key, tag) pairs
    val keyTags: Map[String, Set[String]] = SparkSession.active.sparkContext
      .parallelize(files, files.size max 1)
      .map(f => Using.resource(open(f, conf.value))(in => XesReader.staxEvents(in)
        .flatMap(_.attrs.iterator.map { case (k, (tag, _)) => (k, tag) }).toSet))
      .collect().toSet.flatten.groupMap(_._1)(_._2)
    val fields = keyTags.toSeq.sortBy(_._1).map { case (k, tags) =>
      StructField(k, if (tags.size == 1) typeOf(tags.head) else StringType)
    }
    StructType(StructField(caseCol, StringType) +: fields)
  }
}

private[xes] class XesTable(path: String, tableSchema: StructType, caseCol: String)
  extends Table with SupportsRead {
  override def name(): String = s"xes:$path"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new XesScanBuilder(path, tableSchema, caseCol)
}

private[xes] class XesScanBuilder(path: String, full: StructType, caseCol: String)
  extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    // preserve the source's field metadata/order for the names Spark asks for
    required = StructType(requiredSchema.fieldNames.flatMap(n => full.fields.find(_.name == n)))
  override def build(): Scan = new XesScan(path, required, caseCol)
}

private[xes] class XesScan(path: String, required: StructType, caseCol: String)
  extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[InputPartition] =
    XesDataSource.listFiles(path).map(XesInputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    XesReaderFactory(required, caseCol, new SerializableConfiguration(XesDataSource.hadoopConf))
  override def description(): String =
    s"XesScan path=$path cols=${required.fieldNames.mkString(",")}"
}

private[xes] case class XesInputPartition(file: String) extends InputPartition

/** Per-file reader: STREAMS the shard (StAX, one trace in memory at
  * a time — a multi-gigabyte single-shard log reads in constant
  * space), converting ONLY the pruned columns to InternalRow. Files
  * open with the session's Hadoop configuration, shipped in the
  * factory.
  */
private[xes] case class XesReaderFactory(required: StructType, caseCol: String,
                                         conf: SerializableConfiguration)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[XesInputPartition].file
    new PartitionReader[InternalRow] {
      private val stream = XesDataSource.open(file, conf.value)
      private val events: Iterator[XesReader.RawEvent] =
        XesReader.staxEvents(stream)
      private var row: InternalRow = _

      override def next(): Boolean =
        if (!events.hasNext) false
        else { row = convert(events.next()); true }
      override def get(): InternalRow = row
      // staxEvents closes the stream at document end; this covers
      // early termination (limit pushed into the scan)
      override def close(): Unit =
        try stream.close() catch { case _: java.io.IOException => }

      private def convert(ev: XesReader.RawEvent): InternalRow = {
        val vals = required.fields.map { f =>
          if (f.name == caseCol) {
            if (ev.caseId == null) null else UTF8String.fromString(ev.caseId)
          } else ev.attrs.get(f.name) match {
            case None => null
            case Some((_, raw)) => f.dataType match {
              case StringType => UTF8String.fromString(raw)
              case TimestampType =>
                val i = java.time.OffsetDateTime.parse(raw).toInstant
                i.getEpochSecond * 1000000L + i.getNano / 1000L
              case LongType => java.lang.Long.valueOf(raw)
              case DoubleType => java.lang.Double.valueOf(raw)
              case BooleanType => java.lang.Boolean.valueOf(raw)
              case other => throw new IllegalStateException(s"unexpected XES type $other")
            }
          }
        }
        InternalRow.fromSeq(vals.toIndexedSeq)
      }
    }
  }
}
