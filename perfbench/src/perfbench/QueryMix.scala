package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The analytics workload: `SparkEntry` queries run one after another in
  * one session, each built with `fn(spark, dir)` and written to the
  * `noop` sink.
  */
object QueryMix {
  /** Process-mining surface of the paper. */
  val ProcessMining: Seq[String] = Seq("q_generate_api", "q_xes_render", "q_dfg", "q_conformance")
  /** Iterative operators whose eager construction dominates their wall time. */
  val Loops: Seq[String] = Seq("q_kcore", "q_dbscan")
  /** Execution- and CPU-heavy. */
  val Heavy: Seq[String] = Seq("q_knn_graph_lsh", "q_ngram_jaccard")
  /** Pass order. The first query of a cold JVM pays for warming it up;
    * with the loops first that cost lands among the slowest queries, not
    * next to the median.
    */
  val Queries: Seq[String] = Loops ++ Heavy ++ ProcessMining
  /** Queries whose job count is reported per query. */
  val Counted: Set[String] = (Loops ++ Heavy).toSet

  /** Row count and order-independent content hash of one result. */
  final case class Pin(rows: Long, hash: String)

  /** One query's run. */
  final case class Run(name: String, startNs: Long, constructNs: Long, execNs: Long, pin: Pin) {
    def wallNs: Long = constructNs + execNs
  }

  /** Runs one pass. `group` names the job group of each phase (None leaves
    * jobs untagged). The timed write carries a `Dataset.observe` of the
    * row count and a content hash, so the result is checked without a
    * second execution.
    */
  def pass(spark: SparkSession, sfDir: String, names: Seq[String],
           group: Option[(String, String) => String]): Seq[Run] = {
    val all = graft.SparkEntry.queries
    val sc = spark.sparkContext
    names.map { name =>
      def tag(phase: String): Unit =
        group.foreach(g => sc.setJobGroup(g(name, phase), name, interruptOnCancel = false))
      try {
        tag("construct")
        val t0 = System.nanoTime()
        val df = all(name)(spark, sfDir)
        val t1 = System.nanoTime()
        tag("exec")
        val obs = Observation(s"pin-$name")
        observed(df, obs).write.format("noop").mode("overwrite").save()
        val t2 = System.nanoTime()
        val m = obs.get
        val rows = m("rows").asInstanceOf[Long]
        val hash = f"${m("x").asInstanceOf[Long]}%016x-${Option(m("s")).fold(0L)(_.asInstanceOf[Long])}%x"
        Run(name, t0, t1 - t0, t2 - t1, Pin(rows, hash))
      } finally if (group.isDefined) sc.clearJobGroup()
    }
  }

  /** Attaches the row count, the XOR and the sum (mod 2^31 per row) of a
    * per-row 64-bit hash. Floating-point values are rounded to 6 places
    * first, so a last-bit difference in a sum's order does not count.
    */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.toSeq.map(f => normalize(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("rows"), bit_xor(h).as("x"),
      sum(pmod(h, lit(1L << 31))).as("s"))
  }

  private def normalize(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType => round(c.cast(DoubleType), 6)
    case ArrayType(DoubleType | FloatType, _) => transform(c, x => round(x.cast(DoubleType), 6))
    case _: MapType => to_json(c)
    case _ => c
  }

  /** Pins by query name, from a tab-separated `name rows hash` file. */
  def readPins(path: Path): Map[String, Pin] =
    if (!Files.exists(path)) Map.empty
    else Files.readAllLines(path, UTF_8).asScala.iterator
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(n, r, h) = l.split("\t"); n -> Pin(r.toLong, h) }.toMap

  def writePins(path: Path, runs: Seq[Run]): Unit =
    Files.write(path, ("# query\trows\thash (perfbench pins for the generated data)\n" +
      runs.sortBy(_.name).map(r => s"${r.name}\t${r.pin.rows}\t${r.pin.hash}\n").mkString)
      .getBytes(UTF_8))
}
