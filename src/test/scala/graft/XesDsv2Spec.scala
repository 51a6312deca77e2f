package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.types._

import graft.xes.XesWriter

/** Gates for the DataSource V2 XES provider: short-name resolution,
  * shard-parallel reads, typed schema inference over every file,
  * hidden-file skipping, and column pruning reaching the scan's
  * readSchema.
  */
class XesDsv2Spec extends SparkSpec {

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val schema = StructType(Seq(
    StructField("case:concept:name", StringType),
    StructField("time:timestamp", TimestampType),
    StructField("concept:name", StringType),
    StructField("n", LongType), StructField("score", DoubleType),
    StructField("flag", BooleanType)))

  private def sample = spark.createDataFrame(Seq(
    Row("c1", ts("2024-01-01 09:00:00"), "a<&>\"'", 7L, 1.25, true),
    Row("c1", ts("2024-01-01 09:00:05"), "b", null, null, false),
    Row("c2", ts("2024-01-01 09:01:00"), "a", -3L, 0.5, null)
  ).asJava, schema)

  private def canon(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.select("case:concept:name", "time:timestamp", "concept:name",
      "n", "score", "flag").collect().toSet

  test("format(\"xes\") reads a sharded log with typed schema, rows equal to writer input") {
    val dir = Files.createTempDirectory("xes-dsv2").resolve("shards").toString
    XesWriter.writeShards(sample, dir)
    val back = spark.read.format("xes").load(dir)
    assert(back.schema("time:timestamp").dataType == TimestampType)
    assert(back.schema("n").dataType == LongType)
    assert(back.schema("score").dataType == DoubleType)
    assert(back.schema("flag").dataType == BooleanType)
    assert(canon(back) == canon(sample))
  }

  test("column pruning reaches the scan: readSchema carries only requested columns") {
    val dir = Files.createTempDirectory("xes-dsv2-prune").resolve("shards").toString
    XesWriter.writeShards(sample, dir)
    val q = spark.read.format("xes").load(dir)
      .select("case:concept:name", "concept:name")
    val scans = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan.readSchema().fieldNames.toSeq
    }
    assert(scans.nonEmpty, "plan contains a DSv2 batch scan")
    assert(scans.head.sorted == Seq("case:concept:name", "concept:name"),
      s"pruned read schema, got ${scans.head}")
    assert(q.collect().length == 3)
  }

  test("one InputPartition per shard file — scan parallelism follows the sharding") {
    val dir = Files.createTempDirectory("xes-dsv2-parts")
    def log(file: String, cases: Range): Unit = XesWriter.write(
      spark.createDataFrame(cases.map(i =>
        Row(s"c$i", ts("2024-01-01 09:00:00"), "a", i.toLong, null, null)).asJava,
        schema), dir.resolve(file))
    log("part1.xes", 1 to 25)
    log("part2.xes", 26 to 40)
    val back = spark.read.format("xes").load(dir.toString)
    assert(back.rdd.getNumPartitions == 2, "one partition per shard file")
    assert(back.count() == 40)
  }

  /** a.xes types `v` as int; b.xes types it as string and adds `w`. */
  private def conflictingLogs(): String = {
    val tmp = Files.createTempDirectory("xes-dsv2-infer")
    val s1 = StructType(Seq(
      StructField("case:concept:name", StringType),
      StructField("time:timestamp", TimestampType),
      StructField("v", LongType)))
    val s2 = StructType(Seq(
      StructField("case:concept:name", StringType),
      StructField("time:timestamp", TimestampType),
      StructField("v", StringType),
      StructField("w", StringType)))
    XesWriter.write(spark.createDataFrame(
      Seq(Row("c1", ts("2024-01-01 09:00:00"), 5L)).asJava, s1), tmp.resolve("a.xes"))
    XesWriter.write(spark.createDataFrame(
      Seq(Row("c2", ts("2024-01-01 09:01:00"), "five", "only-b")).asJava, s2),
      tmp.resolve("b.xes"))
    tmp.toString
  }

  test("inferall unions conflicting shard schemas and widens to string") {
    // conflicting tags widen to string, raw text preserved
    val all = spark.read.format("xes").load(conflictingLogs())
    assert(all.schema("v").dataType == StringType)
    assert(all.select("v").collect().map(_.getString(0)).toSet == Set("5", "five"))
  }

  test("a directory of logs with different key sets reads every row and column") {
    val back = spark.read.format("xes").load(conflictingLogs())
    assert(back.collect().toSet == Set(
      Row("c1", ts("2024-01-01 09:00:00"), "5", null),
      Row("c2", ts("2024-01-01 09:01:00"), "five", "only-b")))
    assert(back.schema.fields.map(f => f.name -> f.dataType).toSeq == Seq(
      "case:concept:name" -> StringType, "time:timestamp" -> TimestampType,
      "v" -> StringType, "w" -> StringType))
  }

  test("a half-written hidden .tmp sibling of a complete log is skipped") {
    val tmp = Files.createTempDirectory("xes-dsv2-tmp")
    XesWriter.write(sample, tmp.resolve("log.xes"))
    val bytes = Files.readAllBytes(tmp.resolve("log.xes"))
    Files.write(tmp.resolve(s".${java.util.UUID.randomUUID()}.tmp"),
      java.util.Arrays.copyOf(bytes, bytes.length / 2))
    assert(canon(spark.read.format("xes").load(tmp.toString)) == canon(sample))
  }

  test("single .xes file path and explicit casecol option") {
    val tmp = Files.createTempDirectory("xes-dsv2-one")
    val file = tmp.resolve("log.xes")
    XesWriter.write(sample, file)
    val back = spark.read.format("xes").option("casecol", "trace_id").load(file.toString)
    assert(back.columns.contains("trace_id"))
    assert(back.select("trace_id").distinct().count() == 2)
  }
}
