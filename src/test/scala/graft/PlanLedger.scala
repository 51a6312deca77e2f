package graft

import java.nio.file.{Files, Path, Paths}

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.expressions.ScalaUDF
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LogicalPlan, Window => LWindow}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, RoundRobinPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, GenerateExec, QueryExecution, SortExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
import org.apache.spark.sql.types.StructType

/** The plan ledger: one construction pass over every `SparkEntry` query
  * at sf0.001 on the shared test session (`local[4]`, 4 shuffle
  * partitions, so the plans do not depend on the machine's core count),
  * and `PLANS.tsv`, one row of operator counts per query taken from its
  * pre-execution physical plan (AQE's initial plan). Building a query
  * runs its eager construction work (checkpoints, collects, probes)
  * but not the query itself.
  *
  * `PlanLedgerSpec` fails on any difference between the file and the
  * pass. After an intended plan change, rewrite the file with
  * `sbt "Test/runMain graft.PlanLedger"` and review its diff.
  */
object PlanLedger {

  val File: Path = Paths.get("PLANS.tsv")

  /** Ledger columns, in file order. Each counts one physical operator
    * (an Exchange by its partitioning kind, ScalaUDF by expression)
    * over the plan, its subqueries and its cached relations;
    * `parquet_widths` lists the ReadSchema width of every parquet scan,
    * ascending.
    */
  val Columns: Seq[String] = Seq(
    "exchange_hash", "exchange_range", "exchange_single", "exchange_roundrobin",
    "broadcast_exchange",
    "broadcast_hash_join", "shuffled_hash_join", "sort_merge_join",
    "broadcast_nested_loop_join", "cartesian_product",
    "window", "window_group_limit", "take_ordered_and_project", "global_sort",
    "expand", "generate", "scala_udf", "parquet_scans", "parquet_widths")

  /** What the pass keeps of one query: derived facts only, since holding
    * the DataFrame would pin its checkpoint blocks for the whole JVM.
    *
    * @param plan         the executed plan's string form
    * @param row          the ledger row, aligned with `Columns`
    * @param globalWindow the optimized plan has an unpartitioned Window
    *                     whose input no Limit or global aggregate bounds
    * @param shuffled     names of the columns some shuffle Exchange outputs
    */
  final case class Entry(schema: StructType, plan: String, row: Seq[String],
                         globalWindow: Boolean, shuffled: Set[String])

  /** Every query, built once per JVM, by name. The pass starts from an
    * empty cache: a fragment another suite left cached (and perhaps
    * materialized) would otherwise stand in for part of a plan.
    */
  lazy val pass: Map[String, Entry] = {
    val spark = TestSpark.spark
    spark.catalog.clearCache()
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      name -> facts(q(spark, "/root/testdata/sf0.001").queryExecution)
    }.toMap
  }

  def rows: Map[String, Seq[String]] = pass.map { case (q, e) => q -> e.row }

  private def facts(qe: QueryExecution): Entry = {
    val physical = qe.executedPlan
    val nodes = planNodes(physical)
    def n[T <: SparkPlan](implicit t: ClassTag[T]): Int = nodes.count(t.runtimeClass.isInstance)
    val exchanges = nodes.collect { case e: ShuffleExchangeExec =>
      e.outputPartitioning match {
        case _: HashPartitioning => "hash"
        case _: RangePartitioning => "range"
        case SinglePartition => "single"
        case _: RoundRobinPartitioning => "roundrobin"
        case other => sys.error(s"no ledger column for Exchange $other")
      }
    }
    val widths = nodes.collect {
      case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[ParquetFileFormat] =>
        s.requiredSchema.length
    }.sorted
    val counts = Seq(
      exchanges.count(_ == "hash"), exchanges.count(_ == "range"),
      exchanges.count(_ == "single"), exchanges.count(_ == "roundrobin"),
      n[BroadcastExchangeExec],
      n[BroadcastHashJoinExec], n[ShuffledHashJoinExec], n[SortMergeJoinExec],
      n[BroadcastNestedLoopJoinExec], n[CartesianProductExec],
      n[WindowExec], n[WindowGroupLimitExec], n[TakeOrderedAndProjectExec],
      nodes.count { case s: SortExec => s.global; case _ => false },
      n[ExpandExec], n[GenerateExec],
      nodes.map(_.expressions.map(_.collect { case u: ScalaUDF => u }.size).sum).sum,
      widths.size)
    Entry(qe.analyzed.schema, physical.toString,
      counts.map(_.toString) :+ (if (widths.isEmpty) "-" else widths.mkString(",")),
      globalWindow(qe.optimizedPlan),
      nodes.collect { case e: ShuffleExchangeExec => e.output.map(_.name) }.flatten.toSet)
  }

  /** Every physical node the plan's string form shows: children, the
    * plan inside an AQE wrapper or a query stage, subqueries and cached
    * relations.
    */
  private def planNodes(root: SparkPlan): Seq[SparkPlan] = {
    def walk(p: QueryPlan[_]): Seq[SparkPlan] = {
      val inner = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _ => p.innerChildren.collect { case q: QueryPlan[_] => q }
      }
      (p match { case s: SparkPlan => Seq(s); case _ => Nil }) ++
        (p.children ++ inner).flatMap { case q: QueryPlan[_] => walk(q) }
    }
    walk(root)
  }

  private def globalWindow(plan: LogicalPlan): Boolean = {
    def boundedBelow(p: LogicalPlan): Boolean = p.collectFirst {
      case _: GlobalLimit => true
      case _: LocalLimit => true
      case a: Aggregate if a.groupingExpressions.isEmpty => true
    }.isDefined
    plan.collectFirst {
      case w: LWindow if w.partitionSpec.isEmpty && !boundedBelow(w.child) => w
    }.isDefined
  }

  /** The ledger as TSV: a header, then one row per query in name order. */
  def render(rows: Map[String, Seq[String]]): String =
    (("query" +: Columns) +: rows.toSeq.sortBy(_._1).map { case (q, r) => q +: r })
      .map(_.mkString("\t")).mkString("", "\n", "\n")

  /** `render`'s output read back: the header's columns and the rows by query. */
  def parse(tsv: String): (Seq[String], Map[String, Seq[String]]) = {
    val lines = tsv.linesIterator.filter(_.nonEmpty).map(_.split("\t", -1).toSeq).toSeq
    (lines.head.tail, lines.tail.map(l => l.head -> l.tail).toMap)
  }

  /** One line per difference: a query on one side only, or a column
    * whose values differ.
    */
  def diff(file: Map[String, Seq[String]], built: Map[String, Seq[String]]): Seq[String] =
    (file.keySet ++ built.keySet).toSeq.sorted.flatMap { q =>
      (file.get(q), built.get(q)) match {
        case (None, _) => Seq(s"$q: query missing from PLANS.tsv")
        case (_, None) => Seq(s"$q: in PLANS.tsv but not a SparkEntry query")
        case (Some(f), Some(b)) => Columns.indices.collect {
          case i if f.lift(i) != b.lift(i) =>
            s"$q.${Columns(i)}: PLANS.tsv ${f.lift(i).getOrElse("(missing)")}, plan ${b(i)}"
        }
      }
    }

  /** The parts of a plan string that differ between two builds of the
    * same plan: expression ids, exchange `plan_id`s, object hashes,
    * lambda class ids, `_common_expr_N` aliases and the random suffix
    * of `TempDirs` directory names.
    */
  private val Volatile: Seq[(scala.util.matching.Regex, String)] = Seq(
    "#\\d+".r -> "#",
    "plan_id=\\d+".r -> "plan_id=",
    "\\$\\$Lambda[\\$/0-9a-fx]*".r -> "\\$\\$Lambda",
    "(?<=[\\w\\];$])@[0-9a-f]{4,}\\b".r -> "@",
    "_common_expr_\\d+".r -> "_common_expr_",
    "(/graft[-_][A-Za-z0-9_]*?)\\d{12,}".r -> "$1*")

  /** `plan` with every `Volatile` part replaced by a fixed token. */
  def normalize(plan: String): String =
    Volatile.foldLeft(plan) { case (s, (re, to)) => re.replaceAllIn(s, to) }

  /** Rewrites `PLANS.tsv` from a fresh pass; with `--plans <dir>`, writes
    * each query's normalized executed plan to `<dir>/<query>.txt`
    * instead, so two builds' plans can be compared with `diff -r`.
    */
  def main(args: Array[String]): Unit =
    try args match {
      case Array() =>
        Files.writeString(File, render(rows))
        println(s"wrote ${pass.size} rows to ${File.toAbsolutePath}")
      case Array("--plans", dir) =>
        val out = Files.createDirectories(Paths.get(dir))
        for ((q, e) <- pass) Files.writeString(out.resolve(s"$q.txt"), normalize(e.plan) + "\n")
        println(s"wrote ${pass.size} plans to ${out.toAbsolutePath}")
      case _ => sys.error("usage: PlanLedger [--plans <dir>]")
    } finally TestSpark.spark.stop()
}
