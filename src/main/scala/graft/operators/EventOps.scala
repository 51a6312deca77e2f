package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, TimestampType}

/** The reference's per-event operator inventory (SURVEY.md §2, O-7…O-23)
  * as pure `DataFrame => DataFrame` functions, composable with
  * `df.transform(...)`.
  *
  * Everything here is a plain `Column` expression, so Catalyst pushes
  * predicates to the source scan and keeps the whole chain inside one
  * WholeStageCodegen span — no UDFs, no driver round-trips. At 100 TB
  * this is the difference between a single scan stage and N of them.
  *
  * Reference citations (behavioral spec only, not code provenance):
  *  - membership / null-reject / range filters: event_reader.py:58-69
  *  - post-load whitelist + lifecycle filters: event_reader.py:18-22
  *  - enum remap: event_reader.py:11-16
  *  - null fills (filter-before-fill ordering quirk!): event_reader.py:34-43
  *  - rename to XES names: event_reader.py:74-75
  *  - JSON widening: event_reader.py:119-126
  */
object EventOps {

  // ---- O-7: set-membership filter (pushed to the scan) ------------------
  def resourceFilter(col: String, ids: Seq[Any]): DataFrame => DataFrame =
    df => if (ids.isEmpty) df else df.filter(df(col).isin(ids: _*))

  // ---- O-8: null rejection ----------------------------------------------
  def nullReject(col: String): DataFrame => DataFrame =
    df => df.filter(df(col).isNotNull)

  // ---- O-9/O-10: negated equality (null-rejecting, like SQL `!=`) --------
  def excludeValue(col: String, value: String): DataFrame => DataFrame =
    df => df.filter(df(col) =!= value)

  // ---- O-11: optional timestamp range ------------------------------------
  def dateRange(col: String, start: Option[String], end: Option[String]): DataFrame => DataFrame = { df =>
    val c = df(col)
    val withStart = start.fold(df)(s => df.filter(c >= to_timestamp(lit(s))))
    end.fold(withStart)(e => withStart.filter(c <= to_timestamp(lit(e))))
  }

  // ---- O-12: disjunctive whitelist (post-load, stronger than O-9) ---------
  def whitelist(col: String, values: Seq[String]): DataFrame => DataFrame =
    df => df.filter(df(col).isin(values: _*))

  // ---- O-13: equality filter (runs BEFORE null-fill — SURVEY §2.8.6) ------
  def equalityFilter(col: String, value: String): DataFrame => DataFrame =
    df => df.filter(df(col) === value)

  // ---- O-16: projection + rename to XES attribute names -------------------
  val XesRenames: Map[String, String] = Map(
    "CASE_ID" -> "case:concept:name",
    "ACTIVITY_NAME" -> "concept:name",
    "TIME_STAMP" -> "time:timestamp",
    "LIFECYCLE_PHASE" -> "lifecycle:transition")

  def rename(renames: Map[String, String]): DataFrame => DataFrame = { df =>
    renames.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
  }

  // ---- O-17: enum value remap (exact-match decode) -------------------------
  /** Chained `when` — stays in codegen; a broadcast-join remap is only
    * warranted when the mapping itself is data (thousands of entries).
    */
  def remapValues(col: String, mapping: Map[String, String]): DataFrame => DataFrame = { df =>
    val c = df(col)
    val remapped = mapping.foldLeft(Option.empty[Column]) {
      case (acc, (from, to)) =>
        Some(acc.fold(when(c === from, to))(_.when(c === from, to)))
    }.fold(c)(_.otherwise(c))
    df.withColumn(col, remapped)
  }

  // ---- O-18: timestamp cast (idempotent) -----------------------------------
  def castTimestamp(col: String): DataFrame => DataFrame = { df =>
    df.schema(col).dataType match {
      case TimestampType => df
      case _             => df.withColumn(col, to_timestamp(df(col)))
    }
  }

  // ---- O-19: per-column null fill, guarded by column existence -------------
  /** String/boolean defaults in one `na.fill` pass; the fill map is applied
    * only to columns that exist (the reference guards each fill with a
    * membership check, event_reader.py:34-43).
    */
  def fillDefaults(stringFills: Map[String, String], boolFills: Map[String, Boolean]): DataFrame => DataFrame = { df =>
    val presentS = stringFills.filter { case (k, _) => df.columns.contains(k) }
    val presentB = boolFills.filter { case (k, _) => df.columns.contains(k) }
    val afterS = if (presentS.isEmpty) df else df.na.fill(presentS)
    presentB.foldLeft(afterS) { case (d, (k, v)) =>
      d.withColumn(k, coalesce(d(k), lit(v)))
    }
  }

  // ---- O-20: JSON widening (REMARKS → top-level columns) --------------------
  /** Declared-schema fast path: one `from_json` + star-expansion, fully
    * codegen'd, no extra jobs. This is the 100 TB path.
    */
  def flattenJson(col: String, schema: org.apache.spark.sql.types.StructType): DataFrame => DataFrame = { df =>
    df.withColumn("__r", from_json(df(col), schema))
      .select(df.columns.map(org.apache.spark.sql.functions.col) :+ org.apache.spark.sql.functions.col("__r.*"): _*)
      .drop("__r")
  }

  /** Dynamic-inference path mirroring the reference's "promote every key"
    * (event_reader.py:119-126): one extra pass over the JSON column to
    * infer the union schema, then the same single-pass widening. Opt-in —
    * the inference job is an O(N) cost you pay knowingly.
    */
  def flattenJsonInferred(col: String): DataFrame => DataFrame = { df =>
    import df.sparkSession.implicits._
    val inferred = df.sparkSession.read
      .json(df.select(df(col)).na.drop().as[String])
      .schema
    flattenJson(col, inferred)(df)
  }
}
