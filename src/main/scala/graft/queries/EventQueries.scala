package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.analytics.{Cohort, Dfg, Funnel, Privacy, SeqExamples, Social, Timeline, Variants}
import graft.api.EventLogGenerator
import graft.operators.{EventOps, Sessionize}

/** SURVEY.md §2 operator inventory realized over the driver's `events`
  * table (the EVENTLOG analogue — TESTDATA.md / FIXTURES.md §B), each
  * paired with the exact DuckDB SQL the driver uses as oracle.
  *
  * Determinism rules used throughout (both engines must agree bit-wise
  * after the driver's canonical sort+hash):
  *  - every window/sequence ordering carries the `event_id` tie-break;
  *  - no double-precision SUMs: sums go through DECIMAL and are cast
  *    back to DOUBLE at the end (addition order then cannot matter);
  *  - aggregate output types are pinned (BIGINT counts, INT json field)
  *    because DuckDB's SUM(int) would otherwise widen to HUGEINT.
  */
object EventQueries {

  private val MemberIds = Seq(1L, 2L, 3L, 5L, 8L, 13L, 21L, 34L)

  /** Session derivation shared by the process-mining queries: 30-minute
    * gap sessionization per user (FIXTURES.md maps this onto CASE_ID).
    */
  private def sessions(df: DataFrame): DataFrame =
    df.transform(Sessionize.byGap("user_id", "ts", "event_id", 30))

  /** The same derivation as DuckDB CTEs. */
  private val SessionsCte =
    """WITH gaps AS (
      |  SELECT *, CASE WHEN date_diff('second',
      |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
      |    THEN 1 ELSE 0 END AS is_new
      |  FROM events
      |), s AS (
      |  SELECT *, CAST(user_id AS VARCHAR) || '-' ||
      |      CAST(CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS VARCHAR) AS session_id
      |  FROM gaps
      |)""".stripMargin

  /** Derived lifecycle column (the events table has no LIFECYCLE_PHASE;
    * `value < 5` plays the role of 'start' rows).
    */
  private def withLifecycle(df: DataFrame): DataFrame =
    df.withColumn("lifecycle",
      when(col("value") < 5, "start").otherwise("complete"))

  /** EVENTLOG-shaped projection of `events` (the reference's 8-column
    * schema, SURVEY §1.2) so the flagship `EventLogGenerator.generate`
    * API itself is exercised by the oracle gate. Deterministic value
    * derivations chosen to hit every code path: NULL CASE_IDs (null
    * rejection O-8), the raw SERVICE_CUSTOM_MESSAGE_* enum (remap O-17 +
    * whitelist O-12), and a start/NULL/complete lifecycle mix (the
    * filter-before-fill ordering quirk, SURVEY §2.8.6).
    */
  def asEventlog(df: DataFrame): DataFrame = df.select(
    when(col("event_type") === "click", "SERVICE_CUSTOM_MESSAGE_1")
      .when(col("event_type") === "view", "SERVICE_CUSTOM_MESSAGE_2")
      .when(col("event_type") === "purchase", "SERVICE_CUSTOM_MESSAGE_3")
      .otherwise(col("event_type")).as("EVENT_TYPE"),
    when(col("event_type") === "signup", lit(null).cast("string"))
      .otherwise(concat_ws("-", col("user_id"), date_format(col("ts"), "yyyyMMdd")))
      .as("CASE_ID"),
    col("event_type").as("ACTIVITY_NAME"),
    col("ts").as("TIME_STAMP"),
    when(col("value") < 3, "start")
      .when(col("value") < 6, lit(null).cast("string"))
      .otherwise("complete").as("LIFECYCLE_PHASE"),
    col("user_id").cast("string").as("RESOURCE"),
    lit("user").as("RESOURCE_TYPE"),
    col("props").as("REMARKS"),
    col("event_id"))

  /** The same EVENTLOG shaping as a DuckDB CTE. */
  private val EventlogCte =
    """WITH el AS (
      |  SELECT
      |    CASE event_type WHEN 'click' THEN 'SERVICE_CUSTOM_MESSAGE_1'
      |                    WHEN 'view' THEN 'SERVICE_CUSTOM_MESSAGE_2'
      |                    WHEN 'purchase' THEN 'SERVICE_CUSTOM_MESSAGE_3'
      |                    ELSE event_type END AS "EVENT_TYPE",
      |    CASE WHEN event_type = 'signup' THEN NULL
      |         ELSE CAST(user_id AS VARCHAR) || '-' || strftime(ts, '%Y%m%d') END AS "CASE_ID",
      |    event_type AS "ACTIVITY_NAME",
      |    ts AS "TIME_STAMP",
      |    CASE WHEN value < 3 THEN 'start' WHEN value < 6 THEN NULL
      |         ELSE 'complete' END AS "LIFECYCLE_PHASE",
      |    CAST(user_id AS VARCHAR) AS "RESOURCE",
      |    props AS "REMARKS",
      |    event_id
      |  FROM events
      |)""".stripMargin

  private def memberIdStrings = MemberIds.map(id => s"'$id'").mkString(", ")

  private val GenerateParams = EventLogGenerator.Params(
    resourceIds = MemberIds.map(_.toString),
    startDate = Some("2024-01-05 00:00:00"),
    endDate = None,
    includeBotMessages = false,
    includeLifecycleStart = false,
    deserializeRemarks = true)

  private val RemapSpark = Map(
    "click" -> "USER_MESSAGE", "view" -> "BOT_MESSAGE", "purchase" -> "SERVICE_REQUEST")
  private val RemapSql =
    """CASE WHEN event_type = 'click' THEN 'USER_MESSAGE'
      |     WHEN event_type = 'view' THEN 'BOT_MESSAGE'
      |     WHEN event_type = 'purchase' THEN 'SERVICE_REQUEST'
      |     ELSE event_type END""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // O-7: membership filter, pushed to the parquet scan.
    "q_filter_membership" -> ((s, dir) =>
      Tables.events(s, dir)
        .transform(EventOps.resourceFilter("user_id", MemberIds))
        .select(col("event_id"), col("user_id"), col("event_type"))),

    // O-8: null rejection.
    "q_filter_null_reject" -> ((s, dir) =>
      Tables.events(s, dir)
        .transform(EventOps.nullReject("props"))
        .select(col("event_id"), col("props"))),

    // O-9: negated equality (null-rejecting `!=`).
    "q_filter_neg_eq" -> ((s, dir) =>
      Tables.events(s, dir)
        .transform(EventOps.excludeValue("event_type", "error"))
        .select(col("event_id"), col("event_type"))),

    // O-10/O-13: lifecycle exclusion then equality, on the derived column.
    "q_filter_lifecycle" -> ((s, dir) =>
      withLifecycle(Tables.events(s, dir))
        .transform(EventOps.excludeValue("lifecycle", "start"))
        .transform(EventOps.equalityFilter("lifecycle", "complete"))
        .select(col("event_id"), col("lifecycle"), col("value"))),

    // O-11: timestamp range.
    "q_filter_range" -> ((s, dir) =>
      Tables.events(s, dir)
        .transform(EventOps.dateRange("ts", Some("2024-01-10 00:00:00"), Some("2024-01-20 00:00:00")))
        .select(col("event_id"), col("ts"))),

    // O-12: disjunctive whitelist.
    "q_filter_whitelist" -> ((s, dir) =>
      Tables.events(s, dir)
        .transform(EventOps.whitelist("event_type", Seq("view", "purchase")))
        .select(col("event_id"), col("event_type"))),

    // O-16: projection + rename.
    "q_project_rename" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id").as("resource"),
          col("event_type").as("concept_name"), col("ts").as("time_timestamp"))),

    // O-17: enum value remap.
    "q_enum_remap" -> ((s, dir) =>
      Tables.events(s, dir)
        .transform(EventOps.remapValues("event_type", RemapSpark))
        .groupBy("event_type").agg(count(lit(1)).as("n"))),

    // O-18: timestamp transform (truncation).
    "q_ts_trunc" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("ts_hour"))
        .agg(count(lit(1)).as("n"))),

    // O-19: null fill over a derived nullable column.
    "q_null_fill" -> ((s, dir) => {
      val k = get_json_object(col("props"), "$.k").cast("int")
      Tables.events(s, dir)
        .withColumn("k_nullable", when(k > 50, lit(null)).otherwise(k))
        .na.fill(Map("k_nullable" -> -1))
        .select(col("event_id"), col("k_nullable"))
    }),

    // O-20: JSON widening of props.
    "q_json_flatten" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy("k").agg(count(lit(1)).as("n"))),

    // O-2: JSON-path scan — project one JSON field, filter on it.
    // json_tuple (a Generator) parses the JSON exactly once; a plain
    // get_json_object in both filter and projection is evaluated twice
    // per surviving row because predicate pushdown re-substitutes the
    // expression below the Project (VERDICT r2 #5 — verified with
    // explain("formatted"): one json_tuple, one codegen span).
    "q_json_path_scan" -> ((s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"), json_tuple(col("props"), "k").as("k0"))
        .select(col("event_id"), col("k0").cast("int").as("k"))
        .filter(col("k") > 90)),

    // O-21: date formatting.
    "q_date_format" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n"))),

    // O-23: min/max bounds.
    "q_minmax_bounds" -> ((s, dir) =>
      Tables.events(s, dir)
        .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"))),

    // O-28: emptiness probe as a count.
    "q_empty_probe" -> ((s, dir) =>
      Tables.events(s, dir)
        .filter(col("event_type") === "nonexistent")
        .agg(count(lit(1)).as("n"))),

    // Sessionization (CASE_ID derivation) + per-session stats.
    "q_sessionize" -> ((s, dir) =>
      sessions(Tables.events(s, dir))
        .groupBy("session_id")
        .agg(
          first(col("user_id")).as("user_id"),
          count(lit(1)).as("n_events"),
          (max(col("ts")).cast("long") - min(col("ts")).cast("long")).as("duration_sec"))),

    // O-26: directly-follows graph over sessions.
    "q_dfg" -> ((s, dir) =>
      Dfg.edges(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id")),

    // Start/end activity frequencies (process-discovery input).
    "q_dfg_endpoints" -> ((s, dir) =>
      Dfg.startEndCounts(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id")),

    // XES round-trip (O-4's inverse): project events to an XES-shaped
    // frame, render through the REAL single-file writer, parse back
    // through XesReader.read (the `xes` DataSource V2 scan, the one read
    // path), and return the parsed rows. The oracle is the
    // same projection straight off the table — lossless round-trip is
    // the claim (timestamps truncated to seconds: the XES date format
    // carries millisecond precision, the fixture carries micros).
    "q_xes_roundtrip" -> ((s, dir) => {
      import graft.xes.{XesReader, XesWriter}
      val src = Tables.events(s, dir).select(
        col("user_id").cast("string").as(XesWriter.DefaultCaseCol),
        date_trunc("second", col("ts")).as(XesWriter.DefaultTsCol),
        col("event_type").as("concept:name"),
        col("event_id"),
        col("value"))
      val tmp = TempDirs.create("graft-xesrt")
      val file = tmp.resolve("log.xes")
      XesWriter.write(src, file, tieCols = Seq("event_id"))
      XesReader.read(s, file.toString).select(
        col(XesWriter.DefaultCaseCol), col(XesWriter.DefaultTsCol),
        col("concept:name"), col("event_id"), col("value"))
    }),

    // Same round-trip, read with `spark.read.format("xes")` directly:
    // the same scan as q_xes_roundtrip, entered through the DataFrame
    // reader, proven equal to the raw table by the shared oracle.
    "q_xes_dsv2" -> ((s, dir) => {
      import graft.xes.XesWriter
      val src = Tables.events(s, dir).select(
        col("user_id").cast("string").as(XesWriter.DefaultCaseCol),
        date_trunc("second", col("ts")).as(XesWriter.DefaultTsCol),
        col("event_type").as("concept:name"),
        col("event_id"),
        col("value"))
      val tmp = TempDirs.create("graft-xesv2")
      val file = tmp.resolve("log.xes")
      XesWriter.write(src, file, tieCols = Seq("event_id"))
      s.read.format("xes").load(file.toString).select(
        col(XesWriter.DefaultCaseCol), col(XesWriter.DefaultTsCol),
        col("concept:name"), col("event_id"), col("value"))
    }),

    // Inductive process discovery (the reference notebook's actual
    // pm4py.discover_petri_net_inductive call): DFG + endpoints are
    // computed distributed, the |activities|²-bounded edge list comes
    // to the driver, and the IMD cut recursion emits the process tree
    // as preorder rows. Tree discovery is not SQL-expressible →
    // rows-only driver check; the algorithm itself is gated in
    // InductiveSpec (textbook logs, fitness replay).
    "q_inductive_tree" -> ((s, dir) => {
      import graft.analytics.Inductive
      val base = sessions(Tables.events(s, dir))
      val edges = Dfg.edges(base, "session_id", "event_type", "ts", "event_id")
        .select("activity", "next_activity").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val se = Dfg.startEndCounts(base, "session_id", "event_type", "ts", "event_id")
        .select("activity", "position").collect()
      val starts = se.collect { case r if r.getString(1) == "start" => r.getString(0) }.toSet
      val ends = se.collect { case r if r.getString(1) == "end" => r.getString(0) }.toSet
      val tree = Inductive.mine(edges, starts, ends)
      // preorder flatten: (node_id, parent_id, kind, activity)
      val rows = Seq.newBuilder[(Int, Int, String, String)]
      var n = 0
      def walk(t: Inductive.Tree, parent: Int): Unit = {
        val id = n; n += 1
        t match {
          case Inductive.Leaf(a) => rows += ((id, parent, "leaf", a))
          case Inductive.Silent => rows += ((id, parent, "tau", null))
          case Inductive.Sequence(cs) =>
            rows += ((id, parent, "seq", null)); cs.foreach(walk(_, id))
          case Inductive.Xor(cs) =>
            rows += ((id, parent, "xor", null)); cs.foreach(walk(_, id))
          case Inductive.And(cs) =>
            rows += ((id, parent, "and", null)); cs.foreach(walk(_, id))
          case Inductive.Loop(b, r) =>
            rows += ((id, parent, "loop", null)); walk(b, id); walk(r, id)
        }
      }
      walk(tree, -1)
      import s.implicits._
      rows.result().toDF("node_id", "parent_id", "kind", "activity")
    }),

    // Token-based replay fitness against the mined inductive net: one
    // replay per DISTINCT variant (the standard optimization), the
    // compiled kernel walking each variant with produced/consumed/
    // missing/remaining token counts — graded conformance where
    // q_conformance's footprint check is binary per pair.
    "q_token_replay" -> ((s, dir) => {
      import graft.analytics.{Inductive, Replay}
      val base = sessions(Tables.events(s, dir))
      val edges = Dfg.edges(base, "session_id", "event_type", "ts", "event_id")
        .select("activity", "next_activity").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val se = Dfg.startEndCounts(base, "session_id", "event_type", "ts", "event_id")
        .select("activity", "position").collect()
      val starts = se.collect { case r if r.getString(1) == "start" => r.getString(0) }.toSet
      val ends = se.collect { case r if r.getString(1) == "end" => r.getString(0) }.toSet
      val net = Inductive.toPetriNet(Inductive.mine(edges, starts, ends))
      Replay.tokenReplay(base, "session_id", "event_type", "ts", "event_id", net)
    }),

    // Optimal A*/Dijkstra alignments per variant against the mined
    // net — the exact conformance metric above token replay; cost 0
    // ⟺ accepts, spec-gated. Rows-only by design (search kernel).
    "q_alignments" -> ((s, dir) => {
      import graft.analytics.{Inductive, Replay}
      // r19: the sessionize window re-derived for every pass (edges
      // collect, start/end collect, the alignment variants) — one
      // eager checkpoint feeds all three (guide §5; measured on the
      // model_quality sibling: 3.45 -> 2.24 s same-JVM min-of-3,
      // exceptAll-equal).
      val base = sessions(Tables.events(s, dir)).localCheckpoint()
      val edges = Dfg.edges(base, "session_id", "event_type", "ts", "event_id")
        .select("activity", "next_activity").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val se = Dfg.startEndCounts(base, "session_id", "event_type", "ts", "event_id")
        .select("activity", "position").collect()
      val starts = se.collect { case r if r.getString(1) == "start" => r.getString(0) }.toSet
      val ends = se.collect { case r if r.getString(1) == "end" => r.getString(0) }.toSet
      val net = Inductive.toPetriNet(Inductive.mine(edges, starts, ends))
      Replay.alignments(base, "session_id", "event_type", "ts", "event_id", net)
    }),

    // The four-quadrant model-quality report: alignment fitness,
    // model-side DF precision, token generalization, arc-degree
    // simplicity — one row. Rows-only by design.
    "q_model_quality" -> ((s, dir) => {
      import graft.analytics.{Inductive, ModelQuality}
      // r19: FIVE passes read this frame (edges + start/end collects
      // here, then alignments, a second Dfg.edges and the activity
      // counts inside report) — each re-ran the sessionize window.
      // One eager checkpoint: 3.45 -> 2.24 / 3.67 -> 1.54 s in two
      // same-JVM min-of-3 windows, exceptAll-equal (guide §5).
      val base = sessions(Tables.events(s, dir)).localCheckpoint()
      val edges = Dfg.edges(base, "session_id", "event_type", "ts", "event_id")
        .select("activity", "next_activity").collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      val se = Dfg.startEndCounts(base, "session_id", "event_type", "ts", "event_id")
        .select("activity", "position").collect()
      val starts = se.collect { case r if r.getString(1) == "start" => r.getString(0) }.toSet
      val ends = se.collect { case r if r.getString(1) == "end" => r.getString(0) }.toSet
      val net = Inductive.toPetriNet(Inductive.mine(edges, starts, ends))
      ModelQuality.report(base, "session_id", "event_type", "ts", "event_id", net)
    }),

    // O-27: trace variants.
    "q_variants" -> ((s, dir) =>
      Variants.counts(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id")),

    // Alpha-miner footprint relations over the DFG (the discovery
    // input the reference notebook obtains via pm4py).
    "q_footprint" -> ((s, dir) =>
      Dfg.footprint(Dfg.edges(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id"))),

    // Flagship: the full generate_eventlog-equivalent pipeline
    // (filters → sessionize → remap → whitelist → JSON widening → select).
    "q_eventlog_pipeline" -> ((s, dir) =>
      sessions(
        Tables.events(s, dir)
          .transform(EventOps.resourceFilter("user_id", MemberIds))
          .transform(EventOps.dateRange("ts", Some("2024-01-05 00:00:00"), None)))
        .transform(EventOps.remapValues("event_type", RemapSpark))
        .transform(EventOps.whitelist("event_type", Seq("USER_MESSAGE", "SERVICE_REQUEST")))
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .select(
          col("session_id").as("case_id"),
          col("event_type"),
          col("ts").as("event_ts"),
          col("user_id").as("resource"),
          col("k"))),

    // The flagship library API itself (VERDICT r1 #5): generate() on the
    // EVENTLOG-shaped events, default flags — scan-side filters, rename,
    // remap, whitelist, lifecycle equality BEFORE fill, JSON widening
    // with the declared REMARKS superset schema (O-20, the real
    // flattenJson), then fills.
    "q_generate_api" -> ((s, dir) =>
      EventLogGenerator.generate(asEventlog(Tables.events(s, dir)), GenerateParams)
        .select(col("event_id"), col("EVENT_TYPE"), col("`case:concept:name`"),
          col("`concept:name`"), col("`time:timestamp`"),
          col("`lifecycle:transition`"), col("RESOURCE"),
          col("user"), col("serviceEndpoint"), col("`in-service-context`"))),

    // Schema-INFERENCE variant of the REMARKS widening (O-20's second
    // sub-path, the reference's deserialize_remarks=True default:
    // promote EVERY key that appears in the data). The fixture's
    // REMARKS carry the key `k` — which is NOT in the declared
    // RemarksSchema — so this query widens to a column the fast path
    // never produces, and the guarded fills skip their absent targets:
    // exactly what a user with unlisted REMARKS keys hits first.
    "q_generate_infer" -> ((s, dir) =>
      EventLogGenerator.generate(asEventlog(Tables.events(s, dir)), GenerateParams,
          inferRemarksSchema = true)
        .select(col("event_id"), col("EVENT_TYPE"), col("`case:concept:name`"),
          col("`concept:name`"), col("`time:timestamp`"),
          col("`lifecycle:transition`"), col("RESOURCE"), col("k"))),

    // includeLifecycleStart=true variant: no lifecycle filters run, so
    // NULL-lifecycle rows SURVIVE and are filled 'complete', and 'start'
    // rows pass through — pinning SURVEY §2.8.6's ordering quirk in the
    // oracle (in the flags-false twin above those NULL rows are dropped).
    "q_generate_lifecycle" -> ((s, dir) =>
      EventLogGenerator.generate(asEventlog(Tables.events(s, dir)),
          GenerateParams.copy(includeLifecycleStart = true, includeBotMessages = true))
        .select(col("event_id"), col("EVENT_TYPE"), col("`case:concept:name`"),
          col("`lifecycle:transition`"), col("user"), col("`in-service-context`"))),

    // XES trace assembly (O-24): the exact per-case chronological event
    // sequence the XES sink renders, as an oracle-checkable aggregation.
    "q_xes_traces" -> ((s, dir) => {
      val log = EventLogGenerator.generate(asEventlog(Tables.events(s, dir)), GenerateParams)
      log.groupBy(col("`case:concept:name`").as("case_id"))
        .agg(
          array_join(
            transform(
              array_sort(collect_list(struct(col("`time:timestamp`"),
                col("event_id"), col("`concept:name`")))),
              e => e("concept:name")),
            "->").as("trace_events"),
          min(col("`time:timestamp`")).as("trace_start"),
          max(col("`time:timestamp`")).as("trace_end"),
          count(lit(1)).as("n_events"))
    }),

    // O-4/O-24/O-25 execution gate: the REAL XES renderer. Runs
    // XesWriter.traceXml (repartition-by-case + sortWithinPartitions +
    // the run-grouping mapPartitions XML iterator), then parses the
    // emitted XML back with xpath — so escaping, attribute typing and
    // per-trace chronological order are all on the oracle's hook, not
    // re-derived as an aggregation the way q_xes_traces does.
    "q_xes_render" -> ((s, dir) => {
      val log = EventLogGenerator.generate(asEventlog(Tables.events(s, dir)), GenerateParams)
      graft.xes.XesWriter.traceXml(log, tieCols = Seq("event_id"))
        .toDF("case_id", "xml")
        .select(
          col("case_id"),
          expr("xpath_long(xml, 'count(/trace/event)')").as("n_events"),
          expr("""xpath_string(xml, '/trace/event[1]/string[@key="concept:name"]/@value')""")
            .as("first_activity"),
          expr("""xpath_string(xml, '/trace/event[last()]/date[@key="time:timestamp"]/@value')""")
            .as("last_ts_rendered"))
    }),

    // Performance DFG: waiting-time statistics on the discovery
    // graph's edges — exact order statistics, the pm4py companion view.
    "q_dfg_perf" -> ((s, dir) =>
      Dfg.performanceEdges(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id")),

    // Burst profile: per-user peak events in any trailing 60 s window
    // — the automation screen for a bot event log.
    "q_burst" -> ((s, dir) =>
      Cohort.burstProfile(Tables.events(s, dir), "user_id", "ts",
        windowSec = 60L, threshold = 5L)),

    // Variant performance: throughput-time KPIs per activity sequence;
    // median/p90 are exact lower order statistics, never interpolated.
    "q_variant_perf" -> ((s, dir) =>
      Variants.performance(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id")),

    // Rolling actives: DAU/WAU/MAU + stickiness per day off the
    // distinct (user, day) table; ×28 explode on the collapsed table.
    "q_rolling_actives" -> ((s, dir) =>
      Cohort.rollingActives(Tables.events(s, dir), "user_id", "ts")),

    // Markov simulation: synthetic traces walked from the discovered
    // transition matrix — deterministic LCG draws, broadcast matrix,
    // one tiny frontier join per step.
    "q_markov_sim" -> ((s, dir) =>
      graft.analytics.Simulate.markovTraces(
        Dfg.transitionMatrix(sessions(Tables.events(s, dir)),
          "session_id", "event_type", "ts", "event_id"),
        nTraces = 100, maxLen = 20, seed = 1L)),

    // Order-2 Markov: bigram states with __START__ padding and the
    // terminal → __END__ transition — the higher-order process model.
    "q_markov2" -> ((s, dir) =>
      Dfg.ngramTransitions(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id", order = 2)),

    // First-order Markov transition model over sessions: DFG +
    // __START__/__END__ pseudo-states + exact integer row
    // probabilities — the generative next-event baseline.
    "q_markov" -> ((s, dir) =>
      Dfg.transitionMatrix(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id")),

    // Conversion attribution: per purchase, the session's first-touch
    // and the nearest strictly-preceding non-purchase touch ('direct'
    // when none) — exact counts over the one session window.
    "q_attribution" -> ((s, dir) =>
      Funnel.attribution(sessions(Tables.events(s, dir)), "session_id",
        "event_type", "ts", "event_id", "purchase")),

    // Position-based (U-shaped) multi-touch attribution: each case's
    // first purchase spreads exactly 1e6 credit micro-units 40/20/40
    // over its preceding touches; touchless conversions credit
    // 'direct'. One scan, one case Exchange.
    "q_multitouch" -> ((s, dir) =>
      Funnel.multiTouch(sessions(Tables.events(s, dir)), "session_id",
        "event_type", "ts", "event_id", "purchase")),

    // Weekday × hour seasonality heat-map per event type with exact
    // micro-unit shares and deterministic peak flags.
    "q_seasonality" -> ((s, dir) =>
      Timeline.seasonality(Tables.events(s, dir), "event_type", "ts")),

    // RFM customer-value features: quintile scores against broadcast
    // exact-percentile boundaries — never a global ntile sort.
    "q_rfm" -> ((s, dir) =>
      Cohort.rfm(Tables.events(s, dir), "user_id", "ts", "value")),

    // Seasonal-naive forecast backtest on the densified daily volume:
    // lag-7 prediction vs the lag-1 persistence baseline, exact
    // integer errors.
    "q_seasonal_naive" -> ((s, dir) =>
      Timeline.seasonalNaiveBacktest(Tables.events(s, dir), "ts")),

    // Automation screen: burst peak + median-gap + monotony evidence
    // flags summed per user — every user emitted with their flags.
    "q_automation_screen" -> ((s, dir) =>
      Cohort.automationScreen(Tables.events(s, dir), "user_id",
        "event_type", "ts", "event_id")),

    // DFG concept drift: the directly-follows distribution of the
    // EARLY sessions vs the LATE ones (whole sessions assigned by
    // their first event against the exact midpoint of the log's
    // epoch-micros range), per-edge share deltas + the total-variation
    // headline, all in exact integer micro-units.
    "q_dfg_drift" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sess = sessions(Tables.events(s, dir))
      val bounds = sess.agg(
        min(unix_micros(col("ts"))).as("__t0"),
        max(unix_micros(col("ts"))).as("__t1"))
      val tagged = sess.crossJoin(broadcast(bounds))
        .withColumn("__mid", expr("(__t0 + __t1) div 2"))
        .withColumn("__st", min(unix_micros(col("ts")))
          .over(Window.partitionBy(col("session_id"))))
      Dfg.dfgDrift(
        tagged.filter(col("__st") < col("__mid")),
        tagged.filter(col("__st") >= col("__mid")),
        "session_id", "event_type", "ts", "event_id")
    }),

    // Heuristics-miner dependency graph: signed dependency, L1-loop
    // and L2-loop measures in exact micro-units over the session DFG.
    "q_heuristic_deps" -> ((s, dir) =>
      Dfg.heuristicDependencies(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id")),

    // DFG escaping-edges precision: the early-half model (support >= 5)
    // evaluated on the late-half log — the graded companion to the
    // binary footprint conformance check and the drift report.
    "q_dfg_precision" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sess = sessions(Tables.events(s, dir))
      val bounds = sess.agg(
        min(unix_micros(col("ts"))).as("__t0"),
        max(unix_micros(col("ts"))).as("__t1"))
      val tagged = sess.crossJoin(broadcast(bounds))
        .withColumn("__mid", expr("(__t0 + __t1) div 2"))
        .withColumn("__st", min(unix_micros(col("ts")))
          .over(Window.partitionBy(col("session_id"))))
      Dfg.dfgPrecision(
        tagged.filter(col("__st") < col("__mid")),
        tagged.filter(col("__st") >= col("__mid")),
        "session_id", "event_type", "ts", "event_id", minSupport = 5L)
    }),

    // Daily-volume OLS trend: one-row slope/intercept/r² in exact
    // integer micro-units on the densified calendar.
    "q_trend" -> ((s, dir) =>
      Timeline.volumeTrend(Tables.events(s, dir), "ts")),

    // Mann-Kendall S / Kendall tau + Theil-Sen median slope — the
    // robust non-parametric sibling of q_trend, exact integers plus
    // one IEEE division per pair.
    "q_pairwise_trend" -> ((s, dir) =>
      Timeline.pairwiseTrend(Tables.events(s, dir), "ts")),

    // Gini concentration of per-user activity via the value-histogram
    // identity — no global user rank anywhere.
    "q_gini" -> ((s, dir) =>
      Cohort.gini(Tables.events(s, dir), "user_id")),

    // ε-DP per-user count release (Laplace mechanism, deterministic
    // seeded noise) — the aggregate-protection half of the privacy
    // family next to q_log_anonymize. Rows-only by design.
    "q_dp_counts" -> ((s, dir) =>
      Privacy.dpCounts(Tables.events(s, dir), "user_id",
        epsilonMicro = 1000000L, seed = 42L)),

    // Lifecycle start/complete pairing into activity instances (the
    // pm4py interval-log conversion) — every mismatch surfaces loud.
    "q_lifecycle_intervals" -> ((s, dir) =>
      graft.analytics.Lifecycle.intervals(
        withLifecycle(sessions(Tables.events(s, dir))),
        "session_id", "event_type", "lifecycle", "ts", "event_id")),

    // SCD2 dimension build from the user's event-type change stream:
    // tiling validity intervals, no-op changes collapsed.
    "q_scd2" -> ((s, dir) =>
      graft.operators.Scd2.build(Tables.events(s, dir),
        "user_id", "ts", "event_id", "event_type")),

    // -- temporal integrity audit: the SCD2 tiling contract made
    //    executable, run on the build's own output (every key must
    //    tile) PLUS planted broken keys (gap, overlap, zero-width,
    //    double-open) so the counting paths are exercised, not just
    //    the all-green one ------------------------------------------
    "q_interval_audit" -> ((s, dir) => {
      val dim = graft.operators.Scd2.build(Tables.events(s, dir),
          "user_id", "ts", "event_id", "event_type")
        .select(col("key"), col("valid_from"), col("valid_to"))
      val planted = s.sql(
        """SELECT CAST(-1 AS BIGINT) AS key,
          |  CAST('2024-01-01 00:00:00' AS TIMESTAMP) AS valid_from,
          |  CAST('2024-01-01 01:00:00' AS TIMESTAMP) AS valid_to
          |UNION ALL SELECT -1, CAST('2024-01-01 02:00:00' AS TIMESTAMP),
          |  CAST('2024-01-01 03:00:00' AS TIMESTAMP)
          |UNION ALL SELECT -2, CAST('2024-01-01 00:00:00' AS TIMESTAMP),
          |  CAST('2024-01-01 02:00:00' AS TIMESTAMP)
          |UNION ALL SELECT -2, CAST('2024-01-01 01:00:00' AS TIMESTAMP),
          |  CAST('2024-01-01 03:00:00' AS TIMESTAMP)
          |UNION ALL SELECT -3, CAST('2024-01-01 00:00:00' AS TIMESTAMP),
          |  CAST('2024-01-01 00:00:00' AS TIMESTAMP)
          |UNION ALL SELECT -4, CAST('2024-01-01 00:00:00' AS TIMESTAMP),
          |  CAST(NULL AS TIMESTAMP)
          |UNION ALL SELECT -4, CAST('2024-01-01 01:00:00' AS TIMESTAMP),
          |  CAST(NULL AS TIMESTAMP)""".stripMargin)
      graft.operators.Scd2.intervalAudit(dim.unionByName(planted),
        "key", "valid_from", "valid_to")
    }),

    // Point-in-time join of the event facts against their own SCD2
    // dimension — the lakehouse consumption pattern for q_scd2.
    "q_pit_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = graft.operators.Scd2.build(ev, "user_id", "ts",
        "event_id", "event_type")
      graft.operators.Scd2.pitJoin(
          ev.select(col("user_id"), col("ts"), col("event_id")),
          dim, "user_id", "ts")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("version"), col("value"))
    }),

    // Quantile normalization: every event type's value distribution
    // remapped onto the purchase distribution — exact order-statistic
    // lookup against the reference's rank-span histogram.
    "q_quantile_norm" -> ((s, dir) =>
      graft.operators.Normalize.quantileNormalize(
        Tables.events(s, dir), "event_type", "value", "event_id",
        col("event_type") === "purchase")),

    // Waiting-time decomposition: the case-keyed sibling of
    // q_interarrival — per activity, the gap to the case predecessor
    // with exact order-statistic percentiles.
    "q_waiting_time" -> ((s, dir) =>
      Timeline.waitingTime(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id")),

    // Remaining-time backtest: per-activity mean remaining seconds
    // trained on even users, MAE on odd — the duration sibling of the
    // Markov backtest, exact integers end to end.
    "q_remaining_time" -> ((s, dir) => {
      val sess = sessions(Tables.events(s, dir))
      Dfg.backtestRemainingTime(
        sess.filter(col("user_id") % 2 === 0),
        sess.filter(col("user_id") % 2 === 1),
        "session_id", "event_type", "ts", "event_id")
    }),

    // Markov next-event BACKTEST: train the transition argmax on the
    // even-user_id sessions, score next-event predictions on the odd
    // half (grouped holdout — context never crosses users, so the
    // split is leakage-safe by construction). Exact integer hit
    // rates; unseen states surface via n_pred < n_test, loud.
    "q_markov_backtest" -> ((s, dir) => {
      val sess = sessions(Tables.events(s, dir))
      Dfg.backtestNextEvent(
        sess.filter(col("user_id") % 2 === 0),
        sess.filter(col("user_id") % 2 === 1),
        "session_id", "event_type", "ts", "event_id")
    }),

    // Footprint conformance: every session checked against the
    // frequent-edge model (n >= 5) of the SAME log — the
    // self-conformance report that surfaces rare deviating cases.
    "q_conformance" -> ((s, dir) => {
      val sess = sessions(Tables.events(s, dir))
      val model = Dfg.edges(sess, "session_id", "event_type", "ts", "event_id")
        .filter(col("n") >= 5L)
      Dfg.footprintConformance(sess, "session_id", "event_type", "ts",
        "event_id", model)
    }),

    // Conversion funnel: staged strict-ordering reach times (k chained
    // windows over ONE user shuffle), k-row report with exact integer
    // micro-unit step conversions.
    "q_funnel" -> ((s, dir) =>
      Funnel.funnel(Tables.events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"))),

    // Windowed funnel: same staged chain, every later step constrained
    // to land within 24 h of the user's FIRST entry (anchored BY
    // CONTRACT — see Funnel.stageTimes); exact interval arithmetic.
    "q_funnel_windowed" -> ((s, dir) =>
      Funnel.funnel(Tables.events(s, dir), "user_id", "event_type", "ts",
        Seq("view", "click", "purchase"), withinSec = Some(86400L))),

    // Cohort retention triangle: first-seen-day cohorts × day offsets;
    // output bounded by the calendar span squared, never corpus size.
    "q_cohort_retention" -> ((s, dir) =>
      Cohort.retention(Tables.events(s, dir), "user_id", "ts")),

    // Next-event training examples over sessions: bounded look-back
    // context (never all-prefixes), one shuffle on the session key.
    "q_seq_examples" -> ((s, dir) =>
      SeqExamples.nextEventExamples(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id", contextLen = 5)),

    // Eventually-follows graph: all ordered position pairs within a
    // session — quadratic in CASE LENGTH by contract (the relation is
    // defined over position pairs), bounded by the session gap.
    "q_efg" -> ((s, dir) =>
      Dfg.eventuallyFollows(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id")),

    // Activity rework report: per activity, cases with >1 occurrence
    // and the extra-occurrence mass — one (case, activity) shuffle.
    "q_rework" -> ((s, dir) =>
      Dfg.rework(sessions(Tables.events(s, dir)),
        "session_id", "event_type")),

    // Run-length episode compaction: consecutive same-type events per
    // user collapse to one row — both windows and the final aggregate
    // share ONE user-key Exchange.
    "q_episodes" -> ((s, dir) =>
      Timeline.episodes(Tables.events(s, dir), "user_id", "event_type",
        "ts", "event_id")),

    // Daily-volume CUSUM change-point: exact-integer control chart on
    // the densified calendar; corpus collapses to per-day counts first.
    "q_changepoint" -> ((s, dir) =>
      Timeline.volumeChangepoint(Tables.events(s, dir), "ts")),

    // Sequential patterns: contiguous activity k-grams (k=2,3) with
    // CASE support >= 5 — one lead-chain window pass, one distinct,
    // one partial-aggregated count.
    "q_seq_patterns" -> ((s, dir) =>
      Variants.seqPatterns(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id",
        maxK = 3, minSupport = 5L)),

    // Calendar densify + LOCF: per user one row per day from first
    // observation to the log's last day, latest value carried forward
    // (bit-exact — values are carried, never recomputed).
    "q_locf" -> ((s, dir) =>
      Timeline.densifyLocf(Tables.events(s, dir), "user_id", "value",
        "ts", "event_id")),

    // Association pairs over sessions: unordered item pairs with case
    // support, both confidences and lift in exact integer micro-units.
    "q_cooccurrence" -> ((s, dir) =>
      graft.analytics.Baskets.cooccurrence(sessions(Tables.events(s, dir)),
        "session_id", "event_type", minSupport = 5L)),

    // Handover-of-work social network: who passes work to whom within
    // a session — the resource-level DFG (resource = props.k mod 10),
    // self-loops kept so row sums reconcile with transition counts.
    "q_handover" -> ((s, dir) =>
      Social.handover(
        sessions(Tables.events(s, dir)).withColumn("res",
          get_json_object(col("props"), "$.k").cast("int") % 10),
        "session_id", "res", "ts", "event_id")),

    // Work-in-progress profile: open-session concurrency per boundary
    // day via the sweep-line (+1 start day, -1 day after end); the
    // corpus collapses to one span row per session before the tiny
    // calendar-bounded running sum.
    "q_wip" -> ((s, dir) =>
      Timeline.wipDaily(sessions(Tables.events(s, dir)), "session_id", "ts")),

    // Inter-arrival gap statistics by action type: time since the
    // user's previous event, exact integer-rank p50/p90/p99.
    "q_interarrival" -> ((s, dir) =>
      Timeline.interarrival(Tables.events(s, dir), "user_id", "event_type",
        "ts", "event_id")),

    // Conversion path analysis: the ≤3-step tails leading into the
    // first purchase, with the direct pseudo-path; linear by bounded
    // depth.
    "q_funnel_paths" -> ((s, dir) =>
      Funnel.conversionPaths(sessions(Tables.events(s, dir)), "session_id",
        "event_type", "ts", "event_id", "purchase", depth = 3)),

    // One-row process health report — the event-side capstone
    // mirroring q_corpus_report; every number an exact integer.
    "q_process_report" -> ((s, dir) =>
      Funnel.processReport(sessions(Tables.events(s, dir)), "session_id",
        "user_id", "event_type", "ts", "event_id", "purchase")),

    // DFG simplification slider: rank edges by mass, keep the head
    // covering 80% of transitions — every edge emitted with its
    // cumulative share and verdict.
    "q_dfg_simplify" -> ((s, dir) =>
      Dfg.simplified(sessions(Tables.events(s, dir)), "session_id",
        "event_type", "ts", "event_id", keepShareMicro = 800000L)),

    // Organizational role discovery: resource activity-profile cosine
    // matrix with a same-role verdict at 0.9.
    "q_role_similarity" -> ((s, dir) =>
      Social.roleSimilarity(
        Tables.events(s, dir).withColumn("res",
          get_json_object(col("props"), "$.k").cast("int") % 10),
        "res", "event_type", threshMicro = 900000L)),

    // Sparse arm of the role matrix — the no-cap operator the dense
    // guard points a >10⁴-resource caller at: only activity-sharing
    // pairs, absent pair = cosine 0 by contract, same exact integer
    // dot/norm arithmetic.
    "q_role_similarity_sparse" -> ((s, dir) =>
      Social.roleSimilaritySparse(
        Tables.events(s, dir).withColumn("res",
          get_json_object(col("props"), "$.k").cast("int") % 10),
        "res", "event_type", threshMicro = 900000L)),

    // Activity→outcome lift: which activities co-occur with
    // conversion more than the baseline — exact integer micro-units.
    "q_outcome_lift" -> ((s, dir) =>
      Funnel.outcomeLift(sessions(Tables.events(s, dir)), "session_id",
        "event_type", "purchase")),

    // k-anonymity publication report: variants below 5-case support
    // must be suppressed before an event log ships; global damage
    // share stamped on every row.
    "q_log_anonymize" -> ((s, dir) =>
      Variants.kAnonymityReport(sessions(Tables.events(s, dir)),
        "session_id", "event_type", "ts", "event_id", k = 5L)),

    // Daily SLA report: session-duration p50/p90/max per start day as
    // exact integer rank statistics.
    "q_sla_report" -> ((s, dir) =>
      Timeline.slaDaily(sessions(Tables.events(s, dir)), "session_id", "ts")),

    // Batch-work detection: cross-case runs of one resource repeating
    // one activity within a 1 h gap — the (resource, activity)
    // sessionize that `episodes` does within a case.
    "q_batch_work" -> ((s, dir) =>
      Social.batchWork(
        sessions(Tables.events(s, dir)).withColumn("res",
          get_json_object(col("props"), "$.k").cast("int") % 10),
        "session_id", "res", "event_type", "ts", "event_id",
        gapSec = 3600L, minSize = 3L)),

    // Window functions: running per-user aggregates.
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .withColumn("running_value",
          sum(col("value").cast("decimal(18,2)"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double"))
        .select(col("event_id"), col("user_id"), col("rn"), col("running_value"))
    }))

  private val Scd2Sql: String =
    """WITH base AS (
        |  SELECT user_id AS key, ts, event_id, event_type AS value
        |  FROM events
        |), o AS (
        |  SELECT *, lag(value) OVER (PARTITION BY key
        |    ORDER BY ts, event_id, value) AS prev
        |  FROM base
        |), f AS (
        |  SELECT *, CASE WHEN prev IS NULL OR prev <> value
        |    THEN 1 ELSE 0 END AS nw
        |  FROM o
        |), v AS (
        |  SELECT *, CAST(sum(nw) OVER (PARTITION BY key
        |    ORDER BY ts, event_id, value ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS ver
        |  FROM f
        |), g AS (
        |  SELECT key, ver, min(ts) AS valid_from, max(value) AS value
        |  FROM v GROUP BY 1, 2
        |), l AS (
        |  SELECT *, lead(valid_from) OVER (PARTITION BY key
        |    ORDER BY ver) AS valid_to
        |  FROM g
        |), k AS (
        |  SELECT * FROM l WHERE valid_to IS NULL OR valid_to <> valid_from
        |), m0 AS (
        |  SELECT *, lag(value) OVER (PARTITION BY key ORDER BY ver) AS pv
        |  FROM k
        |), m1 AS (
        |  SELECT *, CAST(sum(CASE WHEN pv IS NULL OR pv <> value
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY key
        |    ORDER BY ver ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mver
        |  FROM m0
        |), m AS (
        |  SELECT key, mver, min(valid_from) AS valid_from,
        |    max(value) AS value
        |  FROM m1 GROUP BY 1, 2
        |), l2 AS (
        |  SELECT *, lead(valid_from) OVER (PARTITION BY key
        |    ORDER BY mver) AS valid_to
        |  FROM m
        |)
        |SELECT key,
        |  CAST(row_number() OVER (PARTITION BY key ORDER BY mver)
        |    AS BIGINT) AS version,
        |  value, valid_from, valid_to,
        |  (valid_to IS NULL) AS is_current
        |FROM l2""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_filter_membership" ->
      s"""SELECT event_id, user_id, event_type FROM events
         |WHERE user_id IN (${MemberIds.mkString(", ")})""".stripMargin,

    "q_filter_null_reject" ->
      "SELECT event_id, props FROM events WHERE props IS NOT NULL",

    "q_filter_neg_eq" ->
      "SELECT event_id, event_type FROM events WHERE event_type != 'error'",

    "q_filter_lifecycle" ->
      """SELECT event_id, lifecycle, value FROM (
        |  SELECT *, CASE WHEN value < 5 THEN 'start' ELSE 'complete' END AS lifecycle
        |  FROM events)
        |WHERE lifecycle != 'start' AND lifecycle = 'complete'""".stripMargin,

    "q_filter_range" ->
      """SELECT event_id, ts FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00' AND ts <= TIMESTAMP '2024-01-20 00:00:00'""".stripMargin,

    "q_filter_whitelist" ->
      "SELECT event_id, event_type FROM events WHERE event_type IN ('view', 'purchase')",

    "q_project_rename" ->
      """SELECT event_id, user_id AS resource, event_type AS concept_name,
        |  ts AS time_timestamp FROM events""".stripMargin,

    "q_enum_remap" ->
      s"""SELECT $RemapSql AS event_type, count(*) AS n
         |FROM events GROUP BY 1""".stripMargin,

    "q_ts_trunc" ->
      "SELECT date_trunc('hour', ts) AS ts_hour, count(*) AS n FROM events GROUP BY 1",

    "q_null_fill" ->
      """SELECT event_id, coalesce(CASE WHEN k > 50 THEN NULL ELSE k END, -1) AS k_nullable
        |FROM (SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events)""".stripMargin,

    "q_json_flatten" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q_json_path_scan" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 90""".stripMargin,

    "q_date_format" ->
      "SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n FROM events GROUP BY 1",

    "q_minmax_bounds" ->
      "SELECT min(ts) AS start_ts, max(ts) AS end_ts FROM events",

    "q_empty_probe" ->
      "SELECT count(*) AS n FROM events WHERE event_type = 'nonexistent'",

    "q_sessionize" ->
      s"""$SessionsCte
         |SELECT session_id, min(user_id) AS user_id, count(*) AS n_events,
         |  date_diff('second', min(ts), max(ts)) AS duration_sec
         |FROM s GROUP BY 1""".stripMargin,

    "q_dfg" ->
      s"""$SessionsCte, nxt AS (
         |  SELECT event_type, lead(event_type) OVER (
         |    PARTITION BY session_id ORDER BY ts, event_id) AS next_activity
         |  FROM s)
         |SELECT event_type AS activity, next_activity, count(*) AS n
         |FROM nxt WHERE next_activity IS NOT NULL GROUP BY 1, 2""".stripMargin,

    "q_dfg_endpoints" ->
      s"""$SessionsCte, pos AS (
         |  SELECT event_type,
         |    row_number() OVER (PARTITION BY session_id ORDER BY ts, event_id) AS rn,
         |    row_number() OVER (PARTITION BY session_id ORDER BY ts DESC, event_id DESC) AS rn_desc
         |  FROM s)
         |SELECT event_type AS activity,
         |  CASE WHEN rn = 1 THEN 'start' ELSE 'end' END AS position, count(*) AS n
         |FROM pos WHERE rn = 1 OR rn_desc = 1 GROUP BY 1, 2""".stripMargin,

    "q_footprint" ->
      s"""$SessionsCte, nxt AS (
         |  SELECT event_type, lead(event_type) OVER (
         |    PARTITION BY session_id ORDER BY ts, event_id) AS next_activity
         |  FROM s), d AS (
         |  SELECT event_type AS activity, next_activity, count(*) AS n
         |  FROM nxt WHERE next_activity IS NOT NULL GROUP BY 1, 2)
         |SELECT x.activity, x.next_activity,
         |  CASE WHEN y.activity IS NOT NULL THEN 'parallel' ELSE 'causal' END AS relation,
         |  x.n
         |FROM d x LEFT JOIN d y
         |  ON y.activity = x.next_activity AND y.next_activity = x.activity""".stripMargin,

    "q_variants" ->
      s"""$SessionsCte, percase AS (
         |  SELECT session_id, string_agg(event_type, '->' ORDER BY ts, event_id) AS variant
         |  FROM s GROUP BY 1)
         |SELECT variant, count(*) AS n_cases FROM percase GROUP BY 1""".stripMargin,

    "q_eventlog_pipeline" ->
      s"""WITH base AS (
         |  SELECT * FROM events
         |  WHERE user_id IN (${MemberIds.mkString(", ")})
         |    AND ts >= TIMESTAMP '2024-01-05 00:00:00'
         |), gaps AS (
         |  SELECT *, CASE WHEN date_diff('second',
         |      lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) > 1800
         |    THEN 1 ELSE 0 END AS is_new
         |  FROM base
         |), s AS (
         |  SELECT *, CAST(user_id AS VARCHAR) || '-' ||
         |      CAST(CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS VARCHAR) AS session_id
         |  FROM gaps
         |)
         |SELECT session_id AS case_id, $RemapSql AS event_type, ts AS event_ts,
         |  user_id AS resource, CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k
         |FROM s
         |WHERE $RemapSql IN ('USER_MESSAGE', 'SERVICE_REQUEST')""".stripMargin,

    "q_generate_api" ->
      s"""$EventlogCte, filtered AS (
         |  SELECT * FROM el
         |  WHERE "CASE_ID" IS NOT NULL
         |    AND "RESOURCE" IN ($memberIdStrings)
         |    AND "EVENT_TYPE" != 'SERVICE_CUSTOM_MESSAGE_2'
         |    AND "LIFECYCLE_PHASE" != 'start'
         |    AND "TIME_STAMP" >= TIMESTAMP '2024-01-05 00:00:00'
         |), renamed AS (
         |  SELECT event_id,
         |    CASE "EVENT_TYPE" WHEN 'SERVICE_CUSTOM_MESSAGE_1' THEN 'USER_MESSAGE'
         |                      WHEN 'SERVICE_CUSTOM_MESSAGE_2' THEN 'BOT_MESSAGE'
         |                      WHEN 'SERVICE_CUSTOM_MESSAGE_3' THEN 'SERVICE_REQUEST'
         |                      ELSE "EVENT_TYPE" END AS "EVENT_TYPE",
         |    "CASE_ID" AS "case:concept:name",
         |    "ACTIVITY_NAME" AS "concept:name",
         |    "TIME_STAMP" AS "time:timestamp",
         |    "LIFECYCLE_PHASE" AS "lifecycle:transition",
         |    "RESOURCE", "REMARKS"
         |  FROM filtered
         |)
         |SELECT event_id, "EVENT_TYPE", "case:concept:name", "concept:name",
         |  "time:timestamp",
         |  coalesce("lifecycle:transition", 'complete') AS "lifecycle:transition",
         |  "RESOURCE",
         |  coalesce(json_extract_string("REMARKS", '$$.user'), '') AS "user",
         |  coalesce(json_extract_string("REMARKS", '$$.serviceEndpoint'), '') AS "serviceEndpoint",
         |  coalesce(CAST(json_extract("REMARKS", '$$."in-service-context"') AS BOOLEAN), false) AS "in-service-context"
         |FROM renamed
         |WHERE "EVENT_TYPE" IN ('SERVICE_REQUEST', 'USER_MESSAGE')
         |  AND "lifecycle:transition" = 'complete'""".stripMargin,

    // the inferred widening must surface the data's own keys (here: k)
    "q_generate_infer" ->
      s"""$EventlogCte, filtered AS (
         |  SELECT * FROM el
         |  WHERE "CASE_ID" IS NOT NULL
         |    AND "RESOURCE" IN ($memberIdStrings)
         |    AND "EVENT_TYPE" != 'SERVICE_CUSTOM_MESSAGE_2'
         |    AND "LIFECYCLE_PHASE" != 'start'
         |    AND "TIME_STAMP" >= TIMESTAMP '2024-01-05 00:00:00'
         |), renamed AS (
         |  SELECT event_id,
         |    CASE "EVENT_TYPE" WHEN 'SERVICE_CUSTOM_MESSAGE_1' THEN 'USER_MESSAGE'
         |                      WHEN 'SERVICE_CUSTOM_MESSAGE_2' THEN 'BOT_MESSAGE'
         |                      WHEN 'SERVICE_CUSTOM_MESSAGE_3' THEN 'SERVICE_REQUEST'
         |                      ELSE "EVENT_TYPE" END AS "EVENT_TYPE",
         |    "CASE_ID" AS "case:concept:name",
         |    "ACTIVITY_NAME" AS "concept:name",
         |    "TIME_STAMP" AS "time:timestamp",
         |    "LIFECYCLE_PHASE" AS "lifecycle:transition",
         |    "RESOURCE", "REMARKS"
         |  FROM filtered
         |)
         |SELECT event_id, "EVENT_TYPE", "case:concept:name", "concept:name",
         |  "time:timestamp",
         |  coalesce("lifecycle:transition", 'complete') AS "lifecycle:transition",
         |  "RESOURCE",
         |  CAST(json_extract_string("REMARKS", '$$.k') AS BIGINT) AS k
         |FROM renamed
         |WHERE "EVENT_TYPE" IN ('SERVICE_REQUEST', 'USER_MESSAGE')
         |  AND "lifecycle:transition" = 'complete'""".stripMargin,

    "q_generate_lifecycle" ->
      s"""$EventlogCte
         |SELECT event_id,
         |  CASE "EVENT_TYPE" WHEN 'SERVICE_CUSTOM_MESSAGE_1' THEN 'USER_MESSAGE'
         |                    WHEN 'SERVICE_CUSTOM_MESSAGE_2' THEN 'BOT_MESSAGE'
         |                    WHEN 'SERVICE_CUSTOM_MESSAGE_3' THEN 'SERVICE_REQUEST'
         |                    ELSE "EVENT_TYPE" END AS "EVENT_TYPE",
         |  "CASE_ID" AS "case:concept:name",
         |  coalesce("LIFECYCLE_PHASE", 'complete') AS "lifecycle:transition",
         |  coalesce(json_extract_string("REMARKS", '$$.user'), '') AS "user",
         |  coalesce(CAST(json_extract("REMARKS", '$$."in-service-context"') AS BOOLEAN), false) AS "in-service-context"
         |FROM el
         |WHERE "CASE_ID" IS NOT NULL
         |  AND "RESOURCE" IN ($memberIdStrings)
         |  AND "TIME_STAMP" >= TIMESTAMP '2024-01-05 00:00:00'""".stripMargin,

    "q_xes_traces" ->
      s"""$EventlogCte, filtered AS (
         |  SELECT * FROM el
         |  WHERE "CASE_ID" IS NOT NULL
         |    AND "RESOURCE" IN ($memberIdStrings)
         |    AND "EVENT_TYPE" != 'SERVICE_CUSTOM_MESSAGE_2'
         |    AND "LIFECYCLE_PHASE" != 'start'
         |    AND "TIME_STAMP" >= TIMESTAMP '2024-01-05 00:00:00'
         |    AND CASE "EVENT_TYPE" WHEN 'SERVICE_CUSTOM_MESSAGE_1' THEN 'USER_MESSAGE'
         |                          WHEN 'SERVICE_CUSTOM_MESSAGE_3' THEN 'SERVICE_REQUEST'
         |                          ELSE "EVENT_TYPE" END IN ('USER_MESSAGE', 'SERVICE_REQUEST')
         |    AND "LIFECYCLE_PHASE" = 'complete'
         |)
         |SELECT "CASE_ID" AS case_id,
         |  string_agg("ACTIVITY_NAME", '->' ORDER BY "TIME_STAMP", event_id) AS trace_events,
         |  min("TIME_STAMP") AS trace_start,
         |  max("TIME_STAMP") AS trace_end,
         |  count(*) AS n_events
         |FROM filtered
         |GROUP BY 1""".stripMargin,

    // the round-trip oracle IS the identity projection: whatever the
    // writer rendered and the reader parsed must equal the table
    "q_xes_roundtrip" ->
      """SELECT CAST(user_id AS VARCHAR) AS "case:concept:name",
        |  date_trunc('second', ts) AS "time:timestamp",
        |  event_type AS "concept:name",
        |  event_id, value
        |FROM events""".stripMargin,

    "q_xes_dsv2" ->
      """SELECT CAST(user_id AS VARCHAR) AS "case:concept:name",
        |  date_trunc('second', ts) AS "time:timestamp",
        |  event_type AS "concept:name",
        |  event_id, value
        |FROM events""".stripMargin,

    "q_xes_render" ->
      s"""$EventlogCte, filtered AS (
         |  SELECT * FROM el
         |  WHERE "CASE_ID" IS NOT NULL
         |    AND "RESOURCE" IN ($memberIdStrings)
         |    AND "EVENT_TYPE" != 'SERVICE_CUSTOM_MESSAGE_2'
         |    AND "LIFECYCLE_PHASE" != 'start'
         |    AND "TIME_STAMP" >= TIMESTAMP '2024-01-05 00:00:00'
         |    AND CASE "EVENT_TYPE" WHEN 'SERVICE_CUSTOM_MESSAGE_1' THEN 'USER_MESSAGE'
         |                          WHEN 'SERVICE_CUSTOM_MESSAGE_3' THEN 'SERVICE_REQUEST'
         |                          ELSE "EVENT_TYPE" END IN ('USER_MESSAGE', 'SERVICE_REQUEST')
         |    AND "LIFECYCLE_PHASE" = 'complete'
         |), ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY "CASE_ID" ORDER BY "TIME_STAMP", event_id) AS rn
         |  FROM filtered
         |)
         |SELECT "CASE_ID" AS case_id,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  max(CASE WHEN rn = 1 THEN "ACTIVITY_NAME" END) AS first_activity,
         |  strftime(max("TIME_STAMP"), '%Y-%m-%dT%H:%M:%S.') ||
         |    substr(strftime(max("TIME_STAMP"), '%f'), 1, 3) || 'Z' AS last_ts_rendered
         |FROM ranked GROUP BY 1""".stripMargin,

    // Performance DFG: gap = epoch-second difference, mid statistics
    // by the exact rank selection under the (gap, event_id) order
    "q_dfg_perf" ->
      s"""$SessionsCte, pr AS (
         |  SELECT session_id, event_type AS activity, event_id,
         |    lead(event_type) OVER win AS next_activity,
         |    date_diff('second', ts, lead(ts) OVER win) AS gap
         |  FROM s
         |  WINDOW win AS (PARTITION BY session_id ORDER BY ts, event_id)
         |), p AS (
         |  SELECT * FROM pr WHERE next_activity IS NOT NULL
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY activity, next_activity
         |      ORDER BY gap, event_id) AS r,
         |    count(*) OVER (PARTITION BY activity, next_activity) AS n
         |  FROM p
         |)
         |SELECT activity, next_activity, CAST(count(*) AS BIGINT) AS n,
         |  min(gap) AS gap_min,
         |  max(CASE WHEN r = (n + 1) // 2 THEN gap END) AS gap_median,
         |  max(CASE WHEN r = (9 * n + 9) // 10 THEN gap END) AS gap_p90,
         |  max(gap) AS gap_max
         |FROM rk GROUP BY 1, 2""".stripMargin,

    // Burst profile: RANGE frame over epoch seconds (same-second peers
    // included in both engines), then the per-user max
    "q_burst" ->
      """WITH c AS (
        |  SELECT user_id,
        |    CAST(count(*) OVER (PARTITION BY user_id
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |      RANGE BETWEEN 60 PRECEDING AND CURRENT ROW) AS BIGINT) AS inwin
        |  FROM events
        |)
        |SELECT user_id, max(inwin) AS peak_in_window,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  max(inwin) >= 5 AS is_burst
        |FROM c GROUP BY 1""".stripMargin,

    // Variant performance: the list-sort variant derivation + exact
    // order-statistic ranks (ceil(n/2), ceil(9n/10)) under the
    // deterministic (duration, session_id) order
    "q_variant_perf" ->
      s"""$SessionsCte, pc AS (
         |  SELECT session_id,
         |    array_to_string(list(event_type ORDER BY ts, event_id), '->') AS variant,
         |    date_diff('second', min(ts), max(ts)) AS duration_sec
         |  FROM s GROUP BY session_id
         |), rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY variant
         |      ORDER BY duration_sec, session_id) AS r,
         |    count(*) OVER (PARTITION BY variant) AS n
         |  FROM pc
         |)
         |SELECT variant, CAST(count(*) AS BIGINT) AS n_cases,
         |  min(duration_sec) AS dur_min,
         |  max(CASE WHEN r = (n + 1) // 2 THEN duration_sec END) AS dur_median,
         |  max(CASE WHEN r = (9 * n + 9) // 10 THEN duration_sec END) AS dur_p90,
         |  max(duration_sec) AS dur_max
         |FROM rk GROUP BY variant""".stripMargin,

    // Rolling actives: distinct (user, day), ×28 report-day explode,
    // min-gap per (user, report day), conditional counts
    "q_rolling_actives" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), b AS (
        |  SELECT max(day) AS d1 FROM ud
        |), e AS (
        |  SELECT user_id, day + CAST(i AS INTEGER) AS day, i
        |  FROM ud, unnest(range(0, 28)) AS t(i)
        |), g AS (
        |  SELECT user_id, day, CAST(min(i) AS BIGINT) AS gap
        |  FROM e GROUP BY 1, 2
        |)
        |SELECT g.day,
        |  CAST(sum(CASE WHEN gap < 1 THEN 1 ELSE 0 END) AS BIGINT) AS dau,
        |  CAST(sum(CASE WHEN gap < 7 THEN 1 ELSE 0 END) AS BIGINT) AS wau,
        |  CAST(sum(CASE WHEN gap < 28 THEN 1 ELSE 0 END) AS BIGINT) AS mau,
        |  CAST(CASE WHEN sum(CASE WHEN gap < 28 THEN 1 ELSE 0 END) = 0 THEN 0
        |    ELSE (sum(CASE WHEN gap < 1 THEN 1 ELSE 0 END) * 1000000) //
        |      sum(CASE WHEN gap < 28 THEN 1 ELSE 0 END) END AS BIGINT)
        |    AS stickiness_micro
        |FROM g, b WHERE g.day <= b.d1
        |GROUP BY g.day""".stripMargin,

    // Markov simulation: the q_markov matrix CTE + cumulative count
    // ranges + a RECURSIVE walk replaying the LCG draws bit-for-bit
    "q_markov_sim" ->
      s"""WITH RECURSIVE ${SessionsCte.stripPrefix("WITH ")}, ordered AS (
         |  SELECT session_id, event_type,
         |    row_number() OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS rn,
         |    lead(event_type) OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS nxt
         |  FROM s
         |), tr AS (
         |  SELECT '__START__' AS state, event_type AS next_state
         |  FROM ordered WHERE rn = 1
         |  UNION ALL
         |  SELECT event_type, coalesce(nxt, '__END__') FROM ordered
         |), c AS (
         |  SELECT state, next_state, CAST(count(*) AS BIGINT) AS n
         |  FROM tr GROUP BY 1, 2
         |), cum AS (
         |  SELECT state, next_state, n,
         |    CAST(coalesce(sum(n) OVER (PARTITION BY state ORDER BY next_state
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS lo,
         |    CAST(coalesce(sum(n) OVER (PARTITION BY state ORDER BY next_state
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + n AS BIGINT) AS hi,
         |    CAST(sum(n) OVER (PARTITION BY state) AS BIGINT) AS tot
         |  FROM c
         |), walk(trace_id, pos, state) AS (
         |  SELECT CAST(i AS BIGINT), 0, '__START__'
         |  FROM unnest(range(0, 100)) t(i)
         |  UNION ALL
         |  SELECT w.trace_id, w.pos + 1, m.next_state
         |  FROM walk w JOIN cum m ON m.state = w.state
         |    AND (((1103515245 * ((w.trace_id * 1000003 +
         |        CAST(w.pos + 1 AS BIGINT) * 7919 + 1) % 1048576) + 12345)
         |        % 2147483648) % m.tot) >= m.lo
         |    AND (((1103515245 * ((w.trace_id * 1000003 +
         |        CAST(w.pos + 1 AS BIGINT) * 7919 + 1) % 1048576) + 12345)
         |        % 2147483648) % m.tot) < m.hi
         |  WHERE w.state != '__END__' AND w.pos < 20
         |)
         |SELECT trace_id, CAST(pos AS INTEGER) AS pos, state AS activity
         |FROM walk WHERE pos >= 1 AND state != '__END__'""".stripMargin,

    // Order-2 Markov: two lags coalesced to __START__, terminal rows
    // from rn = cnt; same integer probability tail
    "q_markov2" ->
      s"""$SessionsCte, o AS (
         |  SELECT session_id, event_type,
         |    coalesce(lag(event_type, 2) OVER win, '__START__') AS l2,
         |    coalesce(lag(event_type, 1) OVER win, '__START__') AS l1,
         |    row_number() OVER win AS rn,
         |    count(*) OVER (PARTITION BY session_id) AS cnt
         |  FROM s
         |  WINDOW win AS (PARTITION BY session_id ORDER BY ts, event_id)
         |), tr AS (
         |  SELECT l2 || '|' || l1 AS state, event_type AS next_state FROM o
         |  UNION ALL
         |  SELECT l1 || '|' || event_type, '__END__' FROM o WHERE rn = cnt
         |), c AS (
         |  SELECT state, next_state, CAST(count(*) AS BIGINT) AS n
         |  FROM tr GROUP BY 1, 2
         |)
         |SELECT state, next_state, n,
         |  (n * 1000000) // CAST(sum(n) OVER (PARTITION BY state) AS BIGINT)
         |    AS p_micro
         |FROM c""".stripMargin,

    // Markov transitions: every event emits its outgoing transition
    // (coalesced to __END__), first events add the __START__ entry;
    // probabilities by integer division over the per-state window
    "q_markov" ->
      s"""$SessionsCte, ordered AS (
         |  SELECT session_id, event_type,
         |    row_number() OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS rn,
         |    lead(event_type) OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS nxt
         |  FROM s
         |), tr AS (
         |  SELECT '__START__' AS state, event_type AS next_state
         |  FROM ordered WHERE rn = 1
         |  UNION ALL
         |  SELECT event_type, coalesce(nxt, '__END__') FROM ordered
         |), c AS (
         |  SELECT state, next_state, CAST(count(*) AS BIGINT) AS n
         |  FROM tr GROUP BY 1, 2
         |)
         |SELECT state, next_state, n,
         |  (n * 1000000) // CAST(sum(n) OVER (PARTITION BY state) AS BIGINT)
         |    AS p_micro
         |FROM c""".stripMargin,

    // Attribution replay: the same frame-exact first_value /
    // IGNORE-NULLS last_value pair over the session window.
    "q_attribution" ->
      s"""$SessionsCte, t AS (
         |  SELECT event_type,
         |    first_value(event_type) OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS ft,
         |    last_value(CASE WHEN event_type != 'purchase'
         |        THEN event_type END IGNORE NULLS)
         |      OVER (PARTITION BY session_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
         |  FROM s
         |)
         |SELECT ft AS first_touch, coalesce(lt, 'direct') AS last_touch,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM t WHERE event_type = 'purchase' GROUP BY 1, 2""".stripMargin,

    // Drift replay: same session CTE, same epoch-micros midpoint and
    // per-session first-event tagging, full-outer edge union with
    // loud zeros, NULLIF shares, ΣΔ div 2 total variation.
    "q_dfg_drift" ->
      s"""$SessionsCte, bnd AS (
         |  SELECT min(CAST(epoch_us(ts) AS BIGINT)) AS t0,
         |         max(CAST(epoch_us(ts) AS BIGINT)) AS t1
         |  FROM s
         |), tagged AS (
         |  SELECT s.*, (bnd.t0 + bnd.t1) // 2 AS mid,
         |    min(CAST(epoch_us(ts) AS BIGINT))
         |      OVER (PARTITION BY session_id) AS sst
         |  FROM s CROSS JOIN bnd
         |), pa AS (
         |  SELECT event_type, lead(event_type) OVER (PARTITION BY session_id
         |    ORDER BY ts, event_id) AS nxt
         |  FROM tagged WHERE sst < mid
         |), pb AS (
         |  SELECT event_type, lead(event_type) OVER (PARTITION BY session_id
         |    ORDER BY ts, event_id) AS nxt
         |  FROM tagged WHERE sst >= mid
         |), ea AS (
         |  SELECT event_type AS activity, nxt AS next_activity,
         |    CAST(count(*) AS BIGINT) AS na
         |  FROM pa WHERE nxt IS NOT NULL GROUP BY 1, 2
         |), eb AS (
         |  SELECT event_type AS activity, nxt AS next_activity,
         |    CAST(count(*) AS BIGINT) AS nb
         |  FROM pb WHERE nxt IS NOT NULL GROUP BY 1, 2
         |), j AS (
         |  SELECT activity, next_activity,
         |    coalesce(na, 0) AS n_a, coalesce(nb, 0) AS n_b
         |  FROM ea FULL JOIN eb USING (activity, next_activity)
         |), t AS (
         |  SELECT CAST(sum(n_a) AS BIGINT) AS ta,
         |         CAST(sum(n_b) AS BIGINT) AS tb FROM j
         |), sc AS (
         |  SELECT activity, next_activity, n_a, n_b,
         |    (n_a * 1000000) // NULLIF(ta, 0) AS share_a_micro,
         |    (n_b * 1000000) // NULLIF(tb, 0) AS share_b_micro,
         |    abs((n_a * 1000000) // NULLIF(ta, 0) -
         |        (n_b * 1000000) // NULLIF(tb, 0)) AS delta_micro
         |  FROM j CROSS JOIN t
         |)
         |SELECT activity, next_activity, n_a, n_b,
         |  share_a_micro, share_b_micro, delta_micro
         |FROM sc
         |UNION ALL
         |SELECT '__TV__', '', t.ta, t.tb, 1000000, 1000000,
         |  CAST(sum(sc.delta_micro) AS BIGINT) // 2
         |FROM sc CROSS JOIN t GROUP BY t.ta, t.tb""".stripMargin,

    // Heuristics-miner replay: one two-lead window pass, edge + aba
    // loop collapses, reverse joins, the SAME sign-decomposed CASE
    // arithmetic (// on non-negative operands only — DuckDB floors,
    // Spark truncates, they agree only above zero).
    "q_heuristic_deps" ->
      s"""$SessionsCte, seq AS (
         |  SELECT event_type AS activity,
         |    lead(event_type, 1) OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS n1,
         |    lead(event_type, 2) OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS n2
         |  FROM s
         |), e AS (
         |  SELECT activity, n1 AS next_activity,
         |    CAST(count(*) AS BIGINT) AS n_ab
         |  FROM seq WHERE n1 IS NOT NULL GROUP BY 1, 2
         |), l AS (
         |  SELECT activity, n1 AS next_activity,
         |    CAST(count(*) AS BIGINT) AS n_aba
         |  FROM seq
         |  WHERE n2 IS NOT NULL AND n2 = activity AND activity <> n1
         |  GROUP BY 1, 2
         |), j AS (
         |  SELECT e.activity, e.next_activity, e.n_ab,
         |    coalesce(r.n_ab, 0) AS n_ba,
         |    coalesce(l1.n_aba, 0) AS n_aba,
         |    coalesce(l2.n_aba, 0) AS n_bab
         |  FROM e
         |  LEFT JOIN e r ON r.activity = e.next_activity
         |    AND r.next_activity = e.activity
         |  LEFT JOIN l l1 ON l1.activity = e.activity
         |    AND l1.next_activity = e.next_activity
         |  LEFT JOIN l l2 ON l2.activity = e.next_activity
         |    AND l2.next_activity = e.activity
         |), d AS (
         |  SELECT *,
         |    CASE WHEN activity = next_activity
         |        THEN (n_ab * 1000000) // (n_ab + 1)
         |      WHEN n_ab >= n_ba
         |        THEN ((n_ab - n_ba) * 1000000) // (n_ab + n_ba + 1)
         |      ELSE -(((n_ba - n_ab) * 1000000) // (n_ab + n_ba + 1))
         |    END AS dep_micro
         |  FROM j
         |)
         |SELECT activity, next_activity, n_ab, n_ba, n_aba, n_bab,
         |  dep_micro,
         |  CASE WHEN activity = next_activity THEN NULL
         |    ELSE ((n_aba + n_bab) * 1000000) // (n_aba + n_bab + 1)
         |  END AS l2_micro,
         |  dep_micro >= 900000 AS kept
         |FROM d""".stripMargin,

    // Precision replay: the drift CTE's session tagging, early-half
    // model with HAVING >= 5, left join, escaping-mass CASE sums,
    // UNION ALL headline row.
    "q_dfg_precision" ->
      s"""$SessionsCte, bnd AS (
         |  SELECT min(CAST(epoch_us(ts) AS BIGINT)) AS t0,
         |         max(CAST(epoch_us(ts) AS BIGINT)) AS t1
         |  FROM s
         |), tagged AS (
         |  SELECT s.*, (bnd.t0 + bnd.t1) // 2 AS mid,
         |    min(CAST(epoch_us(ts) AS BIGINT))
         |      OVER (PARTITION BY session_id) AS sst
         |  FROM s CROSS JOIN bnd
         |), pm AS (
         |  SELECT event_type, lead(event_type) OVER (PARTITION BY session_id
         |    ORDER BY ts, event_id) AS nxt
         |  FROM tagged WHERE sst < mid
         |), pe AS (
         |  SELECT event_type, lead(event_type) OVER (PARTITION BY session_id
         |    ORDER BY ts, event_id) AS nxt
         |  FROM tagged WHERE sst >= mid
         |), model AS (
         |  SELECT event_type AS activity, nxt AS next_activity
         |  FROM pm WHERE nxt IS NOT NULL GROUP BY 1, 2
         |  HAVING count(*) >= 5
         |), ev AS (
         |  SELECT event_type AS activity, nxt AS next_activity,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM pe WHERE nxt IS NOT NULL GROUP BY 1, 2
         |), sc AS (
         |  SELECT ev.activity, ev.n, (m.activity IS NOT NULL) AS ok
         |  FROM ev LEFT JOIN model m ON m.activity = ev.activity
         |    AND m.next_activity = ev.next_activity
         |), g AS (
         |  SELECT activity, CAST(sum(n) AS BIGINT) AS n_total,
         |    CAST(sum(CASE WHEN ok THEN 0 ELSE n END) AS BIGINT)
         |      AS n_escaping
         |  FROM sc GROUP BY 1
         |  UNION ALL
         |  SELECT '__ALL__', CAST(sum(n) AS BIGINT),
         |    CAST(sum(CASE WHEN ok THEN 0 ELSE n END) AS BIGINT)
         |  FROM sc
         |)
         |SELECT activity, n_total, n_escaping,
         |  ((n_total - n_escaping) * 1000000) // n_total AS precision_micro
         |FROM g""".stripMargin,

    // Trend replay: the changepoint densify CTE with a day index, one
    // HUGEINT moment row, the identical sign-decomposed divisions.
    "q_trend" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1
        |), b AS (
        |  SELECT min(day) AS d0,
        |    CAST(max(day) - min(day) + 1 AS BIGINT) AS days
        |  FROM daily
        |), cal AS (
        |  SELECT d0 + CAST(i AS INTEGER) AS day, CAST(i AS BIGINT) AS x
        |  FROM b, unnest(range(0, days)) t(i)
        |), dense AS (
        |  SELECT x, CAST(coalesce(n, 0) AS BIGINT) AS n
        |  FROM cal c LEFT JOIN daily d ON c.day = d.day
        |), m AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_days,
        |    CAST(sum(x) AS HUGEINT) AS sx,
        |    CAST(sum(n) AS BIGINT) AS total_events,
        |    CAST(sum(x * x) AS HUGEINT) AS sxx,
        |    CAST(sum(CAST(n AS HUGEINT) * n) AS HUGEINT) AS syy,
        |    CAST(sum(CAST(x AS HUGEINT) * n) AS HUGEINT) AS sxy
        |  FROM dense
        |), k AS (
        |  SELECT n_days, total_events,
        |    CAST(n_days AS HUGEINT) * sxy - sx * total_events AS num,
        |    CAST(n_days AS HUGEINT) * sxx - sx * sx AS denx,
        |    CAST(n_days AS HUGEINT) * syy
        |      - CAST(total_events AS HUGEINT) * total_events AS deny,
        |    CAST(total_events AS HUGEINT) * sxx - sx * sxy AS ic
        |  FROM m
        |)
        |SELECT n_days, total_events,
        |  CAST(CASE WHEN denx = 0 THEN NULL
        |    WHEN num >= 0 THEN (num * 1000000) // denx
        |    ELSE -((-num * 1000000) // denx) END AS BIGINT) AS slope_micro,
        |  CAST(CASE WHEN denx = 0 THEN NULL
        |    WHEN ic >= 0 THEN (ic * 1000000) // denx
        |    ELSE -((-ic * 1000000) // denx) END AS BIGINT)
        |    AS intercept_micro,
        |  CAST(CASE WHEN denx = 0 OR deny = 0 THEN NULL
        |    ELSE (num * num * 1000000) // (denx * deny) END AS BIGINT)
        |    AS r2_micro
        |FROM k""".stripMargin,

    // Pairwise-trend replay: the densify CTE, the day-pair join, the
    // SAME single IEEE division per slope, the exact lower-median rank
    // (n+2)//2 under (slope, day1, day2), floor-then-cast micro.
    "q_pairwise_trend" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1
        |), b AS (
        |  SELECT min(day) AS d0,
        |    CAST(max(day) - min(day) + 1 AS BIGINT) AS days
        |  FROM daily
        |), cal AS (
        |  SELECT d0 + CAST(i AS INTEGER) AS day
        |  FROM b, unnest(range(0, days)) t(i)
        |), dense AS (
        |  SELECT c.day, CAST(coalesce(n, 0) AS BIGINT) AS n
        |  FROM cal c LEFT JOIN daily d ON c.day = d.day
        |), p AS (
        |  SELECT d1.day AS day1, d2.day AS day2, d2.n - d1.n AS dy,
        |    CAST(d2.n - d1.n AS DOUBLE)
        |      / CAST(date_diff('day', d1.day, d2.day) AS DOUBLE) AS slope
        |  FROM dense d1 JOIN dense d2 ON d1.day < d2.day
        |), r AS (
        |  SELECT *, row_number() OVER (ORDER BY slope, day1, day2) AS rk,
        |    count(*) OVER () AS np
        |  FROM p
        |), t AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
        |    CAST(sum(CASE WHEN dy > 0 THEN 1 WHEN dy < 0 THEN -1
        |      ELSE 0 END) AS BIGINT) AS s,
        |    max(CASE WHEN rk = (np + 2) // 2 THEN slope END) AS med
        |  FROM r
        |)
        |SELECT n_pairs, s,
        |  CASE WHEN n_pairs = 0 THEN NULL
        |    WHEN s >= 0 THEN (s * 1000000) // n_pairs
        |    ELSE -((-s * 1000000) // n_pairs) END AS tau_micro,
        |  CAST(floor(med * 1000000.0) AS BIGINT) AS theilsen_micro
        |FROM t""".stripMargin,

    // Gini replay: identical value-histogram identity — rank blocks
    // over the (v, m) table, HUGEINT block sums, one-row statistic.
    "q_gini" ->
      """WITH per AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS v
        |  FROM events GROUP BY 1
        |), h AS (
        |  SELECT v, CAST(count(*) AS BIGINT) AS m FROM per GROUP BY 1
        |), r AS (
        |  SELECT v, m,
        |    CAST(coalesce(sum(m) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS rr
        |  FROM h
        |), w AS (
        |  SELECT v, m,
        |    CAST(v AS HUGEINT) * (CAST(rr AS HUGEINT) * m +
        |      (CAST(m AS HUGEINT) * (m + 1)) // 2) AS wv
        |  FROM r
        |), t AS (
        |  SELECT CAST(sum(m) AS BIGINT) AS n_keys,
        |    CAST(sum(CAST(v AS HUGEINT) * m) AS HUGEINT) AS total,
        |    CAST(sum(wv) AS HUGEINT) AS sw
        |  FROM w
        |)
        |SELECT n_keys, CAST(total AS BIGINT) AS total_events,
        |  CAST(((2 * sw - CAST(n_keys + 1 AS HUGEINT) * total) * 1000000)
        |    // nullif(CAST(n_keys AS HUGEINT) * total, 0) AS BIGINT)
        |    AS gini_micro
        |FROM t""".stripMargin,

    // Interval replay: session CTE + lifecycle CASE, per-phase
    // row_number index, the join-free conditional-MAX pairing, the
    // sign-decomposed duration, the four-way status CASE.
    "q_lifecycle_intervals" ->
      s"""$SessionsCte, lf AS (
         |  SELECT session_id, event_type,
         |    CASE WHEN value < 5 THEN 'start' ELSE 'complete' END AS phase,
         |    ts, event_id
         |  FROM s
         |), ix AS (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY session_id, event_type, phase
         |    ORDER BY ts, event_id) AS idx
         |  FROM lf
         |), g AS (
         |  SELECT session_id AS case_id, event_type AS activity,
         |    CAST(idx AS BIGINT) AS idx,
         |    max(CASE WHEN phase = 'start' THEN ts END) AS start_ts,
         |    max(CASE WHEN phase = 'complete' THEN ts END) AS end_ts
         |  FROM ix GROUP BY 1, 2, 3
         |), d AS (
         |  SELECT *,
         |    CASE WHEN epoch_us(end_ts) >= epoch_us(start_ts)
         |      THEN (epoch_us(end_ts) - epoch_us(start_ts)) // 1000000
         |      ELSE -((epoch_us(start_ts) - epoch_us(end_ts)) // 1000000)
         |    END AS dur_sec
         |  FROM g
         |)
         |SELECT case_id, activity, idx, start_ts, end_ts, dur_sec,
         |  CASE WHEN start_ts IS NULL THEN 'orphan'
         |    WHEN end_ts IS NULL THEN 'open'
         |    WHEN dur_sec < 0 THEN 'negative'
         |    ELSE 'matched' END AS status
         |FROM d""".stripMargin,

    // SCD2 replay: the same (ts, tie, value) order, boundary-flag
    // running sum, version collapse, lead-close, zero-width drop,
    // the second consecutive-duplicate collapse (a zero-width drop
    // can butt two same-value versions — r9 advisor) and dense
    // renumbering.
    "q_scd2" -> Scd2Sql,

    // the SCD2 chain as a nested subquery, the planted broken keys,
    // and the lead-window audit under (from, to NULLS LAST)
    "q_interval_audit" ->
      s"""WITH dim AS (
        |  SELECT key, valid_from, valid_to FROM ($Scd2Sql)
        |  UNION ALL
        |  SELECT * FROM (VALUES
        |    (CAST(-1 AS BIGINT), TIMESTAMP '2024-01-01 00:00:00',
        |     TIMESTAMP '2024-01-01 01:00:00'),
        |    (-1, TIMESTAMP '2024-01-01 02:00:00', TIMESTAMP '2024-01-01 03:00:00'),
        |    (-2, TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 02:00:00'),
        |    (-2, TIMESTAMP '2024-01-01 01:00:00', TIMESTAMP '2024-01-01 03:00:00'),
        |    (-3, TIMESTAMP '2024-01-01 00:00:00', TIMESTAMP '2024-01-01 00:00:00'),
        |    (-4, TIMESTAMP '2024-01-01 00:00:00', CAST(NULL AS TIMESTAMP)),
        |    (-4, TIMESTAMP '2024-01-01 01:00:00', CAST(NULL AS TIMESTAMP))
        |  ) v(key, valid_from, valid_to)
        |), x AS (
        |  SELECT key, valid_from AS f, valid_to AS t,
        |    lead(valid_from) OVER (PARTITION BY key
        |      ORDER BY valid_from, valid_to NULLS LAST) AS nf
        |  FROM dim
        |), a AS (
        |  SELECT key,
        |    CAST(count(*) AS BIGINT) AS n_intervals,
        |    CAST(sum(CASE WHEN nf IS NOT NULL AND t IS NOT NULL AND nf > t
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        |    CAST(sum(CASE WHEN nf IS NOT NULL AND (t IS NULL OR nf < t)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_overlaps,
        |    CAST(sum(CASE WHEN t IS NOT NULL AND t <= f
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_width,
        |    CAST(sum(CASE WHEN t IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_open,
        |    CAST(sum(CASE WHEN t IS NULL AND nf IS NOT NULL
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_open_not_last
        |  FROM x GROUP BY 1
        |)
        |SELECT *,
        |  (n_gaps = 0 AND n_overlaps = 0 AND n_zero_width = 0
        |   AND n_open <= 1 AND n_open_not_last = 0) AS tiles
        |FROM a""".stripMargin,

    // Remaining-time replay: per-session end window, integral mean
    // per state on the even half, MAE with CASE-null scoring on the
    // odd half, UNION ALL headline (≡ the Spark rollup).
    "q_remaining_time" ->
      s"""$SessionsCte, r AS (
         |  SELECT user_id, event_type AS state,
         |    (max(CAST(epoch_us(ts) AS BIGINT))
         |       OVER (PARTITION BY session_id)
         |     - CAST(epoch_us(ts) AS BIGINT)) // 1000000 AS rem_sec
         |  FROM s
         |), model AS (
         |  SELECT state,
         |    CAST(sum(rem_sec) AS BIGINT) // CAST(count(*) AS BIGINT)
         |      AS pred_sec
         |  FROM r WHERE user_id % 2 = 0 GROUP BY 1
         |), sc AS (
         |  SELECT r.state, r.rem_sec, m.pred_sec
         |  FROM r LEFT JOIN model m ON r.state = m.state
         |  WHERE r.user_id % 2 = 1
         |), g AS (
         |  SELECT state, CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(sum(CASE WHEN pred_sec IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_pred,
         |    CAST(sum(CASE WHEN pred_sec IS NOT NULL
         |      THEN abs(rem_sec - pred_sec) ELSE 0 END) AS BIGINT) AS ae
         |  FROM sc GROUP BY 1
         |  UNION ALL
         |  SELECT '__ALL__', CAST(count(*) AS BIGINT),
         |    CAST(sum(CASE WHEN pred_sec IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT),
         |    CAST(sum(CASE WHEN pred_sec IS NOT NULL
         |      THEN abs(rem_sec - pred_sec) ELSE 0 END) AS BIGINT)
         |  FROM sc
         |)
         |SELECT state, n_test, n_pred,
         |  ae // nullif(n_pred, 0) AS mae_sec
         |FROM g""".stripMargin,

    // Backtest replay: same session CTE, argmax with the identical
    // (count desc, next asc) tie-break, CASE-null hit scoring (a NULL
    // prediction can never equal a next state), NULLIF accuracy.
    "q_markov_backtest" ->
      s"""$SessionsCte, tp AS (
         |  SELECT user_id, event_type AS state,
         |    lead(event_type) OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS next_state
         |  FROM s
         |), trn AS (
         |  SELECT state, next_state FROM tp
         |  WHERE next_state IS NOT NULL AND user_id % 2 = 0
         |), tc AS (
         |  SELECT state, next_state, CAST(count(*) AS BIGINT) AS n
         |  FROM trn GROUP BY 1, 2
         |), pr AS (
         |  SELECT state, next_state AS predicted FROM tc
         |  QUALIFY row_number() OVER (PARTITION BY state
         |    ORDER BY n DESC, next_state) = 1
         |), sc AS (
         |  SELECT t.state, t.next_state, p.predicted
         |  FROM (SELECT state, next_state FROM tp
         |        WHERE next_state IS NOT NULL AND user_id % 2 = 1) t
         |  LEFT JOIN pr p USING (state)
         |), ps AS (
         |  SELECT state, CAST(count(*) AS BIGINT) AS n_test,
         |    CAST(sum(CASE WHEN predicted IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_pred,
         |    CAST(sum(CASE WHEN predicted = next_state THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hit
         |  FROM sc GROUP BY 1
         |  UNION ALL
         |  SELECT '__ALL__', CAST(count(*) AS BIGINT),
         |    CAST(sum(CASE WHEN predicted IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT),
         |    CAST(sum(CASE WHEN predicted = next_state THEN 1 ELSE 0 END)
         |      AS BIGINT)
         |  FROM sc
         |)
         |SELECT state, n_test, n_pred, n_hit,
         |  (n_hit * 1000000) // NULLIF(n_pred, 0) AS acc_micro
         |FROM ps""".stripMargin,

    // Conformance: pairs per session left-joined against the frequent-
    // edge model; sessions without pairs are vacuously fit (1e6)
    "q_conformance" ->
      s"""$SessionsCte, pairs AS (
         |  SELECT session_id, event_type AS activity,
         |    lead(event_type) OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS next_activity
         |  FROM s
         |), model AS (
         |  SELECT activity, next_activity FROM (
         |    SELECT activity, next_activity, count(*) AS n FROM (
         |      SELECT session_id, event_type AS activity,
         |        lead(event_type) OVER (PARTITION BY session_id
         |          ORDER BY ts, event_id) AS next_activity
         |      FROM s) d
         |    WHERE next_activity IS NOT NULL GROUP BY 1, 2) e
         |  WHERE n >= 5
         |), j AS (
         |  SELECT p.session_id, p.next_activity,
         |    CASE WHEN p.next_activity IS NOT NULL AND m.activity IS NULL
         |      THEN 1 ELSE 0 END AS viol
         |  FROM pairs p LEFT JOIN model m
         |    ON p.activity = m.activity AND p.next_activity = m.next_activity
         |), g AS (
         |  SELECT session_id,
         |    CAST(count(next_activity) AS BIGINT) AS n_pairs,
         |    CAST(sum(viol) AS BIGINT) AS n_violations
         |  FROM j GROUP BY 1
         |)
         |SELECT session_id, n_pairs, n_violations,
         |  CAST(CASE WHEN n_pairs = 0 THEN 1000000
         |       ELSE ((n_pairs - n_violations) * 1000000) // n_pairs
         |       END AS BIGINT) AS fitness_micro
         |FROM g""".stripMargin,

    // Funnel: the same staged strict-after chain as Funnel.stageTimes —
    // each stage's window may only see times after the previous stage's
    // (NULL propagates through the strict comparison), then the k-row
    // conversion arithmetic in exact integer micro-units.
    "q_funnel" ->
      """WITH u0 AS (
        |  SELECT user_id, event_type, ts,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t0
        |  FROM events
        |), u1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1 FROM u0
        |), u2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2 FROM u1
        |), pu AS (
        |  SELECT user_id, min(t0) AS t0, min(t1) AS t1, min(t2) AS t2
        |  FROM u2 GROUP BY 1
        |), st AS (
        |  SELECT 0 AS step_idx, 'view' AS step, t0 AS t FROM pu
        |  UNION ALL SELECT 1, 'click', t1 FROM pu
        |  UNION ALL SELECT 2, 'purchase', t2 FROM pu
        |), agg AS (
        |  SELECT step_idx, step, CAST(count(t) AS BIGINT) AS n_users
        |  FROM st GROUP BY 1, 2
        |), conv AS (
        |  SELECT *, first_value(n_users) OVER (ORDER BY step_idx) AS f,
        |    coalesce(lag(n_users) OVER (ORDER BY step_idx), n_users) AS p
        |  FROM agg
        |)
        |SELECT CAST(step_idx AS INTEGER) AS step_idx, step, n_users,
        |  CAST(CASE WHEN f = 0 THEN 0
        |       ELSE (n_users * 1000000) // f END AS BIGINT) AS conv_first_micro,
        |  CAST(CASE WHEN p = 0 THEN 0
        |       ELSE (n_users * 1000000) // p END AS BIGINT) AS conv_prev_micro
        |FROM conv""".stripMargin,

    "q_funnel_windowed" ->
      """WITH u0 AS (
        |  SELECT user_id, event_type, ts,
        |    min(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t0
        |  FROM events
        |), u1 AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0
        |      AND ts <= t0 + INTERVAL 86400 SECOND THEN ts END)
        |    OVER (PARTITION BY user_id) AS t1 FROM u0
        |), u2 AS (
        |  SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1
        |      AND ts <= t0 + INTERVAL 86400 SECOND THEN ts END)
        |    OVER (PARTITION BY user_id) AS t2 FROM u1
        |), pu AS (
        |  SELECT user_id, min(t0) AS t0, min(t1) AS t1, min(t2) AS t2
        |  FROM u2 GROUP BY 1
        |), st AS (
        |  SELECT 0 AS step_idx, 'view' AS step, t0 AS t FROM pu
        |  UNION ALL SELECT 1, 'click', t1 FROM pu
        |  UNION ALL SELECT 2, 'purchase', t2 FROM pu
        |), agg AS (
        |  SELECT step_idx, step, CAST(count(t) AS BIGINT) AS n_users
        |  FROM st GROUP BY 1, 2
        |), conv AS (
        |  SELECT *, first_value(n_users) OVER (ORDER BY step_idx) AS f,
        |    coalesce(lag(n_users) OVER (ORDER BY step_idx), n_users) AS p
        |  FROM agg
        |)
        |SELECT CAST(step_idx AS INTEGER) AS step_idx, step, n_users,
        |  CAST(CASE WHEN f = 0 THEN 0
        |       ELSE (n_users * 1000000) // f END AS BIGINT) AS conv_first_micro,
        |  CAST(CASE WHEN p = 0 THEN 0
        |       ELSE (n_users * 1000000) // p END AS BIGINT) AS conv_prev_micro
        |FROM conv""".stripMargin,

    // Cohort retention: first-seen-day cohorts, distinct active days,
    // integer micro-unit retention against the cohort size.
    "q_cohort_retention" ->
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY 1
        |), a AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), o AS (
        |  SELECT f.cohort_day,
        |    date_diff('day', f.cohort_day, a.day) AS offset_days, a.user_id
        |  FROM a JOIN f USING (user_id)
        |), g AS (
        |  SELECT cohort_day, offset_days, CAST(count(*) AS BIGINT) AS n_users
        |  FROM o GROUP BY 1, 2
        |), sz AS (
        |  SELECT cohort_day, CAST(count(*) AS BIGINT) AS cohort_size
        |  FROM f GROUP BY 1
        |)
        |SELECT g.cohort_day, CAST(g.offset_days AS INTEGER) AS offset_days,
        |  g.n_users, sz.cohort_size,
        |  (g.n_users * 1000000) // sz.cohort_size AS retention_micro
        |FROM g JOIN sz USING (cohort_day)""".stripMargin,

    // Next-event examples: the frame-bounded list() window replays
    // Spark's frame-bounded collect_list over the same (ts, event_id)
    // order bit-for-bit.
    "q_seq_examples" ->
      s"""$SessionsCte, ex AS (
         |  SELECT session_id,
         |    CAST(row_number() OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS INTEGER) AS pos,
         |    array_to_string(list(event_type) OVER (
         |      PARTITION BY session_id ORDER BY ts, event_id
         |      ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), ' ') AS context,
         |    event_type AS label
         |  FROM s
         |)
         |SELECT * FROM ex WHERE pos >= 2""".stripMargin,

    "q_window_running" ->
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS INTEGER) AS rn,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_value
        |FROM events""".stripMargin,

    "q_efg" ->
      s"""$SessionsCte, pos AS (
         |  SELECT session_id, event_type,
         |    row_number() OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS rn
         |  FROM s
         |)
         |SELECT a.event_type AS activity, b.event_type AS eventually,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM pos a JOIN pos b
         |  ON a.session_id = b.session_id AND a.rn < b.rn
         |GROUP BY 1, 2""".stripMargin,

    "q_rework" ->
      s"""$SessionsCte, ca AS (
         |  SELECT session_id, event_type, CAST(count(*) AS BIGINT) AS cnt
         |  FROM s GROUP BY 1, 2
         |)
         |SELECT event_type AS activity, CAST(count(*) AS BIGINT) AS n_cases,
         |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_rework_cases,
         |  CAST(sum(cnt - 1) AS BIGINT) AS extra_occurrences,
         |  CAST((sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) * 1000000)
         |    // count(*) AS BIGINT) AS rework_micro
         |FROM ca GROUP BY 1""".stripMargin,

    "q_episodes" ->
      """WITH b AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |      OR lag(event_type) OVER
        |        (PARTITION BY user_id ORDER BY ts, event_id) <> event_type
        |      THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |), e AS (
        |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS episode
        |  FROM b
        |)
        |SELECT user_id, episode, event_type, min(ts) AS start_ts,
        |  max(ts) AS end_ts, CAST(count(*) AS BIGINT) AS n_events
        |FROM e GROUP BY 1, 2, 3""".stripMargin,

    "q_locf" ->
      """WITH d0 AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, value,
        |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |      ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events
        |), daily AS (
        |  SELECT user_id, day, value AS v FROM d0 WHERE rn = 1
        |), b AS (SELECT max(day) AS d1 FROM daily
        |), u AS (SELECT user_id, min(day) AS dmin FROM daily GROUP BY 1
        |), cal AS (
        |  SELECT user_id, dmin + CAST(i AS INTEGER) AS day
        |  FROM u, b, unnest(range(0, d1 - dmin + 1)) t(i)
        |), j AS (
        |  SELECT c.user_id, c.day, v
        |  FROM cal c LEFT JOIN daily d
        |    ON c.user_id = d.user_id AND c.day = d.day
        |)
        |SELECT user_id, day,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY day ROWS UNBOUNDED PRECEDING) AS value_filled,
        |  v IS NOT NULL AS is_observed
        |FROM j""".stripMargin,

    "q_cooccurrence" ->
      s"""$SessionsCte, it AS (
         |  SELECT DISTINCT session_id, event_type FROM s
         |), sup AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS supp
         |  FROM it GROUP BY 1
         |), n AS (
         |  SELECT CAST(count(DISTINCT session_id) AS BIGINT) AS n_cases FROM it
         |), pr AS (
         |  SELECT a.event_type AS item_a, b.event_type AS item_b,
         |    CAST(count(*) AS BIGINT) AS supp_ab
         |  FROM it a JOIN it b
         |    ON a.session_id = b.session_id AND a.event_type < b.event_type
         |  GROUP BY 1, 2 HAVING count(*) >= 5
         |)
         |SELECT item_a, item_b, supp_ab, sa.supp AS supp_a, sb.supp AS supp_b,
         |  (supp_ab * 1000000) // sa.supp AS conf_ab_micro,
         |  (supp_ab * 1000000) // sb.supp AS conf_ba_micro,
         |  CAST((CAST(supp_ab AS HUGEINT) * n_cases * 1000000) //
         |    (CAST(sa.supp AS HUGEINT) * sb.supp) AS BIGINT) AS lift_micro
         |FROM pr JOIN sup sa ON pr.item_a = sa.event_type
         |  JOIN sup sb ON pr.item_b = sb.event_type
         |  CROSS JOIN n""".stripMargin,

    "q_multitouch" ->
      s"""$SessionsCte, conv AS (
         |  SELECT session_id, ts, event_id,
         |    row_number() OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS crn
         |  FROM s WHERE event_type = 'purchase'
         |), fc AS (
         |  SELECT session_id, ts AS cts, event_id AS cid
         |  FROM conv WHERE crn = 1
         |), t AS (
         |  SELECT s.*, cts, cid,
         |    (s.event_type != 'purchase' AND
         |     (s.ts < cts OR (s.ts = cts AND s.event_id < cid))) AS is_touch
         |  FROM s JOIN fc USING (session_id)
         |), k AS (
         |  SELECT *,
         |    SUM(CASE WHEN is_touch THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY session_id) AS kk,
         |    SUM(CASE WHEN is_touch THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY session_id ORDER BY ts, event_id
         |        ROWS UNBOUNDED PRECEDING) AS rn
         |  FROM t
         |), cr AS (
         |  SELECT
         |    CASE WHEN is_touch THEN event_type
         |         WHEN ts = cts AND event_id = cid AND kk = 0
         |           THEN 'direct' END AS touch,
         |    CASE WHEN kk <= 1 THEN 1000000
         |         WHEN kk = 2 THEN 500000
         |         WHEN rn = 1 OR rn = kk THEN 400000
         |         ELSE 200000 // (kk - 2) +
         |           (CASE WHEN rn = 2 THEN 200000 % (kk - 2) ELSE 0 END)
         |    END AS credit
         |  FROM k
         |)
         |SELECT touch, CAST(count(*) AS BIGINT) AS n_touches,
         |  CAST(sum(credit) AS BIGINT) AS credit_micro
         |FROM cr WHERE touch IS NOT NULL GROUP BY 1""".stripMargin,

    "q_seasonality" ->
      """WITH c AS (
        |  SELECT event_type, CAST(isodow(ts) - 1 AS INTEGER) AS dow,
        |    CAST(hour(ts) AS INTEGER) AS hour,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2, 3
        |)
        |SELECT event_type, dow, hour, n,
        |  CAST((n * 1000000) // SUM(n) OVER (PARTITION BY event_type)
        |    AS BIGINT) AS share_micro,
        |  n = MAX(n) OVER (PARTITION BY event_type) AS is_peak
        |FROM c""".stripMargin,

    "q_rfm" ->
      """WITH u AS (
        |  SELECT user_id, CAST(max(ts) AS DATE) AS last_day,
        |    CAST(count(*) AS BIGINT) AS frequency,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS monetary_cents
        |  FROM events GROUP BY 1
        |), b AS (
        |  SELECT max(last_day) AS d1,
        |    quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fq,
        |    quantile_cont(monetary_cents, [0.2, 0.4, 0.6, 0.8]) AS mq
        |  FROM u
        |), r AS (
        |  SELECT u.*, CAST(d1 - last_day AS BIGINT) AS recency_days, fq, mq
        |  FROM u CROSS JOIN b
        |), rq AS (
        |  SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rqs
        |  FROM r
        |), sc AS (
        |  SELECT user_id, recency_days, frequency, monetary_cents,
        |    CAST(6 - (CASE WHEN recency_days <= rqs[1] THEN 1
        |                   WHEN recency_days <= rqs[2] THEN 2
        |                   WHEN recency_days <= rqs[3] THEN 3
        |                   WHEN recency_days <= rqs[4] THEN 4
        |                   ELSE 5 END) AS INTEGER) AS r_score,
        |    CAST(CASE WHEN frequency <= fq[1] THEN 1
        |              WHEN frequency <= fq[2] THEN 2
        |              WHEN frequency <= fq[3] THEN 3
        |              WHEN frequency <= fq[4] THEN 4
        |              ELSE 5 END AS INTEGER) AS f_score,
        |    CAST(CASE WHEN monetary_cents <= mq[1] THEN 1
        |              WHEN monetary_cents <= mq[2] THEN 2
        |              WHEN monetary_cents <= mq[3] THEN 3
        |              WHEN monetary_cents <= mq[4] THEN 4
        |              ELSE 5 END AS INTEGER) AS m_score
        |  FROM r CROSS JOIN rq
        |)
        |SELECT *, CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) ||
        |  CAST(m_score AS VARCHAR) AS segment
        |FROM sc""".stripMargin,

    "q_seasonal_naive" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1
        |), bnd AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily
        |), cal AS (
        |  SELECT d0 + CAST(i AS INTEGER) AS day
        |  FROM bnd, unnest(range(0, d1 - d0 + 1)) t(i)
        |), dense AS (
        |  SELECT c.day, coalesce(n, 0) AS n
        |  FROM cal c LEFT JOIN daily d ON c.day = d.day
        |), lagged AS (
        |  SELECT day, n,
        |    lag(n, 7) OVER (ORDER BY day) AS pred_weekly,
        |    lag(n, 1) OVER (ORDER BY day) AS pred_naive
        |  FROM dense
        |)
        |SELECT day, n, pred_weekly, pred_naive,
        |  abs(n - pred_weekly) AS err_weekly,
        |  abs(n - pred_naive) AS err_naive,
        |  abs(n - pred_weekly) < abs(n - pred_naive) AS weekly_wins
        |FROM lagged WHERE pred_weekly IS NOT NULL""".stripMargin,

    "q_automation_screen" ->
      """WITH g AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CAST(count(*) OVER (PARTITION BY user_id
        |      ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |      RANGE BETWEEN 30 PRECEDING AND CURRENT ROW) AS BIGINT) AS inwin,
        |    date_diff('microsecond', lag(ts) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap
        |  FROM events
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY coalesce(gap, 9223372036854775807), event_id) AS rk,
        |    count(gap) OVER (PARTITION BY user_id) AS ng
        |  FROM g
        |), a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |    CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |    max(inwin) AS peak_in_window,
        |    CAST(coalesce(max(CASE WHEN rk = (ng + 1) // 2 THEN gap END), -1)
        |      AS BIGINT) AS gap_p50_us
        |  FROM r GROUP BY 1
        |)
        |SELECT user_id, n_events, n_types, peak_in_window, gap_p50_us,
        |  peak_in_window >= 5 AS flag_burst,
        |  gap_p50_us >= 0 AND gap_p50_us <= 60000000 AS flag_fast,
        |  n_events >= 50 AND n_types <= 2 AS flag_monotone,
        |  CAST(CAST(peak_in_window >= 5 AS INTEGER) +
        |    CAST(gap_p50_us >= 0 AND gap_p50_us <= 60000000 AS INTEGER) +
        |    CAST(n_events >= 50 AND n_types <= 2 AS INTEGER) AS INTEGER)
        |    AS score
        |FROM a""".stripMargin,

    "q_handover" ->
      s"""$SessionsCte, r AS (
         |  SELECT session_id, event_id, ts,
         |    CAST(json_extract_string(props, '$$.k') AS INTEGER) % 10 AS res
         |  FROM s
         |), p AS (
         |  SELECT session_id, res, lag(res) OVER (
         |    PARTITION BY session_id ORDER BY ts, event_id) AS prev
         |  FROM r
         |)
         |SELECT prev AS res_from, res AS res_to,
         |  CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(DISTINCT session_id) AS BIGINT) AS n_cases
         |FROM p WHERE prev IS NOT NULL GROUP BY 1, 2""".stripMargin,

    "q_wip" ->
      s"""$SessionsCte, spans AS (
         |  SELECT session_id, CAST(min(ts) AS DATE) AS d0,
         |    CAST(max(ts) AS DATE) AS d1
         |  FROM s GROUP BY 1
         |), deltas AS (
         |  SELECT day, CAST(SUM(d) AS BIGINT) AS delta FROM (
         |    SELECT d0 AS day, 1 AS d FROM spans
         |    UNION ALL
         |    SELECT d1 + 1 AS day, -1 AS d FROM spans)
         |  GROUP BY 1
         |)
         |SELECT day, delta, CAST(SUM(delta) OVER (
         |  ORDER BY day ROWS UNBOUNDED PRECEDING) AS BIGINT) AS open_cases
         |FROM deltas""".stripMargin,

    "q_interarrival" ->
      """WITH g AS (
        |  SELECT event_type, event_id,
        |    date_diff('microsecond', lag(ts) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_us
        |  FROM events
        |), r AS (
        |  SELECT event_type, gap_us,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY gap_us, event_id) AS rk,
        |    count(*) OVER (PARTITION BY event_type) AS nn
        |  FROM g WHERE gap_us IS NOT NULL
        |)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(gap_us) AS BIGINT) AS sum_gap_us,
        |  max(CASE WHEN rk = (nn + 1) // 2 THEN gap_us END) AS p50_us,
        |  max(CASE WHEN rk = (9 * nn + 9) // 10 THEN gap_us END) AS p90_us,
        |  max(CASE WHEN rk = (99 * nn + 99) // 100 THEN gap_us END) AS p99_us
        |FROM r GROUP BY 1""".stripMargin,

    // Quantile-norm replay: reference rank-span histogram, keyed
    // ranks, the identical HUGEINT ceiling division, span range join.
    "q_quantile_norm" ->
      """WITH h AS (
        |  SELECT CAST(floor(value * 1000) AS BIGINT) AS rv,
        |    CAST(count(*) AS BIGINT) AS m
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), sp AS (
        |  SELECT rv,
        |    CAST(sum(m) OVER (ORDER BY rv ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS hi,
        |    CAST(sum(m) OVER (ORDER BY rv ROWS UNBOUNDED PRECEDING)
        |      - m + 1 AS BIGINT) AS lo,
        |    CAST(sum(m) OVER () AS BIGINT) AS nref
        |  FROM h
        |), rk AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(value * 1000) AS BIGINT) AS v,
        |    CAST(row_number() OVER (PARTITION BY event_type
        |      ORDER BY CAST(floor(value * 1000) AS BIGINT), event_id)
        |      AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
        |  FROM events
        |)
        |SELECT rk.event_type, rk.event_id, rk.v AS v_milli,
        |  rk.r AS "rank", sp.rv AS norm_milli
        |FROM rk JOIN sp
        |  ON least(CAST((CAST(rk.r AS HUGEINT) * (sp.nref + 1) + rk.n)
        |      // CAST(rk.n + 1 AS HUGEINT) AS BIGINT), sp.nref)
        |    BETWEEN sp.lo AND sp.hi""".stripMargin,

    // PIT replay: the q_scd2 chain as a CTE, then the half-open
    // interval membership join.
    "q_pit_join" ->
      """WITH base AS (
        |  SELECT user_id AS key, ts, event_id, event_type AS value
        |  FROM events
        |), o AS (
        |  SELECT *, lag(value) OVER (PARTITION BY key
        |    ORDER BY ts, event_id, value) AS prev
        |  FROM base
        |), f AS (
        |  SELECT *, CASE WHEN prev IS NULL OR prev <> value
        |    THEN 1 ELSE 0 END AS nw
        |  FROM o
        |), v AS (
        |  SELECT *, CAST(sum(nw) OVER (PARTITION BY key
        |    ORDER BY ts, event_id, value ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS ver
        |  FROM f
        |), g AS (
        |  SELECT key, ver, min(ts) AS valid_from, max(value) AS value
        |  FROM v GROUP BY 1, 2
        |), l AS (
        |  SELECT *, lead(valid_from) OVER (PARTITION BY key
        |    ORDER BY ver) AS valid_to
        |  FROM g
        |), k AS (
        |  SELECT * FROM l WHERE valid_to IS NULL OR valid_to <> valid_from
        |), m0 AS (
        |  SELECT *, lag(value) OVER (PARTITION BY key ORDER BY ver) AS pv
        |  FROM k
        |), m1 AS (
        |  SELECT *, CAST(sum(CASE WHEN pv IS NULL OR pv <> value
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY key
        |    ORDER BY ver ROWS UNBOUNDED PRECEDING) AS BIGINT) AS mver
        |  FROM m0
        |), m AS (
        |  SELECT key, mver, min(valid_from) AS valid_from,
        |    max(value) AS value
        |  FROM m1 GROUP BY 1, 2
        |), dim AS (
        |  SELECT key,
        |    CAST(row_number() OVER (PARTITION BY key ORDER BY mver)
        |      AS BIGINT) AS version,
        |    value, valid_from,
        |    lead(valid_from) OVER (PARTITION BY key
        |      ORDER BY mver) AS valid_to
        |  FROM m
        |)
        |SELECT e.event_id, e.user_id, e.ts, d.version, d.value
        |FROM events e LEFT JOIN dim d ON e.user_id = d.key
        |  AND e.ts >= d.valid_from
        |  AND (d.valid_to IS NULL OR e.ts < d.valid_to)""".stripMargin,

    // Waiting replay: session CTE, case-keyed lag gaps, identical
    // integer percentile ranks.
    "q_waiting_time" ->
      s"""$SessionsCte, g AS (
         |  SELECT event_type, event_id,
         |    date_diff('microsecond', lag(ts) OVER (
         |      PARTITION BY session_id ORDER BY ts, event_id), ts) AS gap_us
         |  FROM s
         |), r AS (
         |  SELECT event_type, gap_us,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY gap_us, event_id) AS rk,
         |    count(*) OVER (PARTITION BY event_type) AS nn
         |  FROM g WHERE gap_us IS NOT NULL
         |)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(gap_us) AS BIGINT) AS sum_wait_us,
         |  max(CASE WHEN rk = (nn + 1) // 2 THEN gap_us END) AS p50_us,
         |  max(CASE WHEN rk = (9 * nn + 9) // 10 THEN gap_us END) AS p90_us,
         |  max(CASE WHEN rk = (99 * nn + 99) // 100 THEN gap_us END) AS p99_us
         |FROM r GROUP BY 1""".stripMargin,

    "q_funnel_paths" ->
      s"""$SessionsCte, conv AS (
         |  SELECT session_id, ts, event_id,
         |    row_number() OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS crn
         |  FROM s WHERE event_type = 'purchase'
         |), fc AS (
         |  SELECT session_id, ts AS cts, event_id AS cid
         |  FROM conv WHERE crn = 1
         |), t AS (
         |  SELECT s.*, cts, cid,
         |    (s.event_type != 'purchase' AND
         |     (s.ts < cts OR (s.ts = cts AND s.event_id < cid))) AS is_touch
         |  FROM s JOIN fc USING (session_id)
         |), k AS (
         |  SELECT *,
         |    SUM(CASE WHEN is_touch THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY session_id) AS kk,
         |    SUM(CASE WHEN is_touch THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY session_id ORDER BY ts, event_id
         |        ROWS UNBOUNDED PRECEDING) AS rn
         |  FROM t
         |), steps AS (
         |  SELECT session_id, rn,
         |    CASE WHEN is_touch AND rn > kk - 3 THEN event_type
         |         WHEN ts = cts AND event_id = cid AND kk = 0
         |           THEN 'direct' END AS step
         |  FROM k
         |), pc AS (
         |  SELECT session_id, string_agg(step, '->' ORDER BY rn) AS path
         |  FROM steps WHERE step IS NOT NULL GROUP BY 1
         |)
         |SELECT path, CAST(count(*) AS BIGINT) AS n_cases
         |FROM pc GROUP BY 1""".stripMargin,

    "q_process_report" ->
      s"""$SessionsCte, pc AS (
         |  SELECT session_id, CAST(count(*) AS BIGINT) AS n,
         |    min(user_id) AS u,
         |    date_diff('second', min(ts), max(ts)) AS dur,
         |    CAST(count(DISTINCT event_type) AS BIGINT) AS ndist,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
         |    string_agg(event_type, '->' ORDER BY ts, event_id) AS variant
         |  FROM s GROUP BY 1
         |), r AS (
         |  SELECT *, row_number() OVER (ORDER BY dur, session_id) AS rk,
         |    count(*) OVER () AS nc
         |  FROM pc
         |), vt AS (
         |  SELECT CAST(max(vn) AS BIGINT) AS top_variant_cases FROM (
         |    SELECT variant, count(*) AS vn FROM pc GROUP BY 1)
         |)
         |SELECT CAST(sum(n) AS BIGINT) AS n_events,
         |  CAST(count(*) AS BIGINT) AS n_cases,
         |  CAST(count(DISTINCT u) AS BIGINT) AS n_users,
         |  CAST(count(DISTINCT variant) AS BIGINT) AS n_variants,
         |  CAST(sum(CASE WHEN ndist < n THEN 1 ELSE 0 END) AS BIGINT)
         |    AS rework_cases,
         |  CAST(sum(conv) AS BIGINT) AS conversion_cases,
         |  CAST(max(CASE WHEN rk = (nc + 1) // 2 THEN dur END) AS BIGINT)
         |    AS p50_duration_sec,
         |  (SELECT top_variant_cases FROM vt) AS top_variant_cases
         |FROM r""".stripMargin,

    "q_dfg_simplify" ->
      s"""$SessionsCte, nxt AS (
         |  SELECT event_type, lead(event_type) OVER (
         |    PARTITION BY session_id ORDER BY ts, event_id) AS next_activity
         |  FROM s
         |), d AS (
         |  SELECT event_type AS activity, next_activity,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM nxt WHERE next_activity IS NOT NULL GROUP BY 1, 2
         |), t AS (
         |  SELECT *, SUM(n) OVER () AS tot,
         |    coalesce(SUM(n) OVER (ORDER BY n DESC, activity, next_activity
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         |  FROM d
         |)
         |SELECT activity, next_activity, n,
         |  CAST(((bef + n) * 1000000) // tot AS BIGINT) AS cum_micro,
         |  (bef * 1000000) // tot < 800000 AS kept
         |FROM t""".stripMargin,

    "q_role_similarity" ->
      """WITH r0 AS (
        |  SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10
        |    AS res, event_type FROM events
        |), prof AS (
        |  SELECT res, event_type AS a, CAST(count(*) AS BIGINT) AS c
        |  FROM r0 GROUP BY 1, 2
        |), rs AS (SELECT DISTINCT res FROM prof
        |), dots AS (
        |  SELECT a1.res AS res_a, b1.res AS res_b,
        |    CAST(SUM(a1.c * b1.c) AS BIGINT) AS dot
        |  FROM prof a1 JOIN prof b1 ON a1.a = b1.a AND a1.res < b1.res
        |  GROUP BY 1, 2
        |), na AS (
        |  SELECT res, CAST(SUM(c * c) AS BIGINT) AS nsq FROM prof GROUP BY 1
        |), m AS (
        |  SELECT p.res_a, p.res_b,
        |    CAST(floor(CAST(coalesce(dot, 0) AS DOUBLE) /
        |      (sqrt(CAST(x.nsq AS DOUBLE)) * sqrt(CAST(y.nsq AS DOUBLE)))
        |      * 1000000) AS BIGINT) AS cos_micro
        |  FROM (SELECT a.res AS res_a, b.res AS res_b
        |        FROM rs a JOIN rs b ON a.res < b.res) p
        |  LEFT JOIN dots ON p.res_a = dots.res_a AND p.res_b = dots.res_b
        |  JOIN na x ON p.res_a = x.res
        |  JOIN na y ON p.res_b = y.res
        |)
        |SELECT res_a, res_b, cos_micro, cos_micro >= 900000 AS same_role
        |FROM m""".stripMargin,

    "q_role_similarity_sparse" ->
      """WITH r0 AS (
        |  SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) % 10
        |    AS res, event_type FROM events
        |), prof AS (
        |  SELECT res, event_type AS a, CAST(count(*) AS BIGINT) AS c
        |  FROM r0 GROUP BY 1, 2
        |), dots AS (
        |  SELECT a1.res AS res_a, b1.res AS res_b,
        |    CAST(SUM(a1.c * b1.c) AS BIGINT) AS dot
        |  FROM prof a1 JOIN prof b1 ON a1.a = b1.a AND a1.res < b1.res
        |  GROUP BY 1, 2
        |), na AS (
        |  SELECT res, CAST(SUM(c * c) AS BIGINT) AS nsq FROM prof GROUP BY 1
        |)
        |SELECT d.res_a, d.res_b,
        |  CAST(floor(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(x.nsq AS DOUBLE)) * sqrt(CAST(y.nsq AS DOUBLE)))
        |    * 1000000) AS BIGINT) AS cos_micro,
        |  CAST(floor(CAST(dot AS DOUBLE) /
        |    (sqrt(CAST(x.nsq AS DOUBLE)) * sqrt(CAST(y.nsq AS DOUBLE)))
        |    * 1000000) AS BIGINT) >= 900000 AS same_role
        |FROM dots d
        |JOIN na x ON d.res_a = x.res
        |JOIN na y ON d.res_b = y.res""".stripMargin,

    "q_outcome_lift" ->
      s"""$SessionsCte, oc AS (
         |  SELECT session_id,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
         |  FROM s GROUP BY 1
         |), base AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n_cases,
         |    CAST(sum(y) AS BIGINT) AS n_conv
         |  FROM oc
         |), it AS (
         |  SELECT DISTINCT session_id, event_type
         |  FROM s WHERE event_type != 'purchase'
         |), ag AS (
         |  SELECT event_type AS activity, CAST(count(*) AS BIGINT)
         |      AS n_cases_with,
         |    CAST(SUM(y) AS BIGINT) AS n_conv_with
         |  FROM it JOIN oc USING (session_id) GROUP BY 1
         |)
         |SELECT activity, n_cases_with, n_conv_with,
         |  CAST((n_conv_with * 1000000) // n_cases_with AS BIGINT)
         |    AS rate_micro,
         |  CAST((n_conv * 1000000) // n_cases AS BIGINT) AS baseline_micro,
         |  CAST(CAST(n_conv_with AS HUGEINT) * n_cases * 1000000
         |    // (CAST(n_cases_with AS HUGEINT) * n_conv) AS BIGINT)
         |    AS lift_micro
         |FROM ag CROSS JOIN base""".stripMargin,

    "q_log_anonymize" ->
      s"""$SessionsCte, percase AS (
         |  SELECT session_id,
         |    string_agg(event_type, '->' ORDER BY ts, event_id) AS variant
         |  FROM s GROUP BY 1
         |), vc AS (
         |  SELECT variant, CAST(count(*) AS BIGINT) AS n_cases
         |  FROM percase GROUP BY 1
         |)
         |SELECT variant, n_cases, n_cases >= 5 AS kept,
         |  CAST((SUM(CASE WHEN n_cases >= 5 THEN 0 ELSE n_cases END) OVER ()
         |    * 1000000) // SUM(n_cases) OVER () AS BIGINT)
         |    AS suppressed_share_micro
         |FROM vc""".stripMargin,

    "q_sla_report" ->
      s"""$SessionsCte, spans AS (
         |  SELECT session_id, CAST(min(ts) AS DATE) AS day,
         |    date_diff('second', min(ts), max(ts)) AS dur_sec
         |  FROM s GROUP BY 1
         |), r AS (
         |  SELECT day, dur_sec,
         |    row_number() OVER (PARTITION BY day
         |      ORDER BY dur_sec, session_id) AS rk,
         |    count(*) OVER (PARTITION BY day) AS nn
         |  FROM spans
         |)
         |SELECT day, CAST(count(*) AS BIGINT) AS n_sessions,
         |  max(CASE WHEN rk = (nn + 1) // 2 THEN dur_sec END) AS p50_sec,
         |  max(CASE WHEN rk = (9 * nn + 9) // 10 THEN dur_sec END) AS p90_sec,
         |  max(dur_sec) AS max_sec
         |FROM r GROUP BY 1""".stripMargin,

    "q_batch_work" ->
      s"""$SessionsCte, r AS (
         |  SELECT session_id, event_id, ts, event_type,
         |    CAST(json_extract_string(props, '$$.k') AS INTEGER) % 10 AS res
         |  FROM s
         |), b AS (
         |  SELECT *, CASE WHEN lag(ts) OVER w IS NULL
         |      OR date_diff('second', lag(ts) OVER w, ts) > 3600
         |    THEN 1 ELSE 0 END AS is_new
         |  FROM r WINDOW w AS (PARTITION BY res, event_type
         |    ORDER BY ts, event_id)
         |), g AS (
         |  SELECT *, CAST(SUM(is_new) OVER (PARTITION BY res, event_type
         |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS batch
         |  FROM b
         |)
         |SELECT res, event_type, batch, min(ts) AS start_ts,
         |  max(ts) AS end_ts, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT session_id) AS BIGINT) AS n_cases
         |FROM g GROUP BY 1, 2, 3 HAVING count(*) >= 3""".stripMargin,

    "q_seq_patterns" ->
      s"""$SessionsCte, o AS (
         |  SELECT session_id, event_type AS a1,
         |    lead(event_type, 1) OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS a2,
         |    lead(event_type, 2) OVER (PARTITION BY session_id
         |      ORDER BY ts, event_id) AS a3
         |  FROM s
         |), g AS (
         |  SELECT session_id, 2 AS k, a1 || '->' || a2 AS pattern
         |  FROM o WHERE a2 IS NOT NULL
         |  UNION ALL
         |  SELECT session_id, 3, a1 || '->' || a2 || '->' || a3
         |  FROM o WHERE a3 IS NOT NULL
         |), d AS (SELECT DISTINCT session_id, k, pattern FROM g)
         |SELECT CAST(k AS INTEGER) AS k, pattern,
         |  CAST(count(*) AS BIGINT) AS n_cases
         |FROM d GROUP BY 1, 2 HAVING count(*) >= 5""".stripMargin,

    "q_changepoint" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1
        |), b AS (
        |  SELECT min(day) AS d0, max(day) AS d1,
        |    CAST(sum(n) AS BIGINT) AS total,
        |    CAST(max(day) - min(day) + 1 AS BIGINT) AS days
        |  FROM daily
        |), cal AS (
        |  SELECT d0 + CAST(i AS INTEGER) AS day, total, days
        |  FROM b, unnest(range(0, days)) t(i)
        |), dense AS (
        |  SELECT c.day, CAST(coalesce(n, 0) AS BIGINT) AS n,
        |    (total * 1000000) // days AS mean_micro,
        |    CAST(coalesce(n, 0) AS BIGINT) * 1000000
        |      - (total * 1000000) // days AS dev_micro
        |  FROM cal c LEFT JOIN daily d ON c.day = d.day
        |), cus AS (
        |  SELECT day, n, mean_micro, dev_micro,
        |    CAST(sum(dev_micro) OVER (ORDER BY day
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum_micro
        |  FROM dense
        |)
        |SELECT day, n, mean_micro, dev_micro, cusum_micro,
        |  abs(cusum_micro) = max(abs(cusum_micro)) OVER () AS is_changepoint
        |FROM cus""".stripMargin)
}
