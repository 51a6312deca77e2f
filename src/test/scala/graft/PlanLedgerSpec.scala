package graft

import java.nio.file.Files

/** `PLANS.tsv` is the plan ledger (see `PlanLedger`): every query's
  * operator counts, checked here against the plans the queries build
  * now. A failure names each query and column that moved; if the move
  * is intended, regenerate the file with
  * `sbt "Test/runMain graft.PlanLedger"` and commit its diff.
  */
class PlanLedgerSpec extends SparkSpec {

  test("PLANS.tsv holds one row per query and matches every plan") {
    val (header, file) = PlanLedger.parse(Files.readString(PlanLedger.File))
    assert(header == PlanLedger.Columns,
      s"PLANS.tsv columns differ: ${header.mkString(",")}")
    val diffs = PlanLedger.diff(file, PlanLedger.rows)
    if (diffs.nonEmpty) fail(diffs.mkString(
      "PLANS.tsv differs from the plans (regenerate with sbt \"Test/runMain graft.PlanLedger\"):\n",
      "\n", ""))
  }

  test("the ledger diff names missing, extra and moved rows") {
    val row = PlanLedger.Columns.map(_ => "0")
    val moved = row.updated(PlanLedger.Columns.indexOf("broadcast_hash_join"), "1")
    assert(PlanLedger.diff(
        Map("q_a" -> row, "q_b" -> row, "q_gone" -> row),
        Map("q_a" -> row, "q_b" -> moved, "q_new" -> row)) == Seq(
      "q_b.broadcast_hash_join: PLANS.tsv 0, plan 1",
      "q_gone: in PLANS.tsv but not a SparkEntry query",
      "q_new: query missing from PLANS.tsv"))
    assert(PlanLedger.parse(PlanLedger.render(Map("q_a" -> moved)))
      == (PlanLedger.Columns, Map("q_a" -> moved)))
  }

  test("the plan dump normalizer blanks exactly the parts that vary between builds") {
    val plan = Seq(
      "AdaptiveSparkPlan isFinalPlan=false",
      "+- Project [id#12L, _common_expr_3#40 AS cos#41]",
      "   +- Exchange hashpartitioning(id#12L, 4), ENSURE_REQUIREMENTS, [plan_id=318]",
      "      +- centroid_dists(nd#9, [D@6f1a2b3c, 16) AS __d#77",
      "      +- token_replay(__seq#5, [Ljava.lang.String;@5a1d1a72) AS __r#6",
      "         +- Scan ExistingRDD graft.Foo$$Lambda/0x00007f3c1d2e4a58@1b2c3d4e",
      "            +- FileScan parquet [id#1L] Location: InMemoryFileIndex(1 paths)" +
        "[file:/tmp/graft_dense_q_8123456789012345678/idx/members]",
      "            +- FileScan parquet [id#2L] Location: [file:/tmp/graft-xesv28123456789012345678]",
      "            +- Filter (k#3 <= 10) AND isnotnull(plan_id#4)").mkString("\n")
    assert(PlanLedger.normalize(plan) == Seq(
      "AdaptiveSparkPlan isFinalPlan=false",
      "+- Project [id#L, _common_expr_# AS cos#]",
      "   +- Exchange hashpartitioning(id#L, 4), ENSURE_REQUIREMENTS, [plan_id=]",
      "      +- centroid_dists(nd#, [D@, 16) AS __d#",
      "      +- token_replay(__seq#, [Ljava.lang.String;@) AS __r#",
      "         +- Scan ExistingRDD graft.Foo$$Lambda@",
      "            +- FileScan parquet [id#L] Location: InMemoryFileIndex(1 paths)" +
        "[file:/tmp/graft_dense_q_*/idx/members]",
      "            +- FileScan parquet [id#L] Location: [file:/tmp/graft-xesv*]",
      "            +- Filter (k# <= 10) AND isnotnull(plan_id#)").mkString("\n"))
  }
}
