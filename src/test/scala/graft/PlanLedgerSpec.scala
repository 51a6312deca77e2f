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
}
