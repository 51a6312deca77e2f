package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator inventory: SURVEY.md §2 parity ops
  * (EventQueries), relational headline shapes (RelationalQueries), and
  * the training-data-pipeline layer (PipelineQueries: dedup tiers,
  * similarity search, text analysis, multimodal plumbing). `oracleSql`
  * carries the DuckDB-equivalent SQL for every query whose semantics
  * are SQL-expressible with cross-engine-deterministic arithmetic.
  * The inherently approximate / driver-algebra operators intentionally
  * have NO oracle entry — the driver records a rows-only check — and
  * are instead recall/property-tested against their exact
  * counterparts; the AUTHORITATIVE rows-only list, with one pinned
  * reason and the gating spec per query, is
  * ContractSpec.rowsOnlyByDesign (a new query cannot ship without an
  * oracle or an entry there). The LSH
  * scale arms whose output at the GATED sf0.01 fixture EQUALS their
  * exact twin (q_minhash_lsh, q_curation_lsh, q_embed_neardup_lsh)
  * carry the twin's oracle — the equality is a fixture-scale
  * property, not an identity: the round-13 whole-oracle sf0.1 sweep
  * measured q_embed_neardup_lsh at a strict SUBSET of the exact arm
  * (3953 of 4147 pairs, zero spurious — the one-sided bucket-miss
  * contract degrading gracefully at 10×, see SURVEY §2.9).
  * q_ngram_jaccard_capped under-counts BY CONTRACT and
  * is rows-only, with q_hot_postings as its oracle-checked audit.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_eventlog_pipeline")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.EventQueries.queries ++
      graft.queries.RelationalQueries.queries ++
      graft.queries.PipelineQueries.queries

  /** The query names a comma-separated `SPARK_GRAFT_ONLY` list selects.
    * Blank entries are skipped. Left carries the error when a name is
    * not a query or no name is left: a subset run that matches nothing
    * would otherwise "pass" by running nothing.
    */
  def only(list: String): Either[String, Set[String]] = {
    val names = list.split(",").map(_.trim).filter(_.nonEmpty).toSet
    val unknown = names -- queries.keySet
    if (names.isEmpty) Left(s"SPARK_GRAFT_ONLY names no query: '$list'")
    else if (unknown.nonEmpty)
      Left(s"SPARK_GRAFT_ONLY names unknown queries: ${unknown.toSeq.sorted.mkString(", ")}")
    else Right(names)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    graft.queries.EventQueries.oracleSql ++
      graft.queries.RelationalQueries.oracleSql ++
      graft.queries.PipelineQueries.oracleSql
}
