package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7 + the builder prompt.
  *
  * Query registries live in per-domain modules and are merged here:
  *   - [[graft.queries.Core]]    — relational analytics (SURVEY §2.4/§2.6)
  *   - [[graft.queries.Flights]] — flight-pipeline semantics on CSV fixtures
  *   - [[graft.ops.Dedup]]       — exact + near-duplicate detection
  *   - [[graft.ops.TextAnalysis]]— language/quality/token/fingerprint
  *   - [[graft.ops.Similarity]]  — embedding cosine top-k / ANN
  *   - [[graft.ops.EventTime]]   — tumbling/sliding/session windows
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q04_revenue_by_nation")(spark, "/root/testdata/sf0.001")

  /** Every registered module, each listed once. */
  private def modules: Seq[QueryModule] = Seq(
    graft.queries.Core, graft.queries.Flights, graft.queries.StarQueries,
    graft.queries.Stats, graft.ops.TextAnalysis, graft.ops.EventTime,
    graft.ops.Similarity, graft.ops.Dedup, graft.ops.Multimodal,
    graft.ops.Curation, graft.ops.Assembly, graft.ops.Bpe,
    graft.ops.Boilerplate, graft.ops.Layout, graft.ops.BloomJoin,
    graft.ops.Scd, graft.ops.Expectations, graft.ops.Graphs,
    graft.ops.RangeJoin, graft.queries.Cohorts, graft.queries.Drift,
    graft.ops.PartitionedFacts, graft.ops.Bucketing, graft.ops.Cdc,
    graft.ops.Privacy, graft.ops.MatView, graft.ops.PostingsIndex)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    modules.foldLeft(Map.empty[String, (SparkSession, String) => DataFrame])(_ ++ _.queries)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    modules.foldLeft(Map.empty[String, String])(_ ++ _.oracle)

  /** Queries driven by checked-in fixtures rather than the sf-scaled
    * testdata tables: their runtime is constant in SF, so Bench reports
    * them separately from the sf-scaled headline total. */
  def constQueries: Set[String] =
    modules.filter(_.fixtureDriven).flatMap(_.queries.keySet).toSet
}
