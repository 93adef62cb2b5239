package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.analytics.{Dedup, ExtendedQueries, FormatQueries, GraphOps, Multimodal, NearDup, PipelineOps, RelationalQueries, Similarity, StreamingQueries, TextAnalytics}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's registered operator surface: every implemented
  * operator from SURVEY §2 (plus the LLM-pipeline analytics) has an entry
  * here, and each SQL-expressible entry has a DuckDB oracle in [[oracleSql]]
  * with identical output column names (the driver's compare sorts columns by
  * name before hashing).
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q3RevenueByNation(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    RelationalQueries.queries ++ TextAnalytics.queries ++ Dedup.queries ++
      StreamingQueries.queries ++ NearDup.queries ++ Similarity.queries ++
      Multimodal.queries ++ ExtendedQueries.queries ++ PipelineOps.queries ++
      FormatQueries.queries ++ GraphOps.queries

  /** The registered-surface FLOOR: round 6's correctness artifact silently
    * shrank from 115 to 98 entries with rc=0 (a query-map merge dropped
    * entries without any failure record) and only a human diffing entry
    * counts caught it. Verify hard-fails when `queries` falls below this;
    * bump it in the same commit that registers a new query. */
  val expectedQueryCount: Int = 203

  /** Stands, in an oracle, for the files the entry's result reads when
    * these are landed by the entry itself (s19's event log, in its scratch
    * dir). Verify keeps a copy of them in the entry's dump, at
    * [[inputsDir]], and writes that path into the oracle. */
  val EntryInputs = "@entry_inputs@"

  /** The copy of an entry's inputs in its dump at `dumpDir`: `_`-prefixed,
    * so Spark, pyarrow and a `*.parquet` glob over the dump skip it. */
  def inputsDir(dumpDir: String): String = s"$dumpDir/_inputs"

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    RelationalQueries.oracles ++ TextAnalytics.oracles ++ Dedup.oracles ++
      StreamingQueries.oracles ++ NearDup.oracles ++ Similarity.oracles ++
      Multimodal.oracles ++ ExtendedQueries.oracles ++ PipelineOps.oracles ++
      FormatQueries.oracles ++ GraphOps.oracles
}
