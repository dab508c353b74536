package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.GraftSession
import graft.queries.{AnnQueries, DedupQueries, ExtendedRelationalQueries, ExtensionQueries, FunctionQueries, LlmQueries, PipelineQueries, MultimodalQueries, ReferenceQueries, SqlSurfaceQueries, TextQueries}
import graft.streaming.StreamingQueries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the declared inventory of SURVEY §2.4: one entry per
  * implemented operator/query; `oracleSql` carries the DuckDB-equivalent
  * SQL for every entry that is SQL-expressible (the driver hash-matches
  * results at sf0.01). Column names and orderings match pairwise by
  * construction — every computed column is aliased identically on both
  * sides.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * R5 = scan→agg→sort, the reference's grouped-count pipeline shape
    * (lineitem-based: robust to any session config the driver uses). */
  def entry(spark: SparkSession): DataFrame =
    ReferenceQueries.r5GroupCount(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * activates the session it is given (a no-op on factory sessions),
    * so the graft functions and planner strategy are there on a session
    * the driver built. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (ReferenceQueries.queries ++ ExtensionQueries.queries ++
      LlmQueries.queries ++ StreamingQueries.queries ++
      TextQueries.queries ++ DedupQueries.queries ++
      AnnQueries.queries ++ MultimodalQueries.queries ++
      ExtendedRelationalQueries.queries ++ FunctionQueries.queries ++
      PipelineQueries.queries ++ SqlSurfaceQueries.queries).map { case (name, fn) =>
      name -> { (spark: SparkSession, dir: String) =>
        GraftSession.activate(spark)
        fn(spark, dir)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ReferenceQueries.oracleSql ++ ExtensionQueries.oracleSql ++
      LlmQueries.oracleSql ++ StreamingQueries.oracleSql ++
      TextQueries.oracleSql ++ DedupQueries.oracleSql ++
      AnnQueries.oracleSql ++ MultimodalQueries.oracleSql ++
      ExtendedRelationalQueries.oracleSql ++ FunctionQueries.oracleSql ++
      PipelineQueries.oracleSql ++ SqlSurfaceQueries.oracleSql
}
