package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{EventsQueries, PipelineQueries, Q, RelationalQueries, WarehouseQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` maps every implemented SURVEY.md §2 operator to a runnable
  * query over the synthetic tables; `oracleSql` carries the DuckDB
  * equivalent for the hash-compare gate (column names aligned).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.all
      .find(_.name == "q02_revenue_by_nation")
      .get
      .run(spark, "/root/testdata/sf0.001")

  /** The catalog cells, in catalog order, served exactly as written:
    * each `run` is the frame [[queries]] serves, and each cell keeps its
    * declared setups (the harnesses run those untimed before the cell).
    *
    * Row order is part of a cell's source, not of this surface. Only the
    * cells of `RelationalQueries.all` (q01–q22, q28) end in a global
    * `ORDER BY`: they order bounded aggregate outputs for the reference's
    * dashboard visuals, and RelationalInvariantsSpec asserts row-order
    * properties (pareto cumulative, date spine, month-over-month) on the
    * served frames. Every other cell, q23–q27 and q29–q32 included, ends
    * without one: its consumers (the oracle gate hashes SORTED rows, the
    * bench writes to the noop sink) never observe order, and a trailing
    * sort would cost a range-sampling job, a full output exchange and
    * the sort itself on the timed path. A caller that needs order sorts
    * its own rows. PlanSpec pins this boundary.
    */
  private[graft] def cells: Seq[Q] =
    RelationalQueries.all ++ EventsQueries.all ++ PipelineQueries.all ++ WarehouseQueries.all

  /** One entry per implemented operator from SURVEY.md §2: each cell's
    * `run` from [[cells]] (setups are not folded in: each `run` calls
    * its own).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    cells.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    cells.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
