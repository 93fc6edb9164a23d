package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** ETL-time constraint validation — the engine-side replacement for the
  * reference's DDL enforcement (SURVEY §1.2: NOT NULL / CHECK / enum
  * domain / PK / FK, e.g. `creationdatwareh.sql:109` `montant CHECK >= 0`,
  * `filmdb.sql:140` mpaa_rating enum, `:133` year domain, FKs
  * `:48017-48332`). Spark does not enforce constraints, so a warehouse
  * load validates explicitly and the report becomes part of the pipeline.
  *
  * Scale design: all row rules for a table evaluate in ONE aggregate
  * pass (map-side combined — no per-rule scan); PK checks are a
  * hash-groupBy on the key; FK checks are a left-anti join (broadcast
  * when the parent's key projection is small, shuffle otherwise). Each
  * report row is (regle, violations) so reports from many tables union
  * into one quality summary.
  */
object Validate {

  /** A row-level rule: `holds` must be TRUE for a valid row; NULL counts
    * as a violation (PG CHECK treats NULL as pass, but an ETL quality
    * gate wants unknowns surfaced, so this is deliberately stricter).
    */
  final case class RowRule(name: String, holds: Column)

  def notNull(cols: String*): Seq[RowRule] =
    cols.map(c => RowRule(s"${c}_not_null", col(c).isNotNull))

  def inSet(c: String, values: Seq[String]): RowRule =
    RowRule(s"${c}_domain", col(c).isin(values: _*))

  def inRange(c: String, lo: Long, hi: Long): RowRule =
    RowRule(s"${c}_range", col(c).between(lo, hi))

  /** Violation counts for all row rules in a single aggregate pass. */
  def rowReport(df: DataFrame, rules: Seq[RowRule]): DataFrame = {
    require(rules.nonEmpty, "no rules given")
    val aggs = rules.map(r =>
      sum(when(coalesce(r.holds, lit(false)), 0L).otherwise(1L)).as(r.name))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackArgs = rules.map(r => s"'${r.name}', ${r.name}").mkString(", ")
    one.select(expr(s"stack(${rules.length}, $stackArgs) as (regle, violations)"))
  }

  /** Count of key tuples that occur more than once (0 = PK holds). */
  def primaryKeyReport(df: DataFrame, name: String, keys: Seq[String]): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .agg(coalesce(count(lit(1)), lit(0L)).as("violations"))
      .select(lit(name).as("regle"), col("violations"))

  /** Count of child rows whose (non-null) key has no parent row. */
  def foreignKeyReport(
      child: DataFrame,
      childKeys: Seq[String],
      parent: DataFrame,
      parentKeys: Seq[String],
      name: String
  ): DataFrame = {
    val parentSide = parent
      .select(parentKeys.zip(childKeys).map { case (p, c) => col(p).as(c) }: _*)
      .distinct()
    child
      .select(childKeys.map(col): _*)
      .filter(childKeys.map(col(_).isNotNull).reduce(_ && _))
      .join(parentSide, childKeys, "left_anti")
      .agg(coalesce(count(lit(1)), lit(0L)).as("violations"))
      .select(lit(name).as("regle"), col("violations"))
  }

  /** Union of report fragments, one row per rule. */
  def summary(reports: DataFrame*): DataFrame =
    reports.reduce(_.unionByName(_))
}
