package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One catalog entry: a Spark query over the synthetic tables plus (when
  * SQL-expressible) the equivalent DuckDB oracle SQL. Column names of the
  * Spark result and the oracle MUST match — the driver's comparator sorts
  * columns by name before hashing (see the builder contract).
  *
  * Numeric-parity conventions used across the catalog (so Spark and DuckDB
  * hash-match bit-for-bit):
  *   - Money doubles are 2-decimal values: cast to DECIMAL before SUM
  *     (exact, order-independent), cast the final aggregate to DOUBLE.
  *   - Ratios/averages: double division of exact values, never decimal
  *     division (scale rules differ between engines).
  *   - Window sums run over DECIMAL (exact) — double window sums are
  *     evaluation-order-dependent and diverge between engines.
  *   - Every ORDER BY / LIMIT / NTILE ordering is made total with a unique
  *     key tiebreak (top-k tie order is otherwise nondeterministic).
  */
final case class Q(
    name: String,
    doc: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    /** Bench budget class (SCALE.md "Per-class budget model"): `true`
      * for COMPOSED cells — streaming micro-batch drains, published-
      * store maintenance with read-back proofs, multi-stage pipelines —
      * whose measured quiet marginal cost (2–5 s at sf0.1) is a
      * different class from a relational/kernel query's (0.2–1.4 s).
      * The bench TOTAL budget is derived from the class mix instead of
      * one flat per-cell rate (r18 verdict ask #6: every added composed
      * cell was a forced withdrawal from the same margin account).
      */
    heavy: Boolean = false,
    /** Load-phase fixtures the cell reads (published stores, staged
      * feeds): the harnesses run them untimed before the cell, in
      * catalog order. Each is idempotent (it checks its own fingerprint
      * marker) and `run` still calls it, so a cell stays self-sufficient.
      */
    setup: Seq[(SparkSession, String) => Unit] = Nil
)
