package graft.engine

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Conventions (see SURVEY.md §4, §7):
  *   - UTC session timezone: oracle (DuckDB) parity for all date extraction.
  *   - shuffle.partitions sized to cores, not the 200 default — on a real
  *     cluster this is set per-job to ~2-3x total cores; AQE coalesces down.
  *   - AQE on: runtime re-planning (skew joins, partition coalescing) is the
  *     100 TB-scale answer to the reference's static PG planner.
  */
object Session {
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // local mode: the driver IS the whole machine, so the 1g collect
      // ceiling is needlessly tight for the sig/sketch broadcasts the
      // dedup tier sizes against (they clamp to THIS limit) — 4g default,
      // env-overridable for bigger tiers
      .config("spark.driver.maxResultSize",
        sys.env.getOrElse("SPARK_GRAFT_MAX_RESULT_SIZE", "4g"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The session every catalog harness runs on (Bench, Verify, OneQuery,
    * JobTrace, ExplainAll, ScaleStress): [[local]] at SPARK_GRAFT_CPUS
    * cores (default: all available), so a tool that adjudicates a bench
    * cell runs it under exactly the bench's SQL conf.
    */
  def fromEnv(): SparkSession =
    local(sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt))
}
