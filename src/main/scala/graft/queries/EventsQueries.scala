package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.sources.Tables

/** Event-stream analytics (batch view of the events table; the streaming
  * twin of q23 lives in graft.streaming and is asserted equal in tests).
  *
  * `ts` decodes through the footer-adaptive reader (sources/Tables), so
  * Spark and the DuckDB oracle may see different sub-second precision
  * depending on the fixture encoding — every output therefore truncates
  * to ≥ second granularity.
  */
object EventsQueries {

  private def m(c: org.apache.spark.sql.Column) = c.cast(DecimalType(12, 2))
  private def dbl(c: org.apache.spark.sql.Column) = c.cast(DoubleType)

  // ---------------------------------------------------------------------
  // q23 — daily event rollup (tumbling 1-day batch aggregation; the batch
  // twin of the Structured Streaming window in streaming/EventsStream).
  // ---------------------------------------------------------------------
  private def q23(spark: SparkSession, dir: String): DataFrame = {
    Tables
      .events(spark, dir)
      .groupBy(to_date(col("ts")).as("jour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dbl(sum(m(col("value")))).as("total_value")
      )
  }
  private val q23Sql =
    """SELECT CAST(ts AS DATE) AS jour, event_type,
      |  COUNT(*) AS n_events,
      |  COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------------
  // q24 — gap-based sessionization (30-min inactivity): LAG over the
  // per-user event sequence, session-start flags, running count. The
  // window partitions by user_id — shuffles once on user, scales with
  // users, no global window.
  // ---------------------------------------------------------------------
  private def q24(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables
      .events(spark, dir)
      .withColumn("ts_s", unix_timestamp(date_trunc("second", col("ts"))))
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_s"), col("event_id"))
    e.withColumn("prev_s", lag(col("ts_s"), 1).over(w))
      .withColumn(
        "new_session",
        when(col("prev_s").isNull || col("ts_s") - col("prev_s") > 1800, 1L).otherwise(0L)
      )
      .groupBy(col("user_id"))
      .agg(
        sum(col("new_session")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        (count(lit(1)).cast(DoubleType) / sum(col("new_session"))).as("events_par_session")
      )
  }
  private val q24Sql =
    """WITH seq AS (
      |  SELECT user_id, event_id,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s,
      |         LAG(CAST(epoch(date_trunc('second', ts)) AS BIGINT), 1)
      |           OVER (PARTITION BY user_id ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT), event_id) AS prev_s
      |  FROM events
      |), flagged AS (
      |  SELECT user_id,
      |         CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END AS new_session
      |  FROM seq
      |)
      |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events,
      |       CAST(COUNT(*) AS DOUBLE) / SUM(new_session) AS events_par_session
      |FROM flagged
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // q25 — pivot event types to columns (the BI matrix/pivot surface,
  // SURVEY §2.10): explicit value list keeps the plan single-pass and
  // deterministic (no value-discovery job).
  // ---------------------------------------------------------------------
  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")
  private def q25(spark: SparkSession, dir: String): DataFrame = {
    val pivoted = Tables
      .events(spark, dir)
      .groupBy(to_date(col("ts")).as("jour"))
      .pivot("event_type", eventTypes)
      .count()
    eventTypes
      .foldLeft(pivoted)((df, t) => df.withColumn(s"n_$t", coalesce(col(t), lit(0L))).drop(t))
  }
  private val q25Sql =
    """SELECT CAST(ts AS DATE) AS jour,
      |  COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
      |  COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
      |  COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
      |  COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
      |  COUNT(*) FILTER (WHERE event_type = 'view') AS n_view
      |FROM events
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------------
  // q29 — JSON property extraction (the events.props payload): scalar
  // JSON-path access inside codegen, aggregated. The reference has no
  // JSON (SURVEY §2.8) — this covers the pipeline-tier need.
  // ---------------------------------------------------------------------
  private def q29(spark: SparkSession, dir: String): DataFrame =
    Tables
      .events(spark, dir)
      .select(
        col("event_type"),
        get_json_object(col("props"), "$.k").cast(IntegerType).as("k")
      )
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("k")).cast(LongType).as("somme_k"),
        min(col("k")).as("k_min"),
        max(col("k")).as("k_max")
      )
  private val q29Sql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT) AS somme_k,
      |  MIN(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_min,
      |  MAX(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS k_max
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // j01 — as-of join: each error event picks up the most recent prior
  // click of the same user (inclusive bound, deterministic max-event_id
  // tiebreak). Runs the distributed union+window formulation — ONE
  // shuffle on user_id, no range cross product (operators/AsOfJoin);
  // the oracle states the same semantics as correlated point lookups.
  // ---------------------------------------------------------------------
  private def j01(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    graft.operators.AsOfJoin
      .backward(
        left = e.filter(col("event_type") === "error").select("event_id", "user_id", "ts"),
        right = e.filter(col("event_type") === "click"),
        keys = Seq("user_id"),
        leftTime = "ts",
        rightTime = "ts",
        payload = Seq("event_id", "value"),
        rightOrder = "event_id",
        prefix = "prev_click_"
      )
      .select(col("event_id"), col("user_id"),
        col("prev_click_event_id").as("prev_click_id"),
        col("prev_click_value").as("prev_click_value"))
  }
  private val j01Sql =
    """WITH clicks AS (SELECT * FROM events WHERE event_type = 'click'),
      |errors AS (SELECT * FROM events WHERE event_type = 'error')
      |SELECT e.event_id, e.user_id,
      |  (SELECT r.event_id FROM clicks r WHERE r.user_id = e.user_id AND r.ts <= e.ts
      |   ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS prev_click_id,
      |  (SELECT r.value FROM clicks r WHERE r.user_id = e.user_id AND r.ts <= e.ts
      |   ORDER BY r.ts DESC, r.event_id DESC LIMIT 1) AS prev_click_value
      |FROM errors e
      |ORDER BY e.event_id""".stripMargin

  // ---------------------------------------------------------------------
  // j02 — range join: every click landing inside the 1-hour incident
  // window opened by each error event of the same user (inclusive
  // bounds), rolled up per incident. Runs the bucketed interval join —
  // equi-join on (user_id, epoch bucket) with the BETWEEN predicate as
  // a residual filter, never a nested-loop (operators/RangeJoin); the
  // oracle states the same semantics as a plain BETWEEN join. Epochs
  // are MICROSECONDS (ts carries sub-second digits; second-truncation
  // would move points across window edges). Sum over value follows the
  // catalog decimal convention.
  // ---------------------------------------------------------------------
  private def j02(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val hourUs = 3600L * 1000000L
    val incidents = e.filter(col("event_type") === "error")
      .select(
        col("event_id").as("incident_id"),
        col("user_id"),
        unix_micros(col("ts")).as("w_start"),
        (unix_micros(col("ts")) + hourUs).as("w_end"))
    val clicks = e.filter(col("event_type") === "click")
      .select(
        col("user_id"),
        col("event_id").as("click_id"),
        unix_micros(col("ts")).as("click_us"),
        col("value"))
    graft.operators.RangeJoin
      .pointInInterval(clicks, incidents, Seq("user_id"),
        "click_us", "w_start", "w_end", bucketWidth = hourUs)
      .groupBy(col("incident_id"), col("user_id"))
      .agg(
        count(lit(1)).as("n_clicks"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("somme_valeur"),
        min(col("click_id")).as("premier_click"))
  }
  private val j02Sql =
    """SELECT i.event_id AS incident_id, i.user_id,
      |  COUNT(*) AS n_clicks,
      |  CAST(SUM(CAST(c.value AS DECIMAL(18,6))) AS DOUBLE) AS somme_valeur,
      |  MIN(c.event_id) AS premier_click
      |FROM events i
      |JOIN events c
      |  ON i.user_id = c.user_id
      | AND i.event_type = 'error' AND c.event_type = 'click'
      | AND epoch_us(c.ts) >= epoch_us(i.ts)
      | AND epoch_us(c.ts) <= epoch_us(i.ts) + 3600000000
      |GROUP BY i.event_id, i.user_id
      |ORDER BY i.event_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q29_json_props", "JSON path extraction over event props", q29, Some(q29Sql)),
    Q("j01_asof_join", "as-of join: latest prior click per error event", j01, Some(j01Sql)),
    Q("j02_range_join", "bucketed range join: clicks within each error's 1-hour window", j02, Some(j02Sql)),
    Q("q23_events_daily", "tumbling daily event rollup (streaming twin)", q23, Some(q23Sql)),
    Q("q24_sessionization", "gap-based sessions via LAG (W2 on streams)", q24, Some(q24Sql)),
    Q("q25_event_pivot", "pivot to columns (BI matrix)", q25, Some(q25Sql))
  )
}
