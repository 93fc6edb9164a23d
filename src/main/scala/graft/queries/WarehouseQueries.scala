package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.engine.Fixture
import graft.etl.Star
import graft.measures.{Filters, Measures}

/** Warehouse tier: the star-schema ETL outputs themselves as gated
  * queries (the reference's dblink ETL, SURVEY §3.2), the parameterized
  * measure layer with slicer filters (§2.10/P11), and the scalar
  * function suite (§2.8: initcap, AGE-style month spans, TO_CHAR month
  * labels).
  */
object WarehouseQueries {

  // ---------------------------------------------------------------------
  // etl01 — dim_date: dense spine + smart key + period starts.
  // ---------------------------------------------------------------------
  private def etl01(spark: SparkSession, dir: String): DataFrame =
    Star.dimDate(Tables.orders(spark, dir))
  private val etl01Sql =
    """WITH RECURSIVE spine(jour) AS (
      |  SELECT CAST(MIN(o_orderdate) AS DATE) FROM orders
      |  UNION ALL
      |  SELECT CAST(jour + INTERVAL 1 DAY AS DATE) FROM spine
      |  WHERE jour < (SELECT CAST(MAX(o_orderdate) AS DATE) FROM orders)
      |)
      |SELECT CAST(EXTRACT(YEAR FROM jour)*10000 + EXTRACT(MONTH FROM jour)*100 + EXTRACT(DAY FROM jour) AS INTEGER) AS date_key,
      |  jour,
      |  CAST(EXTRACT(YEAR FROM jour) AS INTEGER) AS annee,
      |  CAST(EXTRACT(QUARTER FROM jour) AS INTEGER) AS trimestre,
      |  CAST(EXTRACT(MONTH FROM jour) AS INTEGER) AS mois,
      |  CAST(EXTRACT(DAY FROM jour) AS INTEGER) AS jour_mois,
      |  CAST(date_trunc('month', jour) AS DATE) AS debut_mois,
      |  CAST(date_trunc('quarter', jour) AS DATE) AS debut_trimestre,
      |  CAST(date_trunc('year', jour) AS DATE) AS debut_annee
      |FROM spine
      |ORDER BY date_key""".stripMargin

  // ---------------------------------------------------------------------
  // etl02 — dim_client: denormalized geo + row_number surrogate key.
  // ---------------------------------------------------------------------
  private def etl02(spark: SparkSession, dir: String): DataFrame =
    Star
      .dimCustomer(
        Tables.customer(spark, dir),
        Tables.nation(spark, dir),
        Tables.region(spark, dir)
      )
  private val initcapDuck =
    "array_to_string(list_transform(string_split(lower(%s), ' '), w -> upper(w[1]) || w[2:]), ' ')"
  private val etl02Sql =
    s"""SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS client_key,
       |  c_custkey AS source_client_id,
       |  c_name AS nom_client,
       |  ${initcapDuck.format("n_name")} AS nation,
       |  ${initcapDuck.format("r_name")} AS region,
       |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS solde
       |FROM customer
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |ORDER BY client_key""".stripMargin

  // ---------------------------------------------------------------------
  // etl03 — fact: business keys resolved to surrogates, smart date key.
  // ---------------------------------------------------------------------
  private def etl03(spark: SparkSession, dir: String): DataFrame =
    Star
      .factOrders(
        Tables.orders(spark, dir),
        Star.dimCustomer(
          Tables.customer(spark, dir),
          Tables.nation(spark, dir),
          Tables.region(spark, dir)
        )
      )
  private val etl03Sql =
    """WITH dim_client AS (
      |  SELECT ROW_NUMBER() OVER (ORDER BY c_custkey) AS client_key, c_custkey
      |  FROM customer
      |  JOIN nation ON c_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |)
      |SELECT o_orderkey AS source_commande_id,
      |  CAST(EXTRACT(YEAR FROM o_orderdate)*10000 + EXTRACT(MONTH FROM o_orderdate)*100 + EXTRACT(DAY FROM o_orderdate) AS INTEGER) AS date_key,
      |  client_key,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS montant,
      |  o_orderstatus AS statut
      |FROM orders JOIN dim_client ON o_custkey = c_custkey
      |ORDER BY source_commande_id""".stripMargin

  // ---------------------------------------------------------------------
  // etl04 — the incremental ETL (§2.9): the Structured Streaming
  // foreachBatch MERGE loader drained against the static feed must land
  // on exactly the table the one-shot batch build produces — the oracle
  // IS that batch SQL, so re-runnability/idempotence of the incremental
  // path is hash-gated, not just spec-asserted.
  // ---------------------------------------------------------------------
  private def etl04Target(dir: String): String = Fixture.workDir("etl04", dir)

  /** Untimed load-phase setup, declared on etl04's cell (the io02Setup
    * pattern): stage the 4-file feed once so the measured etl04 is the incremental
    * loader itself, not the test-harness file staging.
    */
  def etl04Setup(spark: SparkSession, dir: String): Unit =
    graft.streaming.IncrementalEtl.stageFeed(spark, dir, etl04Target(dir))

  private def etl04(spark: SparkSession, dir: String): DataFrame = {
    val tgt = etl04Target(dir)
    graft.streaming.IncrementalEtl
      .run(spark, dir, tgt)
      .select(
        col("source_commande_id"),
        col("date_key"),
        col("montant").cast(DoubleType).as("montant"),
        col("statut")
      )
  }
  private val etl04Sql =
    """SELECT o_orderkey AS source_commande_id,
      |  CAST(EXTRACT(YEAR FROM o_orderdate)*10000 + EXTRACT(MONTH FROM o_orderdate)*100 + EXTRACT(DAY FROM o_orderdate) AS INTEGER) AS date_key,
      |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS montant,
      |  o_orderstatus AS statut
      |FROM orders
      |ORDER BY source_commande_id""".stripMargin

  // ---------------------------------------------------------------------
  // etl05 — ETL-time constraint validation (SURVEY §1.2: the engine-side
  // replacement for the reference's DDL enforcement — CHECK montant>=0,
  // enum domains, NOT NULL, PK, FK). Row rules run in ONE aggregate pass
  // per table; PK = hash-groupBy; FK = left-anti join. The range rule is
  // deliberately violated by the data (~half of lineitem) so the report
  // is non-trivial.
  // ---------------------------------------------------------------------
  private def etl05(spark: SparkSession, dir: String): DataFrame = {
    import graft.etl.Validate
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)
    Validate.summary(
      Validate.rowReport(
        orders,
        Validate.RowRule("o_totalprice_check", col("o_totalprice") >= 0) +:
          Validate.inSet("o_orderstatus", Seq("F", "O", "P")) +:
          Validate.notNull("o_orderdate")
      ),
      Validate.rowReport(lineitem, Seq(Validate.inRange("l_quantity", 1, 25))),
      Validate.primaryKeyReport(orders, "pk_orders", Seq("o_orderkey")),
      Validate.foreignKeyReport(lineitem, Seq("l_orderkey"), orders, Seq("o_orderkey"),
        "fk_lineitem_orders")
    )
  }
  private val etl05Sql =
    """SELECT regle, violations FROM (
      |  SELECT 'o_totalprice_check' AS regle,
      |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(o_totalprice >= 0, FALSE)) AS BIGINT) AS violations
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderstatus_domain',
      |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(o_orderstatus IN ('F','O','P'), FALSE)) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'o_orderdate_not_null',
      |    CAST(COUNT(*) FILTER (WHERE o_orderdate IS NULL) AS BIGINT)
      |  FROM orders
      |  UNION ALL
      |  SELECT 'l_quantity_range',
      |    CAST(COUNT(*) FILTER (WHERE NOT COALESCE(l_quantity BETWEEN 1 AND 25, FALSE)) AS BIGINT)
      |  FROM lineitem
      |  UNION ALL
      |  SELECT 'pk_orders',
      |    CAST((SELECT COUNT(*) FROM (SELECT o_orderkey FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)) AS BIGINT)
      |  UNION ALL
      |  SELECT 'fk_lineitem_orders',
      |    CAST((SELECT COUNT(*) FROM lineitem l
      |          WHERE l.l_orderkey IS NOT NULL
      |            AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT)
      |)
      |ORDER BY regle""".stripMargin

  // ---------------------------------------------------------------------
  // etl06 — surrogate keys at scale: the two-phase distributed dense-id
  // assignment (range partition → per-partition counts → offset map)
  // must equal ROW_NUMBER() OVER (ORDER BY key) — the reference's
  // sequence semantics — without the single-task sort the window
  // formulation pays (SurrogateSpec pins the plan difference).
  // ---------------------------------------------------------------------
  private def etl06(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Surrogate
      .denseId(
        Tables.customer(spark, dir).select(col("c_custkey"), col("c_name")),
        "client_key",
        Seq(col("c_name")))
  private val etl06Sql =
    """SELECT c_custkey, c_name,
      |  ROW_NUMBER() OVER (ORDER BY c_name) AS client_key
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------------
  // q26 — measure layer with slicer filters (annee=1997, nation=France):
  // filters hit the DIMENSIONS, the fact is restricted via broadcast
  // left-semi joins on surviving keys — the semantic-model filter
  // propagation pattern (J10).
  // ---------------------------------------------------------------------
  private def q26(spark: SparkSession, dir: String): DataFrame = {
    val orders = Tables.orders(spark, dir)
    val dimDate = Star.dimDate(orders)
    val dimClient = Star.dimCustomer(
      Tables.customer(spark, dir),
      Tables.nation(spark, dir),
      Tables.region(spark, dir)
    )
    val fact = Star.factOrders(orders, dimClient)
    Measures.kpis(Measures.slice(fact, dimDate, dimClient, Filters(annee = Some(1997), nation = Some("France"))))
  }
  private val q26Sql =
    """SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS ca_total,
      |  COUNT(*) AS n_commandes,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS panier_moyen,
      |  COUNT(DISTINCT o_custkey) AS clients_actifs
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |WHERE EXTRACT(YEAR FROM o_orderdate) = 1997 AND n_name = 'FRANCE'""".stripMargin

  // ---------------------------------------------------------------------
  // q27 — scalar function suite (§2.8): INITCAP, AGE-style month span
  // (months_between over month-truncated dates), TO_CHAR 'Mon YYYY'
  // (date_format MMM yyyy, English locale on both engines).
  // ---------------------------------------------------------------------
  private def q27(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy(initcap(col("n_name")).as("nation"))
      .agg(
        to_date(min(col("o_orderdate"))).as("premiere"),
        to_date(max(col("o_orderdate"))).as("derniere")
      )
      .select(
        col("nation"),
        col("premiere"),
        col("derniere"),
        months_between(date_trunc("month", col("derniere")), date_trunc("month", col("premiere")))
          .cast(LongType)
          .as("mois_ecart"),
        date_format(col("derniere"), "MMM yyyy").as("dernier_mois"),
        datediff(col("derniere"), col("premiere")).cast(LongType).as("jours_ecart")
      )
  }
  private val q27Sql =
    s"""SELECT ${initcapDuck.format("n_name")} AS nation,
       |  CAST(MIN(o_orderdate) AS DATE) AS premiere,
       |  CAST(MAX(o_orderdate) AS DATE) AS derniere,
       |  CAST(datediff('month', date_trunc('month', MIN(o_orderdate)), date_trunc('month', MAX(o_orderdate))) AS BIGINT) AS mois_ecart,
       |  strftime(CAST(MAX(o_orderdate) AS DATE), '%b %Y') AS dernier_mois,
       |  CAST(datediff('day', CAST(MIN(o_orderdate) AS DATE), CAST(MAX(o_orderdate) AS DATE)) AS BIGINT) AS jours_ecart
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name
       |ORDER BY nation""".stripMargin

  // ---------------------------------------------------------------------
  // q30 — weekday box-and-whisker (§2.10 model artifacts, the pbix
  // dim_date.Jour_semaine computed column + page-1 visual): quartiles of
  // DAILY revenue by ISO weekday. Two hash aggregates — the percentile
  // population is days (~hundreds per weekday regardless of fact size),
  // so the second aggregate is O(days), never O(orders).
  // ---------------------------------------------------------------------
  private def q30(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables
      .orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("jour"))
      .agg(sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType).as("ca_jour"))
    daily
      .groupBy((weekday(col("jour")) + 1).cast(LongType).as("jour_semaine"))
      .agg(
        count(lit(1)).as("n_jours"),
        min(col("ca_jour")).as("ca_min"),
        expr("percentile(ca_jour, 0.25)").as("q1"),
        expr("percentile(ca_jour, 0.5)").as("mediane"),
        expr("percentile(ca_jour, 0.75)").as("q3"),
        max(col("ca_jour")).as("ca_max")
      )
  }
  // ---------------------------------------------------------------------
  // q31 — visual-level measure filter (§2.2 P12, the pbix "[CA Total] >
  // x" filters): per-nation CA through the measure layer, keeping only
  // groups whose MEASURE clears a share-of-total threshold — applied
  // after aggregation, unlike slicers. The 1-row grand total broadcasts.
  // ---------------------------------------------------------------------
  private def q31(spark: SparkSession, dir: String): DataFrame = {
    val dimClient = Star.dimCustomer(
      Tables.customer(spark, dir),
      Tables.nation(spark, dir),
      Tables.region(spark, dir)
    )
    val fact = Star.factOrders(Tables.orders(spark, dir), dimClient)
    Measures.caParGroupe(fact, dimClient, "client_key", "nation", minShare = Some(0.041))
  }
  private val q31Sql =
    s"""WITH agg AS (
       |  SELECT ${initcapDuck.format("n_name")} AS nation,
       |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS ca,
       |    COUNT(*) AS n
       |  FROM orders
       |  JOIN customer ON o_custkey = c_custkey
       |  JOIN nation ON c_nationkey = n_nationkey
       |  GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS ca_tot FROM orders
       |)
       |SELECT nation, ca, n
       |FROM agg, tot WHERE ca > ca_tot * 0.041
       |ORDER BY nation""".stripMargin

  // ---------------------------------------------------------------------
  // q32 — drill hierarchy as a ROLLUP tree (§2.10 model artifacts, the
  // pbix geo drill): Measures.drillAll over region→nation, niveau =
  // grouped-column count via grouping() (rollup-subtotal NULLs are
  // distinguished from data NULLs). One shuffle for every drill level.
  // ---------------------------------------------------------------------
  private def q32(spark: SparkSession, dir: String): DataFrame = {
    val dimClient = Star.dimCustomer(
      Tables.customer(spark, dir),
      Tables.nation(spark, dir),
      Tables.region(spark, dir)
    )
    val fact = Star.factOrders(Tables.orders(spark, dir), dimClient)
    Measures.drillAll(
      fact,
      graft.measures.Hierarchy(dimClient, "client_key", Seq("region", "nation")))
  }
  private val q32Sql =
    s"""SELECT
       |  CAST(2 - GROUPING(${initcapDuck.format("r_name")}) - GROUPING(${initcapDuck.format("n_name")}) AS INTEGER) AS niveau,
       |  ${initcapDuck.format("r_name")} AS region,
       |  ${initcapDuck.format("n_name")} AS nation,
       |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS ca,
       |  COUNT(*) AS n
       |FROM orders
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |JOIN region ON n_regionkey = r_regionkey
       |GROUP BY ROLLUP(${initcapDuck.format("r_name")}, ${initcapDuck.format("n_name")})
       |ORDER BY niveau, region, nation""".stripMargin

  private val q30Sql =
    """WITH daily AS (
      |  SELECT CAST(o_orderdate AS DATE) AS jour,
      |         CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS ca_jour
      |  FROM orders GROUP BY 1
      |)
      |SELECT isodow(jour) AS jour_semaine,
      |  COUNT(*) AS n_jours,
      |  MIN(ca_jour) AS ca_min,
      |  quantile_cont(ca_jour, 0.25) AS q1,
      |  quantile_cont(ca_jour, 0.5)  AS mediane,
      |  quantile_cont(ca_jour, 0.75) AS q3,
      |  MAX(ca_jour) AS ca_max
      |FROM daily
      |GROUP BY 1
      |ORDER BY jour_semaine""".stripMargin

  // ---------------------------------------------------------------------
  // s02 — custom-state streaming sessionization (mapGroupsWithState):
  // the streaming twin of q24, asserted equal in StreamingSpec and
  // against the q24-derived oracle here.
  // ---------------------------------------------------------------------
  private def s02(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream
      .runToCompletion(
        graft.streaming.EventsStream.sessionCounts(spark, dir),
        "graft_s02",
        mode = "update"
      )
  private val s02Sql =
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
      |SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions, COUNT(*) AS n_events
      |FROM flagged
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------------
  // s05 — flatMapGroupsWithState sessionization (§2.9): one row PER
  // closed session, emitted when a later event closes it; the trailing
  // open session stays in state (on an unbounded stream it is not yet
  // complete), so the oracle is every session except each user's last.
  // ---------------------------------------------------------------------
  private def s05(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream
      .runToCompletion(
        graft.streaming.EventsStream.sessionsFlat(spark, dir),
        "graft_s05",
        mode = "update"
      )
  private val s05Sql =
    """WITH seq AS (
      |  SELECT user_id, event_id,
      |         CAST(epoch(date_trunc('second', ts)) AS BIGINT) AS ts_s,
      |         LAG(CAST(epoch(date_trunc('second', ts)) AS BIGINT), 1)
      |           OVER (PARTITION BY user_id ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT), event_id) AS prev_s
      |  FROM events
      |), numbered AS (
      |  SELECT user_id, ts_s,
      |         SUM(CASE WHEN prev_s IS NULL OR ts_s - prev_s > 1800 THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ts_s, event_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM seq
      |), sess AS (
      |  SELECT user_id, sid, MIN(ts_s) AS debut_s, MAX(ts_s) AS fin_s, COUNT(*) AS n_events
      |  FROM numbered GROUP BY user_id, sid
      |), last AS (
      |  SELECT user_id, MAX(sid) AS last_sid FROM sess GROUP BY user_id
      |)
      |SELECT s.user_id, s.debut_s, s.fin_s, s.n_events
      |FROM sess s JOIN last l ON s.user_id = l.user_id AND s.sid < l.last_sid
      |ORDER BY s.user_id, s.debut_s""".stripMargin

  // ---------------------------------------------------------------------
  // v01 — the SQL surface: temp views layered on temp views, queried via
  // spark.sql — the reference's CREATE VIEW API with analyzer-side view
  // inlining (S6, §3.1 step 2).
  // ---------------------------------------------------------------------
  private def v01(spark: SparkSession, dir: String): DataFrame = {
    graft.views.Views.register(spark, dir)
    spark.sql("SELECT * FROM v_kpi_nation_mois")
  }
  private val v01Sql =
    """SELECT n_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS mois,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS ca,
      |  COUNT(*) AS n_commandes
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation   ON c_nationkey = n_nationkey
      |JOIN region   ON n_regionkey = r_regionkey
      |GROUP BY n_name, CAST(date_trunc('month', o_orderdate) AS DATE)
      |ORDER BY n_name, mois""".stripMargin

  // ---------------------------------------------------------------------
  // io01 — COPY-text round trip (S1): documents exported to PG COPY
  // format (tab-separated, \N, backslash escapes) and re-ingested by the
  // distributed parser; the aggregate must equal querying the source
  // directly — which is exactly what the oracle does.
  // ---------------------------------------------------------------------
  private def io01(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.PgCopy
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_io01_copy"
    PgCopy.write(Tables.documents(spark, dir).select(col("doc_id"), col("lang"), col("text")), out)
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("lang", StringType),
      StructField("text", StringType)
    ))
    PgCopy
      .read(spark, out, schema)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(length(col("text"))).as("total_chars"))
  }
  private val io01Sql =
    """SELECT lang, COUNT(*) AS n_docs, CAST(SUM(length(text)) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY lang
      |ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------------
  // s03 — streaming sliding-window rollup (7-day windows, 1-day slide):
  // every event contributes to 7 overlapping windows. Oracle reproduces
  // the window explosion with a 0..6-day offset cross join.
  // ---------------------------------------------------------------------
  private def s03(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.EventsStream
      .runToCompletion(graft.streaming.EventsStream.slidingWeekly(spark, dir), "graft_s03")
  private val s03Sql =
    """SELECT CAST(CAST(ts AS DATE) - INTERVAL (k.k) DAY AS DATE) AS debut_fenetre,
      |       event_type,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events
      |CROSS JOIN (SELECT unnest(range(0, 7)) AS k) k
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  val all: Seq[Q] = Seq(
    Q("s03_stream_sliding", "sliding 7d/1d streaming windows (§2.9)", s03, Some(s03Sql), heavy = true),
    Q("v01_sql_views", "layered temp views via spark.sql (S6)", v01, Some(v01Sql)),
    Q("io01_pgcopy_roundtrip", "PG COPY text format round trip (S1)", io01, Some(io01Sql)),
    Q("etl01_dim_date", "star ETL: smart-keyed calendar dimension (S5/J8)", etl01, Some(etl01Sql)),
    Q("etl02_dim_client", "star ETL: denormalized dim + surrogate keys", etl02, Some(etl02Sql)),
    Q("etl03_fact_orders", "star ETL: fact with surrogate resolution (J8/J9)", etl03, Some(etl03Sql)),
    Q("etl04_incremental_merge", "foreachBatch MERGE loader == batch build (§2.9)", etl04, Some(etl04Sql), heavy = true,
      setup = Seq(etl04Setup)),
    Q("etl05_constraint_report", "ETL constraint validation: CHECK/domain/NOT NULL/PK/FK (§1.2)", etl05, Some(etl05Sql)),
    Q("etl06_surrogate_scale", "two-phase distributed dense ids == ROW_NUMBER (§1.1 at scale)", etl06, Some(etl06Sql)),
    Q("q26_measures_sliced", "measure layer with slicer filters (§2.10/P11/J10)", q26, Some(q26Sql)),
    Q("q27_scalar_suite", "initcap/AGE/TO_CHAR scalar functions (§2.8)", q27, Some(q27Sql)),
    Q("q30_weekday_quartiles", "weekday box-whisker: quartiles of daily CA (§2.10)", q30, Some(q30Sql)),
    Q("q31_measure_filter", "visual-level measure threshold after aggregation (P12)", q31, Some(q31Sql)),
    Q("q32_drill_rollup", "drill hierarchy as ROLLUP tree with grouping() levels (§2.10)", q32, Some(q32Sql)),
    Q("s02_stream_sessions", "mapGroupsWithState streaming sessionization (§2.9)", s02, Some(s02Sql), heavy = true),
    Q("s05_stream_sessions_flat", "flatMapGroupsWithState per-session emission (§2.9)", s05, Some(s05Sql), heavy = true)
  )
}
