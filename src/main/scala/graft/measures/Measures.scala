package graft.measures

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BI measure layer (SURVEY §2.10): the dashboard's DAX measures as
  * parameterized aggregations over the star schema, with slicer-style
  * filters (§2.2 P11) applied BEFORE aggregation — exactly how a
  * semantic model propagates slicer selections through relationships.
  *
  * Filters restrict dimensions; the fact is filtered by the surviving
  * dimension keys (broadcast semi-joins — dims are small by
  * construction, so slicing never shuffles the fact).
  */
final case class Filters(
    annee: Option[Int] = None,
    mois: Option[Int] = None,
    nation: Option[String] = None
)

/** A drill hierarchy (pbix `HiérarchieMois`, `Localisation client`,
  * `Territoire`): an ordered list of dimension levels, coarsest first,
  * reached from the fact through `key`.
  */
final case class Hierarchy(dim: DataFrame, key: String, levels: Seq[String]) {
  require(levels.nonEmpty, "a hierarchy needs at least one level")
  def depth: Int = levels.length
}

object Measures {

  /** Apply slicer filters to the fact through its dimensions. */
  def slice(fact: DataFrame, dimDate: DataFrame, dimClient: DataFrame, f: Filters): DataFrame = {
    var d = dimDate
    f.annee.foreach(a => d = d.filter(col("annee") === a))
    f.mois.foreach(m => d = d.filter(col("mois") === m))
    var c = dimClient
    f.nation.foreach(n => c = c.filter(col("nation") === n))
    val out = fact
      .join(broadcast(d.select("date_key")), Seq("date_key"), "left_semi")
      .join(broadcast(c.select("client_key")), Seq("client_key"), "left_semi")
    out
  }

  private def dec(c: Column): Column = c.cast(DecimalType(12, 2))

  /** The KPI card row: CA total / nb commandes / panier moyen / clients
    * actifs — one aggregation pass (§2.10 measures 1-4).
    */
  def kpis(fact: DataFrame): DataFrame =
    fact.agg(
      sum(dec(col("montant"))).cast(DoubleType).as("ca_total"),
      count(lit(1)).as("n_commandes"),
      (sum(dec(col("montant"))).cast(DoubleType) / count(lit(1))).as("panier_moyen"),
      countDistinct(col("client_key")).as("clients_actifs")
    )

  /** Per-group CA with an optional VISUAL-LEVEL measure filter (§2.2
    * P12, the pbix "[CA Total] > x" visual filters): the threshold
    * applies AFTER aggregation — unlike slicers, which restrict the fact
    * before it. `minShare` thresholds against the grand total (scale-
    * independent); the 1-row total broadcasts, so the filter costs no
    * extra pass over the fact (§2.3 J7 scalar cross join).
    */
  def caParGroupe(
      fact: DataFrame,
      dim: DataFrame,
      key: String,
      label: String,
      minShare: Option[Double] = None
  ): DataFrame = {
    val agg = fact
      .join(broadcast(dim.select(col(key), col(label))), Seq(key))
      .groupBy(col(label))
      .agg(sum(dec(col("montant"))).cast(DoubleType).as("ca"), count(lit(1)).as("n"))
    minShare.fold(agg) { s =>
      val tot = fact.agg(sum(dec(col("montant"))).cast(DoubleType).as("ca_tot"))
      agg.crossJoin(broadcast(tot)).filter(col("ca") > col("ca_tot") * s).drop("ca_tot")
    }
  }

  /** Drill-down (§2.10 model artifacts): the measure aggregated at
    * `h.levels.take(depth)` — one call per drill click. The dimension
    * lookup broadcasts (dims are small by construction), so each drill
    * level costs exactly one hash aggregate of the fact, keyed by the
    * level prefix; the fact is never shuffled on more than the group-by.
    * Children sum to their parent by construction (same fact rows, finer
    * key) — pinned by MesuresSpec on all three pbix hierarchies.
    */
  def drill(fact: DataFrame, h: Hierarchy, depth: Int, measure: String = "montant"): DataFrame = {
    require(depth >= 1 && depth <= h.depth, s"depth must be in [1, ${h.depth}]")
    val lvls = h.levels.take(depth)
    fact
      .join(broadcast(h.dim.select((h.key +: lvls).distinct.map(col): _*)), Seq(h.key))
      .groupBy(lvls.map(col): _*)
      .agg(
        sum(dec(col(measure))).as("ca_dec"),
        count(lit(1)).as("n")
      )
      .select(lvls.map(col) :+ col("ca_dec").cast(DoubleType).as("ca") :+ col("n"): _*)
      .orderBy(lvls.map(col): _*)
  }

  /** All levels of a hierarchy in one pass via ROLLUP (A13): level = how
    * many hierarchy columns are non-grouping — the expanded drill tree a
    * matrix visual renders. One shuffle for every level at once.
    */
  def drillAll(fact: DataFrame, h: Hierarchy, measure: String = "montant"): DataFrame = {
    val lvls = h.levels
    fact
      .join(broadcast(h.dim.select((h.key +: lvls).distinct.map(col): _*)), Seq(h.key))
      .rollup(lvls.map(col): _*)
      .agg(
        sum(dec(col(measure))).as("ca_dec"),
        count(lit(1)).as("n"),
        // grouping() distinguishes rollup-subtotal NULLs from data NULLs
        lvls.map(c => lit(1) - grouping(col(c))).reduce(_ + _).as("niveau")
      )
      .select(col("niveau") +: lvls.map(col) :+ col("ca_dec").cast(DoubleType).as("ca") :+ col("n"): _*)
  }

  /** Top-1 label measure: "NAME $X" (§2.10 KPI cards). */
  def topLabel(fact: DataFrame, dim: DataFrame, dimKey: String, labelCol: String): DataFrame =
    fact
      .groupBy(col(dimKey))
      .agg(sum(dec(col("montant"))).as("ca_dec"))
      .join(broadcast(dim.select(col(dimKey), col(labelCol))), Seq(dimKey))
      .orderBy(col("ca_dec").desc, col(labelCol))
      .limit(1)
      .select(concat(col(labelCol), lit(" $"), col("ca_dec").cast(StringType)).as("libelle"))
}
