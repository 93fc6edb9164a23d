package graft.typed

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import graft.sources.Tables

/** Typed Dataset surface (SURVEY §7.4: case-class rows where type safety
  * helps) and custom typed Aggregators (§2.11: the ordered STRING_AGG
  * candidate, plus a decimal-exact money sum). Both run as real Catalyst
  * aggregates (ObjectHashAggregate) — the typed API is a front-end, not
  * a collect-to-driver shortcut.
  */
object Typed {

  /** orders row (synthetic fixture schema). */
  final case class Order(
      o_orderkey: Long,
      o_custkey: Long,
      o_orderstatus: String,
      o_totalprice: Double,
      o_orderdate: java.sql.Timestamp,
      o_orderpriority: String
  )

  def orders(spark: SparkSession, dir: String): Dataset[Order] = {
    import spark.implicits._
    Tables.orders(spark, dir).as[Order]
  }

  /** Decimal-exact CA sum over 2-decimal money doubles: each value is
    * re-quantized to cents before summation, so the result is
    * order-independent (a double fold would not be).
    */
  object CaSum extends Aggregator[Order, java.math.BigDecimal, Double] {
    override def zero: java.math.BigDecimal = java.math.BigDecimal.ZERO
    override def reduce(b: java.math.BigDecimal, o: Order): java.math.BigDecimal =
      b.add(new java.math.BigDecimal(o.o_totalprice).setScale(2, java.math.RoundingMode.HALF_UP))
    override def merge(a: java.math.BigDecimal, b: java.math.BigDecimal): java.math.BigDecimal =
      a.add(b)
    override def finish(b: java.math.BigDecimal): Double = b.doubleValue()
    override def bufferEncoder: Encoder[java.math.BigDecimal] = Encoders.DECIMAL
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  object CountAgg extends Aggregator[Order, Long, Long] {
    override def zero: Long = 0L
    override def reduce(b: Long, o: Order): Long = b + 1
    override def merge(a: Long, b: Long): Long = a + b
    override def finish(b: Long): Long = b
    override def bufferEncoder: Encoder[Long] = Encoders.scalaLong
    override def outputEncoder: Encoder[Long] = Encoders.scalaLong
  }

  /** PG-style STRING_AGG with a DEFINED order: elements accumulate into
    * a sorted set, concat at finish — the §2.11 UDAF candidate, as a
    * typed Aggregator (the untyped equivalent is
    * array_join(array_sort(collect_set))).
    */
  final class OrderedConcat(sep: String) extends Aggregator[String, List[String], String] {
    override def zero: List[String] = Nil
    override def reduce(b: List[String], s: String): List[String] = s :: b
    override def merge(a: List[String], b: List[String]): List[String] = a ++ b
    override def finish(b: List[String]): String = b.distinct.sorted.mkString(sep)
    override def bufferEncoder: Encoder[List[String]] = Encoders.kryo[List[String]]
    override def outputEncoder: Encoder[String] = Encoders.STRING
  }

  /** Driver-gated typed query: groupByKey over the case-class Dataset
    * with the two custom Aggregators.
    */
  def caByStatus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    orders(spark, dir)
      .groupByKey(_.o_orderstatus)
      .agg(CaSum.toColumn.name("ca"), CountAgg.toColumn.name("n_orders"))
      .toDF("o_orderstatus", "ca", "n_orders")
  }
}
