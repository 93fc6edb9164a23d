package graft.streaming

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Fixture

/** Streaming incremental warehouse load (SURVEY §2.9): the reference's
  * re-runnable ON CONFLICT ETL re-expressed as a Structured Streaming
  * file source + foreachBatch MERGE — each micro-batch of new fact rows
  * upserts into a month-partitioned parquet target keyed on the business
  * id. The result must equal the one-shot batch build (asserted in
  * StreamingSpec and hash-gated as etl04).
  *
  * Scale design: the target is partitioned by `mois_cle` (date_key/100 —
  * the calendar month) and the loader keeps the set of already-present
  * months (initialized from a partition-dir listing — the poor man's
  * catalog). A batch's months split two ways: months NOT yet in the
  * target take a pure APPEND write — no read, no join, no shuffle; only
  * months that genuinely collide with existing data pay the MERGE, and
  * that merge reads ONLY the colliding partitions (pruned scan) and
  * rewrites ONLY them (dynamic partition overwrite). With date-ordered
  * arrival — the realistic feed — collisions are boundary months, so
  * per-batch IO is O(batch), not O(total table): the full-table
  * write-then-swap this replaces paid O(batches × table) and was the
  * slowest query in the catalog at sf0.1. On a table format with
  * row-level MERGE the same foreachBatch body becomes MERGE INTO; the
  * partition-scoped overwrite is the plain-parquet equivalent.
  *
  * Contract: the merge key's partition value is immutable (an order
  * never changes month — true of the reference's fact). A key that DID
  * move months would strand its old row in the old partition; that
  * needs row-level deletes, i.e. a MERGE-capable table format. State is
  * bounded: the stream side carries no aggregation, so no watermark is
  * needed.
  */
object IncrementalEtl {

  /** Schema of the incoming order facts (events-style file feed). */
  private val orderSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)
  ))

  private val factSchema = StructType(Seq(
    StructField("source_commande_id", LongType),
    StructField("date_key", IntegerType),
    StructField("montant", DecimalType(12, 2)),
    StructField("statut", StringType),
    StructField("mois_cle", IntegerType) // partition column: date_key/100
  ))

  /** Per-run IO evidence for the incremental contract: months written
    * by each micro-batch, months that needed a MERGE (read + rewrite of
    * an existing partition), and the final month-partition count — the
    * spec asserts Σ touched ≪ batches × total (a full rewrite per
    * batch) and that merges stay at the batch boundaries.
    */
  final case class LoadStats(
      touchedPerBatch: Seq[Int],
      mergedPerBatch: Seq[Int],
      totalPartitions: Long)

  /** Stream the orders feed (staged as 4 date-range files → 4 real
    * micro-batches) and maintain the partitioned parquet fact table by
    * partition-scoped MERGE; returns the final table after the stream
    * drains.
    */
  def run(spark: SparkSession, dir: String, targetDir: String): DataFrame =
    runWithStats(spark, dir, targetDir)._1

  /** Bump when the feed staging below changes: the fixture fingerprint
    * carries it beside the `orders` stamp, so a changed source or staging
    * scheme re-stages instead of replaying the old feed.
    */
  private val feedFormat = "orders-range4-mtime-v2" // v2: exact-quantile ranges ([[Feed.stage]])

  /** Stage the feed as 4 contiguous DATE RANGES (the realistic arrival
    * order — a month's orders land together), so micro-batches overlap
    * few partitions and the partition-scoped merge has something to
    * skip. Date-ordered ARRIVAL is the feed contract, so the staging
    * encodes it in the files' mtimes ([[Feed.stage]]). Idempotent per
    * input (a [[graft.engine.Fixture]] on the feed dir), so Bench runs it
    * untimed as load-phase setup, like io02's bucketed table.
    */
  def stageFeed(spark: SparkSession, dir: String, targetDir: String): Unit = {
    val feedDir = s"$targetDir/feed"
    val fingerprint = s"orders:${Fixture.stamp(spark, s"$dir/orders.parquet")}:$feedFormat"
    Fixture.once(spark, feedDir, fingerprint) {
      Feed.stage(
        spark.read.parquet(s"$dir/orders.parquet").select(orderSchema.fieldNames.map(col): _*),
        unix_date(to_date(col("o_orderdate"))), feedDir)
    }
  }

  /** `fresh = true` (the benchmark contract) wipes the target and
    * replays the staged feed from scratch; `fresh = false` is the
    * production-restart path — the target survives, the month catalog
    * below genuinely recovers from the partition listing, and the
    * idempotent MERGE makes replaying already-loaded files a no-op
    * (asserted in StreamingSpec's restart test).
    */
  def runWithStats(spark: SparkSession, dir: String, targetDir: String,
      fresh: Boolean = true): (DataFrame, LoadStats) = {
    val target = s"$targetDir/fact"
    val feedDir = s"$targetDir/feed"
    stageFeed(spark, dir, targetDir)
    val fs = new org.apache.hadoop.fs.Path(target)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fresh) fs.delete(new org.apache.hadoop.fs.Path(target), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(target))
    def readTarget() = spark.read.schema(factSchema).parquet(target)

    val touched = ListBuffer.empty[Int]
    val mergedMonths = ListBuffer.empty[Int]
    // the month "catalog": partitions already present in the target,
    // recovered from a dir listing so a restarted loader stays correct
    var existing = fs.listStatus(new org.apache.hadoop.fs.Path(target))
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("mois_cle="))
      .map(_.getPath.getName.stripPrefix("mois_cle=").toInt)
      .toSet
    val stream = spark.readStream
      .schema(orderSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(feedDir)
      .select(
        col("o_orderkey").as("source_commande_id"),
        (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
          dayofmonth(col("o_orderdate"))).cast(IntegerType).as("date_key"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("montant"),
        col("o_orderstatus").as("statut")
      )

    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val part = batch.withColumn("mois_cle", (col("date_key") / 100).cast(IntegerType))
        // the touched-month list is tiny (months per batch) — a bounded
        // driver-side list that drives the append/merge split and the
        // partition pruning of the merge read
        val months = part.select("mois_cle").distinct().collect().map(_.getInt(0))
        if (months.nonEmpty) {
          touched += months.length
          val overlap = months.filter(existing.contains)
          mergedMonths += overlap.length
          if (overlap.isEmpty) {
            // no month collides with existing data: pure append — no
            // read, no join, no shuffle; a batch spans up to two staged
            // date-range files (the 2-files/trigger drain), so its few
            // input tasks write month-contiguous files
            part.write.mode("append").partitionBy("mois_cle").parquet(target)
          } else {
            // some months collide: pruned read of ONLY those
            // partitions, MERGE, ONE dynamic overwrite of the touched
            // months. The anti-join's probe side is pruned to the
            // batch rows IN the colliding months: the merge key's
            // month is immutable (the loader contract above), so a
            // fresh-month row can never match a row of `current` and
            // feeding it to the join would only widen the shuffle —
            // at production batch sizes that keeps merge shuffle IO
            // O(collision), not O(batch), while the fresh slice flows
            // join-free into the same single write. The eager
            // checkpoint materializes the read so the overwrite never
            // reads the files it is replacing; the repartition
            // clusters each month into one task's contiguous write.
            val collide = part.filter(col("mois_cle").isin(overlap.map(Integer.valueOf): _*))
            val current = readTarget()
              .filter(col("mois_cle").isin(overlap.map(Integer.valueOf): _*))
              .localCheckpoint(true)
            // Cheap guard on the key-month-immutability contract: a
            // key in the months we already read that ALSO arrives in a
            // fresh month this batch has moved months — the pruned
            // merge would strand its old row as a duplicate, so fail
            // loudly instead (moving keys need a row-level-MERGE table
            // format). Cost: one semi-join of the checkpointed
            // colliding partitions against the small fresh slice.
            // Moves between months untouched by the same batch are
            // undetectable without an O(table) scan per batch — that
            // is exactly the contract documented above.
            if (overlap.length < months.length) {
              val freshSlice = part.filter(!col("mois_cle").isin(overlap.map(Integer.valueOf): _*))
              if (!current.join(freshSlice, Seq("source_commande_id"), "left_semi").isEmpty)
                throw new IllegalStateException(
                  "IncrementalEtl: merge key changed month (existing-month row matches a " +
                    "fresh-month batch key); partition-pruned merge requires key-month immutability")
            }
            part.unionByName(current.join(collide, Seq("source_commande_id"), "left_anti"))
              .repartition(col("mois_cle"))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("mois_cle")
              .parquet(target)
          }
          existing ++= months
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    val result = readTarget().drop("mois_cle")
    val nParts = fs.listStatus(new org.apache.hadoop.fs.Path(target))
      .count(s => s.isDirectory && s.getPath.getName.startsWith("mois_cle="))
    (result, LoadStats(touched.toList, mergedMonths.toList, nParts))
  }

  /** The batch twin: the same fact built in one pass. */
  def batchBuild(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/orders.parquet")
      .select(
        col("o_orderkey").as("source_commande_id"),
        (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
          dayofmonth(col("o_orderdate"))).cast(IntegerType).as("date_key"),
        col("o_totalprice").cast(DecimalType(12, 2)).as("montant"),
        col("o_orderstatus").as("statut")
      )
}
