package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Fixture

/** Streaming ingest DRIFT monitor (§2.9 composed with the d37 selector):
  * arriving document micro-batches are screened per source against the
  * STANDING corpus's token distribution — KL(feed-source ‖ corpus) over
  * the corpus top-K vocabulary ([[graft.operators.Curate.driftAgainst]])
  * inside foreachBatch, appended to a parquet log. The continuous form
  * of the one-shot d37 drift report, and the alarm a training-data
  * pipeline actually wants: a feed whose boilerplate, language mix or
  * truncation behavior shifts shows a KL step the batch it happens,
  * long before any downstream metric moves.
  *
  * The reference distribution (top-K vocabulary with counts — ≤ K
  * narrow rows) is derived ONCE when the corpus is published and
  * persisted columnar; each micro-batch joins the stored relation
  * instead of re-deriving the corpus rollup (at 100 TB the
  * re-derivation would dominate every batch). Stream state is empty —
  * the screen carries no cross-batch aggregation, so the feed is
  * staged hash-partitioned BY SOURCE (each source's docs complete
  * within one file = one trigger) and per-batch per-source rows equal
  * the one-shot computation exactly — asserted in StreamingSpec and
  * hash-gated (s11) against a DuckDB oracle that re-derives the corpus
  * vocabulary, rebuilds the feed and recomputes every KL in SQL.
  *
  * The feed plants a real drift: one source's documents carry a burst
  * of a common corpus token, so the screen demonstrably fires (its KL
  * is strictly above the undrifted sources') while the other three
  * sources measure the sampling-noise floor.
  */
object IngestDrift {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  private val feedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("source", StringType)
  ))

  /** Bump when the stored layout or the drift parameters change. */
  private val format = "vocab-top500-addhalf-v1"
  private val topK = 500

  /** The arriving feed: every 5th corpus doc, id-offset, tagged into 4
    * synthetic feed sources; the feed_0 docs additionally carry a
    * 4-token burst of a common corpus word (the planted drift). Fully
    * deterministic so the oracle rebuilds the identical feed.
    */
  def batchFeed(docs: DataFrame): DataFrame = docs
    .filter(col("doc_id") % 5 === 0)
    .select(
      (col("doc_id") + 2000000L).as("doc_id"),
      when(col("doc_id") % 20 === 0, concat(col("text"), lit(" key key key key")))
        .otherwise(col("text")).as("text"),
      concat(lit("feed_"), pmod(col("doc_id"), lit(4L)).cast(StringType)).as("source")
    )

  /** One-time setup: stage the feed hash-partitioned by source (a
    * source never straddles a trigger) and persist the corpus top-K
    * vocabulary distribution. Idempotent per input via the
    * (length, mtime, format) fingerprint marker — the s06/s09 pattern;
    * Bench runs this untimed.
    */
  def setup(spark: SparkSession, dir: String, workDir: String): Unit = synchronized {
    val fingerprint = s"documents:${Fixture.stamp(spark, s"$dir/documents.parquet")}:$format"
    Fixture.once(spark, workDir, fingerprint) {
      val docs = spark.read.schema(docSchema).parquet(s"$dir/documents.parquet")
      batchFeed(docs)
        .repartition(4, col("source"))
        .write.mode("overwrite").parquet(s"$workDir/feed")
      docs
        .select(explode(graft.functions.Text.tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("ct"))
        .orderBy(col("ct").desc, col("token").asc)
        .limit(topK)
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$workDir/vocab")
    }
  }

  /** Screen each staged micro-batch against the stored distribution and
    * append. Returns the drained drift log.
    */
  def run(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    setup(spark, dir, workDir)
    val vocab = spark.read.parquet(s"$workDir/vocab")
    val outDir = s"$workDir/drift"
    val outSchema = StructType(Seq(
      StructField("source", StringType),
      StructField("n_docs", LongType),
      StructField("n_tokens_vocab", LongType),
      StructField("kl", DoubleType),
      StructField("token_principal", StringType),
      StructField("contrib_principal", DoubleType)))
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    outFs.delete(outPath, true)
    outFs.mkdirs(outPath)

    val q = spark.readStream
      .schema(feedSchema)
      // two sources per trigger (the catalog two-trigger minimum
      // composition): driftAgainst groups by source inside the batch, so
      // rows are identical however the staged sources share triggers —
      // and a source still never straddles one (the staging is by-source)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$workDir/feed")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          // each appended log file is laid out by source
          graft.operators.Curate
            .driftAgainst(batch, "doc_id", "text", "source", vocab)
            .orderBy(col("source"))
            .write.mode("append").parquet(outDir)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.schema(outSchema).parquet(outDir)
  }

  /** The one-shot twin: the whole feed screened in one call against the
    * same stored-equivalent distribution (what the drained log must
    * equal row-for-row).
    */
  def oneShot(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.schema(docSchema).parquet(s"$dir/documents.parquet")
    val vocab = docs
      .select(explode(graft.functions.Text.tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).as("ct"))
      .orderBy(col("ct").desc, col("token").asc)
      .limit(topK)
    graft.operators.Curate.driftAgainst(batchFeed(docs), "doc_id", "text", "source", vocab)
  }
}
