package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Fixture
import graft.operators.LangModel

/** Streaming ingest QUALITY screen (§2.9 composed with the LM tier):
  * arriving document micro-batches are perplexity-scored against the
  * standing corpus's bigram LM ([[LangModel.scoreWith]]) inside
  * foreachBatch, and the scores append to a parquet log — the
  * continuous form of the one-shot d29 scoring, and the shape a
  * training-data pipeline actually runs: the model (two vocabulary-
  * bounded count relations + the vocab scalar) is fitted ONCE when the
  * corpus is published and persisted columnar, so each micro-batch
  * joins the narrow stored counts instead of re-aggregating the corpus
  * — at 100 TB the retrain would dominate every micro-batch. Stream
  * state is empty (no watermark — scoring carries no cross-batch
  * aggregation).
  *
  * The batch feed deliberately contains tokens the corpus never saw
  * (a deterministic "zzqx<n>" suffix), so the screen exercises the
  * unseen-bigram/unigram smoothing path end to end. The drained log
  * must equal the one-shot scoring of the whole feed — asserted in
  * StreamingSpec and hash-gated (s09) against a DuckDB oracle that
  * retrains the corpus model and rescores the rebuilt feed in SQL.
  */
object IngestQuality {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  private val feedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)
  ))

  /** Bump when the persisted model layout or the LM parameters change —
    * the setup fingerprint carries it, so a parameter change re-stages
    * instead of scoring new-code batches against an old-code store.
    */
  private val lmFormat = "bigram-lm-k0.5-v1"
  private val K = 0.5

  /** The arriving batch: every 10th corpus doc, id-offset, with a
    * deterministic out-of-vocabulary suffix token ("zzqx" || src % 7) —
    * guarantees the unseen-count smoothing path runs, and the oracle
    * can rebuild the identical feed.
    */
  def batchFeed(docs: DataFrame): DataFrame = docs
    .filter(col("doc_id") % 10 === 0)
    .select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zzqx"), pmod(col("doc_id"), lit(7L)).cast(StringType)).as("text")
    )

  /** One-time ingest setup: stage the feed as 4 files (real
    * micro-batches) and persist the corpus model store (bigram counts,
    * unigram counts, the vocab/k meta row). Load-phase artifacts (the
    * s06/s08 pattern) — Bench runs this untimed. Idempotent per input
    * via the (length, mtime, format) fingerprint marker.
    */
  def setup(spark: SparkSession, dir: String, workDir: String): Unit = synchronized {
    val fingerprint = s"documents:${Fixture.stamp(spark, s"$dir/documents.parquet")}:$lmFormat"
    Fixture.once(spark, workDir, fingerprint) {
      val docs = spark.read.schema(docSchema).parquet(s"$dir/documents.parquet")
      batchFeed(docs)
        .repartition(4, pmod(col("doc_id"), lit(4)))
        .write.mode("overwrite").parquet(s"$workDir/feed")
      val model = LangModel.train(docs, "doc_id", "text", K)
      model.bic.write.mode("overwrite").parquet(s"$workDir/model_bic")
      model.uni.write.mode("overwrite").parquet(s"$workDir/model_uni")
      import spark.implicits._
      Seq((model.vocabSize, model.k)).toDF("v", "k")
        .coalesce(1).write.mode("overwrite").parquet(s"$workDir/model_meta")
    }
  }

  private def storedModel(spark: SparkSession, workDir: String): LangModel.BigramLm = {
    val meta = spark.read.parquet(s"$workDir/model_meta").head()
    LangModel.BigramLm(
      spark.read.parquet(s"$workDir/model_bic"),
      spark.read.parquet(s"$workDir/model_uni"),
      meta.getLong(0),
      meta.getDouble(1)
    )
  }

  /** Score each staged micro-batch against the stored corpus model and
    * append. Returns the drained score log.
    */
  def run(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    setup(spark, dir, workDir)
    val model = storedModel(spark, workDir)
    val outDir = s"$workDir/scores"
    val scoreSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_bigrams", LongType),
      StructField("lm_score", DoubleType),
      StructField("ppl", DoubleType)))
    // log reset is a pure filesystem op; the final read passes the
    // schema explicitly so an empty log needs no schema file
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    outFs.delete(outPath, true)
    outFs.mkdirs(outPath)

    val q = spark.readStream
      .schema(feedSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$workDir/feed")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          LangModel
            .scoreWith(model, batch, "doc_id", "text")
            .write.mode("append").parquet(outDir)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.schema(scoreSchema).parquet(outDir)
  }

  /** The one-shot twin: the whole feed scored in one call (what the
    * drained log must equal).
    */
  def oneShot(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.schema(docSchema).parquet(s"$dir/documents.parquet")
    LangModel.scoreWith(LangModel.train(docs, "doc_id", "text", K),
      batchFeed(docs), "doc_id", "text")
  }
}
