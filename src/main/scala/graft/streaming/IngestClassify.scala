package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Fixture
import graft.operators.QualityClassifier

/** Streaming quality-classifier screen (SURVEY §2.9 composed with the
  * d24 operator — the fastText-style filter run continuously): the
  * classifier is TRAINED ONCE at publish time on the labeled slice and
  * persisted ([[QualityClassifier.writeModel]] — the stored-model
  * convention every other ingest screen follows); arriving document
  * micro-batches score with the frozen weights inside foreachBatch —
  * ONE compiled pure-map kernel pass per batch (md5 + array lookup per
  * token, weights shipped by codegen reference), zero exchange, zero
  * cross-batch state — and the per-doc verdicts append to a parquet
  * log. The drained log equals the one-shot d24 scoring row-for-row
  * (same stored weights, per-doc independence), so the d24 oracle
  * gates the whole publish → store → per-trigger-score path.
  *
  * This was the last batch screen without a streaming twin; with it,
  * every ingest-time filter (dedup, semantic, LM quality, classifier,
  * decontamination, drift, ANN) has both a batch and a per-trigger
  * form over the same stored artifact.
  */
object IngestClassify {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  private val outSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("score", DoubleType),
    StructField("classe", BooleanType)
  ))

  /** Bump when the model layout or the label rule changes. */
  private val format = "hashednb-b65536-srclabel-v1"

  /** The fixture label rule (d24's): a deterministic stand-in for the
    * curated/labeled slice a production pipeline trains on.
    */
  private def label = expr("CAST(substring(source, 4, 8) AS INT) < 10")

  /** One-time setup: stage the corpus as 4 arrival files and PUBLISH
    * the classifier — train on the labeled slice as it exists at
    * publish time, persist, freeze. Idempotent per input.
    */
  def setup(spark: SparkSession, dir: String, workDir: String): Unit = synchronized {
    val fingerprint = s"documents:${Fixture.stamp(spark, s"$dir/documents.parquet")}:$format"
    Fixture.once(spark, workDir, fingerprint) {
      val docs = spark.read.schema(docSchema).parquet(s"$dir/documents.parquet")
      docs
        .repartition(4, pmod(col("doc_id"), lit(4)))
        .write.mode("overwrite").parquet(s"$workDir/feed")
      QualityClassifier.writeModel(spark,
        QualityClassifier.train(docs, "text", label), s"$workDir/classifier")
    }
  }

  /** Score each staged micro-batch with the stored weights and append
    * the verdicts. Returns the drained log.
    */
  def run(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    setup(spark, dir, workDir)
    val model = QualityClassifier.readModel(spark, s"$workDir/classifier")
    val outDir = s"$workDir/verdicts"
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    outFs.delete(outPath, true)
    outFs.mkdirs(outPath)
    val q = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$workDir/feed")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch
          .select(
            col("doc_id"),
            round(model.score(col("text")), 6).as("score"),
            (round(model.score(col("text")), 6) > 0).as("classe"))
          .write.mode("append").parquet(outDir)
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.schema(outSchema).parquet(outDir)
  }
}
