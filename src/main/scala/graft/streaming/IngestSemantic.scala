package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Fixture
import graft.operators.Dedup

/** Streaming SEMANTIC ingestion screen (§2.9 composed with the
  * embedding tier): arriving embedding micro-batches are screened
  * against the standing corpus with [[Dedup.embeddingNearDupAgainst]]
  * inside foreachBatch, and flagged cross-split near-dup pairs append
  * to a parquet log — the embedding-space analogue of [[IngestDedup]]
  * (s06), and the incremental form of the one-shot d26 semantic scrub's
  * pair machinery. Corpus hyperplane-LSH sketches are computed ONCE
  * when the corpus is published ([[Dedup.vectorSketches]]) and
  * persisted columnar beside the vectors, so each micro-batch scans the
  * narrow (id, buckets, pb) store map-side (batch tables broadcast)
  * instead of re-projecting dim-wide corpus vectors; exact cosine
  * verification touches corpus vectors only for candidate ids. Stream
  * state is empty (no watermark — the screen carries no cross-batch
  * aggregation).
  *
  * The drained log must equal the one-shot screen over the whole feed —
  * asserted in StreamingSpec and hash-gated (s08) against the
  * exhaustive cross-split cosine oracle.
  */
object IngestSemantic {

  private val emSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)
  ))

  /** Bump when the persisted sketch layout or the LSH parameters
    * change — the setup fingerprint carries it, so a parameter change
    * re-stages instead of probing new-code batches against an old-code
    * store. nBits auto-sizes from the corpus row count, which the
    * fingerprint's (length, mtime) already tracks.
    */
  private val skFormat = "hyperplane-lsh-t8-v1"
  private val NTables = 8
  private val Threshold = 0.99

  /** The arriving batch: a jittered copy of every 10th corpus vector
    * (e03's deterministic ±2% arithmetic jitter, ids offset by 1e6,
    * cosine ≈ 0.9999 to its source) — the fixture has no natural
    * cosine-0.99 pairs, so the screen must flag exactly the planted
    * (copy, source) pairs and the oracle can rebuild the identical
    * float32 batch.
    */
  def batchFeed(em: DataFrame): DataFrame = em
    .filter(col("vec_id") % 10 === 0)
    .select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(
        col("embedding"),
        (x, j) =>
          (x.cast(DoubleType) *
            (lit(1.0) + (pmod(col("vec_id") * 31 + j.cast(LongType) * 7, lit(100L)).cast(DoubleType) / 100.0 - 0.5) * 0.04))
            .cast(FloatType)
      ).as("embedding"),
      col("label")
    )

  private def corpusBits(spark: SparkSession, dir: String): Int = {
    val em = spark.read.schema(emSchema).parquet(s"$dir/embeddings.parquet")
    val n = graft.sources.ScanStats.exactRowCountNoJob(em).getOrElse(em.count())
    Dedup.autoBits(n)
  }

  /** One-time ingest setup: stage the arriving feed as 4 files (real
    * micro-batches) and persist the corpus sketch store every batch
    * probes. Load-phase artifacts (the s06 pattern) — Bench runs this
    * untimed. Idempotent per input via the (length, mtime, format)
    * fingerprint marker.
    */
  def setup(spark: SparkSession, dir: String, workDir: String): Unit = synchronized {
    val fingerprint = s"embeddings:${Fixture.stamp(spark, s"$dir/embeddings.parquet")}:$skFormat"
    Fixture.once(spark, workDir, fingerprint) {
      val em = spark.read.schema(emSchema).parquet(s"$dir/embeddings.parquet")
      batchFeed(em)
        .repartition(4, pmod(col("vec_id"), lit(4)))
        .write.mode("overwrite").parquet(s"$workDir/feed")
      Dedup.vectorSketches(em, "vec_id", "embedding", corpusBits(spark, dir), NTables)
        .write.mode("overwrite").parquet(s"$workDir/corpus_sketches")
    }
  }

  /** Screen each staged micro-batch against the corpus sketch store and
    * append flagged pairs. Returns the drained pair log.
    */
  def run(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    setup(spark, dir, workDir)
    val corpus = spark.read.schema(emSchema).parquet(s"$dir/embeddings.parquet")
    val bits = corpusBits(spark, dir)
    val sketches = spark.read.parquet(s"$workDir/corpus_sketches")
    val outDir = s"$workDir/pairs"
    val pairSchema = StructType(Seq(
      StructField("id_batch", LongType),
      StructField("id_corpus", LongType),
      StructField("cosine", DoubleType)))
    // log reset is a pure filesystem op; the final read passes the
    // schema explicitly so an empty log needs no schema file
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    outFs.delete(outPath, true)
    outFs.mkdirs(outPath)

    val q = spark.readStream
      .schema(emSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$workDir/feed")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Dedup
            .embeddingNearDupAgainst(batch, corpus, "vec_id", "embedding",
              threshold = Threshold, nBits = bits, nTables = NTables,
              corpusSketches = Some(sketches))
            .write.mode("append").parquet(outDir)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.schema(pairSchema).parquet(outDir)
  }

  /** The one-shot twin: the whole feed screened in one call (what the
    * drained log must equal).
    */
  def oneShot(spark: SparkSession, dir: String): DataFrame = {
    val em = spark.read.schema(emSchema).parquet(s"$dir/embeddings.parquet")
    Dedup.embeddingNearDupAgainst(batchFeed(em), em, "vec_id", "embedding",
      threshold = Threshold, nBits = corpusBits(spark, dir), nTables = NTables)
  }
}
