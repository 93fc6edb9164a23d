package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Fixture
import graft.operators.Dedup

/** Streaming ingestion screen (SURVEY §2.9 composed with the dedup
  * tier): arriving document micro-batches are screened against the
  * standing corpus with [[Dedup.minhashLshAgainst]] inside foreachBatch,
  * and flagged near-dup pairs append to a parquet log — the continuous
  * form of the one-shot d14 screen, and the shape a training-data
  * pipeline actually runs: corpus MinHash signatures are computed ONCE
  * before the stream starts and persisted columnar beside the corpus
  * ([[graft.operators.Dedup.signatures]]), so each micro-batch scans
  * the narrow (id, sig) table map-side (batch bands/sigs broadcast)
  * instead of re-tokenizing the full corpus text — at 100 TB the
  * re-tokenization would dominate every micro-batch; only verification
  * touches corpus text, and only for candidate docs. Stream state is
  * empty (no watermark needed — the screen carries no cross-batch
  * aggregation; cross-batch duplicates WITHIN the feed are s04's
  * watermarked-dedup job, not this one's).
  *
  * The drained log must equal the one-shot screen over the whole feed —
  * asserted in StreamingSpec and by the d15 oracle gate.
  */
object IngestDedup {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  private def isBatch = col("doc_id") % 50 === 0 && col("doc_id") > 0

  /** One-time ingest setup: stage the arriving feed as 4 files (so the
    * file source forms real micro-batches) and persist the corpus
    * MinHash signature store the screen reads on every batch. Both are
    * load-phase artifacts — in production the feed simply ARRIVES and
    * the signature store is built once when the corpus is published —
    * so Bench runs this untimed (the io02/etl04 setup pattern).
    * Idempotent per input: the marker carries the source file's
    * (length, mtime) fingerprint, so a regenerated fixture re-stages
    * instead of serving stale signatures.
    */
  /** Bump when the persisted corpus_sigs layout or the signature
    * parameters fed to [[Dedup.signatures]] change — the fingerprint
    * below carries it, so a code change to the signature scheme
    * re-stages instead of screening new-code batches against old-code
    * persisted signatures.
    */
  private val sigFormat = "minhash-shingle3-k64-v2"

  def setup(spark: SparkSession, dir: String, workDir: String): Unit = synchronized {
    val fingerprint = s"documents:${Fixture.stamp(spark, s"$dir/documents.parquet")}:$sigFormat"
    Fixture.once(spark, workDir, fingerprint) {
      val docs = spark.read.schema(docSchema).parquet(s"$dir/documents.parquet")
      // the feed arrives as 4 files → 4 micro-batches
      docs.filter(isBatch)
        .repartition(4, pmod(col("doc_id"), lit(4)))
        .write.mode("overwrite").parquet(s"$workDir/feed")
      // ingest-time signature store: computed once, read by every batch
      Dedup.signatures(docs.filter(!isBatch), "doc_id", "text")
        .write.mode("overwrite").parquet(s"$workDir/corpus_sigs")
      // publish-time degenerate-bucket census: corpus-only, so every
      // batch's maxBucket pruning probes this list instead of paying a
      // corpus-band exchange per trigger
      Dedup.hotBandBuckets(spark.read.parquet(s"$workDir/corpus_sigs"))
        .write.mode("overwrite").parquet(s"$workDir/corpus_hot_bb")
    }
  }

  /** Screen each staged micro-batch against the corpus signature store
    * and append flagged pairs. Returns the drained pair log.
    */
  def run(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    setup(spark, dir, workDir)
    val docs = spark.read.schema(docSchema).parquet(s"$dir/documents.parquet")
    val corpus = docs.filter(!isBatch)
    val feedDir = s"$workDir/feed"
    val outDir = s"$workDir/pairs"
    // drain-scoped corpus-side persists: the sig store and its pruned
    // band index are corpus-only — the first trigger materializes
    // them, every later trigger scans executor memory instead of
    // re-exploding the store (spill-safe; released after the drain).
    // Within the sig broadcast budget the index is NARROW (16 B/band
    // row; the probe re-attaches sig_c from a broadcast of the
    // persisted store); past it the index carries sig_c so nothing is
    // ever shuffled to fetch it — the honest large-corpus shape.
    val corpusSigs = spark.read.parquet(s"$workDir/corpus_sigs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hotBb = spark.read.parquet(s"$workDir/corpus_hot_bb")
    // per-row weight derived from the store itself (Dedup helper), not
    // a hardcoded k=64 — a signature-scheme change cannot silently
    // mis-size the narrow-index decision
    val narrow = Dedup.sigStoreFitsBroadcast(corpusSigs)
    val bandIdx = Dedup.bandIndex(corpusSigs, hotBuckets = Some(hotBb), narrow = narrow)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairSchema = StructType(Seq(
      StructField("id_batch", LongType),
      StructField("id_corpus", LongType),
      StructField("jaccard", DoubleType)))
    // log reset is a pure filesystem op; the final read passes the
    // schema explicitly so an empty log needs no schema file
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    outFs.delete(outPath, true)
    outFs.mkdirs(outPath)

    val q = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(feedDir)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          Dedup
            .minhashLshAgainst(batch, corpus, "doc_id", "text",
              corpusSigs = Some(corpusSigs), corpusBands = Some(bandIdx))
            .write.mode("append").parquet(outDir)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    bandIdx.unpersist(false)
    corpusSigs.unpersist(false)
    spark.read.schema(pairSchema).parquet(outDir)
  }
}
