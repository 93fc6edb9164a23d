package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Fixture
import graft.operators.{AnnIndex, Similarity}
import graft.functions.Vectors

/** Streaming ANN serve path (§2.9 composed with the e-tier): arriving
  * micro-batches of QUERY vectors probe the PERSISTED IVF-PQ index
  * ([[graft.operators.AnnIndex]] — trained and encoded once at publish
  * time) inside foreachBatch, and each query's top-k appends to a
  * parquet log. The continuous form of the one-shot stored-index query
  * (e08), and the production vector-search loop: the index store is
  * read once per drain, the models ship driver-side as task
  * references, and no trigger ever retrains, re-encodes or re-scans
  * raw corpus vectors except the candidate re-rank.
  *
  * Stream state is empty — ANN search is per-query independent, so the
  * drained log must equal the one-shot screen over the whole query set
  * (asserted in StreamingSpec; hash-gated as s12 against the
  * brute-force oracle, since the gated configuration probes
  * exhaustively — the e06/e08 gating pattern).
  *
  * Scale shape per trigger: ONE map-side pass of the persisted code
  * rows against the broadcast batch probes (|batch|·nProbe rows + the
  * per-query distance tables), the ADC kill inside whole-stage
  * codegen, a per-query top-k window over survivors, and the exact
  * re-rank joining true vectors for candidate ids only. The code and
  * vector relations persist MEMORY_AND_DISK across the drain (the
  * IngestDedup corpus-side pattern) — the first trigger materializes
  * them, later triggers scan executor memory.
  */
object IngestAnn {

  private val emSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)
  ))

  /** Bump when the store layout or the index parameters change — the
    * setup fingerprint carries it (the IngestDrift convention).
    */
  private val format = "ivfpq-n16-m8-c16-i3-cellpart-v2"
  private val NList = 16
  private val M = 8
  private val Codes = 16
  private val Iters = 3
  private val K = 5

  private def isQuery = col("vec_id") < 10

  /** One-time setup: stage the query feed as 4 files (real
    * micro-batches) and publish the IVF-PQ index store. Load-phase
    * artifacts (the s06 pattern) — Bench runs this untimed. Idempotent
    * per input via the (length, mtime, format) fingerprint marker.
    */
  def setup(spark: SparkSession, dir: String, workDir: String): Unit = synchronized {
    val fingerprint = s"embeddings:${Fixture.stamp(spark, s"$dir/embeddings.parquet")}:$format"
    Fixture.once(spark, workDir, fingerprint) {
      val em = spark.read.schema(emSchema).parquet(s"$dir/embeddings.parquet")
      em.filter(isQuery)
        .repartition(4, pmod(col("vec_id"), lit(4)))
        .write.mode("overwrite").parquet(s"$workDir/feed")
      AnnIndex.write(em, "vec_id", "embedding", s"$workDir/index",
        nList = NList, m = M, codes = Codes, iters = Iters)
    }
  }

  /** Drain the staged query feed against the stored index, appending
    * each batch's top-k rows. Returns the drained result log.
    */
  def run(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    setup(spark, dir, workDir)
    val (cents, books) = AnnIndex.readModel(spark, s"$workDir/index")
    val coded = AnnIndex.codes(spark, s"$workDir/index")
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val vecs = spark.read.schema(emSchema).parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").as("neighbor_id"), Vectors.toDouble(col("embedding")).as("v_c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val outDir = s"$workDir/results"
    val outSchema = StructType(Seq(
      StructField("query_id", LongType),
      StructField("rank", IntegerType),
      StructField("neighbor_id", LongType),
      StructField("cosine", DoubleType)))
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
          Similarity
            .pqKnnIvfCoded(coded, vecs, batch, "vec_id", "embedding", K,
              cents, books, nProbe = NList, shortlist = Int.MaxValue)
            .write.mode("append").parquet(outDir)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    coded.unpersist(false)
    vecs.unpersist(false)
    spark.read.schema(outSchema).parquet(outDir)
  }

  /** The one-shot twin: the whole query set served from the same store
    * in one call (what the drained log must equal).
    */
  def oneShot(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    setup(spark, dir, workDir)
    val (cents, books) = AnnIndex.readModel(spark, s"$workDir/index")
    val coded = AnnIndex.codes(spark, s"$workDir/index")
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    val em = spark.read.schema(emSchema).parquet(s"$dir/embeddings.parquet")
    val vecs = em.select(col("vec_id").as("neighbor_id"),
      Vectors.toDouble(col("embedding")).as("v_c"))
    Similarity.pqKnnIvfCoded(coded, vecs, em.filter(isQuery), "vec_id", "embedding", K,
      cents, books, nProbe = NList, shortlist = Int.MaxValue)
  }
}
