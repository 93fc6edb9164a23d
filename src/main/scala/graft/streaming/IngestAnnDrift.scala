package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Fixture
import graft.operators.AnnIndex

/** ANN recall-drift monitor (§2.9 composed with the e08/e09 store) —
  * the measurement behind the RE-PUBLISH decision: [[AnnIndex.append]]
  * encodes arriving batches with the FROZEN publish-time model, and as
  * the data distribution drifts away from the trained centroids and
  * codebooks the production serve silently loses recall. Per arriving
  * batch this monitor appends the batch to the store, then measures
  * recall@k of the frozen-model PRODUCTION-configuration serve
  * (nProbe &lt; nList, bounded shortlist) against exact brute force on a
  * bounded DETERMINISTIC query sample of the batch, and emits one drift
  * row per lot: (lot, n_requetes, k, rappel, alarme) — alarm past the
  * recall floor means "re-publish now". The d37/s11 pattern (monitor
  * against the persisted store, zero cross-batch state) applied to the
  * vector tier.
  *
  * Determinism: a batch's row measures base ∪ THIS lot only (the probe
  * restricts the code relation and the brute corpus to those ids), so
  * each row is identical whatever order earlier appends landed in —
  * the same per-batch independence the other ingest screens gate on.
  *
  * The staged feed plants a DRIFTED distribution in its last lot
  * (constant offset per component — far outside the trained cells, so
  * every drifted vector quantizes to near-identical codes and the
  * bounded shortlist cannot rank true neighbors): healthy jittered
  * lots must stay above the floor, the drifted lot must alarm.
  *
  * Scale shape per trigger: one pure-map append of the batch codes, a
  * |sample|-bounded probed-cell serve, and a |sample|·|base ∪ batch|
  * brute pass — O(sample · corpus), never corpus².
  */
object IngestAnnDrift {

  private val emSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)
  ))
  private val feedSchema = StructType(emSchema.fields :+ StructField("lot", IntegerType))

  private val format = "ivfpq-n16-m8-c16-i3-recalldrift-cellpart-v2"
  private val NList = 16
  private val M = 8
  private val Codes = 16
  private val Iters = 3
  // recall@1: the healthy jittered lots carry a PLANTED rank-1 truth
  // (each feed vector's nearest neighbor is its ±2% base original,
  // cosine ≈ 0.9999 vs ≤ ~0.51 for any other base pair — the e03
  // convention), so a healthy store serves it reliably and the metric
  // is crisp; deeper ranks on this fixture are near-ties that would
  // make the floor noisy without adding signal
  private val K = 1
  // production serve configuration (the DEFAULT, what StreamingSpec's
  // alarm semantics pin): nProbe 8/16 keeps healthy-lot recall high; the
  // shortlist must stay BELOW the smallest lot's size or a drifted lot
  // saturates (every candidate shortlisted ⇒ exact rerank ⇒ recall 1.0
  // and the alarm can never fire at test scale). The CATALOG GATE runs
  // the same machinery in the EXHAUSTIVE configuration instead
  // (nProbe = nList, unbounded shortlist — the e05/e06 precedent):
  // there, served ≡ brute by construction, so every drift row is
  // SQL-derivable (recall ≡ 1.0) and the DuckDB oracle certifies the
  // whole append → store read-back → serve → brute → recall-join
  // machinery end to end.
  private val NProbe = 8
  private val Shortlist = 16
  private val RecallFloor = 0.8

  /** The exhaustive-config gate entry point: all cells probed, every
    * candidate re-ranked exactly — recall is 1.0 BY THEOREM, so a
    * non-1.0 row means the machinery (not the model) broke.
    */
  def runExhaustive(spark: SparkSession, dir: String, workDir: String): DataFrame =
    run(spark, dir, workDir, nProbe = NList, shortlist = Int.MaxValue)

  /** Deterministic 4-lot append feed: lots 0-2 are healthy ±2% jittered
    * copies of corpus slices (the e03/e09 convention); lot 3 is the
    * PLANTED DRIFT — the same slice shifted by a constant per component
    * (a new embedding regime the frozen quantizer never saw).
    */
  def batchFeed(em: DataFrame): DataFrame = {
    val lot = pmod(col("vec_id"), lit(4L)).cast(IntegerType)
    em
      .filter(col("vec_id") % 3 === 0)
      .select(
        (col("vec_id") + (lot.cast(LongType) + lit(1L)) * lit(1000000L)).as("vec_id"),
        when(lot < 3,
          transform(col("embedding"), (x, j) =>
            (x.cast(DoubleType) *
              (lit(1.0) + (pmod(col("vec_id") * 31 + j.cast(LongType) * 7, lit(100L))
                .cast(DoubleType) / 100.0 - 0.5) * 0.04)).cast(FloatType)))
          .otherwise(
            transform(col("embedding"), x => (x.cast(DoubleType) + lit(4.0)).cast(FloatType)))
          .as("embedding"),
        col("label"),
        lot.as("lot")
      )
  }

  /** One-time setup: stage the 4-lot feed and publish the IVF-PQ store
    * over the base corpus. Idempotent per input via the (length, mtime,
    * format) fingerprint marker; Bench runs this untimed.
    */
  def setup(spark: SparkSession, dir: String, workDir: String): Unit = synchronized {
    val fingerprint = s"embeddings:${Fixture.stamp(spark, s"$dir/embeddings.parquet")}:$format"
    Fixture.once(spark, workDir, fingerprint) {
      val em = spark.read.schema(emSchema).parquet(s"$dir/embeddings.parquet")
      batchFeed(em)
        .repartition(4, col("lot"))
        .write.mode("overwrite").parquet(s"$workDir/feed")
      AnnIndex.write(em, "vec_id", "embedding", s"$workDir/index",
        nList = NList, m = M, codes = Codes, iters = Iters)
    }
  }

  /** Append only rows the store does not already hold: the store is a
    * tmp-dir artifact shared across bench/verify invocations in one
    * session, and a second drain must not duplicate code rows (a
    * duplicated neighbor would double-count in the recall join).
    */
  private def appendMissing(spark: SparkSession, workDir: String, rows: DataFrame): Unit = {
    val stored = AnnIndex.codes(spark, s"$workDir/index")
    val storedId = stored.schema.fieldNames.head
    val missing = rows
      .join(stored.select(col(storedId).as("vec_id")), Seq("vec_id"), "left_anti")
    // append unconditionally: the anti join already guarantees only
    // absent rows land, and an all-present delta (the warm re-run case)
    // writes zero part files — content-identical to skipping, WITHOUT
    // the former separate checkpoint-materializing count job per
    // trigger (the store write is now the delta's only action)
    AnnIndex.append(missing.select(col("vec_id"), col("embedding")),
      "vec_id", "embedding", s"$workDir/index")
  }

  /** One lot's drift row: append-encoded codes for the lot + the stored
    * base codes serve the lot's deterministic query sample; brute truth
    * over base ∪ lot. The lot's own codes are read back FROM THE STORE
    * (what [[AnnIndex.append]] wrote) — the row measures the persisted
    * artifact, not an in-memory re-encode.
    */
  private def lotRow(
      spark: SparkSession, workDir: String, base: DataFrame, lotRows: DataFrame,
      nProbe: Int, shortlist: Int): DataFrame = {
    val (cents, books) = AnnIndex.readModel(spark, s"$workDir/index")
    val stored = AnnIndex.codes(spark, s"$workDir/index")
    val storedId = stored.schema.fieldNames.head
    val coded = stored
      .select(col(storedId).as("neighbor_id"), col("cell"), col("codes"))
      .join(
        base.select(col("vec_id").as("neighbor_id"))
          .unionByName(lotRows.select(col("vec_id").as("neighbor_id"))),
        Seq("neighbor_id"), "left_semi")
    val corpus = base.select(col("vec_id"), col("embedding"))
      .unionByName(lotRows.select(col("vec_id"), col("embedding")))
    val sample = lotRows.filter(pmod(col("vec_id"), lit(7L)) === 0)
      .select(col("vec_id"), col("embedding"))
    AnnIndex
      .recallProbeCoded(coded, cents, books, sample, corpus,
        "vec_id", "embedding", K, nProbe, shortlist)
      .agg(
        count(lit(1)).as("n_requetes"),
        round(avg(col("rappel")), 6).as("rappel"))
      .select(
        lit(null).cast(IntegerType).as("lot"), // filled by the caller
        col("n_requetes"),
        lit(K).as("k"),
        col("rappel"),
        (col("rappel") < RecallFloor).as("alarme"))
  }

  /** Drain the staged feed: per trigger, append the arriving codes to
    * the store (frozen model), then emit one drift row per lot present.
    * Returns the drained monitor log.
    */
  def run(spark: SparkSession, dir: String, workDir: String,
      nProbe: Int = NProbe, shortlist: Int = Shortlist): DataFrame = {
    setup(spark, dir, workDir)
    val base = spark.read.schema(emSchema).parquet(s"$dir/embeddings.parquet")
    val outDir = s"$workDir/drift"
    val outSchema = StructType(Seq(
      StructField("lot", IntegerType),
      StructField("n_requetes", LongType),
      StructField("k", IntegerType),
      StructField("rappel", DoubleType),
      StructField("alarme", BooleanType)))
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    outFs.delete(outPath, true)
    outFs.mkdirs(outPath)

    val q = spark.readStream
      .schema(feedSchema)
      // two lots per trigger (the catalog two-trigger minimum
      // composition): the batch loop below emits one drift row PER LOT
      // PRESENT, and each row measures base ∪ its own lot only, so rows
      // are identical however the staged lots share triggers
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$workDir/feed")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // ONE job answers "is the batch empty" AND "which lots are
        // present": lots is empty ⟺ the batch is, so the former
        // separate batch.isEmpty probe was a second plan/schedule round
        // per trigger for a bit the lot collect already carries
        val lots = batch.select(col("lot")).distinct()
          .collect().map(_.getInt(0)).sorted
        if (lots.nonEmpty) {
          appendMissing(spark, workDir, batch)
          // per-lot rows, ONE append write per trigger (each row still
          // measures base ∪ its own lot only — the write grain is
          // commit plumbing, not measurement state)
          lots.map { l =>
            lotRow(spark, workDir, base, batch.filter(col("lot") === l), nProbe, shortlist)
              .withColumn("lot", lit(l))
              .select("lot", "n_requetes", "k", "rappel", "alarme")
          }.reduce(_.unionByName(_)).write.mode("append").parquet(outDir)
        }
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    spark.read.schema(outSchema).parquet(outDir)
  }

  /** The one-shot twin: every lot's drift row computed from the same
    * published store in one call (what the drained log must equal —
    * per-lot independence makes the rows order-free). Appends the whole
    * feed first so the store holds what the streaming path persisted.
    */
  def oneShot(spark: SparkSession, dir: String, workDir: String,
      nProbe: Int = NProbe, shortlist: Int = Shortlist): DataFrame = {
    setup(spark, dir, workDir)
    val base = spark.read.schema(emSchema).parquet(s"$dir/embeddings.parquet")
    val feed = spark.read.schema(feedSchema).parquet(s"$workDir/feed")
    appendMissing(spark, workDir, feed)
    val lots = feed.select(col("lot")).distinct().collect().map(_.getInt(0)).sorted
    lots.map { l =>
      lotRow(spark, workDir, base, feed.filter(col("lot") === l), nProbe, shortlist)
        .withColumn("lot", lit(l))
        .select("lot", "n_requetes", "k", "rappel", "alarme")
    }.reduce(_.unionByName(_))
  }
}
