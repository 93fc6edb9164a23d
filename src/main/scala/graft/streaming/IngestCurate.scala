package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Fixture
import graft.operators.{Dedup, LangModel, Pack}

/** The COMPOSED streaming ingest pipeline (§2.9 — the production shape;
  * p02's streaming twin): every arriving document micro-batch runs, in
  * ONE foreachBatch,
  *   1. the near-dup screen against the standing corpus
  *      ([[Dedup.minhashLshAgainst]] over the persisted signature store
  *      — s06's stage): flagged docs are dropped;
  *   2. the quality screen against the stored corpus bigram LM
  *      ([[LangModel.scoreWith]] — s09's stage): survivors below the
  *      corpus MEDIAN lm_score (a scalar fixed at publish time, stored
  *      with the model) are dropped — including sub-2-token docs, whose
  *      score is null (nothing to condition on, nothing to train on);
  *   3. incremental sequence packing of what remains
  *      ([[Pack.sequences]] resuming from the running global token
  *      offset — s07's stage), appended to the packed log.
  *
  * The drained log must equal the one-shot composition over the whole
  * feed (asserted in StreamingSpec; oracle-gated as s10, with DuckDB
  * recomputing ALL three stages — exhaustive cross-split Jaccard, the
  * corpus-trained LM + its median, and the prefix-sum packing — from
  * the raw table).
  *
  * Scale shape: each stage keeps its own adjudicated plan (map-side
  * probe of the narrow sig store, broadcastable model joins, two-phase
  * prefix sum); the only cross-batch state is the packing offset — one
  * scalar, recovered from the log on restart (the IngestPack pattern).
  * Arrival-order contract: packing is order-sensitive, so the feed is
  * staged as ascending doc_id ranges with strictly increasing mtimes
  * (production arrival order), exactly like IngestPack; the two screens
  * are order-insensitive so the contract costs them nothing.
  */
object IngestCurate {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  private def isBatch = col("doc_id") % 25 === 0 && col("doc_id") > 0

  /** Bump when any stored-artifact layout or screen parameter changes —
    * the setup fingerprint carries it (the s06/s08/s09 convention).
    */
  private val curFormat = "curate-minhash3x64-lm0.5-med-pack1024-v4" // v4: Feed.stage ranges
  private val K = 0.5
  private[streaming] val SeqTokens = 1024

  /** One-time ingest setup: stage the feed as 4 ascending doc_id ranges
    * (real micro-batches in production arrival order, mtime-stamped),
    * persist the corpus signature store, the corpus LM store, and the
    * publish-time quality threshold (the corpus's own median lm_score).
    * Load-phase artifacts — Bench runs this untimed. Idempotent per
    * input via the (length, mtime, format) fingerprint marker.
    */
  def setup(spark: SparkSession, dir: String, workDir: String): Unit = synchronized {
    val fingerprint = s"documents:${Fixture.stamp(spark, s"$dir/documents.parquet")}:$curFormat"
    Fixture.once(spark, workDir, fingerprint) {
      val docs = spark.read.schema(docSchema).parquet(s"$dir/documents.parquet")
      // 4 ascending doc_id ranges in arrival order: packing is
      // order-sensitive
      Feed.stage(docs.filter(isBatch), col("doc_id"), s"$workDir/feed")

      val corpus = docs.filter(!isBatch)
      Dedup.signatures(corpus, "doc_id", "text")
        .write.mode("overwrite").parquet(s"$workDir/corpus_sigs")
      // publish-time degenerate-bucket census (the IngestDedup pattern):
      // every batch's maxBucket pruning probes this corpus-only list
      // instead of paying a corpus-band exchange per trigger
      Dedup.hotBandBuckets(spark.read.parquet(s"$workDir/corpus_sigs"))
        .write.mode("overwrite").parquet(s"$workDir/corpus_hot_bb")
      val model = LangModel.train(corpus, "doc_id", "text", K)
      model.bic.write.mode("overwrite").parquet(s"$workDir/model_bic")
      model.uni.write.mode("overwrite").parquet(s"$workDir/model_uni")
      // the publish-time quality bar: the corpus's own median lm_score
      // (scored under its own model) — one scalar, the p02 median moved
      // to ingest time so arriving batches never re-scan the corpus
      val med = LangModel.scoreWith(model, corpus, "doc_id", "text")
        .agg(expr("percentile(lm_score, 0.5)")).head().getDouble(0)
      import spark.implicits._
      Seq((model.vocabSize, model.k, med)).toDF("v", "k", "med")
        .coalesce(1).write.mode("overwrite").parquet(s"$workDir/model_meta")
    }
  }

  private def stored(spark: SparkSession, workDir: String): (LangModel.BigramLm, Double) = {
    val meta = spark.read.parquet(s"$workDir/model_meta").head()
    (LangModel.BigramLm(
      spark.read.parquet(s"$workDir/model_bic"),
      spark.read.parquet(s"$workDir/model_uni"),
      meta.getLong(0),
      meta.getDouble(1)),
      meta.getDouble(2))
  }

  /** The three-stage screen-and-pack applied to one batch (the
    * composition itself, shared by the stream and its one-shot twin).
    */
  private def curateBatch(
      batch: DataFrame,
      corpus: DataFrame,
      corpusSigs: DataFrame,
      bandIdx: DataFrame,
      model: LangModel.BigramLm,
      medScore: Double,
      offset: Long): DataFrame = {
    // flagged drives BOTH sides of the survivor join — materialize the
    // tiny id set eagerly or the LSH probe (the batch's most expensive
    // stage) executes twice per micro-batch
    // the screen result is already materialized (minhashLshAgainst
    // checkpoints its verified pairs), so consuming the tiny distinct
    // twice through the survivor join costs nothing extra
    val flagged = Dedup
      .minhashLshAgainst(batch, corpus, "doc_id", "text",
        corpusSigs = Some(corpusSigs), corpusBands = Some(bandIdx))
      .select(col("id_batch").as("doc_id"))
      .distinct()
    val survivors = batch.join(flagged, Seq("doc_id"), "left_anti")
    // kept feeds Pack's two-phase prefix sum (two passes): materialize
    // the screened batch once — O(batch) narrow rows + text — so the
    // LM scoring never re-runs per pass
    val kept = survivors.join(
      LangModel.scoreWith(model, survivors, "doc_id", "text")
        .filter(col("lm_score") >= medScore)
        .select(col("doc_id")),
      Seq("doc_id"), "left_semi")
      .localCheckpoint(true)
    Pack.sequences(kept, "doc_id", "text", SeqTokens, startOffset = offset)
  }

  /** Drain the staged feed through the composed pipeline; returns the
    * packed log (== the one-shot composition over the whole feed).
    */
  def run(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    setup(spark, dir, workDir)
    val docs = spark.read.schema(docSchema).parquet(s"$dir/documents.parquet")
    val corpus = docs.filter(!isBatch)
    // drain-scoped persists: the sig store, its pruned band index and
    // the two model sides are corpus-only — the first trigger
    // materializes them, the other three scan executor memory
    // (IngestDedup pattern; narrow index iff the store fits the sig
    // broadcast budget)
    val corpusSigs = spark.read.parquet(s"$workDir/corpus_sigs")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // store-derived per-row weight (Dedup helper) — see IngestDedup
    val narrow = Dedup.sigStoreFitsBroadcast(corpusSigs)
    val bandIdx = Dedup
      .bandIndex(corpusSigs,
        hotBuckets = Some(spark.read.parquet(s"$workDir/corpus_hot_bb")),
        narrow = narrow)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (model0, med) = stored(spark, workDir)
    val model = model0.copy(
      bic = model0.bic.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK),
      uni = model0.uni.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val outDir = s"$workDir/packed"
    val packedSchema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("n_tokens", LongType),
      StructField("tok_debut", LongType),
      StructField("seq_debut", LongType),
      StructField("seq_fin", LongType),
      StructField("n_seqs", LongType)
    ))
    // log reset is a pure filesystem op; readers pass packedSchema
    // explicitly so an empty log needs no schema file (IngestPack)
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val outFs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    outFs.delete(outPath, true)
    outFs.mkdirs(outPath)

    // the running offset: recovered once at start, carried across
    // batches (IngestPack — O(batch) per trigger, no log re-scan); a
    // log with no part files is trivially at 0 (a listing, not a job)
    var offset =
      if (!outFs.listStatus(outPath).exists(_.getPath.getName.startsWith("part-"))) 0L
      else spark.read.schema(packedSchema).parquet(outDir)
        .agg(coalesce(max(col("tok_debut") + col("n_tokens")), lit(0L)))
        .collect()(0).getLong(0)

    // micro-batch SIZING, the standard structured-streaming throughput
    // lever: every pipeline pays its stage graph (a composed ingest ≈ a
    // dozen job barriers) per TRIGGER, so the catalog drains run
    // 2 files/trigger — TWO real triggers over the 4-range feed, the
    // minimum composition that exercises cross-batch state carry and
    // per-batch independence (the io05 two-batch convention; richer
    // many-trigger shapes are StreamingSpec's, at spec scale) — the
    // per-lot monitors (s11/s13) included: their foreachBatch emits one
    // row per lot PRESENT in the batch, so rows are identical however
    // the staged lots share triggers. Results are trigger-count-invariant
    // (asserted in StreamingSpec vs the one-shot composition): the
    // feed ranges are ascending and packing re-sorts by doc_id within
    // the batch.
    val q = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(s"$workDir/feed")
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // the running offset rides the append itself (observe): ONE
        // action per trigger computes, writes, and surfaces the new
        // high-water mark — no per-trigger checkpoint, no second
        // offset job. An empty batch appends nothing and the coalesce
        // keeps the offset.
        val obs = org.apache.spark.sql.Observation(s"curate_off_${bid}_${System.nanoTime()}")
        curateBatch(batch, corpus, corpusSigs, bandIdx, model, med, offset)
          .observe(obs, coalesce(max(col("tok_debut") + col("n_tokens")), lit(offset)).as("off"))
          .write.mode("append").parquet(outDir)
        offset = obs.get("off").asInstanceOf[Long]
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    bandIdx.unpersist(false)
    corpusSigs.unpersist(false)
    model.bic.unpersist(false)
    model.uni.unpersist(false)
    spark.read.schema(packedSchema).parquet(outDir)
  }

  /** The one-shot twin: the whole feed through the same three stages in
    * one call (what the drained log must equal).
    */
  def oneShot(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    setup(spark, dir, workDir)
    val docs = spark.read.schema(docSchema).parquet(s"$dir/documents.parquet")
    val (model, med) = stored(spark, workDir)
    val sigs = spark.read.parquet(s"$workDir/corpus_sigs")
    curateBatch(docs.filter(isBatch), docs.filter(!isBatch), sigs,
      Dedup.bandIndex(sigs,
        hotBuckets = Some(spark.read.parquet(s"$workDir/corpus_hot_bb"))),
      model, med, offset = 0L)
  }
}
