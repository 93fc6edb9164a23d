package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Fixture
import graft.functions.{Bpe, Text}
import graft.operators.Pack

/** Streaming BPE-ID shard emission (§2.9 composed with the trainer-
  * ready tier): arriving document micro-batches are encoded with a
  * PUBLISHED tokenizer (trained once at publish time, persisted by
  * [[Bpe.writeModel]], frozen thereafter — the e09 frozen-model
  * convention applied to the tokenizer) and appended to the packed id
  * stream as SLICE rows at global token positions, continuing the
  * running id offset exactly where the previous batch stopped — a
  * sequence that straddles a batch boundary is spliced from slices of
  * BOTH batches and must come out identical to the one-shot pack
  * (asserted in StreamingSpec against [[Pack.packedSequencesTokens]]
  * over the whole feed under the same stored model).
  *
  * Slice rows are the APPEND GRAIN of streaming shard emission: a
  * batch can always emit every slice it owns (each is a doc's overlap
  * with one sequence window, computable batch-locally from the global
  * offset), whereas emitting SEQUENCES would block on the final batch
  * of every straddled sequence. Readers group on seq_id
  * ([[Pack.assembleSequences]]); a finalize/compaction pass rewriting
  * closed sequences into shard files is io03's Compact applied to the
  * slice log (the AnnIndex.compact precedent).
  *
  * Cross-batch state is ONE scalar (the id high-water mark), recovered
  * from the slice log on restart (max(deb + n) — the IngestPack
  * offset convention) and carried across triggers on the append's own
  * Observation. The model ships driver-side as the compiled codec
  * reference; no trigger retrains or rescans earlier batches.
  *
  * The gate is d39's convention over the DRAINED log: reassembling
  * every document's id stream from its slices (global order) and
  * decoding must reproduce the whitespace-normalized text md5 the
  * DuckDB oracle computes directly — losslessness through encode →
  * incremental pack → disk → reassembly → decode, with the arrival
  * contract (ascending doc_id ranges, staged mtimes) shared with
  * IngestPack.
  */
object IngestIdShards {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)
  ))

  private val sliceSchema = StructType(Seq(
    StructField("seq_id", LongType),
    StructField("doc_id", LongType),
    StructField("deb", LongType),
    StructField("n", LongType),
    StructField("tranche", ArrayType(IntegerType))
  ))

  /** Bump when the model parameters or the log layout change. */
  private val format = "bpeids-m256-w20000-b512-v3" // v3: Feed.stage ranges
  private val NumMerges = 256
  private val TopWords = 20000
  private[graft] val SeqTokens = 512

  /** One-time setup: stage the corpus as 4 mtime-ordered doc_id-range
    * files (real micro-batches in arrival order — packing is
    * order-sensitive; [[Feed.stage]]) and PUBLISH the
    * tokenizer: train on the corpus as it exists at publish time,
    * persist, freeze. Idempotent per input via the fingerprint marker.
    */
  def setup(spark: SparkSession, dir: String, workDir: String): Unit = synchronized {
    val fingerprint = s"documents:${Fixture.stamp(spark, s"$dir/documents.parquet")}:$format"
    Fixture.once(spark, workDir, fingerprint) {
      val docs = spark.read.schema(docSchema).parquet(s"$dir/documents.parquet")
      Feed.stage(docs, col("doc_id"), s"$workDir/feed")
      Bpe.writeModel(spark,
        Bpe.train(docs, "text", numMerges = NumMerges, topWords = TopWords),
        s"$workDir/tokenizer")
    }
  }

  /** Drain the staged feed through the frozen tokenizer, appending id
    * slices per batch; returns the d39-convention gate relation
    * (doc_id, empreinte_recomposee) over the drained log.
    */
  def run(spark: SparkSession, dir: String, workDir: String): DataFrame = {
    setup(spark, dir, workDir)
    val model = Bpe.readModel(spark, s"$workDir/tokenizer")
    val idc = Bpe.idCodec(model)
    val feedDir = s"$workDir/feed"
    val slicesDir = s"$workDir/slices"
    val fs = new org.apache.hadoop.fs.Path(slicesDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // log + shard-store reset is a pure filesystem op (the IngestPack
    // convention): a gate run drains the whole feed fresh
    fs.delete(new org.apache.hadoop.fs.Path(slicesDir), true)
    fs.delete(new org.apache.hadoop.fs.Path(s"$workDir/shards"), true)
    fs.mkdirs(new org.apache.hadoop.fs.Path(slicesDir))

    // the running id offset: recovered from the log once at start (a
    // restarted loader continues exactly), then observe-carried
    def storedOffset(): Long = {
      val hasParts = fs.listStatus(new org.apache.hadoop.fs.Path(slicesDir))
        .exists(_.getPath.getName.startsWith("part-"))
      if (!hasParts) 0L
      else spark.read.schema(sliceSchema).parquet(slicesDir)
        .agg(coalesce(max(col("deb") + col("n")), lit(0L)))
        .collect()(0).getLong(0)
    }
    var offset = storedOffset()

    val q = spark.readStream
      .schema(docSchema)
      .option("maxFilesPerTrigger", "2")
      .parquet(feedDir)
      .writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        // encode with the FROZEN published model (pure compiled map),
        // then the batch's slice rows at global positions from the
        // carried offset — one action per trigger, offset rides the
        // append's own Observation (the IngestPack pattern; empty
        // batches keep the offset through the coalesce)
        val toks = batch.select(col("doc_id"),
          org.apache.spark.sql.graft.TextExpr
            .bpeEncodeIdStream(Text.tokens(col("text")), idc).as("ids"))
        val obs = org.apache.spark.sql.Observation(s"ids_off_${bid}_${System.nanoTime()}")
        Pack
          .packedSlicesTokens(toks, "doc_id", "ids", SeqTokens, startOffset = offset)
          .observe(obs, coalesce(max(col("deb") + col("n")), lit(offset)).as("off"))
          .write.mode("append").parquet(slicesDir)
        offset = obs.get("off").asInstanceOf[Long]
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()

    // the d39 gate tail over the DRAINED log: per-doc reassembly in
    // global order → decode → fingerprint; docs with no slices (zero
    // tokens) reassemble to the empty text
    val back = spark.read.schema(sliceSchema).parquet(slicesDir)
      .groupBy(col("doc_id"))
      .agg(flatten(transform(array_sort(collect_list(struct(col("deb"), col("tranche")))),
        p => p.getField("tranche"))).as("ids"))
    spark.read.schema(docSchema).parquet(s"$dir/documents.parquet")
      .select(col("doc_id"))
      .join(back, Seq("doc_id"), "left")
      .select(col("doc_id"),
        md5(coalesce(
          org.apache.spark.sql.graft.TextExpr.bpeDecodeIdStream(col("ids"), idc),
          lit(""))).as("empreinte_recomposee"))
  }

  /** Read-side sequence assembly over the drained slice log — what a
    * trainer (or the finalize pass) consumes; the spec compares it
    * against the one-shot [[Pack.packedSequencesTokens]].
    */
  def sequences(spark: SparkSession, workDir: String): DataFrame =
    Pack.assembleSequences(
      spark.read.schema(sliceSchema).parquet(s"$workDir/slices"), SeqTokens)

  /** Default shard grain of the finalize pass: 16 × 512 = 8 192 tokens
    * per shard file at the gate scale (production sizes this to the
    * trainer's shard contract).
    */
  private[graft] val SeqsPerShard = 16

  /** Finalize the drained (or mid-drain) slice log into immutable
    * shard files and trim the log to the open tail —
    * [[Pack.finalizeSliceLog]] over this loader's store layout. Safe
    * between triggers: appends continue from [[Pack.recoveredOffset]],
    * which consults the store watermark when the trim emptied the log.
    */
  def finalizeLog(spark: SparkSession, workDir: String): Pack.FinalizeResult =
    Pack.finalizeSliceLog(spark, s"$workDir/slices", s"$workDir/shards",
      SeqTokens, SeqsPerShard)

  /** Sequences a trainer reads after a finalize pass: the immutable
    * shard store plus the open tail still in the log — together they
    * must equal [[sequences]] over an untrimmed log (StreamingSpec).
    */
  def storeAndTailSequences(spark: SparkSession, workDir: String): DataFrame =
    Pack.readShards(spark, s"$workDir/shards")
      .select(col("seq_id"), col("tokens"), col("docs"))
      .unionByName(sequences(spark, workDir))
}
