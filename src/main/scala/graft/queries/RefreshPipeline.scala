package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Fixture
import graft.functions.Text
import graft.operators.{Curate, Decontaminate, Dedup, Pack, Stores}

/** p06 — the INCREMENTAL CORPUS REFRESH LOOP: the production cycle a
  * 100 TB training-data pipeline actually runs, composed from the
  * persisted screens and store-maintenance ops the catalog gates one by
  * one — and CHAINED: each refresh publishes generation N+1 with every
  * store the NEXT refresh will probe, so the loop closes instead of
  * proving a single hop.
  *
  * A generation is a CHAIN OF LAYER DIRECTORIES, newest first. The
  * append-only screen stores — span-gram fingerprints, the scrubbed
  * token corpus, minhash signatures, benchmark eval grams — read as the
  * union of the chain's layers, so maintaining them costs one
  * BATCH-SCALE delta write per refresh (the standing corpus is never
  * rewritten; a production loop bounds chain length with [[compactGen]]
  * — the io03 class applied to the chain, gated in RefreshSpec). The rewritten-per-generation state lives whole in
  * the newest layer: duplicate-cluster labels (edge-scale: components
  * over published labels ∪ new pairs — labels are a spanning structure
  * of the pair graph, so the merge never recomputes corpus pairs),
  * survivor stats (the narrow relation exact global re-selection reads
  * in full anyway), the budget selection, and the packed shard store
  * (maintained in place: tombstone/append/finalize — budget-bounded,
  * never corpus-bounded). The LSH probe accelerators (hot-bucket list,
  * pruned band index) are DERIVED state "rebuilt from the sig store at
  * will" (Dedup.bandIndex contract): generation maintenance rebuilds
  * them from the layered signatures — publish-class work a production
  * loop runs on a cadence, never on the per-batch path.
  *
  * [[setup]] (load-phase, Bench-untimed — what "the corpus is ingested"
  * means in production, the s06/s13 convention) publishes generation 0
  * over doc_id ≤ ⌊8·max/10⌋ and then runs ONE FULL MAINTAINING REFRESH
  * of batch-1 = (⌊8·max/10⌋, ⌊9·max/10⌋] into generation 1. The TIMED
  * query ([[run]]) is the SECOND refresh: batch-2 = doc_id > ⌊9·max/10⌋
  * screened against generation 1's stores — so the gate certifies
  * refresh ∘ refresh ≡ one-shot, the fixpoint property that makes this
  * a loop rather than a one-hop trick.
  *
  * Refresh stages (per batch, the standing corpus never re-read at
  * corpus scale through any exchange):
  *
  *   1. batch repetition scrub — pure map (d19 kernel);
  *   2. incremental span screen against the layered gram store
  *      ([[Dedup.spanScrubTokensAgainst]] — batch grams broadcast into
  *      one map-side store scan; DedupSpec pins ≡ one-shot∪ restricted
  *      to batch);
  *   3. near-dup: batch-internal LSH pairs + batch-vs-corpus pairs
  *      against the layered SIGNATURE store (corpus streams one
  *      map-side probe pass), then connected components over
  *      (generation labels ∪ new pairs) — labels are a spanning
  *      structure of the generation's pair graph, so components equal
  *      the one-shot graph's; a batch doc BRIDGING two published
  *      clusters correctly evicts the higher-canonical one;
  *   4. decontamination both ways in ONE merged screen, run
  *      CONCURRENTLY with the near-dup chain (no data dependency): the
  *      batch and the generation's survivors against (generation ∪ new)
  *      eval grams — survivors cannot hit the generation's grams (they
  *      passed that screen when it was published), so their verdicts
  *      reduce to the new-grams check, and new benchmarks can evict old
  *      docs; the survivor pass reads the persisted scrubbed layers,
  *      never raw;
  *   5. budget RE-selection over narrow survivor stats (generation
  *      stats minus evictions, plus fresh batch stats) — evictions can
  *      free budget that admits previously-just-over-the-line docs;
  *   6. store maintenance ([[Pack]]): tombstone-mask evictees in the
  *      generation's shards and open tail (io07), append entrant slices
  *      at the recovered offset (s14), finalize whole shards (io05) —
  *      survivors keep their PUBLISHED positions, entrants append at
  *      the tail (positions differ from a one-shot permutation by
  *      design; selection and content must not).
  *
  * GATE: the generation-2 report (selection + per-doc fingerprints
  * DECODED from the refreshed store read back from disk) must
  * hash-equal the ORACLE'S ONE-SHOT p04-style rebuild over
  * corpus ∪ batch1 ∪ batch2 — i.e. over the WHOLE documents table, with
  * the conserve/entrant boundary at generation 1's threshold
  * ⌊9·max/10⌋. The equality composes hop by hop: every store
  * generation 1 publishes equals what a fresh publish over
  * corpus ∪ batch1 would build (append-only stores by the layered-union
  * construction + the DedupSpec batch-restriction equalities; labels by
  * the spanning-structure argument; stats/selection by the monotone
  * eviction channels), so hop 2 sees exactly the state the one-shot
  * would give it. Corpus rows are INVARIANT under appending higher-id
  * docs in every screen — a batch can steal neither a span first
  * occurrence (ordering), nor a cluster canonical (min only falls:
  * once non-canonical, always non-canonical), nor decontaminate
  * backwards (eval grams only grow) — so published stores stay the
  * truth for the standing side; batch rows see exactly the one-shot's
  * cross-split state through the stores. RefreshSpec pins the
  * store-level mechanics (masking, positions, re-admission, the
  * generation-1 layer contents) the report hash cannot see.
  *
  * Scale shape of one refresh: everything batch-scale except (a) one
  * map-side probe pass of the layered sig store, (b) one map-side scan
  * of the persisted scrubbed layers against the broadcast NEW eval
  * grams, (c) the narrow survivor-stats re-selection, and (d) the store
  * maintenance — bounded by the TRAINING BUDGET, not the corpus (the
  * packed store holds ≤ budget tokens; at a trillion-token budget the
  * tombstone pass would prune to touched shard dirs via the provenance
  * manifest and republish per-dir through Swap, the io07 / finalize
  * staging path). The corpus-scale relations move ZERO bytes through
  * any exchange — RefreshSpec's metered scaling law, with a plantable
  * negative control (`spark.graft.plant.refreshCorpusExchange`) that
  * proves the law test still fires.
  */
private[graft] object RefreshPipeline {

  private val GramTokens = 8 // span grams (d30/d32 convention)
  private val ShingleN = 3 // near-dup shingles (d06)
  private val SigK = 64
  private val Bands = 32
  private val Threshold = 0.5
  private val DeconN = 5 // benchmark gram width (d16)
  private val Budget = 10000L // training token budget (d33)
  private val SeqTokens = 256
  private val SeqsPerShard = 8
  private val Pad = "<scrub>" // tombstone mask token (io07)

  /** Bump when any published-store layout or convention changes. */
  private val format = "p06-refresh-v5-chained" // v5: slice logs persist `fin`

  def workDir(dir: String): String = Fixture.workDir("p06", dir)

  def gen0Dir(dir: String): String = s"${workDir(dir)}/gen0"
  def gen1Dir(dir: String): String = s"${workDir(dir)}/gen1"
  def gen2Dir(dir: String): String = s"${workDir(dir)}/gen2"

  // -------------------------------------------------------------------
  // generation-chain store readers
  // -------------------------------------------------------------------

  /** Union of one append-only store over the generation's layer chain
    * (newest first). Every layer writes the store dir — possibly with
    * zero rows (an idle refresh window) but always with a readable
    * parquet footer — so the read needs no existence probing.
    */
  private def layered(spark: SparkSession, layers: Seq[String], sub: String): DataFrame =
    layers.map(l => spark.read.parquet(s"$l/$sub")).reduce(_.unionByName(_))

  /** The generation's split point: docs with id ≤ threshold belong to
    * the generation ("conserve" in the refresh report), higher ids
    * arrive as batches. Written when the generation is published.
    */
  private[graft] def publishedThreshold(spark: SparkSession, genDir: String): Long =
    Fixture.read(spark, s"$genDir/_SPLIT_T").trim.toLong

  private def writeThreshold(spark: SparkSession, genDir: String, t: Long): Unit =
    Fixture.write(spark, s"$genDir/_SPLIT_T", t.toString)

  // -------------------------------------------------------------------
  // publish — one-time generation-0 build (load-phase setup: in
  // production these stores are what "the corpus is ingested" MEANS;
  // Bench runs it untimed, the s06/s13/s15 store-publish convention)
  // -------------------------------------------------------------------

  /** Idempotent per input via the (length, mtime, format) fingerprint. */
  def setup(spark: SparkSession, dir: String): Unit = synchronized {
    val fingerprint = s"documents:${Fixture.stamp(spark, s"$dir/documents.parquet")}:$format"
    Fixture.once(spark, workDir(dir), fingerprint) {
      val docs = graft.sources.Tables.documents(spark, dir)
      val mx = docs.agg(coalesce(max(col("doc_id")), lit(0L))).collect()(0).getLong(0)
      // corpus = gen-0, batch-1 = (t1, t2], batch-2 = (t2, max]: the
      // append-only id contract every incremental screen's equality
      // proof relies on (batch ids order after generation ids). t2 is
      // the oracle's conserve/entrant boundary (⌊9·max/10⌋ — the
      // convention RefreshSpec pins and the p06 oracle hardcodes).
      val t1 = 8L * mx / 10L
      val t2 = 9L * mx / 10L
      publish(spark, docs.filter(col("doc_id") <= t1), gen0Dir(dir))
      writeThreshold(spark, gen0Dir(dir), t1)
      // generation 1 = ONE FULL MAINTAINING REFRESH of batch-1: the
      // hop whose published stores the timed refresh will probe — the
      // chain that makes run() certify refresh ∘ refresh ≡ one-shot
      refreshGen(spark, Seq(gen0Dir(dir)),
        docs.filter(col("doc_id") > t1 && col("doc_id") <= t2),
        gen1Dir(dir), threshold = t1, maintainThreshold = Some(t2))
    }
  }

  /** Build and persist every store of a fresh generation. Mirrors the
    * p04 one-shot stages exactly (curationKept/deconKept conventions),
    * materializing each cross-batch artifact later refreshes probe.
    * private[graft] so RefreshSpec can chain arbitrary generations.
    */
  private[graft] def publish(spark: SparkSession, corpus: DataFrame, work: String): Unit = {
    // stage 1: repetition scrub — the span stage's input streams
    val rep = corpus.select(col("doc_id"),
      org.apache.spark.sql.graft.TextExpr
        .repetitionScrub(Text.tokens(col("text")), 3).as("a1"))
    // span-gram store: the corpus AS THE SPAN SCRUB SAW IT (pre-removal
    // streams — spanGramStore's contract), 8 B/gram on the xxhash path
    Dedup.spanGramStore(rep, "doc_id", "a1", GramTokens, exactFingerprints = false)
      .write.mode("overwrite").parquet(s"$work/span_grams")
    // stage 2: corpus span scrub → THE persisted cleaned corpus (every
    // span survivor, including docs later dropped by near-dup/decon —
    // the refresh needs their tokens for pair verification)
    Dedup.spanScrubTokens(rep, "doc_id", "a1", GramTokens, exactFingerprints = false)
      .select(col("doc_id"), col("jetons_gardes").as("jetons"),
        col("n_tokens_gardes").as("n_jetons"))
      .filter(col("n_jetons") > 0)
      .write.mode("overwrite").parquet(s"$work/scrubbed")
    val scrubbed = spark.read.parquet(s"$work/scrubbed")
    // stage 3: signature store + near-dup pairs + cluster labels (the
    // labels persist CONNECTIVITY: every member → its canonical, so a
    // refresh can merge new edges without the corpus pair recompute)
    Dedup.signaturesTokens(scrubbed, "doc_id", "jetons", ShingleN, SigK)
      .write.mode("overwrite").parquet(s"$work/sigs")
    // the pruned band index + hot-bucket list, published beside the sig
    // store (the bandIndex/hotBandBuckets contract): every refresh
    // probes the PERSISTED index instead of re-exploding and
    // re-censusing the corpus signatures per batch
    val sigStore = spark.read.parquet(s"$work/sigs")
    Dedup.hotBandBuckets(sigStore, SigK, Bands)
      .write.mode("overwrite").parquet(s"$work/hot")
    Dedup.bandIndex(sigStore, SigK, Bands,
        hotBuckets = Some(spark.read.parquet(s"$work/hot")), narrow = true)
      .write.mode("overwrite").parquet(s"$work/bands")
    val pairs = Dedup.minhashLshTokens(
      scrubbed, "doc_id", "jetons", ShingleN, SigK, Bands, Threshold)
    Dedup.clusters(pairs)
      .write.mode("overwrite").parquet(s"$work/labels")
    val removed = spark.read.parquet(s"$work/labels")
      .filter(col("id") =!= col("cluster_id")).select(col("id").as("doc_id"))
    val kept = scrubbed.join(removed, Seq("doc_id"), "left_anti")
    // stage 4: benchmark eval-gram store (raw-text grams — the d16
    // convention: benchmarks arrive as external text) + decon screen
    corpus.filter(col("doc_id") % 50 === 0 && col("doc_id") > 0)
      .select(explode(Text.shingles(col("text"), DeconN)).as("g")).distinct()
      .write.mode("overwrite").parquet(s"$work/eval_grams")
    val cont = Decontaminate.contaminatedIdsTokensVsGrams(
      kept, "doc_id", "jetons", spark.read.parquet(s"$work/eval_grams"), DeconN)
    val cln = kept.join(cont, Seq("doc_id"), "left_anti")
    // stage 5: survivor stats — the NARROW relation re-selection reads
    cln.select(col("doc_id"),
        Text.qualityScore(concat_ws(" ", col("jetons"))).as("qualite"), col("n_jetons"))
      .write.mode("overwrite").parquet(s"$work/stats")
    // stage 6: budget selection + packed store (slice log → finalize;
    // pack key = doc_id, so store provenance needs no rank mapping and
    // entrants appended later keep globally-unique keys)
    Curate.budgetSelect(
        spark.read.parquet(s"$work/stats"), "doc_id", "qualite", "n_jetons", Budget)
      .select(col("doc_id"), col("qualite"), col("n_jetons"), col("cum"))
      .write.mode("overwrite").parquet(s"$work/selection")
    val packIn = scrubbed.join(
      broadcast(spark.read.parquet(s"$work/selection").select(col("doc_id"))),
      Seq("doc_id"), "left_semi")
    Pack.packedSlicesTokens(packIn, "doc_id", "jetons", SeqTokens, numPartitions = 1)
      .write.mode("overwrite").parquet(s"$work/store/log")
    Pack.finalizeSliceLog(spark, s"$work/store/log", s"$work/store/shards",
      SeqTokens, SeqsPerShard, numPartitions = 1)
  }

  // -------------------------------------------------------------------
  // generation-chain compaction — the io03 class applied to the layer
  // chain itself
  // -------------------------------------------------------------------

  /** Fold a generation's layer chain into ONE equivalent layer at
    * `outDir` — the maintenance op that BOUNDS chain length (every
    * refresh adds a layer; every layered-union reader re-reads the
    * whole chain, so probe cost grows with depth until a fold). A
    * production loop runs this on a cadence (depth watermark), exactly
    * like shard-log finalize or index compaction.
    *
    * Contract (RefreshSpec pins it): a refresh against `Seq(outDir)`
    * ≡ the same refresh against `layers` —
    *   - append-only stores (span grams, scrubbed corpus, signatures,
    *     eval grams): the compacted store holds exactly the layered
    *     UNION's rows (plain union — cross-layer duplicate grams are
    *     legitimate store content: a batch re-stating a corpus gram
    *     recorded it again in its own layer);
    *   - rewritten-per-generation state (labels, stats, selection, the
    *     LSH probe accelerators, the packed shard store, the split
    *     point): lives whole in the newest layer — carried over
    *     verbatim, the store FILES byte-copied so published global
    *     positions and the shard watermark survive bit-for-bit.
    *
    * Corpus-scale reads and writes, zero corpus-keyed exchange (pure
    * union → write; Spark plans no shuffle) — publish-class work on the
    * maintenance cadence, never the per-batch path.
    */
  def compactGen(spark: SparkSession, layers: Seq[String], outDir: String): Unit = {
    require(layers.nonEmpty, "compactGen: need at least one layer")
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    val fs = outPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(outPath, true)
    fs.mkdirs(outPath)
    Seq("span_grams", "scrubbed", "sigs", "eval_grams").foreach { sub =>
      layered(spark, layers, sub).write.mode("overwrite").parquet(s"$outDir/$sub")
    }
    // newest-layer state: parquet stores rewritten whole per generation
    Seq("labels", "stats", "selection", "hot", "bands").foreach { sub =>
      spark.read.parquet(s"${layers.head}/$sub")
        .write.mode("overwrite").parquet(s"$outDir/$sub")
    }
    // the packed store: byte-copied, not rewritten — conserve docs keep
    // their PUBLISHED positions bit-for-bit and the shard watermark
    // marker (a non-parquet file) must survive
    val conf = spark.sparkContext.hadoopConfiguration
    // hard-link the immutable data files instead of byte-copying the
    // store (Stores.duplicate): the fold's carry cost drops from
    // O(store bytes) to O(files) — at 100 TB the difference between a
    // metadata fold and a full packed-store rewrite per fold
    Stores.duplicate(
      fs, new org.apache.hadoop.fs.Path(s"${layers.head}/store"),
      new org.apache.hadoop.fs.Path(s"$outDir/store"), conf)
    writeThreshold(spark, outDir, publishedThreshold(spark, layers.head))
  }

  // -------------------------------------------------------------------
  // compaction TRIGGER policy — the watermark that schedules the fold
  // inside the production loop (r18 verdict ask #2: compactGen existed
  // and was law-pinned, but nothing DECIDED when to fold)
  // -------------------------------------------------------------------

  /** Chain-depth watermark: a maintaining hop that leaves the new
    * generation's layer chain at this depth or deeper schedules the
    * fold. The depth law (SCALE.md chain-depth table, three decades)
    * justifies the policy: refresh BYTES are depth-invariant, but every
    * layered-union reader re-reads D directories per append-only store,
    * so probe cost grows without bound in D while the fold resets it —
    * and the fold's own cost is publish-class (linear, sequential-write
    * -bound), fine on the maintenance cadence. 3 keeps the steady state
    * at ≤ 2 live layers + periodic folds, the smallest depth at which
    * the policy actually cycles (1 would fold every hop — a rewrite per
    * batch, the exact corpus-scale-per-batch shape the layered design
    * exists to avoid; 2 folds every other hop, still nearly that).
    */
  private[graft] val CompactDepth = 3

  /** One POLICY-GOVERNED hop of the production maintenance loop: run
    * the maintaining refresh into `outDir`, then — when the resulting
    * chain has reached [[CompactDepth]] — fold it with [[compactGen]]
    * on the spot (the s13-alarm→e10-republish precedent: measurement
    * schedules maintenance; here the measurement is the chain depth
    * itself, known without a probe). Returns the NEXT generation's
    * layer chain, newest first: `outDir +: layers` when under the
    * watermark, or the single folded layer. The fold is invariant
    * (RefreshSpec's six-layer law), so the loop's fixpoint property —
    * refreshᴺ ≡ one-shot — survives any fold cadence; the p08 gate
    * hash-proves it end-to-end with a fold mid-chain.
    */
  def maintainedRefresh(
      spark: SparkSession,
      layers: Seq[String],
      batch: DataFrame,
      outDir: String,
      threshold: Long,
      newThreshold: Long): Seq[String] = {
    refreshGen(spark, layers, batch, outDir, threshold,
      maintainThreshold = Some(newThreshold))
    val chain = outDir +: layers
    if (chain.length >= CompactDepth) {
      val folded = s"$outDir-folded"
      compactGen(spark, chain, folded)
      Seq(folded)
    } else chain
  }

  // -------------------------------------------------------------------
  // p08 — the policy-driven generation chain (gated): THREE maintaining
  // hops under maintainedRefresh (the fold fires mid-chain when depth
  // hits the watermark), then the timed FOURTH refresh runs against the
  // policy's chain — and must still hash-match the one-shot oracle over
  // the whole table (p06's oracle verbatim: the final conserve/entrant
  // boundary is the same ⌊9·max/10⌋)
  // -------------------------------------------------------------------

  def policyWorkDir(dir: String): String = Fixture.workDir("p08", dir)

  /** The layer chain the policy loop left live, persisted by
    * [[policySetup]] (newest first, one dir per line) — what a
    * production deployment's generation manifest records.
    */
  private def readChain(spark: SparkSession, work: String): Seq[String] =
    Fixture.read(spark, s"$work/_CHAIN").trim.split("\n").toSeq


  /** Publish gen-0 over doc_id ≤ ⌊6·max/10⌋, then run THREE policy-
    * governed maintaining hops (batches to 7/10, 8/10, 9/10 of max).
    * With CompactDepth = 3 the chain runs g0 → [g1,g0] → fold([g2,g1,g0])
    * = [g2-folded] → [g3, g2-folded]: the watermark fires exactly once,
    * mid-chain, and the timed refresh probes a chain CONTAINING a
    * policy-folded layer. Load-phase setup (Bench untimed — the
    * store-publish convention; the fold is maintenance-cadence work).
    */
  def policySetup(spark: SparkSession, dir: String): Unit = synchronized {
    val work = policyWorkDir(dir)
    val fingerprint = s"documents:${Fixture.stamp(spark, s"$dir/documents.parquet")}:" +
      s"$format:policy-d$CompactDepth-v1"
    Fixture.once(spark, work, fingerprint) {
      val docs = graft.sources.Tables.documents(spark, dir)
      val mx = docs.agg(coalesce(max(col("doc_id")), lit(0L))).collect()(0).getLong(0)
      def t(frac: Int) = frac.toLong * mx / 10L
      publish(spark, docs.filter(col("doc_id") <= t(6)), s"$work/g0")
      writeThreshold(spark, s"$work/g0", t(6))
      var chain: Seq[String] = Seq(s"$work/g0")
      (1 to 3).foreach { h =>
        chain = maintainedRefresh(spark, chain,
          docs.filter(col("doc_id") > t(5 + h) && col("doc_id") <= t(6 + h)),
          s"$work/g$h", threshold = t(5 + h), newThreshold = t(6 + h))
      }
      Fixture.write(spark, s"$work/_CHAIN", chain.mkString("\n"))
    }
  }

  /** The TIMED policy-chain refresh: the fourth batch (doc_id >
    * ⌊9·max/10⌋) against whatever chain the policy loop left live —
    * certifying refresh ∘ fold(policy) ∘ refresh³ ≡ one-shot.
    */
  def runPolicy(spark: SparkSession, dir: String): DataFrame = {
    policySetup(spark, dir)
    val work = policyWorkDir(dir)
    val chain = readChain(spark, work)
    val t3 = publishedThreshold(spark, chain.head)
    val batch = graft.sources.Tables.documents(spark, dir).filter(col("doc_id") > t3)
    refreshGen(spark, chain, batch, s"$work/gen_final", threshold = t3)
  }

  // -------------------------------------------------------------------
  // refresh — the incremental loop body (timed for the final hop)
  // -------------------------------------------------------------------

  /** Per-doc token streams of a (shards + open-tail log) store, spliced
    * from slice provenance at global positions — the read-back side of
    * the gate's losslessness check. Handles a store whose shard tier or
    * log tier — or both (a generation whose selection emptied) — is
    * empty/absent: tiny corpora close no whole shard, and an
    * everything-evicted refresh leaves no live slice at all.
    */
  /** Does `p` hold at least one non-empty parquet part file? A tiny
    * generation closes no whole shard (finalize emits nothing), so a
    * store's shard tier — and, after an everything-evicted refresh, its
    * log tier — may legitimately be absent.
    */
  private def nonEmptyStore(spark: SparkSession, p: String): Boolean = {
    val path = new org.apache.hadoop.fs.Path(p)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(path) && {
      val it = fs.listFiles(path, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next()
        found = f.getPath.getName.startsWith("part-") && f.getLen > 0
      }
      found
    }
  }

  private[graft] def storePerDoc(spark: SparkSession, storeDir: String): DataFrame = {
    def nonEmpty(p: String): Boolean = nonEmptyStore(spark, p)
    val b = lit(SeqTokens.toLong)
    val fromShards =
      if (!nonEmpty(s"$storeDir/shards")) None
      else Some(Pack.readShards(spark, s"$storeDir/shards")
        .select(col("seq_id"), col("tokens"), explode(col("docs")).as("d"))
        .select(col("d.doc_id").as("doc_id"),
          (col("seq_id") * b + col("d.debut_dans_seq")).as("deb"),
          expr("slice(tokens, d.debut_dans_seq + 1, d.n_tokens)").as("tranche")))
    val fromLog =
      if (!nonEmpty(s"$storeDir/log")) None
      else Some(spark.read.parquet(s"$storeDir/log")
        .select(col("doc_id"), col("deb"), col("tranche")))
    val slices = (fromShards.toSeq ++ fromLog.toSeq)
      .reduceOption(_.unionByName(_))
      .getOrElse {
        import spark.implicits._
        Seq.empty[(Long, Long, Seq[String])].toDF("doc_id", "deb", "tranche")
      }
    slices
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("deb"), col("tranche")))).as("parts"))
      .select(col("doc_id"),
        flatten(transform(col("parts"), p => p.getField("tranche"))).as("toks"))
  }

  /** One incremental refresh hop: screen `batch` against the generation
    * whose layer chain is `layers` (newest first), re-select the
    * budget, and maintain the packed store into `outDir` — the next
    * generation's layer. Returns the refreshed selection report read
    * back THROUGH the refreshed store.
    *
    * `threshold` is the generation's id boundary (report statut:
    * conserve ≤ threshold < entrant). With `maintainThreshold = Some(t)`
    * the hop also publishes generation N+1 IN FULL at `outDir`:
    * batch-scale DELTAS of the append-only stores (span grams, scrubbed
    * tokens, signatures, eval grams), the rewritten edge-scale /
    * narrow stores (labels, stats, selection), the rebuilt LSH probe
    * accelerators (hot, bands — derived state, publish-class cadence),
    * and the new split point `t` — everything the NEXT refresh probes.
    */
  def refreshGen(
      spark: SparkSession,
      layers: Seq[String],
      batch: DataFrame,
      outDir: String,
      threshold: Long,
      maintainThreshold: Option[Long] = None): DataFrame = {
    val trace = sys.env.contains("SPARK_GRAFT_P06_TRACE")
    val traceMeter = if (!trace) None else {
      val m = new org.apache.spark.graft.ShuffleMeter
      spark.sparkContext.addSparkListener(m)
      Some(m)
    }
    // scope the call's pinned state: every cache / localCheckpoint the
    // body creates (bSigs, the screen checkpoints, the LSH working
    // caches inside minhashLshAgainst) is released on the way out —
    // the returned report reads the PUBLISHED selection + store from
    // disk, so nothing created here must outlive the call. Without the
    // sweep, repeated in-session callers (RefreshSpec's 7-refresh
    // chain, a production loop) accumulate CacheManager entries and
    // blocks — the chaindepth harness measured ~2× from exactly this
    // before it grew its own dropBlocks counter (r18 ADVICE #1).
    // Sweep by id-snapshot diff: refreshGen runs its internal futures
    // to completion before returning, and no caller overlaps it with
    // other persisting work (p06/p07/RefreshSpec all call it
    // sequentially), so every new persistent RDD id is ours.
    val pinnedBefore = spark.sparkContext.getPersistentRDDs.keySet
    try {
      refreshGenBody(spark, layers, batch, outDir, threshold, maintainThreshold,
        trace, traceMeter)
    } finally {
      // remove the trace listener (ShuffleMeter.measure's convention) —
      // leaving it registered leaked one ever-growing meter per refresh
      // call in a trace session
      traceMeter.foreach(spark.sparkContext.removeSparkListener)
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!pinnedBefore.contains(id)) rdd.unpersist(blocking = false)
      }
    }
  }

  private def refreshGenBody(
      spark: SparkSession,
      layers: Seq[String],
      batch: DataFrame,
      outDir: String,
      threshold: Long,
      maintainThreshold: Option[Long],
      trace: Boolean,
      traceMeter: Option[org.apache.spark.graft.ShuffleMeter]): DataFrame = {
    var t0 = System.nanoTime()
    var traceW = 0L
    def mark(stage: String): Unit = if (trace) {
      val t1 = System.nanoTime()
      org.apache.spark.graft.ShuffleMeter.drain(spark.sparkContext)
      val w = traceMeter.map(_.writeBytes).getOrElse(0L)
      System.err.println(
        f"P06TRACE $stage ${(t1 - t0) / 1e9}%.2f s shw_delta=${(w - traceW) / 1e6}%.2f MB")
      traceW = w
      t0 = t1
    }
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(outDir), true)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // the entrant-append offset of stage 6 is a property of the
    // GENERATION'S published store alone (masking rewrites slice
    // contents, never deb/n or shard layout, so the masked copy's
    // recovered offset equals the source's) — recover it from the
    // published store CONCURRENTLY with the screens instead of
    // re-reading the freshly-masked copy on the critical path
    val offsetF = scala.concurrent.Future {
      Pack.recoveredOffset(spark, s"${layers.head}/store/log",
        s"${layers.head}/store/shards", SeqTokens, SeqsPerShard)
    }
    // the decontamination screen's eval side — (generation ∪ new
    // benchmark) grams, sized and (under budget) collected for
    // broadcast — touches only the gram stores and the raw batch, so
    // its one measuring aggregate + bounded collect run here,
    // concurrent with the span screen, and the screen itself starts
    // with zero eval-side jobs on its critical path
    val newEvalGrams = batch.filter(col("doc_id") % 50 === 0)
      .select(explode(Text.shingles(col("text"), DeconN)).as("g")).distinct()
    val evalSideF = scala.concurrent.Future {
      Decontaminate.preparedEvalGrams(
        layered(spark, layers, "eval_grams").unionByName(newEvalGrams))
    }

    // negative control for RefreshSpec's metered scaling law (the z99
    // convention): when planted, push the corpus-scale token relation
    // through a corpus-keyed exchange — exactly the regression class
    // the law test exists to catch. Never set outside the control.
    val plant = spark.conf.getOption("spark.graft.plant.refreshCorpusExchange")
      .orElse(sys.env.get("SPARK_GRAFT_PLANT_REFRESH_XCHG"))
      .contains("1")

    // 1-2: repetition scrub (map) + incremental span screen vs the
    // generation's layered gram store; eagerly checkpointed — five
    // downstream consumers across two concurrent screen threads (a lazy
    // cache here measured a ~20× driver-side stall: both futures race
    // to materialize the same uncached relation and serialize on the
    // cache/AQE machinery instead of running jobs)
    val bRep = batch.select(col("doc_id"),
      org.apache.spark.sql.graft.TextExpr
        .repetitionScrub(Text.tokens(col("text")), 3).as("a1"))
    val bScrubbed = Dedup.spanScrubTokensAgainst(
        bRep, "doc_id", "a1", layered(spark, layers, "span_grams"),
        GramTokens, exactFingerprints = false)
      .select(col("doc_id"), col("jetons_gardes").as("jetons"),
        col("n_tokens_gardes").as("n_jetons"))
      .filter(col("n_jetons") > 0)
      .localCheckpoint(true)
    mark("span_screen")

    // 3: near-dup — ONE union probe produces batch-vs-corpus AND
    // batch-internal pairs: the batch's own band rows union the
    // generation's PERSISTED pruned band index (no per-refresh census
    // or corpus band explode), the batch signatures — computed once
    // here — serve both the probe side and the sig-store delta, and
    // components run over (generation labels ∪ new pairs). The narrow
    // index + sig-broadcast shape is valid while the layered sig store
    // fits the broadcast budget (the bandIndex contract; bounded here
    // by the parquet footprint check) — past it the screen falls back
    // to the in-flight FAT band build, sig_c riding the rows, with the
    // generation's hot list still skipping the census.
    val scrubbedStore = layered(spark, layers, "scrubbed")
    val sigStore = layered(spark, layers, "sigs")
    val stats = spark.read.parquet(s"${layers.head}/stats")
    if (plant) {
      // incompressible corpus-∝ payload (md5 per token): shuffle-codec
      // compression must not be able to hide the planted regression
      val exploded = scrubbedStore
        .select(col("doc_id"), explode(col("jetons")).as("t0"))
        .select(col("doc_id"),
          md5(concat(col("doc_id").cast("string"), col("t0"))).as("t"))
      // noop sink (not an agg): count(*) would let Catalyst prune the
      // payload column out of the planted exchange
      exploded.unionByName(exploded).unionByName(exploded).unionByName(exploded)
        .repartition(col("doc_id"))
        .write.mode("overwrite").format("noop").save()
    }
    // the near-dup chain and the decontamination screen share NO data
    // dependency (contamination is a per-doc property of the scrubbed
    // grams; removing near-dups first only shrinks the screened set, and
    // removed ∩ contaminated double-removal is harmless) — so the two
    // screen chains run CONCURRENTLY, the way a production refresh
    // overlaps independent stages. Spark schedules jobs from both
    // threads; each future ends in a materializing count, so nothing
    // lazy escapes its thread — and the counts double as the
    // broadcast-budget cardinalities below, so the former separate
    // dropped.count() job disappears.
    val lshF = scala.concurrent.Future {
      val bSigs = Dedup.signaturesTokens(bScrubbed, "doc_id", "jetons", ShingleN, SigK)
        .cache()
      val bandR = SigK / Bands
      val bBands = bSigs.select(
        col("doc_id").as("id_corpus"),
        explode(org.apache.spark.sql.graft.TextExpr
          .minhashBands(col("sig"), Bands, bandR)).as("bb"))
      // parquet-footprint stats (no job); ×4 headroom for the columnar →
      // row-object inflation of a broadcast build
      val sigBytes = sigStore.queryExecution.optimizedPlan.stats.sizeInBytes
      val narrowOk = sigBytes * 4 <= BigInt(Dedup.sigBroadcastBudget(spark))
      val unionBands =
        if (narrowOk)
          Some(spark.read.parquet(s"${layers.head}/bands").unionByName(bBands))
        else None
      val unionToks = scrubbedStore.select(col("doc_id"), col("jetons"))
        .unionByName(bScrubbed.select(col("doc_id"), col("jetons")))
      val newPairs = Dedup.minhashLshAgainstTokens(
          bScrubbed, unionToks, "doc_id", "jetons", ShingleN, SigK, Bands, Threshold,
          corpusSigs = Some(sigStore.unionByName(bSigs)),
          hotBuckets = Some(spark.read.parquet(s"${layers.head}/hot")),
          corpusBands = unionBands,
          batchSigs = Some(bSigs),
          eager = false)
        .filter(col("id_batch") =!= col("id_corpus"))
        .select(col("id_batch").as("id_a"), col("id_corpus").as("id_b"))
      val labelEdges = spark.read.parquet(s"${layers.head}/labels")
        .select(col("id").as("id_a"), col("cluster_id").as("id_b"))
      // the FULL merged labeling — generation N+1's labels store when
      // maintaining, the eviction list either way. One count
      // materializes the labeling AND the eviction list AND yields the
      // removal cardinality the broadcast gate below prices — the
      // lazy-checkpoint fold of the former eager checkpoint + count
      val labelsFull = Dedup.clusters(labelEdges.unionByName(newPairs))
        .localCheckpoint(false)
      val removed = labelsFull
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
        .localCheckpoint(false)
      (labelsFull, removed, removed.count(), bSigs)
    }
    // 4: decontamination — ONE merged screen: the batch (pre-near-dup)
    // AND the generation's survivors, against (generation ∪ new) eval
    // grams. Survivors cannot hit the generation's grams (they passed
    // that exact screen when it was published), so their verdicts reduce
    // to the new-grams check; batch docs need the full union — one
    // screen stack replaces the former two, and it runs while the LSH
    // chain does.
    val contaminatedF = scala.concurrent.Future {
      val c = Decontaminate.contaminatedIdsTokensVsGrams(
          bScrubbed.select(col("doc_id"), col("jetons"))
            .unionByName(scrubbedStore
              .join(stats.select(col("doc_id")), Seq("doc_id"), "left_semi")
              .select(col("doc_id"), col("jetons"))),
          "doc_id", "jetons",
          layered(spark, layers, "eval_grams").unionByName(newEvalGrams), DeconN,
          preparedEval = Some(scala.concurrent.Await
            .result(evalSideF, scala.concurrent.duration.Duration.Inf)))
        .localCheckpoint(false)
      (c, c.count())
    }
    val (labelsFull, removed, nRemoved, bSigs) = scala.concurrent.Await
      .result(lshF, scala.concurrent.duration.Duration.Inf)
    val (contaminated, nContaminated) = scala.concurrent.Await
      .result(contaminatedF, scala.concurrent.duration.Duration.Inf)
    mark("screens")
    // both parents are materialized caches, so the optimizer sees no
    // size for this side and would SORT-MERGE the corpus-scale stats
    // against it — a corpus-keyed narrow exchange the refresh must not
    // pay. The two screen futures already counted their outputs (the
    // union can only be ≤ the sum — over-pricing is the safe side);
    // under the broadcast budget the anti joins below go map-side (the
    // budget-gated convention), past it the shuffle is the honest
    // giant-delta price.
    val dropped = removed.unionByName(contaminated)
    val nDropped = nRemoved + nContaminated
    val droppedSide =
      if (nDropped * 48L <= Dedup.sigBroadcastBudget(spark)) broadcast(dropped)
      else dropped
    // lazy checkpoint, not eager: the first consumer (the re-selection's
    // materializing action) computes the broadcast anti join in ITS job
    // instead of paying a separate one here
    val bFinal = bScrubbed.join(droppedSide, Seq("doc_id"), "left_anti")
      .localCheckpoint(false)
    mark("batch_final")

    // 5: budget RE-selection over narrow merged stats. Checkpointed
    // only when this hop also publishes the stats store — the timed
    // refresh feeds it straight to the selection's prefix machinery
    val newStats0 = stats.join(droppedSide, Seq("doc_id"), "left_anti")
      .unionByName(bFinal.select(col("doc_id"),
        Text.qualityScore(concat_ws(" ", col("jetons"))).as("qualite"), col("n_jetons")))
    val newStats =
      if (maintainThreshold.isDefined) newStats0.localCheckpoint(true) else newStats0
    val sel = Curate.budgetSelect(newStats, "doc_id", "qualite", "n_jetons", Budget)
      .select(col("doc_id"), col("qualite"), col("n_jetons"),
        col("cum").as("jetons_cumules"))
      .localCheckpoint(true)
    mark("reselect")

    // 6: store maintenance into the next generation — tombstone
    // evictees, carry the masked open tail, append entrants, finalize.
    // Both delta sides are budget-bounded (⊆ a ≤-budget selection).
    val published = spark.read.parquet(s"${layers.head}/selection")
    val evictees = published.select(col("doc_id"))
      .join(sel.select(col("doc_id")), Seq("doc_id"), "left_anti")
      .localCheckpoint(true) // three consumers across two threads
    val entrants = sel.select(col("doc_id"))
      .join(published.select(col("doc_id")), Seq("doc_id"), "left_anti")
    // the shard-mask, log, and selection writes touch disjoint dirs
    // and share no inputs beyond checkpointed frames — run them
    // concurrently (the screens' convention above)
    // a tiny generation may lack either store tier (no whole shard ever
    // closed; an everything-evicted log) — mask only what exists, the
    // storePerDoc read-back convention
    val shardsF = scala.concurrent.Future {
      if (nonEmptyStore(spark, s"${layers.head}/store/shards"))
        Pack.tombstone(Pack.readShards(spark, s"${layers.head}/store/shards"),
            evictees, lit(Pad))
          .write.mode("overwrite").partitionBy("shard_id")
          .parquet(s"$outDir/store/shards")
    }
    // the new log is ONE write: the generation's log with evictee
    // slices pad-masked, UNION the entrant slices appended at the
    // recovered offset (computed from the published store up front,
    // concurrent with the screens) — the former mask-write /
    // offset-read / append-write sequence folded into a single job
    val offset = scala.concurrent.Await
      .result(offsetF, scala.concurrent.duration.Duration.Inf)
    val entrantToks = scrubbedStore
      .unionByName(bFinal.select(col("doc_id"), col("jetons"), col("n_jetons")))
      .join(broadcast(entrants), Seq("doc_id"), "left_semi")
    val entrantSlices = Pack.packedSlicesTokens(entrantToks, "doc_id", "jetons",
      SeqTokens, numPartitions = 1, startOffset = offset)
    val logF = scala.concurrent.Future {
      val maskedLog =
        if (!nonEmptyStore(spark, s"${layers.head}/store/log")) None
        else Some(spark.read.parquet(s"${layers.head}/store/log")
          .join(broadcast(evictees.withColumn("__evince", lit(true))), Seq("doc_id"), "left")
          .withColumn("tranche",
            when(col("__evince"), array_repeat(lit(Pad), col("n").cast("int")))
              .otherwise(col("tranche")))
          .drop("__evince"))
      maskedLog.map(_.unionByName(entrantSlices)).getOrElse(entrantSlices)
        .write.mode("overwrite").parquet(s"$outDir/store/log")
    }
    val selF = scala.concurrent.Future {
      sel.withColumn("statut",
          when(col("doc_id") <= threshold, lit("conserve")).otherwise(lit("entrant")))
        .write.mode("overwrite").parquet(s"$outDir/selection")
    }
    scala.concurrent.Await.result(shardsF, scala.concurrent.duration.Duration.Inf)
    scala.concurrent.Await.result(logF, scala.concurrent.duration.Duration.Inf)
    scala.concurrent.Await.result(selF, scala.concurrent.duration.Duration.Inf)
    mark("mask_and_publish")
    Pack.finalizeSliceLog(spark, s"$outDir/store/log",
      s"$outDir/store/shards", SeqTokens, SeqsPerShard, numPartitions = 1,
      countResidual = false)
    mark("append_finalize")

    // generation N+1's screen stores: batch-scale deltas of the
    // append-only stores, the rewritten labels/stats, and the rebuilt
    // probe accelerators — everything the NEXT refresh reads
    maintainThreshold.foreach { newT =>
      Dedup.spanGramStore(bRep, "doc_id", "a1", GramTokens, exactFingerprints = false)
        .write.mode("overwrite").parquet(s"$outDir/span_grams")
      bScrubbed.write.mode("overwrite").parquet(s"$outDir/scrubbed")
      bSigs.write.mode("overwrite").parquet(s"$outDir/sigs")
      newEvalGrams.write.mode("overwrite").parquet(s"$outDir/eval_grams")
      labelsFull.write.mode("overwrite").parquet(s"$outDir/labels")
      newStats.write.mode("overwrite").parquet(s"$outDir/stats")
      // derived probe state over the WHOLE new generation's signatures
      // (layers ∪ delta): corpus-scale map + write, publish-class work
      // a production loop runs on a maintenance cadence — never on the
      // per-batch path (the bandIndex "rebuilt from the sig store at
      // will" doctrine)
      val allSigs = sigStore.unionByName(bSigs)
      Dedup.hotBandBuckets(allSigs, SigK, Bands)
        .write.mode("overwrite").parquet(s"$outDir/hot")
      Dedup.bandIndex(allSigs, SigK, Bands,
          hotBuckets = Some(spark.read.parquet(s"$outDir/hot")), narrow = true)
        .write.mode("overwrite").parquet(s"$outDir/bands")
      writeThreshold(spark, outDir, newT)
      mark("maintain_stores")
    }

    // GATE: report read back THROUGH the refreshed STORE — the PUBLISHED
    // selection (outDir/selection, statut included — written by selF
    // above) joined with per-doc fingerprints decoded from the store
    // files (evictee slices are pad-masked and their ids absent from the
    // selection, so they drop out here). Reading the selection from disk
    // rather than the sel checkpoint keeps the returned frame free of
    // every block this call pinned (the refreshGen exit sweep) — and
    // gives the join a size-known build side the optimizer can broadcast.
    // no presentation sort: the gate equality is a hash over SORTED rows
    // on the compare side (check_oracle sorts both relations), so an
    // ORDER BY here would buy nothing but a range-sampling job + a sort
    // stage on the timed path
    spark.read.parquet(s"$outDir/selection")
      .join(storePerDoc(spark, s"$outDir/store"), Seq("doc_id"))
      .select(col("doc_id"), col("statut"),
        md5(concat_ws(" ", col("toks"))).as("empreinte"),
        col("qualite"), col("n_jetons"), col("jetons_cumules"))
  }

  /** The TIMED refresh — the SECOND hop of the generation chain: batch-2
    * (doc_id > ⌊9·max/10⌋) screened against generation 1's published
    * stores, certifying refresh ∘ refresh ≡ one-shot over
    * corpus ∪ batch1 ∪ batch2 (the whole documents table).
    */
  def run(spark: SparkSession, dir: String): DataFrame = {
    setup(spark, dir)
    val t2 = publishedThreshold(spark, gen1Dir(dir))
    val batch = graft.sources.Tables.documents(spark, dir).filter(col("doc_id") > t2)
    refreshGen(spark, Seq(gen1Dir(dir), gen0Dir(dir)), batch, gen2Dir(dir),
      threshold = t2)
  }
}
