package graft

import org.apache.spark.sql.functions._
import graft.queries.RefreshPipeline
import graft.functions.Text

/** Engine-side mechanics of the p06 CHAINED incremental refresh that the
  * DuckDB oracle gate cannot see (it hashes the final report only): a
  * CONSTRUCTED corpus forces every hard refresh path at once, ACROSS the
  * generation chain (gen-0 publish → maintaining refresh of batch-1 →
  * gen-1 → timed refresh of batch-2 → gen-2) —
  *
  *   - a batch-2 doc BRIDGING two published near-dup clusters (similar
  *     to both A and B while A≁B), evicting the higher-canonical
  *     survivor THROUGH the generation-1 label store;
  *   - a NEW benchmark doc in batch-2 contaminating a doc generation 0
  *     had SELECTED (eviction through the survivors-vs-new-eval-grams
  *     pass, in the SHARD tier);
  *   - a batch-1 ENTRANT that generation 1 admits, whose slices the
  *     batch-2 refresh must both preserve (it stays selected) and whose
  *     store/stat/label/gram state must flow through gen-1's layers;
  *   - budget RE-ADMISSION: the evictions free enough tokens that a
  *     corpus doc the published selection had cut at the budget line
  *     enters — a 'conserve'-statut doc that must nonetheless APPEND to
  *     the store (its tokens read from the persisted scrubbed LAYERS,
  *     never raw);
  *   - store invariants: evictee slices pad-masked in BOTH tiers
  *     (shards and open-tail log), surviving conserve docs keep their
  *     PUBLISHED global positions bit-for-bit, entrants land at
  *     deb ≥ generation 1's high-water mark.
  *
  * Layout arithmetic of the fixture (budget 10000, seq 256, shard 8,
  * max id 100 ⇒ t1 = 80, t2 = 90): gen-0 (ids ≤ 80) selects D(1,2400)
  * F(2,3,4 ×2400) A(10,9) B(11,9) = 9618 tokens → 4 whole shards cover
  * [0,8192), log holds the tail — so the contaminated D lives in the
  * SHARD tier and the bridge-evicted B in the LOG tier, exercising both
  * mask paths. W(70, 500 tok, quality 0.25) crosses the line at
  * 10118 → published OUT. Batch-1 = {H(85, 40 tok)}: gen-1 admits it
  * (9658 ≤ 10000), appending [9618,9658) to the log tier. Batch-2 =
  * {93 bridge, 95 entrant, 100 new benchmark}: after D+B evict, the
  * refreshed prefix is F 7200, H(85) 7240, G(95) 7290, A 7299,
  * W 7799 → W in.
  */
class RefreshSpec extends SparkSpec {

  private val core = "corea coreb corec cored coree coref"

  private def fill(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").updated(1, "the").mkString(" ")

  private val phrase = "zeta orbit helium quartz nimbus"

  private def docs(): Seq[(Long, String)] = Seq(
    1L -> (fill("d", 2395) + " " + phrase), // D: contaminated by the NEW benchmark at refresh
    2L -> fill("fa", 2400),
    3L -> fill("fb", 2400),
    4L -> fill("fc", 2400),
    10L -> (core + " alfa1 alfa2 alfa3"), // A: bridge cluster canonical (survives)
    11L -> (core + " beta1 beta2 beta3"), // B: bridge-evicted (jaccard(A,B)=0.4 < 0.5)
    50L -> fill("ev", 30), // gen-0 benchmark (id%50=0): self-removes at publish
    // W: 13-char dotty tokens → punct 0.214 > 0.2, mean length 13 > 12,
    // no EN stopword ('a' would hit the \b list) → quality 0.25 exactly
    70L -> (1 to 500).map(i => f"w$i%04d.qq.xx.z").mkString(" "),
    85L -> fill("h", 40), // H: the batch-1 doc generation 1 admits
    93L -> core, // the BRIDGE (jaccard 4/7 to both A and B); non-canonical, self-removes
    95L -> fill("g", 50), // plain batch-2 entrant
    100L -> (fill("e", 20) + " " + phrase + " " + (21 to 30).map(i => s"e$i").mkString(" "))
  ) // 100: the NEW benchmark (id%50=0) whose grams evict D

  private def withFixture(f: String => Unit): Unit = {
    val dir = java.nio.file.Files.createTempDirectory("graft_refresh_").toString
    try {
      import spark.implicits._
      docs().toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      f(dir)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(RefreshPipeline.workDir(dir)))
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("p06 chained refresh: bridge eviction through gen-1 labels, new-benchmark eviction, " +
      "budget re-admission, gen-1 layer contents, store masking and append positions") {
    withFixture { dir =>
      // fixture guard: the engineered quality tiers the arithmetic
      // above assumes (drifting Text.qualityScore would invalidate
      // the layout math silently otherwise)
      import spark.implicits._
      val q = docs().toDF("doc_id", "text")
        .select(col("doc_id"), Text.qualityScore(col("text")).as("q"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(Seq(1L, 2L, 3L, 4L, 85L, 95L).forall(q(_) == 1.0), s"filler tier drifted: $q")
      assert(q(10L) == 0.5 && q(11L) == 0.5 && q(93L) == 0.5, s"core tier drifted: $q")
      assert(q(70L) == 0.25, s"budget-line doc drifted: ${q(70L)}")

      // the gate relation is ORDER-FREE (the oracle compare sorts rows);
      // the spec sorts on collect
      val report = RefreshPipeline.run(spark, dir)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(4), r.getLong(5))).sortBy(_._1)
      val gen0 = RefreshPipeline.gen0Dir(dir)
      val gen1 = RefreshPipeline.gen1Dir(dir)
      val gen2 = RefreshPipeline.gen2Dir(dir)

      // generation 0 (ids ≤ 80) selected D and B and cut W at the line
      val pub0 = spark.read.parquet(s"$gen0/selection")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(pub0 == Set(1L, 2L, 3L, 4L, 10L, 11L),
        s"gen-0 selection drifted: $pub0")
      // generation 1 admitted the batch-1 entrant H(85)
      val pub1 = spark.read.parquet(s"$gen1/selection")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(pub1 == Set(1L, 2L, 3L, 4L, 10L, 11L, 85L),
        s"gen-1 selection drifted: $pub1")

      // gen-1 LAYER contents: batch-scale deltas only in the append-only
      // stores (H's rows — never a rewrite of the standing corpus), the
      // new split point, and a stats store carrying gen-0 survivors ∪ H
      assert(spark.read.parquet(s"$gen1/scrubbed")
        .select("doc_id").collect().map(_.getLong(0)).toSet == Set(85L),
        "gen-1 scrubbed layer must hold ONLY the batch-1 delta")
      assert(spark.read.parquet(s"$gen1/sigs")
        .select("doc_id").collect().map(_.getLong(0)).toSet == Set(85L),
        "gen-1 sig layer must hold ONLY the batch-1 delta")
      assert(RefreshPipeline.publishedThreshold(spark, gen1) == 90L)
      assert(spark.read.parquet(s"$gen1/stats")
        .select("doc_id").collect().map(_.getLong(0)).toSet ==
        Set(1L, 2L, 3L, 4L, 10L, 11L, 70L, 85L),
        "gen-1 stats must be gen-0 survivors ∪ the batch-1 survivor")

      // refreshed (gen-2) selection: D(1) contaminated-evicted, B(11)
      // bridge-evicted, W(70) re-admitted, H(85) conserved, G(95) the
      // entrant; statut is generation-1 membership (id ≤ t2 = 90)
      assert(report.map(t => (t._1, t._2)).toSeq ==
        Seq((2L, "conserve"), (3L, "conserve"), (4L, "conserve"),
          (10L, "conserve"), (70L, "conserve"), (85L, "conserve"), (95L, "entrant")))
      // running totals of the re-selection (quality desc, id asc)
      assert(report.map(t => t._1 -> t._5).toMap ==
        Map(2L -> 2400L, 3L -> 4800L, 4L -> 7200L, 85L -> 7240L, 95L -> 7290L,
          10L -> 7299L, 70L -> 7799L))
      // fingerprints decode bit-for-bit through the refreshed store
      val txt = docs().toMap
      report.foreach { case (id, _, emp, n, _) =>
        assert(emp == md5Hex(txt(id)), s"doc $id fingerprint drifted through the store")
        assert(n == txt(id).split("\\s+").length.toLong)
      }

      // store forensics: per-slice rows of both refreshed tiers
      val shardSlices = Pack.readShards(spark, s"$gen2/store/shards")
        .select(col("seq_id"), col("tokens"), explode(col("docs")).as("d"))
        .select(col("d.doc_id").as("doc_id"),
          (col("seq_id") * 256L + col("d.debut_dans_seq")).as("deb"),
          expr("slice(tokens, d.debut_dans_seq + 1, d.n_tokens)").as("tranche"))
      val logSlices = spark.read.parquet(s"$gen2/store/log")
        .select(col("doc_id"), col("deb"), col("tranche"))
      val slices = shardSlices.unionByName(logSlices).cache()

      // (a) evictee masking in BOTH tiers: D(1) lives in the shard
      // region [0,2400), B(11) in the log tail — every slice token of
      // both must be the pad, provenance rows intact (auditable)
      val masked = slices.filter(col("doc_id").isin(1L, 11L))
        .select(col("doc_id"), col("deb"),
          size(filter(col("tranche"), t => t =!= "<scrub>")).as("nonpad"))
        .collect()
      assert(masked.nonEmpty && masked.exists(_.getLong(1) < 2400L),
        "fixture drifted: the contaminated doc must have slices in the shard tier")
      assert(masked.forall(_.getInt(2) == 0), "evictee ranges must be fully pad-masked")
      assert(slices.filter(col("doc_id") === 11L && col("deb") < 8192L).count() == 0 &&
        slices.filter(col("doc_id") === 11L).count() > 0,
        "fixture drifted: the bridge evictee must sit in the log tier")

      // (b) conserve docs — including gen-1's entrant H(85) — keep their
      // generation-1 positions bit-for-bit
      val pubShardSlices = Pack.readShards(spark, s"$gen1/store/shards")
        .select(col("seq_id"), col("tokens"), explode(col("docs")).as("d"))
        .select(col("d.doc_id").as("doc_id"),
          (col("seq_id") * 256L + col("d.debut_dans_seq")).as("deb"),
          expr("slice(tokens, d.debut_dans_seq + 1, d.n_tokens)").as("tranche"))
      val pubLogSlices = spark.read.parquet(s"$gen1/store/log")
        .select(col("doc_id"), col("deb"), col("tranche"))
      val pub = pubShardSlices.unionByName(pubLogSlices)
        .filter(col("doc_id").isin(2L, 3L, 4L, 10L, 85L))
      assert(slices.filter(col("doc_id").isin(2L, 3L, 4L, 10L, 85L))
        .unionByName(pub).distinct().count() == pub.count(),
        "surviving conserve docs must keep their published slices verbatim")
      // H(85) appended by generation 1 at gen-0's high-water mark
      assert(pub.filter(col("doc_id") === 85L)
        .agg(min(col("deb"))).collect()(0).getLong(0) == 9618L,
        "gen-1 must have appended the batch-1 entrant at gen-0's high-water mark")

      // (c) entrants — including the re-ADMITTED conserve doc W(70) —
      // append at deb ≥ generation 1's high-water mark (9658)
      val entrantDebs = slices.filter(col("doc_id").isin(70L, 95L))
        .agg(min(col("deb"))).collect()(0).getLong(0)
      assert(entrantDebs >= 9658L,
        s"entrants must append after the gen-1 region, got min deb $entrantDebs")
      slices.unpersist()
    }
  }

  test("three-generation chain: two maintaining hops then a refresh over a THREE-layer " +
      "store chain ≡ the one-shot selection over everything") {
    // the inductive step the catalog gate (2 hops) cannot see: hop 3
    // reads gen-2's layered stores (gen2 ∪ gen1 ∪ gen0 for the
    // append-only tiers), a near-dup pair SPANS the chain (batch-2 doc
    // 25 duplicates gen-0 doc 10), and a batch-3 benchmark (id 50)
    // evicts a gen-0 survivor (doc 1, phrase planted) through the
    // survivors-vs-new-eval-grams pass. Statut threshold = gen-2's
    // split point (30).
    val chainDocs = Seq(
      1L -> (fill("a", 100) + " " + phrase), // evicted by the batch-3 benchmark
      2L -> fill("b", 100),
      10L -> (core + " alfa1 alfa2 alfa3"), // near-dup canonical (survives)
      15L -> fill("c", 50), // batch-1 entrant
      25L -> core, // batch-2 dup of 10 (jaccard 4/7): self-removes
      28L -> fill("d", 40), // batch-2 entrant
      35L -> fill("e", 60), // batch-3 entrant
      50L -> (fill("ev", 20) + " " + phrase) // batch-3 benchmark (id%50=0)
    )
    val dir = java.nio.file.Files.createTempDirectory("graft_refresh3_").toString
    val work = java.nio.file.Files.createTempDirectory("graft_refresh3w_").toString
    try {
      import spark.implicits._
      chainDocs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = graft.sources.Tables.documents(spark, dir)
      RefreshPipeline.publish(spark, docs.filter(col("doc_id") <= 10), s"$work/g0")
      RefreshPipeline.refreshGen(spark, Seq(s"$work/g0"),
        docs.filter(col("doc_id") > 10 && col("doc_id") <= 20), s"$work/g1",
        threshold = 10L, maintainThreshold = Some(20L)).collect()
      RefreshPipeline.refreshGen(spark, Seq(s"$work/g1", s"$work/g0"),
        docs.filter(col("doc_id") > 20 && col("doc_id") <= 30), s"$work/g2",
        threshold = 20L, maintainThreshold = Some(30L)).collect()
      val report = RefreshPipeline.refreshGen(spark,
        Seq(s"$work/g2", s"$work/g1", s"$work/g0"),
        docs.filter(col("doc_id") > 30), s"$work/g3", threshold = 30L)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getLong(4), r.getLong(5))).sortBy(_._1)
      // gen-2's append-only layer holds ONLY batch-2's span survivors
      // (the dup 25 stays in the scrubbed layer — pair verification
      // needs its tokens — while the selection drops it)
      assert(spark.read.parquet(s"$work/g2/scrubbed")
        .select("doc_id").collect().map(_.getLong(0)).toSet == Set(25L, 28L),
        "gen-2 scrubbed layer must hold only the batch-2 delta")
      // the chained end state: doc 1 benchmark-evicted at hop 3, 25
      // near-dup-removed at hop 2, the three entrants admitted, 50
      // self-contaminated — exactly the one-shot selection over all
      assert(report.map(t => (t._1, t._2)).toSeq ==
        Seq((2L, "conserve"), (10L, "conserve"), (15L, "conserve"),
          (28L, "conserve"), (35L, "entrant")))
      assert(report.map(t => t._1 -> t._5).toMap ==
        Map(2L -> 100L, 15L -> 150L, 28L -> 190L, 35L -> 250L, 10L -> 259L))
      val txt = chainDocs.toMap
      report.foreach { case (id, _, emp, n, _) =>
        assert(emp == md5Hex(txt(id)), s"doc $id fingerprint drifted through 3 generations")
        assert(n == txt(id).split("\\s+").length.toLong)
      }
      // and the engine one-shot twin agrees: a fresh publish over the
      // WHOLE table selects the same set with the same totals
      RefreshPipeline.publish(spark, docs, s"$work/one")
      val oneShot = spark.read.parquet(s"$work/one/selection")
        .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
      assert(oneShot == report.map(t => t._1 -> t._5).toMap,
        "the chained refresh must equal the one-shot selection over everything")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    }
  }

  test("generation-chain compaction law: a SIX-layer chain folds into one layer that is " +
      "store-identical to the layered union, and the next refresh is invariant under the fold") {
    // the chain-depth gate the r17 review asked for: five maintaining
    // refreshes build a gen-5 whose append-only stores span SIX layers
    // (g0..g5); compactGen folds them; the law is two-sided —
    //   (a) store equality: every append-only store of the compacted
    //       layer holds EXACTLY the layered union's rows (multiset),
    //       and the rewritten newest-layer state survives verbatim,
    //       the packed store bit-for-bit (positions + watermark);
    //   (b) refresh invariance: batch-6 refreshed against Seq(compact)
    //       returns the same report, fingerprints included, as against
    //       the full chain — so a production loop can fold at ANY
    //       cadence without perturbing the loop's fixpoint property.
    val n = 30 // ids 1..30 = gen-0; five 6-id batches follow; batch-6 = ids > 60
    // ids 50 (a benchmark row: id % 50 = 0 — its grams enter hop-4's new
    // eval grams and self-contaminate it) and 45 (a near-dup of gen-0's
    // core doc 20, removed by a pair that SPANS the chain) keep the
    // eviction channels live across the fold
    val chainDocs =
      ((1 to 30).map {
        case 20 => (20L, core + " alfa1 alfa2 alfa3")
        case i => (i.toLong, (1 to 40).map(j => s"c${i}w$j").mkString(" "))
      } ++
      (31 to 66).map {
        case 45 => (45L, core) // jaccard 4/7 vs doc 20: removed, canonical 20
        case i => (i.toLong,
          (1 to 40).map(j => s"b${i}w$j").updated(1, "the").mkString(" "))
      })
    val dir = java.nio.file.Files.createTempDirectory("graft_refreshc_").toString
    val work = java.nio.file.Files.createTempDirectory("graft_refreshcw_").toString
    try {
      import spark.implicits._
      chainDocs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = graft.sources.Tables.documents(spark, dir)
      RefreshPipeline.publish(spark, docs.filter(col("doc_id") <= n), s"$work/g0")
      var layers = List(s"$work/g0")
      (1 to 5).foreach { h =>
        val lo = n + (h - 1) * 6L; val hi = n + h * 6L
        RefreshPipeline.refreshGen(spark, layers,
          docs.filter(col("doc_id") > lo && col("doc_id") <= hi), s"$work/g$h",
          threshold = lo, maintainThreshold = Some(hi)).collect()
        layers = s"$work/g$h" :: layers
      }
      RefreshPipeline.compactGen(spark, layers, s"$work/gc")
      // (a) append-only stores: compacted ≡ layered union as multisets
      Seq("span_grams", "scrubbed", "sigs", "eval_grams").foreach { sub =>
        val union = layers.map(l => spark.read.parquet(s"$l/$sub"))
          .reduce(_.unionByName(_))
        val compacted = spark.read.parquet(s"$work/gc/$sub")
        assert(compacted.count() == union.count() &&
          compacted.exceptAll(union).isEmpty && union.exceptAll(compacted).isEmpty,
          s"compacted $sub store is not the layered union")
      }
      // newest-layer rewritten state carried verbatim
      Seq("labels", "stats", "selection").foreach { sub =>
        val head = spark.read.parquet(s"${layers.head}/$sub")
        val compacted = spark.read.parquet(s"$work/gc/$sub")
        assert(compacted.exceptAll(head).isEmpty && head.exceptAll(compacted).isEmpty,
          s"compacted $sub must carry the newest layer's store verbatim")
      }
      // packed store byte-copied: per-doc splices identical
      val viaChain = RefreshPipeline.storePerDoc(spark, s"${layers.head}/store")
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val viaCompact = RefreshPipeline.storePerDoc(spark, s"$work/gc/store")
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(viaChain == viaCompact, "packed store must survive the fold bit-for-bit")
      // (b) the NEXT refresh is invariant under the fold
      val batch6 = docs.filter(col("doc_id") > n + 30L)
      val viaLayers = RefreshPipeline.refreshGen(spark, layers, batch6,
          s"$work/g6a", threshold = n + 30L)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getDouble(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
      val viaFold = RefreshPipeline.refreshGen(spark, Seq(s"$work/gc"), batch6,
          s"$work/g6b", threshold = n + 30L)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getDouble(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
      assert(viaLayers.nonEmpty && viaLayers.sameElements(viaFold),
        "refresh over the compacted layer must equal refresh over the six-layer chain")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    }
  }

  test("compaction trigger policy: maintainedRefresh folds EXACTLY at the depth " +
      "watermark, never under it, and the policy chain's refresh equals the unfolded chain's") {
    // the r18 verdict ask #2 mechanics RefreshSpec must pin (the p08
    // oracle hashes only the final report): with CompactDepth = 3 a
    // 3-hop loop runs [g1,g0] → fold([g2,g1,g0]) → [g2-folded] →
    // [g3, g2-folded]; a CONTROL chain runs the same hops unfolded, and
    // the next refresh must be report-identical over both
    val n = 30
    val chainDocs =
      ((1 to 30).map {
        case 20 => (20L, core + " alfa1 alfa2 alfa3")
        case i => (i.toLong, (1 to 40).map(j => s"c${i}w$j").mkString(" "))
      } ++
      (31 to 54).map {
        case 45 => (45L, core) // near-dup of doc 20 across the chain
        case i => (i.toLong,
          (1 to 40).map(j => s"b${i}w$j").updated(1, "the").mkString(" "))
      })
    val dir = java.nio.file.Files.createTempDirectory("graft_refreshp_").toString
    val work = java.nio.file.Files.createTempDirectory("graft_refreshpw_").toString
    try {
      import spark.implicits._
      chainDocs.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = graft.sources.Tables.documents(spark, dir)
      def batch(h: Int) = docs.filter(
        col("doc_id") > n + (h - 1) * 6L && col("doc_id") <= n + h * 6L)
      // the policy loop
      RefreshPipeline.publish(spark, docs.filter(col("doc_id") <= n), s"$work/g0")
      var chain: Seq[String] = Seq(s"$work/g0")
      val depthsSeen = scala.collection.mutable.ArrayBuffer.empty[Int]
      (1 to 3).foreach { h =>
        chain = RefreshPipeline.maintainedRefresh(spark, chain, batch(h),
          s"$work/g$h", threshold = n + (h - 1) * 6L, newThreshold = n + h * 6L)
        depthsSeen += chain.length
      }
      assert(depthsSeen.toSeq == Seq(2, 1, 2),
        s"watermark must fire exactly at depth ${RefreshPipeline.CompactDepth}: $depthsSeen")
      assert(chain == Seq(s"$work/g3", s"$work/g2-folded"),
        s"after the mid-chain fold the live chain must be [g3, g2-folded]: $chain")
      // the CONTROL chain: identical hops, no policy
      RefreshPipeline.publish(spark, docs.filter(col("doc_id") <= n), s"$work/c0")
      var control: Seq[String] = Seq(s"$work/c0")
      (1 to 3).foreach { h =>
        RefreshPipeline.refreshGen(spark, control, batch(h), s"$work/c$h",
          threshold = n + (h - 1) * 6L, maintainThreshold = Some(n + h * 6L)).collect()
        control = s"$work/c$h" +: control
      }
      // the next refresh is invariant under the policy's fold
      val batch4 = docs.filter(col("doc_id") > n + 18L)
      def report(ls: Seq[String], out: String) =
        RefreshPipeline.refreshGen(spark, ls, batch4, out, threshold = n + 18L)
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
            r.getDouble(3), r.getLong(4), r.getLong(5))).sortBy(_._1)
      val viaPolicy = report(chain, s"$work/pfin")
      val viaControl = report(control, s"$work/cfin")
      assert(viaPolicy.nonEmpty && viaPolicy.sameElements(viaControl),
        "refresh over the policy-folded chain must equal refresh over the unfolded chain")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    }
  }

  test("storePerDoc: a store with no live slice in either tier yields an empty, " +
      "well-schemaed frame (the everything-evicted generation)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_refresh_empty_").toString
    try {
      val out = RefreshPipeline.storePerDoc(spark, s"$dir/store")
      assert(out.columns.toSeq == Seq("doc_id", "toks"))
      assert(out.count() == 0)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  private def Pack = graft.operators.Pack

  // shared law harness: two fixtures, IDENTICAL 10-doc final batch,
  // corpus 10× apart; returns (publish+gen-1 bytes, timed-refresh bytes)
  private def mkDocs(n: Int): Seq[(Long, String)] = {
    // every corpus doc quality 0.75 (no stopword), every batch doc 1.0
    // ("the") — so the batch ALWAYS heads the re-selection whatever n,
    // displacing the corpus tail: entrants and evictees live at both
    // fixture sizes. Batch ids 10n+1.. sit past t2 = ⌊9·max/10⌋, so the
    // TIMED hop-2 refresh sees exactly this batch (batch-1 is empty —
    // the idle-window path, exercised by every law run).
    val corpus = (1 to n).map { i =>
      (i.toLong, (1 to 60).map(j => s"c${i}w$j").mkString(" "))
    }
    val batch = (1 to 10).map { i =>
      ((10L * n) + i, (1 to 60).map(j => s"b${i}w$j").updated(1, "the").mkString(" "))
    }
    corpus ++ batch
  }

  private def measured(n: Int): (Long, Long) = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_rsc_${n}_").toString
    try {
      import spark.implicits._
      mkDocs(n).toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val (_, _, wPub) = org.apache.spark.graft.ShuffleMeter
        .measure(spark.sparkContext) { RefreshPipeline.setup(spark, dir) }
      val (rows, _, wRef) = org.apache.spark.graft.ShuffleMeter
        .measure(spark.sparkContext) { RefreshPipeline.run(spark, dir).collect() }
      // deltas must be LIVE in both fixtures or the law is vacuous
      assert(rows.exists(_.getString(1) == "entrant"),
        s"fixture n=$n drifted: the batch must enter the selection")
      (wPub, wRef)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(
        new java.io.File(RefreshPipeline.workDir(dir)))
    }
  }

  test("incremental scaling law: refresh shuffle bytes track the BATCH, not the corpus " +
      "— near-flat across TWO decades") {
    // three fixtures, IDENTICAL 10-doc batch, corpus 100× apart end to
    // end: the refresh must probe every corpus-scale artifact map-side
    // (layered span-gram store, signature store + band index, persisted
    // scrubbed layers), so its shuffled bytes stay nearly flat while
    // the publish+gen-1 maintenance — which legitimately pays
    // corpus-scale exchanges — grows with the corpus. This is THE
    // property that makes p06 the 100 TB loop rather than a re-run.
    // TWO decades because one is not enough: the round-17
    // verification-broadcast hole (minhashLshAgainst sort-merging the
    // corpus tokens against its stats-less cached candidate list, ∝
    // corpus) hid UNDER the single-decade allowance at the 200→2 000
    // fixture and only surfaced at 200 000 docs — the same absolute
    // bound held across both decades catches that class.
    val (pubSmall, refSmall) = measured(200)
    val (_, refMid) = measured(2000)
    val (pubBig, refBig) = measured(20000)
    info(s"refresh bytes at 200/2k/20k docs, fixed batch: $refSmall / $refMid / $refBig " +
      s"(publish $pubSmall -> $pubBig)")
    // sanity: the corpus really did grow — publish bytes scale with it
    assert(pubBig > pubSmall * 40,
      s"fixture drifted: publish bytes $pubSmall -> $pubBig should grow with the corpus")
    // the law: refresh bytes near-flat under a 100× corpus (narrow
    // survivor stats are the only corpus-∝ exchange — ~bytes-per-doc,
    // far under the allowance; a corpus-keyed token exchange would
    // read ~100× here)
    assert(refBig < refSmall * 3 + (1L << 20),
      s"refresh shuffled $refSmall -> $refBig bytes under a 100× corpus — " +
        "a corpus-scale relation is crossing an exchange")
    assert(refMid < refSmall * 3 + (1L << 20),
      s"refresh shuffled $refSmall -> $refMid bytes under a 10× corpus — " +
        "a corpus-scale relation is crossing an exchange")
  }

  test("scaling-law NEGATIVE CONTROL: a planted corpus-keyed exchange in the refresh " +
      "makes the law assertion fire (the z99 convention)") {
    // a silently-regressed law test reads as a green round — prove the
    // meter + inequality still catch the regression class they exist
    // for by planting exactly one (conf-gated, never set in production
    // code paths) corpus-scale token exchange inside refreshGen
    spark.conf.set("spark.graft.plant.refreshCorpusExchange", "1")
    try {
      val (_, refSmall) = measured(200)
      val (_, refBig) = measured(2000)
      assert(!(refBig < refSmall * 3 + (1L << 20)),
        s"planted corpus exchange went UNDETECTED ($refSmall -> $refBig bytes): " +
          "the scaling-law test would no longer catch a real regression")
    } finally {
      spark.conf.unset("spark.graft.plant.refreshCorpusExchange")
    }
  }
}
