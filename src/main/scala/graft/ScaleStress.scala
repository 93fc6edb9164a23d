package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-growth stress for the dedup/ANN tier and the events tier
  * (feeds SCALE.md).
  *
  * Generates per-tier fixtures with the SAME deterministic generator —
  * 1× is the sf0.1 shape (5k docs / 2k vectors / 100k events), each
  * further tier 10× that — then times every documents/embeddings/events
  * query on each and reports wall-time and result-count growth. The interesting outputs are the growth factors:
  * a bucketed/banded operator must grow ~linearly in rows and planted
  * duplicates; an all-pairs formulation would grow ~100× and is exactly
  * what this harness exists to catch.
  *
  * Generator: Zipfian vocabulary (multiplicity ∝ 1/rank, like real
  * token frequency), ~60 tokens per doc via splitmix64 — every 50th doc
  * is a near-dup of its predecessor (2 tokens replaced), every 40th
  * vector a perturbed copy of its predecessor, so near-dup density is
  * scale-invariant and pair counts should scale ~10×.
  *
  * Usage: runMain graft.ScaleStress [outBase] (default /tmp/graft_scale)
  */
object ScaleStress {
  private val vocab = Array(
    "the", "a", "data", "row", "stream", "group", "agg", "merge", "query",
    "column", "value", "vector", "window", "fast", "sort", "join", "scan",
    "table", "spark", "big", "batch", "hash", "filter", "line", "customer",
    "order", "slow")
  // Zipfian unigram table: rank r appears ceil(27/r) times
  private val unigrams: Array[String] =
    vocab.zipWithIndex.flatMap { case (w, i) => Array.fill(math.max(1, 27 / (i + 1)))(w) }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def docTokens(id: Long, nTok: Int): Array[String] =
    Array.tabulate(nTok)(i => unigrams(math.floorMod(mix(id * 1000003L + i), unigrams.length).toInt))

  // Generation is DISTRIBUTED (spark.range → mapPartitions): the 100×
  // tier is 500 k docs / 200 k vectors, which must never materialize on
  // the driver. Per-id logic is a pure function of the id, so every tier
  // reproduces the same prefix (the 1×/10× fixtures are unchanged).
  private def genDocs(spark: SparkSession, n: Int, dir: String): Unit = {
    import spark.implicits._
    spark
      .range(0, n, 1, 32)
      .map { idL =>
        val i = idL.toInt
        val id = idL.toLong
        val base = if (i % 50 == 0 && i > 0) (i - 1).toLong else id
        val toks = docTokens(base, 55 + math.floorMod(mix(base), 11).toInt)
        if (base != id) { // near-dup: swap the last two tokens for fresh ones
          toks(toks.length - 1) = unigrams(math.floorMod(mix(id + 7L), unigrams.length).toInt)
          toks(toks.length - 2) = unigrams(math.floorMod(mix(id + 13L), unigrams.length).toInt)
        }
        (id, toks.mkString(" "), "en", s"src${i % 20}")
      }
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private def genEmbeddings(spark: SparkSession, n: Int, dim: Int, dir: String): Unit = {
    import spark.implicits._
    spark
      .range(0, n, 1, 32)
      .map { idL =>
        val i = idL.toInt
        val id = idL.toLong
        val base = if (i % 40 == 0 && i > 0) (i - 1).toLong else id
        val v = Array.tabulate(dim) { j =>
          val b = mix(base * 7919L + j).toDouble / Long.MaxValue.toDouble
          val noise =
            if (base != id) 0.01 * (mix(id * 31L + j).toDouble / Long.MaxValue.toDouble) else 0.0
          (b + noise).toFloat
        }
        (id, v, (math.floorMod(mix(base), 10)).toInt)
      }
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  private val eventTypes = Array("click", "error", "purchase", "signup", "view")

  /** Events tier: n = 100k×tier events (the sf0.1 shape) over a FIXED
    * 30-day span, user count scaling with n (1 500 per 100k) so
    * per-user event density stays constant — sessions, as-of matches
    * and per-user rollups must then grow ~10×/decade while the
    * day×type rollups stay O(1) rows. Written as NTZ wall-clock micros
    * (LocalDateTime) — the driver fixture's encoding — so the
    * footer-adaptive events reader (sources/Tables) takes the same
    * decode branch it takes in production.
    */
  private def genEvents(spark: SparkSession, n: Long, users: Long, dir: String): Unit = {
    import spark.implicits._
    val epoch0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val spanMs = 30L * 86400L * 1000L
    spark
      .range(0, n, 1, 32)
      .map { id =>
        val u = math.floorMod(mix(id * 31L + 5L), users)
        val tMs = epoch0 + math.floorMod(mix(id * 131L + 7L), spanMs)
        val ts = java.time.LocalDateTime.ofInstant(
          java.time.Instant.ofEpochMilli(tMs), java.time.ZoneOffset.UTC)
        val ty = eventTypes(math.floorMod(mix(id * 17L + 3L), eventTypes.length.toLong).toInt)
        val v = math.floorMod(mix(id * 911L), 56021L).toDouble / 100.0
        val k = math.floorMod(mix(id * 257L), 100L).toInt
        (id, ts, u, ty, v, s"""{"k": $k}""")
      }
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      // SHARDED layout: events.parquet is a DIRECTORY of files=cores
      // part files (the generator's 32 range partitions), so the event
      // growth cells measure operators, not the single-file read floor
      // the old promoted-single-part layout imposed (r10 SCALE.md
      // caveat). Batch readers and the streaming file source both take
      // this layout (the source points at the path and lists its
      // parts); the driver's own sf fixtures stay single-file — the
      // footer probe and readers handle either.
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  /** The event-tier queries auditable on an events-only fixture: batch
    * rollup/pivot/JSON scans, the user-windowed sessionization, the
    * as-of join, the salted skew join, the partitioned write+pruned
    * read, and the two bounded-output streaming twins (tumbling rollup,
    * mapGroupsWithState sessions — their memory-sink results are
    * O(days×types) / O(users), safe to drain at every tier). v01 and
    * the flat-session stream need the full table set / unbounded sink
    * rows, so they stay out of the growth fixture.
    */
  private val eventNames = Seq(
    "q23_events_daily", "q24_sessionization", "q25_event_pivot", "q29_json_props",
    "j01_asof_join", "j02_range_join", "k01_salted_skew_join", "w01_partitioned_io",
    "s01_stream_daily", "s02_stream_sessions")

  private val baseNames = Seq(
    "d01_dedup_exact", "d02_token_stats", "d03_quality_score", "d04_lang_guess",
    "d05_fingerprints", "d06_minhash_pairs", "d07_simhash", "d08_regex_tokens",
    "d09_dedup_clusters", "d10_tfidf_keywords", "d11_vocab_bigrams",
    "d12_text_scrub", "d13_split_assign", "d14_incremental_dedup",
    "d15_chunk_dedup", "d16_decontaminate", "d17_chunk_scrub",
    "d27_stratified_sample", "d28_decontaminate_bloom",
    "d18_sequence_pack", "d19_repetition_stats", "d20_pack_manifest", "d21_source_mix",
    "d22_shard_emit", "d23_bpe_tokenize", "d39_bpe_shards", "d24_quality_classifier",
    "d26_semantic_scrub", "d29_lm_perplexity", "d30_span_dedup", "d31_span_scrub",
    "d32_span_dedup_fast", "d33_budget_select", "d34_best_survivors", "d35_training_order",
    "d36_repetition_scrub", "d37_source_drift", "d38_percentile_rank",
    "p01_pipeline_composed", "p02_curated_sample", "p03_curation_pipeline",
    "p04_decon_pipeline", "p05_idshard_pipeline",
    "e01_knn_brute", "e02_knn_ivf", "e03_embedding_neardup", "e04_knn_ivf_trained",
    "e05_knn_pq", "e06_knn_ivf_pq", "e07_triplet_mine")

  /** A deliberately quadratic query (all-pairs within doc_id%100
    * buckets: Σ (n/100)² rows ≈ n²/100) — the growth gate's negative
    * control. Enabled by SPARK_GRAFT_PLANT_SUPERLINEAR=1; the gate run
    * must then exit nonzero or the gate is not actually gating.
    */
  private val planted: Map[String, (SparkSession, String) => DataFrame] = Map(
    "z99_planted_superlinear" -> { (spark, dir) =>
      // n²/10 pairs, each paying a 12-deep md5 chain. The chain depth is
      // deliberately fat: the control's MEASURED growth is
      // (work10 + floor)/(work1 + floor), and on a slow box the 1× cell
      // is floor-dominated — the round-12 re-exercise measured the
      // 3-deep chain at 8.6×/decade (1.40 s → 11.97 s) on a box whose
      // per-query floor is ~1.3 s, sliding a TRUE quadratic under the
      // 12× limit. At 12 deep the pair work dominates the floor at BOTH
      // tiers on any box in the fleet's speed range (~2 s → ~45 s here,
      // ≈ 24×/decade measured), so the gate fires on slow and fast boxes
      // alike; a quadratic that stays sub-floor at every tested tier is,
      // by definition, not yet a problem the gate needs to catch.
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), pmod(col("doc_id"), lit(10)).as("k"))
      val pair = concat(col("a.doc_id"), lit(":"), col("b.doc_id"))
      docs.as("a").join(docs.as("b"), "k")
        .select((1 to 12).foldLeft(pair)((c, _) => md5(c)).as("h"))
    })

  private def plantEnabled: Boolean =
    sys.env.get("SPARK_GRAFT_PLANT_SUPERLINEAR").contains("1")

  private[graft] def names: Seq[String] = {
    val all = (if (plantEnabled) baseNames :+ "z99_planted_superlinear" else baseNames) ++
      eventNames
    // subset runs (SPARK_GRAFT_ONLY=d33_budget_select,d34_...): measure
    // just-added operators against an existing growth table without
    // paying a full catalog pass per tier — cells merge into SCALE.md
    // under the same quiet-run discipline
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case Some(filter) =>
        val wanted = filter.split(",").map(_.trim).filter(_.nonEmpty).toSet
        // fail LOUDLY on names not in the catalog: a typo'd subset run
        // would otherwise execute nothing (or a partial set) and exit
        // green — defeating the growth-gate purpose of the subset run
        val unknown = wanted -- all.toSet
        if (unknown.nonEmpty) {
          System.err.println(
            s"SPARK_GRAFT_ONLY names not in the stress catalog: ${unknown.toSeq.sorted.mkString(", ")}")
          sys.exit(1)
        }
        all.filter(wanted)
      case None => all
    }
  }

  private def queryFn(name: String): (SparkSession, String) => DataFrame =
    planted.getOrElse(name, SparkEntry.queries(name))

  /** (sec, rows, shuffleReadBytes, shuffleWriteBytes) per cell: the
    * byte columns meter every task the query ran (ShuffleMeter), in
    * the unit a real cluster bills — box-independent, unlike seconds.
    */
  private def runOne(spark: SparkSession, name: String, dir: String): (Double, Long, Long, Long) = {
    // the row count rides the one real execution as an observation, so
    // rows and time come from the same full run
    val obs = org.apache.spark.sql.Observation(s"scale_${name}_${System.nanoTime()}")
    val run = Harness.runCell(spark, queryFn(name)(spark, dir)
      .observe(obs, count(lit(1)).as("rows")))
    run.error.foreach(t => throw t)
    val rows = obs.get("rows").asInstanceOf[Long]
    val sec = run.seconds
    println(f"[scale]   $name%-24s $sec%8.2fs $rows%10d rows " +
      f"${run.shuffleReadBytes / 1e6}%10.1f MB shr ${run.shuffleWriteBytes / 1e6}%10.1f MB shw")
    (sec, rows, run.shuffleReadBytes, run.shuffleWriteBytes)
  }

  private def run(spark: SparkSession, dir: String): Map[String, (Double, Long, Long, Long)] =
    names.map(name => name -> runOne(spark, name, dir)).toMap

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/tmp/graft_scale")
    // optional 2nd arg: comma-separated tier list, default all three
    val tiers = args.drop(1).headOption.getOrElse("1,10,100").split(",").map(_.trim.toInt).toSeq
    val spark = graft.engine.Session.fromEnv()
    // dedup-heavy tiers: the sig/sketch broadcast budget is an operating
    // knob (Dedup.scala docs) — a 1000× run (5M docs) carries a ~2.7 GB
    // sig table, which a 48 GB driver holds comfortably; leaving the
    // 512 MB default would exercise the shuffle fallback instead
    sys.env.get("SPARK_GRAFT_SIG_BUDGET").foreach { b =>
      spark.conf.set("spark.graft.dedup.sigBroadcastBytes", b)
    }
    val dirs = tiers.map(t => t -> s"$base/x$t").toMap
    tiers.foreach { t =>
      println(s"[scale] generating x$t fixture (${5000 * t} docs / ${2000 * t} vecs / ${100000L * t} events)")
      genDocs(spark, 5000 * t, dirs(t)); genEmbeddings(spark, 2000 * t, 64, dirs(t))
      genEvents(spark, 100000L * t, 1500L * t, dirs(t))
    }
    // fixture-only mode: build the tier dirs and stop, so OneQuery can
    // adjudicate individual heavy-tier cells without paying two full
    // catalog passes (warmup + timed) at that tier
    if (sys.env.get("SPARK_GRAFT_GEN_ONLY").contains("1")) {
      println("[scale] SPARK_GRAFT_GEN_ONLY=1 — fixtures written, skipping the timed passes")
      spark.stop()
      return
    }
    // streams drain through the noop sink here: the memory sink's
    // driver-side table is O(state keys) of pure harness overhead
    // (1.5 M rows at x1000), not operator cost. Correctness runs
    // (Verify/StreamingSpec) never set this.
    spark.conf.set("spark.graft.stream.sink",
      sys.env.getOrElse("SPARK_GRAFT_STREAM_SINK", "noop"))
    // state partitions sized to the tier's key cardinality (users =
    // 1500·t): every state partition pays a store init + commit per
    // micro-batch, so small tiers stay at 8; the 1.5 M-key x1000 tier
    // spreads across the full local parallelism
    def stateParts(t: Int): Int =
      math.min(32, math.max(8, (1500L * t / 25000L).toInt))
    println("[scale] warmup at smallest tier")
    spark.conf.set("spark.graft.stream.statePartitions", stateParts(tiers.min).toString)
    run(spark, dirs(tiers.min))
    val results = tiers.map { t =>
      println(s"[scale] timed x$t (statePartitions=${stateParts(t)})")
      spark.conf.set("spark.graft.stream.statePartitions", stateParts(t).toString)
      t -> run(spark, dirs(t))
    }.toMap
    val header = tiers.map(t => s"${t}x sec | ${t}x rows | ${t}x shw MB")
      .mkString("| query | ", " | ", " | growth/decade | shw growth |")
    println(header)
    println("|---" * (3 * tiers.length + 3) + "|")
    names.foreach { n =>
      val cells = tiers.map { t =>
        val (sec, rows, _, shw) = results(t)(n); f"$sec%.2f | $rows | ${shw / 1e6}%.1f"
      }.mkString("| " + n + " | ", " | ", " | ")
      // per-decade growth between consecutive tiers: wall time (box-
      // dependent — adjudicate under the quiet-box rule) and shuffle
      // WRITE bytes (box-independent — what a cluster bills; ~0-byte
      // cells print "-" instead of a meaningless ratio)
      val growth = tiers.sliding(2).map {
        case Seq(a, b) =>
          val g = results(b)(n)._1 / results(a)(n)._1
          f"$g%.1fx"
        case _ => "-"
      }.mkString("/")
      val bGrowth = tiers.sliding(2).map {
        case Seq(a, b) =>
          val (wa, wb) = (results(a)(n)._4, results(b)(n)._4)
          if (wa < 1000000L) "-" else f"${wb.toDouble / wa}%.1fx"
        case _ => "-"
      }.mkString("/")
      println(cells + growth + " | " + bGrowth + " |")
    }

    // ------------------------------------------------------------------
    // GROWTH GATE (the bench-budget pattern applied to scale): a query
    // whose wall time grows faster than SPARK_GRAFT_BUDGET_GROWTH per
    // DECADE of data (default 12×: 10× data on a fixed box is at worst
    // 10× work, plus noise headroom) fails the run LOUDLY. Cells under
    // SPARK_GRAFT_GROWTH_FLOOR seconds at the larger tier are exempt
    // (stage-floor-dominated, growth there is meaningless). A flagged
    // pair is re-measured once at both tiers (min-adjudicated — the
    // shared-JVM inflation that plagued round-8's heavy cells is
    // one-sided noise); only a violation that SURVIVES the re-run
    // exits 1. The gate must only be trusted on QUIET runs, like every
    // other number here.
    // ------------------------------------------------------------------
    val growthBudget = sys.env.getOrElse("SPARK_GRAFT_BUDGET_GROWTH", "12.0").toDouble
    val floorSec = sys.env.getOrElse("SPARK_GRAFT_GROWTH_FLOOR", "3.0").toDouble
    val adjudicated = scala.collection.mutable.Map.empty[(Int, String), Double]
    def sec(t: Int, n: String): Double =
      adjudicated.getOrElse((t, n), results(t)(n)._1)
    def allowed(a: Int, b: Int): Double =
      math.pow(growthBudget, math.log10(b.toDouble / a))
    def violations: Seq[(String, Int, Int, Double, Double)] =
      for {
        n <- names
        Seq(a, b) <- tiers.sliding(2).toSeq
        g = sec(b, n) / sec(a, n)
        if sec(b, n) > floorSec && g > allowed(a, b)
      } yield (n, a, b, g, allowed(a, b))
    val first = violations
    if (first.nonEmpty) {
      println(s"[scale] ${first.size} growth suspect(s) — re-measuring both tiers (min adjudicated)")
      first.map(_._1).distinct.foreach { n =>
        tiers.foreach { t =>
          spark.conf.set("spark.graft.stream.statePartitions", stateParts(t).toString)
          val (s, _, _, _) = runOne(spark, n, dirs(t))
          adjudicated((t, n)) = math.min(s, sec(t, n))
        }
      }
    }
    val fatal = violations
    spark.stop()
    if (fatal.nonEmpty) {
      fatal.foreach { case (n, a, b, g, lim) =>
        System.err.println(
          f"GROWTH VIOLATION: $n x$a→x$b grew $g%.1fx (limit $lim%.1fx, " +
            f"${sec(a, n)}%.2fs → ${sec(b, n)}%.2fs)")
      }
      sys.exit(1)
    }
  }
}
