package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Physical-plan assertions (the 100 TB design gates): predicate
  * pushdown and column pruning must reach the parquet scan, dim joins
  * must broadcast, partitioned reads must prune, and nothing may plan a
  * cartesian product except the intentional 1-row bounds join.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString()

  test("q22: filters pushed to the parquet scan, columns pruned") {
    val p = plan(SparkEntry.queries("q22_filtered_scan")(spark, sfDir))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("o_orderstatus"), "status filter must appear in pushed filters")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_comment") && !readSchema.contains("o_orderdate"),
      s"scan must prune unused columns: $readSchema")
  }

  test("q02: all dimension joins broadcast (no shuffle for dims)") {
    val p = plan(SparkEntry.queries("q02_revenue_by_nation")(spark, sfDir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    assert(broadcasts >= 3, s"customer/nation/region must broadcast, saw $broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("q06: bounds join is a broadcast nested loop (1-row build side), not a cartesian") {
    val p = plan(SparkEntry.queries("q06_bounds_between")(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), "1-row bounds must broadcast, never cartesian")
  }

  test("q01: two-phase hash aggregation with map-side partial combine, vectorized scan") {
    val df = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
    val p = plan(df)
    assert(p.contains("partial_sum"), "map-side partial aggregation expected")
    assert("HashAggregate".r.findAllIn(p).length >= 2, "partial+final HashAggregate expected")
    assert(p.contains("Batched: true"), "vectorized parquet reader expected")
  }

  test("partitioned write + read prunes partitions (w01 shape)") {
    // sf0.001 events span one month; partition on event_type (5 values)
    // so pruning is observable at this scale
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_planspec_events"
    Tables.events(spark, sfDir)
      .write.mode("overwrite").partitionBy("event_type").parquet(out)
    val read = spark.read.parquet(out).filter(col("event_type") === "click")
    val p = plan(read)
    assert(p.contains("PartitionFilters"), p)
    read.collect()
    val filesScanned = read.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.metrics("numFiles").value
    }.sum
    val allFiles = spark.read.parquet(out).inputFiles.length
    assert(filesScanned > 0 && filesScanned < allFiles,
      s"pruned read scanned $filesScanned of $allFiles files")
  }

  test("dedup operators never plan a cartesian product") {
    for (name <- Seq("d06_minhash_pairs", "e03_embedding_neardup", "d01_dedup_exact")) {
      val p = plan(SparkEntry.queries(name)(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian:\n$p")
    }
  }

  test("bucketed co-partitioned join: sort-merge with NO shuffle and NO sort below the join") {
    val df = SparkEntry.queries("io02_bucketed_join")(spark, sfDir)
    val p = plan(df)
    assert(p.contains("SortMergeJoin"), p)
    // the only exchange allowed is the one feeding the final groupBy;
    // bucketed+sorted scans feed the join directly
    val joinPart = p.substring(p.indexOf("SortMergeJoin"))
    assert(!joinPart.contains("Exchange"), s"bucketed join must not shuffle its inputs:\n$joinPart")
    assert(p.contains("SelectedBucketsCount"), "scan must be bucket-aware")
  }

  test("catalog-wide: no cartesian product in ANY query; nested-loop only at intentional sites") {
    // BNLJ is legitimate only for 1-row scalar-bounds joins and the
    // broadcast-query-side kNN scans (e01 brute, e05's PQ-ADC pass —
    // both stream the corpus against a broadcast handful of queries)
    val allowedBnlj = Set("q06_bounds_between", "q07_revenue_share", "q14_zscore_daily", "e01_knn_brute",
      "e05_knn_pq",
      "q31_measure_filter", // 1-row grand-total broadcast for the P12 measure threshold
      "p02_curated_sample", // 1-row median-score broadcast gating the keep filter
      "d37_source_drift", // bounded sources×top-K grid cross + a 1-row corpus-totals broadcast
      "d38_percentile_rank") // 1-row corpus-count broadcast for the (n-1) denominator
    // these run jobs at construction (writes, streaming, iteration) —
    // their plan shapes are covered by dedicated tests above
    val skip = Set("w01_partitioned_io", "io01_pgcopy_roundtrip", "io02_bucketed_join",
      "s01_stream_daily", "s02_stream_sessions", "d09_dedup_clusters")
    SparkEntry.queries.toSeq.sortBy(_._1).filterNot(q => skip(q._1)).foreach { case (name, fn) =>
      val p = plan(fn(spark, sfDir))
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      if (!allowedBnlj(name))
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$name plans an unexpected nested-loop join")
    }
  }

  test("no custom kernel is a CodegenFallback (would force the subtree interpreted)") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.graft._
    val probe = org.apache.spark.sql.catalyst.expressions.Literal(null)
    val kernels: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Seq(
      RollingHash(probe), WinnowSketch(probe, 3, 4), MinHashSig(probe, 3, 8),
      Md5SimHashBits(probe), SimHash64(probe), SigMatchCount(probe, probe),
      DotProduct(probe, probe), CosineSim(probe, probe), RandomProjections(probe, 4),
      PqEncode(probe, Array(Array(Array(0.0)))),
      PqDistTables(probe, Array(Array(Array(0.0)))),
      PqAdc(probe, probe, 16))
    kernels.foreach { e =>
      assert(!e.isInstanceOf[CodegenFallback],
        s"${e.prettyName} must implement doGenCode — CodegenFallback evaluates the whole " +
          "subtree (including the tokenization child) interpreted")
    }
  }

  test("d10 never plans a window partitioned by token (Zipfian skew guard)") {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("d10_tfidf_keywords")(spark, sfDir)
    val tokWindows = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.exists {
        case a: AttributeReference => a.name == "tok"
        case _ => false
      } => w
    }
    assert(tokWindows.isEmpty,
      "document frequency must come from groupBy+join, not a token-partitioned window " +
        "(one task would buffer the entire hot-token partition)")
  }

  test("q28: no sort-based aggregate (two hash-agg passes joined, never one mixed agg)") {
    // Mixing countDistinct (Expand) with typed-imperative percentile buffers
    // in one aggregate plans a SortAggregate over the expanded fact —
    // measured 18x slower (BENCH_r05). The two-pass + join shape must hold.
    val p = plan(SparkEntry.queries("q28_approx_kpis")(spark, sfDir))
    assert(!p.contains("SortAggregate"),
      s"q28 must never plan a sort-based aggregate over the fact:\n$p")
    assert(!p.contains("Expand"),
      s"q28 must not expand the fact for a mixed distinct aggregate:\n$p")
  }

  test("d11: no Expand (decomposed aggregates, never one mixed count+countDistinct)") {
    // The mixed aggregate expands every exploded bigram with a
    // (bigramme, doc_id)-wide distinct key space — measured 31x/decade
    // at the 100x stress (SCALE.md round 7). Both aggregates must stay
    // map-side-combinable with |vocab| keys.
    val p = plan(SparkEntry.queries("d11_vocab_bigrams")(spark, sfDir))
    assert(!p.contains("Expand"),
      s"d11 must not expand the exploded bigrams for a mixed distinct aggregate:\n$p")
  }

  test("d15/d17: chunk frequency is a groupBy + broadcast mark join — never a fingerprint window") {
    // The window formulation (count() over (partition by h)) serializes
    // every occurrence of a hot boilerplate fingerprint through ONE
    // task — measured 65.9x/decade (192 s) at the 1000x stress
    // (SCALE.md round 8). The frequency pass must stay map-side
    // combinable and the mark join map-side under the budget.
    for (q <- Seq("d15_chunk_dedup", "d17_chunk_scrub")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(!p.contains("Window"),
        s"$q must not window over the chunk fingerprint (hot-chunk skew):\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"$q: the duplicated-fingerprint set must broadcast under the budget:\n$p")
    }
  }

  test("d29: both LM model sides broadcast; no corpus-token-keyed exchange") {
    // the (doc, w1, w2)-keyed exchange shuffled ~a row per corpus token
    // for near-zero reduction (208 s at the 1000x stress before the
    // raw-rollup rewrite); the only exchanges are the vocabulary-bounded
    // model aggregations and the map-side-collapsing doc rollup
    val p = plan(SparkEntry.queries("d29_lm_perplexity")(spark, sfDir))
    val broadcasts = "BroadcastHashJoin".r.findAllIn(p).length
    // bic and uni carry static hints; the doc_id score-back join is
    // honestly corpus-keyed (both sides ∝ |docs|) — since train()
    // checkpoints bic, its stats are opaque to the initial plan and the
    // score-back broadcast is AQE's runtime call at test scale, so only
    // the two HINTED model joins are pinned here
    assert(broadcasts >= 2, s"bic and uni model sides must broadcast, saw $broadcasts:\n$p")
    // order-independent: NO hashpartitioning clause may carry both the
    // doc id and a word attribute, whatever order Catalyst prints them in
    // (the old doc_id-before-w2 regex would miss a (w1, w2, doc_id) key)
    val mixedKeys = "hashpartitioning\\([^)]*\\)".r.findAllIn(p)
      .filter(c => c.contains("doc_id") && (c.contains("w1#") || c.contains("w2#")))
      .toSeq
    assert(mixedKeys.isEmpty,
      s"d29 must never exchange on (doc, w1, w2): ${mixedKeys.mkString("; ")}\n$p")
  }

  test("static broadcast hints survive stats-blind planning (the AQE-write-before-flip guards)") {
    // AQE's broadcast flip happens only AFTER leaf exchanges
    // materialize, so the r13 fixes placed budget-gated STATIC hints on
    // the bounded model sides (d29 LM, d10 DF, d28 verify set, the pack
    // annotation). Stats-based planning would broadcast these at test
    // scale anyway — disabling it proves the HINTS carry the decision,
    // so a dropped hint fails here instead of resurfacing as a
    // corpus-scale shuffle write at the stress tiers.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val p29 = plan(SparkEntry.queries("d29_lm_perplexity")(spark, sfDir))
      assert("BroadcastHashJoin".r.findAllIn(p29).length >= 2,
        s"d29: bic and uni must broadcast by HINT, not stats:\n$p29")
      val p10 = plan(SparkEntry.queries("d10_tfidf_keywords")(spark, sfDir))
      assert(p10.contains("BroadcastHashJoin"),
        s"d10: the DF side must broadcast by hint:\n$p10")
      val p28 = plan(SparkEntry.queries("d28_decontaminate_bloom")(spark, sfDir))
      assert(p28.contains("BroadcastHashJoin"),
        s"d28: the verify eval side must broadcast by hint:\n$p28")
      val pack = plan(graft.operators.Pack.packedSequences(
        graft.sources.Tables.documents(spark, sfDir), "doc_id", "text", 128))
      assert(pack.contains("BroadcastHashJoin"),
        s"packedSequences: the range annotation must broadcast by hint:\n$pack")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("d30/d31/d32: dup grams broadcast under budget; island windows key on doc_id, never the gram") {
    for (q <- Seq("d30_span_dedup", "d31_span_scrub", "d32_span_dedup_fast")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(p.contains("BroadcastHashJoin"),
        s"$q: the duplicated-fingerprint set must broadcast under the budget:\n$p")
      // every Window must partition by doc_id — a gram-keyed window would
      // serialize hot boilerplate fingerprints through one task (and for
      // d31 specifically, an (h)-keyed ROW_NUMBER survivor pick would too;
      // the survivor must come from the map-side-combinable min(struct))
      val windowSpecs = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
      assert(windowSpecs.nonEmpty && windowSpecs.forall(_.contains("doc_id")),
        s"$q windows must partition by doc_id:\n${windowSpecs.mkString("\n")}")
    }
  }

  test("d19: the repetition pass is pure map — no exchange except the presentation sort") {
    // a per-doc statistic must never become a corpus-wide (doc, gram)
    // shuffle: the kernel computes all five counters in-row
    val p = plan(SparkEntry.queries("d19_repetition_stats")(spark, sfDir))
    assert(!p.contains("hashpartitioning"),
      s"d19 must not shuffle gram rows for a per-doc statistic:\n$p")
    assert(p.contains("graft_repetition_counts"),
      s"d19 must use the compiled kernel:\n$p")
  }

  test("d36: the repetition scrub is pure map — no exchange except the presentation sort") {
    // the apply side shares d19's contract: removal happens in-row, so
    // a regression that reintroduces a (doc, gram) exchange or a window
    // is a scale defect, not a style choice
    val p = plan(SparkEntry.queries("d36_repetition_scrub")(spark, sfDir))
    assert(!p.contains("hashpartitioning"),
      s"d36 must not shuffle gram rows for an intra-doc rewrite:\n$p")
    assert(!p.contains("Window"), s"d36 must not window:\n$p")
    assert(p.contains("graft_repetition_scrub"),
      s"d36 must use the compiled kernel:\n$p")
  }

  test("d18/d20: packing never plans a single-partition exchange") {
    for (q <- Seq("d18_sequence_pack", "d20_pack_manifest")) {
      val p = plan(SparkEntry.queries(q)(spark, sfDir))
      assert(!p.contains("SinglePartition"),
        s"$q: the two-phase prefix sum must not serialize the corpus into one task:\n$p")
    }
  }

  test("d16: eval grams broadcast under the budget; shuffled semi-join past it") {
    val docs = Tables.documents(spark, sfDir)
    val isEval = col("doc_id") % 50 === 0 && col("doc_id") > 0
    def p(budget: Long) = plan(graft.operators.Decontaminate
      .ngramOverlap(docs.filter(!isEval), docs.filter(isEval), "doc_id", "text",
        n = 3, gramBroadcastBytes = budget))
    // the gram semi join is the line carrying LeftSemi; Catalyst may
    // still broadcast the small per-doc aggregate into the final outer
    // join, so test the SEMI join's strategy specifically
    def semiLine(s: String) = s.linesIterator.find(_.contains("LeftSemi")).getOrElse("")
    val under = semiLine(p(-1L))
    assert(under.contains("BroadcastHashJoin"),
      s"small eval side must broadcast the semi join: $under")
    // past budget the operator must NOT force a broadcast hint —
    // Catalyst stays free to choose. With auto-broadcast disabled, a
    // forced hint would still broadcast; the unhinted plan shuffles.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val over = semiLine(p(0L))
      assert(over.nonEmpty && !over.contains("Broadcast"),
        s"past-budget screen must not force the broadcast: $over")
      val hinted = semiLine(p(-1L))
      assert(hinted.contains("BroadcastHashJoin"),
        s"under-budget hint must survive auto-broadcast off: $hinted")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("e03: map-side Hamming kill present before the candidate distinct") {
    // The packed-sign-bit kill (graft_packed_hamming over broadcast
    // sketches) removes low-cosine bucket candidates BEFORE any shuffle
    // — 100s -> 7.5s at the 100x stress (SCALE.md round 7). Its absence
    // means the candidate volume reaches the distinct + vector joins.
    val p = plan(SparkEntry.queries("e03_embedding_neardup")(spark, sfDir))
    assert(p.contains("graft_packed_hamming"),
      s"e03 must filter candidates through the packed Hamming kill:\n$p")
    assert(p.contains("graft_pack_sign_bits"),
      s"e03 must broadcast packed sign-bit sketches for the kill:\n$p")
  }

  test("q30: daily pre-aggregation feeds the weekday quartiles (O(days) percentile population)") {
    val p = plan(SparkEntry.queries("q30_weekday_quartiles")(spark, sfDir))
    // two aggregation levels: daily CA first, then the five-number summary
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(p).size >= 3,
      s"q30 must aggregate daily revenue before computing weekday percentiles:\n$p")
    assert(!p.contains("Expand"), s"q30 must not expand the fact:\n$p")
  }

  test("brute-force kNN broadcasts the query side") {
    val em = Tables.embeddings(spark, sfDir)
    val p = plan(graft.operators.Similarity.bruteForceKnn(
      em, em.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"query side must broadcast:\n$p")
  }

  test("presentation sort: q-cells keep a trailing sort iff they are RelationalQueries cells") {
    // presentation order lives at the source: every cell is served as
    // written (SparkEntry.cells wraps nothing), so the boundary is a
    // fact about the catalog source: the relational
    // dashboard cells keep their written ORDER BY, every other cell ends
    // without a root global sort. q03 and q14 (top-k: Limit root) and
    // q11 (one scalar row) order nothing at the root.
    import graft.queries.{EventsQueries, PipelineQueries, RelationalQueries, WarehouseQueries}
    def rootSort(df: DataFrame): Option[String] = df.queryExecution.logical match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort if s.global =>
        Some(s.order.map(_.sql).mkString(", "))
      case _ => None
    }
    val written = RelationalQueries.all ++ EventsQueries.all ++ PipelineQueries.all ++ WarehouseQueries.all
    val relational = RelationalQueries.all.map(_.name).toSet
    val qCells = written.filter(_.name.matches("q[0-9]{2}_.*"))
    assert(qCells.size == 32, s"expected q01–q32, saw ${qCells.map(_.name).sorted}")
    val sorted = written.flatMap(q => rootSort(q.run(spark, sfDir)).map(q.name -> _))
    val stray = sorted.filterNot(c => relational(c._1))
    assert(stray.isEmpty,
      s"${stray.size} non-relational cells end in a global sort: " +
        stray.map { case (n, o) => s"$n [$o]" }.mkString(", "))
    val kept = sorted.filter(c => relational(c._1)).map(_._1.take(3)).toSet
    assert(kept == Set("q01", "q02", "q04", "q05", "q06", "q07", "q08", "q09", "q10", "q12",
      "q13", "q15", "q16", "q17", "q18", "q19", "q20", "q21", "q22", "q28"),
      s"relational root sorts: ${kept.toSeq.sorted}")
    assert(SparkEntry.cells == written, "SparkEntry.cells must serve every catalog cell as written")
  }
}
