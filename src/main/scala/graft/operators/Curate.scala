package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Corpus-curation selectors: token-budget selection, deterministic
  * training order, and quality-aware duplicate-cluster survivors —
  * the decisions a training-data pipeline makes AFTER scoring and
  * deduplication (reference scope: the FilmDB warehouse's ranked
  * top-n-with-threshold idiom — sql/datawarehouse/requetes_clees.sql:25-33
  * `ORDER BY ca DESC ... HAVING ... LIMIT 10` — generalized to corpus
  * curation, where "top n" becomes "top tokens under a budget").
  *
  * Scale design (the Pack/Surrogate two-phase contract): every global
  * "running total over an order" here is a range-partitioned
  * distributed sort + ONE narrow (partition, total) row per partition
  * to the driver + a second per-partition pass applying prefix
  * offsets. A `sum().over(Window.orderBy(...))` would plan an
  * Exchange SinglePartition — one task sorting and scanning the whole
  * corpus — which is exactly the plan shape these operators exist to
  * avoid (CurateSpec pins its absence). The shuffle carries only the
  * order key and the weight; text never moves.
  *
  * Single-materialization contract (Pack.scala:32-42): Spark's
  * RangePartitioner seeds boundary sampling with the RDD id, so the
  * totals job and the data pass MUST share one RDD instance or two
  * independent executions of the same `repartitionByRange` could
  * disagree on boundary rows and corrupt their offsets.
  */
object Curate {

  /** Global (rang, cum) over `df` ordered by `orderCols`: rank is the
    * 1-based position in the total order, cum the running sum of
    * `weightCol` INCLUDING the current row. Two-phase — see the object
    * scaladoc. The order must be total (include a unique tiebreaker in
    * `orderCols`) or peers land in sampler-chosen partitions and the
    * result is still deterministic only per materialized shuffle.
    */
  private def runningTotals(
      df: DataFrame,
      orderCols: Seq[Column],
      weightCol: String
  ): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sessionState.conf.numShufflePartitions
    // materialize the NARROW (order keys + weight) relation once: the
    // range sampler, the totals job and the data pass otherwise each
    // re-run the caller's scoring kernels over the corpus text —
    // measured 17.7×/decade on d33's second decade (0.4 s → 7.5 s at
    // 500 k docs) vs ~linear once the three passes read one
    // materialization. O(corpus) rows but ~24 B each; blocks released
    // by the ContextCleaner (the repo checkpoint convention). LAZY
    // checkpoint (materialized by the range sampler's own first pass)
    // rather than eager: one fewer job per call (the p06 job-floor
    // lesson) with the same cleaner-managed lifecycle — a cache() here
    // would pin a CacheManager entry per call for the session.
    // The weight is cast to long HERE (the public contract accepts any
    // numeric weight column — an int/double weight would otherwise hit
    // getLong below as an opaque executor-side ClassCastException).
    // The cast must be VALUE-PRESERVING: a plain cast(LongType)
    // truncates fractions toward zero (a 0.9 weight would consume no
    // budget, changing budgetSelect's semantics), so exactness is
    // checked against the ORIGINAL column (long→double round-trip
    // compare; null-safe). try_cast keeps the failure OURS: under ANSI
    // a malformed string would throw CAST_INVALID_INPUT before the
    // check runs — try_cast folds it to null so null, non-numeric and
    // non-integral weights all fail the one require below with the
    // integral-token-counts message.
    val wOk = "__graft_w_exact"
    val src = df
      .withColumn(wOk, col(weightCol).isNotNull &&
        (col(weightCol).try_cast(LongType).cast("double") ===
          col(weightCol).try_cast("double")))
      .withColumn(weightCol, col(weightCol).try_cast(LongType))
      .localCheckpoint(false)
    val sorted = src
      .repartitionByRange(parts, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
    val rdd = sorted.rdd
    val wIdx = sorted.schema.fieldIndex(weightCol)
    val okIdx = sorted.schema.fieldIndex(wOk)
    // one narrow (rows, weight-total) pair per partition
    val partTotals = rdd
      .mapPartitionsWithIndex { case (i, it) =>
        var n = 0L; var s = 0L
        it.foreach { r =>
          require(!r.isNullAt(okIdx) && r.getBoolean(okIdx),
            "runningTotals: weight column has a null, non-numeric, or " +
              "non-integral value — weights are integral token counts; " +
              "coalesce/round the weight column before ordering on it")
          n += 1L; s += r.getLong(wIdx)
        }
        Iterator((i, n, s))
      }
      .collect().sortBy(_._1)
    val rankOffsets = partTotals.map(_._2).scanLeft(0L)(_ + _)
    val cumOffsets = partTotals.map(_._3).scanLeft(0L)(_ + _)
    val outSchema = StructType(sorted.schema.fields.filterNot(_.name == wOk) ++ Seq(
      StructField("rang", LongType), StructField("cum", LongType)))
    spark.createDataFrame(
      rdd.mapPartitionsWithIndex { case (i, it) =>
        var rank = rankOffsets(i)
        var acc = cumOffsets(i)
        it.map { r =>
          rank += 1L; acc += r.getLong(wIdx)
          Row.fromSeq(r.toSeq.patch(okIdx, Nil, 1) ++ Seq(rank, acc))
        }
      }, outSchema)
  }

  /** Greedy token-budget selection: keep the highest-`scoreCol`
    * documents, tiebroken by ascending `idCol`, while the running
    * `weightCol` total stays within `budget` — the "best N tokens"
    * curation step (data-constrained training mixes budget corpus
    * slices by token count, not doc count). A document that would
    * cross the budget is NOT taken, and neither is anything after it
    * (prefix semantics, same as the SQL cumulative-window
    * formulation — the oracle's `SUM(...) OVER (ORDER BY ...)`).
    *
    * Input is a PREPARED relation (idCol, scoreCol, weightCol, ...):
    * scoring stays composable — feed it d03's quality, an LM score, a
    * classifier margin, or any blend.
    *
    * Output: (idCol, scoreCol, weightCol, rang, cum) for the selected
    * prefix, where rang is the 1-based selection rank and cum the
    * running token total through this document.
    *
    * Scale: the corpus pays one narrow range exchange on
    * (score, id); output ∝ budget; no single-partition window.
    */
  def budgetSelect(
      prepared: DataFrame,
      idCol: String,
      scoreCol: String,
      weightCol: String,
      budget: Long
  ): DataFrame = {
    require(budget >= 0, "budget must be non-negative")
    runningTotals(
      prepared.select(col(idCol), col(scoreCol), col(weightCol)),
      Seq(col(scoreCol).desc, col(idCol).asc),
      weightCol
    ).filter(col("cum") <= budget)
  }

  /** Deterministic training-order shuffle: every document ranked by
    * md5(seed ":" id) — a seed-stable, engine-portable permutation
    * (the d13 split-assign hash convention; one hash per DOCUMENT, so
    * unlike the per-gram span/fingerprint keys there is no xxhash64
    * fast path to need). Epoch reshuffles are a seed change; any
    * engine recomputing the same md5 agrees on the full order.
    *
    * Output: (idCol, cle_melange, rang) — rang is the 1-based global
    * position, dense and gapless (the two-phase rank, never a
    * single-partition ROW_NUMBER).
    */
  def trainingOrder(docs: DataFrame, idCol: String, seed: String): DataFrame =
    runningTotals(
      docs.select(
        col(idCol),
        md5(concat(lit(seed), lit(":"), col(idCol).cast("string"))).as("cle_melange"),
        lit(1L).as("poids")),
      Seq(col("cle_melange").asc, col(idCol).asc),
      "poids"
    ).select(col(idCol), col("cle_melange"), col("rang"))

  /** Per-source token-distribution drift vs the whole corpus — the
    * ingest-monitoring selector: KL(source ‖ corpus) over the corpus's
    * top-K vocabulary with add-½ smoothing, plus each source's top
    * drift contributor. A drifted feed (new boilerplate, language-mix
    * shift, truncation bug) moves its KL long before any downstream
    * training metric does.
    *
    * Scale shape: the corpus pays ONE pure-map tokenize + explode into
    * a map-side-combinable groupBy(source, token) whose output is
    * (sources × vocabulary)-bounded — past the partial aggregation
    * nothing is proportional to corpus tokens. The top-K vocabulary is
    * a vocab-bounded rollup of that same relation (no second corpus
    * pass), taken with a deterministic (count desc, token asc) top-k
    * and broadcast back; the KL itself aggregates sources·K narrow
    * rows, with per-source totals joined (never windowed) and the top
    * contributor picked by a combinable min(struct) argmax.
    */
  def sourceDrift(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      topK: Int = 500
  ): DataFrame = {
    // the (source, token) rollup feeds BOTH the top-K vocabulary and the
    // drift cells: uncached, the corpus explode+aggregate subtree planned
    // (and ran) twice — cache() makes it one shared InMemoryRelation, so
    // the corpus pays its token pass once (the output is
    // vocabulary × source bounded, never corpus-scale). Same for the
    // per-source doc counts (two consumers, each a full column scan).
    val st = sourceTokenCounts(docs, textCol, sourceCol).cache()
    val top = st
      .groupBy(col("token"))
      .agg(sum(col("c")).as("ct"))
      .orderBy(col("ct").desc, col("token").asc)
      .limit(topK)
    klDrift(st, docsPerSource(docs, sourceCol).cache(), top)
  }

  /** Global quality-percentile calibration: every row's exact
    * percentile rank of `scoreCol` (PERCENT_RANK semantics — tied
    * scores share a percentile, pct = (rank−1)/(n−1), 0 for a
    * single-row corpus) plus the dense 1-based global position under
    * the (score, id) total order. The normalization step before
    * "keep the top X% by quality": a raw score threshold drifts with
    * the corpus mix, a percentile does not.
    *
    * Scale: the dense rank is the two-phase prefix pass (range
    * exchange on (score, id) — never a single-partition window); the
    * tie-sharing rank derives from it with ONE map-side-combinable
    * groupBy(score) re-joined on the score key; n is one broadcast
    * scalar. The corpus text never enters the exchange.
    */
  def percentileRank(prepared: DataFrame, idCol: String, scoreCol: String): DataFrame = {
    val rt = runningTotals(
      prepared.select(col(idCol), col(scoreCol).as("score"), lit(1L).as("poids")),
      Seq(col("score").asc, col(idCol).asc),
      "poids")
      .select(col(idCol), col("score"), col("rang"))
    val minRank = rt.groupBy(col("score")).agg(min(col("rang")).as("rmin"))
    val nTot = rt.agg(count(lit(1)).as("n"))
    rt.join(minRank, Seq("score"))
      .crossJoin(broadcast(nTot))
      .select(
        col(idCol),
        col("score").as("qualite"),
        col("rang"),
        round((col("rmin") - 1).cast("double") /
          greatest(col("n") - 1, lit(1L)).cast("double"), 6).as("pct_qualite"))
  }

  /** Drift of each source in `docs` against a GIVEN vocabulary
    * distribution `vocab` = (token, ct) — the streaming-screen path:
    * the corpus vocabulary is persisted once at publish time and every
    * arriving micro-batch joins the narrow stored relation instead of
    * re-deriving the corpus distribution (at 100 TB the re-derivation
    * would dominate each batch). Same output and semantics as
    * [[sourceDrift]] with the reference distribution held fixed.
    */
  def driftAgainst(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      sourceCol: String,
      vocab: DataFrame
  ): DataFrame =
    klDrift(
      sourceTokenCounts(docs, textCol, sourceCol),
      docsPerSource(docs, sourceCol),
      vocab.select(col("token"), col("ct")))

  private def sourceTokenCounts(docs: DataFrame, textCol: String, sourceCol: String): DataFrame =
    docs
      .select(col(sourceCol).as("source"),
        explode(graft.functions.Text.tokens(col(textCol))).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c"))

  private def docsPerSource(docs: DataFrame, sourceCol: String): DataFrame =
    docs.groupBy(col(sourceCol).as("source")).agg(count(lit(1)).as("n_docs"))

  private def klDrift(st: DataFrame, nd: DataFrame, top: DataFrame): DataFrame = {
    val qTot = top.agg(sum(col("ct")).as("nq"), count(lit(1)).as("kk"))
    val cells = nd
      .select(col("source"))
      .crossJoin(broadcast(top))
      .join(st, Seq("source", "token"), "left")
      .select(col("source"), col("token"), col("ct"), coalesce(col("c"), lit(0L)).as("c"))
    val perSrc = cells.groupBy(col("source")).agg(sum(col("c")).as("ns"))
    val scored = cells
      .join(perSrc, Seq("source"))
      .crossJoin(broadcast(qTot))
      .withColumn("p",
        (col("c").cast("double") + 0.5) / (col("ns").cast("double") + lit(0.5) * col("kk")))
      .withColumn("q",
        (col("ct").cast("double") + 0.5) / (col("nq").cast("double") + lit(0.5) * col("kk")))
      .withColumn("contrib", col("p") * log(col("p") / col("q")))
    scored
      .groupBy(col("source"))
      .agg(
        round(sum(col("contrib")), 6).as("kl"),
        min(struct((-col("contrib")).as("nc"), col("token"))).as("t"),
        sum(col("c")).as("n_tokens_vocab"))
      .join(nd, Seq("source"))
      .select(
        col("source"),
        col("n_docs"),
        col("n_tokens_vocab"),
        col("kl"),
        col("t.token").as("token_principal"),
        round(-col("t.nc"), 6).as("contrib_principal"))
  }

  /** Quality-aware duplicate-cluster survivors: for each near-dup
    * cluster keep the HIGHEST-scoring member (ties → lowest id)
    * instead of [[Dedup.clusters]]' canonical minimum id — the
    * curation-correct survivor choice (first-occurrence keeps
    * whatever crawled first; this keeps the best-quality copy).
    *
    * `clusters` is any (id, cluster_id) labeling ([[Dedup.clusters]]
    * output); `scored` any (idCol, scoreCol, ...) relation. Returns
    * one row per cluster: (cluster_id, doc_id_garde, score_garde,
    * n_membres).
    *
    * Scale: a single map-side-combinable groupBy(cluster_id) —
    * max(struct(score, -id)) combines partially, so the exchange
    * carries one row per cluster, never per member; NOT a
    * Window.partitionBy(cluster_id) (a boilerplate mega-cluster
    * would buffer entirely inside one task's window state).
    */
  def bestSurvivors(
      scored: DataFrame,
      clusters: DataFrame,
      idCol: String,
      scoreCol: String
  ): DataFrame =
    clusters
      .join(scored.select(col(idCol).as("id"), col(scoreCol).as("score")), Seq("id"))
      .groupBy(col("cluster_id"))
      .agg(
        max(struct(col("score"), (-col("id")).as("nid"), col("id"))).as("best"),
        count(lit(1)).as("n_membres"))
      .select(
        col("cluster_id"),
        col("best.id").as("doc_id_garde"),
        col("best.score").as("score_garde"),
        col("n_membres"))
}
