package graft

import org.apache.spark.sql.functions._
import graft.streaming.EventsStream
import graft.sources.Tables

/** Structured Streaming tier: the streaming daily rollup must equal its
  * batch twin (SURVEY §2.9 — the reference's incremental-refresh seam).
  */
class StreamingSpec extends SparkSpec {

  test("streaming tumbling-daily rollup equals batch aggregation") {
    val streamed = EventsStream
      .runToCompletion(EventsStream.tumblingDaily(spark, sfDir), "streaming_spec")
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val batch = Tables.events(spark, sfDir)
      .groupBy(to_date(col("ts")).as("jour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double").as("total_value")
      )
      .collect()
      .map(r => (r.getDate(0).toString, r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("foreachBatch incremental MERGE load equals the one-shot batch build") {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_incremental_etl"
    val (result, stats) = graft.streaming.IncrementalEtl.runWithStats(spark, sfDir, out)
    val streamed = result.collect().map(_.toString).sorted
    val batch = graft.streaming.IncrementalEtl.batchBuild(spark, sfDir)
      .collect().map(_.toString).sorted
    assert(streamed.nonEmpty)
    assert(streamed.sameElements(batch))
    // the incremental contract: the feed arrived as several micro-batches
    // and each rewrote ONLY the month partitions it touched — strictly
    // fewer than a full-table rewrite per batch would
    assert(stats.touchedPerBatch.length >= 2, "feed must form several micro-batches")
    val rewritten = stats.touchedPerBatch.map(_.toLong).sum
    val fullRewrite = stats.touchedPerBatch.length * stats.totalPartitions
    assert(rewritten < fullRewrite,
      s"partition-scoped merge must beat per-batch full rewrite ($rewritten vs $fullRewrite)")
    // date-range batches overlap at most at their month boundaries
    assert(rewritten <= stats.totalPartitions + stats.touchedPerBatch.length,
      s"date-range batches must touch near-disjoint month sets ($rewritten of ${stats.totalPartitions})")
    // and only boundary months pay the merge — everything else appends
    // (4 date ranges have 3 boundaries; batch arrival order decides how
    // many land on any one batch)
    assert(stats.mergedPerBatch.map(_.toLong).sum < stats.touchedPerBatch.length,
      s"only range-boundary months may pay the merge (${stats.mergedPerBatch})")
    // RESTART path (fresh = false): the month catalog recovers from the
    // partition listing of the SURVIVING target, the whole feed replays,
    // and the idempotent MERGE leaves the table exactly as it was —
    // every replayed month now collides, so every touched month merges
    val (replayed, stats2) = graft.streaming.IncrementalEtl
      .runWithStats(spark, sfDir, out, fresh = false)
    assert(replayed.collect().map(_.toString).sorted.sameElements(batch),
      "a restarted loader replaying its feed must leave the target unchanged")
    assert(stats2.mergedPerBatch.sum == stats2.touchedPerBatch.sum,
      s"on replay every month already exists, so all touched months merge (${stats2.mergedPerBatch} vs ${stats2.touchedPerBatch})")
  }

  test("streaming ingestion screen equals the one-shot batch-vs-corpus dedup") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sfDir)
    val isBatch = col("doc_id") % 50 === 0 && col("doc_id") > 0
    val oneShot = graft.operators.Dedup
      .minhashLshAgainst(docs.filter(isBatch), docs.filter(!isBatch), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = graft.streaming.IngestDedup
      .run(spark, sfDir, s"${System.getProperty("java.io.tmpdir")}/graft_s06_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == oneShot, "micro-batched screen must emit exactly the one-shot pairs")
    assert(streamed.nonEmpty)
  }

  test("streaming semantic screen equals the one-shot embedding batch-vs-corpus screen") {
    val oneShot = graft.streaming.IngestSemantic
      .oneShot(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val streamed = graft.streaming.IngestSemantic
      .run(spark, sfDir, s"${System.getProperty("java.io.tmpdir")}/graft_s08_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed == oneShot, "micro-batched semantic screen must emit exactly the one-shot pairs")
    assert(streamed.nonEmpty)
    // every planted (copy, source) pair must surface: the jittered copy
    // of vector v sits at cosine ~0.9999 to v
    import org.apache.spark.sql.functions.col
    val nBatch = graft.sources.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 10 === 0).count()
    val planted = streamed.count { case (b, c, _) => b == c + 1000000L }
    assert(planted == nBatch, s"expected all $nBatch planted pairs, found $planted")
  }

  test("streaming ANN serve equals the one-shot stored-index query, which equals the in-query-trained IVF-PQ") {
    val w = s"${System.getProperty("java.io.tmpdir")}/graft_s12_spec"
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))
    val oneShot = graft.streaming.IngestAnn.oneShot(spark, sfDir, w).collect().map(key).toSet
    val streamed = graft.streaming.IngestAnn.run(spark, sfDir, w).collect().map(key).toSet
    assert(streamed == oneShot, "drained ANN log must equal the one-shot stored-index serve")
    assert(streamed.nonEmpty)
    // the store round-trip changes nothing vs training + encoding
    // inside the query (e06's shape, same params) — the persisted
    // model IS the in-query model
    import org.apache.spark.sql.functions.col
    val em = graft.sources.Tables.embeddings(spark, sfDir)
    val cents = graft.operators.Similarity.trainCentroids(em, "vec_id", "embedding", 16, 3)
    val books = graft.operators.Similarity.trainPqCodebooks(em, "vec_id", "embedding", 8, 16, 3)
    val inQuery = graft.operators.Similarity
      .pqKnnIvf(em, em.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
        cents, books, nProbe = 16, shortlist = Int.MaxValue)
      .collect().map(key).toSet
    assert(oneShot == inQuery, "stored-index results must equal the in-query-trained IVF-PQ")
  }

  test("streaming quality screen equals the one-shot LM scoring of the feed") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    val oneShot = graft.streaming.IngestQuality
      .oneShot(spark, sfDir).collect().map(key).toSet
    val streamed = graft.streaming.IngestQuality
      .run(spark, sfDir, s"${System.getProperty("java.io.tmpdir")}/graft_s09_spec")
      .collect().map(key).toSet
    assert(streamed == oneShot, "micro-batched LM scoring must equal the one-shot scores")
    assert(streamed.nonEmpty)
    // the planted OOV suffix token must hurt: a feed doc's score under
    // the corpus model sits below the corpus ceiling (ln P < 0 always),
    // and every scored feed doc saw at least one unseen bigram
    val scored = streamed.filter(_._3.isDefined)
    assert(scored.nonEmpty && scored.forall(_._3.get < 0.0))
  }

  test("streaming drift monitor equals the one-shot screen; the planted burst source fires") {
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4), r.getDouble(5))
    val oneShot = graft.streaming.IngestDrift
      .oneShot(spark, sfDir).collect().map(key).toSet
    val streamed = graft.streaming.IngestDrift
      .run(spark, sfDir, s"${System.getProperty("java.io.tmpdir")}/graft_s11_spec")
      .collect().map(key).toSet
    assert(streamed == oneShot,
      "per-batch drift vs the stored distribution must equal the one-shot screen")
    assert(streamed.map(_._1) == Set("feed_0", "feed_1", "feed_2", "feed_3"),
      "each staged source screens exactly once (a source never straddles a trigger)")
    // the feed_0 burst must fire: its KL strictly above every undrifted
    // source, and its top contributor is the burst token itself
    val bySrc = streamed.map(r => r._1 -> r).toMap
    val driftedKl = bySrc("feed_0")._4
    assert(Seq("feed_1", "feed_2", "feed_3").forall(s => bySrc(s)._4 < driftedKl),
      s"planted drift must dominate: $streamed")
    assert(bySrc("feed_0")._5 == "key", "the burst token is the top contributor")
  }

  test("streaming incremental packing equals the one-shot sequence pack") {
    import org.apache.spark.sql.functions.col
    val docs = graft.sources.Tables.documents(spark, sfDir)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val oneShot = graft.operators.Pack
      .sequences(docs, "doc_id", "text", seqTokens = 1024)
      .select("doc_id", "n_tokens", "tok_debut", "seq_debut", "seq_fin", "n_seqs")
      .collect().map(key).toSet
    val streamedRows = graft.streaming.IngestPack
      .run(spark, sfDir, s"${System.getProperty("java.io.tmpdir")}/graft_s07_spec")
      .select("doc_id", "n_tokens", "tok_debut", "seq_debut", "seq_fin", "n_seqs")
      .collect().map(key)
    val streamed = streamedRows.toSet
    assert(streamed == oneShot,
      "micro-batched packing must continue the stream exactly where the previous batch ended")
    // multiset check: a reprocessed batch appending duplicate rows
    // would survive the set compare — the LOG must equal the one-shot
    // output row for row, not merely its distinct rows
    assert(streamedRows.length == oneShot.size,
      s"packed log has ${streamedRows.length} rows for ${oneShot.size} docs — duplicate appends")
    assert(streamed.nonEmpty)
  }

  test("composed curate stream (s10) equals the one-shot dedup→quality→pack composition") {
    import org.apache.spark.sql.functions.col
    val wd = s"${System.getProperty("java.io.tmpdir")}/graft_s10_spec"
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
    val oneShot = graft.streaming.IngestCurate
      .oneShot(spark, sfDir, wd).collect().map(key).toSet
    val streamedRows = graft.streaming.IngestCurate
      .run(spark, sfDir, wd).collect().map(key)
    val streamed = streamedRows.toSet
    assert(streamed == oneShot,
      "micro-batched curation must emit exactly the one-shot composition")
    assert(streamedRows.length == oneShot.size, "no duplicate appends")
    assert(streamed.nonEmpty)
    // each stage must actually bite on this fixture: the feed is every
    // 50th doc (planted near-dups of their predecessors — most get
    // flagged by the dedup screen), and the median bar halves the rest
    val nFeed = graft.sources.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 50 === 0 && col("doc_id") > 0).count()
    assert(streamed.size < nFeed,
      s"the composed screens kept all $nFeed feed docs — nothing was screened")
  }

  test("ANN recall-drift monitor (s13): healthy lots above the floor, planted drift alarms; recall recomputed independently") {
    import org.apache.spark.sql.functions._
    val wd = s"${System.getProperty("java.io.tmpdir")}/graft_s13_spec"
    val drained = graft.streaming.IngestAnnDrift.run(spark, sfDir, wd)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getBoolean(4)))
      .sortBy(_._1)
    assert(drained.map(_._1).toSeq == Seq(0, 1, 2, 3), "one row per staged lot")
    assert(drained.forall(_._2 > 0), "every lot must sample at least one query")
    // healthy jittered lots serve their planted rank-1 truth reliably;
    // the drifted lot (frozen quantizer never saw the regime) alarms
    drained.filter(_._1 < 3).foreach { case (lot, _, _, rappel, alarme) =>
      assert(!alarme && rappel >= 0.8, s"healthy lot $lot under the floor: $rappel")
    }
    val (_, _, _, driftR, driftAlarm) = drained(3)
    assert(driftAlarm && driftR < 0.5, s"planted drift lot must alarm, saw $driftR")
    // the drained log equals the one-shot twin (per-lot independence)
    val oneShot = graft.streaming.IngestAnnDrift.oneShot(spark, sfDir, wd)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getDouble(3), r.getBoolean(4)))
      .sortBy(_._1)
    assert(oneShot.toSeq == drained.toSeq)
    // recompute one healthy lot's recall INDEPENDENTLY: served top-1 via
    // the stored index (library path) vs a hand-rolled brute top-1 over
    // base ∪ lot — the monitor's number must match exactly
    val em = graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val lot0 = graft.streaming.IngestAnnDrift.batchFeed(
      graft.sources.Tables.embeddings(spark, sfDir)).filter(col("lot") === 0)
    val sample = lot0.filter(pmod(col("vec_id"), lit(7L)) === 0)
      .select(col("vec_id"), col("embedding"))
    val corpus = em.unionByName(lot0.select(col("vec_id"), col("embedding")))
    val bruteTop1 = graft.operators.Similarity
      .bruteForceKnn(corpus, sample, "vec_id", "embedding", 1)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (cents, books) = graft.operators.AnnIndex.readModel(spark, s"$wd/index")
    val stored = graft.operators.AnnIndex.codes(spark, s"$wd/index")
    val coded = stored
      .select(col(stored.schema.fieldNames.head).as("neighbor_id"), col("cell"), col("codes"))
      .join(corpus.select(col("vec_id").as("neighbor_id")), Seq("neighbor_id"), "left_semi")
    val servedTop1 = graft.operators.Similarity
      .pqKnnIvfCoded(coded,
        corpus.select(col("vec_id").as("neighbor_id"),
          graft.functions.Vectors.toDouble(col("embedding")).as("v_c")),
        sample, "vec_id", "embedding", 1, cents, books, nProbe = 8, shortlist = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val independent =
      bruteTop1.count { case (q, n) => servedTop1.get(q).contains(n) }.toDouble / bruteTop1.size
    assert(math.abs(independent - drained(0)._4) < 1e-6,
      s"monitor recall ${drained(0)._4} != independent $independent")
  }

  test("watermark drops late events: out-of-order feed across micro-batches (append mode)") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.{window => fwindow}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[(java.sql.Timestamp, String, Double)]
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val agg = source.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "1 hour")
      .groupBy(fwindow(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("fenetre"), col("event_type"), col("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late_data_spec").start()
    // batch 1: events in hour 10; max event time 10:30 -> watermark 09:30
    source.addData((ts("2024-01-01 10:00:00"), "a", 1.0), (ts("2024-01-01 10:30:00"), "a", 1.0))
    q.processAllAvailable()
    // batch 2: advance time to 13:00 -> watermark 12:00, closing hour-10/11 windows
    source.addData((ts("2024-01-01 13:00:00"), "a", 1.0))
    q.processAllAvailable()
    // batch 3: a LATE event for hour 10 (before watermark 12:00) must be dropped,
    // an on-time event for hour 13 must be counted
    source.addData((ts("2024-01-01 10:45:00"), "a", 99.0), (ts("2024-01-01 13:10:00"), "a", 1.0))
    q.processAllAvailable()
    // batch 4: advance far enough to close the hour-13 window too
    source.addData((ts("2024-01-01 20:00:00"), "a", 1.0))
    q.processAllAvailable()
    val rows = spark.table("late_data_spec").collect()
      .map(r => r.getTimestamp(0).toString.substring(11, 13) -> r.getLong(2)).toMap
    q.stop()
    assert(rows("10") == 2L, s"hour-10 window must emit the 2 ON-TIME events only, got $rows")
    assert(rows("13") == 2L, s"hour-13 window counts both on-time events, got $rows")
  }

  test("mapGroupsWithState sessionization equals the batch LAG-window formulation") {
    val streamed = EventsStream
      .runToCompletion(EventsStream.sessionCounts(spark, sfDir), "streaming_spec_sessions", mode = "update")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    val batch = SparkEntry.queries("q24_sessionization")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("spark.graft.stream.statePartitions resizes state without changing results") {
    val default = EventsStream
      .runToCompletion(EventsStream.tumblingDaily(spark, sfDir), "streaming_spec_knob_a")
      .collect().map(_.toString).sorted
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.graft.stream.statePartitions", "3")
    try {
      val resized = EventsStream
        .runToCompletion(EventsStream.tumblingDaily(spark, sfDir), "streaming_spec_knob_b")
        .collect().map(_.toString).sorted
      assert(resized.sameElements(default))
    } finally spark.conf.unset("spark.graft.stream.statePartitions")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == prevShuffle,
      "drain must restore the session shuffle-partitions setting")
  }

  test("streaming decontamination screen (s15) equals the one-shot d16 screen over the feed") {
    import org.apache.spark.sql.functions._
    // the served frame is unsorted (only the relational cells order
    // their rows — the gate hashes sorted rows); equality here is over
    // CONTENT, so sort the collected side by the key
    val res = SparkEntry.queries("s15_stream_decon")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1)
    val docs = Tables.documents(spark, sfDir)
    val isEval = col("doc_id") % 50 === 0 && col("doc_id") > 0
    val oneShot = graft.operators.Decontaminate
      .ngramOverlap(docs.filter(!isEval), docs.filter(isEval), "doc_id", "text", n = 3)
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(res.toSeq == oneShot.toSeq,
      "the drained per-doc report must equal the one-shot screen row-for-row")
    assert(res.exists(_._4), "fixture must flag contaminated docs")
    assert(res.exists(!_._4), "fixture must keep clean docs unflagged")
  }

  test("streaming classifier screen (s16) equals the one-shot d24 scoring under the stored weights") {
    import org.apache.spark.sql.functions._
    // served frame unsorted (no presentation sort) — sort the
    // collected side; the assertion is content equality
    val res = SparkEntry.queries("s16_stream_classify")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
      .sortBy(_._1)
    val docs = Tables.documents(spark, sfDir)
    val label = expr("CAST(substring(source, 4, 8) AS INT) < 10")
    val model = graft.operators.QualityClassifier.train(docs, "text", label)
    val oneShot = docs
      .select(col("doc_id"),
        round(model.score(col("text")), 6).as("score"),
        (round(model.score(col("text")), 6) > 0).as("classe"))
      .orderBy(col("doc_id"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2)))
    assert(res.toSeq == oneShot.toSeq,
      "the drained verdicts must equal the one-shot scoring row-for-row")
    assert(res.exists(_._3) && res.exists(!_._3),
      "fixture must produce both classes")
  }

  test("id-shard stream (s14): drained slices assemble to the ONE-SHOT pack under the stored tokenizer") {
    import org.apache.spark.sql.functions._
    val wd = graft.queries.PipelineQueries.s14WorkDir(sfDir)
    // drain (run self-setups: stages the feed + publishes the tokenizer)
    val res = SparkEntry.queries("s14_stream_idshards")(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(res.nonEmpty)
    // the gate's own claim, recomputed here without the oracle: every
    // doc's decoded reassembly equals its whitespace-normalized text md5
    val expected = Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        md5(concat_ws(" ", graft.functions.Text.tokens(col("text")))).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(res == expected, "every doc must decode from the drained slice log")
    // SEQUENCE-grain equality with the one-shot pack under the SAME
    // stored model: a sequence straddling a batch boundary must splice
    // from slices of different batches into exactly the one-shot cut
    val model = graft.functions.Bpe.readModel(spark, s"$wd/tokenizer")
    val idc = graft.functions.Bpe.idCodec(model)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0),
        r.getSeq[Int](1).mkString(","),
        r.getSeq[org.apache.spark.sql.Row](2).map(d =>
          (d.getLong(0), d.getInt(1), d.getInt(2))).mkString(";"))
    val oneShot = graft.operators.Pack.packedSequencesTokens(
      Tables.documents(spark, sfDir).select(col("doc_id"),
        org.apache.spark.sql.graft.TextExpr
          .bpeEncodeIdStream(graft.functions.Text.tokens(col("text")), idc).as("ids")),
      "doc_id", "ids", graft.streaming.IngestIdShards.SeqTokens)
      .collect().map(key).toSet
    val streamedRows = graft.streaming.IngestIdShards.sequences(spark, wd).collect().map(key)
    assert(streamedRows.toSet == oneShot,
      "micro-batched id packing must splice boundary sequences exactly as the one-shot pack")
    assert(streamedRows.length == oneShot.size, "no duplicate appends")
    // the equality above only PROVES splicing if a batch boundary
    // actually lands mid-sequence — assert it does: some batch-prefix
    // cumulative id total is not a multiple of the budget, so the next
    // batch's first slices continue an OPEN sequence
    val feedParts = new java.io.File(s"$wd/feed").listFiles()
      .filter(f => f.getName.startsWith("part-")).map(_.getPath).sorted
    val batchTotals = feedParts.map { p =>
      spark.read.parquet(p)
        .select(org.apache.spark.sql.graft.TextExpr
          .bpeEncodeIdStream(graft.functions.Text.tokens(col("text")), idc).as("ids"))
        .agg(coalesce(sum(size(col("ids"))), lit(0))).collect()(0).getLong(0)
    }
    val straddles = batchTotals.scanLeft(0L)(_ + _).tail.init
      .exists(_ % graft.streaming.IngestIdShards.SeqTokens != 0)
    assert(straddles, "fixture must exercise a mid-sequence batch boundary")
    // finalize composition: closed whole shards move to immutable
    // files, the log trims to the open tail — and the trainer's view
    // (store ∪ tail) is STILL exactly the drained sequence set
    val fin = graft.streaming.IngestIdShards.finalizeLog(spark, wd)
    assert(fin.newShards > 0, "the drained log must close at least one whole shard")
    val afterFinalize = graft.streaming.IngestIdShards
      .storeAndTailSequences(spark, wd).collect().map(key)
    assert(afterFinalize.toSet == oneShot && afterFinalize.length == oneShot.size,
      "finalize must preserve the sequence set exactly (store ∪ tail == drained)")
  }
}
