package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.storage.StorageLevel

import graft.etl.{Star, Validate}
import graft.functions.{Bpe, Text, Vectors}
import graft.operators.{Dedup, Pack, Similarity, Surrogate, Upsert}
import graft.sources.{ScanStats, Tables}

/** The traced run's direct calls into each module's public functions, each
  * timed as a span with the jobs and shuffle bytes it caused. Every call
  * runs `Reps` times after one untimed call, and the metric is the median
  * (with two timed calls, their mean); the etl04 stream runs once.
  */
object Layers {
  final case class Result(metrics: Seq[(String, Double, String)], detail: Seq[(String, Any)])

  private val Reps = 2
  /** Rows each kernel evaluates per timed call. */
  private val KernelRows = 5000

  def run(spark: SparkSession, data: String, meter: Meter, parent: Long): Result = {
    val sc = spark.sparkContext
    val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]
    val detail = mutable.ArrayBuffer.empty[(String, Any)]
    meter.tracing = true

    var lastCounts = new Counts

    /** Median seconds of `f` over `reps` timed calls, after one untimed call
      * when `warm`; records a span per timed call.
      */
    def probe(name: String, reps: Int = Reps, warm: Boolean = true)(f: => Unit): Double = {
      if (warm) f
      val walls = (1 to reps).map { _ =>
        val span = meter.newId()
        meter.cellSpan = span
        org.apache.spark.graft.ShuffleMeter.drain(sc)
        meter.take()
        val startMs = System.currentTimeMillis()
        val t = System.nanoTime()
        f
        val wall = (System.nanoTime() - t) / 1e9
        org.apache.spark.graft.ShuffleMeter.drain(sc)
        val c = meter.take()
        meter.addSpan(Span(span, parent, span, "layer", name, startMs, startMs + wall * 1e3))
        (wall, c)
      }
      lastCounts = walls.last._2
      detail += name -> Json.obj("wall_s" -> walls.map(_._1),
        "counts" -> Json.obj(lastCounts.fields: _*))
      Stats.median(walls.map(_._1))
    }
    def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
    def timed(name: String)(f: => Unit): Unit = metrics += ((name, probe(name)(f), "s"))

    // sources: one table scan into noop; footer statistics without a job
    for (t <- Seq("lineitem", "orders", "events", "documents", "embeddings"))
      timed(s"sources.scan_s.$t")(noop(t match {
        case "events" => Tables.events(spark, data)
        case other => Tables.table(spark, data, other)
      }))
    timed("sources.footer_stats_s")(ScanStats.maxLongNoJob(Tables.documents(spark, data), "doc_id"))
    metrics += (("sources.footer_stats_jobs", lastCounts.jobs.toDouble, "count"))

    // kernels: each custom expression over a fixed, cached row set
    val docs = Tables.documents(spark, data).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, data).select(col("embedding"))
    def rows(df: DataFrame): DataFrame = {
      val reps = math.ceil(KernelRows.toDouble / df.count()).toLong
      val r = df.crossJoin(spark.range(reps).toDF("rep")).limit(KernelRows)
        .persist(StorageLevel.MEMORY_ONLY)
      require(r.count() == KernelRows, "kernel input short")
      r
    }
    val text = rows(docs.select(col("text"), Text.tokens(col("text")).as("toks")))
    val vecs = rows(emb)
    val bpe = Bpe.train(docs, "text", numMerges = 256, topWords = 20000)
    def kernel(name: String, in: DataFrame, k: Column): Unit =
      metrics += ((s"kernels.$name.ns_per_row",
        probe(s"kernels.$name")(noop(in.select(k.as("k")))) * 1e9 / KernelRows, "ns"))
    kernel("baseline", text, col("toks"))
    kernel("minhash_signature", text, Text.minhashSignature(col("toks"), 3, 64))
    kernel("simhash64", text, Text.simhash64(col("toks")))
    kernel("shingles", text, Text.shingles(col("text"), 3))
    kernel("winnow_fingerprint", text, Text.winnowFingerprint(col("toks"), 5, 4))
    kernel("pii_scrub", text, Text.piiScrub(col("text")))
    kernel("quality_score", text, Text.qualityScore(col("text")))
    kernel("lang_guess", text, Text.langGuess(col("text")))
    kernel("cosine", vecs, Vectors.cosine(col("embedding"), col("embedding")))
    kernel("hyperplane_buckets", vecs, Vectors.hyperplaneBuckets(col("embedding"), 8, 4))
    kernel("bpe_encode", text, Bpe.encodeIds(bpe, col("text")))
    text.unpersist(blocking = true)
    vecs.unpersist(blocking = true)

    // operators: one direct call each, into noop
    val em = Tables.embeddings(spark, data)
    val books = Similarity.trainPqCodebooks(em, "vec_id", "embedding", m = 8, codes = 16, iters = 3)
    val orders = Tables.orders(spark, data)
    val customer = Tables.customer(spark, data)
    timed("operators.dedup.minhash_lsh_s")(noop(Dedup.minhashLsh(docs, "doc_id", "text",
      shingleN = 3, k = 64, bands = 32, threshold = 0.5)))
    timed("operators.dedup.span_dedup_s")(noop(Dedup.spanDedup(docs, "doc_id", "text",
      gramTokens = 8)))
    timed("operators.pack.sequences_s")(noop(Pack.sequences(docs, "doc_id", "text",
      seqTokens = 1024)))
    timed("operators.similarity.pq_knn_s")(noop(Similarity.pqKnn(em,
      em.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, books,
      shortlist = Int.MaxValue)))
    timed("operators.upsert.merge_s")(noop(Upsert.merge(
      orders.filter(pmod(col("o_orderkey"), lit(3)) =!= 0),
      orders.filter(pmod(col("o_orderkey"), lit(2)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 10.0),
      Seq("o_orderkey"))))
    timed("operators.surrogate.dense_id_s")(noop(Surrogate.denseId(
      customer.select(col("c_custkey"), col("c_name")), "client_key", Seq(col("c_name")))))

    // etl: the star schema builders and the constraint report
    def dimCustomer = Star.dimCustomer(customer, Tables.nation(spark, data),
      Tables.region(spark, data))
    val lineitem = Tables.lineitem(spark, data)
    timed("etl.star.dim_customer_s")(noop(dimCustomer))
    timed("etl.star.fact_orders_s")(noop(Star.factOrders(orders, dimCustomer)))
    timed("etl.validate.report_s")(noop(Validate.summary(
      Validate.rowReport(orders,
        Validate.RowRule("o_totalprice_check", col("o_totalprice") >= 0) +:
          Validate.inSet("o_orderstatus", Seq("F", "O", "P")) +:
          Validate.notNull("o_orderdate")),
      Validate.rowReport(lineitem, Seq(Validate.inRange("l_quantity", 1, 25))),
      Validate.primaryKeyReport(orders, "pk_orders", Seq("o_orderkey")),
      Validate.foreignKeyReport(lineitem, Seq("l_orderkey"), orders, Seq("o_orderkey"),
        "fk_lineitem_orders"))))

    // streaming: micro-batches of one etl04 run (the incremental MERGE loader)
    val tf = System.nanoTime()
    graft.queries.WarehouseQueries.etl04Setup(spark, data)
    metrics += (("engine.fixture_s", (System.nanoTime() - tf) / 1e9, "s"))
    val batchMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        Option(e.progress.durationMs.get("triggerExecution")).foreach(batchMs.add)
    }
    spark.streams.addListener(listener)
    val etl04 = graft.SparkEntry.queries.keys.find(_.startsWith("etl04_")).get
    probe("streaming.etl04", reps = 1, warm = false)(
      noop(graft.SparkEntry.queries(etl04)(spark, data)))
    org.apache.spark.graft.ShuffleMeter.drain(sc)
    spark.streams.removeListener(listener)
    val batches = batchMs.toArray.map(_.asInstanceOf[java.lang.Long].toDouble / 1e3).toSeq
    metrics += (("streaming.batches", batches.size.toDouble, "count"))
    metrics += (("streaming.batch_p50_s", Stats.median(batches), "s"))

    meter.tracing = false
    Result(metrics.toSeq, detail.toSeq)
  }
}
