package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum, to_json, xxhash64}
import org.apache.spark.sql.types.{DecimalType, MapType}

/** Closed-loop catalog benchmark: one client, no think time. Each round
  * runs every cell of the workload once, in an order the seed permutes,
  * through `graft.SparkEntry.queries` into a `noop` sink.
  *
  * An untraced run makes three epochs. Each epoch starts a session with a
  * fresh temporary directory and runs one untimed warm round that also checks
  * every cell's output; `setup_s` is the median of the three. Each epoch then
  * times whole rounds until a third of `--seconds` has passed, at least one.
  * A traced run makes one epoch whose timed rounds alternate untraced and
  * traced, then probes each module with direct calls.
  *
  * Usage: Harness --workload <name> --seed <n> --seconds <n> --trace <0|1>
  *   --data <sf dir> --scratch <dir> --out <result.json>
  *   [--reference <reference.json>] [--observe <observed.json>] [--cores <n>]
  */
object Harness {

  /** Cell-name prefixes of each workload, sized so that the benchmark's full
    * schedule of runs fits its time budget (perfbench/README.md says why).
    */
  val workloads: Map[String, Seq[String]] = Map(
    "dashboard" -> Seq("q02", "q21", "q26", "q30"),
    "curation" -> Seq("d23", "d30", "e05"),
    "refresh" -> Seq("etl03", "etl05", "u01", "io01"))

  /** One timed execution of one cell. */
  final case class Sample(cell: String, round: Int, traced: Boolean, wallS: Double,
      error: Option[String], counts: Counts, idleS: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val prefixes = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val data = new File(need("data")).getAbsolutePath
    val scratch = new File(need("scratch"))
    val cores = opt.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val observe = opt.get("observe")
    val reference = opt.get("reference").map(Reference.load).getOrElse(Map.empty)

    val catalog = graft.SparkEntry.queries
    val cells = prefixes.map { p =>
      val hits = catalog.keys.filter(_.startsWith(p + "_")).toSeq
      require(hits.size == 1, s"cell prefix $p matches ${hits.mkString(", ")}")
      hits.head
    }
    val epochs = if (traced) 1 else 3

    val meter = new Meter
    val samples = mutable.ArrayBuffer.empty[Sample]
    val setupS = mutable.ArrayBuffer.empty[Double]
    val sessionS = mutable.ArrayBuffer.empty[Double]
    val warmS = mutable.ArrayBuffer.empty[Double]
    val badOutput = mutable.Set.empty[String]
    val observed = mutable.LinkedHashMap.empty[String, (Long, String)]
    var heapMb = 0.0
    var round = 0
    var layers: Layers.Result = Layers.Result(Nil, Nil)
    val runSpan = meter.newId()
    val runStartMs = System.currentTimeMillis().toDouble
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    for (epoch <- 0 until epochs) {
      val epochStartMs = if (epoch == 0) jvmStartMs else System.currentTimeMillis()
      // cell fixtures and outputs live under java.io.tmpdir: a fresh
      // directory per epoch means no epoch reuses another's files
      val fixtureDir = new File(scratch, s"epoch$epoch")
      fixtureDir.mkdirs()
      System.setProperty("java.io.tmpdir", fixtureDir.getAbsolutePath)

      val t0 = System.nanoTime()
      val spark = graft.engine.Session.local(cores)
      sessionS += (System.nanoTime() - t0) / 1e9
      val sc = spark.sparkContext
      sc.addSparkListener(meter)
      if (traced) spark.listenerManager.register(meter)
      def drain(): Unit = org.apache.spark.graft.ShuffleMeter.drain(sc)
      def order(round: Int): Seq[String] =
        new scala.util.Random(seed * 1000003L + epoch * 1009L + round).shuffle(cells)

      // warm round: absorbs each cell's first run after setup and checks
      // its output (row count + order-independent content hash)
      val tw = System.nanoTime()
      for (cell <- order(0)) {
        val tc = System.nanoTime()
        val got = try Some(fingerprint(catalog(cell)(spark, data))) catch {
          case t: Throwable => System.err.println(s"[perfbench] $cell warm round failed: $t"); None
        }
        System.err.println(f"[perfbench] epoch $epoch warm $cell ${(System.nanoTime() - tc) / 1e9}%.3f s")
        got.foreach(g => if (epoch == 0) observed(cell) = g)
        if (observe.isEmpty && !got.exists(Reference.matches(reference, cell, _))) {
          System.err.println(s"[perfbench] OUTPUT MISMATCH $cell: got $got, " +
            s"reference ${reference.get(cell)}")
          badOutput += cell
        }
      }
      warmS += (System.nanoTime() - tw) / 1e9
      drain()
      meter.take()
      setupS += (System.currentTimeMillis() - epochStartMs) / 1e3

      // The JVM's second round still runs about a quarter slower than later
      // ones while the JIT compiles, so the first epoch runs one more untimed
      // round. Timed rounds are spread over the epochs: a slow spell of the
      // machine shorter than the run then reaches one of them, not the median.
      // Traced runs alternate untraced and traced rounds in ABBA order, so
      // warm-up that still drifts does not bias the overhead.
      if (epoch == 0) for (cell <- order(-1)) {
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        // a cell that throws here throws again, and fails, in its timed round
        try catalog(cell)(spark, data).write.mode("overwrite").format("noop").save()
        catch { case _: Exception => () }
      }
      drain()
      meter.take()
      val te = System.nanoTime()
      val minRounds = if (traced) 4 else 1
      val firstRound = round + 1
      while (round < firstRound + minRounds - 1 ||
          (System.nanoTime() - te) / 1e9 < seconds / epochs) {
        round += 1
        val tracedRound = traced && (round % 4 == 2 || round % 4 == 3)
        meter.tracing = tracedRound
        val roundSpan = meter.newId()
        val roundStart = System.currentTimeMillis().toDouble
        for (cell <- order(round)) {
          sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
          val span = meter.newId()
          meter.cellSpan = span
          val startMs = System.currentTimeMillis()
          val ts = System.nanoTime()
          val error = try {
            catalog(cell)(spark, data).write.mode("overwrite").format("noop").save()
            None
          } catch { case t: Throwable => Some(t.toString) }
          val wall = (System.nanoTime() - ts) / 1e9
          val endMs = startMs + wall * 1e3
          drain()
          val c = meter.take()
          System.err.println(f"[perfbench] epoch $epoch round $round $cell $wall%.3f s, " +
            s"${c.jobs} jobs, ${c.sqlExecs} SQL executions")
          error.foreach(e => System.err.println(s"[perfbench] $cell failed: $e"))
          val idle = if (tracedRound) wall - covered(c.taskIntervals.toSeq, startMs, endMs) else 0.0
          if (tracedRound) meter.addSpan(Span(span, roundSpan, span, "cell", cell, startMs, endMs))
          samples += Sample(cell, round, tracedRound, wall, error, c, idle)
        }
        if (tracedRound) meter.addSpan(Span(roundSpan, runSpan, roundSpan, "round",
          s"epoch $epoch round $round", roundStart, System.currentTimeMillis().toDouble))
      }
      meter.tracing = false

      if (epoch == epochs - 1) {
        sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        System.gc(); System.gc()
        val rt = Runtime.getRuntime
        heapMb = (rt.totalMemory() - rt.freeMemory()) / 1048576.0
      }
      if (traced) layers = Layers.run(spark, data, meter, runSpan)
      spark.stop()
      deleteTree(fixtureDir)
    }

    observe.foreach(path => Reference.write(path, observed))

    // work identity: every timed round of a cell must have done the same
    // work, or the rounds timed different things
    val identityBad = samples.groupBy(_.cell).collect {
      case (cell, ss) if ss.forall(_.error.isEmpty) && {
        val base = ss.head.counts
        ss.exists(s => s.counts.jobs != base.jobs || s.counts.sqlExecs != base.sqlExecs ||
          !bytesMatch(base.shuffleWriteBytes, s.counts.shuffleWriteBytes))
      } =>
        System.err.println(s"[perfbench] WORK IDENTITY MISMATCH $cell: " + ss.map(s =>
          s"(jobs=${s.counts.jobs} execs=${s.counts.sqlExecs} " +
            s"shuffle_write=${s.counts.shuffleWriteBytes})").mkString(" "))
        cell
    }.toSet
    def failed(s: Sample) = s.error.nonEmpty || badOutput(s.cell) || identityBad(s.cell)
    val nFailed = samples.count(failed)

    val rounds: Seq[Seq[Sample]] = samples.toSeq.groupBy(_.round).values.toSeq
    def roundWall(r: Seq[Sample]) = r.map(_.wallS).sum
    val endToEnd = Seq[(String, Double, String)](
      ("setup_s", Stats.median(setupS.toSeq), "s"),
      ("round_s", Stats.median(rounds.filterNot(_.head.traced).map(roundWall)), "s"),
      ("cell_p50_s", Stats.median(samples.map(_.wallS).toSeq), "s"))

    val perLayer: Seq[(String, Double, String)] = if (!traced) Nil else {
      val tr = rounds.filter(_.head.traced)
      val untr = rounds.filterNot(_.head.traced)
      def perRound(f: Seq[Sample] => Double) = Stats.median(tr.map(f))
      val queryFields = samples.head.counts.fields.map(_._1)
      val units = Map("jobs" -> "count", "stages" -> "count", "tasks" -> "count",
        "sql_execs" -> "count", "input_records" -> "count", "output_records" -> "count")
      queryFields.map { k =>
        (s"queries.$k", perRound(_.map(_.counts.fields.toMap.apply(k)).sum),
          units.getOrElse(k, if (k.endsWith("_bytes")) "bytes" else "s"))
      } ++ Seq(
        ("queries.executor_idle_s", perRound(_.map(_.idleS).sum), "s"),
        ("queries.busy_frac",
          perRound(r => r.map(_.counts.taskRunMs).sum / 1e3 / (roundWall(r) * cores)), "ratio"),
        ("engine.session_start_s", sessionS.head, "s"),
        ("engine.warm_round_s", warmS.head, "s"),
        ("engine.retained_heap_mb", heapMb, "MB"),
        ("failed_frac", nFailed.toDouble / samples.size, "ratio"),
        ("trace_overhead_frac",
          Stats.median(tr.map(roundWall)) / Stats.median(untr.map(roundWall)) - 1, "ratio")
      ) ++ layers.metrics
    }

    meter.addSpan(Span(runSpan, 0, runSpan, "workload", workload, runStartMs,
      System.currentTimeMillis().toDouble))
    val metrics = if (traced) perLayer else endToEnd
    val cellDetail = samples.groupBy(_.cell).toSeq.sortBy(_._1).map { case (cell, ss) =>
      cell -> Json.obj(
        "wall_s" -> ss.map(_.wallS),
        "failed" -> ss.count(failed),
        "counts" -> Json.obj(ss.head.counts.fields: _*))
    }
    val result = Json.obj(
      "correct" -> (nFailed == 0),
      "attempted" -> samples.size,
      "failed" -> nFailed,
      "metrics" -> Json.obj(metrics.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }: _*),
      "detail" -> Json.obj(
        "workload" -> workload, "seed" -> seed, "trace" -> traced, "cores" -> cores,
        "epochs" -> epochs, "rounds" -> rounds.size, "setup_s" -> setupS.toSeq,
        "session_start_s" -> sessionS.toSeq, "warm_round_s" -> warmS.toSeq,
        "rows_only" -> cells.filter(c => reference.get(c).exists(_._2.isEmpty)),
        "output_mismatch" -> badOutput.toSeq.sorted,
        "identity_mismatch" -> identityBad.toSeq.sorted,
        "cells" -> Json.obj(cellDetail: _*),
        "layers" -> Json.obj(layers.detail: _*),
        "spans" -> (if (traced) meter.allSpans.sortBy(_.id).map(s => Json.obj(
          "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "kind" -> s.kind,
          "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)) else Nil)))
    java.nio.file.Files.writeString(new File(need("out")).toPath, Json.render(result))
  }

  /** Bench's `bytesMatch` band: within ±0.5 % (at least one byte). */
  def bytesMatch(base: Long, cur: Long): Boolean = math.abs(cur - base) <= math.max(1L, base / 200)

  /** Row count and order-independent content hash: the sum over rows of
    * xxhash64 across all columns (maps as JSON, which xxhash64 refuses).
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.schema.fields.indices.map { i =>
      val c = col(s"c$i")
      if (df.schema.fields(i).dataType.isInstanceOf[MapType]) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val row = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
      .agg(count(lit(1)), sum(h.cast(DecimalType(20, 0))))
      .head()
    (row.getLong(0), Option(row.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  /** Seconds of [startMs, endMs] covered by at least one interval. */
  def covered(intervals: Seq[(Long, Long)], startMs: Long, endMs: Double): Double = {
    var total = 0.0
    var reach = startMs.toDouble
    for ((s, e) <- intervals.sortBy(_._1)) {
      val lo = math.max(s.toDouble, reach)
      val hi = math.min(e.toDouble, endMs)
      if (hi > lo) { total += hi - lo; reach = hi }
    }
    total / 1e3
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Committed per-cell output reference: row count, and the content hash
  * unless the cell's hash is not stable across runs (then `null`: rows only).
  */
object Reference {
  def load(path: String): Map[String, (Long, Option[String])] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new File(path))
    val it = root.get("cells").fields()
    val b = Map.newBuilder[String, (Long, Option[String])]
    while (it.hasNext) {
      val e = it.next()
      val h = e.getValue.get("hash")
      b += e.getKey -> (e.getValue.get("rows").asLong(),
        if (h == null || h.isNull) None else Some(h.asText()))
    }
    b.result()
  }

  def matches(ref: Map[String, (Long, Option[String])], cell: String, got: (Long, String)): Boolean =
    ref.get(cell).exists { case (rows, hash) => rows == got._1 && hash.forall(_ == got._2) }

  def write(path: String, observed: collection.Map[String, (Long, String)]): Unit =
    java.nio.file.Files.writeString(new File(path).toPath, Json.render(Json.obj("cells" ->
      Json.obj(observed.toSeq.sortBy(_._1).map { case (c, (rows, hash)) =>
        c -> Json.obj("rows" -> rows, "hash" -> hash) }: _*))))
}

/** Minimal JSON rendering for the result file. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => quote(k) + ": " + render(x) }.mkString("{", ", ", "}")
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
