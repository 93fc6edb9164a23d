package graft
import org.apache.spark.sql.SparkSession
import graft.queries.Q
object Bench {

  /** Fixed probe kernel: 200M xxhash64 + a 512-key shuffle — pure
    * compute+exchange, no IO, so its runtime tracks how much CPU the
    * machine is actually giving this JVM. Quiet-machine expectation is
    * PROBE_EXPECTED (env-overridable); the ratio scales the budgets so
    * a contended machine doesn't fail a round with zero code delta
    * (exactly what BENCH_r07 did: ~2.5-3× uniform inflation across
    * thirty untouched queries).
    */
  private def probe(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(0, 200000000L, 1, spark.sparkContext.defaultParallelism)
      .select(xxhash64(col("id")).as("h"))
      .groupBy(pmod(col("h"), lit(512)).as("k")).count()
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** IO/decode companion probe: a fixed synthetic parquet (written once
    * per machine, untimed) scanned + aggregated. The hash probe alone
    * under-corrects on machines whose parquet decode / page-cache /
    * shuffle-spill path is slower RELATIVE to raw CPU than the
    * build machine's (observed in round 11: probe ratio 1.27 while the
    * whole catalog uniformly ran ~1.7×): the catalog is scan-shaped,
    * so calibration needs a scan-shaped kernel too. No graft code in
    * the kernel — a regression in our operators must never loosen the
    * budgets that exist to catch it.
    */
  /** Bump when the fixture definition below changes: the cache marker
    * carries it, so a machine holding last round's fixture re-writes
    * instead of silently timing the wrong workload (the ingest-setup
    * fingerprint convention).
    */
  private val ioProbeFormat = "ioprobe-8m-xxh-md5-v1"

  private def probeIo(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val dir = graft.engine.Fixture.tmp("bench_ioprobe")
    graft.engine.Fixture.once(spark, dir, ioProbeFormat) {
      spark.range(0, 8000000L, 1, 32)
        .select(col("id"), xxhash64(col("id")).as("h"),
          md5(col("id").cast("string")).as("s"))
        .write.mode("overwrite").parquet(dir)
    }
    val t0 = System.nanoTime()
    spark.read.parquet(dir)
      .filter(pmod(col("h"), lit(7)) =!= 0)
      .groupBy(pmod(col("h"), lit(1024)).as("k"))
      .agg(count(lit(1)).as("n"), max(col("s")).as("m"))
      .write.mode("overwrite").format("noop").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** The committed quiet-box baseline (tools/bench_baseline.json — a
    * round-end quiet BENCH_LOCAL snapshot, refreshed whenever the
    * catalog or a cell's plan changes). Used ONLY for the TOTAL
    * re-adjudication: shuffle bytes identify a cell's plan, so a slow
    * cell whose bytes equal the quiet baseline's exactly is box
    * phasing, not regression — eligible for one isolated re-run.
    * Absent/unreadable baseline ⇒ no re-adjudication (the strict
    * pre-r19 behavior).
    */
  private def readBaseline(): Option[(Map[String, Double], Map[String, Long])] = try {
    // cwd-relative or SPARK_GRAFT_BENCH_BASELINE only — no absolute
    // fallback: a hardcoded repo path silently adjudicated a run from
    // another checkout against a FOREIGN repo's baseline (r19 ADVICE).
    // Absent baseline ⇒ no re-adjudication, the strict pre-r19 behavior.
    val path = sys.env.getOrElse("SPARK_GRAFT_BENCH_BASELINE", "tools/bench_baseline.json")
    val f = new java.io.File(path)
    if (!f.exists()) None
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(f)
      def field[T](name: String, get: com.fasterxml.jackson.databind.JsonNode => T)
          : Map[String, T] = Option(root.get(name)) match {
        case None => Map.empty
        case Some(node) =>
          val it = node.fields()
          val b = Map.newBuilder[String, T]
          while (it.hasNext) { val e = it.next(); b += e.getKey -> get(e.getValue) }
          b.result()
      }
      Some((field("queries", _.asDouble()), field("shuffle_write_bytes", _.asLong())))
    }
  } catch { case _: Throwable => None }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Session.fromEnv()
    Harness.warmUp(spark, sfDir)
    // every cell's declared load-phase setup (published stores, staged
    // feeds — the TPC-style load phase, standing in for artifacts that
    // arrive on their own in production), untimed, before the probe: the
    // measured cell is the serve / per-batch / maintenance path itself.
    // A setup that throws fails every cell that declares it.
    val cells = SparkEntry.cells
    val setupErrors = Harness.setUp(spark, sfDir, cells)
    // environment calibration (each probe twice, min — the first may
    // carry JIT). CPU probe: 0.48 s measured quiet on the round-10
    // machine; expected 0.50 keeps a sliver of headroom for same-
    // machine jitter without eating a real cross-machine gap (the old
    // 0.55 under-corrected a uniformly 1.7×-slower round-11 VM to
    // 1.27×). IO probe: expected pegged to the same round-10 reference
    // through the q23/q01 scan-shape cross-machine ratio (~1.6×) from
    // the round-11 quiet measurement of the kernel. The final scale is
    // the WORSE of the two ratios — the catalog pays whichever
    // resource the machine is shortest on.
    val probeExpected = sys.env.getOrElse("SPARK_GRAFT_PROBE_EXPECTED", "0.50").toDouble
    val probeIoExpected = sys.env.getOrElse("SPARK_GRAFT_IOPROBE_EXPECTED", "0.65").toDouble
    def scaleFrom(p: Double, pio: Double): Double = math.max(
      if (p > 0) math.max(1.0, p / probeExpected) else 1.0,
      if (pio > 0) math.max(1.0, pio / probeIoExpected) else 1.0)
    // one calibration POINT: block-manager hygiene first (pinned state
    // from catalog cells would slow the kernels and LOOSEN the budgets —
    // the no-graft-code-in-the-kernel guarantee), then each kernel
    // twice, min (a one-shot spike must not loosen the budget either)
    def probePoint(): (Double, Double) = {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      val p = try math.min(probe(spark), probe(spark)) catch { case _: Throwable => -1.0 }
      val pio = try math.min(probeIo(spark), probeIo(spark)) catch { case _: Throwable => -1.0 }
      (p, pio)
    }
    val (probeSec, probeIoSec) = probePoint()

    // negative control for the TOTAL re-adjudication (the z99
    // convention): a planted per-cell driver stall inflates every
    // cell's TIME with bytes unchanged — the same-plan-regression
    // class the byte-identical re-run must NOT excuse. The plant
    // rides INSIDE the timed frame, so re-adjudication re-runs carry it
    // too: min(run, retry) stays slow and the gate must still exit 1.
    // Never set outside the control. (Parsed defensively: a typo'd
    // value must not crash the whole run.)
    val plantMs = sys.env.get("SPARK_GRAFT_PLANT_CELL_MS")
      .flatMap(s => scala.util.Try(s.toLong).toOption)
      .filter(_ > 0)
    // shuffle bytes are metered per cell: bytes are box-independent and
    // rep-stable, so a driver-round bench cell can be adjudicated
    // WITHOUT a quiet box — the r13 q-tier episode (nine contiguous
    // cells 2-8× inflated, zero regressions) needed external min-of-3
    // reruns because the bench only recorded seconds.
    def time(q: Q): Harness.CellRun = {
      val run = Harness.runCell(spark,
        { plantMs.foreach(Thread.sleep); q.run(spark, sfDir) },
        setupErrors.get(q.name))
      run.error.foreach(t => System.err.println(s"BENCH FAIL ${q.name}: $t"))
      run
    }

    // MID-RUN recalibration (r18 verdict ask #1a): the start/end probes
    // sample two instants, and three consecutive rounds shipped red
    // official artifacts where byte-identical cells ran 2-11× their
    // quiet twins MID-pass while both endpoint probes read near-quiet
    // (r18: d05 6.94 s official vs 0.59 s quiet, probes 0.54/0.54).
    // Sample a full calibration point every ProbeEvery cells: the scale
    // is the WORST point seen, so sustained mid-run phasing raises the
    // budget the way a slow machine would — while a genuinely quiet run
    // is unaffected (all points agree) and a regression in OUR code can
    // never loosen the budget because no graft code runs in the kernels
    // (each point is min-of-two, so a one-shot spike can't either).
    val ProbeEvery = 16
    val ordered = cells.sortBy(_.name)
    val probeMid = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val firstPass = ordered.zipWithIndex.map { case (q, i) =>
      val run = time(q)
      if ((i + 1) % ProbeEvery == 0 && i + 1 < ordered.size) probeMid += probePoint()
      (q, run)
    }
    // END-OF-RUN point: same rationale, closes the last window
    val (probeEndSec, probeIoEndSec) = probePoint()
    val scale =
      (Seq((probeSec, probeIoSec), (probeEndSec, probeIoEndSec)) ++ probeMid)
        .map { case (p, pio) => scaleFrom(p, pio) }.max
    // Budget gate (BASELINE.md): a budget-busting bench must fail LOUDLY
    // (exit 1) instead of shipping inside a green round — the q28
    // regression in round 5 shipped exactly because nothing enforced
    // this. Budgets are env-overridable for other SFs/machines, and
    // probe-scaled for machine contention.
    val perQueryBudget = sys.env.getOrElse("SPARK_GRAFT_BUDGET_QUERY", "6.0").toDouble * scale
    // PER-CLASS TOTAL budget (r18 verdict ask #6; derivation + measured
    // marginals in SCALE.md "Per-class budget model"): the old flat
    // 95/90 ≈ 1.056 s/cell rate under-priced every composed cell
    // (measured quiet marginal 2-5 s: store maintenance, streaming
    // drains, read-back proofs) and over-priced the relational tier
    // (measured quiet 0.2-1.4 s), so each ADDED composed cell was a
    // forced withdrawal from the shared margin. The total is now the
    // class mix at defended per-class rates — light cells at their
    // measured p95, heavy cells at the measured marginal midpoint —
    // and a regression in EITHER class still trips the same gate.
    val lightRate = sys.env.getOrElse("SPARK_GRAFT_BUDGET_LIGHT", "0.85").toDouble
    val heavyRate = sys.env.getOrElse("SPARK_GRAFT_BUDGET_HEAVY", "2.5").toDouble
    val nHeavy = ordered.count(_.heavy)
    val nLight = ordered.size - nHeavy
    val totalBudgetUnscaled = sys.env.get("SPARK_GRAFT_BUDGET_TOTAL")
      .map(_.toDouble)
      .getOrElse(nLight * lightRate + nHeavy * heavyRate)
    val totalBudget = totalBudgetUnscaled * scale
    // transient-contention recourse: queries over budget OR failed get
    // ONE quiet re-run each, in isolation after the catalog pass, and
    // the best successful time is the adjudicated one — a real
    // regression is slow (or broken) both times; a noisy neighbor or a
    // transient (port clash, tmp-dir race) usually is not. "retried" is
    // set whenever the re-run executed, even if it changed nothing.
    def row(q: Q, run: Harness.CellRun, retried: Boolean) =
      (q.name, run.seconds, run.ok, retried, run.shuffleReadBytes, run.shuffleWriteBytes)
    val perCellAdjudicated = firstPass.map { case (q, run) =>
      if (!run.ok || run.seconds > perQueryBudget) {
        val run2 = time(q)
        // adjudicated cell = best successful run; carry ITS bytes (bytes
        // are rep-stable, but a failed run meters a prefix — never mix)
        val best =
          if (run.ok && run2.ok) { if (run2.seconds < run.seconds) run2 else run }
          else if (run2.ok) run2
          else run
        row(q, best, retried = true)
      } else row(q, run, retried = false)
    }
    // TOTAL re-adjudication (r18 verdict ask #1b): the per-cell retry
    // only fired past the 6 s line, so a run whose phasing spread 0.5-2 s
    // across MANY cells could bust the TOTAL with zero per-cell
    // violations (exactly BENCH_r18: 0.3 % over, zero violations after
    // retry, 115/132 cells byte-identical to quiet). On a total
    // violation, re-run — in isolation, best-of-two like the per-cell
    // rule — the cells most inflated against the COMMITTED quiet
    // baseline (tools/bench_baseline.json), but ONLY cells whose shuffle
    // bytes equal the baseline's exactly: bytes identify the plan, so a
    // changed plan must defend its time on the regular budget, and a
    // genuine same-plan regression re-runs slow again and still fails.
    val totalRetried = scala.collection.mutable.ArrayBuffer.empty[String]
    val totalFirst = perCellAdjudicated.map(_._2).sum
    // bytes "match" the baseline inside a ±0.5 % jitter band, not only
    // exactly: a dozen cells carry ±0.01–0.2 % run-to-run row-order /
    // parquet-compression drift (r19 verdict: the exact-byte rule left
    // 13 cells permanently re-adjudication-INELIGIBLE), while a genuine
    // plan change moves bytes far past the band and must defend its
    // time on the regular budget. The band cannot be gamed by the
    // same-plan-regression class: a planted per-cell stall keeps bytes
    // identical and re-runs slow (the PLANT_CELL_MS control).
    def bytesMatch(base: Long, cur: Long): Boolean =
      math.abs(cur - base) <= math.max(1L, base / 200)
    val results = {
      var rs = perCellAdjudicated
      var total = totalFirst
      if (total > totalBudget) readBaseline().foreach { case (baseSec, baseBytes) =>
        val eligible = rs.zipWithIndex
          .filter { case ((name, sec, ok, _, _, shw), _) =>
            ok && baseBytes.get(name).exists(bytesMatch(_, shw)) &&
              baseSec.get(name).exists(b => sec > b * 1.4 + 0.2) }
          .sortBy { case ((name, sec, _, _, _, _), _) => baseSec(name) - sec }
          .take(48)
        val cellByName = ordered.map(q => q.name -> q).toMap
        val it = eligible.iterator
        // stop once comfortably under (8 % inside the line) — the goal is
        // adjudication, not minimization
        while (total > totalBudget * 0.92 && it.hasNext) {
          val ((name, sec, _, _, _, _), idx) = it.next()
          totalRetried += name
          val run2 = time(cellByName(name))
          // accept the re-run ONLY when ITS bytes also match the
          // baseline (r19 ADVICE #1): a convergent maintenance cell's
          // warm re-run does strictly less work (e.g. an append-missing
          // path that finds nothing to append) — bytes move, and its
          // cheap time must not substitute for a genuine regression in
          // the work the cell exists to measure
          if (run2.ok && run2.seconds < sec &&
              baseBytes.get(name).exists(bytesMatch(_, run2.shuffleWriteBytes))) {
            rs = rs.updated(idx, row(cellByName(name), run2, retried = true))
            total += run2.seconds - sec
          }
        }
      }
      rs
    }
    val retried = results.collect { case (k, _, _, true, _, _) => s"\"$k\"" }.mkString("[", ",", "]")
    // failed queries surface as a NEGATIVE time (and in "failed"): a
    // regression that breaks a query must never read as a fast success
    val qs = results.map { case (k, v, ok, _, _, _) => s"\"" + k + "\":" + (if (ok) v else -v) }
      .mkString("{", ",", "}")
    val shrJson = results.map { case (k, _, _, _, r, _) => s"\"" + k + "\":" + r }
      .mkString("{", ",", "}")
    val shwJson = results.map { case (k, _, _, _, _, w) => s"\"" + k + "\":" + w }
      .mkString("{", ",", "}")
    val failed = results.collect { case (k, _, false, _, _, _) => s"\"$k\"" }.mkString("[", ",", "]")
    val total = results.map(_._2).sum
    val probeMidJson = probeMid
      .map { case (p, pio) => s"[$p,$pio]" }.mkString("[", ",", "]")
    val totalRetriedJson = totalRetried.map(n => s"\"$n\"").mkString("[", ",", "]")
    val jsonLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"shuffle_read_bytes":$shrJson,"shuffle_write_bytes":$shwJson,"failed":$failed,"retried":$retried,"total_first":$totalFirst,"total_retried":$totalRetriedJson,"probe":$probeSec,"probe_io":$probeIoSec,"probe_mid":$probeMidJson,"probe_end":$probeEndSec,"probe_io_end":$probeIoEndSec,"budget_scale":$scale,"n_light":$nLight,"n_heavy":$nHeavy,"budget_light_rate":$lightRate,"budget_heavy_rate":$heavyRate,"budget_total_unscaled":$totalBudgetUnscaled,"budget_total":$totalBudget,"sf":"$sfDir"}"""
    println(jsonLine)
    // also persist the full line to a file: the driver captures stdout
    // with a tail, and a long catalog's per-query map can be truncated
    // out of the round artifact (BENCH_r14.json lost the seconds map) —
    // the file survives whatever the tail drops
    try {
      val w = new java.io.PrintWriter(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json"), "UTF-8")
      try w.println(jsonLine) finally w.close()
    } catch { case t: Throwable => System.err.println(s"BENCH_LOCAL write failed: $t") }
    // one classification, shared by the summary's slow list and the
    // violation output — a predicate change can't make them diverge
    val slowPairs = results.collect { case (k, v, true, _, _, _) if v > perQueryBudget => (k, v) }
    val slowCells = slowPairs.map(_._1)
    val violations =
      results.collect { case (k, _, false, _, _, _) => s"FAILED $k" } ++
        slowPairs.map { case (k, v) => f"SLOW $k: $v%.2fs > $perQueryBudget%.1fs" } ++
        (if (total > totalBudget) Seq(f"TOTAL $total%.1fs > $totalBudget%.1fs") else Nil)
    // compact self-adjudicating summary, printed LAST (r19 verdict ask
    // #6): the driver's round artifact is a stdout TAIL, and twice now
    // (BENCH_r14, BENCH_r19) the long per-query map was truncated out of
    // it, leaving the official artifact un-checkable. Everything the
    // adjudication needs — totals, probe points, scale, the per-class
    // budget and its inputs, margin, violations — rides this one short
    // line that no tail can drop; check_budget.py adjudicates from it
    // when the full map is gone (the full line is in BENCH_LOCAL.json).
    val margin = (totalBudget - total) / totalBudget
    val (maxName, maxSec) = results.map(r => (r._1, r._2)).maxBy(_._2)
    val summaryLine =
      s"""{"metric":"summary","value":$total,"unit":"sec","total_first":$totalFirst,""" +
        s""""n_queries":${results.size},"failed":$failed,""" +
        s""""slow":${slowCells.map(n => s"\"$n\"").mkString("[", ",", "]")},""" +
        s""""total_retried":$totalRetriedJson,""" +
        s""""probe":$probeSec,"probe_io":$probeIoSec,""" +
        s""""probe_end":$probeEndSec,"probe_io_end":$probeIoEndSec,""" +
        s""""budget_scale":$scale,"n_light":$nLight,"n_heavy":$nHeavy,""" +
        s""""budget_light_rate":$lightRate,"budget_heavy_rate":$heavyRate,""" +
        s""""budget_total_unscaled":$totalBudgetUnscaled,"budget_total":$totalBudget,""" +
        s""""per_query_budget":$perQueryBudget,"margin":$margin,""" +
        s""""max_cell":"$maxName","max_sec":$maxSec,""" +
        s""""n_violations":${violations.size},"sf":"$sfDir"}"""
    println(summaryLine)
    // mirror check_budget's sanity ceiling IN the run itself: a scale
    // past 2.0 means the budgets were derived on a heavily contended
    // box (measured up to 4.0 on phasing boxes) — absolute seconds from
    // such a run are forgiven by design, so say so loudly where the
    // driver's artifact tail will carry it instead of leaving the
    // number to be noticed in the JSON
    if (scale > 2.0)
      System.err.println(f"BENCH WARNING: budget_scale=$scale%.2f > 2.0 sanity " +
        "ceiling — heavily contended box; per-cell seconds are scaled-forgiven, " +
        "adjudicate regressions by shuffle bytes (tools/bench_baseline.json)")
    spark.stop()
    if (violations.nonEmpty) {
      System.err.println(f"BUDGET probe=$probeSec%.2fs scale=$scale%.2f")
      violations.foreach(v => System.err.println(s"BUDGET VIOLATION: $v"))
      sys.exit(1)
    }
  }
}
