package graft.tools

/** Time a single catalog query in isolation — the per-query iteration
  * loop (Bench runs the whole catalog; this answers "did MY query get
  * faster" without the other 77).
  *
  * Usage: runMain graft.tools.OneQuery <queryName> [sfDir] [reps]
  *        runMain graft.tools.OneQuery <queryName> [sfDir] explain
  * (`explain` prints the formatted physical plan instead of timing —
  * the .explain-and-iterate loop for plan work and PLANS.md.)
  */
object OneQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val explainOnly = args.length > 2 && args(2) == "explain"
    val reps = if (args.length > 2 && !explainOnly) args(2).toInt else 1
    // the bench's own session (the one every harness uses) — an
    // adjudication must reproduce the measured run's environment, not a
    // differently-tuned one
    val spark = graft.engine.Session.fromEnv()
    // same dedup-broadcast operating knob as ScaleStress: adjudicating a
    // heavy tier (x1000's 2.7 GB sig table) needs the budget the stress
    // run used, or d06 exercises the fallback instead of the plan under
    // adjudication (driver heap must be raised too: SPARK_DRIVER_MEM)
    sys.env.get("SPARK_GRAFT_SIG_BUDGET").foreach { b =>
      spark.conf.set("spark.graft.dedup.sigBroadcastBytes", b)
    }
    // streaming-tier adjudication knobs, same defaults-if-unset as the
    // stress harness: the noop drain and per-tier state sizing must
    // match the run whose cell is being re-measured
    sys.env.get("SPARK_GRAFT_STREAM_SINK").foreach { v =>
      spark.conf.set("spark.graft.stream.sink", v)
    }
    sys.env.get("SPARK_GRAFT_STATE_PARTITIONS").foreach { v =>
      spark.conf.set("spark.graft.stream.statePartitions", v)
    }
    val cell = graft.Harness.cell(name)
    if (explainOnly) {
      cell.run(spark, sfDir).explain("formatted")
      spark.stop()
      return
    }
    // same warmup and untimed setups as Bench, so rep1 times the cell,
    // not its fixture build
    graft.Harness.warmUp(spark, sfDir)
    val setupError = graft.Harness.setUp(spark, sfDir, Seq(cell)).get(name)
    // rep1 still carries cold caches and JIT; shuffle bytes are rep-stable
    val runs = (1 to reps).map { i =>
      val run = graft.Harness.runCell(spark, cell.run(spark, sfDir), setupError)
      run.error match {
        case None =>
          println(f"ONEQUERY $name rep$i: ${run.seconds}%.2f s " +
            f"shr=${run.shuffleReadBytes / 1e6}%.1f MB shw=${run.shuffleWriteBytes / 1e6}%.1f MB")
        case Some(t) => println(s"ONEQUERY $name rep$i: FAILED $t")
      }
      run
    }
    spark.stop()
    if (runs.exists(!_.ok)) sys.exit(1)
  }
}
