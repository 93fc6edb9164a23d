package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev-only job-floor dissection: run one catalog query with a listener
  * that prints every Spark job's wall time and description — the tool
  * that answers "where do a composed cell's seconds actually go" when
  * the per-stage trace marks are too coarse (the p06 job-floor work).
  *
  * Usage: runMain graft.tools.JobTrace <queryName> [sfDir] [reps]
  */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 1
    val spark = graft.engine.Session.fromEnv()
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Int)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val p = Option(js.properties)
        def prop(k: String) = p.flatMap(q => Option(q.getProperty(k)))
        val desc = prop("spark.sql.execution.id").map(e => s"exec=$e").getOrElse("") +
          " " + prop("callSite.short").getOrElse("?")
        starts.put(js.jobId, (System.nanoTime(), desc, js.stageIds.size))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.get(je.jobId)).foreach { case (t0, desc, nst) =>
          println(f"JOB ${je.jobId}%4d ${(System.nanoTime() - t0) / 1e9}%6.2f s st=$nst%2d $desc")
        }
      }
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            println(s"EXEC ${s.executionId} ${s.description.linesIterator.next().take(120)}")
          case _ =>
        }
    }
    val cell = graft.Harness.cell(name)
    // the cell's setups untimed (as Bench), then one untraced warm run
    val setupError = graft.Harness.setUp(spark, sfDir, Seq(cell)).get(name)
    graft.Harness.runCell(spark, cell.run(spark, sfDir), setupError).error
      .foreach(t => println(s"warm fail: $t"))
    spark.sparkContext.addSparkListener(listener)
    val runs = (1 to reps).map { i =>
      val run = graft.Harness.runCell(spark, cell.run(spark, sfDir), setupError)
      println(f"TOTAL rep$i: ${run.seconds}%.2f s" + run.error.fold("")(t => s" FAILED $t"))
      run
    }
    spark.stop()
    if (runs.exists(!_.ok)) sys.exit(1)
  }
}
