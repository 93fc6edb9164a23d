package graft.tools

/** Dump the formatted physical plan of every catalog cell (or a
  * comma-separated subset) to one file per query — the plan corpus an
  * optimization round greps for join strategies, Exchange counts and
  * pushed filters, and the `plans/r<N>/` before/after evidence the
  * round commits.
  *
  * Usage: runMain graft.tools.ExplainAll <outDir> [sfDir] [names]
  *
  * Note: CONSTRUCTING a maintenance cell's frame executes its window's
  * internal actions (the restore + waves run when the function is
  * called); the dumped plan is the returned frame's — the read-back /
  * report side. For those cells the plan file is the gate's plan, and
  * the window's job structure is JobTrace's domain.
  */
object ExplainAll {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val only: Option[Set[String]] =
      args.drop(2).headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = graft.engine.Session.fromEnv()
    new java.io.File(outDir).mkdirs()
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "")
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (only.forall(_.contains(name))) {
        try {
          val plan = fn(spark, sfDir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"),
            plan.getBytes("UTF-8"))
        } catch {
          case t: Throwable =>
            System.err.println(s"[explain] $name failed: $t")
        }
        // maintenance cells pin checkpoint blocks during construction —
        // drop them so later cells plan against a clean block manager
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      }
    }
    spark.stop()
  }
}
