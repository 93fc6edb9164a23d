package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Q

/** How the harnesses run a catalog cell: Bench, OneQuery and JobTrace
  * run its declared setups untimed ([[setUp]]), and they and ScaleStress
  * time it with one [[runCell]] per run — so a tool that adjudicates a
  * bench cell measures exactly what the bench measured.
  */
object Harness {

  /** One timed run of a cell: wall seconds, the error if it failed, and
    * the shuffle bytes its tasks read and wrote. Bytes are box-
    * independent and rep-stable, so a cell can be adjudicated without a
    * quiet box; a failed run reports zero bytes (it metered a prefix).
    */
  final case class CellRun(
      seconds: Double,
      error: Option[Throwable],
      shuffleReadBytes: Long,
      shuffleWriteBytes: Long) {
    def ok: Boolean = error.isEmpty
  }

  /** The served catalog cell named `name`. */
  def cell(name: String): Q = SparkEntry.cells.find(_.name == name)
    .getOrElse(throw new NoSuchElementException(s"unknown query name: $name"))

  /** Runs the declared setups of `cells`, untimed, in catalog order, and
    * returns each cell whose setup threw, with the error. A setup shared
    * by several cells runs once per cell (each checks its own
    * fingerprint marker, so the repeats are no-ops) and fails each of
    * them on its own.
    */
  def setUp(spark: SparkSession, sfDir: String, cells: Seq[Q]): Map[String, Throwable] =
    cells.flatMap { q =>
      try { q.setup.foreach(_(spark, sfDir)); None }
      catch { case t: Throwable => Some(q.name -> t) }
    }.toMap

  /** Times one cell. First drop the blocks pinned by the PREVIOUS cell
    * (eager localCheckpoints survive until their RDD is GC'd): retained
    * block-manager state otherwise bleeds into every later cell (r12:
    * s07 measured 5.4 s in-bench vs 2.9 s isolated with zero code delta)
    * and accumulates across reps until the heap GC-freezes (d10 at the
    * 1000× tier went 482 s → 733 s across reps). Then start the clock,
    * build `frame` and write it to the noop sink under ShuffleMeter. The
    * noop sink materializes EVERY output column: count() would let
    * Catalyst prune per-row computed columns out of select-only cells
    * and eliminate unique-key left joins, under-measuring them.
    *
    * A failure while building or writing the frame is returned, not
    * thrown. A `setupError` (from [[setUp]]) fails the cell without
    * running it.
    */
  def runCell(
      spark: SparkSession,
      frame: => DataFrame,
      setupError: Option[Throwable] = None): CellRun = setupError match {
    case Some(t) => CellRun(0.0, Some(t), 0L, 0L)
    case None =>
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      val t0 = System.nanoTime()
      val (error, read, write) =
        try {
          val (_, r, w) = org.apache.spark.graft.ShuffleMeter.measure(spark.sparkContext) {
            frame.write.mode("overwrite").format("noop").save()
          }
          (None, r, w)
        } catch { case t: Throwable => (Some(t), 0L, 0L) }
      CellRun((System.nanoTime() - t0) / 1e9, error, read, write)
  }

  /** JIT + codegen warmup, so the first timed cell is not charged several
    * seconds of JVM startup. Its outcome is deliberately ignored.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    runCell(spark, SparkEntry.queries("q01_pricing_summary")(spark, sfDir))
}
