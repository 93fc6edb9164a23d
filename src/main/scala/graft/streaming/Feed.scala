package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The staged arrival feed of the file-stream cells (etl04, s07, s10,
  * s14): test-harness plumbing standing in for files that simply ARRIVE
  * in production, so every caller runs it as untimed load-phase setup
  * inside a [[graft.engine.Fixture]].
  */
object Feed {

  /** Range files per feed: with `maxFilesPerTrigger` 2, two real
    * micro-batches.
    */
  private val Parts = 4

  /** Write `rows` to `feedDir` as [[Parts]] part files of contiguous
    * ranges of `key`, a non-null numeric column (each file sorted by it),
    * then stamp STRICTLY INCREASING mtimes in range order. The file
    * stream source replays files oldest-mtime first, and one job's part
    * files share one mtime, which would leave the arrival order (and the
    * trigger pairing under `maxFilesPerTrigger`) to a filesystem
    * tie-break that varies by box.
    *
    * The range bounds are the exact `key` quantiles, so they depend on
    * the data alone. `repartitionByRange` would sample with a seed taken
    * from the RDD id, so its ranges would move with whatever the session
    * ran before.
    */
  def stage(rows: DataFrame, key: Column, feedDir: String): Unit = {
    val k = key.cast("double")
    val fractions = (1 until Parts).map(_.toDouble / Parts).toArray
    val bounds = Option(rows.agg(percentile(k, lit(fractions))).head().getSeq[Double](0))
      .getOrElse(Seq.empty)
    val range = bounds.map(b => (k > b).cast("int")).foldLeft(lit(0))(_ + _)
    rows.repartitionById(Parts, range)
      .sortWithinPartitions(key)
      .write.mode("overwrite").parquet(feedDir)
    val dir = new Path(feedDir)
    val fs = dir.getFileSystem(rows.sparkSession.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis() - files.length * 60000L
    files.zipWithIndex.foreach { case (p, i) => fs.setTimes(p, base + i * 60000L, -1) }
  }
}
