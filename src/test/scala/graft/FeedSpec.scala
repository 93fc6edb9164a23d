package graft

import org.apache.hadoop.fs.Path

/** The staged arrival feed of the file-stream cells: its ranges are a
  * function of the input alone, so a restaged feed (and every byte the
  * stream downstream of it shuffles) does not move with what the session
  * ran before.
  */
class FeedSpec extends SparkSpec {

  /** Stage the etl04 orders feed into a fresh target; the part files in
    * mtime order, each as its sorted rows.
    */
  private def stageOrders(tag: String): Seq[Seq[String]] = {
    val target = s"${System.getProperty("java.io.tmpdir")}/graft_feedspec_$tag"
    val fs = new Path(target).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(target), true)
    graft.streaming.IncrementalEtl.stageFeed(spark, sfDir, target)
    val parts = fs.listStatus(new Path(s"$target/feed"))
      .filter(_.getPath.getName.startsWith("part-")).toSeq
    val byMtime = parts.sortBy(_.getModificationTime).map(_.getPath)
    assert(byMtime == parts.map(_.getPath).sortBy(_.getName),
      "mtimes must increase strictly in range (file-name) order")
    assert(parts.map(_.getModificationTime).distinct.size == parts.size, "mtimes must be distinct")
    byMtime.map(p => spark.read.parquet(p.toString).collect().map(_.toString).toSeq.sorted)
  }

  test("staging the same input twice yields identical part files, whatever ran in between") {
    val first = stageOrders("a")
    // an unrelated RDD job: every later RDD id (the seed a sampled range
    // partitioner draws from) differs from the first staging's
    assert(spark.sparkContext.parallelize(1 to 1000, 7).map(_ % 13).distinct().count() == 13)
    val second = stageOrders("b")
    assert(first.size == 4, s"expected 4 range files, got ${first.size}")
    assert(first.map(_.size).sum == spark.read.parquet(s"$sfDir/orders.parquet").count())
    first.zip(second).zipWithIndex.foreach { case ((a, b), i) =>
      assert(a == b, s"part $i differs: ${a.size} vs ${b.size} rows")
    }
  }
}
