package graft.engine

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Load-phase fixtures: stores a cell's setup builds once per input and
  * every later run on the same input reuses (the re-runnable load of the
  * reference's upserting warehouse insert).
  *
  * A fixture is a work dir plus a `_SETUP_DONE` marker holding the
  * fingerprint it was built for: source stamps (`length:mtime`) and a
  * format tag bumped whenever the store layout or its parameters change.
  * A changed input or format wipes the work dir and rebuilds it.
  *
  * Every call resolves the Hadoop `FileSystem` from its own path, not
  * the default FS, so a `file:` or `s3a:` dir stamps and marks correctly.
  * No call takes a lock: each setup keeps its own `synchronized`.
  */
object Fixture {

  /** `graft_<name>` under `java.io.tmpdir`. */
  def tmp(name: String): String = s"${System.getProperty("java.io.tmpdir")}/graft_$name"

  /** The work dir of fixture `tag` over source dir `dir`. */
  def workDir(tag: String, dir: String): String =
    tmp(s"${tag}_${Integer.toHexString(dir.hashCode)}")

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `length:mtime` of `path` — the per-source part of a fingerprint. */
  def stamp(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val st = fs(spark, p).getFileStatus(p)
    s"${st.getLen}:${st.getModificationTime}"
  }

  /** The whole content of a small state file. */
  def read(spark: SparkSession, path: String): String = {
    val p = new Path(path)
    val in = fs(spark, p).open(p)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Write (or replace) a small state file, creating its parent dirs. */
  def write(spark: SparkSession, path: String, s: String): Unit = {
    val p = new Path(path)
    val out = fs(spark, p).create(p, true)
    try out.write(s.getBytes(UTF_8)) finally out.close()
  }

  /** Run `build` unless `work` already holds a fixture built for
    * `fingerprint`. A rebuild first deletes `work` recursively, so
    * `build` must write only under it; the marker is written last, so a
    * build that throws leaves none and the next call starts over.
    */
  def once(spark: SparkSession, work: String, fingerprint: String)(build: => Unit): Unit = {
    val w = new Path(work)
    val marker = new Path(w, "_SETUP_DONE")
    val wfs = fs(spark, w)
    if (!(wfs.exists(marker) && read(spark, marker.toString) == fingerprint)) {
      wfs.delete(w, true)
      build
      write(spark, marker.toString, fingerprint)
    }
  }
}
