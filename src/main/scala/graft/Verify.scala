package graft
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [names]
  *
  * The driver passes two args and always gets the full catalog, with
  * oracle_sql.json rewritten from scratch. The optional THIRD arg is a
  * comma-separated name list (`... /tmp/out e12_drift_republish`): the
  * per-cell iteration loop. It dumps just those cells and MERGES their
  * oracle SQL into the outDir's existing oracle_sql.json (each key
  * written once), so successive dumps into one outDir gate together
  * under one `check_oracle.py` run.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      args.drop(2).headOption.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    }
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val spark = graft.engine.Session.fromEnv()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
    }
    writeOracleSql(Paths.get(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.toSeq.filter { case (k, _) => selected(k) },
      merge = only.isDefined)
    spark.stop()
  }

  /** Writes `entries` as the oracle_sql.json object. With `merge`, the
    * entries of an existing file are kept (in their order) and each of
    * `entries` replaces its key or is appended — every key once.
    */
  private[graft] def writeOracleSql(
      path: Path, entries: Seq[(String, String)], merge: Boolean): Unit = {
    val all = scala.collection.mutable.LinkedHashMap.empty[String, String]
    if (merge && Files.exists(path))
      all ++= new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
        .fields().asScala.map(e => e.getKey -> e.getValue.asText())
    all ++= entries
    Files.writeString(path,
      all.map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }.mkString("{", ",", "}"))
  }

  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
