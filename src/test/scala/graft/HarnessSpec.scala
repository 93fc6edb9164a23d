package graft

import scala.jdk.CollectionConverters._

import graft.queries.Q

/** The one catalog harness (Harness + engine.Session): a failing setup
  * fails its own cell, loudly, without stopping the next one; and every
  * harness gets its session — hence its SQL conf — from one factory.
  */
class HarnessSpec extends SparkSpec {

  test("a cell whose setup throws is reported failed with the setup's message; the next cell still runs") {
    var brokenRuns = 0
    var healthySetups = 0
    val broken = Q("z98_broken_setup", "planted failing setup",
      (s, _) => { brokenRuns += 1; s.range(3).toDF() }, None,
      setup = Seq((_, _) => throw new IllegalStateException("planted setup failure")))
    val healthy = Q("z97_healthy", "planted healthy cell",
      (s, d) => s.read.parquet(s"$d/region.parquet"), None,
      setup = Seq((_, _) => healthySetups += 1))
    val cells = Seq(broken, healthy)
    val setupErrors = Harness.setUp(spark, sfDir, cells)
    val runs = cells.map(q =>
      q.name -> Harness.runCell(spark, q.run(spark, sfDir), setupErrors.get(q.name))).toMap

    assert(!runs("z98_broken_setup").ok)
    assert(runs("z98_broken_setup").error.map(_.getMessage).contains("planted setup failure"))
    assert(brokenRuns == 0, "a cell whose setup failed must not run")
    assert(runs("z97_healthy").ok, runs("z97_healthy").error)
    assert(healthySetups == 1)
  }

  test("runCell returns a failing frame's error instead of throwing") {
    val run = Harness.runCell(spark, spark.read.parquet(s"$sfDir/no_such_table.parquet"))
    assert(!run.ok && run.shuffleWriteBytes == 0L)
  }

  /** Every main source file: (path relative to the repo root, text). */
  private lazy val sources: Seq[(String, String)] = {
    val main = new java.io.File("src/main/scala")
    assert(main.isDirectory, s"src/main/scala not found from ${new java.io.File(".").getAbsolutePath}")
    java.nio.file.Files.walk(main.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
      .toSeq.sortBy(_._1)
  }

  private def filesContaining(needle: String): Seq[String] =
    sources.collect { case (path, src) if src.contains(needle) => path }

  test("only engine/Session.scala builds a SparkSession or reads SPARK_GRAFT_CPUS") {
    val builders = sources.filter { case (_, src) => "SparkSession\\s*\\.\\s*builder".r.findFirstIn(src).nonEmpty }
    val cpusReads = sources.filter { case (_, src) => src.contains("\"SPARK_GRAFT_CPUS\"") }
    val factory = "src/main/scala/graft/engine/Session.scala"
    assert(builders.map(_._1) == Seq(factory), s"SparkSession.builder outside the factory: ${builders.map(_._1)}")
    assert(cpusReads.map(_._1) == Seq(factory), s"SPARK_GRAFT_CPUS read outside the factory: ${cpusReads.map(_._1)}")
  }

  test("fixture markers and work dirs exist only in engine/Fixture.scala") {
    val fixture = "src/main/scala/graft/engine/Fixture.scala"
    assert(filesContaining("_SETUP_DONE") == Seq(fixture))
    assert(filesContaining("markerFresh").isEmpty)
    // the only other tmpdir paths are timed outputs, not fixtures
    val outputs = Seq("graft_io01_copy", "graft_w01_events", "graft_filmdb_copy")
    val tmpdirUses = for {
      (path, src) <- sources if path != fixture
      line <- src.linesIterator if line.contains("getProperty(\"java.io.tmpdir\")")
      if !outputs.exists(line.contains)
    } yield s"$path: ${line.trim}"
    assert(tmpdirUses.isEmpty, s"work dir outside Fixture.workDir: $tmpdirUses")
  }

  test("feed files get their arrival mtimes only from streaming/Feed.scala") {
    assert(filesContaining("setTimes") == Seq("src/main/scala/graft/streaming/Feed.scala"))
  }

  test("java.nio.file and java.io.File appear in main only on the pinned local-disk paths") {
    val allowed = Seq(
      "src/main/scala/graft/Bench.scala", // the committed baseline read
      "src/main/scala/graft/Verify.scala", // result and oracle SQL output
      "src/main/scala/graft/filmdb/FilmDb.scala", // the reference dump read
      "src/main/scala/graft/operators/Stores.scala", // hard links
      "src/main/scala/graft/tools/ExplainAll.scala") // plan output
    val users = (filesContaining("java.nio.file") ++ filesContaining("new java.io.File")).distinct.sorted
    assert(users.forall(allowed.contains), s"local-disk calls outside the allow-list: ${users.diff(allowed)}")
  }
}
