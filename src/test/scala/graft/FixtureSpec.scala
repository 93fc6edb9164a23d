package graft

import java.nio.file.{Files, Path, Paths}

import graft.engine.Fixture

/** The load-phase fixture combinator: a fresh marker skips the build, a
  * changed input wipes and rebuilds, a failed build leaves no marker,
  * and markers written by the earlier java.nio code stay valid.
  */
class FixtureSpec extends SparkSpec {

  /** A private copy of region.parquet (the sf0.001 dir is read-only, and
    * the checks touch the source) and a work dir beside it.
    */
  private def withSource(f: (Path, String) => Unit): Unit = {
    val root = Files.createTempDirectory("graft_fixture_spec_")
    val src = root.resolve("region.parquet")
    Files.copy(Paths.get(s"$sfDir/region.parquet"), src)
    try f(src, s"$root/work")
    finally org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
  }

  private def fingerprint(src: Path): String =
    s"region:${Fixture.stamp(spark, src.toString)}:fixture-spec-v1"

  private def marker(work: String): Path = Paths.get(s"$work/_SETUP_DONE")

  test("a fresh marker skips the build") {
    withSource { (src, work) =>
      var builds = 0
      def setup(): Unit = Fixture.once(spark, work, fingerprint(src)) {
        builds += 1
        spark.read.parquet(src.toString).write.parquet(s"$work/copy")
      }
      setup()
      setup()
      assert(builds == 1)
      assert(new String(Files.readAllBytes(marker(work))) == fingerprint(src))
      assert(spark.read.parquet(s"$work/copy").count() == 5)
    }
  }

  test("a touched source wipes the work dir and rebuilds") {
    withSource { (src, work) =>
      var builds = 0
      def setup(): Unit = Fixture.once(spark, work, fingerprint(src)) {
        builds += 1
        spark.read.parquet(src.toString).write.parquet(s"$work/copy")
      }
      setup()
      val leftover = Paths.get(s"$work/leftover")
      Files.write(leftover, "stale".getBytes)
      val before = fingerprint(src)
      Files.setLastModifiedTime(src, java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(src).toMillis + 60000L))
      assert(fingerprint(src) != before)
      setup()
      assert(builds == 2)
      assert(!Files.exists(leftover), "a rebuild must start from an empty work dir")
      assert(new String(Files.readAllBytes(marker(work))) == fingerprint(src))
      assert(spark.read.parquet(s"$work/copy").count() == 5)
    }
  }

  test("a build that throws leaves no marker, and the next call rebuilds") {
    withSource { (src, work) =>
      val err = intercept[IllegalStateException] {
        Fixture.once(spark, work, fingerprint(src)) {
          spark.read.parquet(src.toString).write.parquet(s"$work/copy")
          throw new IllegalStateException("planted build failure")
        }
      }
      assert(err.getMessage == "planted build failure")
      assert(!Files.exists(marker(work)))
      var builds = 0
      Fixture.once(spark, work, fingerprint(src)) { builds += 1 }
      assert(builds == 1)
      assert(Files.exists(marker(work)))
    }
  }

  test("a marker written with java.nio (no .crc) is accepted without a rebuild") {
    withSource { (src, work) =>
      Files.createDirectories(Paths.get(work))
      Files.write(marker(work), fingerprint(src).getBytes)
      val mtime = Files.getLastModifiedTime(marker(work))
      var builds = 0
      Fixture.once(spark, work, fingerprint(src)) { builds += 1 }
      assert(builds == 0)
      assert(Files.getLastModifiedTime(marker(work)) == mtime)
      assert(!Files.exists(Paths.get(s"$work/._SETUP_DONE.crc")))
    }
  }

  test("io02Setup stamps a file: URI source with its real lengths") {
    val dir = s"file:$sfDir"
    val work = Fixture.workDir("io02_buckets", dir)
    val h = Integer.toHexString(dir.hashCode)
    try {
      graft.queries.PipelineQueries.io02Setup(spark, dir)
      val expected = Seq("orders", "lineitem").map { t =>
        val f = new java.io.File(s"$sfDir/$t.parquet")
        s"$t:${f.length()}:${f.lastModified()}"
      }.mkString("\n")
      assert(Fixture.read(spark, s"$work/_SETUP_DONE") == expected)
      assert(!expected.contains(":0:0"))
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS graft_orders_bucketed_$h")
      spark.sql(s"DROP TABLE IF EXISTS graft_lineitem_bucketed_$h")
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(work))
    }
  }
}
