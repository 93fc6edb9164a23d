package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Verify's oracle_sql.json writer: the full-catalog mode rewrites the
  * file; the name-list mode merges into it, one key per cell however
  * often a cell is re-dumped. No SparkSession needed.
  */
class VerifySpec extends AnyFunSuite {

  private def keysOf(path: java.nio.file.Path): Seq[String] = {
    // strict parser: a duplicate key is an error, not "last wins"
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .enable(com.fasterxml.jackson.core.JsonParser.Feature.STRICT_DUPLICATE_DETECTION)
    mapper.readTree(path.toFile).fieldNames().asScala.toSeq
  }

  test("name-list dumps merge into oracle_sql.json; a re-dump of the same name writes its key once") {
    val dir = java.nio.file.Files.createTempDirectory("verify_spec")
    val path = dir.resolve("oracle_sql.json")
    val sqlA = "SELECT 1 AS \"a\"\tFROM t -- \\ quirk"
    Verify.writeOracleSql(path, Seq("a_cell" -> sqlA), merge = true)
    Verify.writeOracleSql(path, Seq("b_cell" -> "SELECT 2"), merge = true)
    Verify.writeOracleSql(path, Seq("a_cell" -> sqlA), merge = true)
    assert(keysOf(path) == Seq("a_cell", "b_cell"))
    val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
    assert(tree.get("a_cell").asText() == sqlA)
    assert(tree.get("b_cell").asText() == "SELECT 2")
  }

  test("the full-catalog mode rewrites oracle_sql.json from scratch") {
    val dir = java.nio.file.Files.createTempDirectory("verify_spec")
    val path = dir.resolve("oracle_sql.json")
    Verify.writeOracleSql(path, Seq("a_cell" -> "SELECT 1"), merge = true)
    Verify.writeOracleSql(path, Seq("b_cell" -> "SELECT 2", "c_cell" -> "SELECT 3"), merge = false)
    assert(keysOf(path) == Seq("b_cell", "c_cell"))
  }
}
