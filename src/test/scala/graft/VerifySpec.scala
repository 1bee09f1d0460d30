package graft

import com.fasterxml.jackson.databind.ObjectMapper

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** `Verify.sweep`: gate prefixes select what runs and what
  * `oracle_sql.json` holds, and a gate that throws is reported and
  * leaves no dump — neither its own partial output nor a stale one from
  * an earlier run, which `tools/check.py` would otherwise compare (or,
  * for a gate the prefixes did not select, count as rows-only). */
class VerifySpec extends SparkSpec {

  private def dumps(out: Path): Set[String] =
    Using.resource(Files.list(out))(_.iterator().asScala
      .filter(Files.isDirectory(_)).map(_.getFileName.toString).toSet)

  private def oracleKeys(out: Path): Set[String] =
    new ObjectMapper().readTree(out.resolve("oracle_sql.json").toFile)
      .fieldNames().asScala.toSet

  test("gate prefixes select exactly the matching gates and their oracles") {
    val out = Files.createTempDirectory("verify-prefix")
    val prefixes = Seq("q93", "q94")
    val selected = SparkEntry.registry
      .filter(q => prefixes.exists(q.name.startsWith))
    assert(selected.size == 2, selected.map(_.name))
    assert(Verify.sweep(spark, sf0001, out.toString, prefixes).isEmpty)
    assert(dumps(out) == selected.map(_.name).toSet)
    assert(oracleKeys(out) ==
      selected.filter(_.oracle.isDefined).map(_.name).toSet)
  }

  test("a prefix run leaves no other gate's stale dump") {
    val out = Files.createTempDirectory("verify-stale")
    val other = "q94_salted_join"
    assert(SparkEntry.registry.exists(_.name == other))
    val stale = Files.createDirectories(out.resolve(other))
    Files.write(stale.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    assert(Verify.sweep(spark, sf0001, out.toString, Seq("q93")).isEmpty)
    assert(dumps(out) == Set("q93_edit_distance"))
  }

  test("a gate that throws is returned as failed and leaves no dump, " +
      "stale or partial") {
    val out = Files.createTempDirectory("verify-fail")
    val gate = "q93_edit_distance"
    val stale = Files.createDirectories(out.resolve(gate))
    Files.write(stale.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
    val noTables = Files.createTempDirectory("verify-no-tables").toString
    assert(Verify.sweep(spark, noTables, out.toString, Seq("q93")) ==
      Seq(gate))
    assert(!Files.exists(out.resolve(gate)))
    // the oracle entry stays, so tools/check.py counts the missing dump
    assert(oracleKeys(out) == Set(gate))
  }
}
