package graft

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator
import scala.util.Using

/** The gate sweep: runs registry gates against a fixture dir, writes
  * each result as one parquet dir `<outDir>/<gate>` and the DuckDB
  * oracles of the gates it ran to `<outDir>/oracle_sql.json`, for
  * `tools/check.py`.
  *
  * Usage: `graft.Verify <sfDir> <outDir> [gatePrefix ...]`. With no
  * prefix every gate runs; otherwise only the gates whose name starts
  * with one of the prefixes. The session is [[Session]]'s profile at
  * `SPARK_GRAFT_CPUS` cores (default 4). A gate that throws leaves no
  * dump, and the main exits 1 naming every failed gate. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Verify <sfDir> <outDir> [gatePrefix ...]")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Session.builder(cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed =
      try sweep(spark, args(0), args(1), args.drop(2).toSeq)
      finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} gate(s) failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Run the gates selected by `prefixes` (all when empty) and return
    * the names of those that threw. Every registry gate's old dump is
    * deleted before the sweep, selected or not, so a dump under
    * `outDir` is always this sweep's.
    * Dumps keep Spark's default INT96 timestamps: they read back
    * tz-naive in pandas like DuckDB's TIMESTAMP, where TIMESTAMP_MICROS
    * reads tz-aware and fails the q28/q29 compares. */
  def sweep(spark: SparkSession, sfDir: String, outDir: String,
      prefixes: Seq[String]): Seq[String] = {
    SparkEntry.registry.foreach(q => deleteTree(Paths.get(outDir, q.name)))
    val gates = SparkEntry.registry
      .filter(q => prefixes.isEmpty || prefixes.exists(q.name.startsWith))
    val failed = gates.flatMap { q =>
      val dump = Paths.get(outDir, q.name)
      try {
        q.run(spark, sfDir).coalesce(1).write.parquet(dump.toString)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] ${q.name} failed: ${e.getMessage}")
        deleteTree(dump)
        Some(q.name)
      }
    }
    tools.OracleDump.write(outDir, gates)
    failed
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Using.resource(Files.walk(p))(
        _.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_)))
}
