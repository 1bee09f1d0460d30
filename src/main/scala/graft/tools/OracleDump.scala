package graft.tools

import graft.QueryDef

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** Writes `oracle_sql.json`, the gate → DuckDB SQL map `tools/check.py`
  * compares dumps against. `graft.Verify` writes it through [[write]]
  * for the gates it ran; the main writes it without running any gate.
  * Usage: runMain graft.tools.OracleDump <outDir> [<name>...]
  * (all gates when no names are given).
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val names = args.drop(1).toSet
    val n = write(outDir,
      graft.SparkEntry.registry.filter(q => names.isEmpty || names(q.name)))
    println(s"[oracle] wrote $n entries to $outDir/oracle_sql.json")
  }

  /** Write the oracles of `gates` (rows-only gates have none) to
    * `<outDir>/oracle_sql.json`, sorted by gate name; returns the
    * number of entries written. */
  def write(outDir: String, gates: Seq[QueryDef]): Int = {
    val entries = gates.flatMap(q => q.oracle.map(q.name -> _)).sortBy(_._1)
    val json = entries.map { case (n, sql) => s"${quote(n)}: ${quote(sql)}" }
      .mkString("{", ",\n", "}")
    Files.createDirectories(Paths.get(outDir))
    Files.write(Paths.get(outDir, "oracle_sql.json"), json.getBytes(UTF_8))
    entries.size
  }

  /** JSON string: backslash, quote and every control char (< 0x20)
    * escaped — a tab or CR in an oracle SQL string would otherwise make
    * `json.load` fail and zero the whole compare. */
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
