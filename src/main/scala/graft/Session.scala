package graft

import org.apache.spark.sql.SparkSession

/** The engine's one session profile. `graft.Verify`,
  * `tools.ExplainAudit` and the specs' shared session build from it, so
  * a gate dump, a plan audit and a spec run the same session. Its
  * effective settings equal the benchmark's session (adaptive execution
  * and partition coalescing are Spark 4 defaults).
  *
  *  - shuffle partitions = cores, not Spark's 200;
  *  - scan splits derive from input size (`minPartitionNum` 1), not a
  *    core-count floor that slices small files into sub-MB tasks;
  *    results are partitioning-independent, which the Verify sweep
  *    checks;
  *  - UTC session time and int64-nanos parquet timestamps read as
  *    longs, the layout `sources.Tables` expects;
  *  - no web UI. */
object Session {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.files.minPartitionNum", 1L)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", true)
      .config("spark.ui.enabled", false)
}
