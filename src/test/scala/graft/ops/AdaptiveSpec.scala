package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** `Adaptive.spread` decides without executing its input: it spreads
  * inputs that would run on fewer tasks than cores to one task per
  * core, and leaves inputs at or past that parallelism — or, for
  * exchange-bearing plans, estimated past `defaultParallelism ×
  * maxPartitionBytes` — alone. */
class AdaptiveSpec extends SparkSpec {

  private def want = spark.sparkContext.defaultParallelism

  test("a frame containing a shuffle launches no job inside spread") {
    val sc = spark.sparkContext
    val shuffled = spark.range(0, 10000).groupBy((col("id") % 7).as("k"))
      .agg(count(lit(1)).as("n"))
    val group = s"adaptive-spec-${java.util.UUID.randomUUID()}"
    val sentinel = s"$group-sentinel"
    try {
      sc.setJobGroup(group, "spread under test")
      val out = Adaptive.spread(shuffled)
      sc.setJobGroup(sentinel, "listener-bus barrier")
      spark.range(1).count()
      // job events arrive in order: once the sentinel's job is visible,
      // any job spread launched before it would be too
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (sc.statusTracker.getJobIdsForGroup(sentinel).isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(20)
      assert(sc.statusTracker.getJobIdsForGroup(sentinel).nonEmpty)
      assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
        "spread executed its input")
      assert(out.collect().length == 7)
    } finally sc.clearJobGroup()
  }

  test("a single-file scan, and the same scan cut by Checkpoints.cut, " +
      "come back with defaultParallelism partitions") {
    val dir = java.nio.file.Files.createTempDirectory("adaptive-spec").toString
    spark.range(0, 1000).select(col("id"), (col("id") * 3).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    assert(scan.rdd.getNumPartitions == 1)
    assert(Adaptive.spread(scan).rdd.getNumPartitions == want)
    val cut = Checkpoints.cut(scan.filter(col("v") > 10))
    assert(Adaptive.spread(cut).rdd.getNumPartitions == want)
  }

  test("a huge-estimate plan comes back unchanged") {
    val huge = spark.range(1000000000000L).toDF()
    assert(Adaptive.spread(huge) eq huge)
    // exchange-bearing: decided by the size estimate alone
    val hugeShuffled = huge.repartition(2)
    assert(Adaptive.spread(hugeShuffled) eq hugeShuffled)
  }
}
