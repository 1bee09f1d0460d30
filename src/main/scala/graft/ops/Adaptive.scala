package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** Scale-adaptive parallelism for CPU-heavy per-row kernels: per-op
  * partition choices derived from the input instead of local[n]
  * constants.
  *
  * A kernel whose per-row cost dwarfs its scan cost (md5 shingling,
  * MinHash permutations, SimHash bit votes, token-window explosion,
  * Bloom probes) inherits the SCAN's parallelism — which is derived
  * from input bytes / maxPartitionBytes. On a production corpus that
  * is thousands of splits and every core is busy; on a small input
  * (one sub-128 MB file → ONE split; profiled cases: q97's 1.7 s
  * single-task cosine stage, q127's 1.7 s single-task Bloom probe,
  * q65's 1.2 s single-task SimHash kernel) the kernel runs serially
  * while the other cores idle.
  *
  * [[spread]] redistributes the kernel's INPUT rows round-robin to one
  * task per core — but ONLY when the input would otherwise run on
  * fewer tasks than the cluster has slots. The condition makes it
  * scale-adaptive with zero configuration: at 100 TB the scan already
  * has ≫ cores splits and spread is the identity (no exchange added —
  * the contract stated in each caller's scale note survives); the
  * repartition fires exactly when its shuffle is by construction small
  * (fewer splits than cores ⇒ input < cores · maxPartitionBytes).
  *
  * The decision never runs the input's shuffles. A plan without
  * shuffles (scans, cached frames, frames cut by [[Checkpoints.cut]])
  * knows its partition count once planned, so spread compares that.
  * Under AQE a shuffling plan only learns its partition count by
  * running its shuffle stages, so there spread compares the
  * optimizer's size estimate (`stats.sizeInBytes`) against the same
  * bound, `defaultParallelism × spark.sql.files.maxPartitionBytes`;
  * estimates that blow up (unconstrained joins) err toward the
  * identity, the production behaviour.
  *
  * Only row-wise kernels may use this: repartition() changes row-to-
  * partition assignment, so any partition-sensitive operator (stateful
  * mapPartitions carrying cross-row state, sampling keyed on partition
  * id) must not be spread. Every call site below the seam is a pure
  * per-row map or explode followed by a keyed aggregation.
  */
object Adaptive {

  /** `df` repartitioned to one task per core iff it would run on fewer
    * tasks than `defaultParallelism`; identity otherwise. Runs none of
    * `df`'s shuffles. */
  def spread(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val want = spark.sparkContext.defaultParallelism
    // a fresh plan: df's own may predate a cache() of df, and the plan
    // that will actually run reads the cache
    val qe = spark.sessionState.executePlan(df.queryExecution.logical)
    // AQE wraps the plan before inserting its exchanges, so a shuffle
    // shows there as an operator that requires a child distribution
    val physical = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    val shuffles = physical.exists(p => p.isInstanceOf[Exchange] ||
      !p.requiredChildDistribution.forall(_ == UnspecifiedDistribution))
    val narrow =
      if (!shuffles) qe.toRdd.getNumPartitions < want
      else qe.optimizedPlan.stats.sizeInBytes <
        BigInt(want) * spark.sessionState.conf.filesMaxPartitionBytes
    if (narrow) df.repartition(want) else df
  }
}
