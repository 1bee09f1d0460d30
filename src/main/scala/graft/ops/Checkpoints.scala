package graft.ops

import org.apache.spark.sql.DataFrame

/** Lineage-cut seam (r18, VERDICT r17 "Next round" #7).
  *
  * The engine cuts lineage at shared or iterated subtrees
  * (PageRank tails, CC rounds, dedup shingle sets, the q96 survivor
  * corpus, the TF-IDF weights memo). Single-box, `localCheckpoint` is
  * the right tool: blocks land in the local block manager, no
  * checkpoint-dir I/O. On a real cluster it is NON-RESILIENT — the
  * lineage is severed, so losing the executor that holds a block fails
  * every downstream query — and `eager = true` blocks the driver while
  * the subtree materializes.
  *
  * This seam makes the choice deployment-driven instead of hard-coded:
  *   - local master (the bench/verify harness): `localCheckpoint`.
  *   - cluster master WITH a configured checkpoint dir: reliable
  *     `checkpoint()` — blocks are written to fault-tolerant storage,
  *     an executor loss recomputes nothing downstream.
  *   - cluster master WITHOUT a checkpoint dir: `localCheckpoint`,
  *     matching Spark's own fallback stance (fast, documented risk).
  *
  * No behavior change on the bench harness (master is `local[n]`
  * there, so every call resolves to `localCheckpoint` exactly as
  * before); the seam exists so a cluster deployment flips ALL cut
  * points at once by setting `spark.sparkContext.setCheckpointDir`.
  */
object Checkpoints {

  /** True when `df`'s session runs against a local master. */
  private def isLocal(df: DataFrame): Boolean =
    df.sparkSession.sparkContext.master.startsWith("local")

  /** Cut lineage, eagerly materializing the frame (the common case:
    * the caller is about to fan the frame into several consumers). */
  def cut(df: DataFrame): DataFrame = cut(df, eager = true)

  /** Cut lineage. `eager = false` defers only the frame's final stage:
    * under AQE, building the checkpoint RDD runs every shuffle stage
    * of the frame's plan at the call, and the first action runs the
    * last stage, persisting its blocks. Use when the caller's next
    * action already scans every row (e.g. a convergence count), so
    * that one job both materializes the blocks and computes the
    * answer. The reliable `checkpoint()` branch is eager whatever
    * `eager` says: a lazy `checkpoint()` computes the frame once for
    * the action and again when writing the checkpoint dir (the RDD
    * checkpoint double-compute), which costs more than the job it
    * saves. */
  def cut(df: DataFrame, eager: Boolean): DataFrame = {
    val sc = df.sparkSession.sparkContext
    if (!isLocal(df) && sc.getCheckpointDir.isDefined) df.checkpoint()
    else df.localCheckpoint(eager)
  }
}
