package graft.reco

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Negative sampling for implicit-feedback ranking: for each user, emit
  * the most popular items the user has NOT interacted with, up to
  * ratio × (#positives), most-popular-first.
  *
  * Reference: NegativeBalancer (src/main/scala/ws/vinta/albedo/
  * transformers/NegativeBalancer.scala:74-112): driver-collected
  * LinkedHashSet of popular items, RDD aggregateByKey positive sets,
  * `popularItems.diff(positives).slice(0, n*ratio)` per user.
  *
  * DataFrame rewrite (SURVEY.md §7.4): everything reads one distinct
  * (user, item) rollup ([[pairs]]). Item popularity sums the rollup's
  * event counts; the pool is bounded by maxCandidates and joins the
  * rollup as a broadcast side. One per-user aggregate then gives
  * `n_pos` (distinct positives) and the user's positives INSIDE the
  * pool (`array_except` consults nothing else), so the collected list
  * is ≤ maxCandidates regardless of user degree. `array_except`
  * preserves first-argument order, so "most-popular-first minus
  * positives, take n·ratio" is exactly
  * `slice(array_except(popular, positives), 1, n*ratio)` — then
  * explode. No driver-side set logic, no per-row external state.
  */
object NegativeBalancer {

  /** The distinct (user_id, item_id) rollup negatives are built from:
    * one row per pair with its event count `n`, then the `extra`
    * per-pair aggregates. */
  private def pairs(interactions: DataFrame, extra: Seq[Column]): DataFrame =
    interactions.groupBy(col("user_id"), col("item_id"))
      .agg(count(lit(1)).as("n"), extra: _*)

  /** @param interactions  (user_id, item_id, ...) positive rows
    * @param maxCandidates bound on the popular-item pool (driver-safe)
    * @param ratio         negatives per positive
    * @return (user_id, item_id, label=0.0) negative rows
    */
  def negatives(interactions: DataFrame, maxCandidates: Int, ratio: Double): DataFrame =
    negativesOf(pairs(interactions, Nil), maxCandidates, ratio)

  /** [[negatives]] over a [[pairs]] rollup. */
  private def negativesOf(pairs: DataFrame, maxCandidates: Int,
      ratio: Double): DataFrame = {
    // popularity pool (event counts), most-popular-first, bounded
    val pool = pairs
      .groupBy(col("item_id")).agg(sum(col("n")).as("cnt"))
      .orderBy(col("cnt").desc, col("item_id"))
      .limit(maxCandidates)
    // explicit in-array sort (struct compares fieldwise: -cnt asc ≡ cnt
    // desc, then item_id asc) — collect_list order after a shuffle is
    // not a contract, even if single-partition limit preserved it
    val popular = pool
      .agg(sort_array(collect_list(
        struct((-col("cnt")).as("nc"), col("item_id")))).as("s"))
      .select(transform(col("s"), _.getField("item_id")).as("popular")) // single bounded row

    // n_pos counts DISTINCT positive items (reference uses
    // positiveItems.size, a set — NegativeBalancer.scala:88-89; a raw
    // row count would over-sample negatives for users with duplicate
    // events); the list keeps only in-pool positives
    pairs
      .join(broadcast(pool.select(col("item_id"), lit(true).as("in_pool"))),
        Seq("item_id"), "left")
      .groupBy(col("user_id"))
      .agg(count(col("item_id")).as("n_pos"),
        collect_list(when(col("in_pool"), col("item_id"))).as("pos_items"))
      .crossJoin(broadcast(popular))
      .withColumn("negs",
        slice(array_except(col("popular"), col("pos_items")),
          lit(1), greatest((col("n_pos") * ratio).cast("int"), lit(0))))
      .select(col("user_id"), explode(col("negs")).as("item_id"))
      .withColumn("label", lit(0.0))
  }

  /** Positives ∪ negatives with labels — the balanced training set
    * (reference: NegativeBalancer.scala:109-111 union): (user_id,
    * item_id, label, extra...). Each `extra` per-pair aggregate over the
    * interactions (e.g. the last interaction time) is a column of the
    * positives, computed in the same rollup; negatives carry null. */
  def balance(interactions: DataFrame, maxCandidates: Int, ratio: Double,
      extra: Column*): DataFrame = {
    val p = pairs(interactions, extra)
    val perPair = p.columns.drop(3).map(col).toSeq // after user_id, item_id, n
    p.select(Seq(col("user_id"), col("item_id"), lit(1.0).as("label")) ++ perPair: _*)
      .unionByName(negativesOf(p, maxCandidates, ratio), allowMissingColumns = true)
  }
}
