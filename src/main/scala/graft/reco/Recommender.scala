package graft.reco

import org.apache.spark.sql.DataFrame

/** Candidate-generation contract: given a set of users, produce
  * (user_id, item_id, score, source) rows, ≤ topK per user.
  *
  * Mirrors the reference's Recommender trait (reference:
  * src/main/scala/ws/vinta/albedo/recommenders/Recommender.scala:9-69)
  * re-expressed as a plain DataFrame function: the reference made it a
  * ml.Transformer to ride Pipelines; our engine keeps candidate
  * generation declarative so Catalyst sees through the whole plan
  * (broadcasts, pushdown) instead of hitting a Transformer wall.
  */
trait Recommender {
  def name: String

  /** @param users single-column DataFrame of user_id */
  def recommendForUsers(users: DataFrame, topK: Int): DataFrame
}
