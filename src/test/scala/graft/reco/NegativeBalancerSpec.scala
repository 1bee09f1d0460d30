package graft.reco

import graft.SparkSpec
import org.apache.spark.sql.functions._

class NegativeBalancerSpec extends SparkSpec {
  import spark.implicits._

  // popularity: item 10 (3 users) > item 20 (2) > item 30 (1), ties none
  private def toy = Seq(
    (1, 10), (2, 10), (3, 10),
    (1, 20), (2, 20),
    (3, 30)
  ).toDF("user_id", "item_id")

  test("negatives never include the user's positives") {
    val negs = NegativeBalancer.negatives(toy, 100, 10.0)
    val leaked = negs.join(toy, Seq("user_id", "item_id")).count()
    assert(leaked == 0)
  }

  test("most-popular-first order and ratio bound") {
    // user 3 has positives {10, 30}, 2 of them → 2 negatives at ratio 1.0
    // popular order is [10, 20, 30]; minus positives = [20] → just item 20
    val negs = NegativeBalancer.negatives(toy, 100, 1.0)
      .filter($"user_id" === 3).select("item_id").as[Int].collect().toSeq
    assert(negs == Seq(20))
    // user 1 (positives {10,20}) → [30] at ratio 1.0 capped to 2 → [30]
    val negs1 = NegativeBalancer.negatives(toy, 100, 1.0)
      .filter($"user_id" === 1).select("item_id").as[Int].collect().toSeq
    assert(negs1 == Seq(30))
  }

  test("balance unions labeled positives and negatives") {
    val b = NegativeBalancer.balance(toy, 100, 1.0)
    assert(b.filter($"label" === 1.0).count() == 6)
    assert(b.filter($"label" === 0.0).count() > 0)
    assert(b.columns.toSeq == Seq("user_id", "item_id", "label"))
  }

  test("duplicate events do not inflate the negative count (set semantics)") {
    // n_pos must be DISTINCT positives (reference: positiveItems.size);
    // duplicating every event row must leave the negatives unchanged
    val doubled = toy.unionAll(toy)
    val once = NegativeBalancer.negatives(toy, 100, 1.0)
      .orderBy("user_id", "item_id").collect().toSeq
    val twice = NegativeBalancer.negatives(doubled, 100, 1.0)
      .orderBy("user_id", "item_id").collect().toSeq
    assert(once == twice)
  }

  test("positives outside the popular pool still bound the negative count") {
    // pool capped to 1 item: only item 10 is a candidate; user 3 has
    // positives {10, 30} → n_pos=2 but the pool minus positives is empty
    val negs = NegativeBalancer.negatives(toy, 1, 1.0)
    assert(negs.filter($"user_id" === 3).count() == 0)
    // a user with no positives in the pool gets the full pool up to n_pos
    val toy2 = Seq((1, 10), (2, 20), (2, 21)).toDF("user_id", "item_id")
    val n2 = NegativeBalancer.negatives(toy2, 1, 1.0)
      .filter($"user_id" === 2).select("item_id").as[Int].collect().toSeq
    assert(n2 == Seq(10)) // pool=[10], user 2 unseen, n_pos=2 → take [10]
  }

  test("a user with more positives than the pool gets only unseen, " +
      "most-popular-first negatives capped at n_pos * ratio") {
    // item i is held by 10 - i background users, so popularity order is
    // 1, 2, 3, ...; user 0 holds the pool's items 1 and 3 and four items
    // outside it (7, 8, 9 and an item no one else has)
    val background = for (i <- 1 to 9; u <- 1 to 10 - i) yield (100 + u, i)
    val hot = Seq(1, 3, 7, 8, 9, 50).map(i => (0, i))
    val interactions = (background ++ hot).toDF("user_id", "item_id")
    // pool = the 4 most popular items [1, 2, 3, 4] < 6 distinct positives
    def negsOf(ratio: Double) = NegativeBalancer.negatives(interactions, 4, ratio)
      .filter($"user_id" === 0).select("item_id").as[Int].collect().toSeq
    assert(negsOf(1.0) == Seq(2, 4)) // unseen pool items, popular first
    assert(negsOf(0.25) == Seq(2)) // capped at (6 * 0.25).toInt = 1
    // a repeated event is one distinct positive, not two: n_pos stays 6
    // and (6 * 0.3).toInt = 1, where 7 positives would give 2
    val repeated = interactions.unionAll(Seq((0, 50)).toDF("user_id", "item_id"))
    assert(NegativeBalancer.negatives(repeated, 4, 0.3)
      .filter($"user_id" === 0).count() == 1)
  }

  test("balance computes each extra per-pair aggregate on the positives " +
      "and leaves it null on the negatives") {
    // (user 1, item 10) has two events; the rest one each
    val interactions = Seq(
      (1, 10, 5L), (1, 10, 7L), (2, 10, 3L),
      (1, 20, 4L), (2, 20, 1L),
      (3, 30, 9L)
    ).toDF("user_id", "item_id", "ts")
    val b = NegativeBalancer.balance(interactions, 100, 1.0,
      max($"ts").as("last_ts"), count(lit(1)).as("events"))
    assert(b.columns.toSeq == Seq("user_id", "item_id", "label", "last_ts", "events"))
    val rows = b.as[(Int, Int, Double, Option[Long], Option[Long])].collect()
    val pos = rows.filter(_._3 == 1.0).map(r => (r._1, r._2) -> (r._4, r._5)).toMap
    assert(pos == Map(
      (1, 10) -> (Some(7L), Some(2L)), (2, 10) -> (Some(3L), Some(1L)),
      (1, 20) -> (Some(4L), Some(1L)), (2, 20) -> (Some(1L), Some(1L)),
      (3, 30) -> (Some(9L), Some(1L))))
    // popular order by events [10, 20, 30]: user 3 (positive {30}) gets
    // [10], users 1 and 2 (positives {10, 20}) get [30]
    val neg = rows.filter(_._3 == 0.0)
    assert(neg.map(r => (r._1, r._2)).toSet == Set((1, 30), (2, 30), (3, 10)))
    assert(neg.forall(r => r._4.isEmpty && r._5.isEmpty))
  }
}
