package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.classic
import org.apache.spark.sql.functions._

class RankerPipelineSpec extends SparkSpec {
  import spark.implicits._

  private val cut = RankerPipeline.weightNowNs
  private val yearNs = 365L * 86400L * 1000000000L

  // user 1: one recent positive (item 10) + one stale positive (item 20,
  // >1 year before the frozen cut); user 2 keeps item popularity up so
  // negatives exist for user 1
  private def toy = Seq(
    (1, 10, cut - 1000L, "click", 1.0),
    (1, 20, cut - yearNs - 1000L, "click", 1.0),
    (2, 10, cut - 2000L, "click", 1.0),
    (2, 30, cut - 3000L, "click", 1.0)
  ).toDF("user_id", "item_id", "ts_ns", "event_type", "value")

  test("instance weights are real: 0.9 for recent positives, 0.1 otherwise") {
    val weighted = RankerPipeline.weigher
      .transform(RankerPipeline.trainingFrame(toy))
      .select($"user_id", $"item_id", $"label", $"instance_weight")
      .as[(Int, Int, Double, Double)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4)).toMap
    assert(weighted((1, 10)) == (1.0, 0.9)) // recent positive
    assert(weighted((1, 20)) == (1.0, 0.1)) // stale positive
    // negatives (label 0.0) always 0.1, never null
    val negs = weighted.values.filter(_._1 == 0.0)
    assert(negs.nonEmpty && negs.forall(_._2 == 0.1))
    // the weight column is non-constant — the weighted-LR path is live
    assert(weighted.values.map(_._2).toSet == Set(0.9, 0.1))
  }

  // 40 users with 3 distinct items each (plus one repeat event) over
  // 12 items: enough rows that the 10% held-out split scores both labels
  private def fortyUsers = (for {
    u <- 1 to 40
    k <- 0 to 3
  } yield (u, (u * 5 + k % 3) % 12, cut - (u * 10 + k).toLong,
    if (k % 2 == 0) "click" else "star", 1.0 + k))
    .toDF("user_id", "item_id", "ts_ns", "event_type", "value")

  private def cacheManager =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  test("a ranker fit leaves nothing cached") {
    spark.catalog.clearCache()
    val (_, auc, _) = RankerPipeline.trainAndEvaluate(spark, fortyUsers)
    assert(auc >= 0.0 && auc <= 1.0)
    assert(cacheManager.isEmpty, "the ranker fit left a cached frame behind")
  }

  test("a ranker grid search leaves nothing cached") {
    spark.catalog.clearCache()
    val grid = RankerPipeline.crossValidateRaw(spark, fortyUsers)
      .select("avg_metric").as[Double].collect()
    assert(grid.length == 4 && grid.forall(m => m >= 0.0 && m <= 1.0))
    assert(cacheManager.isEmpty, "the grid search left a cached frame behind")
  }

  test("dropSuffixed removes exactly the suffixed columns (#14)") {
    val df = Seq((1, 2, 3)).toDF("a", "a__idx", "b__idx")
    assert(AlbedoRanker.dropSuffixed(df, "__idx").columns.toSeq == Seq("a"))
    assert(AlbedoRanker.dropSuffixed(df, "__zzz").columns.toSeq == df.columns.toSeq)
  }
}
