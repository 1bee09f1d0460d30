package graft.reco

import org.apache.spark.ml.recommendation.{ALS, ALSModel}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ALS collaborative-filtering candidate generation.
  *
  * Reference: ALSRecommenderBuilder (src/main/scala/ws/vinta/albedo/
  * ALSRecommenderBuilder.scala:45-59) — implicitPrefs, rank=50,
  * regParam=0.5, alpha=40, maxIter=26, seed=42, coldStartStrategy=drop —
  * and ALSRecommender's hand-rolled blocked GEMM + bounded priority
  * queue top-k (recommenders/ALSRecommender.scala:21-61).
  *
  * Our engine delegates the recommend step to
  * `ALSModel.recommendForUserSubset`, which runs the same blocked
  * dot-product internally (SURVEY.md §2.3 #27) — no custom BPQ needed.
  * Scale: factor matrices are (n_users+n_items)×rank, partitioned by id
  * block; training shuffles factor blocks per iteration (inherent to
  * ALS); recommend is a blocked cross-join with early top-k, never a
  * row-per-score shuffle.
  */
final class AlsRecommender(model: ALSModel) extends Recommender {
  override val name = "als"

  /** Underlying MLWritable model (persistence — SURVEY.md §2.1 #9). */
  def modelRef: ALSModel = model

  override def recommendForUsers(users: DataFrame, topK: Int): DataFrame = {
    val recs = model.recommendForUserSubset(users.select(col("user_id")), topK)
    recs.select(col("user_id"),
        explode(col("recommendations")).as("rec"))
      .select(col("user_id"),
        col("rec.item_id").as("item_id"),
        col("rec.rating").cast("double").as("score"))
      .withColumn("source", lit(name))
  }
}

object AlsRecommender {

  /** Seeded hyperparameter grid search via the stock CrossValidator
    * (reference: ALSRecommenderCV.scala:67-90 — grid over
    * rank × regParam × alpha, numFolds=2, ranking-NDCG evaluator over a
    * per-user actual-items frame computed once outside the folds).
    * Returns one row per grid point with the fold-averaged NDCG@k.
    *
    * @param actual per-user ground-truth items — the reference's
    *        loadUserActualItemsDF (top-N RECENT items per user, NOT all
    *        positives: with actual = everything, every scored
    *        validation row is a hit and NDCG degenerates to 1.0).
    *
    * Scale: CrossValidator iterates the bounded grid on the driver (as
    * the reference does); each fit/eval is fully distributed.
    *
    * This raw variant returns the UNROUNDED fold-averaged metric —
    * the dump surface for the q62b grid-replay oracle (VERDICT r8
    * "Next round" #2). The production gate ([[crossValidate]]) keeps
    * reporting run-stable rounded digits; the replay quantizes this
    * run's exact doubles identically in both engines, so float drift
    * between runs is irrelevant. */
  def crossValidateRaw(ratings: DataFrame, actual: DataFrame, ranks: Seq[Int],
      regParams: Seq[Double], alphas: Seq[Double], maxIter: Int = 5,
      k: Int = 10, folds: Int = 2, seed: Long = 42,
      memoKey: Option[String] = None): DataFrame = {
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val spark = ratings.sparkSession
    val als = new ALS()
      .setImplicitPrefs(true)
      .setMaxIter(maxIter)
      .setSeed(seed)
      .setColdStartStrategy("drop")
      .setUserCol("user_id")
      .setItemCol("item_id")
      .setRatingCol("rating")
    val grid = new ParamGridBuilder()
      .addGrid(als.rank, ranks)
      .addGrid(als.regParam, regParams)
      .addGrid(als.alpha, alphas)
      .build()
    val cv = new CrossValidator()
      .setEstimator(als)
      .setEstimatorParamMaps(grid)
      .setEvaluator(new graft.ml.NdcgEvaluator(actual, k))
      .setNumFolds(folds).setSeed(seed).setParallelism(2)
    // seeded grid fits — memoized per session when a stable key is given
    val model = memoKey match {
      case Some(mk) =>
        graft.ml.ModelMemo.cached(ratings.sparkSession,
          s"als-cv:$mk:$folds")(cv.fit(ratings))
      case None => cv.fit(ratings)
    }
    import spark.implicits._
    model.getEstimatorParamMaps.zip(model.avgMetrics).toSeq
      .map { case (pm, m) =>
        // by NAME, not pm(als.rank): on a memo hit the maps belong to
        // the first invocation's estimator and Param equality includes
        // the parent uid (see RankerPipeline.crossValidate)
        def byName[T](n: String): T =
          pm.toSeq.find(_.param.name == n).get.value.asInstanceOf[T]
        (byName[Int]("rank"), byName[Double]("regParam"),
          byName[Double]("alpha"), m)
      }.toDF("als_rank", "reg_param", "alpha", "avg_metric")
  }

  /** ALS hyperparameter grid via CrossValidator + ranking-NDCG
    * evaluator. One row per grid point, metric rounded to run-stable
    * digits (CV NDCG drifts ~1e-5 between JVM runs — float-sum order
    * in the distributed fit). */
  def crossValidate(ratings: DataFrame, actual: DataFrame, ranks: Seq[Int],
      regParams: Seq[Double], alphas: Seq[Double], maxIter: Int = 5,
      k: Int = 10, folds: Int = 2, seed: Long = 42,
      memoKey: Option[String] = None): DataFrame =
    crossValidateRaw(ratings, actual, ranks, regParams, alphas, maxIter,
        k, folds, seed, memoKey)
      .select(col("als_rank").as("rank"), col("reg_param"), col("alpha"),
        // bround = HALF_EVEN, matching the previous math.rint behavior
        (bround(col("avg_metric") * 1e3) / 1e3).as("avg_ndcg"))
      .orderBy(col("avg_ndcg").desc, col("rank"), col("reg_param"), col("alpha"))

  /** Train with the reference's hyperparameters (scaled-down rank/iters
    * are caller's choice; defaults mirror ALSRecommenderBuilder.scala:45-59).
    *
    * Checkpointing (SURVEY §2.12 #97): ALS lineage grows by two shuffle
    * stages per iteration; at the reference's maxIter=26 on a real
    * cluster the un-truncated DAG risks stack-overflow re-computation
    * storms on executor loss. When the session has a checkpoint dir
    * (`sparkContext.setCheckpointDir`), ALS truncates lineage every
    * `checkpointInterval` iterations — exactly how the reference's
    * `spark.setCheckpointDir` + ALS interval operate. Local runs leave
    * it unset: fixture-scale lineage fits comfortably and the extra
    * HDFS round-trips would only slow the gates. */
  def train(ratings: DataFrame, rank: Int = 50, regParam: Double = 0.5,
      alpha: Double = 40, maxIter: Int = 26, seed: Long = 42,
      checkpointInterval: Int = 10): AlsRecommender = {
    val als = new ALS()
      .setImplicitPrefs(true)
      .setRank(rank)
      .setRegParam(regParam)
      .setAlpha(alpha)
      .setMaxIter(maxIter)
      .setSeed(seed)
      .setColdStartStrategy("drop")
      .setUserCol("user_id")
      .setItemCol("item_id")
      .setRatingCol("rating")
      // honored only when sparkContext.checkpointDir is set; harmless
      // (ALS falls back to plain caching) otherwise
      .setCheckpointInterval(checkpointInterval)
    new AlsRecommender(als.fit(ratings))
  }
}
