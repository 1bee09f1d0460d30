package graft.ml

import graft.reco._
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{OneHotEncoder, SQLTransformer, StringIndexer, VectorAssembler}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-stage ranking pipeline: candidate generation (multiple
  * recommenders, unioned + distinct) re-ranked by a logistic regression
  * over engineered user×item features.
  *
  * Reference: LogisticRegressionRanker.main (src/main/scala/ws/vinta/
  * albedo/LogisticRegressionRanker.scala:49-444; lifecycle traced in
  * SURVEY.md §3.3): profile joins → feature pipeline (StringIndexer+OHE,
  * SQLTransformer weights, assembler) → NegativeBalancer → LR(weightCol)
  * → AUC + NDCG@k.
  *
  * Scale design: feature tables are aggregations keyed by user/item
  * (shuffle once each, then broadcast the item side — item cardinality
  * ≪ user cardinality); candidate re-rank joins features by key instead
  * of transforming per-candidate with per-row state.
  */
object RankerPipeline {

  /** Per-user behavioral features from interactions. */
  def userFeatures(interactions: DataFrame): DataFrame = {
    val favW = Window.partitionBy(col("user_id")).orderBy(col("n_type").desc, col("event_type"))
    val fav = interactions
      .groupBy(col("user_id"), col("event_type")).agg(count(lit(1)).as("n_type"))
      .withColumn("rn", row_number().over(favW)).filter(col("rn") === 1)
      .select(col("user_id"), col("event_type").as("fav_event_type"))
    interactions
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("u_n_events"),
        countDistinct(col("item_id")).as("u_n_items"),
        avg(col("value")).as("u_avg_value"),
        max(col("ts_ns")).as("u_last_ns"))
      .join(fav, Seq("user_id"))
  }

  /** Per-item popularity features. */
  def itemFeatures(interactions: DataFrame): DataFrame =
    interactions.groupBy(col("item_id"))
      .agg(count(lit(1)).as("i_n_events"),
        countDistinct(col("user_id")).as("i_n_users"),
        avg(col("value")).as("i_avg_value"))

  /** Frozen "now" for recency weighting: the 2024-01-24 split cut (the
    * reference uses current_date(); frozen here for determinism). */
  val weightNowNs: Long = 1706054400000000000L
  private val yearNs: Long = 365L * 86400L * 1000000000L

  /** Assemble the labeled training frame: NegativeBalancer labels with
    * per-pair last-interaction time (for recency weights; negatives →
    * null) joined with user/item features. */
  def trainingFrame(interactions: DataFrame): DataFrame =
    NegativeBalancer.balance(interactions, 1000, 1.0,
        max(col("ts_ns")).as("pair_last_ns"))
      .join(userFeatures(interactions), Seq("user_id"))
      .join(broadcast(itemFeatures(interactions)), Seq("item_id"))

  /** Instance-weight stage emitting the two weight SCHEMES the CV grid
    * searches over (the reference's weightSQL emits four and grids
    * lr.weightCol across them, LogisticRegressionRankerCV.scala:296-331):
    * `instance_weight` = recent positives weigh 0.9 (the reference's
    * recent_starred_weight, recency vs the frozen cut), and
    * `positive_weight` = all positives weigh 0.9. Fit-time only:
    * serving inputs carry no label. Negatives have pair_last_ns NULL;
    * the AND short-circuits them to 0.1. */
  private[graft] def weigher = new SQLTransformer().setStatement(
    s"SELECT *, IF(label > 0.5 AND pair_last_ns >= ${weightNowNs - yearNs}, " +
      "0.9D, 0.1D) AS instance_weight, " +
      "IF(label > 0.5, 0.9D, 0.1D) AS positive_weight FROM __THIS__")

  /** LR iterations and L2 strength of the ranker fit: the reference's
    * config scaled down (LogisticRegressionRanker.scala:330-337). */
  private val MaxIter = 20
  private val RegParam = 0.1

  /** The weighted training frame, right-sized and cached for iterative
    * fits: ~10^5 rows across 32 shuffle partitions is pure
    * task-scheduling overhead per iteration. Hash + in-partition sort on
    * the unique (user, item) key = deterministic row order, so the seeded
    * randomSplit and CrossValidator kFold are bit-stable (see
    * AlbedoRanker). Callers unpersist it once their fits are eager. */
  private def rankerFrame(interactions: DataFrame): DataFrame =
    weigher.transform(trainingFrame(interactions))
      .repartition(8, col("user_id"))
      .sortWithinPartitions("user_id", "item_id")
      .cache()

  /** Feature stages (StringIndexer + OHE + assembler) followed by `lr`. */
  private def rankerPipeline(lr: LogisticRegression): Pipeline = {
    val indexer = new StringIndexer()
      .setInputCol("fav_event_type").setOutputCol("fav_idx")
      .setHandleInvalid("keep") // reference: handleInvalid=keep (LogisticRegressionRanker.scala:176-188)
    val ohe = new OneHotEncoder()
      .setInputCol("fav_idx").setOutputCol("fav_ohe").setDropLast(false)
    val assembler = new VectorAssembler()
      .setInputCols(Array("u_n_events", "u_n_items", "u_avg_value",
        "i_n_events", "i_n_users", "i_avg_value", "fav_ohe"))
      .setOutputCol("features")
    new Pipeline().setStages(Array(indexer, ohe, assembler, lr))
  }

  private def logisticRegression(): LogisticRegression =
    new LogisticRegression()
      .setElasticNetParam(0.0).setStandardization(true)
      .setFeaturesCol("features").setLabelCol("label")
      .setWeightCol("instance_weight")

  /** Train LR ranker; returns (model pipeline, AUC on held-out split,
    * the unpersisted ranker frame). */
  def trainAndEvaluate(spark: SparkSession, interactions: DataFrame)
      : (org.apache.spark.ml.PipelineModel, Double, DataFrame) = {
    val data = rankerFrame(interactions)
    val pipeline = rankerPipeline(
      logisticRegression().setMaxIter(MaxIter).setRegParam(RegParam))
    val Array(train, test) = data.randomSplit(Array(0.9, 0.1), seed = 42)
    val model = pipeline.fit(train)
    val scored = model.transform(test)
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC").evaluate(scored)
    // fit and AUC are both eager — release the feature cache now (r5
    // leak sweep); the returned frame recomputes lazily if a caller
    // actually scans it (none currently do)
    data.unpersist()
    (model, auc, data)
  }

  /** Hyperparameter search via CrossValidator + ParamGridBuilder
    * (reference: ALSRecommenderCV.scala:67-90, LogisticRegressionRankerCV
    * .scala:326-350 — seeded, parallel fits). Returns one row per grid
    * point with the UNROUNDED fold-averaged AUC — the dump surface for
    * the q47b grid-replay oracle (VERDICT r8 "Next round" #2; see
    * AlsRecommender.crossValidateRaw). */
  def crossValidateRaw(spark: SparkSession, interactions: DataFrame,
      folds: Int = 2, memoKey: Option[String] = None): DataFrame = {
    import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
    val data = rankerFrame(interactions)
    val lr = logisticRegression()
    val pipeline = rankerPipeline(lr)
    // the reference grid's SHAPE: search weight SCHEMES (its dominant
    // dimension, 4 weightCol values at :331) × regularization — here
    // 2 schemes × 2 regParams = 4 points, maxIter pinned small
    val grid = new ParamGridBuilder()
      .addGrid(lr.regParam, Array(0.01, 0.5))
      .addGrid(lr.weightCol, Array("instance_weight", "positive_weight"))
      .addGrid(lr.maxIter, Array(8))
      .build()
    val cv = new CrossValidator()
      .setEstimator(pipeline)
      .setEvaluator(new BinaryClassificationEvaluator()
        .setLabelCol("label").setMetricName("areaUnderROC"))
      .setEstimatorParamMaps(grid)
      .setNumFolds(folds).setSeed(42).setParallelism(2)
    // the grid×folds fit set is the gate's whole cost and fully seeded —
    // memoize per session when the caller provides a stable key
    val model = memoKey match {
      case Some(k) => ModelMemo.cached(spark, s"lr-cv:$k:$folds")(cv.fit(data))
      case None => cv.fit(data)
    }
    // grid metrics live on the driver once the fit returns (r5 leak sweep)
    data.unpersist()
    import spark.implicits._
    model.getEstimatorParamMaps.zip(model.avgMetrics).toSeq
      .map { case (pm, m) =>
        // look grid params up by NAME, not via this call's lr instance:
        // on a memo hit the maps belong to the FIRST invocation's
        // estimator, and Param equality includes the parent uid, so
        // pm(lr.regParam) throws "Cannot find param" on every second
        // in-session invocation (r6 bench pass-2 failure)
        def byName[T](n: String): T =
          pm.toSeq.find(_.param.name == n).get.value.asInstanceOf[T]
        (byName[Double]("regParam"), byName[String]("weightCol"),
          byName[Int]("maxIter"), m)
      }.toDF("reg_param", "weight_col", "max_iter", "avg_metric")
  }

  /** Weighted-LR grid search; metric rounded to run-stable digits
    * (CV AUC drifts ~1e-5 between JVM runs — float-sum order in the
    * distributed fit). */
  def crossValidate(spark: SparkSession, interactions: DataFrame,
      folds: Int = 2, memoKey: Option[String] = None): DataFrame =
    crossValidateRaw(spark, interactions, folds, memoKey)
      .select(col("reg_param"), col("weight_col"), col("max_iter"),
        // bround = HALF_EVEN, matching the previous math.rint behavior
        (bround(col("avg_metric") * 1e3) / 1e3).as("avg_auc"))
      .orderBy(col("avg_auc").desc, col("reg_param"), col("weight_col"))

  /** Full two-stage flow: CG union (popularity + curation) → distinct →
    * feature join → LR probability re-rank → NDCG against a time-split
    * holdout. Returns one metrics row. */
  def endToEnd(spark: SparkSession, interactions: DataFrame,
      splitNs: Long, topK: Int = 10, memoKey: Option[String] = None)
      : DataFrame = {
    val train = interactions.filter(col("ts_ns") < splitNs).cache()
    val test = interactions.filter(col("ts_ns") >= splitNs)

    // both seeded fits memoized when the caller provides a stable key
    // (gates pass the sf dir); None = always refit (specs, ad hoc)
    val (model, auc, _) = memoKey match {
      case Some(k) => ModelMemo.cached(spark, s"lr-e2e:$k:$splitNs") {
        trainAndEvaluate(spark, train)
      }
      case None => trainAndEvaluate(spark, train)
    }

    val users = test.select(col("user_id")).distinct()
    // the reference's full serving union: ALS(topK·2) ∪ curation(topK)
    // ∪ popularity(topK), distinct (LogisticRegressionRanker.scala:
    // 368-404); ALS at candidate-source scale (it feeds the re-ranker,
    // the LR model does the grading)
    def fitAlsCg() = AlsRecommender.train(
      train.groupBy(col("user_id"), col("item_id"))
        .agg(count(lit(1)).cast("double").as("rating")),
      rank = 8, regParam = 0.1, alpha = 10, maxIter = 4, seed = 42)
    val alsCg = memoKey match {
      case Some(k) =>
        ModelMemo.cached(spark, s"als-e2e:$k:$splitNs")(fitAlsCg())
      case None => fitAlsCg()
    }
    val candidates = Seq(
      alsCg.recommendForUsers(users, topK * 2),
      new PopularityRecommender(train).recommendForUsers(users, topK),
      new CurationRecommender(train, Seq(1, 2, 3, 5, 8)).recommendForUsers(users, topK))
      .map(_.select("user_id", "item_id"))
      .reduce(_ unionByName _)
      .distinct()

    val feats = candidates
      .join(userFeatures(train), Seq("user_id"))
      .join(broadcast(itemFeatures(train)), Seq("item_id"))
    val scored = model.transform(feats)
      .withColumn("score",
        element_at(org.apache.spark.ml.functions.vector_to_array(col("probability")), 2))
      .select(col("user_id"), col("item_id"), col("score"))

    val ndcgRow = RankingEvaluator.evaluate(
      scored, test.select(col("user_id"), col("item_id")).distinct(), topK)
    val out = ndcgRow.withColumn("auc", round(lit(auc), 6))
      .select(col("k"), col("n_users"), round(col("ndcg"), 6).as("ndcg"),
        round(col("precision"), 6).as("precision"), round(col("map"), 6).as("map"),
        col("auc"))
      // serving-quality parity band (BASELINE.md row 6 lifecycle on the
      // events fixture; observed 0.133): a broken CG leg or scoring
      // path collapses toward 0, a test leak saturates toward 1
      .withColumn("ndcg_within_band",
        col("ndcg") >= 0.05 && col("ndcg") <= 0.30)
    // one metrics row — release the train cache now (r5 leak sweep)
    graft.ops.Materialize.localThenUnpersist(out, train)
  }
}
