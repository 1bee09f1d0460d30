package graft.ml

import graft.fixtures.AlbedoFixtures
import graft.jobs.ProfileBuilders
import graft.reco.NegativeBalancer
import org.apache.spark.ml.{Pipeline, PipelineStage}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.{CountVectorizer, OneHotEncoder, SQLTransformer, StopWordsRemover, StringIndexer, VectorAssembler, Word2Vec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-width ranking pipeline over the albedo-shaped fixtures,
  * mirroring the reference's 9-stage / ~60-feature surface
  * (reference: LogisticRegressionRanker.scala:60-240):
  *
  *  - boolean flags straight from the profiles,
  *  - continuous counts / ratios / recency days + the two
  *    UserRepoTransformer cross features (ops/exprs #65/#66, expressed
  *    as a SQLTransformer so they live INSIDE the serving pipeline),
  *  - categorical StringIndexer+OHE (handleInvalid=keep, dropLast=false
  *    — reference :176-188) including the id-level user_id/repo_id
  *    one-hots (:155-156),
  *  - list columns through CountVectorizer (:189-198),
  *  - a text column through tokenize → StopWordsRemover → Word2Vec
  *    (:199-216; tokenizer is the cjk-aware regex as a SQLTransformer),
  *  - VectorAssembler over all families (:220-224),
  *  - recency/positivity instance weights + weighted LR (:316-337).
  *
  * Scale notes: profile builds are key-partitioned aggs (see
  * ProfileBuilders); the labeled frame joins user profiles (shuffle on
  * user_id) and broadcasts the repo side; every feature stage is a
  * column expression or an ML stage whose state (vocab, index maps) is
  * bounded by the categorical domain, not the row count.
  */
object AlbedoRanker {

  val snapshotDate = "2017-09-01"

  /** Column-suffix drop (SURVEY §2 #14): the reference prunes
    * intermediate `__idx`-suffixed columns after the feature pipeline
    * (LogisticRegressionRanker.scala drop of indexer outputs). */
  def dropSuffixed(df: DataFrame, suffix: String): DataFrame =
    df.select(df.columns.filterNot(_.endsWith(suffix)).map(col).toIndexedSeq: _*)

  private val booleanCols = Seq("user_has_null", "has_ml", "has_fullstack",
    "has_backend", "has_phd", "repo_has_description", "repo_is_unmaintained",
    "repo_recently_pushed")
  private val continuousCols = Seq("follower_following_ratio",
    "days_since_updated", "days_since_created", "n_recent",
    "repo_stargazers_count", "repo_forks_count", "repo_days_since_updated",
    "log_stars",
    "lang_index_in_recent", "lang_count_in_recent")
  private val categoricalCols = Seq("user_account_type", "company_binned",
    "clean_location", "language_binned", "stars_band", "user_id_str",
    "repo_id_str")
  private val listCols = Seq("recent_languages", "topics_list")
  private val textCol = "repo_description"

  /** Labeled (user,repo) frame joined with both profiles. Deterministic
    * — every column is a profile column or a label; ML stages are not
    * applied here (this is the oracled surface). */
  def labeledFeatureFrame(spark: SparkSession): DataFrame = {
    val starrings = AlbedoFixtures.starringsP(spark)
    val users = ProfileBuilders.buildUserProfile(
      AlbedoFixtures.usersP(spark), AlbedoFixtures.reposP(spark),
      starrings, snapshotDate)
    val repos = ProfileBuilders.buildRepoProfile(
      AlbedoFixtures.reposP(spark), snapshotDate)

    // per-pair last star time for the recency weight (negatives → null)
    NegativeBalancer.balance(
        starrings.select(col("user_id"), col("repo_id").as("item_id"), col("starred_at")),
        maxCandidates = 1000, ratio = 1.0, max(col("starred_at")).as("pair_starred_at"))
      .withColumnRenamed("item_id", "repo_id")
      .join(users, Seq("user_id"))
      .join(broadcast(repos), Seq("repo_id"))
      .withColumn("recent_languages",
        coalesce(col("recent_languages"), array().cast("array<string>")))
      .withColumn("n_recent", coalesce(col("n_recent"), lit(0L)))
      // id-level categoricals enter the OHE path as strings (ref :155)
      .withColumn("user_id_str", col("user_id").cast("string"))
      .withColumn("repo_id_str", col("repo_id").cast("string"))
  }

  /** UserRepoTransformer cross features as a serving-safe SQLTransformer
    * (ops/exprs #65/#66; reference transformers/UserRepoTransformer
    * .scala + closures/UDFs.scala:80-87). */
  private def crossFeatures = new SQLTransformer().setStatement(
    """SELECT *,
      |  CAST(IF(array_position(recent_languages, repo_language) > 0,
      |          array_position(recent_languages, repo_language) - 1,
      |          size(recent_languages) + 50) AS INT) AS lang_index_in_recent,
      |  size(filter(recent_languages, x -> x = repo_language)) AS lang_count_in_recent
      |FROM __THIS__""".stripMargin)

  /** Recency/positivity instance weights vs the frozen snapshot
    * (reference weightSQL :316-327). */
  private def weigher = new SQLTransformer().setStatement(
    s"""SELECT *, IF(label > 0.5
       |  AND datediff(date'$snapshotDate', pair_starred_at) <= 365,
       |  0.9D, 0.1D) AS instance_weight FROM __THIS__""".stripMargin)

  /** cjk-aware tokenizer as a SQLTransformer (graft.text.Tokenize
    * semantics, inlined so it serializes with the PipelineModel). */
  private def tokenizer = new SQLTransformer().setStatement(
    """SELECT *, filter(
      |  regexp_extract_all(lower(coalesce(repo_description, '')),
      |    '([a-z0-9]+(?:\\+\\+|#)?|[\\u4e00-\\u9fff])', 1),
      |  t -> length(t) > 1 OR t rlike '^[\\u4e00-\\u9fff]$' OR t in ('c', 'r')
      |) AS repo_description__words FROM __THIS__""".stripMargin)

  /** The deterministic engineered surface — labels, weights, cross
    * features, continuous/boolean/categorical/list columns — i.e.
    * everything before the fitted ML stages (indexers, CV, w2v). This
    * is the frame the DuckDB oracle mirrors (gate q59). */
  def deterministicFeatureFrame(spark: SparkSession): DataFrame = {
    val f = crossFeatures.transform(weigher.transform(labeledFeatureFrame(spark)))
    f.select(
      col("user_id"), col("repo_id"), col("label"), col("instance_weight"),
      col("lang_index_in_recent").cast("long").as("lang_index_in_recent"),
      col("lang_count_in_recent").cast("long").as("lang_count_in_recent"),
      col("follower_following_ratio"),
      col("days_since_updated").cast("long").as("days_since_updated"),
      col("days_since_created").cast("long").as("days_since_created"),
      col("n_recent"),
      col("repo_stargazers_count"), col("repo_forks_count"),
      col("repo_days_since_updated").cast("long").as("repo_days_since_updated"),
      col("log_stars"),
      col("user_has_null"), col("has_ml"), col("has_fullstack"),
      col("has_backend"), col("has_phd"),
      col("repo_has_description"), col("repo_is_unmaintained"),
      col("repo_recently_pushed"),
      col("user_account_type"), col("company_binned"), col("clean_location"),
      col("language_binned"), col("stars_band"),
      array_join(col("recent_languages"), ",").as("recent_languages"),
      array_join(col("topics_list"), ",").as("topics_list"))
      .orderBy(col("user_id"), col("repo_id"))
  }

  /** The full feature pipeline (everything between the labeled frame
    * and the LR stage). */
  def featureStages(): Array[PipelineStage] = {
    val categorical = categoricalCols.flatMap { c =>
      Seq(
        new StringIndexer().setInputCol(c).setOutputCol(s"${c}__idx")
          .setHandleInvalid("keep"),
        new OneHotEncoder().setInputCol(s"${c}__idx").setOutputCol(s"${c}__ohe")
          .setDropLast(false))
    }
    val lists = listCols.map { c =>
      new CountVectorizer().setInputCol(c).setOutputCol(s"${c}__cv")
        .setMinDF(2).setMinTF(1)
    }
    val text = Seq(
      tokenizer,
      new StopWordsRemover().setInputCol("repo_description__words")
        .setOutputCol("repo_description__filtered")
        .setStopWords(StopWordsRemover.loadDefaultStopWords("english")),
      new Word2Vec().setInputCol("repo_description__filtered")
        .setOutputCol("repo_description__w2v")
        .setVectorSize(8).setMinCount(2).setMaxIter(2).setSeed(42))
    val assembler = new VectorAssembler()
      .setInputCols((booleanCols ++ continuousCols ++
        categoricalCols.map(c => s"${c}__ohe") ++
        listCols.map(c => s"${c}__cv") ++
        Seq("repo_description__w2v")).toArray)
      .setOutputCol("features")
    (Seq(crossFeatures) ++ categorical ++ lists ++ text :+ assembler).toArray
  }

  /** End-to-end: fit the full pipeline + weighted LR, return one row of
    * (n_features, train_rows, test_rows, auc). Seeded; rows-only gate
    * (LR internals are not SQL-expressible). */
  def trainAndEvaluate(spark: SparkSession): DataFrame = {
    val (model, train, test, data) = fittedRanker(spark)
    val scored = dropSuffixed(model.transform(test), "__idx")
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol("label").setRawPredictionCol("rawPrediction")
      .setMetricName("areaUnderROC").evaluate(scored)

    import spark.implicits._
    val nFeatures = scored.select(col("features")).head()
      .getAs[org.apache.spark.ml.linalg.Vector](0).size
    val auc3 = math.rint(auc * 1e3) / 1e3 // run-stable digits only
    // quality-parity band (BASELINE.md row 5 lifecycle on the fixture
    // corpus; observed 0.975): a broken feature path collapses toward
    // chance, a label leak saturates to 1.0 — both escape the band
    val out = Seq((nFeatures.toLong, train.count(), test.count(), auc3,
      auc3 >= 0.90 && auc3 <= 0.99))
      .toDF("n_features", "train_rows", "test_rows", "auc",
        "auc_within_band")
    // every consumer of the cached frame has run (fit, AUC, counts) —
    // release it now (r5 leak sweep); the result is a local relation
    data.unpersist()
    out
  }

  /** On-disk home of the q44b margin dump (frame + coefficients),
    * beside the albedo fixture parquet the oracles already read. */
  val marginDir: String = AlbedoFixtures.persistDir + "/lr_margin"

  /** On-disk home of the q60b ranker-metric dump (scored test frame +
    * integer discount table). */
  val metricsDir: String = AlbedoFixtures.persistDir + "/ranker_metrics"

  /** Shared deterministic layout + seeded split + memoized 26-stage fit
    * behind BOTH q60 (trainAndEvaluate) and q60b (metricReplay). One
    * definition, because both feed the ModelMemo key "albedo-ranker-lr":
    * with two copies, tuning one (a repartition count, a hyperparam)
    * would leave whichever gate runs second silently evaluating a model
    * fitted on the other's split. Returns (model, train, test, data);
    * the caller unpersists `data` once its consumers have run.
    *
    * Layout notes: HASH-partition on the key and sort within partitions
    * (unique (user_id, repo_id)) — round-robin repartition leaves
    * intra-partition order at shuffle-fetch order, which randomSplit
    * then samples, flipping split membership (and fitted vocab sizes)
    * between runs (r5 doublecheck caught 881 vs 878 n_features). */
  private def fittedRanker(spark: SparkSession)
      : (org.apache.spark.ml.PipelineModel, DataFrame, DataFrame, DataFrame) = {
    val base = booleanCols.foldLeft(labeledFeatureFrame(spark)) {
      (df, c) => df.withColumn(c, col(c).cast("double"))
    }
    // fixture-scale frame: collapse to a few partitions so the iterative
    // fit doesn't schedule 32-way shuffles over 10k rows, and cache so
    // each pipeline stage fit reuses the join lineage once
    val data = weigher.transform(base)
      .repartition(4, col("user_id"))
      .sortWithinPartitions("user_id", "repo_id")
      .cache()
    val lr = new LogisticRegression()
      .setMaxIter(15).setRegParam(0.1).setElasticNetParam(0.0)
      .setStandardization(true)
      .setFeaturesCol("features").setLabelCol("label")
      .setWeightCol("instance_weight")
    val pipeline = new Pipeline().setStages(featureStages() :+ lr)
    val Array(train, test) = data.randomSplit(Array(0.8, 0.2), seed = 42)
    // the 26-stage fit is the gates' dominant cost and fully seeded on
    // a fixed fixture — fit once per session, re-evaluate per call
    val model = ModelMemo.cached(spark, "albedo-ranker-lr")(pipeline.fit(train))
    (model, train, test, data)
  }

  /** Ranker metric replay (gate q60b; VERDICT r7 "Next round" #5) —
    * the q44b trick applied to the RANKING METRICS of the full 26-stage
    * pipeline: a fitted model's scores are data, and every ranking
    * metric is integer arithmetic over the ranked order. Score the
    * seeded test split with the memoized pipeline model, dump
    * (user_id, repo_id, label, margin) AND an integer-quantized DCG
    * discount table (rank → floor(1e9/log2(rank+1)), with prefix sums
    * for IDCG) to parquet, then recompute per-user NDCG@30 numerator/
    * denominator and the Mann-Whitney U statistic from those files in
    * each engine. Both engines read the same double margins (IEEE sort
    * order is engine-independent; repo_id breaks ties) and the same
    * discount integers, so no transcendental function is evaluated in
    * the replay — log2 appears only Spark-side when MATERIALIZING the
    * table. All outputs are exact Longs → hash-exact oracle.
    *
    * Reference for the metric semantics:
    * evaluators/RankingEvaluator.scala:14-108 (NDCG@k) and the
    * BinaryClassificationEvaluator AUC of LogisticRegressionRanker
    * .scala:330-337 (U/(n_pos·n_neg) is exactly areaUnderROC). */
  def metricReplay(spark: SparkSession): DataFrame = {
    import spark.implicits._
    import org.apache.spark.ml.functions.vector_to_array
    val (model, _, test, data) = fittedRanker(spark)
    graft.sources.Snapshots.publish(
      model.transform(test)
        .select(col("user_id").cast("long").as("user_id"),
          col("repo_id").cast("long").as("repo_id"), col("label"),
          vector_to_array(col("rawPrediction")).getItem(1).as("margin"))
        .coalesce(1),
      s"$metricsDir/scored.parquet")
    data.unpersist()
    // rank → (floor(1e9/log2(rank+1)), prefix sum) — IDCG@k of a user
    // with p positives is cum_q at rank min(k, p)
    val discRows = (1 to 30).scanLeft((0L, 0L, 0L)) { case ((_, _, cum), r) =>
      val d = math.floor(1e9 / (math.log(r + 1.0) / math.log(2.0))).toLong
      (r.toLong, d, cum + d)
    }.tail
    graft.sources.Snapshots.publish(
      discRows.toDF("rn", "disc_q", "cum_q").coalesce(1),
      s"$metricsDir/disc.parquet")

    // replay strictly from the dumped bytes (what DuckDB reads)
    val sc = spark.read.parquet(s"$metricsDir/scored.parquet")
    val dc = spark.read.parquet(s"$metricsDir/disc.parquet")
    import org.apache.spark.sql.expressions.Window
    val wDesc = Window.partitionBy("user_id")
      .orderBy(col("margin").desc, col("repo_id"))
    val wAsc = Window.partitionBy("user_id")
      .orderBy(col("margin").asc, col("repo_id"))
    val ranked = sc
      .withColumn("rn", row_number().over(wDesc).cast("long"))
      .withColumn("rn_asc", row_number().over(wAsc).cast("long"))
      .join(broadcast(dc.select("rn", "disc_q")), Seq("rn"), "left")
    val perUser = ranked.groupBy("user_id").agg(
      sum(when(col("label") > 0.5, 1L).otherwise(0L)).as("n_pos"),
      sum(when(col("label") <= 0.5, 1L).otherwise(0L)).as("n_neg"),
      sum(when(col("label") > 0.5 && col("rn") <= 30, col("disc_q"))
        .otherwise(0L)).as("dcg_q"),
      sum(when(col("label") > 0.5, col("rn_asc")).otherwise(0L))
        .as("pos_rank_sum"))
    perUser
      .join(broadcast(dc.select(col("rn").as("idcg_rn"), col("cum_q"))),
        col("idcg_rn") === least(lit(30L), col("n_pos")), "left")
      .select(col("user_id"), col("n_pos"), col("n_neg"), col("dcg_q"),
        coalesce(col("cum_q"), lit(0L)).as("idcg_q"),
        expr("pos_rank_sum - n_pos * (n_pos + 1) DIV 2").as("u_stat"))
      .orderBy("user_id")
  }

  /** DuckDB replay of [[metricReplay]] from the same two parquet dumps. */
  def metricReplayOracle: String =
    s"""WITH sc AS (SELECT * FROM read_parquet('$metricsDir/scored.parquet/*.parquet')),
       |dc AS (SELECT * FROM read_parquet('$metricsDir/disc.parquet/*.parquet')),
       |ranked AS (
       |  SELECT user_id, repo_id, label,
       |    row_number() OVER (PARTITION BY user_id ORDER BY margin DESC, repo_id) AS rn,
       |    row_number() OVER (PARTITION BY user_id ORDER BY margin ASC, repo_id) AS rn_asc
       |  FROM sc),
       |pu AS (
       |  SELECT user_id,
       |    sum(CASE WHEN label > 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_pos,
       |    sum(CASE WHEN label <= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_neg,
       |    sum(CASE WHEN label > 0.5 AND rn <= 30 THEN dc.disc_q ELSE 0 END)::BIGINT AS dcg_q,
       |    sum(CASE WHEN label > 0.5 THEN rn_asc ELSE 0 END)::BIGINT AS pos_rank_sum
       |  FROM ranked LEFT JOIN dc USING (rn) GROUP BY 1)
       |SELECT pu.user_id, pu.n_pos, pu.n_neg, pu.dcg_q,
       |  coalesce(d2.cum_q, 0)::BIGINT AS idcg_q,
       |  (pu.pos_rank_sum - pu.n_pos * (pu.n_pos + 1) // 2)::BIGINT AS u_stat
       |FROM pu LEFT JOIN dc d2 ON d2.rn = least(30, pu.n_pos)
       |ORDER BY user_id""".stripMargin

  /** The q44b feature list: every numeric/boolean column of the
    * q59-oracled deterministic frame. Each is an integer count, a 0/1
    * boolean, or a value the frame already rounds to 3 decimals — so
    * ×1000-and-floor is a LOSSLESS quantization and the margin replay
    * needs no libm function (exp/log never enter; the VERDICT r6 #4
    * caveat about non-correctly-rounded libm is sidestepped entirely). */
  private[graft] val marginFeatureCols = Seq(
    "lang_index_in_recent", "lang_count_in_recent",
    "follower_following_ratio", "days_since_updated", "days_since_created",
    "n_recent", "repo_stargazers_count", "repo_forks_count",
    "repo_days_since_updated", "log_stars") ++ booleanCols

  /** LR margin replay (VERDICT r6 #4, gate q44b) — the q25b trick
    * applied to logistic regression: a trained model's decision
    * function is data. Fit a weighted LR on the deterministic
    * (q59-oracled) feature frame, materialize BOTH the frame and the
    * coefficient vector to parquet, then recompute the top-200 quantized
    * logits from those files in each engine: margin_q =
    * floor(intercept·10⁶)·10³ + Σ_j floor(c_j·10⁶)·(f_j·10³).
    * Feature quantization is lossless (see [[marginFeatureCols]]); coef
    * truncation at 10⁻⁶ shifts a logit by < Σ|f_j|·10⁻⁶ ≈ 10⁻², far
    * below the gate's ranking granularity, and identically on both
    * sides. Products ≤ 3·10⁸·|c|·10⁶ ≈ 10¹⁶, sums < 2⁶³: exact Longs,
    * order-independent. Probabilities are never compared — only
    * margins, which are pure mul/add (IEEE-exact replay).
    *
    * The un-truncated AUC/NDCG quality of the production rankers stays
    * banded in q44/q60; this gate pins the LR APPLY path hash-exactly. */
  def marginReplay(spark: SparkSession): DataFrame = {
    import spark.implicits._
    // dump the deterministic frame (identical to q59's output, which
    // the driver hash-checks against DuckDB-from-fixtures)
    val frame = deterministicFeatureFrame(spark)
    graft.sources.Snapshots.publish(frame.coalesce(1),
      s"$marginDir/frame.parquet")
    // read BACK for both fit and margin math: the replay must see the
    // same bytes DuckDB reads
    val f = spark.read.parquet(s"$marginDir/frame.parquet")
    val lrm = ModelMemo.cached(spark, "lr-q44b-margin") {
      val assembled = new VectorAssembler()
        .setInputCols(marginFeatureCols.toArray).setOutputCol("features")
        .transform(marginFeatureCols.foldLeft(f) {
          (df, c) => df.withColumn(c, col(c).cast("double"))
        })
        // pin row order so the weighted LBFGS fit is bit-stable (see
        // trainAndEvaluate's repartition note)
        .repartition(4, col("user_id"))
        .sortWithinPartitions("user_id", "repo_id")
      new LogisticRegression()
        .setMaxIter(20).setRegParam(0.1).setElasticNetParam(0.0)
        .setStandardization(true)
        .setFeaturesCol("features").setLabelCol("label")
        .setWeightCol("instance_weight")
        .fit(assembled)
    }
    graft.sources.Snapshots.publish(
      Seq((lrm.coefficients.toArray, lrm.intercept))
        .toDF("coef", "intercept").coalesce(1),
      s"$marginDir/coef.parquet")
    val co = spark.read.parquet(s"$marginDir/coef.parquet")
    val fv = array(marginFeatureCols.map(c => col(c).cast("double")): _*)
    val dot = aggregate(
      zip_with(col("fv"), col("coef"), (x, c) =>
        floor(x * 1000).cast("long") * floor(c * 1e6).cast("long")),
      lit(0L), (acc, x) => acc + x)
    // top-200 via orderBy+limit FIRST (TakeOrderedAndProject — per-
    // partition heaps, no global shuffle), then rank only the 200
    // survivors; a row_number window over the raw frame would drag the
    // whole table through one partition
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("s").desc, col("user_id"), col("repo_id"))
    f.withColumn("fv", fv)
      .crossJoin(broadcast(co))
      .withColumn("s", dot)
      .withColumn("margin_q",
        col("s") + floor(col("intercept") * 1e6).cast("long") * 1000L)
      .orderBy(col("s").desc, col("user_id"), col("repo_id"))
      .limit(200)
      .withColumn("rn", row_number().over(w).cast("long"))
      .select(col("user_id"), col("repo_id"), col("label"),
        col("margin_q"), col("rn"))
      .orderBy(col("rn"))
  }

  /** DuckDB replay of [[marginReplay]] from the same two parquet dumps. */
  def marginReplayOracle: String = {
    val boolList = booleanCols
      .map(c => s"CASE WHEN $c THEN 1.0 ELSE 0.0 END").mkString(",\n|   ")
    s"""WITH fr AS (SELECT * FROM read_parquet('$marginDir/frame.parquet/*.parquet')),
       |co AS (SELECT coef, intercept
       |       FROM read_parquet('$marginDir/coef.parquet/*.parquet')),
       |fv AS (SELECT user_id, repo_id, label,
       |  [lang_index_in_recent::DOUBLE, lang_count_in_recent::DOUBLE,
       |   follower_following_ratio, days_since_updated::DOUBLE,
       |   days_since_created::DOUBLE, n_recent::DOUBLE,
       |   repo_stargazers_count::DOUBLE, repo_forks_count::DOUBLE,
       |   repo_days_since_updated::DOUBLE, log_stars,
       |   $boolList] AS fvec
       |  FROM fr),
       |un AS (SELECT user_id, repo_id, label, unnest(fvec) AS x,
       |         unnest(range(len(fvec))) AS d FROM fv),
       |cf AS (SELECT unnest(coef) AS c, unnest(range(len(coef))) AS d FROM co),
       |m AS (SELECT user_id, repo_id, label,
       |        sum(floor(x * 1000)::BIGINT * floor(c * 1e6)::BIGINT)::BIGINT AS s
       |      FROM un JOIN cf USING (d) GROUP BY 1, 2, 3),
       |r AS (SELECT user_id, repo_id, label,
       |        s + (SELECT floor(intercept * 1e6)::BIGINT * 1000 FROM co)
       |          AS margin_q,
       |        row_number() OVER (ORDER BY s DESC, user_id, repo_id) AS rn
       |      FROM m)
       |SELECT user_id, repo_id, label, margin_q, rn FROM r WHERE rn <= 200
       |ORDER BY rn""".stripMargin
  }
}
