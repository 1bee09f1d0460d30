package graft.queries

import graft.QueryDef
import graft.fixtures.AlbedoFixtures
import graft.reco._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end recommender-quality parity gates on the albedo-shaped
  * fixtures (FIXTURES.md §A / BASELINE.md rows 1-6).
  *
  * The reference publishes NDCG@30 per candidate generator and AUC for
  * the LR ranker (reference: README.md:57,96,113,137 and the builder
  * mains, e.g. PopularityRecommenderBuilder.scala:79). Those exact
  * values are dump-dependent (the albedo MySQL dump is not available
  * offline — BASELINE.md "BENCH targets"), so parity here means: the
  * same CG → evaluate lifecycle, fixed seeds, on the deterministic
  * fixtures, with each metric pinned to an observed-value band. A
  * regression in any CG path (scoring, ranking, exclusion, evaluator)
  * moves the rounded metric out of its band and flips `within_band` —
  * visible to the driver as changed gate rows, not just a spec.
  *
  * Metrics are rounded to 3 decimals (run-stable digits for seeded ML,
  * same policy as q47/q60 — RankerPipeline notes); bands are ±~0.05
  * absolute, wide enough for cross-version MLlib drift, narrow enough
  * that a broken path (NDCG collapsing toward 0, or leaking test
  * positives toward 1) always escapes.
  *
  * Scale: evaluation joins are keyed by user_id throughout
  * (RankingEvaluator design note); CG fan-outs broadcast their ≤k-row
  * item tables. The fixture is small, the plan is the 100 TB plan.
  */
object QualityParity {

  /** Frozen time split: stars before 2017-06-01 train, after test
    * (fixture stars span [snapshot-700d, snapshot-1d], snapshot
    * 2017-09-01 — AlbedoFixtures.ts). */
  val splitNs: Long = java.sql.Timestamp.valueOf("2017-06-01 00:00:00")
    .getTime * 1000000L

  /** starrings → the engine's interaction shape (user_id, item_id,
    * ts_ns, rating). */
  def fixtureInteractions(spark: SparkSession): DataFrame =
    AlbedoFixtures.starringsP(spark).select(
      col("user_id"),
      col("repo_id").as("item_id"),
      (unix_timestamp(col("starred_at")) * lit(1000000000L)).as("ts_ns"),
      col("starring").as("rating"))

  /** Repo text for the content CG — the reference's More-Like-This
    * fields: full_name / language / description / topics
    * (ContentRecommender.scala:51-56). */
  private def repoDocs(spark: SparkSession): DataFrame =
    AlbedoFixtures.reposP(spark).select(
      col("repo_id"),
      concat_ws(" ", col("repo_name"), col("repo_language"),
        col("repo_description"), col("repo_topics")).as("text"))

  /** Observed-value bands (fixture corpus, seed 42, 3dp rounding).
    * r11 (VERDICT r10 #8): widths HALVED and re-centered on the
    * observed values after 10 rounds of bit-stable readings (the 3dp
    * metrics have not moved since each gate landed; r11 re-confirmed
    * on byte-identical double verify runs). Margins recorded in
    * BASELINE.md "Fixture parity bands". */
  private val bands: Map[String, (Double, Double)] = Map(
    "als" -> (0.058, 0.098), // observed 0.078 (was 0.04-0.12)
    "content" -> (0.105, 0.155), // observed 0.130 (was 0.08-0.18)
    "curation" -> (0.018, 0.048), // observed 0.033 (was 0.01-0.07)
    "popularity" -> (0.008, 0.036), // observed 0.022 (was 0.005-0.06)
    "usercf" -> (0.093, 0.149)) // observed 0.121 (was 0.07-0.18, r8)

  /** One row per CG recommender: (recommender, k, n_users, ndcg,
    * band_lo, band_hi, within_band). Rows-only gate: the ALS factor
    * math is not SQL-expressible, and the point of the gate is the
    * pinned metric, not a replayable query. */
  def cgQuality(spark: SparkSession, dir: String): DataFrame = {
    val inter = fixtureInteractions(spark).cache()
    val train = inter.filter(col("ts_ns") < splitNs)
    val test = inter.filter(col("ts_ns") >= splitNs)
      .select(col("user_id"), col("item_id")).distinct().cache()
    // r18: materialize both caches BEFORE the evaluations fan out as
    // concurrent jobs below — concurrent readers of a still-cold cache
    // each recompute the subtree instead of sharing it (the q65
    // profiled race)
    inter.count(); test.count()
    val users = test.select(col("user_id")).distinct()

    val k = 30
    val trainRatings = train
      .groupBy(col("user_id"), col("item_id"))
      .agg(count(lit(1)).cast("double").as("rating"))

    val recommenders: Seq[(String, DataFrame)] = Seq(
      "popularity" -> new PopularityRecommender(train).recommendForUsers(users, k),
      // reference hyperparams shape (ALSRecommenderBuilder.scala:45-59)
      // at fixture-scale rank/iters; seed pinned; fit memoized per
      // session (fixture corpus is dir-independent)
      "als" -> graft.ml.ModelMemo.cached(spark, "als-q90") {
          AlsRecommender.train(trainRatings, rank = 16, regParam = 0.5,
            alpha = 40, maxIter = 8, seed = 42)
        }.recommendForUsers(users, k),
      "curation" -> new CurationRecommender(train, Seq(1, 2, 3, 5, 8))
        .recommendForUsers(users, k),
      // the r8 user-CF family (reference legacy path train_user_cf.py)
      // joins the parity sweep: same lifecycle, item-bucketed dice
      "usercf" -> UserCF.recommend(train, users, k, topNeighbors = 10)
        .withColumnRenamed("candidate", "item_id")
        .select(col("user_id"), col("item_id"), col("score")),
      "content" -> {
        val docs = repoDocs(spark)
        new ContentUserRecommender(train, docs, "repo_id", "text",
          weights = Some(Ml.memoTfidfWeights(spark, "tfidf-repo-fixture", docs, "repo_id")))
          .recommendForUsers(users, k)
      })

    val metricFrames = recommenders.map { case (name, recs) =>
      val (lo, hi) = bands(name)
      RankingEvaluator.evaluate(
          recs.select(col("user_id"), col("item_id"), col("score")), test, k)
        .select(
          lit(name).as("recommender"),
          col("k"),
          col("n_users"),
          round(col("ndcg"), 3).as("ndcg"),
          lit(lo).as("band_lo"),
          lit(hi).as("band_hi"))
        .withColumn("within_band",
          col("ndcg") >= col("band_lo") && col("ndcg") <= col("band_hi"))
    }
    // Overlap independent jobs: the five evaluations share
    // nothing past the warmed caches and each collapses to ONE metric
    // row, but evaluated as a single 5-way union they ran ~84 strictly
    // sequential stages — each stage's straggler tail leaving the other
    // cores idle. Submitting the five collects from a small pool lets
    // each evaluation's tail back-fill with the next one's tasks (FIFO
    // scheduling does the right thing). Rows, values and final ordering
    // are IDENTICAL: same per-frame plans, same union row set, same
    // orderBy. The collects share one job group, so when one fails its
    // siblings are cancelled rather than left running; the fixture
    // caches are released on every exit, since the result below is
    // built from the collected rows alone.
    val sc = spark.sparkContext
    val group = s"cg-quality-${java.util.UUID.randomUUID()}"
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    val rows = try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val fs = metricFrames.map(f => scala.concurrent.Future {
        sc.setJobGroup(group, "cgQuality metric collect",
          interruptOnCancel = true)
        try f.collect() finally sc.clearJobGroup()
      })
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(fs),
        scala.concurrent.duration.Duration.Inf).flatten
    } catch { case e: Throwable =>
      sc.cancelJobGroup(group)
      throw e
    } finally {
      pool.shutdownNow()
      inter.unpersist()
      test.unpersist()
    }
    spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), metricFrames.head.schema)
      .orderBy(col("recommender"))
  }

  /** Observed NDCG@5 band for the FM second stage (seed 42, 3dp, same
    * width policy as [[bands]]): q173 pins the FM's ARITHMETIC
    * hash-exactly, this row pins its RANKING QUALITY lifecycle —
    * feature build → seeded fit → score → per-user top-k → NDCG — so a
    * quality regression (zeroed one-hots, mis-scaled sides, a solver
    * change) flips `within_band` in the driver's own artifact instead
    * of hiding behind still-consistent replay hashes. */
  private val fmBand: (Double, Double) = (0.95, 1.0) // observed 0.999

  /** q90b: NDCG@5 of the FM ranker's per-user top-5 (the q173 replay
    * rows — quantized scores preserve ranking order by construction)
    * against the fixture's positive pairs. Train-side metric, like the
    * reference's published per-builder numbers: the lifecycle detector
    * is collapse-toward-chance, not generalization. */
  def fmQuality(spark: SparkSession, dir: String): DataFrame = {
    val replay = graft.ml.FmRanker.scoreReplay(spark)
    val positives = spark.read
      .parquet(s"${graft.ml.FmRanker.fmDir}/sparse.parquet")
      .filter(col("label") > 0.5)
      .select(col("user_id"), col("repo_id").as("item_id")).distinct()
    // rank by the replay's own exact-integer rank (negated — evaluator
    // sorts score desc), NOT by score_q cast to double: the FM bounds
    // allow |score_q| up to ~6.6e18, where a double ulp is ~10³ and a
    // legal score gap could collapse to an item_id tie (r14 review)
    val recs = replay.select(col("user_id"), col("repo_id").as("item_id"),
      (-col("rn")).cast("double").as("score"))
    val (lo, hi) = fmBand
    val out = RankingEvaluator.evaluate(recs, positives, 5)
      .select(
        lit("fm").as("recommender"),
        col("k"),
        col("n_users"),
        round(col("ndcg"), 3).as("ndcg"),
        lit(lo).as("band_lo"),
        lit(hi).as("band_hi"))
      .withColumn("within_band",
        col("ndcg") >= col("band_lo") && col("ndcg") <= col("band_hi"))
    graft.ops.Materialize.localThenUnpersist(out)
  }

  /** Observed held-out NDCG@30 band (seed 42, user-hash split at 0.8,
    * 3dp — width policy of [[bands]]; k = 30 is the reference's own
    * published metric depth). Measured at k=5 the held-out metric is
    * still a ceiling (0.9997 — every user's top-5 is all-positive on
    * the 1:1-balanced ~34-row candidate lists); at k=30 the ranking
    * covers nearly the whole list, so every mis-ordered
    * positive/negative pair shows (observed 0.990, vs ≈0.8 for a
    * random permutation of the balanced candidates). The band's UPPER
    * edge is deliberately below 1.0: a 3dp-perfect held-out ranking is
    * not achievable without label leakage into the features, so a
    * leak regression flips within_band just like a collapse does —
    * the fine-regression detector VERDICT r14 #1 asked for, sensitive
    * at both ends. */
  private val fmHeldOutBand: (Double, Double) = (0.95, 0.999) // observed 0.990

  /** q90c: NDCG@30 of the FM ranker on HELD-OUT users (seeded
    * user-hash split; fit on train users only; margin scores from the
    * fitted model over each held-out user's candidate rows) through
    * the same RankingEvaluator lifecycle as q90/q90b. */
  def fmHeldOutQuality(spark: SparkSession, dir: String): DataFrame = {
    val scored = graft.ml.FmRanker.heldOutScores(spark)
    val positives = scored.filter(col("label") > 0.5)
      .select(col("user_id"), col("repo_id").as("item_id")).distinct()
    val recs = scored.select(col("user_id"), col("repo_id").as("item_id"),
      col("score"))
    val (lo, hi) = fmHeldOutBand
    val out = RankingEvaluator.evaluate(recs, positives, 30)
      .select(
        lit("fm_heldout").as("recommender"),
        col("k"),
        col("n_users"),
        round(col("ndcg"), 3).as("ndcg"),
        lit(lo).as("band_lo"),
        lit(hi).as("band_hi"))
      .withColumn("within_band",
        col("ndcg") >= col("band_lo") && col("ndcg") <= col("band_hi"))
    graft.ops.Materialize.localThenUnpersist(out)
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q90_albedo_cg_quality", cgQuality, None),
    QueryDef("q90b_fm_ranker_quality", fmQuality, None),
    QueryDef("q90c_fm_heldout_quality", fmHeldOutQuality, None))
}
