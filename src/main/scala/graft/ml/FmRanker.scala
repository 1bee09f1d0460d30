package graft.ml

import graft.fixtures.AlbedoFixtures
import org.apache.spark.ml.classification.FMClassifier
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Factorization-machine second-stage ranker — the last unported slice
  * of the reference's legacy model zoo (SURVEY §2 #92): GraphLab's
  * `ranking_factorization_recommender` over (user, item, rating=1)
  * interactions (reference `A/management/commands/train_graphlab.py:
  * 21-36` — id×id factorization with a binary target, then per-user
  * top-k). Re-expressed Spark-first: MLlib's `FMClassifier` (native
  * distributed FM, Spark 3.0+) over user one-hot ⊕ repo one-hot ⊕ the
  * q59-oracled side features — with only the one-hots this IS the
  * reference's matrix factorization with biases; the side features are
  * the FM generalization GraphLab's `side_data` would have used.
  *
  * Correctness gate (q173): the q44b margin-replay technique extended
  * to the FM's pairwise term. A trained FM's decision function is
  * data:
  *
  *   score(x) = w₀ + Σⱼ wⱼxⱼ + ½ Σ_f [(Σⱼ v_{j,f} xⱼ)² − Σⱼ v²_{j,f} x²ⱼ]
  *
  * Dump the SPARSE feature entries (user_id, repo_id, d, x) with x
  * pre-quantized to integers (scaled side features ∈ [0,1000], one-hot
  * hits = 1000) plus the model (intercept, linear, factors) to parquet;
  * each engine recomputes the quantized score from those files in
  * exact integer arithmetic:
  *
  *   lin    = Σⱼ ⌊wⱼ·10⁶⌋·xⱼ                 (units: 10⁹ per real unit)
  *   S_f    = Σⱼ ⌊v_{j,f}·10⁴⌋·xⱼ            (units: 10⁷)
  *   Q_f    = Σⱼ ⌊v_{j,f}·10⁴⌋²·x²ⱼ          (units: 10¹⁴)
  *   scoreQ = 2·10⁵·lin + Σ_f (S_f² − Q_f) + ⌊w₀·10⁶⌋·2·10⁸
  *                                            (= 2·10¹⁴ · score + ε)
  *
  * Products and sums are Longs; [[boundsCheck]] asserts |lin| < 10¹³
  * and |S_f| < 10⁹ at dump time so Σ_f S² < 4·10¹⁸ and the total stays
  * under 2⁶³ BY MEASUREMENT, not hope (DuckDB's BIGINT ops error on
  * overflow, so a violated bound is loud in both engines). The v-
  * quantization at 10⁻⁴ (coarser than the LR twin's 10⁻⁶ because the
  * term is squared) shifts a score by < 2·Σ_f|S_f|·10³·nnz·10⁻⁴-scale
  * terms ≈ 10⁻³ of the score — far below ranking granularity, and
  * identically on both sides. Only integer scoreQ values are compared.
  *
  * Scale: FM apply is a broadcast-model map (the sparse-join replay
  * here is itself the keyed-agg shape — explode → join tiny coef dim
  * table → groupBy pair); FM training treeAggregates a ~dim·(k+1)
  * gradient per iteration. Both are the standard 100 TB patterns. The
  * per-user top-k is rank-by-score ≤ k (SURVEY row 39's shape). */
object FmRanker {

  /** On-disk home of the q173 dump (sparse frame + model), beside the
    * other replay dumps. */
  val fmDir: String = AlbedoFixtures.persistDir + "/fm_ranker"

  private val numericCols = Seq(
    "lang_index_in_recent", "lang_count_in_recent",
    "follower_following_ratio", "days_since_updated", "days_since_created",
    "n_recent", "repo_stargazers_count", "repo_forks_count",
    "repo_days_since_updated", "log_stars")
  private val boolCols = Seq("user_has_null", "has_ml", "has_fullstack",
    "has_backend", "has_phd", "repo_has_description", "repo_is_unmaintained",
    "repo_recently_pushed")
  private val nSide = numericCols.size + boolCols.size

  private val TopK = 5
  private val FactorSize = 4

  /** Deterministic dense index for a key column: the 0-based rank of
    * each distinct value in global sort order — the same mapping as
    * `row_number() over (order by key)`, built WITHOUT the empty-frame
    * window's single-task funnel (VERDICT r13 "what's wrong"). Shape:
    * distinct (keyed shuffle) → range-partitioned sort (parallel) →
    * `zipWithIndex` (one count job over partition sizes, then a map
    * that adds the per-partition offset). Every stage is keyed or
    * map-only, so a 10⁹-entity id dictionary indexes at full cluster
    * width. Deterministic because distinct keys have a total order —
    * partition boundaries can move without changing any key's rank
    * (pinned by `FmRankerSpec`'s window-equivalence property). */
  def denseIndex(df: DataFrame, keyCol: String,
      idxName: String): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val sorted = df.select(col(keyCol)).distinct().orderBy(col(keyCol))
    val schema = StructType(sorted.schema.fields :+
      StructField(idxName, LongType, nullable = false))
    sorted.sparkSession.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      schema)
  }

  /** Side features quantized to [0, 1000]: numeric min-max scaled then
    * floored (min/max over `frame` — a bounded 20-value collect; the
    * q173 path passes the full frame, the held-out path passes TRAIN
    * rows only, because scaling stats are fitted parameters),
    * booleans as 0/1000. Engine-only computation; the dump carries the
    * resulting integers, so the oracle never re-derives them. */
  private def sideExprs(frame: DataFrame): Seq[Column] = {
    val aggExprs = numericCols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"mn_$c"),
        max(col(c).cast("double")).as(s"mx_$c")))
    val stats = frame.agg(aggExprs.head, aggExprs.tail: _*).head()
    val scaled = numericCols.zipWithIndex.map { case (c, i) =>
      val mn = stats.getDouble(2 * i)
      val mx = stats.getDouble(2 * i + 1)
      if (mx > mn)
        floor((col(c).cast("double") - lit(mn)) / lit(mx - mn) * 1000.0)
          .cast("long")
      else lit(0L)
    }
    // the deterministic frame mixes BOOLEAN and 0.0/1.0 DOUBLE flags —
    // a double cast normalizes both
    val bools = boolCols.map(c =>
      when(col(c).cast("double") > 0.5, 1000L).otherwise(0L))
    scaled ++ bools
  }

  /** Builds the sparse quantized feature entries and the dense training
    * frame from [[AlbedoRanker.deterministicFeatureFrame]], fits the
    * seeded FM, and dumps both sides of the replay to [[fmDir]].
    * Returns the fitted model. The WHOLE path (frame build + fit +
    * dump + bounds checks) is memoized per session (r14): everything
    * is seed-deterministic, so a second gate in the same driver (q90b
    * after q173; bench passes 2+) reuses both the model and the
    * on-disk dump instead of paying a full rebuild — the same policy
    * as q90's memoized CG fits. A GC-cleared soft ref just re-runs
    * the deterministic body (identical bytes re-dumped). */
  private def fitAndDump(spark: SparkSession)
      : org.apache.spark.ml.classification.FMClassificationModel =
    ModelMemo.cached(spark, "fm-q173-fit-and-dump")(fitAndDumpImpl(spark))

  /** Shared featurization core (extracted r15 — the held-out path had
    * copy-pasted it, a silent-divergence risk the review flagged):
    * entity indices over the FULL frame (held-out users keep valid
    * one-hot positions — their weights just stay at init), side
    * features quantized with min-max stats from `statsFrame` (full
    * frame for q173; TRAIN rows only for q90c), and the pinned
    * partitioning that makes the seeded full-batch fit bit-stable
    * (the q44b repartition note: treeAggregate merges partitions in
    * index order, so fixed partitioning ⇒ fixed float sum order).
    * Returns the cached frame + entity counts; callers unpersist. */
  private def indexedFrame(spark: SparkSession, frame0: DataFrame,
      statsFrame: DataFrame): (DataFrame, Int, Int) = {
    val uIdx = denseIndex(frame0, "user_id", "uidx")
    val rIdx = denseIndex(frame0, "repo_id", "ridx")
    val nUsers = uIdx.count().toInt
    val nRepos = rIdx.count().toInt
    val frame = frame0.join(uIdx, "user_id").join(rIdx, "repo_id")
      .withColumn("side", array(sideExprs(statsFrame): _*))
      .repartition(4, col("user_id"))
      .sortWithinPartitions("user_id", "repo_id")
      .cache()
    (frame, nUsers, nRepos)
  }

  /** Sparse keyed assembly shared by the q173 fit and the q90c
    * held-out fit/score paths: ~20 nonzeros against
    * dim = nSide + nUsers + nRepos (a dense one-hot frame is
    * O(entities) per row — the sparse vector is the scale-correct
    * shape). Bit-equivalent to a dense construction: IEEE sums are
    * unchanged by skipping exact-zero terms. Keys ride along; the fit
    * reads only (label, features). */
  private def assembleKeyed(spark: SparkSession, df: DataFrame,
      nUsers: Int, nRepos: Int): DataFrame = {
    import spark.implicits._
    val dim = nSide + nUsers + nRepos
    df.select(col("user_id").cast("long"), col("repo_id").cast("long"),
        col("label").cast("double").as("label"),
        col("uidx"), col("ridx"), col("side"))
      .map { r =>
        val side = r.getAs[scala.collection.Seq[Long]]("side")
        val entries = side.iterator.zipWithIndex
          .collect { case (x, i) if x != 0L => (i, x.toDouble / 1000.0) }
          .toArray ++ Array(
            (nSide + r.getAs[Long]("uidx").toInt, 1.0),
            (nSide + nUsers + r.getAs[Long]("ridx").toInt, 1.0))
        (r.getLong(0), r.getLong(1), r.getDouble(2),
          org.apache.spark.ml.linalg.Vectors.sparse(
            dim, entries.map(_._1), entries.map(_._2)))
      }.toDF("user_id", "repo_id", "label", "features")
  }

  /** The shared seeded estimator (one definition — q173's replay and
    * q90c's held-out band must always measure the same model family). */
  private def fmEstimator(): FMClassifier =
    new FMClassifier()
      .setFeaturesCol("features").setLabelCol("label")
      .setFactorSize(FactorSize).setMaxIter(30)
      .setRegParam(0.01).setStepSize(0.05).setInitStd(0.01)
      .setMiniBatchFraction(1.0).setSolver("adamW").setSeed(42L)

  private def fitAndDumpImpl(spark: SparkSession)
      : org.apache.spark.ml.classification.FMClassificationModel = {
    val frame0 = AlbedoRanker.deterministicFeatureFrame(spark)
    val (frame, nUsers, nRepos) = indexedFrame(spark, frame0, frame0)

    // ---- sparse replay entries: side ⊕ user one-hot ⊕ repo one-hot --
    val keys = Seq(col("user_id"), col("repo_id"), col("label"))
    val side = frame.select(keys :+ posexplode(col("side")).as(Seq("d", "x")): _*)
      .filter(col("x") =!= 0L)
      .withColumn("d", col("d").cast("long"))
    val uRows = frame.select(keys :+ (lit(nSide.toLong) + col("uidx")).as("d")
      :+ lit(1000L).as("x"): _*)
    val rRows = frame.select(keys
      :+ (lit((nSide + nUsers).toLong) + col("ridx")).as("d")
      :+ lit(1000L).as("x"): _*)
    // publish, not overwrite: the r15 q90 bench flake was exactly this
    // path — an overwrite deleting part files a memoized reader's
    // cached plan still referenced (VERDICT r15 #1)
    graft.sources.Snapshots.publish(
      side.unionByName(uRows).unionByName(rRows).coalesce(1),
      s"$fmDir/sparse.parquet")

    // ---- sparse training features (engine-only; never dumped) -----
    // keys ride through assembleKeyed and are ignored by the fit;
    // per-partition row order is unchanged, so the seeded fit (and
    // therefore the q173 replay) is bit-identical to the pre-r15
    // label+features-only assembly.
    val dim = nSide + nUsers + nRepos
    val assembled = assembleKeyed(spark, frame, nUsers, nRepos)
    val model = ModelMemo.cached(spark, "fm-q173") {
      fmEstimator().fit(assembled)
    }
    frame.unpersist()

    // factors orientation differs across Spark versions — normalize to
    // feature-major (dim rows × FactorSize cols)
    val fmMat = model.factors
    require(fmMat.numRows == dim || fmMat.numCols == dim,
      s"unexpected factors shape ${fmMat.numRows}x${fmMat.numCols} for dim=$dim")
    val featureMajor: Array[Array[Double]] =
      if (fmMat.numRows == dim)
        Array.tabulate(dim, fmMat.numCols)((j, f) => fmMat(j, f))
      else Array.tabulate(dim, fmMat.numRows)((j, f) => fmMat(f, j))
    require(model.linear.size == dim)
    require(math.abs(model.intercept) < 1e3,
      "intercept out of the replay's quantization budget")
    import spark.implicits._
    graft.sources.Snapshots.publish(
      Seq((model.intercept, model.linear.toArray, featureMajor))
        .toDF("intercept", "linear", "factors").coalesce(1),
      s"$fmDir/model.parquet")
    inputBoundsCheck(spark)
    model
  }

  /** The fitted q173 model, for callers that need `predictRaw` (specs
    * tying the quantized replay to the model's own decision function).
    * Always safe to call in isolation: a cold session memo runs the
    * full seeded fit + dump (deterministic, so a refit returns the
    * same model and re-dumps identical bytes); a warm memo returns the
    * model directly — the replay files on disk are the ones that fit
    * produced. */
  def fittedModel(spark: SparkSession)
      : org.apache.spark.ml.classification.FMClassificationModel =
    fitAndDump(spark)

  /** Train-user fraction of the q90c held-out split. */
  private val HeldOutTrainFrac = 0.8

  /** Held-out generalization scores for the FM ranker (r15, VERDICT
    * r14 #1): q90b's NDCG is train-side — a ceiling metric that
    * detects collapse but not fine regressions. This is the
    * generalization half: a portable user-hash split of the
    * deterministic feature frame (every row of a user lands on one
    * side — `Splits.hashBucketPortable`, the reference's
    * randomSplitByUser re-expressed map-only), a seeded FM fit on the
    * TRAIN users' rows over the FULL entity index space, and raw-
    * margin scores on the HELD-OUT users' rows. A held-out user's own
    * one-hot was never updated by training, so their ranking rests on
    * the repo one-hots and side features — exactly the signal that
    * generalizes; regressions there (mis-scaled sides, zeroed repo
    * factors) move this metric while leaving q90b's memorized-user
    * ceiling intact.
    *
    * Returns one row per held-out (user_id, repo_id) with label and
    * double margin score. Memoized per session (seed-deterministic,
    * same policy as the q173 fit); the q173 dump is untouched —
    * separate fit, separate memo key. */
  def heldOutScores(spark: SparkSession): DataFrame =
    ModelMemo.cached(spark, "fm-q90c-heldout")(heldOutScoresImpl(spark))

  private def heldOutScoresImpl(spark: SparkSession): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    val frame0 = AlbedoRanker.deterministicFeatureFrame(spark)
    val cut = math.round(HeldOutTrainFrac * 1000000)
    val bucket = graft.reco.Splits.hashBucketPortable(col("user_id"), "q90c")
    // side-feature scaling stats from TRAIN rows only (r15 review):
    // min-max scaling is a fitted parameter, so held-out rows must not
    // shape it — a held-out feature outside the train range simply
    // quantizes outside [0, 1000], which the FM handles like any
    // other real input. The split FILTERS the pinned-partitioning
    // frame, preserving the train side's float-sum order.
    val (frame, nUsers, nRepos) =
      indexedFrame(spark, frame0, frame0.filter(bucket < cut))
    val model = fmEstimator()
      .fit(assembleKeyed(spark, frame.filter(bucket < cut), nUsers, nRepos))
    val scored = model.transform(
        assembleKeyed(spark, frame.filter(bucket >= cut), nUsers, nRepos))
      .select(col("user_id"), col("repo_id"), col("label"),
        vector_to_array(col("rawPrediction")).getItem(1).as("score"))
    // bounded: held-out rows of the fixture frame — materialize so the
    // cached feature frame can be released now (q90's Materialize
    // policy), and so the memoized value doesn't pin executor blocks
    graft.ops.Materialize.localThenUnpersist(scored, frame)
  }

  /** Dump-time INPUT bounds (ADVICE r13 #4): the scoreQ docstring
    * claims overflow is "loud in both engines", but Spark's non-ANSI
    * Long sums wrap silently, and [[boundsCheck]] only inspects the
    * already-aggregated lin/S_f — a wrap that lands back inside the
    * bound would pass engine-side while DuckDB aborts. These bounds on
    * the RAW dumped entries make a wrap impossible rather than
    * unlikely: with nnzMax entries per (user, repo), |x| ≤ xMax and
    * |wq| ≤ wqMax, every partial sum of Σ wq·x is ≤ nnzMax·wqMax·xMax —
    * asserted < the 10¹³ lin bound, so no intermediate value can reach
    * 2⁶³ no matter the aggregation order; likewise Σ vq·x < 10⁹ and
    * Σ vq²·x² (via BigInt arithmetic, immune to wrap in the check
    * itself) < 10¹⁴·nSide-scale slack. Three bounded aggs over the
    * dump, once per fit. */
  private def inputBoundsCheck(spark: SparkSession): Unit = {
    val sp = spark.read.parquet(s"$fmDir/sparse.parquet")
    val mo = spark.read.parquet(s"$fmDir/model.parquet")
    val nnzMax = sp.groupBy(col("user_id"), col("repo_id"))
      .agg(count(lit(1)).as("nnz"))
      .agg(max(col("nnz"))).head().getLong(0)
    val xMax = sp.agg(max(abs(col("x")))).head().getLong(0)
    val wqMax = mo.select(explode(col("linear")).as("w"))
      .agg(max(abs(floor(col("w") * 1e6).cast("long")))).head().getLong(0)
    val vqMax = mo.select(explode(col("factors")).as("frow"))
      .select(explode(col("frow")).as("v"))
      .agg(max(abs(floor(col("v") * 1e4).cast("long")))).head().getLong(0)
    val linPeak = BigInt(nnzMax) * BigInt(wqMax) * BigInt(xMax)
    val sPeak = BigInt(nnzMax) * BigInt(vqMax) * BigInt(xMax)
    val qPeak = BigInt(nnzMax) * BigInt(vqMax) * BigInt(vqMax) *
      BigInt(xMax) * BigInt(xMax)
    require(linPeak < BigInt("10000000000000"),
      s"FM replay input bound: nnzMax=$nnzMax x wqMax=$wqMax x xMax=$xMax " +
        s"= $linPeak could exceed the 1e13 lin bound mid-sum")
    require(sPeak < BigInt(1000000000L),
      s"FM replay input bound: nnzMax=$nnzMax x vqMax=$vqMax x xMax=$xMax " +
        s"= $sPeak could exceed the 1e9 S_f bound mid-sum")
    require(qPeak < BigInt("100000000000000000"),
      s"FM replay input bound: Q_f peak $qPeak too close to 2^63")
  }

  /** Asserts the integer-overflow bounds the scoreQ arithmetic relies
    * on, over the ACTUAL dumped data (one bounded agg): |lin| < 10¹³
    * and |S_f| < 10⁹ keep every product and running sum below 2⁶³. */
  private def boundsCheck(lin: DataFrame, sq: DataFrame): Unit = {
    val maxLin = lin.agg(max(abs(col("lin")))).head().getLong(0)
    val maxS = sq.agg(max(abs(col("s")))).head().getLong(0)
    require(maxLin < 10000000000000L, s"|lin|=$maxLin breaches the 1e13 replay bound")
    require(maxS < 1000000000L, s"|S_f|=$maxS breaches the 1e9 replay bound")
  }

  /** Gate q173: fit (memoized), dump, and recompute the per-user top-5
    * quantized FM scores from the dumped files — the engine half of the
    * hash-exact replay the DuckDB oracle mirrors byte-for-byte. */
  def scoreReplay(spark: SparkSession): DataFrame = {
    fitAndDump(spark)
    val sp = spark.read.parquet(s"$fmDir/sparse.parquet")
    val mo = spark.read.parquet(s"$fmDir/model.parquet")
    scoreEntries(sp, mo)
  }

  /** The FM APPLY path over sparse feature entries — quantized scoring
    * + per-user top-k from an already-fitted model frame. Shape: two
    * broadcast joins against the tiny coefficient dims, keyed aggs on
    * (user, repo[, f]), then rank-by-score ≤ k — every exchange keyed
    * by pair or user, so throughput is linear in feature entries at
    * any corpus size (exponent: SCALE.md "r13 FM apply path").
    * Extracted so scale probes drive the REAL operator, not a twin. */
  def scoreEntries(sp: DataFrame, mo: DataFrame): DataFrame = {
    val interceptQ = {
      val w0 = mo.select(col("intercept")).head().getDouble(0)
      math.floor(w0 * 1e6).toLong * 200000000L
    }
    val cf = mo.select(posexplode(col("linear")).as(Seq("d", "w")))
      .select(col("d").cast("long").as("d"),
        floor(col("w") * 1e6).cast("long").as("wq"))
    val vf = mo.select(posexplode(col("factors")).as(Seq("d", "frow")))
      .select(col("d").cast("long").as("d"),
        posexplode(col("frow")).as(Seq("f", "v")))
      .select(col("d"), col("f"),
        floor(col("v") * 1e4).cast("long").as("vq"))
    val lin = sp.join(broadcast(cf), "d")
      .groupBy(col("user_id"), col("repo_id"), col("label"))
      .agg(sum(col("wq") * col("x")).as("lin"))
    val sq = sp.join(broadcast(vf), "d")
      .groupBy(col("user_id"), col("repo_id"), col("f"))
      .agg(sum(col("vq") * col("x")).as("s"),
        sum(col("vq") * col("vq") * col("x") * col("x")).as("q"))
    boundsCheck(lin, sq)
    val pw = sq.groupBy(col("user_id"), col("repo_id"))
      .agg(sum(col("s") * col("s") - col("q")).as("pair"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("score_q").desc, col("repo_id"))
    lin.join(pw, Seq("user_id", "repo_id"))
      .withColumn("score_q",
        lit(2L) * lit(100000L) * col("lin") + col("pair") + lit(interceptQ))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= TopK)
      .select(col("user_id"), col("repo_id"), col("label"),
        col("score_q"), col("rn"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** DuckDB replay of [[scoreReplay]] from the same two parquet dumps.
    * Every aggregate is cast back to BIGINT (DuckDB widens SUM(BIGINT)
    * to HUGEINT); BIGINT multiplication errors on overflow, so the
    * bounds [[boundsCheck]] asserts engine-side are loud here too. */
  def scoreReplayOracle: String =
    s"""WITH sp AS (SELECT * FROM read_parquet('$fmDir/sparse.parquet/*.parquet')),
       |mo AS (SELECT * FROM read_parquet('$fmDir/model.parquet/*.parquet')),
       |cf AS (SELECT unnest(range(len(linear))) AS d, unnest(linear) AS w FROM mo),
       |vr AS (SELECT unnest(range(len(factors))) AS d, unnest(factors) AS frow FROM mo),
       |vf AS (SELECT d, unnest(range(len(frow))) AS f, unnest(frow) AS v FROM vr),
       |lin AS (SELECT user_id, repo_id, label,
       |    CAST(sum(CAST(floor(w * 1e6) AS BIGINT) * x) AS BIGINT) AS lin
       |  FROM sp JOIN cf USING (d) GROUP BY 1, 2, 3),
       |sq AS (SELECT user_id, repo_id, f,
       |    CAST(sum(CAST(floor(v * 1e4) AS BIGINT) * x) AS BIGINT) AS s,
       |    CAST(sum(CAST(floor(v * 1e4) AS BIGINT)
       |             * CAST(floor(v * 1e4) AS BIGINT) * x * x) AS BIGINT) AS q
       |  FROM sp JOIN vf USING (d) GROUP BY 1, 2, 3),
       |pw AS (SELECT user_id, repo_id,
       |    CAST(sum(s * s - q) AS BIGINT) AS pair FROM sq GROUP BY 1, 2),
       |sc AS (SELECT l.user_id, l.repo_id, l.label,
       |    2 * 100000 * l.lin + p.pair
       |      + (SELECT CAST(floor(intercept * 1e6) AS BIGINT)
       |                * 200000000 FROM mo) AS score_q
       |  FROM lin l JOIN pw p ON l.user_id = p.user_id
       |    AND l.repo_id = p.repo_id),
       |r AS (SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY score_q DESC, repo_id) AS rn FROM sc)
       |SELECT user_id, repo_id, label, score_q, rn
       |FROM r WHERE rn <= $TopK ORDER BY user_id, rn""".stripMargin
}
