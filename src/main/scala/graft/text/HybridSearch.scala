package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hybrid retrieval: a second, model-distinct ranker (query likelihood
  * — the Dirichlet-smoothed unigram language model of Zhai & Lafferty
  * 2001) and reciprocal-rank fusion (Cormack et al. 2009) to merge it
  * with [[Bm25]]. This is the lexical half of the modern
  * retrieve-and-fuse stack a training-data curation pipeline uses for
  * targeted corpus queries; the fusion is rank-based, so an embedding
  * ANN ranking (q37/q66 family) plugs into the same `rrfFuse` without
  * score calibration.
  *
  * Determinism: per-term log scores are quantized to integer
  * millionths before summing (the [[Bm25]] rule), and the RRF
  * contribution 1000000 DIV (k + rank) is exact integer math — both
  * rankers and the fused order replay hash-exact in SQL.
  *
  * Scale shape: tf keeps only QUERY-term postings map-side under the
  * explode; the (term, cf) and (n, total) sides are tiny broadcasts.
  * The all-docs × query-terms grid is |docs|·|q| rows — linear in the
  * corpus for a bounded query — and every top-k is orderBy+limit
  * (TakeOrderedAndProject, per-partition heaps).
  */
object HybridSearch {

  /** Query-likelihood ranking: score(d) = Σ_t ln((tf_{t,d} + μ·cf_t/T)
    * / (dl_d + μ)) over the query terms — zero-tf terms contribute
    * their smoothed mass, so the sum runs over the full doc × term
    * grid, not just matches. Query terms absent from the corpus are
    * rejected (their smoothed probability is 0 ⇒ -∞).
    * Returns (doc_id, score_u, rank) for the top `topK`. */
  def queryLikelihood(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], mu: Double = 300.0, topK: Int = 20)
      : DataFrame = {
    val (dl, tf) = Bm25.lengthsAndQueryTf(docs, idCol, textCol, queryTerms)
    val total = dl.agg(sum(col("dl")).as("total"))
    val cf = tf.groupBy(col("term")).agg(sum(col("tf")).as("cf"))
    val scored = dl
      .crossJoin(broadcast(cf))
      .join(tf, Seq("doc_id", "term"), "left")
      .crossJoin(broadcast(total))
      .withColumn("s",
        log((coalesce(col("tf"), lit(0L)) + lit(mu) * col("cf") / col("total"))
          / (col("dl") + lit(mu))))
      .withColumn("s_u", round(col("s") * 1000000).cast("long"))
      .groupBy(col("doc_id")).agg(sum(col("s_u")).as("score_u"))
    scored
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score_u").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** Reciprocal-rank fusion of two rankings (doc_id, rank):
    * rrf_u(d) = Σ_r 1000000 DIV (k + rank_r(d)), absent ⇒ 0.
    * Returns (doc_id, rank_a, rank_b, rrf_u, rank) for the fused top
    * `topK`; absent source ranks surface as 0. */
  def rrfFuse(a: DataFrame, b: DataFrame, k: Int = 60, topK: Int = 10)
      : DataFrame = {
    val ra = a.select(col("doc_id"), col("rank").cast("long").as("rank_a"))
    val rb = b.select(col("doc_id"), col("rank").cast("long").as("rank_b"))
    ra.join(rb, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        coalesce(col("rank_a"), lit(0L)).as("rank_a"),
        coalesce(col("rank_b"), lit(0L)).as("rank_b"))
      .withColumn("rrf_u",
        when(col("rank_a") > 0, expr(s"1000000 DIV ($k + rank_a)"))
          .otherwise(lit(0L)) +
        when(col("rank_b") > 0, expr(s"1000000 DIV ($k + rank_b)"))
          .otherwise(lit(0L)))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("rrf_u").desc, col("doc_id"))).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("doc_id"), col("rank_a"), col("rank_b"),
        col("rrf_u"), col("rank"))
  }
}
