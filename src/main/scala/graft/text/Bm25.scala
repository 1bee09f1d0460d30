package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Okapi BM25 ranked retrieval over a token inverted index — the
  * lexical-search counterpart of the TF-IDF similarity path
  * (reference analog: the ES more-like-this seam,
  * /root/reference/src/main/scala/ws/vinta/albedo/recommenders/ContentRecommender.scala:36-82,
  * re-expressed as an in-engine inverted index like q41).
  *
  * Formula (Lucene-shaped, non-negative idf):
  *   idf(t)  = ln((N - df + 0.5) / (df + 0.5) + 1)
  *   s(t, d) = idf(t) * tf*(k1+1) / (tf + k1*(1 - b + b*dl*N/sum_dl))
  * Per-term contributions are quantized to integer millionths BEFORE
  * summing, so document scores are an exact BIGINT sum — no float-sum
  * ordering nondeterminism across engines or partition layouts.
  *
  * Scale shape: only the QUERY terms' posting lists enter the shuffle
  * (the isin filter runs map-side under the explode); df and the
  * (N, sum_dl) scalar are tiny broadcast sides; the global top-k is an
  * orderBy+limit ⇒ TakeOrderedAndProject (per-partition heaps, no
  * global sort).
  */
object Bm25 {

  /** The lexical rankers' shared inputs over lower-cased whitespace
    * tokens (blank text has none): `dl` (doc_id, dl), every doc's token
    * count, and `tf` (doc_id, term, tf) for the query terms only — the
    * isin filter runs map-side under the explode. */
  private[text] def lengthsAndQueryTf(docs: DataFrame, idCol: String,
      textCol: String, queryTerms: Seq[String]): (DataFrame, DataFrame) = {
    require(queryTerms.nonEmpty)
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      when(trim(coalesce(col(textCol), lit(""))) === "", array().cast("array<string>"))
        .otherwise(split(trim(lower(col(textCol))), "\\s+")).as("toks"))
    val dl = base.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val tf = base.select(col("doc_id"), explode(col("toks")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    (dl, tf)
  }

  /** Top-k documents for a bag-of-words query. Returns
    * (doc_id, score_u, score, rank) with score_u the exact integer
    * micro-score. */
  def search(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75,
      topK: Int = 20): DataFrame = {
    val (dl, tf) = lengthsAndQueryTf(docs, idCol, textCol, queryTerms)
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val df_ = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))

    val contrib = tf
      .join(broadcast(df_), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("s",
        col("idf") * col("tf") * (k1 + 1.0) /
          (col("tf") + lit(k1) * (lit(1.0 - b) +
            lit(b) * col("dl") * col("n_docs") / col("sum_dl"))))
      .withColumn("s_u", round(col("s") * 1000000).cast("long"))

    val scored = contrib.groupBy(col("doc_id"))
      .agg(sum(col("s_u")).as("score_u"))
      .orderBy(col("score_u").desc, col("doc_id"))
      .limit(topK)
    import org.apache.spark.sql.expressions.Window
    scored
      .withColumn("score", col("score_u") / 1000000.0)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_u").desc, col("doc_id"))).cast("long"))
  }
}
