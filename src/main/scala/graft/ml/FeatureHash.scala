package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Hashing-trick term frequencies (the fixed-width sparse featurizer
  * MLlib's HashingTF provides, re-expressed relationally): term →
  * md5-derived bucket in [0, nFeatures), count per (doc, bucket).
  * No vocabulary pass, no fit, no driver state — the property that
  * makes the hashing trick the 100 TB featurizer of choice (one scan,
  * one shuffle on (doc, bucket); vocabulary-based encoders need a
  * global distinct + broadcast dictionary first).
  *
  * md5 instead of murmur3 keeps the bucket assignment engine-portable,
  * so the ENTIRE featurization is oracle-checkable — the same choice
  * as the MinHash, SimHash and sign-LSH kernels in graft.llmops,
  * which keep one md5 kernel per hash family.
  */
object FeatureHash {

  def hashedTf(docs: DataFrame, idCol: String, textCol: String,
      nFeatures: Int): DataFrame = {
    require(nFeatures > 0)
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(when(trim(coalesce(col(textCol), lit(""))) === "",
            array().cast("array<string>"))
          .otherwise(split(trim(lower(col(textCol))), "\\s+"))).as("term"))
      .withColumn("bucket",
        conv(substring(md5(col("term")), 1, 8), 16, 10).cast("long")
          % nFeatures)
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }
}
