package graft.llmops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Read-only access for the benchmark's traced run to the LSH bucket
  * rows behind [[Similarity.lshNearDupPairsPortable]], so it can count
  * the candidate pairs the cosine filter sees. */
object BenchAccess {
  /** Distinct bucket-colliding (id_a < id_b) pairs at the same operating
    * point [[Similarity.semanticDedup]] derives by default. */
  def lshCandidatePairs(vectors: DataFrame, nPlanes: Int, dim: Int): Long = {
    val tables = Similarity.lshTablesFor(nPlanes, Similarity.NearDupDesignCosMilli)
    val b = Similarity.portableBuckets(vectors, nPlanes, dim, tables, "vec_id", "embedding")
    b.select(col("tbl"), col("bucket"), col("id").as("id_a"))
      .join(b.select(col("tbl"), col("bucket"), col("id").as("id_b")), Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct().count()
  }
}
