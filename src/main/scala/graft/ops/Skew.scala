package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew mitigation primitives.
  *
  * AQE's skew-join splitting (enabled in the bench/verify sessions)
  * handles most runtime skew; these helpers cover the cases AQE can't:
  * a broadcast-ineligible dimension joined on a power-law key (the
  * reference's user/repo popularity skew — SURVEY.md §7.4), and
  * deterministic plans where runtime re-splitting is undesirable.
  */
object Skew {

  /** Salted equi-join: the big side gets a deterministic content-hash
    * salt in [0, nSalts); the small side is replicated nSalts× via an
    * exploded salt column; the join key becomes (key, salt), splitting
    * each hot key's rows across nSalts reducers.
    *
    * Result equals `big.join(small, key)` exactly; cost is nSalts×
    * replication of the small side (which must therefore be the
    * bounded one — same precondition as a broadcast, but without
    * needing it to fit in executor memory as a hash table). */
  def saltedEquiJoin(big: DataFrame, small: DataFrame, key: String,
      nSalts: Int): DataFrame = {
    require(nSalts > 0)
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(big.columns.map(col).toIndexedSeq: _*), lit(nSalts.toLong)))
    val replicatedSmall = small.withColumn("__salt",
      explode(sequence(lit(0L), lit(nSalts.toLong - 1))))
    saltedBig.join(replicatedSmall, Seq(key, "__salt")).drop("__salt")
  }
}
