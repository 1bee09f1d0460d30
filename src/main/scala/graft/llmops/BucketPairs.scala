package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bucketed candidate generation — the one partition-and-verify core
  * under every near-duplicate and ANN family in this package (MinHash
  * bands, SimHash blocks, sign-LSH tables). A family supplies its hash kernel as `(id, tbl, key)` bucket
  * rows and its own verify expression; everything between the two is
  * here, so skew and performance work lands once for all of them.
  *
  * The contract every caller relies on:
  *  - Candidates are (tbl, key) EQUI-JOIN collisions of the rows with
  *    themselves, or of a probe frame with an index frame ([[across]])
  *    — never a cross join — and a pair colliding in several tables is
  *    reported once.
  *  - Pair order: `ascending` keeps id_a < id_b (symmetric products
  *    report each unordered pair once); otherwise id_a ≠ id_b (per-query
  *    products need both directions).
  *  - Probe masks (multi-probe, Lv et al. VLDB 2007) XOR the PROBE side
  *    (id_a) only. The index side stays one row per (id, tbl), so a
  *    persisted index ([[AnnIndexSnapshot]]) is radius-independent. The
  *    single mask 0 is single-probe and skips the expansion.
  *  - Candidate rows carry ids only, and pairs are deduplicated BEFORE
  *    payloads are re-attached ([[withPayload]]): a bucket of size B
  *    joins to B² rows, so those rows must be 16 bytes, not two
  *    signatures or vectors wide (measured 30× on MinHash at sf0.1).
  *  - `cap` is the adversarial-flood guard: a (tbl, key) bucket larger
  *    than `cap` is SAMPLED down to `cap` members before the join (an
  *    exact-dup flood of 10^5 docs would otherwise emit 10^10 pairs).
  *    The sample is deterministic and varies by table — ordered by
  *    xxhash64(id, tbl, key), then id — so a flood, whose members
  *    collide in every table, keeps different survivors per table and
  *    stays connected across the union of tables instead of losing
  *    whole members. Recall caveat: a genuine pair whose ONLY colliding
  *    bucket is flooded is lost unless both members are sampled there
  *    (≈ (cap/B)² per table); oversized buckets are near-certainly
  *    exact-dup floods, which the exact-dedup pre-collapse owns. None
  *    keeps exact recall — the oracled gates run uncapped.
  */
private[llmops] object BucketPairs {

  /** Distinct candidate pairs (id_a, id_b) from `rows` (id, tbl, key);
    * masks need a long `key`. */
  def apply(rows: DataFrame, ascending: Boolean, masks: Seq[Long] = Seq(0L),
      cap: Option[Int] = None): DataFrame = {
    val capped = cap match {
      case Some(c) =>
        val byBucket = Window.partitionBy(col("tbl"), col("key"))
          .orderBy(xxhash64(col("id"), col("tbl"), col("key")), col("id"))
        rows.withColumn("__rk", row_number().over(byBucket))
          .filter(col("__rk") <= c)
      case None => rows
    }
    across(capped, capped,
      if (ascending) col("id_a") < col("id_b") else col("id_a") =!= col("id_b"),
      masks)
  }

  /** The probe-frame/index-frame form: distinct pairs (id_a, id_b) of a
    * `probe` row colliding with an `index` row (both (id, tbl, key)),
    * kept where `keep` (over id_a, id_b) holds. With probe = index it
    * is the self form; an incremental batch probes a stored index
    * ([[Dedup.incrementalAdmit]]). The flood cap belongs to the self
    * form; this form joins every row it is given. */
  def across(probe: DataFrame, index: DataFrame, keep: Column,
      masks: Seq[Long] = Seq(0L)): DataFrame = {
    val p = probe.select(col("tbl"), col("key"), col("id").as("id_a"))
    val a =
      if (masks == Seq(0L)) p
      else p.select(col("tbl"), col("key"), col("id_a"),
          explode(array(masks.map(lit): _*)).as("mask"))
        .select(col("tbl"), col("key").bitwiseXOR(col("mask")).as("key"),
          col("id_a"))
    val b = index.select(col("tbl"), col("key"), col("id").as("id_b"))
    a.join(b, Seq("tbl", "key"))
      .filter(keep)
      .select(col("id_a"), col("id_b"))
      .distinct()
  }

  /** `pairs` with each side's payload re-attached: `payload` is
    * (id, `name`), and the result gains `name`_a and `name`_b. */
  def withPayload(pairs: DataFrame, payload: DataFrame,
      name: String): DataFrame =
    pairs
      .join(payload.select(col("id").as("id_a"), col(name).as(s"${name}_a")),
        Seq("id_a"))
      .join(payload.select(col("id").as("id_b"), col(name).as(s"${name}_b")),
        Seq("id_b"))

  /** XOR masks enumerating every key within Hamming distance `radius`
    * of a `keyBits`-bit sign code: radius 1 adds `keyBits` masks,
    * radius 2 adds C(keyBits, 2). */
  def probeMasks(keyBits: Int, radius: Int): Seq[Long] = {
    require(radius >= 0 && radius <= 2, "probe radius 0..2 supported")
    val r1 = (0 until keyBits).map(j => 1L << j)
    val r2 = for {
      i <- 0 until keyBits; j <- (i + 1) until keyBits
    } yield (1L << i) | (1L << j)
    Seq(0L) ++ (if (radius >= 1) r1 else Nil) ++ (if (radius >= 2) r2 else Nil)
  }

  /** The exact-cosine top-k re-rank shared by every ANN family: over
    * candidate rows (id_a, id_b, v_a, v_b), keep each query id_a's k
    * best neighbors by (cosine desc, id_b asc) — a total order, so the
    * kept set is deterministic. Output (query_id, neighbor_id, cos
    * rounded to 6 digits, rn). */
  def cosineTopK(cand: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cos").desc, col("id_b"))
    cand
      .withColumn("cos",
        graft.functions.VectorFunctions.cosineNative(col("v_a"), col("v_b")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"),
        round(col("cos"), 6).as("cos"), col("rn"))
  }
}
