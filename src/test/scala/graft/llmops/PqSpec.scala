package graft.llmops

import graft.SparkSpec
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Product quantization ([[ProductQuantization]], gate q115):
  * codebook shape, assignment optimality, ADC consistency, recall vs
  * the exact integer-L2 ranking, empty-cluster survival, determinism. */
class PqSpec extends SparkSpec {
  import graft.llmops.{ProductQuantization => PQ}

  private val m = 8
  private val dim = 64
  private val k = 16

  private lazy val emb = Tables.embeddings(spark, sf0001)
  private lazy val cents = PQ.train(emb, m, dim, k, iters = 3)
  private lazy val centDf = {
    import spark.implicits._
    cents.toDF()
  }

  test("codebook has m*k centroids of subdim length") {
    assert(cents.size == m * k)
    assert(cents.forall(_.cvec.size == dim / m))
    assert(cents.map(c => (c.sub, c.c)).distinct.size == m * k)
  }

  test("every (id, sub) gets the nearest code (ties to smallest c)") {
    val sv = PQ.subvectors(emb, m, dim)
    val codes = PQ.encode(emb, centDf, m, dim)
    // recompute the full distance matrix and asser the chosen code is
    // minimal; strictly-smaller alternative distance = violation
    val full = sv.join(broadcast(centDf), Seq("sub"))
      .withColumn("dd", aggregate(
        zip_with(col("qv"), col("cvec"), (x, y) => (x - y) * (x - y)),
        lit(0L), (s, t) => s + t))
      .select(col("id"), col("sub"), col("c").as("alt_c"), col("dd"))
    val chosen = codes.join(full,
        codes("id") === full("id") && codes("sub") === full("sub") &&
          codes("c") === full("alt_c"))
      .select(codes("id"), codes("sub"), codes("c"), col("dd").as("chosen_dd"))
    val viol = chosen.join(full.withColumnRenamed("dd", "alt_dd"),
        Seq("id", "sub"))
      .filter(col("alt_dd") < col("chosen_dd") ||
        (col("alt_dd") === col("chosen_dd") && col("alt_c") < col("c")))
      .count()
    assert(viol == 0L)
  }

  test("ADC distance is the sum of per-subspace table lookups") {
    val codes = PQ.encode(emb, centDf, m, dim)
    val adc = PQ.adcTopK(emb, centDf, k = 5, m, dim, col("vec_id") < 2)
    // replay one (query, neighbor) pair by hand
    val row = adc.orderBy(col("query_id"), col("rn")).head()
    val (qid, nid, dist) = (row.getLong(0), row.getLong(1), row.getLong(2))
    val sv = PQ.subvectors(emb, m, dim)
    val replay = sv.filter(col("id") === qid)
      .join(codes.filter(col("id") === nid)
        .select(col("sub"), col("c")), Seq("sub"))
      .join(broadcast(centDf), Seq("sub", "c"))
      .withColumn("dd", aggregate(
        zip_with(col("qv"), col("cvec"), (x, y) => (x - y) * (x - y)),
        lit(0L), (s, t) => s + t))
      .agg(sum(col("dd"))).head().getLong(0)
    assert(replay == dist)
  }

  test("ADC top-10 recalls the exact integer-L2 top-10 above the floor") {
    val sv = PQ.subvectors(emb, m, dim)
    val exact = sv.select(col("id").as("query_id"), col("sub"), col("qv"))
      .filter(col("query_id") < 8)
      .join(sv.select(col("id").as("neighbor_id"), col("sub"),
        col("qv").as("nv")), Seq("sub"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dd", aggregate(
        zip_with(col("qv"), col("nv"), (x, y) => (x - y) * (x - y)),
        lit(0L), (s, t) => s + t))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dd")).as("l2"))
    val exactTop = exact.withColumn("rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("l2"), col("neighbor_id"))))
      .filter(col("rn") <= 10)
      .select(col("query_id"), col("neighbor_id"))
    val adcTop = PQ.adcTopK(emb, centDf, k = 10, m, dim, col("vec_id") < 8)
      .select(col("query_id"), col("neighbor_id")).withColumn("hit", lit(1))
    val recall = exactTop.join(adcTop, Seq("query_id", "neighbor_id"), "left")
      .agg(sum(coalesce(col("hit"), lit(0))).cast("double") / count(lit(1)))
      .head().getDouble(0)
    // m=8/k=16 PQ on UNclustered random 64-dim vectors is the
    // worst case for a coarse quantizer: observed 0.225 — 11× the
    // 10/499 ≈ 0.02 chance rate. Band at the measured value minus
    // fixture-regeneration margin (SCALE.md §r9 curve).
    assert(recall >= 0.18, s"ADC recall@10 $recall below measured band")
  }

  /** The measured recall@5 CURVE from SCALE.md §r9 (VERDICT r8 #5):
    * operating-point floors sit just under the observed values
    * (0.200 at m=8/k=16; 0.375 at m=16/k=16; IVF-PQ 0.094→0.213
    * over nProbe 1→8), and the FAISS-shaped monotonicity relations
    * — finer quantization and more probes recall strictly more — hold
    * structurally across fixture regenerations where any point value
    * could drift. */
  test("recall@5 follows the measured (m, k, nProbe) curve") {
    import spark.implicits._
    val nq = 32
    val sv = PQ.subvectors(emb, m, dim)
    val exactTop = sv.select(col("id").as("query_id"), col("sub"), col("qv"))
      .filter(col("query_id") < nq)
      .join(sv.select(col("id").as("neighbor_id"), col("sub"),
        col("qv").as("nv")), Seq("sub"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dd", aggregate(
        zip_with(col("qv"), col("nv"), (x, y) => (x - y) * (x - y)),
        lit(0L), (s, t) => s + t))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dd")).as("l2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("l2"), col("neighbor_id"))))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id")).cache()
    val denom = exactTop.count().toDouble
    def recall(top: org.apache.spark.sql.DataFrame): Double =
      exactTop.join(top.select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
        .agg(sum(coalesce(col("hit"), lit(0)))).head().getLong(0) / denom
    def adcRecall(mm: Int, kk: Int): Double = {
      val c = PQ.train(emb, mm, dim, kk, iters = 3).toDF()
      recall(PQ.adcTopK(emb, c, k = 5, mm, dim, col("vec_id") < nq))
    }
    val coarse = adcRecall(4, 16)
    val op = adcRecall(8, 16)
    val fine = adcRecall(16, 16)
    assert(op >= 0.15, s"operating point m=8/k=16 recall@5 $op (measured 0.200)")
    assert(fine >= 0.30, s"m=16/k=16 recall@5 $fine (measured 0.375)")
    assert(fine > coarse,
      s"finer quantization must recall more: m16k16=$fine vs m4k16=$coarse")
    val ivf1 = recall(Similarity.ivfPqTopKPortable(emb, centDf, k = 5, m, dim,
      nProbe = 1, queryPred = col("vec_id") < nq))
    val ivf8 = recall(Similarity.ivfPqTopKPortable(emb, centDf, k = 5, m, dim,
      nProbe = 8, queryPred = col("vec_id") < nq))
    assert(ivf8 >= 0.17, s"nProbe=8 recall@5 $ivf8 (measured 0.213)")
    assert(ivf8 > ivf1,
      s"more probes must recall more: nProbe8=$ivf8 vs nProbe1=$ivf1")
    exactTop.unpersist()
  }

  /** The r10 planted-cluster operating point (SCALE.md §r10,
    * VERDICT r9 #3): on data WITH structure — within-cluster
    * cos ≈ 0.95, where a corpus's real near-dups live — the m=8/k=16
    * code recalls 0.594 of the exact top-5 (vs 0.200 uniform), every
    * retrieved neighbor is a true cluster-mate, and IVF-PQ at
    * nProbe=1 already matches global ADC (the planted centers route
    * perfectly). The fixture is seeded in-code, so these pins are
    * deterministic, banded only for float-kernel drift. */
  test("planted-cluster fixture: op-point recall, mate precision, routing") {
    import spark.implicits._
    val cl = graft.fixtures.ScaleCorpus.plantedClusters(spark).cache()
    val nq = 32
    val c = PQ.train(cl, m, dim, k, iters = 3).toDF()
    val sv = PQ.subvectors(cl, m, dim)
    val exactTop = sv.select(col("id").as("query_id"), col("sub"), col("qv"))
      .filter(col("query_id") < nq)
      .join(sv.select(col("id").as("neighbor_id"), col("sub"),
        col("qv").as("nv")), Seq("sub"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("dd", aggregate(
        zip_with(col("qv"), col("nv"), (x, y) => (x - y) * (x - y)),
        lit(0L), (s, t) => s + t))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dd")).as("l2"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("l2"), col("neighbor_id"))))
      .filter(col("rn") <= 5)
      .select(col("query_id"), col("neighbor_id")).cache()
    val denom = exactTop.count().toDouble
    def recall(top: org.apache.spark.sql.DataFrame): Double =
      exactTop.join(top.select(col("query_id"), col("neighbor_id"))
          .withColumn("hit", lit(1)),
        Seq("query_id", "neighbor_id"), "left")
        .agg(sum(coalesce(col("hit"), lit(0)))).head().getLong(0) / denom
    val adcTop = PQ.adcTopK(cl, c, k = 5, m, dim, col("vec_id") < nq)
    val adc = recall(adcTop)
    assert(adc >= 0.5, s"clustered op-point recall@5 $adc (measured 0.594)")
    val lbl = cl.select(col("vec_id"), col("label"))
    val mate = adcTop
      .join(lbl.select(col("vec_id").as("query_id"), col("label").as("ql")),
        Seq("query_id"))
      .join(lbl.select(col("vec_id").as("neighbor_id"), col("label").as("nl")),
        Seq("neighbor_id"))
      .agg(avg((col("ql") === col("nl")).cast("double"))).head().getDouble(0)
    assert(mate >= 0.99, s"cluster-mate@5 $mate (measured 1.000)")
    val ivf1 = recall(Similarity.ivfPqTopKPortable(cl, c, k = 5, m, dim,
      nProbe = 1, queryPred = col("vec_id") < nq))
    assert(ivf1 >= adc - 0.01,
      s"clustered routing: nProbe=1 recall $ivf1 must match ADC $adc")
    exactTop.unpersist(); cl.unpersist()
  }

  test("empty clusters survive a degenerate all-duplicate corpus") {
    import spark.implicits._
    val dup = (0 until 10).map(i => (i.toLong,
      Array.fill(dim)(0.25f), 0)).toDF("vec_id", "embedding", "label")
    val cs = PQ.train(dup, m, dim, k = 4, iters = 2)
    assert(cs.size == m * 4)
    // all points identical → all mass lands on code 0; empty codes
    // 1..3 re-seed at the farthest assigned point, which here IS the
    // duplicate — every centroid converges onto the single point
    val q = math.floor(0.25f.toDouble * 1e6).toLong
    assert(cs.forall(_.cvec.forall(_ == q)))
  }

  test("empty-cluster re-seed captures outlier points (planted gap)") {
    import spark.implicits._
    // 9 points at the origin cluster + 1 far outlier; k=2 seeds by id
    // stride (ids 0 and 5 — both in the dense blob), so code 1 goes
    // empty on iteration 1 and must RE-SEED at the outlier instead of
    // freezing on its stale seed
    val pts = ((0 until 9).map(i => (i.toLong, Array.fill(dim)(0.1f), 0)) :+
      ((9L, Array.fill(dim)(5.0f), 0))).toDF("vec_id", "embedding", "label")
    val cs = PQ.train(pts, m, dim, k = 2, iters = 3)
    val far = math.floor(5.0f.toDouble * 1e6).toLong
    // every subspace must own one centroid ON the outlier
    assert((0 until m).forall(s =>
      cs.exists(c => c.sub == s && c.cvec.forall(_ == far))),
      s"outlier not captured: ${cs.filter(_.sub == 0)}")
  }

  test("IVF-PQ distances agree with global ADC on shared pairs") {
    val ivfpq = Similarity.ivfPqTopKPortable(emb, centDf, k = 10, m, dim,
      nProbe = 2, queryPred = col("vec_id") < 4)
    val adc = PQ.adcTopK(emb, centDf, k = 1000, m, dim, col("vec_id") < 4)
      .select(col("query_id"), col("neighbor_id"),
        col("adc_dist").as("global_dist"))
    // cell pruning may drop neighbors, but every surviving pair must
    // carry the identical ADC distance
    val joined = ivfpq.join(adc, Seq("query_id", "neighbor_id"), "left")
    assert(joined.filter(col("global_dist").isNull ||
      col("global_dist") =!= col("adc_dist")).count() == 0)
    assert(ivfpq.groupBy(col("query_id"))
      .agg(max(col("rn")).as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n") || col("n") > 10).count() == 0)
  }

  test("training is deterministic") {
    val again = PQ.train(emb, m, dim, k, iters = 3)
    assert(again == cents)
  }


  /** r16 (ADVICE r15 #2's unit twin): the from-index ADC entry —
    * search through PRE-ENCODED codes (the persisted-index serving
    * path) must be bit-identical to the recompute-codes path on the
    * same codebook. */
  test("adcTopKFromIndex over encode() output == adcTopK bit-for-bit") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf0001).cache()
    val c = PQ.train(emb, m, dim, k, iters = 3).toDF()
    val codes = PQ.encode(emb, c, m, dim)
    val viaIndex = PQ.adcTopKFromIndex(codes, c,
        emb.filter($"vec_id" < 8), k = 5, m = m, dim = dim)
      .as[(Long, Long, Long, Long)].collect().toSet
    val computed = PQ.adcTopK(emb, c, k = 5, m = m, dim = dim,
        queryPred = $"vec_id" < 8)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(viaIndex == computed,
      "index-backed ADC diverges from the computed path")
    assert(viaIndex.nonEmpty)
  }
}
