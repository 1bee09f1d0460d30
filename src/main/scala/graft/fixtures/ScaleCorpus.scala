package graft.fixtures

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N× corpus amplification for empirical scale probes (VERDICT r5
  * "Next round" #5): /root/testdata tops out at sf0.1, so scaling
  * exponents are measured on amplified copies of it.
  *
  * The amplification must preserve the per-shard duplicate / near-dup
  * structure while keeping copies mutually disjoint — otherwise every
  * doc near-dups its own N−1 copies and the probe measures an
  * artificial densification (quadratic by construction), not the
  * engine. Guarantees:
  *  - documents: copy k > 0 suffixes EVERY token with the copy id — a
  *    bijection of the token (hence shingle / window-hash) space, so
  *    within-copy overlap ratios are preserved exactly: near-dups stay
  *    near-dups, exact dups stay exact; across copies no token (hence
  *    no shingle) collides, so overlap is zero. (A first attempt
  *    interleaved a salt token between tokens instead — that degrades
  *    2-shingle overlap to UNIGRAM overlap, making every in-copy pair
  *    a near-dup: the probe measured exponent ~2.0 on the amplifier's
  *    own artifact, a useful negative control for what a quadratic
  *    gate looks like.)
  *  - embeddings: copy k > 0 applies a deterministic per-copy ±1 sign
  *    pattern per dimension — an orthogonal transform, so within-copy
  *    cosines are bit-preserved; across copies the sign flips drive
  *    the same-vector cosine toward 0 with σ ≈ √(E[x⁴]/dim)/E[x²]
  *    (≈0.22 for gaussian-ish dims — the x² weights triple the naive
  *    1/√dim variance). That guarantee is DISTRIBUTIONAL: a few
  *    percent of cross-copy self-pairs can clear a 0.4 near-dup cut,
  *    and they only cost anything if they also collide in an LSH
  *    bucket (the measured 10× exponent 0.21 confirms they don't
  *    distort timing) — fine for timing probes, do NOT reuse this
  *    amplifier for recall gates.
  */
object ScaleCorpus {

  /** documents ×factor with structure-preserving disjoint copies.
    * `carry` columns (lang/source/n_chars metadata) pass through
    * unchanged per copy — copy-invariant, so target/source
    * proportions and quality distributions are preserved exactly
    * (r9, for the DSIR / budgeted-recipe probe legs). */
  def amplifyDocs(docs: DataFrame, factor: Int,
      idShift: Long = 10000000L, carry: Seq[String] = Nil): DataFrame =
    (0 until factor).map { k =>
      val text =
        if (k == 0) col("text")
        else array_join(
          transform(
            filter(split(col("text"), "\\s+"), t => length(t) > 0),
            t => concat(t, lit(s"cp$k"))),
          " ")
      docs.select((Seq((col("doc_id") + lit(k * idShift)).as("doc_id"),
        text.as("text")) ++ carry.map(col)): _*)
    }.reduce(_ unionByName _)

  /** documents ×factor for pipelines that FILTER on
    * [[graft.llmops.TextAnalysis.langId]] (the q96 e2e admission
    * probe): plain [[amplifyDocs]] suffixes every token, so marker
    * words ("the", "der", …) stop matching and every copy collapses
    * to lang "und" — the en-filter would then prune all non-base
    * copies and the probe would measure CONSTANT post-filter work at
    * any factor. Here the langId marker tokens (all four profiled
    * languages, compared case-insensitively) pass through unsuffixed,
    * preserving each doc's stopword-profile argmax per copy, while
    * every content token still gets the per-copy suffix (copies stay
    * non-duplicates: cross-copy shingle overlap is only the sparse
    * marker skeleton, far under near-dup thresholds). The list
    * mirrors langId's inline profiles — if those change, re-derive. */
  def amplifyDocsLangId(docs: DataFrame, factor: Int,
      idShift: Long = 10000000L): DataFrame = {
    val keep = Seq(
      "the", "and", "of", "to", "is", "with", "that", "for",      // en
      "el", "la", "de", "que", "y", "los", "las", "una", "por",   // es
      "der", "die", "das", "und", "ist", "nicht", "mit", "ein",   // de
      "le", "les", "des", "est", "dans", "pour", "et"             // fr
    ).distinct.toArray
    (0 until factor).map { k =>
      val text =
        if (k == 0) col("text")
        else array_join(
          transform(
            filter(split(col("text"), "\\s+"), t => length(t) > 0),
            t => when(array_contains(lit(keep), lower(t)), t)
              .otherwise(concat(t, lit(s"cp$k")))),
          " ")
      docs.select((col("doc_id") + lit(k * idShift)).as("doc_id"),
        text.as("text"))
    }.reduce(_ unionByName _)
  }

  /** embeddings ×factor with per-copy orthogonal sign flips. */
  def amplifyEmbeddings(emb: DataFrame, factor: Int, dim: Int = 64,
      idShift: Long = 10000000L): DataFrame =
    (0 until factor).map { k =>
      val v =
        if (k == 0) col("embedding")
        else {
          // seeded per-copy pattern: any two copies differ in ~dim/2
          // positions, so the product pattern is itself ~balanced and
          // cross-copy cosine of the same doc concentrates near 0
          // (|cos| ≲ 3/√dim ≈ 0.37 at 3σ, under the 0.4 threshold)
          val rnd = new scala.util.Random(k * 7919L)
          val signs = Array.fill(dim)(if (rnd.nextBoolean()) 1.0f else -1.0f)
          zip_with(col("embedding"),
            array(signs.toIndexedSeq.map(lit): _*), (x, s) => x * s)
        }
      emb.select((col("vec_id") + lit(k * idShift)).as("vec_id"),
        v.as("embedding"), col("label"))
    }.reduce(_ unionByName _)

  /** Planted-cluster embedding fixture (r10, VERDICT r9 #3): gaussian
    * centers with per-dim noise sigma — within-cluster cosine
    * concentrates at 1/√(1+sigma²) (≈ 0.95 at the 0.33 default), the
    * regime where a corpus's real near-dups live. Seeded and
    * deterministic; `label` is the planted cluster id, so recall
    * probes can score cluster-mate precision directly. */
  /** Planted near-dup DOC pairs at controlled shingle Jaccard (r13,
    * SCALE.md MinHash banding recall): each pair is two `tokensPerDoc`-
    * token docs over a pair-unique vocabulary, the B side with its
    * first `m` tokens replaced by pair-unique substitutes. For
    * 2-shingles and m < L−1 the exact Jaccard is CLOSED-FORM:
    * shingles touching a replaced token differ, shared = L−1−m,
    * union = L−1+m ⇒ J = (L−1−m)/(L−1+m) — so each mutation level is
    * a known point on the banding S-curve 1−(1−J^r)^b, with m = 0 the
    * exact-dup anchor (J = 1). Pair-unique vocabularies keep planted
    * docs disjoint from any background corpus and from each other, so
    * banding probability per pair is pure per-pair math — exactly the
    * pair-locality the probe measures.
    *
    * `idBase` defaults above amplifyDocs' id space for factors ≤ 100
    * (max background id ≈ 99·10⁷ + base ids); raise it before probing
    * beyond 100×. Output: (doc_id, text, pair_id, level, role) — the
    * probe unions (doc_id, text) into the background corpus and keeps
    * the metadata side for scoring. */
  def plantedDocPairs(spark: org.apache.spark.sql.SparkSession,
      pairsPerLevel: Int = 200,
      mutLevels: Seq[Int] = Seq(0, 3, 6, 10, 15, 20, 30),
      tokensPerDoc: Int = 50,
      idBase: Long = 2000000000L): DataFrame = {
    import spark.implicits._
    val rows = for {
      (m, li) <- mutLevels.zipWithIndex
      p <- 0 until pairsPerLevel
    } yield {
      val pid = li * pairsPerLevel + p
      val a = Array.tabulate(tokensPerDoc)(j => s"p${pid}t$j")
      val b = Array.tabulate(tokensPerDoc)(j =>
        if (j < m) s"p${pid}x$j" else s"p${pid}t$j")
      Seq(
        (idBase + pid * 2L, a.mkString(" "), pid.toLong, m, "a"),
        (idBase + pid * 2L + 1L, b.mkString(" "), pid.toLong, m, "b"))
    }
    rows.flatten.toDF("doc_id", "text", "pair_id", "level", "role")
  }

  /** DISTRIBUTED gaussian-mixture embedding corpus (r16, VERDICT r15
    * #5): the natural-distribution twin of the amplified fixture —
    * [[amplifyEmbeddings]] concentrates the kth-neighbor grade by
    * construction (exact copies), which exaggerates the sampled
    * design probe's over-provisioning; a mixture of isotropic
    * gaussian clusters is the shape real embedding corpora take
    * (within-cluster neighbor cosine ≈ 1/(1+σ²) — ~0.9 at σ=0.33).
    *
    * Deterministic PER ID and layout-independent: every coordinate is
    * Box-Muller over splitmix64((seed, id, d)) — no partition-seeded
    * RNG, so any partitioning produces identical bytes. Cluster
    * centers (nClusters × dim doubles — KBs) are driver-built and ride
    * the task closure; generation is one map-only pass over
    * `spark.range(n)`, the 100 TB fixture shape. */
  def gaussianMixture(spark: org.apache.spark.sql.SparkSession, n: Long,
      nClusters: Int = 256, dim: Int = 64, sigma: Double = 0.33,
      seed: Long = 4242L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters, dim)(rnd.nextGaussian())
    def mix(z0: Long): Long = { // splitmix64 finalizer (public domain)
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def unit(bits: Long): Double = // (0, 1]: never 0, log() safe
      ((bits >>> 11) + 1).toDouble / (1L << 53).toDouble
    spark.range(n).as[Long].mapPartitions { it =>
      it.map { id =>
        val c = (math.floorMod(mix(seed ^ id), nClusters.toLong)).toInt
        val v = new Array[Float](dim)
        var d = 0
        while (d < dim) {
          val u1 = unit(mix(seed ^ (id * 131071L) ^ (2L * d)))
          val u2 = unit(mix(seed ^ (id * 131071L) ^ (2L * d + 1L)))
          val g = math.sqrt(-2.0 * math.log(u1)) *
            math.cos(2.0 * math.Pi * u2)
          v(d) = (centers(c)(d) + sigma * g).toFloat
          d += 1
        }
        (id, v, c)
      }
    }.toDF("vec_id", "embedding", "label")
  }

  def plantedClusters(spark: org.apache.spark.sql.SparkSession,
      nClusters: Int = 50, perCluster: Int = 10, dim: Int = 64,
      sigma: Double = 0.33, seed: Long = 4242L): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until nClusters).flatMap { c =>
      val center = Array.fill(dim)(rnd.nextGaussian())
      (0 until perCluster).map { j =>
        ((c * perCluster + j).toLong,
          center.map(x => (x + sigma * rnd.nextGaussian()).toFloat), c)
      }
    }.toDF("vec_id", "embedding", "label")
  }
}
