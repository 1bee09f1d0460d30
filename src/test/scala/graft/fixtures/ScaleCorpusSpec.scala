package graft.fixtures

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The amplifier is measurement infrastructure (SCALE.md exponents are
  * only meaningful if amplification preserves per-copy structure), so
  * its invariants are pinned here — including the one the first
  * implementation broke (salt interleave degraded 2-shingle overlap to
  * unigram overlap; see ScaleCorpus scaladoc). */
class ScaleCorpusSpec extends SparkSpec {
  import spark.implicits._

  private def shingles2(text: String): Set[String] = {
    val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (t.length < 2) t.toSet else t.sliding(2).map(_.mkString(" ")).toSet
  }

  test("amplifyDocs: within-copy 2-shingle Jaccard preserved exactly; " +
      "cross-copy overlap zero") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over a sleepy cat"),
      (3L, "completely different text with no overlap at all"))
      .toDF("doc_id", "text")
    val amp = ScaleCorpus.amplifyDocs(docs, 3, idShift = 100L)
      .as[(Long, String)].collect().toMap
    assert(amp.size == 9)
    def jac(a: Set[String], b: Set[String]): Double =
      if (a.isEmpty && b.isEmpty) 0.0
      else (a & b).size.toDouble / (a | b).size

    val baseJac = jac(shingles2(amp(1L)), shingles2(amp(2L)))
    assert(baseJac > 0.3, s"fixture degenerate: base jaccard $baseJac")
    for (k <- 1 to 2) {
      val copyJac = jac(shingles2(amp(1L + 100 * k)), shingles2(amp(2L + 100 * k)))
      assert(math.abs(copyJac - baseJac) < 1e-12,
        s"copy $k jaccard $copyJac != base $baseJac — amplifier distorts structure")
      // the invariant the salt-interleave version broke: cross-copy
      // shingle overlap must be zero for EVERY pair, including a doc
      // against its own other-copy self
      assert((shingles2(amp(1L)) & shingles2(amp(1L + 100 * k))).isEmpty)
      assert((shingles2(amp(2L)) & shingles2(amp(1L + 100 * k))).isEmpty)
    }
    // exact dups stay exact within a copy
    val dupDocs = Seq((1L, "same text here"), (2L, "same text here"))
      .toDF("doc_id", "text")
    val dupAmp = ScaleCorpus.amplifyDocs(dupDocs, 2, idShift = 100L)
      .as[(Long, String)].collect().toMap
    assert(dupAmp(101L) == dupAmp(102L), "exact dup broken by amplification")
    assert(dupAmp(1L) != dupAmp(101L), "copies must differ from base")
  }

  test("amplifyEmbeddings: within-copy cosine bit-preserved; cross-copy " +
      "same-vector cosine below the near-dup threshold") {
    val rnd = new scala.util.Random(7)
    val vecs = (0 until 20).map { i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat).toSeq, 0)
    }.toDF("vec_id", "embedding", "label")
    val amp = ScaleCorpus.amplifyEmbeddings(vecs, 3, idShift = 1000L)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x).sum)
      dot / (na * nb)
    }
    val m = amp.select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toMap
    val basePair = cos(m(0L), m(1L))
    for (k <- 1 to 2) {
      val copyPair = cos(m(0L + 1000 * k), m(1L + 1000 * k))
      // sign flips are an orthogonal transform applied to both sides:
      // the pairwise cosine must be IDENTICAL (same products, same order)
      assert(copyPair == basePair,
        s"copy $k pairwise cosine drifted: $copyPair vs $basePair")
      // cross-copy self-cosine is Σ s_d·x_d²/|x|² — a ±1-weighted sum
      // concentrating near 0 with σ ≈ √(E[x⁴]/dim)/E[x²] (≈ √(3/64)
      // ≈ 0.22 for gaussian dims — the x² weights triple the naive
      // 1/√dim variance); the guarantee is distributional, and stray
      // above-threshold pairs must additionally collide in an LSH
      // bucket to cost anything (measured exponent 0.21 confirms)
      val cs = (0 until 20).map { i =>
        math.abs(cos(m(i.toLong), m(i.toLong + 1000 * k)))
      }
      assert(cs.sum / cs.size < 0.35,
        s"copy $k: mean self-|cos| ${cs.sum / cs.size} not near 0")
      assert(cs.count(_ < 0.6) >= 18,
        s"copy $k: self-cosines not concentrated: $cs")
    }
  }

  test("amplifyDocsLangId: per-copy langId profile preserved, copies stay non-dups") {
    // the q96 e2e probe filters on langId(text) == 'en'; the plain
    // amplifier suffixes marker tokens and every copy collapses to
    // 'und' (constant post-filter work at any factor). The langId
    // amplifier must keep each copy's language verdict identical to
    // its base doc while keeping cross-copy shingle overlap sparse.
    val docs = Seq(
      (1L, "The quick brown fox and the lazy dog of the farm is with that for sure"),
      (2L, "el perro y la casa de que los ninos juegan por una tarde"),
      (3L, "zzz qqq xxx www vvv uuu ttt sss rrr"))
      .toDF("doc_id", "text")
    val baseLang = docs
      .select($"doc_id", graft.llmops.TextAnalysis.langId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(baseLang(1L) == "en" && baseLang(2L) == "es")
    val amp = ScaleCorpus.amplifyDocsLangId(docs, 3, idShift = 100L)
    val ampLang = amp
      .select($"doc_id", graft.llmops.TextAnalysis.langId($"text").as("l"))
      .as[(Long, String)].collect().toMap
    assert(ampLang.size == 9)
    for (k <- 0 to 2; id <- 1L to 3L)
      assert(ampLang(id + 100 * k) == baseLang(id),
        s"copy $k doc $id: ${ampLang(id + 100 * k)} != ${baseLang(id)}")
    // copies are not near-dups of their base: shingle overlap is only
    // the unsuffixed marker skeleton
    val m = amp.as[(Long, String)].collect().toMap
    val j = {
      val a = shingles2(m(1L)); val b = shingles2(m(101L))
      (a & b).size.toDouble / (a | b).size
    }
    assert(j < 0.25, s"cross-copy jaccard $j too high — copies are near-dups")
  }

  test("plantedDocPairs: closed-form 2-shingle Jaccard holds exactly (r13)") {
    // SCALE.md's MinHash-recall ground truth: J = (L-1-m)/(L-1+m) for a
    // pair whose B side replaces the first m of L tokens — verified
    // against the operator's own exactJaccard, not re-derived by hand
    val L = 50
    val planted = ScaleCorpus.plantedDocPairs(spark, pairsPerLevel = 3,
      mutLevels = Seq(0, 5, 20, 30), tokensPerDoc = L)
    val pairs = planted.filter($"role" === "a")
      .select($"doc_id".as("id_a"), ($"doc_id" + 1L).as("id_b"), $"level")
    val got = graft.llmops.Dedup.exactJaccard(
        planted.select($"doc_id", $"text"),
        pairs.select($"id_a", $"id_b"), "doc_id", "text", shingleK = 2)
      .join(pairs, Seq("id_a", "id_b"))
      .select($"level", $"jaccard").as[(Int, Double)].collect()
    assert(got.length == 12)
    got.foreach { case (mLvl, jac) =>
      val expect = (L - 1 - mLvl).toDouble / (L - 1 + mLvl)
      assert(math.abs(jac - expect) < 1e-12,
        s"level $mLvl: $jac != $expect")
    }
    // pair-unique vocabularies: no shingle crosses pairs, so the only
    // candidate structure a banding pass can find is within-pair
    val distinctDocs = planted.select($"doc_id").distinct().count()
    assert(distinctDocs == 24)
  }


  /** r16 (VERDICT r15 #5): the gaussian-mixture fixture behind the
    * natural-distribution design-probe leg — deterministic per id,
    * structured (within-cluster neighbors at dup grade), labels valid. */
  test("gaussianMixture: deterministic, labeled, cluster-structured") {
    import spark.implicits._
    val g1 = ScaleCorpus.gaussianMixture(spark, n = 2000, nClusters = 16)
      .cache()
    val g2 = ScaleCorpus.gaussianMixture(spark, n = 2000, nClusters = 16)
    // byte-deterministic across invocations (pure function of (seed, id))
    assert(g1.exceptAll(g2).count() == 0 && g2.exceptAll(g1).count() == 0)
    assert(g1.count() == 2000)
    val labels = g1.select($"label").distinct().as[Int].collect()
    assert(labels.forall(l => l >= 0 && l < 16) && labels.length > 1)
    // structure: mean within-cluster cosine well above cross-cluster
    val a = g1.select($"vec_id".as("id_a"), $"embedding".as("va"),
      $"label".as("la")).filter($"id_a" < 64)
    val b = g1.select($"vec_id".as("id_b"), $"embedding".as("vb"),
      $"label".as("lb")).filter($"id_b" < 512)
    val cos = a.join(b, $"id_a" =!= $"id_b")
      .withColumn("cos", graft.functions.VectorFunctions
        .cosineNative($"va", $"vb"))
      .groupBy($"la" === $"lb")
      .agg(avg($"cos").as("m"))
      .as[(Boolean, Double)].collect().toMap
    assert(cos(true) > 0.8, s"within-cluster mean ${cos(true)} too low")
    assert(cos(true) > cos(false) + 0.5,
      s"no cluster structure: within ${cos(true)} vs cross ${cos(false)}")
    g1.unpersist()
  }
}
