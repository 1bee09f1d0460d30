package graft.llmops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine matches hand computation") {
    val df = Seq((Array(1.0f, 0f), Array(1.0f, 0f)),
      (Array(1.0f, 0f), Array(0f, 1.0f)),
      (Array(1.0f, 1.0f), Array(1.0f, 0f))).toDF("a", "b")
      .select(Similarity.cosine($"a", $"b").as("c"))
    val got = df.as[Double].collect().toSeq
    assert(got(0) == 1.0)
    assert(got(1) == 0.0)
    assert(math.abs(got(2) - 1.0 / math.sqrt(2)) < 1e-12)
  }

  test("bruteForceTopK returns correct nearest neighbors") {
    val vecs = Seq(
      (0L, Array(1.0f, 0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0f, 1.0f)), (3L, Array(-1.0f, 0f))).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs.filter($"vec_id" === 0), vecs, 2)
      .select("neighbor_id", "rn").as[(Long, Int)].collect().toSeq
    assert(out == Seq((1L, 1), (2L, 2)))
  }

  test("topKDesignCosMilli is the exact-floor median kth-neighbor " +
      "quantized cosine; derived-table default holds the recall band") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001).cache()
    // independent EXACT truth for the integer probe (r17): recompute
    // the whole chain locally with BigInt floors over the collected
    // quantized vectors — any float shortcut in the operator's
    // decimal-adjusted floor would diverge from this
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect()
      .map { case (id, v) =>
        id -> v.map(x => math.floor(x.toDouble * 1000).toLong).toArray }
      .toMap
    def floorMilli(dot: Long, m2: BigInt): Int = {
      if (m2 == 0) return 0
      def le(c: Long): Boolean =
        if (c <= 0 && dot >= 0) true
        else if (c > 0 && dot < 0) false
        else if (c > 0) BigInt(c) * c * m2 <= BigInt(1000000L) * dot * dot
        else BigInt(c) * c * m2 >= BigInt(1000000L) * dot * dot
      // exact floor by downward scan from the certain upper bound
      var c = 1000L
      while (!le(c)) c -= 1
      c.toInt
    }
    val probeIds = vecs.keys.toSeq.sorted.take(Similarity.TopKDesignProbeQueries)
    val kthVals = probeIds.map { q =>
      val qv = vecs(q)
      val qn2 = BigInt(qv.map(x => x * x).sum)
      val ks = vecs.toSeq.filter(_._1 != q).map { case (_, cv) =>
        val dot = qv.zip(cv).map { case (a, b) => a * b }.sum
        val cn2 = BigInt(cv.map(x => x * x).sum)
        floorMilli(dot, qn2 * cn2)
      }.sorted(Ordering[Int].reverse)
      if (ks.length >= 5) ks(4) else -990
    }.sorted
    val expected = math.min(math.max(kthVals(kthVals.length / 2), -990), 990)
    val got = Similarity.topKDesignCosMilli(emb, 5)
    assert(got == expected,
      s"topKDesignCosMilli $got != BigInt-exact truth $expected")
    // and it tracks the float kth-neighbor median within quantization
    // noise (|cos_q - cos_f| <= ~4e-3 at this corpus's norms)
    val kthF = Similarity.bruteForceTopK(
        emb.orderBy($"vec_id").limit(Similarity.TopKDesignProbeQueries),
        emb, 5)
      .filter($"rn" === 5).select($"cos").as[Double].collect().sorted
    assert(math.abs(got / 1000.0 - kthF(kthF.length / 2)) < 0.01,
      s"quantized design grade $got drifted from float median ${
        kthF(kthF.length / 2)}")
    assert(got > 0 && got < 1000)

    // the ZERO-KNOB path (r14): planes AND tables both derived —
    // autoPlanes at TopKOccupancy, lshTablesFor at the measured design
    // grade — must hold the q89-style band vs brute-force top-1 truth
    val brute = Similarity.bruteForceTopK(emb, emb, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val lsh = Similarity.lshTopKPortable(emb, 5, dim = 64)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalled = brute.count { case (q, n) => lsh.getOrElse(q, Set()).contains(n) }
    assert(recalled.toDouble / brute.size > 0.5,
      s"zero-knob recall ${recalled.toDouble / brute.size} too low")

    // zero-knob near-dup: derived planes reproduce the explicit
    // autoPlanes call bit-for-bit (same rule, same corpus)
    val explicitPlanes = Similarity.autoPlanes(emb, Similarity.NearDupOccupancy)
    val a = Similarity.lshNearDupPairsPortable(emb, 0.4, dim = 64)
      .as[(Long, Long, Double)].collect().toSet
    val b = Similarity.lshNearDupPairsPortable(emb, 0.4,
        nPlanes = explicitPlanes, dim = 64)
      .as[(Long, Long, Double)].collect().toSet
    assert(a == b, "zero-knob near-dup diverges from explicit autoPlanes")
  }

  test("topKDesignCosSampledMilli (r15): sampled <= exact (the safe " +
      "direction) and derived tables at the sampled point can only grow") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001).cache()
    val exact = Similarity.topKDesignCosMilli(emb, 5)
    // force sampling well below the fixture's 500 vectors at several
    // pool sizes: the subset kth-neighbor inequality must hold at each
    // (floors are monotone, so the r15 proof survives quantization)
    for (target <- Seq(50L, 100L, 250L)) {
      val sampled = Similarity.topKDesignCosSampledMilli(emb, 5, target)
      assert(sampled <= exact,
        s"sampled designCosMilli $sampled (target=$target) above exact " +
          s"$exact — the safe-direction inequality is violated")
      // and the derivation it feeds over-provisions, never under
      val planes = Similarity.autoPlanes(emb, Similarity.TopKOccupancy)
      val tExact = Similarity.lshTablesFor(planes, exact,
        Similarity.TopKTargetRecallPpm)
      val tSampled = Similarity.lshTablesFor(planes, sampled,
        Similarity.TopKTargetRecallPpm)
      assert(tSampled >= tExact,
        s"sampled point derives FEWER tables ($tSampled < $tExact)")
    }
    // a sample target >= the corpus degenerates to the exact probe
    assert(Similarity.topKDesignCosSampledMilli(emb, 5, 1000000L) == exact)
  }

  test("exactCosMilliCol == BigInt floor over signed + boundary inputs " +
      "(the per-pair seam a probe's kth-largest selection could mask)") {
    import spark.implicits._
    def truth(dot: Long, qn2: Long, cn2: Long): Long = {
      val m2 = BigInt(qn2) * cn2
      if (m2 == 0) return 0L
      def le(c: Long): Boolean =
        if (c <= 0 && dot >= 0) true
        else if (c > 0 && dot < 0) false
        else if (c > 0) BigInt(c) * c * m2 <= BigInt(1000000L) * dot * dot
        else BigInt(c) * c * m2 >= BigInt(1000000L) * dot * dot
      var c = 1000L
      while (!le(c)) c -= 1
      c
    }
    val rnd = new scala.util.Random(17)
    val cases = Seq.newBuilder[(Long, Long, Long)]
    // boundary-exact values where 1000·dot/√(qn2·cn2) IS an integer —
    // the floor's hardest case (double rounding either side must not
    // move the result): dot = k·m, qn2·cn2 = (1000·m)², cos = k/1000
    for (k <- Seq(-1000L, -501L, -1L, 0L, 1L, 499L, 999L, 1000L);
         m <- Seq(1L, 7L, 321L))
      cases += ((k * m, 1000L * m, 1000L * m))
    // zero norms define cos = 0
    cases += ((0L, 0L, 5L)); cases += ((3L, 4L, 0L))
    // random signed pairs at realistic magnitudes (|x| ≤ 1 → dot up to
    // 64e6, n2 up to 64e6) with |dot| clamped into Cauchy-Schwarz
    for (_ <- 1 to 500) {
      val qn2 = 1L + rnd.nextLong(64000000L)
      val cn2 = 1L + rnd.nextLong(64000000L)
      val bound = math.floor(math.sqrt(qn2.toDouble) *
        math.sqrt(cn2.toDouble)).toLong.max(1L)
      cases += ((rnd.between(-bound, bound + 1), qn2, cn2))
    }
    val df = cases.result().toDF("dot", "qn2", "cn2")
      .withColumn("fm",
        Similarity.exactCosMilliCol(col("dot"), col("qn2"), col("cn2")))
    df.select($"dot", $"qn2", $"cn2", $"fm")
      .as[(Long, Long, Long, Long)].collect().foreach {
        case (dot, qn2, cn2, fm) =>
          assert(fm == truth(dot, qn2, cn2),
            s"exactCosMilliCol($dot, $qn2, $cn2) = $fm != BigInt truth ${
              truth(dot, qn2, cn2)}")
      }
  }

  test("multiProbeCollisionPpm matches exhaustive Hamming-ball enumeration") {
    // ground truth: P(pair's codes differ in <= radius of nPlanes bits)
    // when each bit independently agrees w.p. p — enumerate all 2^n
    // disagreement patterns and sum those within the ball
    for (n <- Seq(3, 4, 6); p <- Seq(0.3, 0.65, 0.856); r <- 0 to 2) {
      val exhaustive = (0 until (1 << n)).map { code =>
        val disagreements = Integer.bitCount(code)
        if (disagreements <= r)
          math.pow(p, (n - disagreements).toDouble) *
            math.pow(1 - p, disagreements.toDouble)
        else 0.0
      }.sum
      // each floor in the integer ppm chain only LOWERS a term, so
      // ppm <= exhaustive (the safe direction), and the cumulative
      // floor loss over <= n multiplies per term is a few ppm per step
      val ppm = Similarity.multiProbeCollisionPpm(n,
        math.floor(p * 1e6).toLong, r)
      assert(ppm <= math.ceil(exhaustive * 1e6).toLong,
        s"n=$n p=$p r=$r: ppm chain $ppm above exhaustive $exhaustive")
      assert(ppm >= math.floor(exhaustive * 1e6).toLong - 6L * (n + 2),
        s"n=$n p=$p r=$r: ppm chain $ppm drifted below exhaustive $exhaustive")
    }
  }

  test("multi-probe lsh: radius 0 == single-probe exactly; radius 1 is a " +
      "candidate superset with >= recall at equal tables; fewer derived tables") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001).cache()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cos", "rn")
        .as[(Long, Long, Double, Int)].collect().toSet
    // the portable default is radius 1, so single-probe is the
    // EXPLICIT radius-0 call
    val r0 = rows(Similarity.lshTopKPortable(emb, 5, nPlanes = 4,
      dim = 64, nTables = 4, probeRadius = 0))
    val r1 = rows(Similarity.lshTopKPortable(emb, 5, nPlanes = 4,
      dim = 64, nTables = 4, probeRadius = 1))
    // and the portable DEFAULT is the radius-1 multi-probe point
    assert(rows(Similarity.lshTopKPortable(emb, 5, nPlanes = 4,
        dim = 64, nTables = 4)) == r1,
      "default lshTopKPortable diverges from explicit radius-1")

    // radius 1 at the same tables: per-query top-5 recall vs brute
    // truth can only improve (candidates are a superset)
    val brute = Similarity.bruteForceTopK(emb, emb, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    def recall(rs: Set[(Long, Long, Double, Int)]): Double = {
      val byQ = rs.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      brute.count { case (q, n) => byQ.getOrElse(q, Set()).contains(n) }
        .toDouble / brute.size
    }
    assert(recall(r1) >= recall(r0) - 1e-12,
      s"radius-1 recall ${recall(r1)} below radius-0 ${recall(r0)}")
    assert(recall(r1) > 0.5, s"multi-probe recall ${recall(r1)} too low")

    // the derivation: radius 1 needs strictly fewer tables at any
    // operating point where single-probe needs > 1
    for (planes <- Seq(6, 10, 13); cq <- Seq(450, 900)) {
      val t0 = Similarity.lshTablesFor(planes, cq, 500000L, probeRadius = 0)
      val t1 = Similarity.lshTablesFor(planes, cq, 500000L, probeRadius = 1)
      assert(t1 <= t0)
      if (t0 > 1) assert(t1 < t0, s"no table saving at planes=$planes cq=$cq")
    }
    // the r14 100x top-k operating point (designCosMilli 450, planes
    // 13): single-probe 193 tables, radius 1 just 24 — the 8x saving.
    // The r17 integer chain reproduces the float chain's value at
    // every pinned point (floor loss over <= 13 ppm multiplies never
    // crosses a ceil boundary here — checked over the full 27-point
    // sweep below too).
    assert(Similarity.lshTablesFor(13, 450, 500000L, probeRadius = 0) == 193)
    assert(Similarity.lshTablesFor(13, 450, 500000L, probeRadius = 1) == 24)

    // near-dup multi-probe: radius 1 at the same planes/tables finds a
    // SUPERSET of the single-probe pairs, and every pair still carries
    // the exact verified cosine >= threshold
    val nd0 = Similarity.lshNearDupPairsPortable(emb, 0.4, nPlanes = 4,
        dim = 64, nTables = 4)
      .as[(Long, Long, Double)].collect().toSet
    val nd1 = Similarity.lshNearDupPairsPortable(emb, 0.4, nPlanes = 4,
        dim = 64, nTables = 4, probeRadius = 1)
      .as[(Long, Long, Double)].collect().toSet
    assert(nd0.subsetOf(nd1), "radius-1 near-dup lost single-probe pairs")
    assert(nd1.forall(_._3 >= 0.4))
  }

  test("sign-LSH top-k recalls most brute-force top-1 neighbors at sf0.001") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001).cache()
    val brute = Similarity.bruteForceTopK(emb, emb, 1)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    val lsh = Similarity.lshTopKPortable(emb, 5, nPlanes = 4, dim = 64,
        nTables = 8)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recalled = brute.count { case (q, n) => lsh.getOrElse(q, Set()).contains(n) }
    // near-orthogonal random vectors are LSH's worst case; multi-table
    // OR-amplification (8 tables × 4 bits) must still recall most top-1s
    assert(recalled.toDouble / brute.size > 0.5,
      s"recall ${recalled.toDouble / brute.size} too low")
  }

  test("bucketed near-dup pairs: subset of all-pairs truth, same cosines, " +
      "recall above floor") {
    val emb = graft.sources.Tables.embeddings(spark, sf0001).cache()
    val truth = emb.as("a").crossJoin(emb.as("b"))
      .filter($"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("id_a"), $"b.vec_id".as("id_b"),
        round(graft.functions.VectorFunctions
          .cosineNative($"a.embedding", $"b.embedding"), 6).as("cos"))
      .filter($"cos" >= 0.4)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    val lsh = Similarity.lshNearDupPairsPortable(emb, threshold = 0.4,
        nPlanes = 4, dim = 64, nTables = 8)
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty && truth.nonEmpty)
    // every LSH pair is a truth pair with the identical round-6 cosine
    lsh.foreach { case (a, b, c) =>
      assert(truth.get((a, b)).contains(c), s"pair ($a,$b,$c) not in truth")
    }
    val recall = lsh.length.toDouble / truth.size
    assert(recall >= 0.5, s"recall $recall below pinned floor 0.5")
  }

  test("portable sign grid is deterministic and balanced-ish") {
    val signs = for (t <- 0 until 8; j <- 0 until 6; d <- 0 until 64)
      yield Similarity.portableSign(t, j, d)
    assert(signs.forall(s => s == 1 || s == -1))
    val pos = signs.count(_ == 1).toDouble / signs.size
    assert(pos > 0.4 && pos < 0.6, s"sign balance $pos")
    assert(Similarity.portableSign(3, 2, 1) == Similarity.portableSign(3, 2, 1))
  }

  test("semanticDedup: planted near-dup cluster collapses to its min-id " +
      "keeper; singletons keep themselves") {
    val base = Array(0.9f, 0.1f, 0.3f, 0.7f, 0.2f, 0.8f, 0.4f, 0.6f)
    val nearDup = base.map(x => x * 0.97f + 0.01f)
    val far = Array(-0.8f, 0.6f, -0.2f, 0.1f, -0.9f, 0.3f, -0.5f, 0.2f)
    val vecs = Seq((1L, base.toSeq, 0), (2L, nearDup.toSeq, 0),
      (5L, far.toSeq, 1)).toDF("vec_id", "embedding", "label")
    val out = Similarity.semanticDedup(vecs, threshold = 0.9,
        nPlanes = 4, dim = 8, nTables = 8)
      .select("vec_id", "cluster_id", "cluster_size", "keep")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(out(1L) == ((1L, 2L, true)), s"got ${out(1L)}")
    assert(out(2L) == ((1L, 2L, false)), s"dup must defer to min id: ${out(2L)}")
    assert(out(5L) == ((5L, 1L, true)), s"singleton must keep itself: ${out(5L)}")
  }

  test("lshPlanesFor: occupancy-preserving plane count (probe discipline)") {
    // the r6 probe's example: 25k vectors at 16 buckets (4 planes) →
    // 250k wants 8 (grow by ceil(log2 10) ≈ 4, not stay at 4)
    val p1 = Similarity.lshPlanesFor(25000, targetOccupancy = 1563)
    assert(p1 == 4, s"got $p1")
    assert(Similarity.lshPlanesFor(250000, targetOccupancy = 1563) == 8)
    // monotone in corpus size; 10× corpus adds ⌈log2 10⌉ = 4 planes
    val sizes = Seq(1000L, 10000L, 100000L, 1000000L)
    val planes = sizes.map(Similarity.lshPlanesFor(_))
    assert(planes == planes.sorted)
    assert(planes.zip(planes.tail).forall { case (a, b) => b - a == 4 || b - a == 3 })
    // occupancy bound actually holds: n / 2^planes <= target
    sizes.foreach { n =>
      val p = Similarity.lshPlanesFor(n)
      assert(n.toDouble / (1L << p) <= 160.0, s"occupancy broken at $n")
    }
  }

  test("lshPlanesFor: gate operating points derive the r6 fixture planes") {
    // the wired-in defaults (VERDICT r6 #6): at the 500-vector verify
    // corpus the derivation reproduces the planes the r6 gates
    // hard-coded (4 near-dup, 6 top-k), and a 4× corpus adds 2 planes
    assert(Similarity.lshPlanesFor(500, Similarity.NearDupOccupancy) == 4)
    assert(Similarity.lshPlanesFor(2000, Similarity.NearDupOccupancy) == 6)
    assert(Similarity.lshPlanesFor(500, Similarity.TopKOccupancy) == 6)
    assert(Similarity.lshPlanesFor(2000, Similarity.TopKOccupancy) == 8)
    // inclusive boundary matches the oracle SQL rule n <= occ*(1<<j)
    assert(Similarity.lshPlanesFor(512, 32) == 4)
    assert(Similarity.lshPlanesFor(513, 32) == 5)
    // huge corpora don't overflow the shift math
    assert(Similarity.lshPlanesFor(Long.MaxValue, 8) == 60)
  }

  test("lshTablesFor: minimal table count achieving the recall target " +
      "(integer chain == float-minimal across the full sweep)") {
    // r12 (the recall side of the occupancy discipline): the returned
    // count achieves 1-(1-p^planes)^tables >= target and is minimal —
    // the r17 integer chain must still land on the FLOAT-exact minimal
    // count at every swept point (floor loss never crosses a boundary)
    def overall(planes: Int, cos: Double, tables: Int): Double = {
      val p = 1.0 - math.acos(cos) / math.Pi
      1.0 - math.pow(1.0 - math.pow(p, planes.toDouble), tables.toDouble)
    }
    for (planes <- Seq(4, 6, 13); cq <- Seq(800, 900, 950);
         targetPpm <- Seq(500000L, 900000L, 990000L)) {
      val cos = cq / 1000.0
      val target = targetPpm / 1e6
      val t = Similarity.lshTablesFor(planes, cq, targetPpm)
      assert(overall(planes, cos, t) >= target, s"($planes,$cq,$targetPpm)->$t")
      if (t > 1) assert(overall(planes, cos, t - 1) < target,
        s"($planes,$cq,$targetPpm)->$t not minimal")
    }
    // tables grow with planes (the corpus-growth trade made explicit)
    assert(Similarity.lshTablesFor(13, 900) > Similarity.lshTablesFor(6, 900))
    // outside sign-LSH's useful regime -> loud failure, not 10^6 tables
    val e = intercept[IllegalArgumentException] {
      Similarity.lshTablesFor(40, 500, 900000L)
    }
    assert(e.getMessage.contains("useful regime"))
  }

  test("near-dup nTables default derives via lshTablesFor (r13 wiring)") {
    // the derived default (nTables = 0) must be bit-identical to an
    // explicit call at the lshTablesFor count — the operator's default
    // IS the r12-measured recall discipline, not a fixed table count
    val emb = graft.sources.Tables.embeddings(spark, sf0001).cache()
    val planes = Similarity.autoPlanes(emb, Similarity.NearDupOccupancy)
    val derived = Similarity.lshTablesFor(planes, Similarity.NearDupDesignCosMilli)
    assert(planes == 4 && derived == 3,
      s"500-vector operating point moved: planes=$planes tables=$derived")
    val viaDefault = Similarity.lshNearDupPairsPortable(emb,
        threshold = 0.4, nPlanes = planes, dim = 64)
      .as[(Long, Long, Double)].collect().toSet
    val viaExplicit = Similarity.lshNearDupPairsPortable(emb,
        threshold = 0.4, nPlanes = planes, dim = 64, nTables = derived)
      .as[(Long, Long, Double)].collect().toSet
    assert(viaDefault == viaExplicit)
    assert(viaDefault.nonEmpty)
  }
}
