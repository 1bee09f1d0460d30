package graft.llmops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force ground truth for simhash pair recall. */
  private def bruteForcePairs(docs: org.apache.spark.sql.DataFrame,
      r: Int): Set[(Long, Long)] = {
    val sh = Dedup.simhashes60Portable(docs, "doc_id", "text")
      .as[(Long, Long)].collect()
    (for {
      (ia, ha) <- sh; (ib, hb) <- sh
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= r
    } yield (ia, ib)).toSet
  }

  /** Vocabulary-perturbed corpus: clusters of near-identical docs so
    * true pairs exist at a spread of Hamming distances. */
  private def perturbed = {
    val vocab = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa", "lambda", "mu", "nu", "xi")
    val rnd = new scala.util.Random(7)
    (0L until 60L).map { i =>
      val base = Array.tabulate(30)(j => vocab((j * 3 + (i / 12).toInt) % vocab.length))
      // flip a few words per doc within its cluster of 12
      (0 until (i % 12).toInt / 3).foreach { k =>
        base(rnd.nextInt(base.length)) = vocab(rnd.nextInt(vocab.length))
      }
      (i, base.mkString(" "))
    }.toDF("doc_id", "text")
  }

  test("simhash blocking is pigeonhole-complete at radius 3") {
    val expected = bruteForcePairs(perturbed, 3)
    val got = Dedup.simhashPairs(perturbed, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.nonEmpty, "fixture must plant at least one true pair")
  }

  test("simhash multi-block keys (Manku (6,3) and (6,2)) match brute force") {
    // the r12 scale shape: wider keys over C(k,t) tables must return
    // the IDENTICAL pair set (pigeonhole completeness + exact Hamming
    // verify) — only the candidate volume changes
    val expected = bruteForcePairs(perturbed, 3)
    for ((k, t) <- Seq((6, 3), (6, 2), (8, 4))) {
      val got = Dedup.simhashPairs(perturbed, "doc_id", "text",
          maxHamming = 3, kBlocks = k, keyBlocks = t)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(got == expected,
        s"(k=$k,t=$t): missing=${expected -- got} extra=${got -- expected}")
    }
    // the pigeonhole precondition is ENFORCED, not assumed
    val e = intercept[IllegalArgumentException] {
      Dedup.simhashPairs(perturbed, "doc_id", "text",
        maxHamming = 3, kBlocks = 4, keyBlocks = 2)
    }
    assert(e.getMessage.contains("keyBlocks"))
  }

  test("simhash blocking is pigeonhole-complete at radius 8 (9 blocks)") {
    val expected = bruteForcePairs(perturbed, 8)
    val got = Dedup.simhashPairs(perturbed, "doc_id", "text", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got == expected, s"missing=${expected -- got} extra=${got -- expected}")
    assert(expected.size > bruteForcePairs(perturbed, 3).size,
      "radius 8 must find strictly more pairs than radius 3 on this fixture")
  }

  private val base = "the quick brown fox jumps over the lazy dog " * 5
  private def toy = Seq(
    (1L, base),
    (2L, base),                                  // exact dup of 1
    (3L, base.replace("lazy", "sleepy")),        // near dup of 1
    (4L, "completely different content about spark catalyst optimizer rules"),
    (5L, "Another unrelated document mentioning parquet columnar storage")
  ).toDF("doc_id", "text")

  test("exact dedup marks identical docs, keeps min id as canon") {
    val out = Dedup.exact(toy, "doc_id", "text")
    val byId = out.select("doc_id", "canon_id", "is_dup")
      .as[(Long, Long, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(1L) == (1L, false))
    assert(byId(2L) == (1L, true))
    assert(byId(3L)._2 == false) // near dup is NOT an exact dup
  }

  test("minhash LSH surfaces exact and near dup pairs, not unrelated") {
    val cands = Dedup.minhashCandidatesPortable(toy, "doc_id", "text",
      shingleK = 2, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
    assert(cands.contains((1L, 3L)) || cands.contains((2L, 3L)))
    assert(!cands.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("exact jaccard: identical docs = 1.0, disjoint < 0.1") {
    val pairs = Seq((1L, 2L), (1L, 4L)).toDF("id_a", "id_b")
    val j = Dedup.exactJaccard(toy, pairs, "doc_id", "text", shingleK = 2)
      .as[(Long, Long, Double)].collect().map(r => (r._1, r._2) -> r._3).toMap
    assert(j((1L, 2L)) == 1.0)
    assert(j((1L, 4L)) < 0.1)
  }

  test("simhash: identical hash for identical text, close for near dup") {
    val sh = Dedup.simhashes60Portable(toy, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    val hamNear = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val hamFar = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(hamNear < hamFar)
  }

  test("simhashes60Portable: a token's code is the first 15 hex chars of " +
      "its md5, the value the DuckDB oracle replays") {
    val toks = Seq("alpha", "beta", "gamma", "日本語")
    val code = toks.toDF("t")
      .select($"t", conv(substring(md5($"t"), 1, 15), 16, 10).cast("long"))
      .as[(String, Long)].collect().toMap
    val docs = (toks :+ "alpha beta gamma").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val sh = Dedup.simhashes60Portable(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    // one token: every bit's vote is that token's bit
    toks.indices.foreach { i =>
      assert(sh(i.toLong) == code(toks(i)), s"token ${toks(i)}")
    }
    // three tokens: each bit is the majority of their three codes
    val Seq(a, b, c) = Seq("alpha", "beta", "gamma").map(code)
    assert(sh(toks.size.toLong) == ((a & b) | (a & c) | (b & c)))
  }

  test("simhashPairs finds the exact-dup pair via quarter blocking") {
    val pairs = Dedup.simhashPairs(toy, "doc_id", "text", maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("simhashBlocksFor: occupancy ladder derivation (r13)") {
    // gate scale (and anything under ~1.05M docs at radius 3) derives
    // the minimal blocking (4 blocks of the 60-bit code)
    assert(Dedup.simhashBlocksFor(500L, 3) == ((4, 1)))
    assert(Dedup.simhashBlocksFor(5000L, 3) == ((4, 1)))
    // exact integer boundary: 15-bit keys hold occupancy 32 up to
    // n-1 < 32·2^15; one doc past it steps to (5,2) — 24-bit min key
    assert(Dedup.simhashBlocksFor(1048576L, 3) == ((4, 1)))
    assert(Dedup.simhashBlocksFor(1048577L, 3) == ((5, 2)))
    // the r12-measured saturation point (5M docs) derives (5,2) —
    // the config the 1000x diag shows holds candidates linear
    assert(Dedup.simhashBlocksFor(5000000L, 3) == ((5, 2)))
    // next boundary: (5,2) holds to n-1 < 32·2^24
    assert(Dedup.simhashBlocksFor(1L << 29, 3) == ((5, 2)))
    assert(Dedup.simhashBlocksFor((1L << 29) + 1L, 3) == ((6, 3)))
    // other radii keep the same rule (radius 8 gate scale = (9,1))
    assert(Dedup.simhashBlocksFor(60L, 8) == ((9, 1)))
    // huge corpora terminate with a wide point, not an overflow
    val (bigK, bigT) = Dedup.simhashBlocksFor(1L << 50, 3)
    assert(bigT >= 1 && bigK == bigT + 3)
  }

  test("simhashPairs derived default equals explicit (4,1) at gate scale") {
    val viaDefault = Dedup.simhashPairs(perturbed, "doc_id", "text",
        maxHamming = 3)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val viaExplicit = Dedup.simhashPairs(perturbed, "doc_id", "text",
        maxHamming = 3, kBlocks = 4, keyBlocks = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(viaDefault == viaExplicit && viaDefault.nonEmpty)
  }

  test("portable minhash surfaces the planted dup pairs, not unrelated") {
    val cands = Dedup.minhashCandidatesPortable(toy, "doc_id", "text",
      shingleK = 2, numHashes = 32, bands = 8, threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("portable simhash: identical docs hash equal, n_near is symmetric") {
    val prof = Dedup.simhashNearProfilePortable(toy, "doc_id", "text",
      maxHamming = 3).as[(Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(prof(1L)._1 == prof(2L)._1) // identical text, identical hash
    assert(prof(1L)._2 >= 1 && prof(2L)._2 >= 1) // each sees the other
    // every hash fits in 60 bits
    prof.values.foreach { case (sh, _) => assert((sh >>> 60) == 0L) }
  }

  test("portable simhash blocking matches brute force at radius 3") {
    val prof = Dedup.simhashNearProfilePortable(perturbed, "doc_id", "text",
      maxHamming = 3).as[(Long, Long, Long)].collect()
    val hashes = prof.map(r => r._1 -> r._2).toMap
    val brute = prof.map { case (id, sh, _) =>
      id -> hashes.count { case (oid, osh) =>
        oid != id && java.lang.Long.bitCount(sh ^ osh) <= 3 }.toLong
    }.toMap
    prof.foreach { case (id, _, n) => assert(n == brute(id),
      s"doc $id: blocked=$n brute=${brute(id)}") }
  }

  test("shingleSets: distinct k-word shingles; short text falls back whole") {
    val sh = Dedup.shingleSets(
        Seq((1L, "a b c d a b c"), (2L, "a b")).toDF("id", "t"), "id", "t", 3)
      .as[(Long, Seq[String])].collect().toMap
    assert(sh(1L) == Seq("a b c", "b c d", "c d a", "d a b"))
    assert(sh(2L) == Seq("a b"))
  }

  test("substringDupScan: cross-doc copied span flagged, unique doc " +
      "clean, short doc excluded, within-doc repeat counts") {
    // span = 4 shared tokens; w = 4 so exactly one window covers it
    val docs = Seq(
      (1L, "one two three four alpha beta gamma delta"),   // span at head
      (2L, "x y one two three four z q"),                  // same span copied
      (3L, "p q r s t u v w"),                             // novel, no dups
      (4L, "too short"),                                   // < w tokens: excluded
      (5L, "r1 r2 r3 r4 r1 r2 r3 r4 r1 r2 r3 r4")          // within-doc repeat
    ).toDF("doc_id", "text")
    val got = Dedup.substringDupScan(docs, "doc_id", "text", w = 4)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(!got.contains(4L), "short doc must be excluded")
    // docs 1/2: 5 windows each (8-4+1), exactly one duplicated;
    // coverage in integer basis points (1/5 = 2000 bp)
    assert(got(1L) == ((5L, 1L, 2000L)) && got(2L) == ((5L, 1L, 2000L)),
      s"copied span mis-scored: $got")
    assert(got(3L) == ((5L, 0L, 0L)), "unique doc must score zero")
    // doc 5: 9 windows, period 4 -> every window recurs within the doc
    assert(got(5L)._1 == 9L && got(5L)._2 == 9L && got(5L)._3 == 10000L,
      s"within-doc repeat mis-scored: ${got(5L)}")
  }

  test("decontaminate: eval-overlapping doc flagged with hit count, " +
      "clean and short docs admitted") {
    val evalDocs = Seq(
      (100L, "secret bench question alpha beta gamma delta epsilon")
    ).toDF("doc_id", "text")
    val train = Seq(
      // shares the eval doc's first 4-token window
      (1L, "intro secret bench question alpha coda one two three"),
      (2L, "totally unrelated text with enough tokens to window"),
      (3L, "too short")                       // < w tokens: admitted
    ).toDF("doc_id", "text")
    val got = Dedup.decontaminate(train, evalDocs, "doc_id", "text", w = 4)
      .as[(Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got(1L) == ((1L, true)), s"overlap doc mis-flagged: $got")
    assert(got(2L) == ((0L, false)), "clean doc must be admitted")
    assert(got(3L) == ((0L, false)), "short doc must be admitted")
    assert(got.size == 3, "every training doc must be reported")
  }
}
