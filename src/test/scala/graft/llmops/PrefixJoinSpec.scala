package graft.llmops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PrefixJoinSpec extends SparkSpec {

  import spark.implicits._

  private def bruteForce(docs: org.apache.spark.sql.DataFrame, t: Double) = {
    val ids = docs.select($"doc_id".as("id_a")).crossJoin(
      docs.select($"doc_id".as("id_b"))).filter($"id_a" < $"id_b")
    Dedup.exactJaccard(docs, ids, "doc_id", "text", 3)
      .filter($"jaccard" >= t)
      .select($"id_a", $"id_b", round($"jaccard", 6).as("j"))
      .as[(Long, Long, Double)].collect().toSet
  }

  test("prefix-filtered join equals brute force on a planted corpus") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docs = Seq(
      (1L, base),
      (2L, base + " lambda"),                    // near-dup of 1
      (3L, base.replace("delta", "DELTA") + " mu nu"),
      (4L, "totally different words about cooking bread and mountain gardens today"),
      (5L, "totally different words about cooking bread and mountain gardens tomorrow"),
      (6L, "unrelated singleton content nothing shared here at all whatsoever")
    ).toDF("doc_id", "text")
    for (t <- Seq(0.3, 0.5, 0.8)) {
      val got = Dedup.prefixFilterJoin(docs, "doc_id", "text", 3, t)
        .as[(Long, Long, Double)].collect().toSet
      assert(got == bruteForce(docs, t), s"mismatch at t=$t")
    }
  }

  test("a pair exactly at the threshold is retained") {
    // doc 1: shingles {s1..s4}; doc 2 shares 2 of 4 with 2 extra ->
    // J = 2/6 = 0.333...; use t = 1/3 boundary via a cleaner J = 0.5:
    // x: 4 shingles, y: same 4 shingles + 4 others -> J = 4/8 = 0.5
    val x = "a b c d e f"                       // shingles: abc bcd cde def (4)
    val y = "a b c d e f p q r s"               // 8 shingles, 4 shared
    val docs = Seq((1L, x), (2L, y)).toDF("doc_id", "text")
    val got = Dedup.prefixFilterJoin(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((1L, 2L, 0.5)))
  }

  test("prefix pruning keeps common-shingle-only pairs out of the join") {
    // many docs share a COMMON head shingle but nothing else; with
    // t=0.5 no pair qualifies and none should even reach verification
    val docs = (1L to 30L).map(i =>
      (i, s"common head shingle unique$i tail$i word$i extra$i more$i"))
      .toDF("doc_id", "text")
    val got = Dedup.prefixFilterJoin(docs, "doc_id", "text", 3, 0.5).count()
    assert(got == 0)
  }

  test("disk-budget guard fails fast before any expensive stage (r13)") {
    // simulate the single-box 1000x regime (SCALE.md r12: >70 GB of
    // spill, then an OS kill mid-verify) with a tiny conf-injected
    // budget: the call must throw IMMEDIATELY from the scan-only
    // estimate, naming the alternatives and the override
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota")
    ).toDF("doc_id", "text")
    spark.conf.set("graft.exactJoin.diskBudgetBytes", "10")
    try {
      val e = intercept[IllegalStateException] {
        Dedup.prefixFilterJoin(docs, "doc_id", "text", 3, 0.5)
      }
      assert(e.getMessage.contains("CLUSTER operator"))
      assert(e.getMessage.contains("minhashCandidatesPortable"))
      assert(e.getMessage.contains("graft.exactJoin.diskBudgetBytes"))
      // same contract on the containment sibling
      val e2 = intercept[IllegalStateException] {
        Dedup.containmentJoin(docs, "doc_id", "text", 3, 0.8)
      }
      assert(e2.getMessage.contains("containmentJoin"))
      // a budget above the estimate (the deployment override) runs it
      spark.conf.set("graft.exactJoin.diskBudgetBytes", Long.MaxValue.toString)
      val out = Dedup.prefixFilterJoin(docs, "doc_id", "text", 3, 0.3).count()
      assert(out >= 1)
    } finally spark.conf.unset("graft.exactJoin.diskBudgetBytes")
    // with the real budget (this box), the gate-scale corpus passes
    val ok = Dedup.prefixFilterJoin(docs, "doc_id", "text", 3, 0.3).count()
    assert(ok >= 1)
  }

  test("containment join flags an excerpt the symmetric join cannot") {
    // doc 1 is doc 2's opening sentence; doc 2 is 5x longer.
    // Jaccard ~ |A|/|B| stays far under 0.5, containment(1->2) = 1.0
    val excerpt = "the quick brown fox jumps over the lazy dog"
    val long = excerpt + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val docs = Seq((1L, excerpt), (2L, long), (3L, "unrelated text entirely here"))
      .toDF("doc_id", "text")
    val sym = Dedup.prefixFilterJoin(docs, "doc_id", "text", 3, 0.5)
    assert(sym.isEmpty, "symmetric Jaccard must miss the excerpt")
    val got = Dedup.containmentJoin(docs, "doc_id", "text", 3, 0.8)
      .select($"id_a", $"id_b", $"containment_ppm")
      .as[(Long, Long, Long)].collect().toSet
    // ordered pairs: only excerpt -> container qualifies (1.0);
    // container -> excerpt has containment |A∩B|/|container| << 0.8
    assert(got == Set((1L, 2L, 1000000L)))
  }

  test("64-bit shingle identity is collision-free on the gate fixtures") {
    // the r10 narrow-lane verify compares xxhash64 identities instead
    // of shingle strings; its exactness claim is "modulo 64-bit
    // collisions" (expected events < 1e-7 per run) — this pin makes
    // it UNCONDITIONAL for the fixtures the driver gates and the
    // bench actually run (sf0.01 gate corpus and sf0.1 bench corpus)
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val inst = Dedup.shingleSets(
          graft.sources.Tables.documents(spark, dir), "doc_id", "text", 3)
        .select(explode($"sh").as("t")).distinct()
      val counts = inst.agg(
        count(lit(1)).as("n_t"),
        countDistinct(xxhash64($"t")).as("n_h")).head()
      assert(counts.getLong(0) == counts.getLong(1),
        s"$dir: ${counts.getLong(0)} shingles, ${counts.getLong(1)} hashes")
    }
  }

  test("collisionGuard mode passes the clean fixture with identical output") {
    // the documented fallback for untrusted corpora: one extra
    // distinct-count pass that fail-fasts on any 64-bit shingle
    // collision instead of silently answering; on a collision-free
    // corpus it must be a pure no-op on the result
    val docs = graft.sources.Tables.documents(spark, sf0001)
    val guarded = Dedup.prefixFilterJoin(docs, "doc_id", "text", 3, 0.5,
        collisionGuard = true)
      .as[(Long, Long, Double)].collect().toSet
    val plain = Dedup.prefixFilterJoin(docs, "doc_id", "text", 3, 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(guarded == plain)
    val cGuarded = Dedup.containmentJoin(docs, "doc_id", "text", 3, 0.8,
        collisionGuard = true)
      .select($"id_a", $"id_b", $"containment_ppm")
      .as[(Long, Long, Long)].collect().toSet
    assert(cGuarded.nonEmpty)
  }

  test("containment join equals the brute-force definition on a fixture slice") {
    val docs = graft.sources.Tables.documents(spark, sf0001)
      .filter($"doc_id" < 120)
    val sh = Dedup.shingleSets(docs, "doc_id", "text", 3)
    val brute = sh.select($"id".as("id_a"), $"sh".as("sh_a"))
      .crossJoin(sh.select($"id".as("id_b"), $"sh".as("sh_b")))
      .filter($"id_a" =!= $"id_b")
      .select($"id_a", $"id_b",
        (size(array_intersect($"sh_a", $"sh_b")).cast("long") * 1000000L /
          size($"sh_a").cast("long")).cast("long").as("ppm"))
      .filter($"ppm" >= 800000L)
      .as[(Long, Long, Long)].collect().toSet
    val got = Dedup.containmentJoin(docs, "doc_id", "text", 3, 0.8)
      .select($"id_a", $"id_b", $"containment_ppm")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == brute)
  }
}
