package graft.ops

import graft.SparkSpec
import graft.llmops.Dedup
import graft.reco.{ItemCF, NegativeBalancer}
import org.apache.spark.sql.functions._

/** Scale-stress of the skew guards on a generated hot-key corpus
  * (VERDICT r2 "Next round" #3): the 100 TB claims in SCALE.md,
  * demonstrated rather than argued. Each test measures the guard's
  * before/after effect; the numbers are recorded in NOTES_r3.md.
  *
  * Corpus shape: one power-law "hot" user with 10^5 interactions over
  * a 2 000-item domain, against a long tail of normal users — the
  * adversarial shape for user-keyed self-joins, agg-buffer state, and
  * LSH bucket fan-out.
  */
class SkewStressSpec extends SparkSpec {

  import spark.implicits._

  private val nItems = 2000

  /** (user_id, item_id): hot user 0 hits every item (10^5 raw rows,
    * 2 000 distinct); 500 tail users with 20 items each. */
  private lazy val skewedUi = {
    val rnd = new scala.util.Random(7)
    val hot = (1 to 100000).map(i => (0, i % nItems))
    val tail = for (u <- 1 to 500; _ <- 1 to 20)
      yield (u, rnd.nextInt(nItems))
    (hot ++ tail).toDF("user_id", "item_id")
  }

  test("capPerUser binds: hot user's self-join contribution drops " +
      "from d^2 to cap^2") {
    val distinctUi = skewedUi.distinct().cache()
    val capped = ItemCF.capPerUser(distinctUi, 200)
    val maxPerUser = capped.groupBy("user_id").count()
      .agg(max("count")).head().getLong(0)
    assert(maxPerUser == 200L, s"cap did not bind: $maxPerUser")

    // pair volume the co-occurrence self-join must process
    def pairVolume(ui: org.apache.spark.sql.DataFrame): Long =
      ui.groupBy("user_id").count()
        .agg(sum(col("count") * (col("count") - 1))).head().getLong(0)
    val before = pairVolume(distinctUi) // hot user alone: 2000*1999
    val after = pairVolume(capped)
    assert(after < before / 10,
      s"pair volume $before -> $after: guard ineffective")
    // and the capped join actually runs at test scale
    val simRows = ItemCF.itemSimilarity(skewedUi, maxItemsPerUser = 200).count()
    assert(simRows > 0)
    info(s"co-occurrence pair volume: uncapped=$before capped=$after " +
      s"(${before / after}x reduction), sim rows=$simRows")
  }

  test("hot-key negatives equal the reference's driver-side set " +
      "difference") {
    // the reference's NegativeBalancer on the driver: popular items by
    // event count (ties by item id) minus the user's distinct positives,
    // first n_pos * ratio; the hot user holds every item, so gets none
    val maxCandidates = 100
    val rows = skewedUi.as[(Int, Int)].collect()
    val popular = rows.groupBy(_._2).toSeq.map { case (i, es) => (i, es.length) }
      .sortBy { case (i, cnt) => (-cnt, i) }.take(maxCandidates).map(_._1)
    val want = rows.groupBy(_._1).map { case (u, es) =>
      val positives = es.map(_._2).toSet
      u -> popular.filterNot(positives).take(positives.size)
    }.filter(_._2.nonEmpty)
    val got = NegativeBalancer.negatives(skewedUi, maxCandidates, 1.0)
      .select("user_id", "item_id").as[(Int, Int)].collect()
      .groupBy(_._1).map { case (u, es) => u -> es.map(_._2).toSeq }
    assert(!got.contains(0), "the hot user holds every item")
    assert(got == want)
  }

  test("duplicate flood: exact-dedup collapse bounds MinHash bucket " +
      "fan-out (the composed pipeline's flood guard)") {
    val flood = (1 to 2000).map(i => (i.toLong,
        "the same duplicated document text repeated verbatim many times"))
    val distinctDocs = (1 to 50).map(i => (2000L + i,
        s"unique document number $i about topic ${i % 7} with content $i"))
    val docs = (flood ++ distinctDocs).toDF("doc_id", "text").cache()

    // raw banding: every flood doc lands in the same bucket per band
    val bands = 8
    val sigs = Dedup.portableSignatures(docs, "doc_id", "text",
      shingleK = 3, numHashes = 32)
    val rawMaxBucket = Dedup.portableBandRows(sigs, bands, 4)
      .groupBy("band", "band_key").count()
      .agg(max("count")).head().getLong(0)
    assert(rawMaxBucket >= 2000,
      s"expected flood bucket of >=2000, got $rawMaxBucket")

    // guard: collapse exact dups to canonicals FIRST (one hash shuffle),
    // then near-dup only canonical representatives
    val canon = Dedup.exact(docs, "doc_id", "text")
      .filter(!col("is_dup")).select(col("doc_id"), col("text")).cache()
    assert(canon.count() == 51)
    val canonSigs = Dedup.portableSignatures(canon, "doc_id", "text",
      shingleK = 3, numHashes = 32)
    val canonMaxBucket = Dedup.portableBandRows(canonSigs, bands, 4)
      .groupBy("band", "band_key").count()
      .agg(max("count")).head().getLong(0)
    assert(canonMaxBucket <= 10,
      s"canonical corpus still floods buckets: $canonMaxBucket")
    // candidate pairs: n^2 avoided (2000^2/2 = 2M raw -> bounded)
    val canonPairs = Dedup.minhashCandidatesPortable(canon, "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5).cache()
    val candidates = canonPairs.count()
    assert(candidates < 1000)

    // and the raw path is ALSO safe with the bucket cap engaged: flood
    // buckets are SAMPLED to the cap (r5: no longer dropped wholesale),
    // bounding the join at ≤ bands·cap²/2 flood pairs instead of B²/2
    val cap = 100
    val capped = Dedup.minhashCandidatesPortable(docs, "doc_id", "text",
      shingleK = 3, numHashes = 32, bands = 8, threshold = 0.5,
      maxBucketSize = Some(cap)).cache()
    val cappedN = capped.count()
    assert(cappedN < 8 * cap * cap / 2 + 1000,
      s"bucket cap failed to bound the flood: $cappedN")
    def amongDistinct(df: org.apache.spark.sql.DataFrame): Long =
      df.filter(col("id_a") > 2000 && col("id_b") > 2000).count()
    assert(amongDistinct(capped) == amongDistinct(canonPairs),
      "cap must not change candidates among non-flood docs")
    // band-varied sampling keeps MORE flood members represented than a
    // single bucket's cap — the recall property motivating the r5
    // sample-not-drop change (members appear in different bands)
    import spark.implicits._
    val floodMembers = capped.filter(col("id_a") <= 2000)
      .select(col("id_a")).union(
        capped.filter(col("id_b") <= 2000).select(col("id_b")))
      .distinct().count()
    assert(floodMembers > cap,
      s"band-varied sample covered only $floodMembers flood members")
    // the SimHash block join gets the same two guards: collapse first,
    // or cap (sample) the flood buckets on the raw path
    val simCapped = Dedup.simhashPairs(docs, "doc_id", "text",
      maxHamming = 3, maxBucketSize = Some(cap)).count()
    assert(simCapped < 4 * cap * cap / 2 + 1000,
      s"simhash bucket cap failed to bound the flood: $simCapped")

    info(s"bucket max: raw=$rawMaxBucket canonical=$canonMaxBucket, " +
      s"candidate pairs after collapse=$candidates, raw+cap=$cappedN, " +
      s"simhash raw+cap=$simCapped (vs ~2.0M all-pairs)")
  }

  test("AQE splits the skewed shuffle partition in a hot-key join") {
    // dedicated session conf: same JVM, isolated SQLConf
    val s = spark.newSession()
    import s.implicits._
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    // compressed-size thresholds (skew detection reads MapOutputStatistics,
    // post-compression): low enough that the hot key's partition trips it
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "128k")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64k")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    s.conf.set("spark.sql.shuffle.partitions", "8")

    val pad = "x" * 100
    // hot key 0: 150k rows; 50 tail keys with 400 rows each
    val big = (0 until 170000).map { i =>
      val k = if (i < 150000) 0 else 1 + i % 50
      (k, s"$pad$i")
    }.toDF("k", "payload")
    val small = (0 to 50).map(k => (k, s"dim$k")).toDF("k", "name")

    val joined = big.join(small, "k")
    // execute THIS DataFrame's own QueryExecution: count()/foreach()
    // build separate plans and would leave this one isFinalPlan=false
    assert(joined.collect().length == 170000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE did not mark the skewed join:\n${plan.take(2000)}")
  }
}
