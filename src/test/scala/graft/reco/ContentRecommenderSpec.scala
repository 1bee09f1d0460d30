package graft.reco

import graft.SparkSpec

class ContentRecommenderSpec extends SparkSpec {
  import spark.implicits._

  private def toy = Seq(
    (1L, "spark catalyst optimizer rules engine"),
    (2L, "spark catalyst optimizer rules framework"), // ≈ doc 1
    (3L, "parquet columnar storage format files"),
    (4L, "cooking pasta with tomato sauce dinner")
  ).toDF("doc_id", "text")

  test("similar docs ranks the near-identical doc first") {
    val sims = ContentRecommender.similarDocs(toy, "doc_id", "text", k = 2)
      .select("id_a", "id_b", "rn").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toList).toMap
    assert(sims(1L).head == 2L)
    assert(sims(2L).head == 1L)
    // disjoint-vocab doc has no neighbors at all
    assert(!sims.contains(4L))
  }

  test("posting cap: default never binds on small postings (exactness)") {
    val full = ContentRecommender
      .similarDocsPrefix(toy, "doc_id", "text", k = 2, postingCap = 0)
      .select("id_a", "id_b", "score", "rn").as[(Long, Long, Double, Int)]
      .collect().toSet
    val capped = ContentRecommender
      .similarDocsPrefix(toy, "doc_id", "text", k = 2) // default cap 2048
      .select("id_a", "id_b", "score", "rn").as[(Long, Long, Double, Int)]
      .collect().toSet
    assert(capped == full)
  }

  test("posting cap: cap=1 keeps only each term's top-weight entry") {
    // every posting shrinks to length 1 → a term can join a pair only
    // if the two docs are each other's sole champion for DIFFERENT
    // terms — on this toy corpus (docs 1,2 share 4 of 5 terms and tie
    // on weights; id tiebreak gives doc 1 every shared-term slot) no
    // term retains both docs, so no candidate pair survives.
    // allowCapTruncation is the REQUIRED opt-in here — the cap binds.
    val capped = ContentRecommender
      .similarDocsPrefix(toy, "doc_id", "text", k = 2, postingCap = 1,
        allowCapTruncation = true)
    assert(capped.count() == 0L)
    val uncapped = ContentRecommender
      .similarDocsPrefix(toy, "doc_id", "text", k = 2, postingCap = 0)
    assert(uncapped.count() > 0L) // the cap, not the corpus, emptied it
  }

  test("posting cap: a binding cap without the opt-in fails loudly") {
    // ADVICE r11 (medium): approximation must never be silent. Docs 1,2
    // share terms, so cap=1 truncates real postings — strict mode (the
    // default) must throw instead of answering approximately.
    val e = intercept[IllegalStateException] {
      ContentRecommender
        .similarDocsPrefix(toy, "doc_id", "text", k = 2, postingCap = 1)
    }
    assert(e.getMessage.contains("allowCapTruncation"))
    // same contract on the serving path
    val q = toy.select($"doc_id")
    val e2 = intercept[IllegalStateException] {
      ContentRecommender.similaritiesForQueries(
        toy, q, "doc_id", "text", postingCap = 1)
    }
    assert(e2.getMessage.contains("postingCap=1"))
    // and a NON-binding cap passes strict mode bit-identically
    val strict = ContentRecommender
      .similarDocsPrefix(toy, "doc_id", "text", k = 2) // default cap 2048
      .select("id_a", "id_b", "score", "rn").as[(Long, Long, Double, Int)]
      .collect().toSet
    val exact = ContentRecommender
      .similarDocsPrefix(toy, "doc_id", "text", k = 2, postingCap = 0)
      .select("id_a", "id_b", "score", "rn").as[(Long, Long, Double, Int)]
      .collect().toSet
    assert(strict == exact)
  }

  test("ContentUserRecommender surfaces the cap contract at the class " +
      "boundary (ADVICE r12)") {
    // interactions: one user who touched docs 1 and 3
    val inter = Seq((10L, 1L, 1000L), (10L, 3L, 2000L))
      .toDF("user_id", "item_id", "ts_ns")
    val users = Seq(Tuple1(10L)).toDF("user_id")
    // a binding cap with no opt-in must throw from recommendForUsers —
    // callers now have a remedy AT THE CONSTRUCTOR, not only inside
    // similaritiesForQueries
    val strict = new ContentUserRecommender(inter, toy, "doc_id", "text",
      postingCap = 1)
    val e = intercept[IllegalStateException] {
      strict.recommendForUsers(users, topK = 2).collect()
    }
    assert(e.getMessage.contains("allowCapTruncation"))
    // the constructor opt-in unblocks the same corpus
    val consented = new ContentUserRecommender(inter, toy, "doc_id", "text",
      postingCap = 1, allowCapTruncation = true)
    consented.recommendForUsers(users, topK = 2).collect() // no throw
    // and the default (non-binding cap on this corpus) still recommends
    val recs = new ContentUserRecommender(inter, toy, "doc_id", "text")
      .recommendForUsers(users, topK = 2)
      .select("user_id", "item_id").as[(Long, Long)].collect()
    assert(recs.nonEmpty && recs.forall(_._1 == 10L))
  }

  test("tfidf weights are L2-normalized per doc") {
    val norms = ContentRecommender.tfidfWeights(toy, "doc_id", "text")
      .groupBy($"id")
      .agg(org.apache.spark.sql.functions.sum($"w" * $"w").as("n2"))
      .select("n2").as[Double].collect()
    norms.foreach(n => assert(math.abs(n - 1.0) < 1e-12))
  }

  test("building tfidf weights runs no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ContentRecommender.tfidfWeights(toy, "doc_id", "text")
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      assert(jobs.get() == 0,
        s"building the tfidf weights ran ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("tfidf idf reads the corpus size, and a term in more than " +
      "0.8 of the docs is dropped") {
    // n = 5, so the df cap is (5 * 0.8).toLong = 4: "common" (df 5) is
    // dropped, "shared" (df 4) is kept
    val docs = Seq(
      (1L, "alpha common shared"),
      (2L, "beta common shared"),
      (3L, "gamma common shared"),
      (4L, "delta common shared"),
      (5L, "alpha alpha common")
    ).toDF("doc_id", "text")
    val w = ContentRecommender.tfidfWeights(docs, "doc_id", "text")
      .select("id", "term", "w").as[(Long, String, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(w.keySet.map(_._2) == Set("alpha", "beta", "gamma", "delta", "shared"))
    assert(w.keySet.filter(_._1 == 5L) == Set((5L, "alpha")))
    assert(math.abs(w((5L, "alpha")) - 1.0) < 1e-12)
    // idf = ln((n + 1) / (df + 1)) + 1: alpha has df 2, shared df 4
    val want = (math.log(6.0 / 3.0) + 1.0) / (math.log(6.0 / 5.0) + 1.0)
    assert(math.abs(w((1L, "alpha")) / w((1L, "shared")) - want) < 1e-12)
  }
}
