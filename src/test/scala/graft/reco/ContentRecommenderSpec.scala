package graft.reco

import graft.SparkSpec
import org.apache.spark.sql.classic

class ContentRecommenderSpec extends SparkSpec {
  import spark.implicits._

  private def toy = Seq(
    (1L, "spark catalyst optimizer rules engine"),
    (2L, "spark catalyst optimizer rules framework"), // ≈ doc 1
    (3L, "parquet columnar storage format files"),
    (4L, "cooking pasta with tomato sauce dinner")
  ).toDF("doc_id", "text")

  test("similar docs ranks the near-identical doc first") {
    val sims = ContentRecommender.similarDocsPrefix(toy, "doc_id", "text", k = 2)
      .select("id_a", "id_b", "rn").as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toList).toMap
    assert(sims(1L).head == 2L)
    assert(sims(2L).head == 1L)
    // disjoint-vocab doc has no neighbors at all
    assert(!sims.contains(4L))
  }

  // one user who touched docs 1 and 3
  private def inter = Seq((10L, 1L, 1000L), (10L, 3L, 2000L))
    .toDF("user_id", "item_id", "ts_ns")
  private def users = Seq(Tuple1(10L)).toDF("user_id")

  test("content recommendations exclude seen items") {
    val recs = new ContentUserRecommender(inter, toy, "doc_id", "text")
      .recommendForUsers(users, topK = 2)
      .select("user_id", "item_id").as[(Long, Long)].collect()
    // doc 2 shares doc 1's prefix terms; docs 1 and 3 are seen
    assert(recs.toSeq == Seq((10L, 2L)))
  }

  test("a prefix posting above the cap fails both similarity paths") {
    // 2,100 of 3,000 docs share "hotterm" (df 2,100 <= 0.8·n keeps it),
    // and with two terms per doc it is in every one of their prefixes
    val docs = (0 until 3000).map(i =>
      (i.toLong, if (i < 2100) s"hotterm u$i" else s"u$i v$i"))
      .toDF("doc_id", "text")
    val e1 = intercept[Exception] {
      ContentRecommender.similarDocsPrefix(docs, "doc_id", "text", k = 2).collect()
    }
    assert(e1.getMessage.contains("2048"), e1.getMessage)
    val e2 = intercept[Exception] {
      new ContentUserRecommender(
          Seq((10L, 0L, 1000L)).toDF("user_id", "item_id", "ts_ns"),
          docs, "doc_id", "text")
        .recommendForUsers(users, topK = 2).collect()
    }
    assert(e2.getMessage.contains("2048"), e2.getMessage)
  }

  test("building a content recommendation runs no Spark job") {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val (i, u) = (inter, users)
    spark.sparkContext.addSparkListener(listener)
    try {
      new ContentUserRecommender(i, toy, "doc_id", "text")
        .recommendForUsers(u, topK = 2)
      org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
      assert(jobs.get() == 0,
        s"building the content recommendation ran ${jobs.get()} Spark job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def cacheManager =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager

  test("a content recommendation leaves nothing cached") {
    spark.catalog.clearCache()
    new ContentUserRecommender(inter, toy, "doc_id", "text")
      .recommendForUsers(users, topK = 2).collect()
    assert(cacheManager.isEmpty, "the content recommendation left a cached frame behind")
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
