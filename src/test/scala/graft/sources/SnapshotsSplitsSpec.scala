package graft.sources

import graft.SparkSpec
import graft.reco.Splits
import org.apache.spark.sql.functions._
import java.nio.file.Files

class SnapshotsSplitsSpec extends SparkSpec {
  import spark.implicits._

  test("snapshot memoization: computes once, reads after") {
    val base = Files.createTempDirectory("snap").toString
    var computed = 0
    def make = { computed += 1; Seq((1, "a"), (2, "b")).toDF("id", "v") }
    val a = Snapshots.loadOrCreate(spark, base, "2026-08-12", "t")(make)
    val b = Snapshots.loadOrCreate(spark, base, "2026-08-12", "t")(make)
    assert(computed == 1)
    assert(a.collect().toSet == b.collect().toSet)
    // different snapshot date → recompute
    Snapshots.loadOrCreate(spark, base, "2026-08-13", "t")(make)
    assert(computed == 2)
  }

  test("model persistence round-trip (ALS)") {
    val dir = Files.createTempDirectory("alsmodel").toString + "/m"
    val ratings = graft.reco.Interactions.ratings(spark, sf0001)
    var fits = 0
    def fit = {
      fits += 1
      graft.reco.AlsRecommender.train(ratings, rank = 4, regParam = 0.1,
        alpha = 10, maxIter = 2, seed = 42).modelRef
    }
    val m1 = Snapshots.loadOrCreateModel(dir,
      org.apache.spark.ml.recommendation.ALSModel.load)(fit)
    val m2 = Snapshots.loadOrCreateModel(dir,
      org.apache.spark.ml.recommendation.ALSModel.load)(fit)
    assert(fits == 1)
    assert(m2.rank == m1.rank)
  }

  test("stratified split: fractions ≈ target, test = complement") {
    val inter = graft.reco.Interactions.fromEvents(spark, sf0001).cache()
    val (train, test) = Splits.byUser(inter, "user_id", 0.8, seed = 42)
    val n = inter.count(); val nTrain = train.count(); val nTest = test.count()
    assert(nTrain + nTest == n)
    assert(math.abs(nTrain.toDouble / n - 0.8) < 0.1)
  }

  test("portable split: exact complement, deterministic, ~frac per user") {
    val inter = graft.reco.Interactions.fromEvents(spark, sf0001).cache()
    val (tr, te) = Splits.byUserPortable(inter, "item_id", 0.8, "s90")
    val n = inter.count()
    assert(tr.count() + te.count() == n)
    assert(tr.intersect(te).count() == 0, "sides must be disjoint")
    // same assignment on a different physical layout
    val (tr2, _) = Splits.byUserPortable(inter.repartition(13),
      "item_id", 0.8, "s90")
    assert(tr.select("user_id", "item_id").except(
      tr2.select("user_id", "item_id")).count() == 0)
    assert(math.abs(tr.count().toDouble / n - 0.8) < 0.1)
  }

  test("portable split holds its fraction on a hot-user skewed fixture") {
    // VERDICT r10 #7: q158's fixture users are uniform; plant a
    // power-law corpus — ONE user owns 50% of all rows — and prove
    // the md5-bucket assignment stays in-expectation PER STRATUM
    // (the hot stratum gets no systematic drift from sharing one
    // id-space with 100 calm users), stays a exact complement, and
    // replays row-for-row against an INDEPENDENT md5 implementation
    // (JDK MessageDigest — the spec-level analogue of the q158
    // DuckDB oracle, on the fixture the driver cannot generate).
    val rows = (1L to 10000L).map(i => (1L, i)) ++
      (2L to 101L).flatMap(u => (1L to 100L).map(i => (u, u * 1000000L + i)))
    val df = rows.toDF("user_id", "event_id")
    val (tr, te) = Splits.byUserPortable(df, "event_id", 0.8, "skew90")
    // hot stratum: binomial(10000, 0.8), sd ≈ 40 — a 5σ band; the
    // seed is fixed so any failure here is deterministic drift
    val hotTr = tr.filter($"user_id" === 1L).count()
    assert(math.abs(hotTr - 8000L) <= 200, s"hot stratum n_train=$hotTr")
    val calmTr = tr.filter($"user_id" =!= 1L).count()
    assert(math.abs(calmTr - 8000L) <= 200, s"calm strata n_train=$calmTr")
    assert(tr.count() + te.count() == rows.size.toLong)
    assert(tr.intersect(te).isEmpty, "sides must be disjoint")
    val gotTrain = tr.select($"event_id").as[Long].collect().toSet
    val expTrain = rows.map(_._2).filter { id =>
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"skew90:$id".getBytes("UTF-8"))
      val bucket = java.lang.Long.parseLong(
        d.take(4).map(b => f"$b%02x").mkString, 16) % 1000000L
      bucket < 800000L
    }.toSet
    assert(gotTrain == expTrain,
      "Spark assignment must equal the independent md5 replay")
  }

  test("mergeUpsert: highest version wins, update side wins ties") {
    val base = Seq((1, 1, "a"), (2, 1, "b"), (3, 2, "c"))
      .toDF("k", "version", "v")
    val upd = Seq((2, 2, "b2"), (3, 2, "c2"), (4, 1, "d"))
      .toDF("k", "version", "v")
    val out = Snapshots.mergeUpsert(base, upd, "k", "version")
      .orderBy("k").as[(Int, Int, String)].collect().toSeq
    // k=2: update has higher version; k=3: tie → update side; k=4: insert
    assert(out == Seq((1, 1, "a"), (2, 2, "b2"), (3, 2, "c2"), (4, 1, "d")))
  }
}
