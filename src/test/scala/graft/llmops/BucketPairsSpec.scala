package graft.llmops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bucketed candidate core every near-dup and ANN family shares:
  * pair order, probe-side masks, the probe/index form and the flood
  * cap, on hand-built (id, tbl, key) fixtures. */
class BucketPairsSpec extends SparkSpec {

  import spark.implicits._

  private def pairs(df: DataFrame): Seq[(Long, Long)] =
    df.select("id_a", "id_b").as[(Long, Long)].collect().toSeq

  test("pairs are distinct under each ordering mode") {
    // ids 1 and 2 collide in BOTH tables, 3 joins them in table 1 only;
    // 4 sits alone; 5 repeats its own bucket row
    val rows = Seq((1L, 0, 10L), (2L, 0, 10L), (4L, 0, 11L),
        (1L, 1, 20L), (2L, 1, 20L), (3L, 1, 20L), (5L, 1, 30L), (5L, 1, 30L))
      .toDF("id", "tbl", "key")
    val asc = pairs(BucketPairs(rows, ascending = true))
    assert(asc.size == asc.distinct.size, s"duplicate pairs: $asc")
    assert(asc.toSet == Set((1L, 2L), (1L, 3L), (2L, 3L)))
    val directed = pairs(BucketPairs(rows, ascending = false))
    assert(directed.size == directed.distinct.size, s"duplicate pairs: $directed")
    assert(directed.toSet == asc.toSet ++ asc.map(_.swap))
  }

  test("masks expand the probe side only") {
    // 2-bit keys: 1 = 00, 2 = 01, 3 = 11, 4 = 00 (shares 1's bucket)
    val rows = Seq((1L, 0, 0L), (2L, 0, 1L), (3L, 0, 3L), (4L, 0, 0L))
      .toDF("id", "tbl", "key")
    val masks = BucketPairs.probeMasks(2, 1)
    assert(masks.toSet == Set(0L, 1L, 2L))
    val got = pairs(BucketPairs(rows, ascending = false, masks))
    assert(got.size == got.distinct.size, s"duplicate pairs: $got")
    // exactly the Hamming-≤1 pairs; masking BOTH sides would also pair
    // keys 00 and 11 (distance 2) through their shared neighbor 01/10
    val hamming1 = for {
      (a, ka) <- Seq(1L -> 0L, 2L -> 1L, 3L -> 3L, 4L -> 0L)
      (b, kb) <- Seq(1L -> 0L, 2L -> 1L, 3L -> 3L, 4L -> 0L)
      if a != b && java.lang.Long.bitCount(ka ^ kb) <= 1
    } yield (a, b)
    assert(got.toSet == hamming1.toSet)
    assert(!got.contains((1L, 3L)) && !got.contains((3L, 4L)))
  }

  test("the probe/index form with probe = index is the self form") {
    val rows = Seq((1L, 0, 0L), (2L, 0, 1L), (3L, 0, 3L), (4L, 0, 0L),
        (1L, 1, 2L), (3L, 1, 2L), (2L, 1, 2L), (5L, 1, 7L))
      .toDF("id", "tbl", "key")
    val masks = BucketPairs.probeMasks(2, 1)
    for (m <- Seq(Seq(0L), masks)) {
      val asc = pairs(BucketPairs.across(rows, rows,
        col("id_a") < col("id_b"), m))
      val ne = pairs(BucketPairs.across(rows, rows,
        col("id_a") =!= col("id_b"), m))
      assert(asc.size == asc.distinct.size && ne.size == ne.distinct.size)
      assert(asc.toSet == pairs(BucketPairs(rows, ascending = true, m)).toSet,
        s"ascending, masks $m")
      assert(ne.toSet == pairs(BucketPairs(rows, ascending = false, m)).toSet,
        s"id_a != id_b, masks $m")
    }
  }

  test("the probe/index form pairs probe rows with index rows only, " +
      "masking the probe side") {
    // probe 1..3 and index 11..14 share no id; 1 and 2 collide with
    // each other in table 0, which the form must not report
    val p = Seq((1L, 0, 0L), (2L, 0, 0L), (3L, 0, 3L), (1L, 1, 2L))
    val i = Seq((11L, 0, 0L), (12L, 0, 1L), (13L, 0, 3L), (14L, 1, 2L),
      (14L, 0, 2L))
    val probe = p.toDF("id", "tbl", "key")
    val index = i.toDF("id", "tbl", "key")
    val masks = BucketPairs.probeMasks(2, 1)
    def brute(radius: Int) = (for {
      (a, ta, ka) <- p; (b, tb, kb) <- i
      if ta == tb && java.lang.Long.bitCount(ka ^ kb) <= radius
    } yield (a, b)).toSet
    for ((m, radius) <- Seq(Seq(0L) -> 0, masks -> 1)) {
      val got = pairs(BucketPairs.across(probe, index, lit(true), m))
      assert(got.size == got.distinct.size, s"duplicate pairs: $got")
      assert(got.forall { case (a, b) => a < 10 && b > 10 },
        s"id_a must be a probe id and id_b an index id: $got")
      assert(got.toSet == brute(radius), s"masks $m")
    }
    // 1 collides with 11 in table 0 and with 14 in table 1: one pair each
    assert(brute(0) == Set((1L, 11L), (2L, 11L), (3L, 13L), (1L, 14L)))
  }

  test("the probe/index form applies keep over (probe id, index id)") {
    // incremental admission probes a batch against itself keeping
    // id_b < id_a: each doc sees only the smaller-id docs it collides with
    val rows = Seq((1L, 0, 5L), (2L, 0, 5L), (3L, 0, 5L), (4L, 0, 6L))
      .toDF("id", "tbl", "key")
    val older = pairs(BucketPairs.across(rows, rows, col("id_b") < col("id_a")))
    assert(older.toSet == Set((2L, 1L), (3L, 1L), (3L, 2L)))
    val none = pairs(BucketPairs.across(rows, rows, lit(false)))
    assert(none.isEmpty)
  }

  test("the flood cap keeps at most cap members per bucket, the members " +
      "the per-family window chose") {
    val cap = 5
    // two planted floods (40 ids each, one per table) plus a normal pair
    // under the cap; every flood id also sits alone in the other table
    val floodA = (100L until 140L).flatMap(i => Seq((i, 0, 7L), (i, 1, 1000L + i)))
    val floodB = (200L until 240L).flatMap(i => Seq((i, 1, 7L), (i, 0, 2000L + i)))
    val normal = Seq((1L, 0, 3L), (2L, 0, 3L))
    val rows = (floodA ++ floodB ++ normal).toDF("id", "tbl", "key")
    val got = pairs(BucketPairs(rows, ascending = true, cap = Some(cap)))

    def members(lo: Long, hi: Long) =
      got.flatMap { case (a, b) => Seq(a, b) }.filter(i => i >= lo && i < hi).toSet
    assert(members(100L, 140L).size == cap)
    assert(members(200L, 240L).size == cap)

    // the window the MinHash family ran on its (band, band_hash) rows
    val byBucket = Window.partitionBy(col("band"), col("band_hash"))
      .orderBy(xxhash64(col("id"), col("band"), col("band_hash")), col("id"))
    val kept = rows.toDF("id", "band", "band_hash")
      .withColumn("rk", row_number().over(byBucket))
      .filter(col("rk") <= cap)
      .groupBy("band", "band_hash").agg(sort_array(collect_list("id")).as("ids"))
      .as[(Int, Long, Seq[Long])].collect()
    val expected = kept.flatMap { case (_, _, ids) =>
      for (a <- ids; b <- ids if a < b) yield (a, b)
    }.toSet
    assert(got.toSet == expected)
    assert(got.contains((1L, 2L)), "a bucket under the cap must keep its pair")
  }
}
