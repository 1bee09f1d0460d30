package graft.llmops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The bucketed candidate core every near-dup and ANN family shares:
  * pair order, probe-side masks and the flood cap, on hand-built
  * (id, tbl, key) fixtures. */
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
