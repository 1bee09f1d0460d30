package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The co-located-join claim behind q177 (r17): two tables bucketed on
  * their join key into the same bucket count sort-merge-join with ZERO
  * Exchange on either side — the at-rest co-location that, at 100 TB,
  * removes the fact-table shuffle from every subsequent join on that
  * key (row 94's repartition/AQE discipline persisted into layout).
  * Broadcast is disabled here to force the shuffle-or-not decision the
  * claim is about; the gate itself (q177) separately proves result
  * parity with the plain join under default planning. */
class BucketedJoinSpec extends SparkSpec {

  test("bucketed-on-key tables sort-merge-join with zero exchanges; " +
      "rows identical to the plain join") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.01"
    val root = java.nio.file.Files.createTempDirectory("bkt-spec").toString
    val ordSrc = graft.sources.Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    val custSrc = graft.sources.Tables.customer(spark, dir)
      .select($"c_custkey", $"c_mktsegment")
    val ord = Bucketing.bucketedTable(spark, "t_bktspec_orders",
      s"$root/orders", ordSrc, "o_custkey", 8)
    val cust = Bucketing.bucketedTable(spark, "t_bktspec_customer",
      s"$root/customer", custSrc, "c_custkey", 8)

    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = ord.join(cust, $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"c_mktsegment")
      // execute, then read the FINAL adaptive plan (SCALE.md r13 sf1
      // leg: pre-execution AQE plans are guesses)
      joined.queryExecution.toRdd.foreach(_ => ())
      val plan = joined.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      assert(plan.contains("SortMergeJoin"),
        s"expected a sort-merge join over the bucketed scans:\n$plan")
      val exchanges = plan.sliding("Exchange".length).count(_ == "Exchange")
      assert(exchanges == 0,
        s"bucketed co-located join still exchanges ($exchanges):\n$plan")

      // and the layout is semantics-free: rows == the plain join's
      val got = joined.as[(Long, String)].collect().sorted.toSeq
      val want = ordSrc.join(custSrc, $"o_custkey" === $"c_custkey")
        .select($"o_orderkey", $"c_mktsegment")
        .as[(Long, String)].collect().sorted.toSeq
      assert(got == want, "bucketed join rows diverge from plain join")
      assert(got.nonEmpty)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.sql("DROP TABLE IF EXISTS t_bktspec_orders")
      spark.sql("DROP TABLE IF EXISTS t_bktspec_customer")
    }
  }
}
