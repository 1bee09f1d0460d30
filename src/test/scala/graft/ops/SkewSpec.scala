package graft.ops

import graft.SparkSpec

class SkewSpec extends SparkSpec {
  import spark.implicits._

  test("salted join equals plain join on skewed data") {
    // hot key 1 carries 90% of rows
    val big = (Seq.fill(900)(1) ++ (2 to 101)).zipWithIndex
      .map { case (k, i) => (k, i) }.toDF("k", "payload")
    val small = (1 to 101).map(k => (k, s"dim_$k")).toDF("k", "name")
    val plain = big.join(small, Seq("k"))
      .select("k", "payload", "name").collect().toSet
    val salted = Skew.saltedEquiJoin(big, small, "k", nSalts = 8)
      .select("k", "payload", "name").collect().toSet
    assert(salted == plain)
  }
}
