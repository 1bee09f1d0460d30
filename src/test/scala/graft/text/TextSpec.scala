package graft.text

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextSpec extends SparkSpec {
  import spark.implicits._

  test("cjkAware tokenizer: keeps c/r/c++/c#, drops 1-char latin, splits CJK") {
    val got = Seq("I use C and C++ with 中文 analysis x")
      .toDF("t").select(Tokenize.cjkAware($"t").as("w"))
      .as[Seq[String]].collect()(0)
    assert(got == Seq("use", "c", "and", "c++", "with", "中", "文", "analysis"))
  }

  test("stopword removal") {
    val got = Seq(Seq("the", "spark", "engine")).toDF("w")
      .select(Tokenize.removeStopwords($"w", Seq("the")).as("v"))
      .as[Seq[String]].collect()(0)
    assert(got == Seq("spark", "engine"))
  }
}
