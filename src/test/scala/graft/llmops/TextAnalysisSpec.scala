package graft.llmops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("tokenCount handles empties and runs of whitespace") {
    val got = Seq("a b  c", "", "   ", "single").toDF("t")
      .select(TextAnalysis.tokenCount($"t").as("n")).as[Int].collect().toSeq
    assert(got == Seq(3, 0, 0, 1))
  }

  test("bulk kernels are expression-identical on the real corpus") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").cache()
    // language-ID + subwords: kernel vs column expressions
    val viaExpr = docs.select($"doc_id".cast("long").as("doc_id"),
        $"lang".as("labeled_lang"),
        TextAnalysis.langId($"text").as("pred_lang"),
        TextAnalysis.subwordCountEstimate($"text").as("n_subwords"))
      .orderBy($"doc_id").collect().toSeq
    val viaKernel = TextAnalysis.langIdStatsBulk(docs, "doc_id", "lang", "text")
      .orderBy($"doc_id").collect().toSeq
    assert(viaExpr == viaKernel)
  }

  test("langFilterBulk rejects a non-string or missing text column at " +
      "call time") {
    val docs = Seq((1L, 7L, "the cat sat on the mat and the dog is with it"))
      .toDF("doc_id", "n", "text")
    val bad = intercept[IllegalArgumentException] {
      TextAnalysis.langFilterBulk(docs, "n", "en")
    }
    assert(bad.getMessage.contains("'n'") && bad.getMessage.contains("bigint"),
      bad.getMessage)
    val missing = intercept[IllegalArgumentException] {
      TextAnalysis.langFilterBulk(docs, "body", "en")
    }
    assert(missing.getMessage.contains("'body'"), missing.getMessage)
    assert(TextAnalysis.langFilterBulk(docs, "text", "en").count() == 1)
  }

  test("langId detects major languages from stopword profiles") {
    val samples = Seq(
      "the cat sat on the mat and the dog is with it",
      "el perro y la casa de los gatos que corren por una calle",
      "der Hund und die Katze ist nicht mit das Haus",
      "le chat est dans les maisons pour une fête et des amis",
      "这是一个中文测试文档 完全是中文内容")
    val got = samples.toDF("t")
      .select(TextAnalysis.langId($"t").as("l")).as[String].collect().toSeq
    assert(got == Seq("en", "es", "de", "fr", "zh"))
  }

  test("quality signals: punct/alpha shares on known string") {
    // "ab!!" → 4 chars, 2 punct, 2 alpha
    val row = Seq("ab!!").toDF("t")
      .select(TextAnalysis.qualitySignalsPpm($"t", TextAnalysis.englishStopwords)
        .map { case (n, c) => c.as(n) }: _*).collect()(0)
    assert(row.getAs[Long]("punct_ppm") == 500000L)
    assert(row.getAs[Long]("alpha_ppm") == 500000L)
  }

  test("fingerprints stable under whitespace/case noise") {
    val df = Seq("Hello  World", "hello world", "hello  WORLD ").toDF("t")
      .select(TextAnalysis.fingerprintMd5($"t").as("m"))
    assert(df.distinct().count() == 1)
  }

  test("subword estimate >= word count for normal text") {
    val row = Seq("internationalization works!").toDF("t")
      .select(TextAnalysis.subwordCountEstimate($"t").as("s"),
        TextAnalysis.tokenCount($"t").as("w")).collect()(0)
    assert(row.getAs[Long]("s") >= row.getAs[Int]("w"))
  }

  test("repetition signals: looping text scores high, unique text low, " +
      "short doc zero") {
    val docs = Seq(
      // "aa bb" x3 (len 5) over 17 chars; every 3-gram repeats; the two
      // 5-gram windows are distinct
      (1L, "aa bb aa bb aa bb"),
      (2L, "t1 t2 t3 t4 t5 t6"),                // all grams unique
      (3L, "one"),                              // below every window size
      (4L, "x y z w v x y z w v")               // 5-gram repeats: 2 of 6
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // integer ppm, floor semantics: floor(1e6*15/17)=882352 etc
    assert(got(1L) == ((882352L, 941176L, 0L)),
      s"looping doc mis-scored: ${got(1L)}")   // 15/17, 16/17, 0
    assert(got(2L) == ((294117L, 470588L, 0L)),
      s"unique doc mis-scored: ${got(2L)}")    // 5/17, 8/17, 0
    assert(got(3L) == ((0L, 0L, 0L)), "short doc must score zero")
    assert(got(4L)._3 == 333333L,
      s"duplicate 5-gram fraction wrong: ${got(4L)}")  // 2/6
    assert(got(1L)._1 > got(2L)._1, "repetition must rank above unique")
  }
}
