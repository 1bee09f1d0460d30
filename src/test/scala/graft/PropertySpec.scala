package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.apache.spark.sql.functions._

/** Property-based invariants (SURVEY §5.2) using raw ScalaCheck
  * generators with fixed seeds (no scalatestplus bridge in the build):
  * cleaning idempotence, top-k bounds, negative-sampling safety,
  * stemmer totality, schema-equality laws. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val word = Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString)

  test("porter2 stemmer is total, never grows words, and never leaks " +
      "the internal Y marker") {
    samples(word, 500).foreach { w =>
      val s = graft.text.Porter2Stemmer.stem(w)
      assert(s != null && s.length <= w.length, s"stem($w) = $s")
      assert(!s.contains('Y'), s"marker leaked: stem($w) = $s")
    }
    // non-alphabetic and short tokens pass through untouched
    samples(Gen.asciiPrintableStr, 300).foreach { w =>
      val s = graft.text.Porter2Stemmer.stem(w)
      assert(s != null, s"null for $w")
      if (w != null && (w.length < 3 || !w.forall(c =>
        (c >= 'a' && c <= 'z') || c == '\''))) assert(s == w)
    }
  }

  test("cleanCompany is idempotent") {
    val gen = Gen.oneOf(
      Gen.const(null.asInstanceOf[String]),
      Gen.const(""),
      word.map(_ + " Inc."),
      word.map(_ + ".com"),
      Gen.listOfN(3, word).map(_.mkString(" ")))
    val vals = samples(gen, 200)
    val once = vals.toDF("c")
      .select(graft.ops.exprs.cleanCompany($"c").as("v"))
    val twice = once.select(graft.ops.exprs.cleanCompany($"v").as("v"))
    assert(once.as[String].collect().toSeq == twice.as[String].collect().toSeq)
  }

  test("topK returns at most k rows per key, scores non-increasing") {
    val gen = Gen.zip(Gen.choose(1L, 5L), Gen.choose(1L, 50L),
      Gen.choose(0.0, 10.0))
    val rows = samples(gen, 300)
    val df = rows.toDF("k", "item", "score").dropDuplicates("k", "item")
    val out = graft.ops.TopK.viaWindow(df, "k", "item", "score", 3)
      .collect().groupBy(_.getLong(0))
    out.values.foreach { g =>
      assert(g.length <= 3)
      val scores = g.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    }
  }

  test("negative sampling never leaks positives and respects ratio") {
    val gen = Gen.zip(Gen.choose(1, 8), Gen.choose(1, 30))
    val pos = samples(gen, 150).toDF("user_id", "item_id")
    val negs = graft.reco.NegativeBalancer.negatives(pos, 100, 1.0).cache()
    assert(negs.join(pos, Seq("user_id", "item_id")).count() == 0)
    val nPosPerUser = pos.groupBy("user_id").count()
      .as[(Int, Long)].collect().toMap
    negs.groupBy("user_id").count().as[(Int, Long)].collect()
      .foreach { case (u, n) => assert(n <= nPosPerUser(u)) }
  }

  test("jaccard stays within [0,1] and is 1 on identical docs") {
    val doc = Gen.listOfN(12, word).map(_.mkString(" "))
    val docs = samples(doc, 20).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val pairs = docs.select($"doc_id".as("id_a"))
      .crossJoin(docs.select($"doc_id".as("id_b")))
      .filter($"id_a" <= $"id_b")
    val j = graft.llmops.Dedup.exactJaccard(docs, pairs, "doc_id", "text", 2)
      .as[(Long, Long, Double)].collect()
    j.foreach { case (a, b, v) =>
      assert(v >= 0.0 && v <= 1.0)
      if (a == b) assert(v == 1.0)
    }
  }

  test("schema equality ignores nullability recursively") {
    import org.apache.spark.sql.types._
    val a = StructType(Seq(StructField("x",
      ArrayType(StructType(Seq(StructField("y", LongType, true))), true), true)))
    val b = StructType(Seq(StructField("x",
      ArrayType(StructType(Seq(StructField("y", LongType, false))), false), false)))
    assert(graft.sources.SchemaUtils.equalsIgnoreNullability(a, b))
    val c = StructType(Seq(StructField("x", LongType)))
    assert(!graft.sources.SchemaUtils.equalsIgnoreNullability(a, c))
    graft.sources.SchemaUtils.requireColumn(a, "x", b("x").dataType)
    intercept[IllegalArgumentException] {
      graft.sources.SchemaUtils.requireColumn(a, "nope", LongType)
    }
  }
}
