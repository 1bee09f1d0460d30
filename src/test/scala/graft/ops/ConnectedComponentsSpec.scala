package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

class ConnectedComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def labelsOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    ConnectedComponents.hashMin(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("chain, clique, and separate pair resolve to min-id components") {
    // chain 1-2-3 (transitive: 1!~3 directly), clique {10,11,12}, pair {20,21}
    val l = labelsOf(Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)))
    assert(l == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("long chain converges to a single component within the round cap") {
    val n = 18 // diameter 17 < default maxIter 25
    val l = labelsOf((0L until n).map(i => (i, i + 1L)))
    assert(l.values.toSet == Set(0L))
    assert(l.size == n + 1)
  }

  test("adversarial long chain: cap hit while still changing THROWS " +
      "instead of returning non-converged labels") {
    // path graph of 10^4 nodes — diameter 9999; hash-min propagates the
    // min one hop per round, so maxIter=5 cannot converge. Before the
    // r3 fix this silently returned wrong components (ADVICE r2).
    val edges = (0L until 10000L).map(i => (i, i + 1L)).toDF("a", "b")
    val e = intercept[IllegalStateException] {
      ConnectedComponents.hashMin(edges, "a", "b", maxIter = 5)
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("largeStarSmallStar labels equal hashMin on mixed graph shapes") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // random graph + a clique + a chain, shuffled ids
    val edges = (
      (1 to 300).map(_ => (rnd.nextInt(200).toLong, rnd.nextInt(200).toLong)) ++
        (for (a <- 500 to 505; b <- 500 to 505 if a < b) yield (a.toLong, b.toLong)) ++
        (600 until 650).map(i => (i.toLong, i + 1L))
      ).filter(e => e._1 != e._2).toDF("a", "b")
    val hm = ConnectedComponents.hashMin(edges, "a", "b", maxIter = 250)
      .as[(Long, Long)].collect().toMap
    val lsss = ConnectedComponents.largeStarSmallStar(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(lsss == hm)
  }

  test("largeStarSmallStar converges on a deep chain in O(log^2 n) rounds " +
      "where hashMin needs diameter rounds") {
    import spark.implicits._
    val n = 2000
    val edges = (1 until n).map(i => (i.toLong, i + 1L)).toDF("a", "b")
    // hashMin at this diameter would need ~n rounds (spec above proves
    // the throw); the star algorithm converges inside a small cap
    val labels = ConnectedComponents
      .largeStarSmallStar(edges, "a", "b", maxIter = 15)
      .as[(Long, Long)].collect()
    assert(labels.length == n)
    assert(labels.forall(_._2 == 1L), "single chain must collapse to min id")
  }

  test("largeStarSmallStar evaluates the edge lineage once") {
    val seen = spark.sparkContext.longAccumulator("cc-edge-rows")
    // nondeterministic: keeps the optimizer from copying the call into
    // the self-loop filter, so each evaluation is one row read
    val tick = udf { (a: Long) => seen.add(1); a }.asNondeterministic()
    val rows = Seq((1L, 2L), (2L, 3L), (3L, 2L), (10L, 11L), (21L, 20L), (7L, 7L))
    val edges = spark.sparkContext.parallelize(rows, 2).toDF("a", "b")
      .select(tick(col("a")).as("a"), col("b"))
    val l = ConnectedComponents.largeStarSmallStar(edges, "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(l == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    assert(seen.value == rows.size,
      s"edge rows evaluated ${seen.value} times for ${rows.size} input rows")
  }

  test("isStarForest accepts exactly the forests of stars pointing at " +
      "smaller roots") {
    def star(es: (Long, Long)*): Boolean =
      ConnectedComponents.isStarForest(es.toDF("src", "dst"))
    assert(star((2L, 1L), (3L, 1L), (9L, 1L), (5L, 4L)), "valid forest")
    assert(star(), "empty edge set")
    assert(!star((2L, 1L), (4L, 5L)), "dst > src")
    assert(!star((3L, 1L), (3L, 2L)), "two out-edges")
    assert(!star((3L, 2L), (2L, 1L)), "2-hop chain")
  }

  test("largeStarSmallStar returns a star forest's own labels and no " +
      "labels for no edges") {
    val forest = Seq((2L, 1L), (3L, 1L), (5L, 4L)).toDF("a", "b")
    assert(ConnectedComponents.largeStarSmallStar(forest, "a", "b")
      .as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L))
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(ConnectedComponents.largeStarSmallStar(none, "a", "b").isEmpty)
  }

  test("hashMin releases its cached adjacency when it throws") {
    // hashMin's adjacency plan, rebuilt: the session's CacheManager
    // finds an entry for it while hashMin's cache() is registered
    def cached(e: DataFrame): Boolean = {
      val fwd = e.select(col("a").cast("long").as("src"),
        col("b").cast("long").as("dst"))
      fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
        .distinct().storageLevel != StorageLevel.NONE
    }
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    intercept[IllegalStateException] {
      ConnectedComponents.hashMin(chain, "a", "b", maxIter = 1)
    }
    assert(!cached(chain), "non-converged call kept adj cached")
    // a round that throws after adj is cached: an optimizer rule fails
    // the first plan with a join, i.e. round 1's neighbor-min join
    object FailJoins extends Rule[LogicalPlan] {
      def apply(plan: LogicalPlan): LogicalPlan =
        if (plan.exists(_.isInstanceOf[Join]))
          throw new UnsupportedOperationException("round failed")
        else plan
    }
    val experimental = spark.asInstanceOf[classic.SparkSession].experimental
    experimental.extraOptimizations = Seq(FailJoins)
    try {
      val e = intercept[Exception](ConnectedComponents.hashMin(chain, "a", "b"))
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(_.getMessage == "round failed"), e)
    } finally experimental.extraOptimizations = Nil
    assert(!cached(chain), "failed round kept adj cached")
  }

  test("edge direction and duplicates are irrelevant") {
    val a = labelsOf(Seq((5L, 3L), (3L, 5L), (5L, 3L), (7L, 5L)))
    assert(a == Map(3L -> 3L, 5L -> 3L, 7L -> 3L))
  }

  test("dup-cluster gate marks exactly one canonical per cluster") {
    val out = graft.queries.Llm.dupClusters(spark, sf0001)
    val byCluster = out.groupBy("cluster_id")
      .agg(sum(when(col("is_canonical"), 1).otherwise(0)).as("n_canon"),
        count(lit(1)).as("n"), max("cluster_size").as("sz"),
        min("doc_id").as("min_id"), min(when(col("is_canonical"),
          col("doc_id"))).as("canon_id"))
      .collect()
    assert(byCluster.nonEmpty)
    byCluster.foreach { r =>
      assert(r.getLong(1) == 1L, s"cluster ${r.get(0)}: ${r.getLong(1)} canons")
      assert(r.getLong(2) == r.getLong(3), "cluster_size mismatch")
      assert(r.getLong(4) == r.getLong(5), "canonical is not the min doc_id")
    }
    // every document labeled exactly once
    val docs = graft.sources.Tables.documents(spark, sf0001).count()
    assert(out.count() == docs)
  }
}
