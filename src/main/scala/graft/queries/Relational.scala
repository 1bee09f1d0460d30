package graft.queries

import graft.QueryDef
import graft.ops.Materialize
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator coverage (SURVEY.md §2.2–§2.8).
  *
  * Each query is declarative DataFrame code — Catalyst handles pushdown,
  * pruning, join strategy and AQE; we only add explicit `broadcast()` on
  * known-tiny dimension sides (reference analog: the manual tiny-side
  * handling in src/main/scala/ws/vinta/albedo/recommenders/PopularityRecommender.scala:22-34).
  *
  * Determinism rules (SURVEY.md §7.4): every query ends in a total
  * `orderBy`; floating aggregates are rounded in BOTH engines; list
  * aggregations are sorted then joined to strings so the DuckDB oracle
  * hash is stable.
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: scan → pushed filter → hash agg →
    * sort. Ref ops: groupBy+count/sum (UserProfileBuilder.scala:94-97),
    * global sort (DatasetUtils.scala:157). */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_shipdate" <= to_timestamp(lit("2000-12-01 00:00:00")))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("sum_disc_price"),
        round(avg($"l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Projection + range/equality predicates, pushed to the parquet scan.
    * Ref ops #11/#15/#16 (DatasetUtils.scala:117; RepoProfileBuilder.scala:75-77). */
  def filterProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter($"l_quantity".between(10, 20) && $"l_returnflag" === "R")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  /** 3-way join + agg + top-k (TPC-H Q3 shape). customer is the small
    * dimension side → explicit broadcast. Ref op #23 joins
    * (LogisticRegressionRanker.scala:151-154), top-k #40/#41. */
  def topRevenueOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir).filter($"c_mktsegment" === "BUILDING")
    val ord = Tables.orders(spark, dir)
    val li = Tables.lineitem(spark, dir)
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"o_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 2).as("revenue"))
      .orderBy($"revenue".desc, $"o_orderkey")
      .limit(10)
  }

  /** Left-semi join (EXISTS). Ref: `isin` membership semantics
    * (CurationRecommender.scala:27) generalized to semi-join at scale. */
  def orderPrioritySemi(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bigLines = Tables.lineitem(spark, dir)
      .filter($"l_quantity" > 45).select($"l_orderkey")
    Tables.orders(spark, dir)
      .join(bigLines, $"o_orderkey" === $"l_orderkey", "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  /** Left-anti join (NOT EXISTS): customers with no orders.
    * Ref op #25 (common.py:60). */
  def customersWithoutOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** Cross join with broadcast tiny side. Ref op #26: every user × top-k
    * candidates (PopularityRecommender.scala:34). */
  def crossJoinRegions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.nation(spark, dir).select($"n_name")
      .crossJoin(broadcast(Tables.region(spark, dir).select($"r_name")))
      .orderBy($"n_name", $"r_name")
  }

  /** Deterministic per-key top-k via row_number window.
    * Ref op #38/#39 (RankingEvaluator.scala:125-135). */
  def windowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .orderBy($"o_custkey", $"rn")
  }

  /** rank() (not row_number) ≤ k — preserves the reference's tie
    * semantics where >k rows can survive (SURVEY.md §7.4;
    * RankingEvaluator.scala:125). */
  def rankRecentOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate".desc)
    Tables.orders(spark, dir)
      .select($"o_custkey", $"o_orderkey", $"o_orderdate")
      .withColumn("rk", rank().over(w).cast("long"))
      .filter($"rk" <= 2)
      .orderBy($"o_custkey", $"o_orderdate".desc, $"o_orderkey")
  }

  /** count / count distinct / sum per group. Ref op #30/#34
    * (common.py:17-24). */
  def customerNationStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .groupBy($"c_nationkey".as("nationkey"))
      .agg(
        count(lit(1)).as("n_customers"),
        countDistinct($"c_mktsegment").as("n_segments"),
        round(sum($"c_acctbal"), 2).as("total_bal"))
      .orderBy($"nationkey")
  }

  /** distinct / dropDuplicates. Ref op #35 (LogisticRegressionRanker.scala:401). */
  def distinctStatusPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select($"o_orderstatus", $"o_orderpriority")
      .distinct()
      .orderBy($"o_orderstatus", $"o_orderpriority")
  }

  /** union + distinct + except. Ref ops #44/#45
    * (NegativeBalancer.scala:109-111; DatasetUtils.scala:30). */
  def unionExceptCustkeys(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val building = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey".as("custkey"))
    val bigSpenders = Tables.orders(spark, dir)
      .filter($"o_totalprice" > 200000)
      .select($"o_custkey".as("custkey"))
    val finished = Tables.orders(spark, dir)
      .filter($"o_orderstatus" === "F")
      .select($"o_custkey".as("custkey"))
    building.unionByName(bigSpenders).distinct()
      .except(finished)
      .orderBy($"custkey")
  }

  /** String function battery: lower / concat_ws / LIKE-any flag /
    * substring / regexp_replace. Ref ops #18/#47-50/#62
    * (UserProfileBuilder.scala:128-139; closures/UDFs.scala:32-46 —
    * expressed as pure column exprs, no UDFs). */
  def stringOpsParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val likeAny = graft.ops.exprs.likeAny($"p_type", Seq("%ECO%", "%PROMO%"))
    Tables.part(spark, dir)
      .select(
        $"p_partkey",
        lower($"p_name").as("name_lower"),
        concat_ws("/", $"p_brand", $"p_type").as("brand_type"),
        when(likeAny, 1.0).otherwise(0.0).as("is_cheap"),
        substring($"p_name", 1, 5).as("name_prefix"),
        regexp_replace($"p_brand", "[^0-9]", "").as("brand_num"))
      .orderBy($"p_partkey")
  }

  /** Date/math battery: year/month extraction, datediff against a frozen
    * date (determinism — SURVEY.md §7.4), and the reference's
    * log-popularity score shape round(log10(x)*1000)/1000
    * (PopularityRecommender.scala:26-30). */
  def dateMathOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .select(
        $"o_orderkey",
        year($"o_orderdate").cast("long").as("order_year"),
        month($"o_orderdate").cast("long").as("order_month"),
        datediff(to_date(lit("2002-01-01")), $"o_orderdate").cast("long").as("days_before"),
        (round(log10($"o_totalprice") * 1000) / 1000).as("log_price"))
      .orderBy($"o_orderkey")
  }

  /** when/otherwise binning + agg over the bin. Ref op #21
    * (UserProfileBuilder.scala:192-194 binning). */
  def priceBins(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .withColumn("price_bin",
        when($"o_totalprice" < 50000, "small")
          .when($"o_totalprice" < 150000, "medium")
          .otherwise("large"))
      .groupBy($"price_bin")
      .agg(count(lit(1)).as("n"), round(avg($"o_totalprice"), 2).as("avg_price"))
      .orderBy($"price_bin")
  }

  /** IN-list filter on a broadcast dimension join. Ref op #17
    * (CurationRecommender.scala:27). */
  def suppliersInNations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nations = Tables.nation(spark, dir)
      .filter($"n_name".isin("NATION_0", "NATION_3", "NATION_7"))
    Tables.supplier(spark, dir)
      .join(broadcast(nations), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name", $"n_name")
      .orderBy($"s_suppkey")
  }

  /** Order-deterministic list aggregation: sort-then-join so the result
    * is hash-stable (SURVEY.md §7.4 fix for the reference's
    * order-sensitive collect_list, RankingEvaluator.scala:121-139). */
  def orderKeysPerCustomer(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_custkey".as("custkey"))
      .agg(
        array_join(
          transform(array_sort(collect_list($"o_orderkey")), _.cast("string")),
          ",").as("order_keys"),
        count(lit(1)).as("n_orders"))
      .orderBy($"custkey")
  }

  /** Equi-join on differently-named keys + non-equi residual predicate.
    * Ref op #24 (common.py:67). */
  def thetaJoinOrdersCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        $"o_custkey" === $"c_custkey" && $"o_totalprice" > $"c_acctbal" * 50)
      .select($"o_orderkey", $"c_custkey")
      .orderBy($"o_orderkey")
  }

  /** NULL predicates + imputation: null-presence flag then na.fill.
    * Ref op #19 (UserProfileBuilder.scala:60-66). Fixtures carry no
    * nulls, so nullif() synthesizes them first. */
  def nullImputation(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .withColumn("seg", expr("nullif(c_mktsegment, 'BUILDING')"))
      .withColumn("has_null", graft.ops.exprs.anyNullFlag(Seq(col("seg"))))
      .na.fill(Map("seg" -> "__unknown"))
      .select($"c_custkey", $"seg", $"has_null")
      .orderBy($"c_custkey")
  }

  /** Grouped aggregation with a post-aggregation predicate (HAVING) —
    * heavy-hitter customers by order count. Fills the q19 numbering gap
    * (VERDICT r2 cosmetic note). Catalyst keeps the HAVING filter above
    * the partial-agg exchange, so the map side still combines. */
  def havingHeavyCustomers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // integer-cents math end to end: float sums at a half boundary
    // round differently across engines (ADVICE r2 quantization rule)
    Tables.orders(spark, dir)
      .withColumn("cents", round($"o_totalprice" * 100).cast("long"))
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum($"cents").as("spend_cents"))
      .filter($"n_orders" >= 10)
      .withColumn("avg_cents", expr("spend_cents div n_orders"))
      .orderBy($"spend_cents".desc, $"o_custkey")
  }

  /** Exact interpolated percentiles per group (both engines use linear
    * interpolation) + a sketch-based approximate distinct for the same
    * frame (rows-only accuracy covered in spec). */
  def percentiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
        round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"),
        round(min($"o_totalprice"), 2).as("lo"),
        round(max($"o_totalprice"), 2).as("hi"))
      .orderBy($"o_orderpriority")
  }

  /** Sketch-based percentile twin of q54 — the 100 TB bulk path.
    * Spark's exact `percentile` is an ImperativeAggregate that buffers
    * the whole value multiset per group (OOM on a ~continuous column at
    * scale — VERDICT r2 "What's wrong" #1); `approx_percentile` keeps a
    * bounded Greenwald-Khanna sketch per group (size O(accuracy), not
    * O(rows)) with rank error ≤ 1/accuracy.
    *
    * FULLY ORACLED (VERDICT r5 "Next round" #3): the hashed output
    * carries only DuckDB-replayable columns — group key, min/max, the
    * exact [p−ε, p+ε] quantile envelope bounds (ε = 0.005 rank — wide enough that a member-element sketch value stays inside even for few-hundred-row groups, ≫ the sketch's 1e-4 rank guarantee), and `within_err`
    * (sketch value inside its envelope). The oracle replays the
    * envelope with `quantile_cont` and asserts within_err TRUE, so a
    * sketch drift flips the boolean and fails the HASH compare, while
    * the engine-specific sketch values themselves stay out of the hash
    * (ApproxSpec still pins their accuracy in detail).
    *
    * `envelope = false` is the production path (ADVICE r5 #3: the
    * exact-envelope aggregate buffers each group's multiset, which is
    * exactly what the sketch exists to avoid) — sketch + min/max only,
    * no exact instrumentation; gates run `true` at fixture scale. */
  def percentilesApprox(spark: SparkSession, dir: String,
      envelope: Boolean = true): DataFrame = {
    import spark.implicits._
    val base = Tables.orders(spark, dir).groupBy($"o_orderpriority")
    if (!envelope)
      return base.agg(
          round(expr("approx_percentile(o_totalprice, 0.5, 10000)"), 4).as("p50"),
          round(expr("approx_percentile(o_totalprice, 0.9, 10000)"), 4).as("p90"),
          round(min($"o_totalprice"), 2).as("lo"),
          round(max($"o_totalprice"), 2).as("hi"))
        .orderBy($"o_orderpriority")
    // Envelope bounds as EXACT INTEGER order-stat interpolations (late
    // r17): the previous `percentile(..., array(0.495,...))` doubles,
    // rounded to 4 decimals, hit a rounding-boundary divergence at
    // sf0.1 — Spark and DuckDB compute the same lo+frac·(hi−lo)
    // interpolation in different float op orders, and a 1-ulp gap
    // flips round(,4) at a ...5 boundary. Every envelope quantile here
    // is k/200 (0.495=99/200 etc), so the interpolated order stat is
    // the RATIONAL (cents[i]·(200−rem) + cents[i+1]·rem) / 20000
    // dollars with integer numerator — both engines emit the BIGINT
    // numerator (units: 1/20000 dollar) and cannot disagree. lo/hi
    // join the integer discipline as exact cents. Scale note: the
    // per-priority row_number concentrates each group in one task —
    // the SAME concentration class as the exact `percentile` multiset
    // buffer it replaces, and like it this is GATE-ONLY
    // instrumentation (envelope=true); the production path above is
    // sketch-only (ADVICE r5 #3).
    val sk = base.agg(
      round(expr("approx_percentile(o_totalprice, 0.5, 10000)"), 4).as("__p50"),
      round(expr("approx_percentile(o_totalprice, 0.9, 10000)"), 4).as("__p90"))
    val env = graft.ops.IntegerEnvelope.numerators(
      Tables.orders(spark, dir).select($"o_orderpriority",
        round($"o_totalprice" * 100).cast("long").as("cents")),
      "o_orderpriority", "cents", Seq(99, 101, 179, 181))
      .withColumnRenamed("q99", "p50_lo").withColumnRenamed("q101", "p50_hi")
      .withColumnRenamed("q179", "p90_lo").withColumnRenamed("q181", "p90_hi")
    env.join(broadcast(sk), Seq("o_orderpriority"))
      .select($"o_orderpriority", $"lo", $"hi",
        $"p50_lo", $"p50_hi", $"p90_lo", $"p90_hi",
        ($"__p50".between($"p50_lo" / 20000.0 - 0.0001,
          $"p50_hi" / 20000.0 + 0.0001) &&
          $"__p90".between($"p90_lo" / 20000.0 - 0.0001,
            $"p90_hi" / 20000.0 + 0.0001)).as("within_err"))
      .orderBy($"o_orderpriority")
  }

  private def percentilesApproxOracle: String =
    """WITH c AS (SELECT o_orderpriority,
      |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |r AS (SELECT o_orderpriority, cents,
      |    row_number() OVER (PARTITION BY o_orderpriority
      |                       ORDER BY cents) AS rk FROM c),
      |n AS (SELECT o_orderpriority, count(*) AS n FROM c GROUP BY 1)
      |SELECT r.o_orderpriority,
      | min(cents) AS lo, max(cents) AS hi,
      | CAST(sum(CASE WHEN rk = ((n-1)*99)//200 + 1
      |    THEN cents * (200 - ((n-1)*99)%200)
      |  WHEN rk = ((n-1)*99)//200 + 2
      |    THEN cents * (((n-1)*99)%200) ELSE 0 END) AS BIGINT) AS p50_lo,
      | CAST(sum(CASE WHEN rk = ((n-1)*101)//200 + 1
      |    THEN cents * (200 - ((n-1)*101)%200)
      |  WHEN rk = ((n-1)*101)//200 + 2
      |    THEN cents * (((n-1)*101)%200) ELSE 0 END) AS BIGINT) AS p50_hi,
      | CAST(sum(CASE WHEN rk = ((n-1)*179)//200 + 1
      |    THEN cents * (200 - ((n-1)*179)%200)
      |  WHEN rk = ((n-1)*179)//200 + 2
      |    THEN cents * (((n-1)*179)%200) ELSE 0 END) AS BIGINT) AS p90_lo,
      | CAST(sum(CASE WHEN rk = ((n-1)*181)//200 + 1
      |    THEN cents * (200 - ((n-1)*181)%200)
      |  WHEN rk = ((n-1)*181)//200 + 2
      |    THEN cents * (((n-1)*181)%200) ELSE 0 END) AS BIGINT) AS p90_hi,
      | TRUE AS within_err
      |FROM r JOIN n USING (o_orderpriority)
      |GROUP BY 1
      |ORDER BY 1""".stripMargin

  /** Sketch-based Tukey-fence twin of q88 (same rationale as
    * [[percentilesApprox]]): approximate quartiles → fences → exact
    * outlier recount. FULLY ORACLED the same way: hashed columns are
    * the group key, n_rows, exact quartile-envelope bounds, exact
    * outlier-count BOUNDS (counts outside the widest / narrowest
    * fences any in-envelope quartile pair could produce — replayable
    * integers), and `within_err` = sketch quartiles inside their
    * envelopes AND the sketch-fence outlier count inside
    * [n_out_min, n_out_max]. The oracle asserts TRUE; any sketch or
    * recount drift fails the hash. `envelope = false` = production
    * sketch-only path (ADVICE r5 #3). */
  def iqrOutliersApprox(spark: SparkSession, dir: String,
      envelope: Boolean = true): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir).select($"l_returnflag", $"l_extendedprice")
    if (!envelope) {
      val fences = li.groupBy($"l_returnflag")
        .agg(round(expr("approx_percentile(l_extendedprice, 0.25, 10000)"), 4).as("q1"),
          round(expr("approx_percentile(l_extendedprice, 0.75, 10000)"), 4).as("q3"))
        .withColumn("lo", round($"q1" - ($"q3" - $"q1") * 1.5, 4))
        .withColumn("hi", round($"q3" + ($"q3" - $"q1") * 1.5, 4))
      return li.join(broadcast(fences), Seq("l_returnflag"))
        .groupBy($"l_returnflag")
        .agg(max($"q1").as("q1"), max($"q3").as("q3"),
          sum(when($"l_extendedprice" < $"lo" || $"l_extendedprice" > $"hi", 1L)
            .otherwise(0L)).as("n_outliers"),
          count(lit(1)).as("n_rows"))
        .orderBy($"l_returnflag")
    }
    // Envelope quartiles as EXACT INTEGER order-stat interpolations
    // (late r17, same mechanism and reason as [[percentilesApprox]]):
    // 0.245/0.255/0.745/0.755 are 49/51/149/151 over 200, so each
    // bound is a BIGINT numerator in 1/20000-dollar units; the Tukey
    // fences then live exactly in 1/40000-dollar units (×2 absorbs the
    // 1.5 factor, 0.001 $ = 40 units) and the outlier recount compares
    // cents·400 against them — every hashed column is engine-exact.
    val sk = li.groupBy($"l_returnflag")
      .agg(
        round(expr("approx_percentile(l_extendedprice, 0.25, 10000)"), 4).as("__q1"),
        round(expr("approx_percentile(l_extendedprice, 0.75, 10000)"), 4).as("__q3"))
    val f = graft.ops.IntegerEnvelope.numerators(
        li.select($"l_returnflag",
          round($"l_extendedprice" * 100).cast("long").as("cents")),
        "l_returnflag", "cents", Seq(49, 51, 149, 151))
      .withColumnRenamed("q49", "q1_lo").withColumnRenamed("q51", "q1_hi")
      .withColumnRenamed("q149", "q3_lo").withColumnRenamed("q151", "q3_hi")
      .withColumnRenamed("n", "n_rows").drop("lo", "hi")
      .join(broadcast(sk), Seq("l_returnflag"))
      // sketch fences (the product, doubles — feed only the boolean) +
      // envelope-derived bound fences in exact 1/40000-dollar integers
      // (widest / narrowest any in-envelope quartile pair could
      // produce, ±0.001 $ slack for the sketch's round-4 quantization)
      .withColumn("__lo_s", round($"__q1" - ($"__q3" - $"__q1") * 1.5, 4))
      .withColumn("__hi_s", round($"__q3" + ($"__q3" - $"__q1") * 1.5, 4))
      .withColumn("__lo_w",
        $"q1_lo" * 2 - ($"q3_hi" - $"q1_lo") * 3 - 40)
      .withColumn("__hi_w",
        $"q3_hi" * 2 + ($"q3_hi" - $"q1_lo") * 3 + 40)
      .withColumn("__lo_n",
        $"q1_hi" * 2 - ($"q3_lo" - $"q1_hi") * 3 + 40)
      .withColumn("__hi_n",
        $"q3_lo" * 2 + ($"q3_lo" - $"q1_hi") * 3 - 40)
    // f's subtree (one sketch + one exact-percentile multiset per
    // group) is the expensive part and is referenced TWICE below
    // (broadcast into the recount and in the final join) — collect its
    // per-group rows into a local relation once so the aggregation
    // runs once, not twice (ADVICE r6; deterministic, so correctness
    // is unaffected)
    val fL = Materialize.localThenUnpersist(f)
    val c400 = (round($"l_extendedprice" * 100).cast("long") * 400).as("__c400")
    val counted = li.select($"l_returnflag", $"l_extendedprice", c400)
      .join(broadcast(fL), Seq("l_returnflag"))
      .groupBy($"l_returnflag")
      .agg(
        sum(when($"l_extendedprice" < $"__lo_s" || $"l_extendedprice" > $"__hi_s", 1L)
          .otherwise(0L)).as("__n_out"),
        sum(when($"__c400" < $"__lo_w" || $"__c400" > $"__hi_w", 1L)
          .otherwise(0L)).as("n_out_min"),
        sum(when($"__c400" < $"__lo_n" || $"__c400" > $"__hi_n", 1L)
          .otherwise(0L)).as("n_out_max"))
    fL.join(counted, Seq("l_returnflag"))
      .select($"l_returnflag", $"n_rows",
        $"q1_lo", $"q1_hi", $"q3_lo", $"q3_hi",
        $"n_out_min", $"n_out_max",
        ($"__q1".between($"q1_lo" / 20000.0 - 0.0001,
          $"q1_hi" / 20000.0 + 0.0001) &&
          $"__q3".between($"q3_lo" / 20000.0 - 0.0001,
            $"q3_hi" / 20000.0 + 0.0001) &&
          $"__n_out".between($"n_out_min", $"n_out_max")).as("within_err"))
      .orderBy($"l_returnflag")
  }

  private def iqrOutliersApproxOracle: String =
    """WITH c AS (SELECT l_returnflag,
      |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
      |  FROM lineitem),
      |r AS (SELECT l_returnflag, cents,
      |    row_number() OVER (PARTITION BY l_returnflag
      |                       ORDER BY cents) AS rk FROM c),
      |nn AS (SELECT l_returnflag, count(*) AS n FROM c GROUP BY 1),
      |f AS (SELECT r.l_returnflag, max(n) AS n_rows,
      |  CAST(sum(CASE WHEN rk = ((n-1)*49)//200 + 1
      |     THEN cents * (200 - ((n-1)*49)%200)
      |   WHEN rk = ((n-1)*49)//200 + 2
      |     THEN cents * (((n-1)*49)%200) ELSE 0 END) AS BIGINT) AS q1_lo,
      |  CAST(sum(CASE WHEN rk = ((n-1)*51)//200 + 1
      |     THEN cents * (200 - ((n-1)*51)%200)
      |   WHEN rk = ((n-1)*51)//200 + 2
      |     THEN cents * (((n-1)*51)%200) ELSE 0 END) AS BIGINT) AS q1_hi,
      |  CAST(sum(CASE WHEN rk = ((n-1)*149)//200 + 1
      |     THEN cents * (200 - ((n-1)*149)%200)
      |   WHEN rk = ((n-1)*149)//200 + 2
      |     THEN cents * (((n-1)*149)%200) ELSE 0 END) AS BIGINT) AS q3_lo,
      |  CAST(sum(CASE WHEN rk = ((n-1)*151)//200 + 1
      |     THEN cents * (200 - ((n-1)*151)%200)
      |   WHEN rk = ((n-1)*151)//200 + 2
      |     THEN cents * (((n-1)*151)%200) ELSE 0 END) AS BIGINT) AS q3_hi
      |  FROM r JOIN nn USING (l_returnflag) GROUP BY 1),
      |ff AS (SELECT *,
      |    q1_lo * 2 - (q3_hi - q1_lo) * 3 - 40 AS lo_w,
      |    q3_hi * 2 + (q3_hi - q1_lo) * 3 + 40 AS hi_w,
      |    q1_hi * 2 - (q3_lo - q1_hi) * 3 + 40 AS lo_n,
      |    q3_lo * 2 + (q3_lo - q1_hi) * 3 - 40 AS hi_n
      |  FROM f)
      |SELECT ff.l_returnflag, ff.n_rows,
      |  ff.q1_lo, ff.q1_hi, ff.q3_lo, ff.q3_hi,
      |  CAST(sum(CASE WHEN c.cents * 400 < lo_w OR c.cents * 400 > hi_w
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_out_min,
      |  CAST(sum(CASE WHEN c.cents * 400 < lo_n OR c.cents * 400 > hi_n
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_out_max,
      |  TRUE AS within_err
      |FROM c JOIN ff USING (l_returnflag)
      |GROUP BY 1, 2, 3, 4, 5, 6
      |ORDER BY 1""".stripMargin

  /** HLL-sketch distinct counts. FULLY ORACLED like
    * [[percentilesApprox]]: the hashed output is (group key,
    * exact_parts, within_err) — the engine-specific HLL value feeds
    * only the boolean (±10% = 2σ at default rsd 0.05), which the
    * oracle asserts TRUE; a sketch regression fails the hash compare.
    * `envelope = false` = production path: HLL only, no exact
    * count-distinct shuffle beside it (ADVICE r5 #3 rationale). */
  def approxDistinct(spark: SparkSession, dir: String,
      envelope: Boolean = true): DataFrame = {
    import spark.implicits._
    if (!envelope)
      return Tables.lineitem(spark, dir)
        .groupBy($"l_returnflag")
        .agg(approx_count_distinct($"l_partkey").as("approx_parts"))
        .orderBy($"l_returnflag")
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(
        approx_count_distinct($"l_partkey").as("__approx"),
        count_distinct($"l_partkey").as("exact_parts"))
      .select($"l_returnflag", $"exact_parts",
        (abs($"__approx" - $"exact_parts") <= $"exact_parts" * 0.1)
          .as("within_err"))
      .orderBy($"l_returnflag")
  }

  private def approxDistinctOracle: String =
    """SELECT l_returnflag,
      | count(DISTINCT l_partkey) AS exact_parts,
      | TRUE AS within_err
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** The exact-distinct column of q55 as its own oracled gate (the HLL
    * column is engine-specific; this pins the deterministic part). */
  def exactDistinctParts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .groupBy($"l_returnflag")
      .agg(count_distinct($"l_partkey").as("exact_parts"))
      .orderBy($"l_returnflag")
  }

  /** ROLLUP revenue by region→nation with grouping id — the OLAP
    * subtotal surface (Spark `rollup` ≡ DuckDB GROUP BY ROLLUP).
    * Revenue is summed as integer CENTS: the grand-total row folds all
    * orders into one float sum whose low bits depend on partition
    * order, so a double sum is NOT cross-engine (or even run-to-run)
    * stable at the 0.01 rounding boundary; round(x*100)::long is.
    * Dimension sides are broadcast; the rollup itself is one partial →
    * final hash aggregate (Expand feeds 3 grouping sets through the
    * same shuffle — no extra scan per level). */
  def rollupRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    val nat = Tables.nation(spark, dir)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
    val reg = Tables.region(spark, dir).select($"r_regionkey", $"r_name")
    Tables.orders(spark, dir).select($"o_custkey", $"o_totalprice")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(
        sum(round($"o_totalprice" * 100).cast("long")).as("revenue_cents"),
        count(lit(1)).as("n_orders"),
        grouping_id().as("gid"))
      .select(
        coalesce($"r_name", lit("ALL")).as("r_name"),
        coalesce($"n_name", lit("ALL")).as("n_name"),
        $"gid".cast("long").as("gid"),
        $"revenue_cents", $"n_orders")
      .orderBy($"gid", $"r_name", $"n_name")
  }

  /** Analytic-window breadth beyond ranking (SURVEY §2.5): ntile,
    * percent_rank, cume_dist, lead, first_value over one total order —
    * (price, key) so tie handling can't differ across engines (ntile is
    * row-order-dependent; a partial order would be nondeterministic). */
  def windowAnalytics(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"cents", $"o_orderkey")
    Tables.orders(spark, dir)
      .withColumn("cents", round($"o_totalprice" * 100).cast("long"))
      .select($"o_orderkey", $"o_orderpriority", $"cents")
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("pr", round(percent_rank().over(w), 6))
      .withColumn("cd", round(cume_dist().over(w), 6))
      .withColumn("next_cents", lead($"cents", 1).over(w))
      .withColumn("min_cents", first($"cents").over(w))
      .orderBy($"o_orderkey")
  }

  private def windowAnalyticsOracle: String =
    """SELECT o_orderkey, o_orderpriority, cents,
      | ntile(4) OVER w AS quartile,
      | round(percent_rank() OVER w, 6) AS pr,
      | round(cume_dist() OVER w, 6) AS cd,
      | lead(cents, 1) OVER w AS next_cents,
      | first_value(cents) OVER w AS min_cents
      |FROM (SELECT o_orderkey, o_orderpriority,
      |        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |      FROM orders)
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY cents, o_orderkey)
      |ORDER BY o_orderkey""".stripMargin

  /** CUBE over (priority, status) with grouping_id — completes the
    * grouping-sets family next to q80's ROLLUP. */
  def cubeRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .withColumn("cents", round($"o_totalprice" * 100).cast("long"))
      .cube($"o_orderpriority", $"o_orderstatus")
      .agg(sum($"cents").as("revenue_cents"), count(lit(1)).as("n_orders"),
        grouping_id().as("gid"))
      .select(
        coalesce($"o_orderpriority", lit("ALL")).as("o_orderpriority"),
        coalesce($"o_orderstatus", lit("ALL")).as("o_orderstatus"),
        $"gid".cast("long").as("gid"), $"revenue_cents", $"n_orders")
      .orderBy($"gid", $"o_orderpriority", $"o_orderstatus")
  }

  private def cubeOracle: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
      |       coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
      |       GROUPING(o_orderpriority, o_orderstatus)::BIGINT AS gid,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
      |       count(*) AS n_orders
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin

  /** Levenshtein edit distance over the bounded doc-pair set (the q53
    * family's fuzzy-match sibling). Prefix-bounded: edit distance is O(n·m) per
    * pair — at scale you run it only on candidate pairs (LSH output),
    * never all-pairs, and cap the compared span. */
  def editDistancePairs(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("doc_id") < 30)
      .select(col("doc_id"), substring(col("text"), 1, 40).as("prefix"))
    val a = docs.select(col("doc_id").as("id_a"), col("prefix").as("pa"))
    val b = docs.select(col("doc_id").as("id_b"), col("prefix").as("pb"))
    a.crossJoin(b).filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("pa"), col("pb")).cast("long").as("edit_dist"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** Spark's `levenshtein` counts characters; DuckDB's counts UTF-8
    * bytes (`levenshtein('日本語', '日本人')` is 3 there, not 1), so the
    * oracle runs the character-level DP itself: one recursion step per
    * character of the left prefix, carrying the DP row `d` as a list.
    * `t` is the row before insertions (deletion or substitution); an
    * insertion chain then makes cell j the minimum of t[k] + (j - k)
    * over k <= j. */
  private def editDistanceOracle: String =
    """WITH RECURSIVE p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |         string_split(substr(a.text, 1, 40), '') AS ca,
      |         string_split(substr(b.text, 1, 40), '') AS cb
      |  FROM documents a CROSS JOIN documents b
      |  WHERE a.doc_id < 30 AND b.doc_id < 30 AND a.doc_id < b.doc_id),
      |dp AS (
      |  SELECT id_a, id_b, ca, cb, 0 AS i, range(0, len(cb) + 1) AS d FROM p
      |  UNION ALL
      |  SELECT id_a, id_b, ca, cb, i + 1,
      |         list_transform(t, (x, j) -> list_min(list_transform(
      |           list_slice(t, 1, j), (y, k) -> y + j - k)))
      |  FROM (SELECT *, list_transform(d, (x, k) -> CASE WHEN k = 1 THEN i + 1
      |          ELSE least(x + 1, d[k - 1] + CASE WHEN ca[i + 1] = cb[k - 1]
      |            THEN 0 ELSE 1 END) END) AS t
      |        FROM dp WHERE i < len(ca)) s)
      |SELECT id_a, id_b, CAST(d[len(cb) + 1] AS BIGINT) AS edit_dist
      |FROM dp WHERE i = len(ca)
      |ORDER BY id_a, id_b""".stripMargin

  /** Salted equi-join as a driver-checked gate: the skew guard
    * (`ops/Skew.saltedEquiJoin`, hot key split across nSalts reducers)
    * must produce EXACTLY the plain join's rows — the oracle replays
    * the plain join, so any salting bug (lost rows, dup replication)
    * hash-fails. */
  def saltedJoinOrders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val big = Tables.lineitem(spark, dir)
      .filter($"l_quantity" > 45)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
    val small = Tables.orders(spark, dir)
      .select($"o_orderkey".as("l_orderkey"), $"o_orderpriority")
    graft.ops.Skew.saltedEquiJoin(big, small, "l_orderkey", nSalts = 8)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"o_orderpriority")
      .orderBy($"l_orderkey", $"l_linenumber")
  }

  private def saltedJoinOracle: String =
    """SELECT l_orderkey, l_linenumber, l_quantity, o_orderpriority
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_quantity > 45
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** q127 (r8): Bloom-pruned fact join
    * ([[graft.ops.BloomJoin.bloomPrune]]) — lineitem pruned map-side
    * against a 65536-bit image of one nation's supplier keys before
    * the join (the runtime-filter pattern). Revenue per supplier in
    * exact cents plus the global (n_fact, n_after_bloom) pruning
    * stats as data; the oracle replays every Bloom position, the
    * 3-of-3 probe rule, the pruned join and the stats. */
  def bloomJoinSuppliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r18: the Bloom probe (k md5-derived positions per row) + partial
    // agg ran as ONE task over the single-split fixture scan (profiled
    // 1.7 s) — spread it (identity at production split counts, where
    // the zero-added-shuffle phase-1 contract holds as documented)
    val li = graft.ops.Adaptive.spread(
      Tables.lineitem(spark, dir)
        .select($"l_suppkey", $"l_extendedprice", $"l_discount"))
    val dim = Tables.supplier(spark, dir)
      .filter($"s_nationkey" === 3)
      .select($"s_suppkey", $"s_name")
    // ONE fact scan: tag rows with the Bloom verdict, broadcast-left-
    // join the dim, and partially aggregate to (pass, suppkey) — the
    // per-supplier rows AND both pruning stats all read off the tiny
    // grouped frame (a pass=true row with a null suppkey is a Bloom
    // false positive: counted in n_after_bloom, excluded from `per`,
    // exactly as a two-phase plan would behave).
    val tagged = graft.ops.BloomJoin.bloomTag(
      li, dim.select($"s_suppkey"), "l_suppkey", "s_suppkey", "__pass")
    val grouped = tagged
      .join(broadcast(dim), tagged("l_suppkey") === dim("s_suppkey"), "left")
      .groupBy($"__pass", $"s_suppkey", $"s_name")
      .agg(count(lit(1)).as("cnt"),
        sum(expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"))
          .as("rev"))
      .cache() // bounded: <= 2 x (|dim| + 1) rows
    val per = grouped.filter($"__pass" && $"s_suppkey".isNotNull)
      .select($"s_suppkey", $"s_name", $"cnt".as("n_items"),
        $"rev".as("revenue_c"))
    val stats = grouped.agg(
      sum($"cnt").as("n_fact"),
      sum(when($"__pass", $"cnt").otherwise(lit(0L))).as("n_after_bloom"))
    // the result is ≤ |dim| rows: materialize it locally so the grouped
    // cache can unpersist NOW instead of leaking a cached RDD into
    // executor storage per invocation (ADVICE r8 #2)
    graft.ops.Materialize.localThenUnpersist(
      per.crossJoin(broadcast(stats)).orderBy($"s_suppkey"), grouped)
  }

  private def bloomJoinOracle: String =
    """WITH dim AS (SELECT s_suppkey, s_name FROM supplier
      |            WHERE s_nationkey = 3),
      |ks AS (SELECT unnest([0, 1, 2]) AS k),
      |bits AS (SELECT DISTINCT
      |           ('0x' || substr(md5(CAST(s_suppkey AS VARCHAR)
      |              || '#' || k::VARCHAR), 1, 15))::BIGINT % 65536 AS pos
      |         FROM dim CROSS JOIN ks),
      |fh AS (SELECT l_suppkey, l_extendedprice, l_discount FROM lineitem),
      |keys AS (SELECT DISTINCT l_suppkey FROM fh),
      |pr AS (SELECT l_suppkey,
      |         ('0x' || substr(md5(CAST(l_suppkey AS VARCHAR)
      |            || '#' || k::VARCHAR), 1, 15))::BIGINT % 65536 AS pos
      |       FROM keys CROSS JOIN ks),
      |passk AS (SELECT l_suppkey FROM pr
      |          WHERE pos IN (SELECT pos FROM bits)
      |          GROUP BY 1 HAVING count(*) = 3),
      |pruned AS (SELECT fh.* FROM fh JOIN passk USING (l_suppkey)),
      |per AS (SELECT d.s_suppkey, d.s_name, count(*)::BIGINT AS n_items,
      |          sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
      |              AS BIGINT))::BIGINT AS revenue_c
      |        FROM pruned p JOIN dim d ON p.l_suppkey = d.s_suppkey
      |        GROUP BY 1, 2),
      |st AS (SELECT (SELECT count(*) FROM fh)::BIGINT AS n_fact,
      |              (SELECT count(*) FROM pruned)::BIGINT AS n_after_bloom)
      |SELECT * FROM per, st ORDER BY s_suppkey""".stripMargin

  /** q128 (r8): the TPC-H Q5 archetype — six-table join with the
    * "local supplier" condition (customer and supplier share a
    * nation), revenue per ASIA nation over a three-year window.
    * Exercises Catalyst's multi-way join ordering: lineitem/orders/
    * customer/supplier shuffle on their keys (none is broadcastable
    * at 100 TB), nation/region broadcast explicitly; revenue in exact
    * cents so the sum is order-independent. */
  def localSupplierRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
      .filter($"o_orderdate" >= lit("1995-01-01") &&
        $"o_orderdate" < lit("1998-01-01"))
      .select($"o_orderkey", $"o_custkey")
    val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey",
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
        .as("rev_c"))
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_nationkey")
    val supp = Tables.supplier(spark, dir).select($"s_suppkey", $"s_nationkey")
    val nat = Tables.nation(spark, dir)
      .select($"n_nationkey", $"n_name", $"n_regionkey")
    val reg = Tables.region(spark, dir)
      .filter($"r_name" === "ASIA").select($"r_regionkey")
    li.join(orders, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .join(supp, $"l_suppkey" === $"s_suppkey" &&
        $"c_nationkey" === $"s_nationkey")
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_items"), sum($"rev_c").as("revenue_c"))
      .orderBy($"revenue_c".desc, $"n_name")
  }

  private def localSupplierOracle: String =
    """SELECT n_name, count(*)::BIGINT AS n_items,
      |       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
      |           AS BIGINT))::BIGINT AS revenue_c
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name
      |ORDER BY revenue_c DESC, n_name""".stripMargin

  /** q135 (r8): the TPC-H Q8 archetype — market share: of all revenue
    * ASIA-region customers generated per order year, the ppm fraction
    * supplied by CHINA suppliers. Conditional aggregate over the q128
    * join shape; integer cents and DIV keep the share exact. */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val orders = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_custkey", year($"o_orderdate").as("o_year"))
    val li = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_suppkey",
      expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
        .as("rev_c"))
    val nat = Tables.nation(spark, dir)
    val reg = Tables.region(spark, dir)
    val custAsia = Tables.customer(spark, dir)
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(reg.filter($"r_name" === "ASIA")),
        $"n_regionkey" === $"r_regionkey")
      .select($"c_custkey")
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(nat.select($"n_nationkey".as("sn_key"),
        $"n_name".as("supp_nation"))), $"s_nationkey" === $"sn_key")
      .select($"s_suppkey", $"supp_nation")
    li.join(orders, $"l_orderkey" === $"o_orderkey")
      .join(custAsia, $"o_custkey" === $"c_custkey")
      .join(suppNation, $"l_suppkey" === $"s_suppkey")
      .groupBy($"o_year")
      .agg(sum($"rev_c").as("total_c"),
        sum(when($"supp_nation" === "CHINA", $"rev_c").otherwise(lit(0L)))
          .as("china_c"))
      .withColumn("share_ppm", expr("china_c * 1000000L DIV total_c"))
      .orderBy($"o_year")
  }

  private def marketShareOracle: String =
    """WITH j AS (
      |  SELECT CAST(datepart('year', o_orderdate) AS INTEGER) AS o_year,
      |         CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
      |              AS BIGINT) AS rev_c,
      |         sn.n_name AS supp_nation
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation cn ON c_nationkey = cn.n_nationkey
      |  JOIN region ON cn.n_regionkey = r_regionkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation sn ON s_nationkey = sn.n_nationkey
      |  WHERE r_name = 'ASIA')
      |SELECT o_year, sum(rev_c)::BIGINT AS total_c,
      |       sum(CASE WHEN supp_nation = 'CHINA' THEN rev_c
      |                ELSE 0 END)::BIGINT AS china_c,
      |       CAST(sum(CASE WHEN supp_nation = 'CHINA' THEN rev_c
      |                     ELSE 0 END) * 1000000
      |            // sum(rev_c) AS BIGINT) AS share_ppm
      |FROM j GROUP BY o_year ORDER BY o_year""".stripMargin

  /** One ANSI SQL text, two engines: q136 runs this string through
    * `spark.sql` over registered views; the SAME string is the DuckDB
    * oracle. Both dialects accept it unmodified — the SQL front door
    * the reference's users would come through. */
  private val sqlFrontDoorText: String =
    """SELECT n_name, count(*) AS n_items,
      |  CAST(SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
      |           AS BIGINT)) AS BIGINT) AS revenue_c
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON s_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1995-01-01'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |GROUP BY n_name ORDER BY revenue_c DESC, n_name""".stripMargin

  /** q136 (r8): the SQL front door — every fixture table registered as
    * a temp view, the query submitted as SQL TEXT (not DataFrame
    * calls), Catalyst planning it identically to q128's API form. */
  def sqlFrontDoor(spark: SparkSession, dir: String): DataFrame = {
    graft.sources.Tables.all.foreach { t =>
      graft.sources.Tables(spark, dir, t).createOrReplaceTempView(t)
    }
    spark.sql(sqlFrontDoorText)
  }

  /** Shared-text SQL gate runner (VERDICT r8 "Next round" #7): the
    * string below q136's pattern IS both the Spark plan source and
    * the DuckDB oracle — one dialect-portable ANSI text, two engines.
    * Widens the front door from one proof query to the staple
    * relational shapes a reference user would type first (agg, join
    * top-k, HAVING, ROLLUP, CUBE). Dialect constraints honored:
    * CAST not ::, no // integer division (floor + CAST instead),
    * per-column grouping() (portable where multi-arg grouping_id is
    * not), CAST around BIGINT sums (DuckDB widens to HUGEINT). */
  private def sharedSql(text: String)(spark: SparkSession,
      dir: String): DataFrame = {
    graft.sources.Tables.all.foreach { t =>
      graft.sources.Tables(spark, dir, t).createOrReplaceTempView(t)
    }
    spark.sql(text)
  }

  /** q141: the q01 pricing summary as shared SQL text. */
  private val sqlPricingSummaryText: String =
    """SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity), 2) AS sum_qty,
      | round(sum(l_extendedprice), 2) AS sum_base_price,
      | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
      | round(avg(l_discount), 4) AS avg_disc,
      | count(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** q142: the q03 join-top-revenue as shared SQL text. */
  private val sqlTopRevenueText: String =
    """SELECT o_orderkey, o_orderdate, o_orderpriority,
      | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate, o_orderpriority
      |ORDER BY revenue DESC, o_orderkey
      |LIMIT 10""".stripMargin

  /** q143: the q19 HAVING shape as shared SQL text. Integer division
    * is not dialect-shared (Spark DIV vs DuckDB //): avg_cents uses
    * floor over IEEE division — both engines compute the identical
    * double from identical BIGINT inputs, so the floor agrees. */
  private val sqlHeavyCustomersText: String =
    """SELECT o_custkey, count(*) AS n_orders,
      | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |   AS spend_cents,
      | CAST(floor(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |                 AS BIGINT) / count(*)) AS BIGINT) AS avg_cents
      |FROM orders
      |GROUP BY o_custkey
      |HAVING count(*) >= 10
      |ORDER BY spend_cents DESC, o_custkey""".stripMargin

  /** q144: the q80 ROLLUP as shared SQL text (per-column grouping()
    * composes the gid portably: 2·g(first) + g(second), the
    * grouping_id bit layout both engines document). */
  private val sqlRollupText: String =
    """SELECT coalesce(r_name, 'ALL') AS r_name,
      |       coalesce(n_name, 'ALL') AS n_name,
      |       CAST(2 * grouping(r_name) + grouping(n_name) AS BIGINT) AS gid,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS revenue_cents,
      |       count(*) AS n_orders
      |FROM orders
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY gid, r_name, n_name""".stripMargin

  /** q148: the q07 per-key window top-k as shared SQL text (CAST on
    * row_number: Spark emits INT where DuckDB emits BIGINT). */
  private val sqlWindowTopkText: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |       CAST(rn AS BIGINT) AS rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, rn""".stripMargin

  /** q149: the TPC-H Q17 archetype — CORRELATED scalar subquery
    * ("below 20% of this part's own average quantity"), the
    * decorrelation shape Catalyst rewrites into an aggregate + join;
    * both engines accept the identical text. Threshold determinism:
    * l_quantity is integral in the fixture, so the distributed sum
    * behind avg() is exact and 0.2·avg is bit-identical across
    * engines — a strict < against it cannot flip on float noise. */
  private val sqlCorrelatedAvgText: String =
    """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
      |            AS BIGINT) AS revenue_c,
      |       count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_brand = 'Brand#1'
      |  AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
      |                    FROM lineitem l2
      |                    WHERE l2.l_partkey = p_partkey)""".stripMargin

  /** q154 (r10, VERDICT r9 "Next round" #4): the TPC-H Q4 archetype —
    * correlated EXISTS (orders in a half-year window having at least
    * one lineitem shipped more than 60 days after the order date;
    * the fixture has no commit/receipt dates, so the "late" predicate
    * is ship-vs-order). Catalyst decorrelates this into a left-semi
    * join on l_orderkey — the plan a hand-written semi-join (q04)
    * would produce, now reached from SQL text. */
  private val sqlExistsLateText: String =
    """SELECT o_orderpriority, count(*) AS n_orders
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-07-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  /** q155: the TPC-H Q22 archetype — correlated NOT EXISTS (customers
    * who never placed an urgent order; the fixture's every customer
    * has SOME order, so the anti-join must discriminate on the inner
    * predicate, not mere presence). Decorrelates to a left-anti join
    * on o_custkey with the priority filter pushed below it. */
  private val sqlNotExistsText: String =
    """SELECT c_custkey, c_mktsegment
      |FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** q156: the TPC-H Q20 archetype — NESTED IN subqueries (suppliers
    * who shipped a big-quantity 'gear' part in 1996Q1: part-name list
    * feeds a lineitem filter feeds the supplier membership test).
    * Both IN levels decorrelate to semi-joins; the inner predicate
    * keeps the result at 20 of 100 suppliers so a dropped filter
    * breaks the hash. */
  private val sqlNestedInText: String =
    """SELECT s_suppkey, s_name
      |FROM supplier
      |WHERE s_suppkey IN (
      |  SELECT l_suppkey FROM lineitem
      |  WHERE l_partkey IN (SELECT p_partkey FROM part
      |                      WHERE p_name LIKE '%gear%')
      |    AND l_quantity >= 48
      |    AND l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01')
      |ORDER BY s_suppkey""".stripMargin

  /** q157: aggregate window with a RANGE frame — per-customer rolling
    * 3-month spend, the VALUE-based frame (peers by month index, gaps
    * respected) that ROWS frames get wrong on sparse months. The
    * month index is a portable integer (date_part year/month compose
    * identically in both engines), so the numeric RANGE bound is
    * dialect-shared where interval-typed bounds are not. */
  private val sqlRangeFrameText: String =
    """WITH m AS (
      |  SELECT o_custkey,
      |         CAST(date_part('year', o_orderdate) * 12
      |              + date_part('month', o_orderdate) AS BIGINT) AS mo,
      |         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |              AS BIGINT) AS mo_cents
      |  FROM orders
      |  GROUP BY o_custkey, mo)
      |SELECT o_custkey, mo, mo_cents,
      |  CAST(sum(mo_cents) OVER (PARTITION BY o_custkey ORDER BY mo
      |       RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS spend_3mo_c
      |FROM m
      |ORDER BY o_custkey, mo""".stripMargin

  /** q159: the TPC-H Q15 archetype — uncorrelated scalar subquery over
    * an AGGREGATE-OF-AGGREGATE (the supplier whose quarterly revenue
    * equals the max of all suppliers' revenues; the classic
    * "top-by-equality" view shape). Revenue is exact integer cents, so
    * the max-equality binds deterministically; ties would all emit. */
  private val sqlAggEqualityText: String =
    """WITH rev AS (
      |  SELECT l_suppkey AS s_key,
      |    CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
      |             AS BIGINT)) AS BIGINT) AS total_c
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_c
      |FROM supplier JOIN rev ON s_suppkey = s_key
      |WHERE total_c = (SELECT max(total_c) FROM rev)
      |ORDER BY s_suppkey""".stripMargin

  /** q160: the TPC-H Q2 archetype — correlated MIN-equality subquery
    * (each Brand#2 part's cheapest lineitems: rows whose price equals
    * that part's own minimum). The equality compares a raw stored
    * double against min() of the same stored doubles — no arithmetic,
    * so it cannot drift between engines; ties all emit (95 rows on
    * the sf0.01 fixture). Decorrelates to an aggregate + join like
    * q149, but binding with equality instead of an inequality. */
  private val sqlCorrelatedMinText: String =
    """SELECT p_partkey, l_suppkey, l_orderkey, l_extendedprice
      |FROM part
      |JOIN lineitem ON l_partkey = p_partkey
      |WHERE p_brand = 'Brand#2'
      |  AND l_extendedprice = (SELECT min(l2.l_extendedprice)
      |                         FROM lineitem l2
      |                         WHERE l2.l_partkey = p_partkey)
      |ORDER BY p_partkey, l_suppkey, l_orderkey""".stripMargin

  /** q163 (r11): the TPC-H Q21 archetype — EXISTS and NOT EXISTS
    * correlated against the SAME inner table (lineitem), the last
    * classic subquery shape the q154–q157 family lacked. Suppliers
    * counted per multi-supplier 'F' order where THEY shipped late
    * (the q154 lateness rule — the fixture has no receipt/commit
    * dates) and NO other supplier did. Spark decorrelates the two
    * subqueries into a semi- and an anti-join over the same
    * lineitem scan; the NOT EXISTS additionally carries the outer
    * o_orderdate through a non-equality correlated predicate. */
  private val sqlQ21WaitingText: String =
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
      |FROM supplier
      |JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      |JOIN orders ON o_orderkey = l1.l_orderkey
      |WHERE o_orderstatus = 'F'
      |  AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name""".stripMargin

  /** q164 (r11): the TPC-H Q18 archetype — membership test against a
    * GROUPED HAVING subquery (big-quantity orders: the IN-list is
    * itself an aggregation result, not a filtered scan — a shape the
    * q156 nested-IN gate does not cover). Decorrelates to a semi-join
    * against the aggregated lineitem; threshold 250 keeps 204 of
    * ~15k orders at sf0.01 so a HAVING slip breaks the hash. */
  private val sqlQ18BigOrdersText: String =
    """SELECT c_custkey, o_orderkey, o_orderdate,
      | CAST(round(o_totalprice * 100) AS BIGINT) AS totalprice_cents
      |FROM customer
      |JOIN orders ON c_custkey = o_custkey
      |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
      |                     GROUP BY l_orderkey
      |                     HAVING sum(l_quantity) > 250)
      |ORDER BY o_orderkey""".stripMargin

  /** q165 (r11): the TPC-H Q15 archetype — a named CTE aggregate
    * consumed TWICE: once as a join input, once inside a scalar MAX
    * subquery that selects the top row(s) by equality. Exercises CTE
    * reuse + scalar-subquery-over-derived-aggregate, a shape none of
    * q141–q163 has. Revenue in exact integer cents (the q144/q145
    * rounding pattern) so the max-equality cannot drift between
    * engines. */
  private val sqlQ15TopSupplierText: String =
    """WITH revenue AS (
      |  SELECT l_suppkey AS supplier_no,
      |         CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
      |                             * 100) AS BIGINT)) AS BIGINT)
      |           AS total_revenue_cents
      |  FROM lineitem
      |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1996-04-01'
      |  GROUP BY l_suppkey)
      |SELECT s_suppkey, s_name, total_revenue_cents
      |FROM supplier
      |JOIN revenue ON s_suppkey = supplier_no
      |WHERE total_revenue_cents = (SELECT max(total_revenue_cents)
      |                             FROM revenue)
      |ORDER BY s_suppkey""".stripMargin

  /** q166 (r11): the TPC-H Q13 archetype — customer order-count
    * DISTRIBUTION via two stacked aggregations, the outer grouping on
    * the inner one's aggregate. The LEFT OUTER join carries its
    * filter INSIDE the ON clause (pushing `o_orderpriority <>
    * '1-URGENT'` to WHERE would silently drop zero-order customers —
    * the classic Q13 trap), so the c_count=0 bucket survives and a
    * planner that folds the predicate incorrectly breaks the hash.
    * ORDER BY (custdist DESC, c_count DESC) is total because c_count
    * is the outer group key. */
  private val sqlQ13CustdistText: String =
    """SELECT c_count, count(*) AS custdist
      |FROM (SELECT c_custkey, count(o_orderkey) AS c_count
      |      FROM customer LEFT OUTER JOIN orders
      |        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      |      GROUP BY c_custkey) c_orders
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin

  /** q167 (r11): the TPC-H Q16 archetype — count(DISTINCT) under a
    * non-correlated NOT IN subquery plus mixed scalar predicates
    * (inequality, NOT LIKE, IN-list). The fixture has no partsupp, so
    * lineitem is the part↔supplier relation (Q16's semantics, the
    * albedo fixture's tables); "complaint" suppliers are the 6 with
    * negative s_acctbal. NOT IN over a non-nullable key decorrelates
    * to a null-aware anti join — a join flavor no other shared-text
    * gate reaches. 82 groups at sf0.01. */
  private val sqlQ16SupplierCntText: String =
    """SELECT p_brand, p_type, p_size,
      |       count(DISTINCT l_suppkey) AS supplier_cnt
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE p_brand <> 'Brand#45'
      |  AND p_type NOT LIKE 'MEDIUM%'
      |  AND p_size IN (1, 4, 7)
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
      |                        WHERE s_acctbal < 0.0)
      |GROUP BY p_brand, p_type, p_size
      |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin

  /** q168 (r11): the TPC-H Q22 archetype — an UNCORRELATED scalar
    * AVG subquery gating the outer scan (every other scalar-subquery
    * gate correlates: q149/q159/q160/q165), composed with a windowed
    * correlated NOT EXISTS (dormant = no order since 1998; the
    * fixture's customers ALL have lifetime orders, so plain Q22
    * NOT EXISTS would be empty). Balance totals in exact integer
    * cents; nationkey stands in for Q22's phone country code.
    * The gating compare ALSO runs in integer cents (ADVICE r11): a
    * raw-double avg depends on engine summation order, so a balance
    * within float noise of it could flip between engines — the
    * q165/q171 cents discipline applies to the scalar too (sum of
    * sub-2^53 bigint cents is exact in both engines; the single
    * divide-by-count and the bigint>double compare are then
    * order-independent). */
  private val sqlQ22DormantRichText: String =
    """SELECT cntrycode, count(*) AS numcust,
      |       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
      |         AS totacctbal_cents
      |FROM (SELECT c_nationkey AS cntrycode, c_acctbal, c_custkey
      |      FROM customer
      |      WHERE CAST(round(c_acctbal * 100) AS BIGINT) >
      |            (SELECT avg(CAST(round(c_acctbal * 100) AS BIGINT))
      |             FROM customer WHERE c_acctbal > 0.0)) c
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '1998-01-01')
      |GROUP BY cntrycode
      |ORDER BY cntrycode""".stripMargin

  /** q169 (r11): the TPC-H Q12 archetype — conditional CASE counting
    * (two complementary sum(CASE) columns in one pass) over a
    * fact-fact join with a date-arithmetic predicate. The fixture has
    * no shipmode/commitdate, so the split is priority (URGENT+HIGH vs
    * rest) and "late" is q154's ship-vs-order+30d. */
  private val sqlQ12PriorityCountsText: String =
    """SELECT l_returnflag,
      |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
      |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
      |                THEN 1 ELSE 0 END) AS BIGINT) AS low_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > o_orderdate + INTERVAL 30 DAY
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** q170 (r11): the TPC-H Q14 archetype — a RATIO of a conditional
    * sum to the unconditional sum in the same aggregation (promo
    * revenue share; the fixture's p_type really has a PROMO class).
    * Round(…, 4) on the percentage absorbs cross-engine double-sum
    * ordering, the q141 precedent. */
  private val sqlQ14PromoShareText: String =
    """SELECT round(100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
      |             THEN l_extendedprice * (1.0 - l_discount)
      |             ELSE 0.0 END)
      |        / sum(l_extendedprice * (1.0 - l_discount)), 4) AS promo_pct,
      |       count(*) AS n_items
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      |  AND l_shipdate < TIMESTAMP '1996-10-01'""".stripMargin

  /** q171 (r11): the TPC-H Q11 archetype — HAVING against a FRACTION
    * of an uncorrelated global scalar computed over the SAME table
    * (per-part revenue share above 1/2000 of total). Both sides in
    * exact integer cents; the fraction compare is double over
    * sub-2^53 integers, exact in both engines. Keeps 971 of ~2000
    * parts at sf0.01, so a slipped threshold moves the hash. */
  private val sqlQ11ValueShareText: String =
    """SELECT l_partkey,
      |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
      |                AS BIGINT)) AS BIGINT) AS value_cents
      |FROM lineitem
      |GROUP BY l_partkey
      |HAVING CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
      |                     AS BIGINT)) AS BIGINT)
      |     > (SELECT CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
      |                                   * 100) AS BIGINT)) AS BIGINT)
      |        FROM lineitem) / 2000.0
      |ORDER BY value_cents DESC, l_partkey""".stripMargin

  /** q172 (r11): the TPC-H Q19 archetype — a DISJUNCTION of
    * conjunctive predicate triples spanning both join sides (brand ×
    * size range × quantity range), the classic pushdown/CNF-conversion
    * stressor: the planner must still push the join key and the
    * common p/l prefixes through the OR. One aggregate row. */
  private val sqlQ19DisjunctiveText: String =
    """SELECT CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
      |                     AS BIGINT)) AS BIGINT) AS revenue_cents,
      |       count(*) AS n_items
      |FROM lineitem JOIN part ON p_partkey = l_partkey
      |WHERE (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 5
      |       AND l_quantity BETWEEN 1 AND 11)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 10
      |       AND l_quantity BETWEEN 10 AND 20)
      |   OR (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
      |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin

  /** q145: the q92 CUBE as shared SQL text. */
  private val sqlCubeText: String =
    """SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
      |       coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
      |       CAST(2 * grouping(o_orderpriority) + grouping(o_orderstatus)
      |            AS BIGINT) AS gid,
      |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
      |         AS revenue_cents,
      |       count(*) AS n_orders
      |FROM orders
      |GROUP BY CUBE(o_orderpriority, o_orderstatus)
      |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin

  /** q134 (r8): explicit GROUPING SETS — ((priority), (status), ()) —
    * a subtotal shape neither ROLLUP nor CUBE produces (no
    * (priority, status) cell). One Expand feeding one aggregate, like
    * q80/q92. */
  def groupingSetsRevenue(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .withColumn("cents", round($"o_totalprice" * 100).cast("long"))
      .groupingSets(
        Seq(Seq($"o_orderpriority"), Seq($"o_orderstatus"), Seq()),
        $"o_orderpriority", $"o_orderstatus")
      .agg(sum($"cents").as("revenue_cents"),
        count(lit(1)).as("n_orders"),
        grouping_id().cast("long").as("gid"))
      .orderBy($"gid", $"o_orderpriority", $"o_orderstatus")
  }

  private def groupingSetsOracle: String =
    """SELECT o_orderpriority, o_orderstatus,
      |       sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))::BIGINT
      |         AS revenue_cents,
      |       count(*)::BIGINT AS n_orders,
      |       GROUPING(o_orderpriority, o_orderstatus)::BIGINT AS gid
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
      |ORDER BY gid, o_orderpriority, o_orderstatus""".stripMargin

  private def rollupOracle: String =
    """SELECT coalesce(r_name, 'ALL') AS r_name,
      |       coalesce(n_name, 'ALL') AS n_name,
      |       GROUPING(r_name, n_name)::BIGINT AS gid,
      |       sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS revenue_cents,
      |       count(*) AS n_orders
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY ROLLUP(r_name, n_name)
      |ORDER BY gid, r_name, n_name""".stripMargin

  /** Pivot: order counts per priority × status (wide matrix). Explicit
    * value list ⇒ deterministic output schema AND a single-pass plan
    * (no distinct-values pre-query); counts are integer-exact. */
  def pivotStatusCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .groupBy($"o_orderpriority")
      .pivot("o_orderstatus", Seq("O", "F", "P"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .select($"o_orderpriority", $"O".as("n_open"), $"F".as("n_filled"),
        $"P".as("n_pending"))
      .orderBy($"o_orderpriority")
  }

  private def pivotOracle: String =
    """SELECT o_orderpriority,
      |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
      |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
      |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  /** Unpivot (melt): the wide status matrix back to long form —
    * map-side Expand, no shuffle beyond the pivot's own aggregate. */
  def unpivotStatusCounts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    pivotStatusCounts(spark, dir)
      .unpivot(Array($"o_orderpriority"),
        Array($"n_open", $"n_filled", $"n_pending"), "status", "n")
      .orderBy($"o_orderpriority", $"status")
  }

  private def unpivotOracle: String =
    """WITH w AS (
      |  SELECT o_orderpriority,
      |    count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
      |    count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
      |    count(*) FILTER (WHERE o_orderstatus = 'P') AS n_pending
      |  FROM orders GROUP BY 1)
      |SELECT o_orderpriority, 'n_open' AS status, n_open AS n FROM w
      |UNION ALL
      |SELECT o_orderpriority, 'n_filled', n_filled FROM w
      |UNION ALL
      |SELECT o_orderpriority, 'n_pending', n_pending FROM w
      |ORDER BY o_orderpriority, status""".stripMargin

  /** Tukey-fence outlier profile per group: exact interpolated
    * quartiles (portable — proven by q54), 1.5·IQR fences, outlier
    * counts. Two passes over the scan (percentile agg, then a
    * broadcast-join recount) — the standard anomaly-admission filter
    * shape; counts are integer-exact, fences mirrored unrounded in
    * both engines. */
  def iqrOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // r18: exact percentile ships every value to its group's merge
    // task, and the single-split fixture scan buffered all of them in
    // ONE partial-agg task (profiled 0.9 s serial stage) — spread the
    // scan so the partial pass parallelizes (identity at production
    // split counts; ops/Adaptive scaladoc)
    val li = graft.ops.Adaptive.spread(
      Tables.lineitem(spark, dir).select($"l_returnflag", $"l_extendedprice"))
    val fences = li.groupBy($"l_returnflag")
      .agg(expr("percentile(l_extendedprice, 0.25)").as("q1"),
        expr("percentile(l_extendedprice, 0.75)").as("q3"))
      // fences quantized to 4 decimals IDENTICALLY in both engines: a
      // 1-ulp quantile-interpolation delta with a price exactly at an
      // unrounded fence could otherwise flip n_outliers (ADVICE r2)
      .withColumn("lo", round($"q1" - ($"q3" - $"q1") * 1.5, 4))
      .withColumn("hi", round($"q3" + ($"q3" - $"q1") * 1.5, 4))
    li.join(broadcast(fences), Seq("l_returnflag"))
      .groupBy($"l_returnflag")
      .agg(
        round(max($"q1"), 4).as("q1"),
        round(max($"q3"), 4).as("q3"),
        sum(when($"l_extendedprice" < $"lo" || $"l_extendedprice" > $"hi", 1L)
          .otherwise(0L)).as("n_outliers"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  private def iqrOracle: String =
    """WITH f AS (SELECT l_returnflag,
      |    quantile_cont(l_extendedprice, 0.25) AS q1,
      |    quantile_cont(l_extendedprice, 0.75) AS q3
      |  FROM lineitem GROUP BY 1),
      |ff AS (SELECT l_returnflag, q1, q3,
      |    round(q1 - (q3 - q1) * 1.5, 4) AS lo,
      |    round(q3 + (q3 - q1) * 1.5, 4) AS hi FROM f)
      |SELECT l.l_returnflag, round(max(ff.q1), 4) AS q1,
      |       round(max(ff.q3), 4) AS q3,
      |       sum(CASE WHEN l.l_extendedprice < ff.lo
      |                  OR l.l_extendedprice > ff.hi
      |                THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
      |       count(*) AS n_rows
      |FROM lineitem l JOIN ff USING (l_returnflag)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q88_iqr_outliers", iqrOutliers, Some(iqrOracle)),
    QueryDef("q80_rollup_revenue", rollupRevenue, Some(rollupOracle)),
    QueryDef("q91_window_analytics", windowAnalytics, Some(windowAnalyticsOracle)),
    QueryDef("q92_cube_revenue", cubeRevenue, Some(cubeOracle)),
    QueryDef("q93_edit_distance", editDistancePairs, Some(editDistanceOracle)),
    QueryDef("q94_salted_join", saltedJoinOrders, Some(saltedJoinOracle)),
    QueryDef("q127_bloom_join", bloomJoinSuppliers, Some(bloomJoinOracle)),
    QueryDef("q128_local_supplier_revenue", localSupplierRevenue,
      Some(localSupplierOracle)),
    QueryDef("q134_grouping_sets", groupingSetsRevenue,
      Some(groupingSetsOracle)),
    QueryDef("q135_market_share", marketShare, Some(marketShareOracle)),
    QueryDef("q136_sql_front_door", sqlFrontDoor, Some(sqlFrontDoorText)),
    QueryDef("q141_sql_pricing_summary", sharedSql(sqlPricingSummaryText),
      Some(sqlPricingSummaryText)),
    QueryDef("q142_sql_top_revenue", sharedSql(sqlTopRevenueText),
      Some(sqlTopRevenueText)),
    QueryDef("q143_sql_heavy_customers", sharedSql(sqlHeavyCustomersText),
      Some(sqlHeavyCustomersText)),
    QueryDef("q144_sql_rollup_revenue", sharedSql(sqlRollupText),
      Some(sqlRollupText)),
    QueryDef("q145_sql_cube_revenue", sharedSql(sqlCubeText),
      Some(sqlCubeText)),
    QueryDef("q148_sql_window_topk", sharedSql(sqlWindowTopkText),
      Some(sqlWindowTopkText)),
    QueryDef("q154_sql_exists_late", sharedSql(sqlExistsLateText),
      Some(sqlExistsLateText)),
    QueryDef("q155_sql_not_exists_urgent", sharedSql(sqlNotExistsText),
      Some(sqlNotExistsText)),
    QueryDef("q156_sql_nested_in", sharedSql(sqlNestedInText),
      Some(sqlNestedInText)),
    QueryDef("q157_sql_range_frame", sharedSql(sqlRangeFrameText),
      Some(sqlRangeFrameText)),
    QueryDef("q159_sql_agg_equality", sharedSql(sqlAggEqualityText),
      Some(sqlAggEqualityText)),
    QueryDef("q163_sql_q21_waiting", sharedSql(sqlQ21WaitingText),
      Some(sqlQ21WaitingText)),
    QueryDef("q164_sql_q18_big_orders", sharedSql(sqlQ18BigOrdersText),
      Some(sqlQ18BigOrdersText)),
    QueryDef("q165_sql_q15_top_supplier", sharedSql(sqlQ15TopSupplierText),
      Some(sqlQ15TopSupplierText)),
    QueryDef("q166_sql_q13_custdist", sharedSql(sqlQ13CustdistText),
      Some(sqlQ13CustdistText)),
    QueryDef("q167_sql_q16_supplier_cnt", sharedSql(sqlQ16SupplierCntText),
      Some(sqlQ16SupplierCntText)),
    QueryDef("q168_sql_q22_dormant_rich", sharedSql(sqlQ22DormantRichText),
      Some(sqlQ22DormantRichText)),
    QueryDef("q169_sql_q12_priority_counts",
      sharedSql(sqlQ12PriorityCountsText), Some(sqlQ12PriorityCountsText)),
    QueryDef("q170_sql_q14_promo_share", sharedSql(sqlQ14PromoShareText),
      Some(sqlQ14PromoShareText)),
    QueryDef("q171_sql_q11_value_share", sharedSql(sqlQ11ValueShareText),
      Some(sqlQ11ValueShareText)),
    QueryDef("q172_sql_q19_disjunctive", sharedSql(sqlQ19DisjunctiveText),
      Some(sqlQ19DisjunctiveText)),
    QueryDef("q160_sql_correlated_min", sharedSql(sqlCorrelatedMinText),
      Some(sqlCorrelatedMinText)),
    QueryDef("q149_sql_correlated_avg", sharedSql(sqlCorrelatedAvgText),
      Some(sqlCorrelatedAvgText)),
    QueryDef("q81_pivot_status", pivotStatusCounts, Some(pivotOracle)),
    QueryDef("q82_unpivot_status", unpivotStatusCounts, Some(unpivotOracle)),
    QueryDef("q54_percentiles", percentiles, Some(
      """SELECT o_orderpriority,
        | round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        | round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        | round(min(o_totalprice), 2) AS lo,
        | round(max(o_totalprice), 2) AS hi
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    QueryDef("q54b_percentiles_approx",
      (s: SparkSession, d: String) => percentilesApprox(s, d),
      Some(percentilesApproxOracle)),
    QueryDef("q88b_iqr_outliers_approx",
      (s: SparkSession, d: String) => iqrOutliersApprox(s, d),
      Some(iqrOutliersApproxOracle)),
    QueryDef("q55_approx_distinct",
      (s: SparkSession, d: String) => approxDistinct(s, d),
      Some(approxDistinctOracle)),
    QueryDef("q58_exact_distinct", exactDistinctParts, Some(
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin)),
    QueryDef("q18_null_impute", nullImputation, Some(
      """SELECT c_custkey,
        | coalesce(nullif(c_mktsegment, 'BUILDING'), '__unknown') AS seg,
        | nullif(c_mktsegment, 'BUILDING') IS NULL AS has_null
        |FROM customer
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("q19_having_heavy_customers", havingHeavyCustomers, Some(
      """SELECT o_custkey, count(*) AS n_orders,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) // count(*) AS BIGINT) AS avg_cents
        |FROM orders
        |GROUP BY o_custkey
        |HAVING count(*) >= 10
        |ORDER BY spend_cents DESC, o_custkey""".stripMargin)),
    QueryDef("q01_agg_pricing_summary", pricingSummary, Some(
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | round(avg(l_discount), 4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),
    QueryDef("q02_filter_project", filterProject, Some(
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),
    QueryDef("q03_join_top_revenue", topRevenueOrders, Some(
      """SELECT o_orderkey, o_orderdate, o_orderpriority,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin)),
    QueryDef("q04_semi_join_priority", orderPrioritySemi, Some(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin)),
    QueryDef("q05_anti_join_customers", customersWithoutOrders, Some(
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),
    QueryDef("q06_cross_join_regions", crossJoinRegions, Some(
      """SELECT n_name, r_name
        |FROM nation CROSS JOIN region
        |ORDER BY n_name, r_name""".stripMargin)),
    QueryDef("q07_window_topk", windowTopOrders, Some(
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin)),
    QueryDef("q08_rank_ties", rankRecentOrders, Some(
      """SELECT o_custkey, o_orderkey, o_orderdate, rk FROM (
        |  SELECT o_custkey, o_orderkey, o_orderdate,
        |    rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate DESC) AS rk
        |  FROM orders)
        |WHERE rk <= 2
        |ORDER BY o_custkey, o_orderdate DESC, o_orderkey""".stripMargin)),
    QueryDef("q09_group_count_distinct", customerNationStats, Some(
      """SELECT c_nationkey AS nationkey, count(*) AS n_customers,
        | count(DISTINCT c_mktsegment) AS n_segments,
        | round(sum(c_acctbal), 2) AS total_bal
        |FROM customer
        |GROUP BY c_nationkey
        |ORDER BY nationkey""".stripMargin)),
    QueryDef("q10_distinct", distinctStatusPriority, Some(
      """SELECT DISTINCT o_orderstatus, o_orderpriority
        |FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin)),
    QueryDef("q11_union_except", unionExceptCustkeys, Some(
      """SELECT custkey FROM (
        |  SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |  UNION
        |  SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 200000
        |  EXCEPT
        |  SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F')
        |ORDER BY custkey""".stripMargin)),
    QueryDef("q12_string_ops", stringOpsParts, Some(
      """SELECT p_partkey,
        | lower(p_name) AS name_lower,
        | concat_ws('/', p_brand, p_type) AS brand_type,
        | CASE WHEN p_type LIKE '%ECO%' OR p_type LIKE '%PROMO%'
        |      THEN 1.0::DOUBLE ELSE 0.0::DOUBLE END AS is_cheap,
        | substr(p_name, 1, 5) AS name_prefix,
        | regexp_replace(p_brand, '[^0-9]', '', 'g') AS brand_num
        |FROM part
        |ORDER BY p_partkey""".stripMargin)),
    QueryDef("q13_date_math", dateMathOrders, Some(
      """SELECT o_orderkey,
        | year(o_orderdate) AS order_year,
        | month(o_orderdate) AS order_month,
        | date_diff('day', o_orderdate, TIMESTAMP '2002-01-01 00:00:00') AS days_before,
        | round(log10(o_totalprice) * 1000) / 1000 AS log_price
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin)),
    QueryDef("q14_case_when_bins", priceBins, Some(
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 150000 THEN 'medium'
        |            ELSE 'large' END AS price_bin,
        | count(*) AS n, round(avg(o_totalprice), 2) AS avg_price
        |FROM orders
        |GROUP BY 1
        |ORDER BY price_bin""".stripMargin)),
    QueryDef("q15_in_list_join", suppliersInNations, Some(
      """SELECT s_suppkey, s_name, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_0', 'NATION_3', 'NATION_7')
        |ORDER BY s_suppkey""".stripMargin)),
    QueryDef("q16_collect_list_sorted", orderKeysPerCustomer, Some(
      """SELECT o_custkey AS custkey,
        | string_agg(o_orderkey::VARCHAR, ',' ORDER BY o_orderkey) AS order_keys,
        | count(*) AS n_orders
        |FROM orders
        |GROUP BY o_custkey
        |ORDER BY custkey""".stripMargin)),
    QueryDef("q17_theta_join", thetaJoinOrdersCustomers, Some(
      """SELECT o_orderkey, c_custkey
        |FROM orders JOIN customer
        |  ON o_custkey = c_custkey AND o_totalprice > c_acctbal * 50
        |ORDER BY o_orderkey""".stripMargin))
  )
}
