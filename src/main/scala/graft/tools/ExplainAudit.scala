package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev utility: dump formatted plans for selected queries and flag
  * plan smells (missing pushdown, unexpected cartesian products,
  * non-broadcast joins against tiny dims). Usage:
  *   runMain graft.tools.ExplainAudit [sfDir] [query...]
  *
  * KNOWN-BY-DESIGN adjudications are emitted by the tool itself (r13,
  * VERDICT r12 #7): the recurring structural smells were re-explained
  * by hand in every round's notes — now the tool distinguishes
  * `known:` rows (smell + the standing reason) from `!! NEW SMELLS`,
  * so a new smell is the only thing that ever needs human reading.
  * The final summary line counts new smells only.
  *
  * Since r14 the audit is SELF-ENFORCING (VERDICT r13 #6): the core is
  * [[auditGates]], and `PlanAuditSpec` runs it over [[SpecGates]] in
  * `sbt test` asserting zero new smells and zero explain failures — a
  * plan regression fails CI instead of waiting for the next judge. */
object ExplainAudit {

  /** (gate, smell) → the standing reason it is by design. Sourced from
    * the r11/r12 judge adjudications; extend ONLY after adjudicating a
    * smell, never to silence one. */
  private val adjudicated: Map[(String, String), String] = {
    val localRelation =
      "local-relation ML/metric output (bounded rows materialized from " +
        "a fitted model / metric computation) — no scan to push into, " +
        "no codegen span to widen"
    Map(
      ("q25_als_recommend", "CartesianProduct") ->
        ("MLlib ALS recommendForAllUsers blocked GEMM: the factor-block " +
          "cross product IS the algorithm (score all user x item blocks), " +
          "bounded by rank x blocking, not a join-order defect"),
      ("q26_popularity_ndcg", "no WholeStageCodegen") -> localRelation,
      ("q44_lr_ranker_metrics", "no WholeStageCodegen") -> localRelation,
      ("q60_albedo_ranker_metrics", "no WholeStageCodegen") -> localRelation,
      ("q90_albedo_cg_quality", "no WholeStageCodegen") -> localRelation,
      ("q90b_fm_ranker_quality", "no WholeStageCodegen") -> localRelation,
      ("q90c_fm_heldout_quality", "no WholeStageCodegen") -> localRelation,
      ("q119b_bpe_segmented", "no WholeStageCodegen") -> localRelation,
      ("q127_bloom_join", "no WholeStageCodegen") -> localRelation,
      ("q176_ann_index_lifecycle", "no WholeStageCodegen") -> localRelation)
  }

  /** The fast CI subset: BENCH_r13's slowest gates (where a plan
    * regression costs the most wall time) plus one representative per
    * structural family — scan+agg, join+topk, window, minhash, LSH,
    * streaming replay. Since r15 (VERDICT r14 #4) `PlanAuditSpec`
    * ALSO audits the full registry in CI; this subset remains for the
    * quick inner-loop test and the CLI default. */
  val SpecGates: Seq[String] = Seq(
    "q01_agg_pricing_summary", "q03_join_top_revenue", "q07_window_topk",
    "q21_user_recent_topk", "q35_minhash_near_dups", "q64_minhash_portable",
    "q66_ann_lsh_portable", "q96_llm_pipeline_e2e", "q104_pagerank",
    "q132_prefix_jaccard_join", "q153_funnel_unordered_stream",
    "q173_fm_score_replay", "q175_ann_lsh_multiprobe")

  final case class AuditResult(failures: Int, knownSmells: Int,
      newSmells: Int, newRows: Seq[(String, String)])

  /** Explain every selected gate's plan, partition smells into
    * adjudicated-known vs new. `verbose` prints full plans (the CLI
    * path); the spec runs quiet and asserts on the counts. */
  def auditGates(spark: SparkSession, dir: String, names: Set[String],
      verbose: Boolean): AuditResult = {
    var newSmells = 0
    var knownSmells = 0
    var failures = 0
    val newRows = Seq.newBuilder[(String, String)]
    for (q <- graft.SparkEntry.registry
         if names.isEmpty || names.contains(q.name)) {
      if (verbose) println(s"\n========== ${q.name} ==========")
      try {
        val df = q.run(spark, dir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        if (verbose) println(plan)
        val smells = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "PushedFilters: []" -> plan.contains("PushedFilters: []"),
          // AQE's pre-execution formatted plan hides codegen spans; only
          // meaningful when AdaptiveSparkPlan is absent
          "no WholeStageCodegen" -> (!plan.contains("WholeStageCodegen")
            && !plan.contains("AdaptiveSparkPlan")))
          .collect { case (s, true) => s }
        val (known, fresh) =
          smells.partition(s => adjudicated.contains((q.name, s)))
        known.foreach { s =>
          knownSmells += 1
          if (verbose) println(s"known: $s — ${adjudicated((q.name, s))}")
        }
        if (fresh.nonEmpty) {
          newSmells += fresh.size
          fresh.foreach(s => newRows += ((q.name, s)))
          if (verbose) println(s"!! NEW SMELLS: ${fresh.mkString(", ")}")
        }
      } catch {
        case e: Throwable =>
          failures += 1
          val msg = Option(e.getMessage).getOrElse(e.toString).take(200)
          newRows += ((q.name, s"EXPLAIN FAILED: $msg"))
          if (verbose) println(s"EXPLAIN FAILED: $msg")
      }
    }
    AuditResult(failures, knownSmells, newSmells, newRows.result())
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSet else Set.empty[String]
    val spark = graft.Session.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = auditGates(spark, dir, names, verbose = true)
    println(s"\n[audit] explain_failures=${r.failures} " +
      s"known_smells=${r.knownSmells} new_smells=${r.newSmells}" +
      (if (r.newSmells == 0 && r.failures == 0)
         " — clean (all smells adjudicated)"
       else " — READ THE NEW ROWS ABOVE"))
    spark.stop()
  }
}
