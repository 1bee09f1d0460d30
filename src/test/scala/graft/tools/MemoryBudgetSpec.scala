package graft.tools

import graft.SparkSpec

/** The engine's one memory budget: a memory regression is a red build.
  * The heaviest gates (the top spill/peak gates of the r15 per-gate
  * sweep) run end-to-end at sf0.01 under a task-metrics listener and
  * must stay spill-free and under the per-task peak budget. No other
  * absolute budget exists: `perfbench` bounds `heap_peak_mb` against
  * the parent commit and reports spill per layer.
  *
  * Budgets (documented): spill 0.5 MB (zero observed across all 193
  * gates at sf0.1 in r15 — any real spill indicates a wide
  * intermediate that will knee at scale); per-task peak 768 MB,
  * because the statistic is width/load-sensitive BY MECHANISM, not by
  * plan: peakExecutionMemory of a pool-greedy consumer reads as min(need,
  * pool/(2·activeTasks)), Spark's guaranteed-share grant. Measured
  * (NOTES_r17.md, VERDICT r16 #1): q90's max stage peak is 518.7 MB at
  * local[4] = exactly pool/8 (the 4-active share of the ~4.15 GB
  * pool), 70.7 MB at a quiet local[32] (= the pool/64 share), and the
  * loaded r16 driver run at local[32] reproduced 518.7 exactly —
  * staggered task launches under co-tenant load hand a task the
  * narrow-width share. 768 MB = 1.5× that documented envelope; the
  * spill budget remains the sharp detector (a task whose state
  * outgrows its share SPILLS, and spill is gated at ~0). */
class MemoryBudgetSpec extends SparkSpec {

  private val SpillBudgetMb = 0.5
  private val PeakBudgetMb = 768.0
  // the r15 bench's most expensive / highest-peak gates — the ones a
  // memory regression would hit first
  private val heavyGates = Set(
    "q41_tfidf_similar_docs", "q90_albedo_cg_quality",
    "q96_llm_pipeline_e2e", "q104_pagerank", "q132_prefix_jaccard_join",
    "q35_minhash_near_dups", "q117_ivf_pq_topk")

  test("heaviest gates run spill-free and under the per-task peak " +
      "budget at sf0.01 (red build on a memory regression)") {
    val spill = new java.util.concurrent.atomic.AtomicLong
    val peak = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (m != null) {
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          peak.getAndAccumulate(m.peakExecutionMemory, Math.max)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val gates = graft.SparkEntry.registry.filter(q => heavyGates(q.name))
      assert(gates.size == heavyGates.size,
        s"gate-name drift: found ${gates.map(_.name).mkString(",")}")
      gates.foreach { q =>
        // drain any straggling events from prior suites, then reset
        org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
        spill.set(0L); peak.set(0L)
        q.run(spark, "/root/testdata/sf0.01")
          .write.format("noop").mode("overwrite").save()
        org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
        val spillMb = spill.get() / 1048576.0
        val peakMb = peak.get() / 1048576.0
        info(f"${q.name}: spill $spillMb%.1f MB, peak task $peakMb%.1f MB")
        assert(spillMb <= SpillBudgetMb,
          f"${q.name} spilled $spillMb%.1f MB at sf0.01 — a wide " +
            "intermediate that will knee at scale; fix the plan or " +
            "re-budget with a documented reason")
        assert(peakMb <= PeakBudgetMb,
          f"${q.name} peak task memory $peakMb%.1f MB exceeds the " +
            f"$PeakBudgetMb%.0f MB budget (4-core width) — executor " +
            "pressure at cluster memory ratios; fix the plan or " +
            "re-budget with a documented reason")
        spark.catalog.clearCache()
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
