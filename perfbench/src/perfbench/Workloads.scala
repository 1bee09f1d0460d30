package perfbench

import graft.llmops.{BenchAccess, Dedup, Similarity, TextAnalysis}
import graft.ml.RankerPipeline
import graft.ops.{Adaptive, Checkpoints, ConnectedComponents}
import graft.reco._
import graft.sources.{Snapshots, Tables}
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** What one operation produced, for the output check. */
final case class OpOut(name: String, info: Map[String, Any] = Map.empty)

/** A closed-loop workload driven through the engine's public layer
  * functions. `in` is the staged input directory, `work` a scratch
  * directory owned by the run. */
trait Workload {
  def name: String
  def clients: Int
  def tables: Seq[String]
  /** Cold operations: drop memoized fits/handles and cached blocks
    * before each one, so every operation runs the full pipeline. */
  def cold: Boolean

  /** Input registration and warm-up on a fresh session. */
  def setup(spark: SparkSession, in: String, tr: Tracer): Unit =
    tables.foreach(t => tr.span("sources.load")(Tables(spark, in, t)).count())

  /** One operation of client `client`; `rnd` is that client's seeded
    * stream. */
  def op(spark: SparkSession, in: String, opDir: String, client: Int,
      rnd: scala.util.Random, tr: Tracer): OpOut

  /** Post-operation work outside the timed window (digests, cleanup);
    * `first` marks the run's first completed operation, whose output
    * stays on disk for the check. */
  def afterOp(spark: SparkSession, opDir: String, out: OpOut, first: Boolean): OpOut = out

  /** Output check material written after the timed phase. */
  def finish(spark: SparkSession, in: String, work: String,
      outs: Seq[OpOut]): Map[String, Any] = Map.empty

  /** In traced runs a layer's output is materialized inside its span, so
    * its work is charged to the layer that did it. */
  protected def mat(tr: Tracer, df: DataFrame): DataFrame =
    if (!tr.enabled) df else { tr.plan(df.queryExecution); val c = df.cache(); c.count(); c }

  protected def digest(df: DataFrame, cols: Seq[String]): String = {
    val r = df.agg(count(lit(1)),
      sum(pmod(xxhash64(cols.map(col): _*), lit(1000000007L)))).head()
    s"${r.getLong(0)}:${if (r.isNullAt(1)) 0L else r.getLong(1)}"
  }
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "olap_mix" => OlapMix
    case "reco_nightly" => RecoNightly
    case "corpus_curation" => CorpusCuration
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** Interactive SQL surface: two clients, each drawing a seeded sequence
  * from the relational gates; one operation = one query executed
  * through the `noop` sink. Table handles stay memoized (a warm
  * catalog). */
object OlapMix extends Workload {
  val name = "olap_mix"
  val clients = 2
  val cold = false
  val tables: Seq[String] = Tables.all
  lazy val queries: IndexedSeq[graft.QueryDef] = graft.queries.Relational.defs.toIndexedSeq

  /** The gates from cheapest to dearest, by median warm latency at sf0.1
    * with two clients on 4 cores. Only used to stratify the draw: any
    * run of six consecutive operations of a client holds one gate of
    * each cost sixth, so a short window sees the same cost mix whatever
    * the seed, and the median latency does not swing with the draw.
    * Gates missing here join the dearest stratum. */
  val costOrder: Seq[String] = Seq(
    "q18_null_impute", "q06_cross_join_regions", "q93_edit_distance",
    "q05_anti_join_customers", "q12_string_ops", "q155_sql_not_exists_urgent",
    "q170_sql_q14_promo_share", "q15_in_list_join", "q14_case_when_bins",
    "q11_union_except", "q156_sql_nested_in", "q17_theta_join",
    "q09_group_count_distinct", "q10_distinct", "q143_sql_heavy_customers",
    "q01_agg_pricing_summary", "q81_pivot_status", "q19_having_heavy_customers",
    "q02_filter_project", "q172_sql_q19_disjunctive", "q159_sql_agg_equality",
    "q13_date_math", "q166_sql_q13_custdist", "q141_sql_pricing_summary",
    "q168_sql_q22_dormant_rich", "q07_window_topk", "q148_sql_window_topk",
    "q134_grouping_sets", "q145_sql_cube_revenue", "q92_cube_revenue",
    "q80_rollup_revenue", "q16_collect_list_sorted", "q04_semi_join_priority",
    "q58_exact_distinct", "q149_sql_correlated_avg", "q165_sql_q15_top_supplier",
    "q08_rank_ties", "q167_sql_q16_supplier_cnt", "q82_unpivot_status",
    "q136_sql_front_door", "q154_sql_exists_late", "q160_sql_correlated_min",
    "q169_sql_q12_priority_counts", "q144_sql_rollup_revenue",
    "q142_sql_top_revenue", "q164_sql_q18_big_orders", "q135_market_share",
    "q171_sql_q11_value_share", "q54_percentiles", "q55_approx_distinct",
    "q03_join_top_revenue", "q128_local_supplier_revenue", "q157_sql_range_frame",
    "q54b_percentiles_approx", "q163_sql_q21_waiting", "q94_salted_join",
    "q91_window_analytics", "q127_bloom_join", "q88b_iqr_outliers_approx",
    "q88_iqr_outliers")
  val Strata = 6
  lazy val strata: IndexedSeq[IndexedSeq[Int]] = {
    val rank = costOrder.zipWithIndex.toMap
    val ranked = queries.indices.sortBy(i => rank.getOrElse(queries(i).name, Int.MaxValue))
    val per = (ranked.size + Strata - 1) / Strata
    ranked.grouped(per).map(_.toIndexedSeq).toIndexedSeq
  }

  /** Per client: position i draws from stratum (i + 3·client) mod 6,
    * cycling through a seeded shuffle of that stratum's gates. */
  private final class Draw(client: Int, rnd: scala.util.Random) {
    private var i = 0
    private val cycles = strata.map(_ => Iterator.empty[Int]).toArray
    def next(): Int = {
      val s = (i + 3 * client) % strata.size
      i += 1
      if (!cycles(s).hasNext) cycles(s) = rnd.shuffle(strata(s)).iterator
      cycles(s).next()
    }
  }
  private val draws = new java.util.concurrent.ConcurrentHashMap[Int, Draw]()

  override def setup(spark: SparkSession, in: String, tr: Tracer): Unit = {
    tables.foreach(t => tr.span("sources.load")(Tables(spark, in, t)))
    // warm the query path once (parse, plan, codegen, scan)
    queries.head.run(spark, in).write.format("noop").mode("overwrite").save()
  }

  def op(spark: SparkSession, in: String, opDir: String, client: Int,
      rnd: scala.util.Random, tr: Tracer): OpOut = {
    val q = queries(draws.computeIfAbsent(client, _ => new Draw(client, rnd)).next())
    tr.span("queries.relational") {
      q.run(spark, in).write.format("noop").mode("overwrite").save()
    }
    OpOut(q.name)
  }

  /** Result of every query that ran, for the DuckDB oracle compare. */
  override def finish(spark: SparkSession, in: String, work: String,
      outs: Seq[OpOut]): Map[String, Any] = {
    val names = outs.map(_.name).distinct.sorted
    val byName = queries.map(q => q.name -> q).toMap
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    val rows = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    try {
      names.map { n =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val df = byName(n).run(spark, in)
            df.write.mode("overwrite").parquet(s"$work/results/$n")
            rows.put(n, spark.read.parquet(s"$work/results/$n").count())
          }
        })
      }.foreach(_.get())
    } finally pool.shutdown()
    Map("results_dir" -> s"$work/results",
      "oracle" -> names.flatMap(n => byName(n).oracle.map(n -> _)).toMap,
      "result_rows" -> names.map(n => n -> rows.get(n).longValue).toMap)
  }
}

/** The paper's nightly two-stage recommender run, cold, on staged
  * events with duplicate deliveries. */
object RecoNightly extends Workload {
  val name = "reco_nightly"
  val clients = 1
  val cold = true
  val tables: Seq[String] = Seq("events", "documents")
  /** Time split: the last 6 of 30 days are held out. */
  val splitNs: Long = 1706054400000000000L // 2024-01-24T00:00Z
  val topK = 10
  val curators: Seq[Int] = Seq(1, 2, 3, 5, 8)

  def op(spark: SparkSession, in: String, opDir: String, client: Int,
      rnd: scala.util.Random, tr: Tracer): OpOut = {
    // 1. drop duplicate deliveries, land the clean events
    val raw = tr.span("sources.load")(Tables.events(spark, in))
    tr.span("streaming.ingest") {
      val canon = EventStreams.dedupEventsBatch(raw)
        .select(col("canon_event_id").as("event_id"))
      val clean = mat(tr, raw.join(canon, Seq("event_id"), "left_semi"))
      if (tr.enabled) { tr.add("events_raw", raw.count()); tr.add("events_clean", clean.count()) }
      tr.span("sources.publish")(Snapshots.publish(clean, s"$opDir/events.parquet"))
    }
    // 2. interactions and time split
    val (train, test, trainRatings) = tr.span("reco.interactions") {
      val inter = Interactions.fromEvents(spark, opDir)
      val ratings = Interactions.ratings(spark, opDir)
      val train = inter.filter(col("ts_ns") < splitNs).cache()
      val test = mat(tr, inter.filter(col("ts_ns") >= splitNs)
        .select(col("user_id"), col("item_id")).distinct())
      val tr8 = mat(tr, ratings.filter(col("last_ts_ns") < splitNs)
        .select(col("user_id"), col("item_id"), col("rating")))
      if (tr.enabled) train.count()
      (train, test, tr8)
    }
    // 3. LR ranker fit
    val (model, auc, _) = tr.span("ml.lr_fit")(RankerPipeline.trainAndEvaluate(spark, train))
    // 4. ALS fit
    val als = tr.span("reco.als_fit") {
      AlsRecommender.train(trainRatings, rank = 8, regParam = 0.1, alpha = 10,
        maxIter = 4, seed = 42)
    }
    // 5. candidate union from the four sources
    val users = test.select(col("user_id")).distinct()
    val cands = tr.span("reco.cg") {
      val docs = tr.span("sources.load")(Tables.documents(spark, in))
      val weights = tr.span("text.tokenize") {
        mat(tr, ContentRecommender.tfidfWeights(docs, "doc_id", "text"))
      }
      val alsRecs = tr.span("reco.als_recommend")(mat(tr, als.recommendForUsers(users, topK * 2)))
      val c = mat(tr, Seq(
          alsRecs,
          new PopularityRecommender(train).recommendForUsers(users, topK),
          new CurationRecommender(train, curators).recommendForUsers(users, topK),
          new ContentUserRecommender(train, docs, "doc_id", "text",
            weights = Some(weights)).recommendForUsers(users, topK))
        .map(_.select(col("user_id"), col("item_id")))
        .reduce(_ unionByName _)
        .distinct())
      if (tr.enabled) {
        tr.add("cand_rows", c.count())
        tr.add("cand_users", c.select("user_id").distinct().count())
        tr.add("cand_hits", c.join(test, Seq("user_id", "item_id")).count())
      }
      c
    }
    // 6. feature join and LR re-rank
    val feats = tr.span("ml.features") {
      mat(tr, cands.join(RankerPipeline.userFeatures(train), Seq("user_id"))
        .join(broadcast(RankerPipeline.itemFeatures(train)), Seq("item_id")))
    }
    val scored = tr.span("ml.score") {
      val s = model.transform(feats)
        .withColumn("score", element_at(
          org.apache.spark.ml.functions.vector_to_array(col("probability")), 2))
        .select(col("user_id"), col("item_id"), col("score"))
        .cache()
      if (tr.enabled) s.count()
      s
    }
    // 7. NDCG@10 against the held-out days
    val m = tr.span("reco.eval")(RankingEvaluator.evaluate(scored, test, topK).head())
    // 8. publish the top-10 lists
    val w = Window.partitionBy(col("user_id")).orderBy(col("score").desc, col("item_id"))
    val top = scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= topK)
      .select(col("user_id"), col("item_id"), col("rn"))
    tr.span("sources.publish")(Snapshots.publish(top, s"$opDir/top10"))
    OpOut("nightly", Map("ndcg" -> m.getAs[Double]("ndcg"),
      "n_users" -> m.getAs[Long]("n_users"), "auc" -> auc))
  }

  override def afterOp(spark: SparkSession, opDir: String, out: OpOut,
      first: Boolean): OpOut = {
    val d = digest(spark.read.parquet(s"$opDir/top10"), Seq("user_id", "item_id", "rn"))
    val mb = Run.sizeMb(new java.io.File(opDir))
    spark.catalog.clearCache()
    if (!first) Run.deleteRecursively(new java.io.File(opDir))
    out.copy(info = out.info ++ Map("digest" -> d, "publish_mb" -> mb,
      "dest" -> s"$opDir/top10"))
  }
}

/** LLM-data curation over an amplified corpus: admission and language
  * gate, exact dedup, MinHash near-dup clustering, semantic dedup,
  * chunking, publish. */
object CorpusCuration extends Workload {
  val name = "corpus_curation"
  val clients = 1
  val cold = true
  val tables: Seq[String] = Seq("documents", "embeddings")
  /** Semantic dedup threshold: the cosine near-duplicates live at
    * (Similarity.NearDupDesignCosMilli). At q105's 0.4, chance pairs of
    * random 64-d vectors pass too and chain into components whose
    * largest one, and with it the number of label-propagation rounds,
    * changes from seed to seed. */
  val SemanticCos = 0.9

  def op(spark: SparkSession, in: String, opDir: String, client: Int,
      rnd: scala.util.Random, tr: Tracer): OpOut = {
    val docs = tr.span("sources.load")(Tables.documents(spark, in))
    // 1. admission + language gate
    val en = tr.span("llmops.admit") {
      val admitted = docs.filter(col("text").isNotNull && length(trim(col("text"))) >= 20)
      val e = mat(tr, TextAnalysis.langFilterBulk(Adaptive.spread(admitted), "text", "en"))
      if (tr.enabled) { tr.add("docs_in", docs.count()); tr.add("docs_en", e.count()) }
      e
    }
    // 2. exact dedup, lineage cut
    val exact = tr.span("llmops.exact_dedup") {
      val canon = en.withColumn("__canon", min(col("doc_id")).over(
          Window.partitionBy(md5(col("text")))))
        .filter(col("doc_id") === col("__canon"))
        .select(col("doc_id"), col("text"))
      tr.span("ops.checkpoint")(Checkpoints.cut(canon))
    }
    // 3. MinHash candidate pairs
    val pairs = tr.span("llmops.minhash") {
      val p = mat(tr, Dedup.minhashCandidatesPortable(exact, "doc_id", "text",
        shingleK = 2, numHashes = 32, bands = 8, threshold = 0.3))
      if (tr.enabled) tr.add("minhash_pairs", p.count())
      p
    }
    if (tr.enabled) tr.span("diag") {
      val sig = Dedup.portableSignatures(exact, "doc_id", "text", 2, 32)
      val band = Dedup.portableBandRows(sig, 8, 4)
      tr.add("minhash_candidates", band.select(col("band"), col("band_key"), col("id").as("id_a"))
        .join(band.select(col("band"), col("band_key"), col("id").as("id_b")),
          Seq("band", "band_key"))
        .filter(col("id_a") < col("id_b")).select("id_a", "id_b").distinct().count())
    }
    // 4. connected components over the near-dup graph
    val labels = tr.span("ops.cc")(mat(tr, ConnectedComponents.hashMin(pairs, "id_a", "id_b")))
    val survivors = exact
      .select(col("doc_id").cast("long").as("doc_id"), col("text"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .filter(col("comp").isNull || col("comp") === col("doc_id"))
      .select(col("doc_id"), col("text"))
    // 5. semantic dedup over the surviving documents' embeddings
    val emb = tr.span("sources.load")(Tables.embeddings(spark, in))
    val keep = tr.span("llmops.semantic_dedup") {
      val vecs = mat(tr, emb.join(survivors.select(col("doc_id").as("vec_id")),
        Seq("vec_id"), "left_semi"))
      val planes = Similarity.autoPlanes(vecs, Similarity.NearDupOccupancy)
      val s = mat(tr, Similarity.semanticDedup(vecs, threshold = SemanticCos, nPlanes = planes, dim = 64))
      if (tr.enabled) {
        tr.add("vectors", vecs.count())
        tr.span("diag")(tr.add("lsh_candidates", BenchAccess.lshCandidatePairs(vecs, planes, 64)))
      }
      s.filter(col("keep")).select(col("vec_id").as("doc_id"))
    }
    // 6. chunking of the curated documents
    val chunks = tr.span("llmops.chunk") {
      mat(tr, TextAnalysis.chunkDocs(survivors.join(keep, Seq("doc_id"), "left_semi"),
        "doc_id", "text", chunkChars = 200, overlapChars = 50))
    }
    // 7. publish
    val dest = s"$opDir/curated"
    tr.span("sources.publish")(Snapshots.publish(chunks, dest))
    OpOut("curate")
  }

  override def afterOp(spark: SparkSession, opDir: String, out: OpOut,
      first: Boolean): OpOut = {
    val dest = s"$opDir/curated"
    val d = digest(spark.read.parquet(dest), Seq("doc_id", "chunk_idx", "chunk_text"))
    val mb = Run.sizeMb(new java.io.File(dest))
    spark.catalog.clearCache()
    if (!first) Run.deleteRecursively(new java.io.File(opDir))
    out.copy(info = out.info ++ Map("digest" -> d, "publish_mb" -> mb, "dest" -> dest,
      "semantic_cos" -> SemanticCos))
  }
}
