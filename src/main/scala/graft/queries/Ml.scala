package graft.queries

import graft.QueryDef
import graft.ml.RankerPipeline
import graft.reco.{ContentRecommender, ContentUserRecommender, Interactions}
import graft.sources.Tables
import graft.text.{Porter2Stemmer, Tokenize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** ML/text pipeline operator coverage (SURVEY.md §2.10). */
object Ml {

  /** TF-IDF weights fitted once per (session, `key`) — q41/q61/q86
    * over the sf corpus, q90's content leg over the repo fixture. The
    * weights are a FITTED MODEL (the corpus' df/idf statistics), so
    * they sit in [[graft.ml.ModelMemo]] beside the ALS/LR/W2V fits,
    * materialized by an eager checkpoint into RDD blocks that a
    * per-gate clearCache() does not evict (r17: `.cache()` blocks
    * were evicted, so every consumer gate silently re-ran the whole
    * tokenize → tf → df → norms chain). */
  def memoTfidfWeights(spark: SparkSession, key: String, docs: => DataFrame,
      idCol: String): DataFrame =
    graft.ml.ModelMemo.cached(spark, key) {
      ContentRecommender.tfidfWeights(docs, idCol, "text")
        .transform(graft.ops.Checkpoints.cut(_))
    }

  def docTfidfWeights(spark: SparkSession, dir: String): DataFrame =
    memoTfidfWeights(spark, s"tfidf-docs:$dir", Tables.documents(spark, dir), "doc_id")

  /** TF-IDF similar-docs via prefix-filtered inverted-index join (the
    * ES More-Like-This replacement, SURVEY.md §7.3). */
  def tfidfSimilarDocs(spark: SparkSession, dir: String): DataFrame =
    ContentRecommender.similarDocsPrefix(Tables.documents(spark, dir),
        "doc_id", "text", k = 5, weights = Some(docTfidfWeights(spark, dir)))
      .select(col("id_a"), col("id_b"), col("score"),
        col("rn").cast("long").as("rn"))
      .orderBy(col("id_a"), col("rn"))

  /** Golden-vector oracle for the stemmer (VERDICT r3/r4 "What's
    * missing" #2): stems the embedded [[graft.text.PorterGolden]]
    * word list — exception lists and worked examples from the
    * PUBLISHED Porter2 spec — while the DuckDB oracle replays the
    * expected stems as a plain VALUES relation (no fts extension).
    * Any stemmer drift now fails the driver's hash compare, making
    * the Porter2 port externally oracled. Its corpus-scale rows-only
    * twin (q42) was retired in r8. */
  def porterGoldenStems(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stemUdf = udf((w: String) => Porter2Stemmer.stem(w))
    graft.text.PorterGolden.vectors.map(_._1).toDF("word")
      .select(col("word"), stemUdf(col("word")).as("stem"))
      .orderBy(col("word"))
  }

  /** Golden-vector oracle for the frequency-weighted CJK lattice
    * segmenter (q174, r14): segments the embedded
    * [[graft.text.CjkGolden]] ambiguity phrases through the PRODUCTION
    * column form ([[graft.text.CjkSegmenter.cjkAwareFreq]]) while the
    * DuckDB oracle replays the hand-derived correct readings as a
    * VALUES relation — the q42b pattern. Uniform costs get every
    * discriminating case here wrong (see CjkGolden's scaladoc), so
    * this hash-pins the log-frequency half of the HanLP contract
    * (SURVEY §2 row 78), not just the DP.
    *
    * Since r16 (VERDICT r15 #4) the gate runs the COUNTED-table
    * production path — frequencies counted from a segmented corpus
    * fixture through the wordCosts seam
    * ([[graft.text.CjkSegmenter.countedFrequencies]]), not the
    * hand-curated bands — so a broken counting job, scaling
    * convention, or corpus fixture now fails the hash against the
    * unchanged hand-derived readings. */
  def cjkGoldenSegments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    graft.text.CjkGolden.vectors.zipWithIndex
      .map { case ((p, _), i) => (i + 1L, p) }
      .toDF("phrase_id", "phrase")
      .select(col("phrase_id"), col("phrase"),
        array_join(
          graft.text.CjkSegmenter.cjkAwareFreqCounted(spark)(col("phrase")),
          "/").as("segmented"))
      .orderBy(col("phrase_id"))
  }

  /** Frozen top-10 neighbor sets per fixture corpus (r6 capture,
    * seeded fits) — the q90-style band input for q43: a silently
    * broken W2V fit previously just changed rows the driver can't
    * judge (VERDICT r5 list #7). Corpus-specific because the synonym
    * structure is: sf0.01 and sf0.1 share only 3 of 10 neighbors. */
  private val w2vDocExpected: Map[String, Set[String]] = Map(
    "sf0.01" -> Set("line", "batch", "data", "table", "join",
      "big", "stream", "the", "agg", "key"),
    "sf0.1" -> Set("column", "line", "query", "data", "scan",
      "part", "batch", "slow", "spark", "group"))

  /** Attach the synonym sanity band: on a known fixture corpus,
    * `n_expected_overlap` = |top-10 ∩ frozen list| and `within_band` =
    * overlap ≥ 6 (tolerant of minor platform drift, far above the
    * ~0-2 a broken fit lands at); on an unknown corpus, overlap = -1
    * and the band degrades to a collapse detector (similarities in
    * (0, 1]). The collect is 10 rows — bounded driver math, same
    * policy as Materialize.localThenUnpersist. */
  private def withSynonymBand(syn: DataFrame,
      expected: Option[Set[String]]): DataFrame = {
    val sp = syn.sparkSession
    import sp.implicits._
    val rows = syn.select(col("word"), col("similarity"))
      .as[(String, Double)].collect()
    val (overlap, within) = expected match {
      case Some(exp) =>
        val o = rows.map(_._1).count(exp.contains)
        (o.toLong, o >= 6)
      case None =>
        (-1L, rows.nonEmpty && rows.forall(r => r._2 > 0.0 && r._2 <= 1.0))
    }
    syn.withColumn("n_expected_overlap", lit(overlap))
      .withColumn("within_band", lit(within))
  }

  /** Seeded Word2Vec fit over the tokenized documents corpus — shared
    * by q43 (production findSynonyms path) and q43b (vector-dump
    * replay oracle); memoized so the two gates cost one fit. */
  private def docW2vModel(spark: SparkSession,
      dir: String): org.apache.spark.ml.feature.Word2VecModel = {
    import org.apache.spark.ml.feature.Word2Vec
    val corpus = Tables.documents(spark, dir)
      .select(Tokenize.cjkAware(col("text")).as("words"))
    val w2v = new Word2Vec()
      .setInputCol("words").setOutputCol("vec")
      .setVectorSize(32).setMinCount(5).setMaxIter(4).setSeed(42)
      .setWindowSize(5)
    graft.ml.ModelMemo.cached(spark, s"w2v-docs:$dir")(w2v.fit(corpus))
  }

  /** Word2Vec over tokenized docs; nearest neighbors of a probe word in
    * the embedding space (seeded; rows-only with a frozen-neighbor
    * sanity band). */
  def word2vecSynonyms(spark: SparkSession, dir: String): DataFrame = {
    val model = docW2vModel(spark, dir)
    withSynonymBand(
      model.findSynonyms("merge", 10)
        .select(col("word"), round(col("similarity"), 6).as("similarity")),
      w2vDocExpected.get(new java.io.File(dir).getName))
      .orderBy(col("similarity").desc, col("word"))
  }

  /** On-disk home of the q43b/q63b vector dumps (the q25b convention:
    * the oracle SQL references these exact files via read_parquet, so
    * both engines replay from one copy of the bytes).
    *
    * ONE-DIR-PER-SESSION assumption (ADVICE r9): the oracle SQL is a
    * static string, so the dump path cannot be keyed by the fixture
    * dir — running two different sf dirs through the same gate in one
    * session would overwrite the dump between the Spark run and its
    * oracle replay. The driver's Verify protocol runs exactly one sf
    * dir per JVM, which is the contract all dump-and-replay gates
    * (here, lrCvDumpDir, Reco.alsCvReplay, q25b) rely on. */
  private val w2vDumpDir =
    graft.fixtures.AlbedoFixtures.persistDir + "/w2v_vectors"

  /** Vector-dump replay for the Word2Vec neighbor math (VERDICT r8
    * "Next round" #1 — the q25b trick applied to the last flagship
    * rows-only family): the fitted embedding matrix is *data*. Dump
    * `getVectors` to parquet, read it BACK, and have both engines
    * recompute the probe word's top-10 cosine neighbors from the same
    * bytes — seeded-fit float non-portability is sidestepped because
    * nothing about the fit needs to be reproduced, only the neighbor
    * MATH (dot, norm, ranking, tie-break), which is exactly what
    * findSynonyms computes (reference surface:
    * Word2VecCorpusBuilder.scala:74-83).
    *
    * Determinism: components quantize to floor(x·10⁶) (exact double
    * ops); dots and norms are then pure integer sums (<2⁵³, order-
    * independent). cos = dot / √(n_cand · n_probe) runs in IEEE
    * doubles from identical integer inputs with the identical op
    * order in both engines — correctly-rounded mul/sqrt/div, so the
    * bits match and floor(cos·10⁶) compares hash-exact. Candidates
    * with a zero quantized norm are excluded on both sides (cosine
    * undefined). Ties break by word. */
  private def w2vVectorReplay(spark: SparkSession,
      model: org.apache.spark.ml.feature.Word2VecModel,
      probe: String, sub: String): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    import org.apache.spark.sql.expressions.Window
    graft.sources.Snapshots.publish(
      model.getVectors
        .select(col("word"), vector_to_array(col("vector")).as("vec"))
        .coalesce(1),
      s"$w2vDumpDir/$sub.parquet")
    val q = spark.read.parquet(s"$w2vDumpDir/$sub.parquet")
      .select(col("word"),
        transform(col("vec"), x => floor(x * lit(1e6)).cast("long")).as("q"))
      .withColumn("nrm",
        aggregate(col("q"), lit(0L), (a, x) => a + x * x))
    val probeRow = q.filter(col("word") === probe)
      .select(col("q").as("pq"), col("nrm").as("pnrm"))
    q.filter(col("word") =!= probe && col("nrm") > 0L)
      .crossJoin(broadcast(probeRow))
      .withColumn("dot", aggregate(
        zip_with(col("q"), col("pq"), (a, b) => a * b),
        lit(0L), (acc, x) => acc + x))
      .withColumn("cos_q",
        floor(col("dot").cast("double") /
          sqrt(col("nrm").cast("double") * col("pnrm").cast("double")) *
          lit(1e6)).cast("long"))
      .withColumn("rn", row_number().over(
        Window.orderBy(col("cos_q").desc, col("word"))).cast("long"))
      .filter(col("rn") <= 10)
      .select(col("word"), col("cos_q"), col("rn"))
      .orderBy(col("rn"))
  }

  private def w2vReplayOracle(sub: String, probe: String): String =
    s"""WITH v AS (SELECT word, unnest(vec) AS x,
       |        unnest(range(len(vec))) AS d
       |      FROM read_parquet('$w2vDumpDir/$sub.parquet/*.parquet')),
       |q AS (SELECT word, d, floor(x * 1e6)::BIGINT AS xq FROM v),
       |n AS (SELECT word, CAST(sum(xq * xq) AS BIGINT) AS nrm
       |      FROM q GROUP BY 1),
       |p AS (SELECT d, xq FROM q WHERE word = '$probe'),
       |pn AS (SELECT nrm AS pnrm FROM n WHERE word = '$probe'),
       |dots AS (SELECT q.word, CAST(sum(q.xq * p.xq) AS BIGINT) AS dot
       |         FROM q JOIN p USING (d) WHERE q.word <> '$probe'
       |         GROUP BY 1),
       |cosq AS (SELECT d.word,
       |           CAST(floor(CAST(d.dot AS DOUBLE)
       |             / sqrt(CAST(n.nrm AS DOUBLE) * CAST(pn.pnrm AS DOUBLE))
       |             * 1e6) AS BIGINT) AS cos_q
       |         FROM dots d JOIN n USING (word) CROSS JOIN pn
       |         WHERE n.nrm > 0),
       |r AS (SELECT word, cos_q,
       |        row_number() OVER (ORDER BY cos_q DESC, word) AS rn
       |      FROM cosq)
       |SELECT word, cos_q, rn FROM r WHERE rn <= 10 ORDER BY rn""".stripMargin

  /** q43b: hash-exact replay twin of q43's neighbor computation. */
  def word2vecVectorReplay(spark: SparkSession, dir: String): DataFrame =
    w2vVectorReplay(spark, docW2vModel(spark, dir), "merge", "docs")

  /** q63b: hash-exact replay twin of q63's neighbor computation. */
  def word2vecCorpusVectorReplay(spark: SparkSession, dir: String): DataFrame =
    w2vVectorReplay(spark, corpusW2vModel(spark), "scala", "corpus")

  /** On-disk home of the q47b grid dump (see Reco.alsCvReplay — the
    * same dump-and-replay convention, LR side). */
  private val lrCvDumpDir =
    graft.fixtures.AlbedoFixtures.persistDir + "/cv_grids"

  /** q47b: grid-replay oracle for the weighted-LR CV family (VERDICT
    * r8 "Next round" #2): dump the raw (params, fold-averaged AUC)
    * table this run produced, then BOTH engines replay quantization,
    * ranking (metric desc, then params) and winner selection from the
    * same parquet bytes. q47 stays the production-path vehicle with
    * its collapse band. Reference:
    * LogisticRegressionRankerCV.scala:326-350.
    *
    * Quantization is the production gate's run-stable granularity
    * (milli-AUC, half-up — floor(x·10³+0.5) is bit-identical in both
    * engines), NOT 10⁶: CV AUC drifts ~5e-6 between JVM runs and the
    * r9 determinism double-run showed the two weight schemes' true
    * AUCs differ by LESS than that noise — at micro-AUC the dumped
    * ranking itself flips run to run. At milli-AUC the near-tied
    * cells tie and the params tie-break keeps the replay
    * byte-deterministic while still verifying the ranking and winner
    * logic externally. */
  def lrCvReplay(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.sources.Snapshots.publish(
      RankerPipeline.crossValidateRaw(spark,
          Interactions.fromEvents(spark, dir), memoKey = Some(dir))
        .coalesce(1),
      s"$lrCvDumpDir/lr.parquet")
    val w = Window.orderBy(col("metric_q").desc, col("reg_param"),
      col("weight_col"))
    spark.read.parquet(s"$lrCvDumpDir/lr.parquet")
      .withColumn("metric_q",
        floor(col("avg_metric") * lit(1e3) + lit(0.5)).cast("long"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("is_winner", col("rn") === 1L)
      .select(col("reg_param"), col("weight_col"),
        col("max_iter").cast("long").as("max_iter"), col("metric_q"),
        col("rn"), col("is_winner"))
      .orderBy(col("rn"))
  }

  private def lrCvReplayOracle: String =
    s"""WITH g AS (SELECT reg_param, weight_col,
       |             CAST(max_iter AS BIGINT) AS max_iter,
       |             CAST(floor(avg_metric * 1e3 + 0.5) AS BIGINT) AS metric_q
       |           FROM read_parquet('$lrCvDumpDir/lr.parquet/*.parquet')),
       |r AS (SELECT reg_param, weight_col, max_iter, metric_q,
       |        row_number() OVER (ORDER BY metric_q DESC, reg_param,
       |                           weight_col) AS rn
       |      FROM g)
       |SELECT reg_param, weight_col, max_iter, metric_q, rn,
       |       rn = 1 AS is_winner
       |FROM r ORDER BY rn""".stripMargin

  /** Two-stage LR ranking pipeline end-to-end metrics (rows-only). */
  def lrRankerMetrics(spark: SparkSession, dir: String): DataFrame =
    RankerPipeline.endToEnd(spark,
      Interactions.fromEvents(spark, dir),
      splitNs = 1706054400000000000L, // 2024-01-24 UTC
      memoKey = Some(dir)) // reuse the seeded fits across invocations

  /** Seeded Word2Vec fit over the albedo user∪repo profile corpus —
    * shared by q63 and q63b (one fit via the memo). */
  private def corpusW2vModel(
      spark: SparkSession): org.apache.spark.ml.feature.Word2VecModel = {
    import org.apache.spark.ml.feature.Word2Vec
    val users = graft.fixtures.AlbedoFixtures.usersP(spark)
      .withColumn("text", concat_ws(", ", col("user_login"), col("user_bio"),
        col("user_company"), col("user_location")))
      .select("text")
    val repos = graft.fixtures.AlbedoFixtures.reposP(spark)
      .withColumn("text", concat_ws(", ", col("repo_name"), col("repo_language"),
        col("repo_description"), col("repo_topics")))
      .select("text")
    val corpus = users.union(repos)
      .select(Tokenize.removeStopwords(Tokenize.cjkAware(col("text")),
        Tokenize.englishStopwords).as("words"))
    graft.ml.ModelMemo.cached(spark, "w2v-albedo-corpus") {
      new Word2Vec()
        .setInputCol("words").setOutputCol("vec")
        .setVectorSize(16).setMinCount(3).setMaxIter(3).setSeed(42)
        .setWindowSize(5)
        .fit(corpus)
    }
  }

  /** Word2Vec corpus construction mirroring the reference's union of
    * user-text ∪ repo-text (Word2VecCorpusBuilder.scala:48-56):
    * concat_ws over profile fields per side (null-skipping, like the
    * reference), union, cjk-aware tokenize, stopword removal, seeded
    * fit; synonyms of a probe token. Rows-only (ML). */
  def word2vecCorpusSynonyms(spark: SparkSession, dir: String): DataFrame = {
    val model = corpusW2vModel(spark)
    // fixture corpus is dir-independent → one frozen list (r6 capture)
    withSynonymBand(
      model.findSynonyms("scala", 10)
        .select(col("word"), round(col("similarity"), 6).as("similarity")),
      Some(Set("go", "my", "blog", "rust", "tools",
        "about", "python", "ruby", "legacy", "data")))
      .orderBy(col("similarity").desc, col("word"))
  }

  /** Content user→item recommendations: each user's 3 most recent items
    * queried through the TF-IDF prefix index (q41 math), summed per
    * candidate, seen items excluded, top-5 (oracled — the whole path is
    * SQL). */
  def contentRecommend(spark: SparkSession, dir: String): DataFrame = {
    val inter = Interactions.fromEvents(spark, dir)
    val users = inter.select(col("user_id")).distinct()
      .filter(col("user_id") < 10)
    new ContentUserRecommender(inter, Tables.documents(spark, dir),
        "doc_id", "text", weights = Some(docTfidfWeights(spark, dir)))
      .recommendForUsers(users, 5)
      .select(col("user_id").cast("long").as("user_id"), col("item_id"),
        col("score"), col("source"), col("rn").cast("long").as("rn"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** Full-width albedo ranker: the deterministic engineered-feature
    * frame (labels, weights, cross features, profile features) —
    * oracled against DuckDB over the persisted fixtures. */
  def albedoRankerFeatures(spark: SparkSession, dir: String): DataFrame =
    graft.ml.AlbedoRanker.deterministicFeatureFrame(spark)

  /** Full-width albedo ranker end-to-end (26 pipeline stages: cross
    * features, 7×(StringIndexer+OHE) incl. id-level, 2×CountVectorizer,
    * tokenize→stopwords→Word2Vec, assembler, weighted LR). Rows-only:
    * fitted-stage outputs are not SQL-expressible. */
  def albedoRankerMetrics(spark: SparkSession, dir: String): DataFrame =
    graft.ml.AlbedoRanker.trainAndEvaluate(spark)

  private val stopList =
    Tokenize.englishStopwords.map("'" + _ + "'").mkString(",")

  /** The TF-IDF weights of [[docTfidfWeights]] replayed in SQL: `wn`
    * (doc_id, term, wt), each document's L2-normalized smoothed-idf
    * weights — shared by q86, q41 and q61. */
  private val tfidfCtes: String =
    s"""toks AS (
       |  SELECT doc_id, unnest(list_filter(
       |    regexp_extract_all(lower(text), '([a-z0-9]+(?:\\+\\+|#)?)', 1),
       |    w -> (len(w) > 1 OR w IN ('c','r')) AND NOT list_contains([$stopList], w)
       |  )) AS term
       |  FROM documents),
       |n AS (SELECT count(*) AS n FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |fdf AS (SELECT term, df FROM df, n WHERE df <= CAST(floor(n.n * 0.8) AS BIGINT)),
       |w AS (SELECT tf.doc_id, tf.term,
       |        tf.tf * (ln((n.n + 1.0) / (fdf.df + 1.0)) + 1.0) AS w_raw
       |      FROM tf JOIN fdf USING (term) CROSS JOIN n),
       |norms AS (SELECT doc_id, sqrt(sum(w_raw * w_raw)) AS norm
       |          FROM w GROUP BY 1),
       |wn AS (SELECT w.doc_id, w.term, w.w_raw / norms.norm AS wt
       |       FROM w JOIN norms USING (doc_id))""".stripMargin

  /** Each document's 4 heaviest [[tfidfCtes]] terms, `prefix` (doc_id,
    * term, wt) — the similarity join's input in q41 and q61. */
  private val tfidfPrefixCte: String =
    """prefix AS (SELECT doc_id, term, wt FROM (
      |    SELECT doc_id, term, wt,
      |      row_number() OVER (PARTITION BY doc_id
      |                         ORDER BY wt DESC, term) AS pr
      |    FROM wn) WHERE pr <= 4)""".stripMargin

  /** L2-normalized TF-IDF document vectors, top-5 terms per doc — the
    * vectorization surface itself (q41 gates the similarity JOIN built
    * on these weights; this gates the weights). Rank on the rounded
    * weight, term tiebreak, as q61 does for cross-engine stability. */
  def tfidfVectors(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    docTfidfWeights(spark, dir)
      .withColumn("w6", round(col("w"), 6))
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("w6").desc, col("term"))))
      .filter(col("pr") <= 5)
      .select(col("id").as("doc_id"), col("term"), col("w6").as("w"),
        col("pr").cast("long").as("pr"))
      .orderBy(col("doc_id"), col("pr"))
  }

  private def tfidfVectorsOracle: String =
    s"""WITH $tfidfCtes,
       |r AS (SELECT doc_id, term, w6,
       |        row_number() OVER (PARTITION BY doc_id
       |                           ORDER BY w6 DESC, term) AS pr
       |      FROM (SELECT doc_id, term, round(wt, 6) AS w6 FROM wn))
       |SELECT doc_id, term, w6 AS w, pr FROM r WHERE pr <= 5
       |ORDER BY doc_id, pr""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q86_tfidf_vectors", tfidfVectors, Some(tfidfVectorsOracle)),
    QueryDef("q41_tfidf_similar_docs", tfidfSimilarDocs, Some(
      s"""WITH $tfidfCtes,
         |$tfidfPrefixCte,
         |sims AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |           sum(a.wt * b.wt) AS score
         |         FROM prefix a JOIN prefix b
         |           ON a.term = b.term AND a.doc_id != b.doc_id
         |         GROUP BY 1, 2),
         |r6 AS (SELECT id_a, id_b, round(score, 6) AS score FROM sims),
         |r AS (SELECT id_a, id_b, score,
         |        row_number() OVER (PARTITION BY id_a
         |                           ORDER BY score DESC, id_b) AS rn
         |      FROM r6)
         |SELECT id_a, id_b, score, rn FROM r WHERE rn <= 5
         |ORDER BY id_a, rn""".stripMargin)),
    QueryDef("q42b_porter_golden", porterGoldenStems,
      Some(graft.text.PorterGolden.oracleValuesSql)),
    QueryDef("q174_cjk_freq_golden", cjkGoldenSegments,
      Some(graft.text.CjkGolden.oracleValuesSql)),
    QueryDef("q59_albedo_ranker_features", albedoRankerFeatures, Some {
      val fx = graft.fixtures.AlbedoFixtures.persistDir
      s"""WITH u0 AS (
         |  SELECT *,
         |    (user_company IS NULL OR user_location IS NULL OR user_email IS NULL
         |     OR user_bio IS NULL) AS user_has_null,
         |    coalesce(user_company, '') AS c_company,
         |    coalesce(user_location, '') AS c_location,
         |    coalesce(user_bio, '') AS c_bio
         |  FROM read_parquet('$fx/users.parquet/*.parquet')),
         |cleaned AS (
         |  SELECT *, CASE WHEN s1 = '' THEN '__empty' ELSE s1 END AS clean_company,
         |    CASE WHEN s2 = '' THEN '__empty' ELSE s2 END AS clean_location
         |  FROM (
         |    SELECT *,
         |      regexp_replace(trim(regexp_replace(
         |        regexp_replace(
         |          regexp_replace(lower(c_company), '^(formerly|previously|ex-)\\s*', '', 'g'),
         |          '(\\.com|\\.net|\\.org|\\.io|,?\\s+(inc|llc|ltd|co|corp|corporation|company)\\.?)\\b', '', 'g'),
         |        '[^\\w\\x{4e00}-\\x{9fff}\\s]', ' ', 'g')), '\\s+', ' ', 'g') AS s1,
         |      regexp_replace(trim(regexp_replace(
         |        trim(regexp_replace(string_split(lower(c_location), ',')[1],
         |          '[^\\w\\x{4e00}-\\x{9fff}\\s]', ' ', 'g')),
         |        '\\bcity$$', '', 'g')), '\\s+', ' ', 'g') AS s2
         |    FROM u0)),
         |flagged AS (
         |  SELECT *,
         |    CASE WHEN contains(lower(c_bio), 'machine learning') OR contains(lower(c_bio), 'data scien') THEN 1.0 ELSE 0.0 END AS has_ml,
         |    CASE WHEN contains(lower(c_bio), 'fullstack') OR contains(lower(c_bio), 'full-stack') THEN 1.0 ELSE 0.0 END AS has_fullstack,
         |    CASE WHEN contains(lower(c_bio), 'backend') OR contains(lower(c_bio), 'devops') THEN 1.0 ELSE 0.0 END AS has_backend,
         |    CASE WHEN contains(lower(c_bio), 'phd') THEN 1.0 ELSE 0.0 END AS has_phd,
         |    round(user_followers_count / (user_following_count + 1.0), 3) AS follower_following_ratio,
         |    date_diff('day', CAST(user_updated_at AS DATE), DATE '2017-09-01') AS days_since_updated,
         |    date_diff('day', CAST(user_created_at AS DATE), DATE '2017-09-01') AS days_since_created
         |  FROM cleaned),
         |st AS (SELECT user_id, repo_id, starred_at
         |       FROM read_parquet('$fx/starrings.parquet/*.parquet')),
         |rl AS (
         |  SELECT user_id, list(repo_language ORDER BY rn) AS rl_list,
         |    string_agg(repo_language, ',' ORDER BY rn) AS recent_languages,
         |    count(*) AS n_recent
         |  FROM (
         |    SELECT s.user_id, r.repo_language,
         |      row_number() OVER (PARTITION BY s.user_id ORDER BY s.starred_at DESC, s.repo_id) AS rn
         |    FROM st s
         |    JOIN read_parquet('$fx/repos.parquet/*.parquet') r USING (repo_id))
         |  WHERE rn <= 50 GROUP BY 1),
         |cc AS (SELECT clean_company, count(*) AS company_cnt FROM flagged GROUP BY 1),
         |uprof AS (
         |  SELECT f.user_id, f.user_account_type, f.user_has_null,
         |    CASE WHEN cc.company_cnt <= 5 THEN '__other' ELSE f.clean_company END AS company_binned,
         |    f.clean_location, f.follower_following_ratio,
         |    f.days_since_updated, f.days_since_created,
         |    f.has_ml, f.has_fullstack, f.has_backend, f.has_phd,
         |    coalesce(rl.rl_list, []) AS rl_list,
         |    coalesce(rl.recent_languages, '') AS recent_languages,
         |    coalesce(rl.n_recent, 0) AS n_recent
         |  FROM flagged f JOIN cc USING (clean_company)
         |  LEFT JOIN rl USING (user_id)),
         |rbase AS (
         |  SELECT *,
         |    repo_description != '' AS repo_has_description,
         |    (lower(repo_description) LIKE '%unmaintained%'
         |     OR lower(repo_description) LIKE '%deprecated%') AS repo_is_unmaintained,
         |    date_diff('day', CAST(repo_updated_at AS DATE), DATE '2017-09-01') AS repo_days_since_updated,
         |    date_diff('day', CAST(repo_updated_at AS DATE), DATE '2017-09-01') <= 60 AS repo_recently_pushed,
         |    CASE WHEN repo_stargazers_count < 1000 THEN 'small'
         |         WHEN repo_stargazers_count < 90000 THEN 'medium'
         |         ELSE 'large' END AS stars_band,
         |    repo_topics AS topics_list,
         |    round(log10(repo_stargazers_count + 1) * 1000) / 1000 AS log_stars
         |  FROM read_parquet('$fx/repos.parquet/*.parquet')),
         |lc AS (SELECT repo_language, count(*) AS lang_cnt FROM rbase GROUP BY 1),
         |rprof AS (
         |  SELECT rbase.*, CASE WHEN lc.lang_cnt <= 30 THEN '__other' ELSE rbase.repo_language END AS language_binned
         |  FROM rbase JOIN lc USING (repo_language)),
         |ui AS (SELECT DISTINCT user_id, repo_id FROM st),
         |pop AS (SELECT repo_id, count(*) AS cnt FROM st GROUP BY 1),
         |popranked AS (SELECT repo_id, row_number() OVER (ORDER BY cnt DESC, repo_id) AS pr FROM pop),
         |npos AS (SELECT user_id, count(DISTINCT repo_id) AS n_pos FROM st GROUP BY 1),
         |unseen AS (
         |  SELECT n.user_id, p.repo_id, p.pr FROM npos n CROSS JOIN popranked p
         |  WHERE p.pr <= 1000 AND NOT EXISTS (SELECT 1 FROM ui
         |    WHERE ui.user_id = n.user_id AND ui.repo_id = p.repo_id)),
         |sel AS (SELECT user_id, repo_id,
         |    row_number() OVER (PARTITION BY user_id ORDER BY pr) AS rn FROM unseen),
         |labeled AS (
         |  SELECT user_id, repo_id, 1.0::DOUBLE AS label FROM ui
         |  UNION ALL
         |  SELECT s.user_id, s.repo_id, 0.0::DOUBLE FROM sel s
         |  JOIN npos n USING (user_id) WHERE s.rn <= n.n_pos),
         |pair_last AS (SELECT user_id, repo_id, max(starred_at) AS pair_starred_at
         |              FROM st GROUP BY 1, 2)
         |SELECT l.user_id, l.repo_id, l.label,
         |  CASE WHEN l.label > 0.5
         |        AND date_diff('day', CAST(pl.pair_starred_at AS DATE), DATE '2017-09-01') <= 365
         |       THEN 0.9 ELSE 0.1 END AS instance_weight,
         |  CASE WHEN coalesce(list_position(u.rl_list, r.repo_language), 0) > 0
         |       THEN CAST(list_position(u.rl_list, r.repo_language) - 1 AS BIGINT)
         |       ELSE CAST(len(u.rl_list) + 50 AS BIGINT) END AS lang_index_in_recent,
         |  CAST(len(list_filter(u.rl_list, x -> x = r.repo_language)) AS BIGINT) AS lang_count_in_recent,
         |  u.follower_following_ratio, u.days_since_updated, u.days_since_created,
         |  u.n_recent,
         |  r.repo_stargazers_count, r.repo_forks_count, r.repo_days_since_updated,
         |  r.log_stars,
         |  u.user_has_null, u.has_ml, u.has_fullstack, u.has_backend, u.has_phd,
         |  r.repo_has_description, r.repo_is_unmaintained, r.repo_recently_pushed,
         |  u.user_account_type, u.company_binned, u.clean_location,
         |  r.language_binned, r.stars_band,
         |  u.recent_languages, r.topics_list
         |FROM labeled l
         |LEFT JOIN pair_last pl USING (user_id, repo_id)
         |JOIN uprof u USING (user_id)
         |JOIN rprof r USING (repo_id)
         |ORDER BY l.user_id, l.repo_id""".stripMargin
    }),
    QueryDef("q60_albedo_ranker_metrics", albedoRankerMetrics, None),
    QueryDef("q60b_ranker_metric_replay",
      (s: SparkSession, _: String) => graft.ml.AlbedoRanker.metricReplay(s),
      Some(graft.ml.AlbedoRanker.metricReplayOracle)),
    QueryDef("q44b_lr_margin_replay",
      (s: SparkSession, _: String) => graft.ml.AlbedoRanker.marginReplay(s),
      Some(graft.ml.AlbedoRanker.marginReplayOracle)),
    QueryDef("q173_fm_score_replay",
      (s: SparkSession, _: String) => graft.ml.FmRanker.scoreReplay(s),
      Some(graft.ml.FmRanker.scoreReplayOracle)),
    QueryDef("q61_content_recommend", contentRecommend, Some(
      s"""WITH $tfidfCtes,
         |$tfidfPrefixCte,
         |raw AS (SELECT user_id, CAST(props->>'k' AS INT) AS item_id,
         |          epoch_ns(ts) AS ts_ns FROM events),
         |lastper AS (SELECT user_id, item_id, max(ts_ns) AS last_ns
         |            FROM raw WHERE user_id < 10 GROUP BY 1, 2),
         |recent AS (SELECT user_id, item_id FROM (
         |    SELECT user_id, item_id, row_number() OVER (PARTITION BY user_id
         |      ORDER BY last_ns DESC, item_id) AS rn FROM lastper) WHERE rn <= 3),
         |sims AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, sum(a.wt * b.wt) AS score
         |         FROM prefix a JOIN prefix b
         |           ON a.term = b.term AND a.doc_id != b.doc_id
         |         WHERE a.doc_id IN (SELECT item_id FROM recent)
         |         GROUP BY 1, 2),
         |seen AS (SELECT DISTINCT user_id, item_id FROM raw WHERE user_id < 10),
         |scored AS (SELECT r.user_id, s.id_b AS item_id,
         |             round(sum(s.score), 6) AS score
         |           FROM recent r JOIN sims s ON r.item_id = s.id_a
         |           GROUP BY 1, 2),
         |unseen AS (SELECT sc.* FROM scored sc
         |           WHERE NOT EXISTS (SELECT 1 FROM seen
         |             WHERE seen.user_id = sc.user_id AND seen.item_id = sc.item_id)),
         |r AS (SELECT user_id, item_id, score, 'content' AS source,
         |        row_number() OVER (PARTITION BY user_id
         |                           ORDER BY score DESC, item_id) AS rn
         |      FROM unseen)
         |SELECT user_id, item_id, score, source, rn FROM r WHERE rn <= 5
         |ORDER BY user_id, rn""".stripMargin)),
    QueryDef("q47_cv_grid_search", (s: SparkSession, d: String) =>
      RankerPipeline.crossValidate(s, Interactions.fromEvents(s, d),
          memoKey = Some(d))
        // driver-visible collapse detector (the q90 band pattern, r6):
        // a working fold-averaged AUC is strictly above chance and
        // strictly below perfect (a leak saturates toward 1)
        .withColumn("within_band",
          col("avg_auc") > 0.5 && col("avg_auc") < 1.0), None),
    QueryDef("q47b_lr_cv_replay", lrCvReplay, Some(lrCvReplayOracle)),
    QueryDef("q43_word2vec_synonyms", word2vecSynonyms, None),
    QueryDef("q43b_w2v_vector_replay", word2vecVectorReplay,
      Some(w2vReplayOracle("docs", "merge"))),
    QueryDef("q63_w2v_corpus_synonyms", word2vecCorpusSynonyms, None),
    QueryDef("q63b_w2v_corpus_vector_replay", word2vecCorpusVectorReplay,
      Some(w2vReplayOracle("corpus", "scala"))),
    QueryDef("q44_lr_ranker_metrics", lrRankerMetrics, None)
  )
}
