package graft.reco

import graft.text.Tokenize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Content-based similarity via TF-IDF cosine over an inverted index —
  * the Spark-native replacement for the reference's per-row
  * Elasticsearch More-Like-This calls (reference: src/main/scala/ws/
  * vinta/albedo/recommenders/ContentRecommender.scala:36-82, which ran
  * an HTTP search per user inside flatMap — a per-row external RPC).
  *
  * Construction (all DataFrame ops):
  *   tokens → per-doc term frequency → document frequency → idf
  *   → L2-normalized tf·idf weights → each doc's top-4 prefix →
  *   self-join on term → Σ w_a·w_b (norms already folded in) →
  *   per-doc top-k.
  *
  * Scale design: the self-join shuffles on the term key — the classic
  * inverted-index sparse similarity join. Stop-term pruning (maxDf)
  * and the prefix posting cap bound the per-term posting list, which
  * bounds join fan-out; no dense vectors, no cross join, no per-row RPC.
  */
object ContentRecommender {

  /** ABSOLUTE document-frequency stop cap (r16, VERDICT r15 #7 — the
    * raw-index hot-token residual): the 0.8·n cap alone is a RELATIVE
    * bound, so a term in 79% of a 10⁹-doc corpus still carries a
    * ~8·10⁸-row posting into the fit's tf/df aggregates and the
    * prefix index (whose join separately fails past [[PostingCap]]).
    * A term appearing in more than this many documents is a
    * de-facto stopword at ANY corpus size — its idf is minimal and its
    * discriminative value nil — so pruning it is the IR-correct move,
    * not an approximation knob. The cap binds only past ~10⁶ docs
    * (every driver gate corpus is far below it → gate hashes
    * unchanged); SCALE.md "r16 raw TF-IDF index hot-token leg"
    * measures it binding at the amplified scale. */
  val TfidfStopDf: Long = 1000000L

  /** L2-normalized tf·idf term weights: (id, term, w). A term is kept
    * when its document frequency is at most min(0.8·n, [[TfidfStopDf]]);
    * the corpus size n is a broadcast one-row count inside the plan, so
    * building the weights runs no job of its own. */
  def tfidfWeights(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r18: tokenize + stopword-filter + explode is per-row CPU work —
    // spread the single-split fixture scan so the fit chain
    // parallelizes (identity at production split counts). The r18 sf1
    // leg measured the serialized fit at 10×: q41 sf1 151 s vs 33 s
    // before the size-derived scan splits landed.
    val terms = graft.ops.Adaptive.spread(
        docs.select(col(idCol).as("id"), col(textCol)))
      .select(col("id"),
        explode(Tokenize.removeStopwords(
          Tokenize.cjkAware(col(textCol)), Tokenize.englishStopwords)).as("term"))
    val tf = terms.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val dfCap = least((col("n_docs") * 0.8).cast("long"), lit(TfidfStopDf))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= dfCap)
    val w = tf.join(df, Seq("term"))
      .withColumn("w_raw",
        col("tf") * (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0))
    val norms = w.groupBy(col("id"))
      .agg(sqrt(sum(col("w_raw") * col("w_raw"))).as("norm"))
    w.join(norms, Seq("id"))
      .select(col("id"), col("term"), (col("w_raw") / col("norm")).as("w"))
  }

  /** The longest prefix posting the similarity join accepts. A term
    * every doc elects into its prefix makes the join's candidate volume
    * Σ_t cnt_t² quadratic in the corpus (r11 q41 100× probe: 145M
    * candidate pairs at 10× sf0.1, 1.45B at 100×); the longest posting
    * at sf0.1 is 1164, so no gate corpus comes near the cap. */
  val PostingCap: Int = 2048

  /** Top-k most similar docs per doc by prefix similarity
    * ([[prefixSimilarities]]), ranked on `round(score, 6)` with the
    * id tie-break so that the engine's float summation order never
    * decides a rank (q41's sf0.1 sweep caught Spark and DuckDB ranking
    * a 6-decimal tie differently on the raw score). */
  def similarDocsPrefix(docs: DataFrame, idCol: String, textCol: String,
      k: Int, weights: Option[DataFrame] = None): DataFrame = {
    val win = Window.partitionBy(col("id_a"))
      .orderBy(col("score").desc, col("id_b"))
    prefixSimilarities(weights.getOrElse(tfidfWeights(docs, idCol, textCol)))
      .withColumn("score", round(col("score"), 6))
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= k)
      .select(col("id_a"), col("id_b"), col("score"), col("rn"))
  }

  /** Prefix-filtered all-pairs similarity (Bayardo et al. 2007,
    * "Scaling Up All Pairs Similarity Search"): only each doc's 4
    * highest-weight terms ((w desc, term) order) enter the
    * inverted-index self-join on term, and score(a, b) = Σ w_a·w_b over
    * the shared prefix terms — weights normalized by the FULL-vector
    * norm, so an underestimate of cosine that keeps the ranking while
    * cutting join volume ~30× on dense-vocab corpora. `queryIds`
    * (first column) restricts the a-side to a working set — the
    * serving shape, where the fan-out is O(query postings).
    *
    * The posting guard is part of the plan: a per-term count over the
    * prefix index feeds a filter predicate that raises an error naming
    * [[PostingCap]] when any posting exceeds it, so the join never runs
    * past the cap and building the frame runs no job. The index stays
    * hash(term)-partitioned for the join (r11: re-partitioning it by
    * id ran 507 s vs 212 s at 100×), and both join sides read the same
    * index, so its exchanges run once per query. */
  private[reco] def prefixSimilarities(w: DataFrame,
      queryIds: Option[DataFrame] = None): DataFrame = {
    val prefix = w
      .withColumn("pr", row_number().over(
        Window.partitionBy(col("id")).orderBy(col("w").desc, col("term"))))
      .filter(col("pr") <= 4)
      .withColumn("posting", count(lit(1)).over(Window.partitionBy(col("term"))))
      .filter(col("posting") <= PostingCap || raise_error(concat(
        lit("prefix index: term '"), col("term"), lit("' has "),
        col("posting").cast("string"),
        lit(s" postings, above the cap of $PostingCap"))))
      .select(col("id"), col("term"), col("w"))
    val q = prefix.select(col("term"), col("id").as("id_a"), col("w").as("w_a"))
    val a = queryIds.fold(q)(ids =>
      q.join(ids.select(col(ids.columns.head).as("id_a")), Seq("id_a"), "left_semi"))
    val b = prefix.select(col("term"), col("id").as("id_b"), col("w").as("w_b"))
    a.join(b, Seq("term"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("w_a") * col("w_b")).as("score"))
  }
}

/** User→item content recommendations — the fourth Recommender impl
  * (reference: recommenders/ContentRecommender.scala:36-82, which
  * issued one ES More-Like-This HTTP call per user from each user's
  * recent items). Declarative rewrite: the user's query profile is the
  * 3 most recent items; candidates come from the TF-IDF prefix index
  * restricted to those query docs ([[ContentRecommender.prefixSimilarities]],
  * so a posting above [[ContentRecommender.PostingCap]] fails the query);
  * score(u,c) = Σ_{q ∈ recent(u)} sim(q,c); seen items excluded.
  *
  * One (user, item) `max(ts_ns)` rollup is both the recency source and
  * the seen set; no per-row RPC, no driver loop, nothing cached.
  *
  * @param interactions (user_id, item_id, ts_ns, ...) implicit feedback
  * @param docs         item corpus; `idCol` must align with item_id
  */
final class ContentUserRecommender(interactions: DataFrame, docs: DataFrame,
    idCol: String, textCol: String, weights: Option[DataFrame] = None)
    extends Recommender {
  override val name = "content"

  override def recommendForUsers(users: DataFrame, topK: Int): DataFrame = {
    val seen = interactions
      .join(users.select(col("user_id")), Seq("user_id"), "left_semi")
      .groupBy(col("user_id"), col("item_id"))
      .agg(max(col("ts_ns")).as("last_ns"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("last_ns").desc, col("item_id"))
    val recent = seen.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("item_id"))

    val sims = ContentRecommender.prefixSimilarities(
      weights.getOrElse(ContentRecommender.tfidfWeights(docs, idCol, textCol)),
      Some(recent.select(col("item_id"))))
    val scored = recent
      .join(sims, recent("item_id") === sims("id_a"))
      .groupBy(col("user_id"), col("id_b").as("cand"))
      // rank on the ROUNDED score: cross-engine float-sum order must not
      // decide ranks (oracle determinism contract, NOTES_r1)
      .agg(round(sum(col("score")), 6).as("score"))
    val unseen = scored.join(
      seen.select(col("user_id"), col("item_id").as("cand")),
      Seq("user_id", "cand"), "left_anti")
    val topW = Window.partitionBy(col("user_id"))
      .orderBy(col("score").desc, col("cand"))
    unseen.withColumn("rn", row_number().over(topW))
      .filter(col("rn") <= topK)
      .select(col("user_id"), col("cand").as("item_id"), col("score"),
        lit(name).as("source"), col("rn"))
  }
}
