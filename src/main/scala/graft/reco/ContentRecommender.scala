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
  *   → L2-normalized tf·idf weights → self-join on term →
  *   Σ w_a·w_b = cosine (norms already folded in) → per-doc top-k.
  *
  * Scale design: the self-join shuffles on the term key — the classic
  * inverted-index sparse similarity join. Stop-term pruning (maxDf)
  * bounds the per-term posting list, which bounds join fan-out; no
  * dense vectors, no cross join, no per-row RPC. This is how you do
  * content similarity on 10^9 docs.
  */
object ContentRecommender {

  /** ABSOLUTE document-frequency stop cap (r16, VERDICT r15 #7 — the
    * raw-index hot-token residual): the 0.8·n cap alone is a RELATIVE
    * bound, so a term in 79% of a 10⁹-doc corpus still carries a
    * ~8·10⁸-row posting into any raw inverted-index join (the prefix
    * family is separately champion-capped; this protects the raw
    * paths). A term appearing in more than this many documents is a
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

  /** Prefix-filtered all-pairs similarity (Bayardo et al. 2007,
    * "Scaling Up All Pairs Similarity Search"): only each doc's top-m
    * highest-weight terms enter the inverted-index join, bounding
    * posting-list fan-out to Σ_t cnt_t² with cnt_t ≤ docs-choosing-t.
    * Score = partial dot over shared prefix terms (weights normalized by
    * the FULL-vector norm) — an underestimate of cosine that preserves
    * ranking quality while cutting join volume ~30× on dense-vocab
    * corpora. The 100 TB path for all-pairs content similarity.
    *
    * POSTING CAP (r11, found by the q41 100× probe): prefix selection
    * alone does NOT bound the per-TERM posting list — on a dense
    * vocabulary every doc can elect the same few terms, and candidate
    * volume Σ_t cnt_t² grows quadratically with the corpus (measured:
    * 145M candidate pairs at 10× sf0.1, 1.45B at 100×, OOM at the
    * default driver heap). `postingCap` truncates each term's posting
    * to its `postingCap` highest-weight entries (a champion list —
    * the standard impact-ordered index truncation from IR), bounding
    * candidate volume by Σ min(cnt_t, cap)² ≤ m·cap·n — LINEAR in
    * corpus size by construction. EXACT whenever every posting fits
    * the cap (max observed posting at sf0.1 is 1164 < 2048, so every
    * driver gate is bit-identical); past the cap the dropped entries
    * are each term's LOWEST-weight tail — the smallest possible score
    * contributions — so top-k ranking degrades last. Deterministic
    * truncation order: (w desc, id). `postingCap = 0` disables.
    *
    * EXACTNESS IS NEVER SILENT (ADVICE r11): by default the call
    * FAILS with an explicit error if any term's posting actually
    * exceeds the cap — a data-dependent contract must not degrade to
    * approximate without the caller's consent. At scale, opt in with
    * `allowCapTruncation = true` (accepting the ranking-preserving
    * champion-list approximation) or pass `postingCap = 0` for the
    * exact-but-quadratic-candidate join. The guard costs one count()
    * over the already-cached prefix index, never over pairs. */
  /** `rankRoundScale`: when set, the per-query ranking (and the
    * emitted score) use `round(score, scale)` with the id tie-break —
    * so two candidates whose float sums agree to `scale` decimals but
    * differ in the last ulps rank IDENTICALLY regardless of the
    * engine's summation order. Late r17: the q41 gate's sf0.1 sweep
    * caught exactly this — Spark and DuckDB summed the same prefix
    * products in different orders and ranked a 6-decimal tie
    * differently. Default None keeps raw-score ranking (library
    * callers that never hash-compare across engines). */
  def similarDocsPrefix(docs: DataFrame, idCol: String, textCol: String,
      k: Int, m: Int = 4, weights: Option[DataFrame] = None,
      postingCap: Int = 2048, allowCapTruncation: Boolean = false,
      rankRoundScale: Option[Int] = None): DataFrame = {
    val w = weights.getOrElse(tfidfWeights(docs, idCol, textCol))
    val prefix = cappedPrefixIndex(w, m, postingCap, allowCapTruncation)
    val a = prefix.select(col("term"), col("id").as("id_a"), col("w").as("w_a"))
    val b = prefix.select(col("term"), col("id").as("id_b"), col("w").as("w_b"))
    val rankScore = rankRoundScale
      .map(s => round(col("score"), s)).getOrElse(col("score"))
    val win = Window.partitionBy(col("id_a"))
      .orderBy(rankScore.desc, col("id_b"))
    a.join(b, Seq("term"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("w_a") * col("w_b")).as("score"))
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= k)
      .select(col("id_a"), col("id_b"), rankScore.as("score"), col("rn"))
  }

  /** Top-m prefix selection + champion-list truncation, returned
    * CACHED (every caller consumes it at least twice). The cap keeps
    * each term's `cap` highest-weight posting entries ((w desc, id)
    * deterministic order); `cap <= 0` passes the index through
    * untouched. One extra keyed window pass over the prefix index —
    * O(prefix entries), never O(pairs).
    *
    * NON-SILENT CAP CONTRACT (ADVICE r11): the window keeps ONE
    * sentinel row past the cap (pc == cap+1); its presence in the
    * cached index is the proof that truncation would bind. Unless the
    * caller passed `allowCapTruncation = true`, a cache-scan count of
    * sentinel rows runs eagerly and throws when any posting exceeds
    * the cap — so existing callers can never receive approximate
    * results without an explicit opt-in. The guard touches only the
    * cached index (the materialization was about to happen anyway for
    * the self-join); when it passes, the retained rows are exactly
    * the pre-guard plan's rows, so green gates stay bit-identical.
    *
    * PARTITIONING TRADE-OFF (r11, measured both ways at 1× and 100×):
    * the term-window leaves the index hash(term)-partitioned, so the
    * downstream pair aggregation groupBy(id_a, id_b) and the top-k
    * window get their own exchanges of the PAIR volume. Restoring
    * hash(id) with a trailing repartition makes both run
    * exchange-free — and that wins at gate scale (q41 −1.1 s at
    * sf0.1, pure stage overhead there) — but at 100× it is an
    * ANTI-optimization: "exchange-free" means the 1.45B-row pair
    * aggregation inherits the index's partition count (32) with no
    * AQE re-split, concentrating per-partition agg state (this exact
    * shape is what OOM'd the pre-cap plan at the default heap, and
    * it ran 507 s vs 212 s at 48g). The exchanged plan re-spreads
    * the pair volume over AQE-sized partitions — the cluster-correct
    * shape — so we deliberately do NOT repartition here and accept
    * the small fixed cost at tiny scales. */
  private def cappedPrefixIndex(w: DataFrame, m: Int, cap: Int,
      allowCapTruncation: Boolean): DataFrame = {
    val prefW = Window.partitionBy(col("id"))
      .orderBy(col("w").desc, col("term"))
    val uncapped = w.withColumn("pr", row_number().over(prefW))
      .filter(col("pr") <= m)
      .select(col("id"), col("term"), col("w"))
    if (cap <= 0) uncapped.cache()
    else {
      val postW = Window.partitionBy(col("term"))
        .orderBy(col("w").desc, col("id"))
      val marked = uncapped.withColumn("pc", row_number().over(postW))
        .filter(col("pc") <= cap + 1)
        .cache()
      if (!allowCapTruncation) {
        val nOver = marked.filter(col("pc") === cap + 1).count()
        if (nOver > 0) {
          marked.unpersist()
          throw new IllegalStateException(
            s"prefix-index champion list: $nOver term posting(s) exceed " +
              s"postingCap=$cap on this corpus — the result would be silently " +
              "approximate. Pass allowCapTruncation=true to accept the " +
              "ranking-preserving champion-list truncation (the 100 TB hot-" +
              "posting contract), or postingCap=0 for the exact join (candidate " +
              "volume is then quadratic in the hottest posting).")
        }
      }
      marked.filter(col("pc") <= cap).select(col("id"), col("term"), col("w"))
    }
  }

  /** Prefix-filtered pairwise similarities with the a-side restricted
    * to a set of query docs (no per-pair top-k cut — callers aggregate).
    * At scale this is the serving shape: the query side is the small
    * working set (each user's recent items), semi-joined into the
    * prefix index BEFORE the term join, so the fan-out is
    * O(query-postings), not O(corpus-postings²). The candidate side
    * still meets whole postings, so the champion cap applies here too:
    * per-query fan-out ≤ m·postingCap (exact below the cap, same
    * NON-SILENT contract as [[similarDocsPrefix]]: a binding cap
    * throws unless `allowCapTruncation = true`). */
  def similaritiesForQueries(docs: DataFrame, queryIds: DataFrame,
      idCol: String, textCol: String, m: Int = 4,
      weights: Option[DataFrame] = None,
      postingCap: Int = 2048, allowCapTruncation: Boolean = false): DataFrame = {
    val w = weights.getOrElse(tfidfWeights(docs, idCol, textCol))
    val prefix = cappedPrefixIndex(w, m, postingCap, allowCapTruncation)
    val a = prefix
      .join(queryIds.select(col(queryIds.columns.head).as("id")), Seq("id"), "left_semi")
      .select(col("term"), col("id").as("id_a"), col("w").as("w_a"))
    val b = prefix.select(col("term"), col("id").as("id_b"), col("w").as("w_b"))
    a.join(b, Seq("term"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("w_a") * col("w_b")).as("score"))
  }

  /** Top-k most similar docs per doc by TF-IDF cosine. */
  def similarDocs(docs: DataFrame, idCol: String, textCol: String,
      k: Int, minSim: Double = 0.0): DataFrame = {
    val w = tfidfWeights(docs, idCol, textCol).cache()
    val a = w.select(col("term"), col("id").as("id_a"), col("w").as("w_a"))
    val b = w.select(col("term"), col("id").as("id_b"), col("w").as("w_b"))
    val win = Window.partitionBy(col("id_a"))
      .orderBy(col("cos").desc, col("id_b"))
    a.join(b, Seq("term"))
      .filter(col("id_a") =!= col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("w_a") * col("w_b")).as("cos"))
      .filter(col("cos") >= minSim)
      .withColumn("rn", row_number().over(win))
      .filter(col("rn") <= k)
      .select(col("id_a"), col("id_b"), col("cos"), col("rn"))
  }
}

/** User→item content recommendations — the missing fourth Recommender
  * impl (reference: recommenders/ContentRecommender.scala:36-82, which
  * issued one ES More-Like-This HTTP call per user from each user's
  * recent items). Declarative rewrite: the user's query profile is the
  * `recentK` most recent items; candidates come from the TF-IDF prefix
  * index restricted to those query docs;
  * score(u,c) = Σ_{q ∈ recent(u)} sim(q,c); seen items excluded.
  *
  * Scale design: one window pass for recency, a semi-join to shrink the
  * index a-side to the active query set, key-partitioned aggregation —
  * no per-row RPC, no driver loop.
  *
  * @param interactions (user_id, item_id, ts_ns, ...) implicit feedback
  * @param docs         item corpus; `idCol` must align with item_id
  * @param postingCap   champion-list truncation for the underlying
  *                     prefix index, surfaced at the class boundary
  *                     (ADVICE r12): the index build inherits
  *                     [[ContentRecommender.similaritiesForQueries]]'s
  *                     NON-SILENT cap contract, so on a corpus with a
  *                     term posting above the cap the default
  *                     configuration THROWS rather than silently
  *                     approximating — callers consent here, with
  *                     `allowCapTruncation = true` (accept the
  *                     ranking-preserving truncation: the 100 TB
  *                     hot-posting shape) or `postingCap = 0` (exact
  *                     join, quadratic in the hottest posting).
  */
final class ContentUserRecommender(interactions: DataFrame, docs: DataFrame,
    idCol: String, textCol: String, recentK: Int = 3, prefixM: Int = 4,
    weights: Option[DataFrame] = None,
    postingCap: Int = 2048, allowCapTruncation: Boolean = false)
    extends Recommender {
  override val name = "content"

  override def recommendForUsers(users: DataFrame, topK: Int): DataFrame = {
    val mine = interactions
      .join(users.select(col("user_id")), Seq("user_id"), "left_semi")
    val lastPer = mine
      .groupBy(col("user_id"), col("item_id"))
      .agg(max(col("ts_ns")).as("last_ns"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("last_ns").desc, col("item_id"))
    val recent = lastPer.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= recentK)
      .select(col("user_id"), col("item_id"))
      .cache()

    val sims = ContentRecommender.similaritiesForQueries(
      docs, recent.select(col("item_id")).distinct(), idCol, textCol, prefixM,
      weights, postingCap, allowCapTruncation)

    val seen = mine.select(col("user_id"), col("item_id")).distinct()
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
