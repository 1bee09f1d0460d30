package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  * All pure column expressions (whole-stage codegen; no UDF wall),
  * so they run at scan speed over 100 TB of documents.
  */
object TextAnalysis {

  /** Canonical normalization used before hashing/dedup: lowercase,
    * collapse whitespace, trim. */
  def normalize(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** Whitespace tokens; empty text → empty array (split("") yields [""]
    * so guard). */
  def tokens(text: Column): Column = {
    val t = trim(text)
    when(t === "", array().cast("array<string>"))
      .otherwise(split(t, "\\s+"))
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count estimate: word-pieces + digits + punctuation
    * as separate tokens (regex segmentation, GPT-2-style classes). */
  def subwordCountEstimate(text: Column): Column = {
    val pieces = regexp_extract_all(lower(text),
      lit("[a-z\\u00c0-\\u024f\\u4e00-\\u9fff]+|[0-9]+|[^\\sa-z0-9\\u00c0-\\u024f\\u4e00-\\u9fff]"), lit(0))
    // ~4 chars per BPE token within a word-piece
    aggregate(pieces, lit(0L),
      (acc, p) => acc + greatest(ceil(length(p) / 4.0).cast("long"), lit(1L)))
  }

  /** Quality-signal battery: character/token counts, punctuation and
    * non-alpha shares, mean token length, stopword share. Null-safe.
    * Signals follow published web-corpus filters (C4/Gopher-style
    * length + symbol-ratio rules). The shares are integer ppm via floor
    * division (late r17): `round(p/q, 6)` doubles can flip at a
    * half-way shortest-repr boundary cross-engine (the q76 flake
    * class); `(p·1e6) div q` cannot. */
  def qualitySignalsPpm(text: Column, stopwords: Seq[String])
      : Seq[(String, Column)] = {
    val t = coalesce(text, lit(""))
    val toks = tokens(t)
    val nChars = length(t).cast("long")
    val nTokens = size(toks).cast("long")
    val nPunct = nChars - length(regexp_replace(t, "[\\p{Punct}]", ""))
    val nAlpha = length(regexp_replace(t, "[^A-Za-z]", "")).cast("long")
    val nStop = size(filter(toks,
      w => array_contains(lit(stopwords.toArray), lower(w)))).cast("long")
    // floor(double-division) here IS the exact integer floor: p·1e6
    // and q are exact in double (≪ 2^53), the quotient is correctly
    // rounded (error < 1 ulp ≈ 1e-10 at this scale), and a NON-integer
    // rational p·1e6/q sits ≥ 1/q ≥ 1e-8 away from any integer — so
    // rounding can never carry the quotient across an integer. Both
    // engines therefore floor the same value.
    def ppm(p: Column, q: Column): Column =
      floor((p * 1000000L).cast("double") / greatest(q, lit(1L)))
        .cast("long")
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nTokens,
      "punct_ppm" -> ppm(nPunct, nChars),
      "alpha_ppm" -> ppm(nAlpha, nChars),
      "mean_token_len_ppm" ->
        ppm(nChars - greatest(nTokens - 1L, lit(0L)), nTokens),
      "stopword_ppm" -> ppm(nStop, nTokens))
  }

  val englishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "that",
    "for", "on", "with", "as", "was", "at", "by", "this", "be", "are")

  /** Language ID: CJK-character share decides zh; otherwise the
    * stopword-profile argmax over per-language marker words (classic
    * n-gram/stopword heuristic, cf. Cavnar-Trenkle). */
  def langId(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val nChars = greatest(length(t), lit(1))
    val cjk = length(regexp_replace(t, "[^\\u4e00-\\u9fff]", ""))
    val toks = tokens(lower(t))
    def hits(words: Seq[String]): Column =
      size(filter(toks, w => array_contains(lit(words.toArray), w)))
    val scores = map(markerSets.flatMap { case (lang, words) =>
      Seq(lit(lang), hits(words.toSeq.sorted)) }: _*)
    val best = array(markerSets.map { case (lang, _) => lit(lang) }: _*)
      .cast("array<string>")
    val argmax = aggregate(
      best,
      struct(lit("und").as("lang"), lit(0).as("score")),
      (acc, l) => when(element_at(scores, l) > acc.getField("score"),
        struct(l.as("lang"), element_at(scores, l).as("score"))).otherwise(acc))
    when(cjk / nChars.cast("double") > 0.2, "zh")
      .otherwise(argmax.getField("lang"))
  }

  /** PII/URL scrubbing (C4-style pipeline hygiene): emails, http(s)
    * URLs, and dotted-quad IPs replaced with typed placeholder tokens.
    * Pure regexp_replace chain — runs at scan speed; patterns kept
    * RE2-compatible so the DuckDB oracle can mirror them. */
  def redact(text: Column): Column = {
    val noEmail = regexp_replace(text,
      "[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val noUrl = regexp_replace(noEmail,
      "https?://[^\\s]+", "<URL>")
    regexp_replace(noUrl,
      "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b", "<IP>")
  }

  /** Stable content fingerprint: md5 of normalized text (hex). */
  def fingerprintMd5(text: Column): Column = md5(normalize(text))

  // ---- bulk typed kernels -------------------------------------------
  // Language ID and the subword estimate run in bulk as typed scalar
  // kernels: Spark array HOFs (filter/aggregate/transform) are
  // CodegenFallback — interpreted per row — so a typed Dataset.map wins
  // an order of magnitude on full scans (NOTES_r1 lesson 1). The
  // column forms `langId`/`subwordCountEstimate` above stay as the
  // reference the kernels are spec-pinned against, and q34 oracle-gates
  // the kernels against the DuckDB mirror.

  private val markerSets: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "and", "of", "to", "is", "with", "that", "for"),
    "es" -> Set("el", "la", "de", "que", "y", "los", "las", "una", "por"),
    "de" -> Set("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Set("le", "la", "les", "des", "est", "une", "dans", "pour", "et"))

  private lazy val subwordPattern = java.util.regex.Pattern.compile(
    "[a-z\\u00c0-\\u024f\\u4e00-\\u9fff]+|[0-9]+|[^\\sa-z0-9\\u00c0-\\u024f\\u4e00-\\u9fff]")

  private def isCjk(c: Char): Boolean = c >= '一' && c <= '鿿'

  /** Per-row scalar twin of [[langId]]. */
  private[llmops] def langIdScalar(text: String): String = {
    val t = Option(text).getOrElse("")
    val nChars = math.max(t.length, 1)
    var cjk = 0
    var i = 0
    while (i < t.length) { if (isCjk(t(i))) cjk += 1; i += 1 }
    if (cjk.toDouble / nChars > 0.2) return "zh"
    val toks = t.toLowerCase(java.util.Locale.ROOT).trim match {
      case "" => Array.empty[String]
      case s => s.split("\\s+")
    }
    var best = "und"; var bestScore = 0
    markerSets.foreach { case (lang, set) =>
      val score = toks.count(set.contains)
      if (score > bestScore) { best = lang; bestScore = score }
    }
    best
  }

  /** Per-row scalar twin of [[subwordCountEstimate]]. */
  private[llmops] def subwordCountScalar(text: String): Long = {
    val m = subwordPattern.matcher(
      Option(text).getOrElse("").toLowerCase(java.util.Locale.ROOT))
    var n = 0L
    while (m.find()) {
      val len = m.end() - m.start()
      n += math.max(math.ceil(len / 4.0).toLong, 1L)
    }
    n
  }

  /** Bulk language-ID + subword stats: (id, label, pred_lang,
    * n_subwords) via one typed map over the corpus. */
  def langIdStatsBulk(docs: DataFrame, idCol: String, labelCol: String,
      textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(labelCol), col(textCol))
      .as[(Long, String, String)]
      .map { case (id, label, text) =>
        (id, label, langIdScalar(text), subwordCountScalar(text))
      }.toDF("doc_id", "labeled_lang", "pred_lang", "n_subwords")
  }

  /** Bulk language gate: rows whose [[langId]] equals `lang`, via the
    * typed scalar twin (same rationale as [[langIdStatsBulk]]: the
    * expression form's array HOFs are CodegenFallback — interpreted —
    * and r18 profiling showed the q96 language gate spending 2 s in
    * one interpreted scan task). Typed, so the predicate is opaque to
    * Catalyst and stays ABOVE a caller's Adaptive.spread instead of
    * being pushed back into the single-split scan. Row set identical
    * to `filter(langId(col) === lang)` — the twins are spec-pinned
    * and q34 oracle-gates the scalar against the DuckDB mirror.
    * `textCol` must name a top-level string column; anything else is
    * rejected at call time, not by a cast failure inside a task. */
  def langFilterBulk(docs: DataFrame, textCol: String,
      lang: String): DataFrame = {
    val field = docs.schema.find(_.name == textCol)
    require(field.exists(_.dataType.isInstanceOf[StringType]),
      s"langFilterBulk: textCol '$textCol' must be a top-level string column, " +
        field.fold("but there is no such column among " +
          docs.schema.fieldNames.mkString("[", ", ", "]"))(
          f => s"but its type is ${f.dataType.simpleString}"))
    val idx = docs.schema.fieldIndex(textCol)
    docs.filter((r: org.apache.spark.sql.Row) =>
      langIdScalar(r.getString(idx)) == lang)
  }

  /** Character-trigram commonness score — the perplexity-filter shape
    * with the corpus as its own model, made integer-exact: each doc
    * scores the mean CORPUS frequency of its trigram instances.
    * Gibberish (rare trigrams) scores low, fluent text high — the same
    * ranking a char-LM log-prob gives, but every intermediate — AND
    * the output — is a BIGINT (cross-engine float-log reorder error
    * would make a hash-exact oracle flaky). Late r17: the final value
    * is `commonness_centi = (sum_c·100) div n_tri` in exact integer
    * arithmetic; the previous `round(sum_c/n_tri, 2)` double hit a
    * rounding-boundary divergence at sf0.1 (Spark's Round goes
    * through BigDecimal of the SHORTEST decimal repr — 8739.925 →
    * 8739.93 — while DuckDB rounds the binary double, slightly below
    * the half → 8739.92). Integer floor division cannot disagree.
    *
    * Scale: trigram space is bounded (alphabet³), so the count table
    * broadcasts; instances never shuffle — one groupBy(tri) for the
    * model, one groupBy(doc) for scores. */
  def trigramCommonness(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // trigram explode as a typed kernel — the transform(sequence(...))
    // column form is interpreted (CodegenFallback) and measured 4.6 s
    // vs <1 s at sf0.1 (NOTES_r1 lesson 1)
    val inst = docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        val t = Option(text).getOrElse("").toLowerCase
          .replaceAll("\\s+", " ").trim
        if (t.length < 3) Iterator.empty
        else (0 to t.length - 3).iterator.map(i => (id, t.substring(i, i + 3)))
      }.toDF(idCol, "tri")
    val counts = inst.groupBy(col("tri")).agg(count(lit(1)).as("c"))
    inst.join(broadcast(counts), Seq("tri"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tri"), sum(col("c")).as("sum_c"))
      .select(col(idCol), col("n_tri"),
        expr("(sum_c * 100) div n_tri").as("commonness_centi"))
  }

  /** Gopher-style repetition filters (Rae et al. 2021, appendix A1),
    * adapted token-wise for single-line corpora: the paper's line-based
    * rules need newline structure, its n-gram rules don't.
    *   - top2_frac / top3_frac: characters covered by the most
    *     repeated {2,3}-gram over total chars. Coverage of a gram is
    *     count × gram char length; the doc score is the MAX coverage
    *     product over grams (deterministic — no tie-break between
    *     equally-frequent grams of different lengths).
    *   - dup5_frac: fraction of 5-token windows whose gram occurs ≥ 2
    *     times within the doc (the paper's duplicate-n-gram family).
    * Paper thresholds for admission: ~0.20 / 0.18 / 0.15.
    *
    * Scale: windows fan out one row per token per n; shuffles key on
    * (doc, gram) then doc — linear, the substringDupScan shape. */
  def repetitionSignals(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
        .as("toks"),
      length(coalesce(col(textCol), lit(""))).cast("long").as("n_chars"))
    def gramCounts(n: Int): DataFrame = base
      .withColumn("nt", size(col("toks")))
      .filter(col("nt") >= n)
      .select(col("doc_id"),
        explode(transform(sequence(lit(0), col("nt") - n),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(n))))).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
    def topCov(n: Int, out: String): DataFrame = gramCounts(n)
      .groupBy(col("doc_id"))
      .agg(max(col("c") * length(col("g"))).as(out))
    val d5 = gramCounts(5)
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("w5"),
        sum(when(col("c") >= 2, col("c")).otherwise(lit(0L))).as("dup5"))
    // ppm via integer floor division (late r17): round(ratio, 6)
    // doubles could flip at a half-way shortest-repr boundary
    // cross-engine (the q76 flake class); integer div cannot
    base.select(col("doc_id"), col("n_chars"))
      .join(topCov(2, "cov2"), Seq("doc_id"), "left")
      .join(topCov(3, "cov3"), Seq("doc_id"), "left")
      .join(d5, Seq("doc_id"), "left")
      .select(col("doc_id"),
        expr("(coalesce(cov2, CAST(0 AS BIGINT)) * 1000000)" +
          " div greatest(n_chars, 1)").as("top2_ppm"),
        expr("(coalesce(cov3, CAST(0 AS BIGINT)) * 1000000)" +
          " div greatest(n_chars, 1)").as("top3_ppm"),
        expr("(coalesce(dup5, CAST(0 AS BIGINT)) * 1000000)" +
          " div greatest(coalesce(w5, CAST(0 AS BIGINT)), 1)")
          .as("dup5_ppm"))
  }

  /** Word-association mining: pointwise mutual information over
    * within-document co-occurrence. pmi(a,b) = ln(c_ab·N / (c_a·c_b))
    * with c_* document frequencies — all exact integers, so the only
    * float op is one division + ln (cross-engine stable under round 6;
    * ordering uses the ROUNDED value, rank ties broken by the pair).
    *
    * Scale: the per-doc token self-join is quadratic in DISTINCT
    * per-doc tokens — capped at maxTokensPerDoc by document frequency
    * rank (commonest first, deterministic), the same bounding move as
    * ItemCF's per-user cap; the downstream joins against the unary
    * count table broadcast it. */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
      minPairCount: Long = 5, topK: Int = 50,
      maxTokensPerDoc: Int = 200): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
        explode(array_distinct(tokens(lower(col(textCol))))).as("w"))
    val cw = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val capped = toks.join(broadcast(cw), Seq("w"))
      .withColumn("tr", row_number().over(
        Window.partitionBy(col("doc_id"))
          .orderBy(col("c").desc, col("w"))))
      .filter(col("tr") <= maxTokensPerDoc)
      .select(col("doc_id"), col("w"))
    val pairs = capped.select(col("doc_id"), col("w").as("wa"))
      .join(capped.select(col("doc_id"), col("w").as("wb")), Seq("doc_id"))
      .filter(col("wa") < col("wb"))
      .groupBy(col("wa"), col("wb"))
      .agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= minPairCount)
    pairs
      .join(broadcast(cw.select(col("w").as("wa"), col("c").as("c_a"))), Seq("wa"))
      .join(broadcast(cw.select(col("w").as("wb"), col("c").as("c_b"))), Seq("wb"))
      .crossJoin(broadcast(nDocs))
      .withColumn("pmi",
        round(log((col("c_ab") * col("n_docs")).cast("double")
          / (col("c_a") * col("c_b"))), 6))
      .select(col("wa"), col("wb"), col("c_ab"), col("pmi"))
      .orderBy(col("pmi").desc, col("wa"), col("wb"))
      .limit(topK)
  }

  /** Overlapping character-window chunking — the standard long-document
    * split for training-context preparation. Pure column expressions:
    * chunk i covers [i·stride, i·stride + chunkChars); the final chunk
    * may be short. Scale: map-side only (posexplode per row), no
    * shuffle. */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
      chunkChars: Int, overlapChars: Int): DataFrame = {
    require(overlapChars < chunkChars, "overlap must be < chunk size")
    val stride = chunkChars - overlapChars
    val n = length(col(textCol))
    val nChunks = when(n <= chunkChars, lit(1L))
      .otherwise(ceil((n - chunkChars).cast("double") / stride) + 1L)
    docs.select(col(idCol), col(textCol),
        posexplode(sequence(lit(0L), nChunks - 1L)).as(Seq("chunk_idx", "i")))
      .select(col(idCol), col("i").cast("long").as("chunk_idx"),
        col(textCol).substr(col("i") * stride + 1, lit(chunkChars))
          .as("chunk_text"))
  }

  /** Greedy fixed-budget sequence packing: within each `groupCol`
    * shard, docs ordered by id accumulate token counts; a doc starts
    * bin k when its cumulative offset crosses k·budget. The contiguous
    * approximation of example packing — deterministic, one window per
    * shard key (partitioned, NOT a global sort — per-key windows scale;
    * the shard key is what a 100 TB run would already be bucketed by). */
  def packDocs(docs: DataFrame, idCol: String, textCol: String,
      groupCol: String, budgetTokens: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col(idCol))
    docs
      .withColumn("n_tokens", tokenCount(col(textCol)).cast("long"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("bin", ((col("cum") - col("n_tokens")) / budgetTokens)
        .cast("long"))
      .select(col(idCol), col(groupCol), col("n_tokens"), col("bin"))
  }

  /** Portable polynomial rolling fingerprint: token hash = first 8 md5
    * hex chars (32-bit), chained h = (h*B + t) mod p in token order —
    * order-SENSITIVE, and every step is exact signed-64 arithmetic
    * that DuckDB reproduces with
    * `list_reduce` (init = first element, like foldLeft1; empty → 0).
    * B=1000003, p=2^31-1: h<2^32, h*B+t < 2^52 — no overflow on either
    * engine. */
  def rollingPortableBulk(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val B = 1000003L
    val P = 2147483647L
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        def tokHash(s: String): Long = {
          val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
            ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
        }
        rows.map { case (id, text) =>
          val toks = Option(text).getOrElse("").toLowerCase
            .split("\\s+").filter(_.nonEmpty)
          val fp =
            if (toks.isEmpty) 0L
            else toks.tail.foldLeft(tokHash(toks.head)) { (acc, w) =>
              (acc * B + tokHash(w)) % P
            }
          (id, fp)
        }
      }.toDF("doc_id", "fp_poly")
  }
}
