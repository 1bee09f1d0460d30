package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for web-scale corpora: exact, MinHash+LSH,
  * SimHash, and n-gram Jaccard verification.
  *
  * Scale design: every stage is key-partitioned — exact dedup shuffles
  * on a 128-bit content hash; MinHash LSH shuffles on (band, bandHash)
  * buckets so candidate generation is a self-equi-join, never a cross
  * join; exact Jaccard runs only on bucket-collision pairs. This is the
  * published MinHash-LSH construction (Broder 1997; MMDS ch.3) expressed
  * as DataFrame ops.
  */
object Dedup {

  // ---- exact -------------------------------------------------------

  /** Exact duplicate marking over normalized content. Returns the input
    * plus (content_hash, canon_id, is_dup): canonical = min id per hash
    * group. One shuffle on the hash. */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = TextAnalysis.fingerprintMd5(col(textCol))
    val byHash = Window.partitionBy(col("content_hash"))
    docs.withColumn("content_hash", h)
      .withColumn("canon_id", min(col(idCol)).over(byHash))
      .withColumn("is_dup", col(idCol) =!= col("canon_id"))
  }

  /** Exact SUBSTRING-duplication scan via hashed token windows — the
    * distributed analogue of suffix-array substring dedup (Lee et al.
    * 2022, "Deduplicating Training Data Makes Language Models Better"):
    * a doc-level near-dup pass (MinHash/SimHash) misses a long span
    * copied into an otherwise-novel document, which is exactly the
    * memorization vector that paper targets. Every w-token window is
    * hashed; a window whose hash occurs ≥2 times anywhere in the corpus
    * (within OR across docs) is a duplicated span, and each doc reports
    * its duplicated-window coverage — the admission signal a training
    * pipeline thresholds on.
    *
    * Scale: the fan-out is one row per token (×1 window each), the only
    * shuffles are on the uniform window hash and on the doc id — no
    * quadratic term anywhere; suffix arrays beat it on constants
    * single-node but do not shard declaratively.
    *
    * @return one row per doc with ≥ w tokens:
    *         (doc_id, n_windows, n_dup_windows, dup_coverage).
    */
  def substringDupScan(docs: DataFrame, idCol: String, textCol: String,
      w: Int = 8): DataFrame = {
    // r18 single-pass shape: the pre-r18 plan consumed the window set
    // THREE times (global h-frequency agg, per-doc count, semi-join +
    // per-doc dup count) — three explode+md5 computes and two full
    // shuffles of `wins` by h plus a doc-id join. A count() window
    // keyed by h attaches each window instance's global occurrence
    // count in ONE pass, so one explode, one exchange by h (sort
    // within partitions instead of a second full shuffle), one
    // exchange by id, and both per-doc aggregates fall out of a
    // single groupBy. Row-identical: occ ≥ 2 marks exactly the
    // instances whose hash occurs ≥ 2 times anywhere.
    val wins = tokenWindows(docs, idCol, textCol, w)
    val occ = wins.withColumn("occ", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
    occ.groupBy(col("id"))
      .agg(count(lit(1)).as("n_windows"),
        coalesce(sum(when(col("occ") >= 2, 1L).otherwise(0L)), lit(0L))
          .as("n_dup_windows"))
      .select(col("id").as("doc_id"), col("n_windows"),
        col("n_dup_windows"),
        // basis points via integer floor division (late r17): the
        // previous round(ratio, 4) double could flip at a half-way
        // shortest-repr boundary cross-engine (the q76 flake class)
        expr("(n_dup_windows * 10000) div n_windows")
          .as("dup_coverage_bp"))
  }

  /** Hashed w-token windows: one (id, h) row per window of w
    * consecutive whitespace tokens (lowercased, empties dropped). Docs
    * with < w tokens emit nothing. Shared by [[substringDupScan]] and
    * [[decontaminate]] so both agree on tokenization and hashing. */
  private[graft] def tokenWindows(docs: DataFrame, idCol: String,
      textCol: String, w: Int): DataFrame =
    // r18: one md5 per token window (≈ per token) is CPU-bound —
    // spread the single-split fixture scan (identity at production
    // split counts; ops/Adaptive scaladoc)
    graft.ops.Adaptive.spread(
        docs.select(col(idCol).cast("long").as("id"), col(textCol)))
      .select(col("id"),
        filter(split(lower(col(textCol)), "\\s+"), t => length(t) > 0)
          .as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") >= w)
      .select(col("id"),
        explode(transform(sequence(lit(0), col("n") - w),
          i => md5(concat_ws(" ", slice(col("toks"), i + 1, lit(w))))))
          .as("h"))

  /** Benchmark decontamination (the GPT-3 / Gopher eval-overlap rule):
    * a training doc is contaminated when any of its w-token windows
    * also occurs in the held-out eval corpus. Reports every training
    * doc with its matching-window count; the admission filter is
    * `!contaminated`.
    *
    * Scale: the eval side is a benchmark — tiny by construction — so
    * its distinct window hashes usually broadcast and the probe is a
    * map-side semi-join over the linear training-window stream; the
    * only shuffle is the per-doc hit count on doc id. The broadcast is
    * NOT forced (ADVICE r5 #4): Catalyst decides by the eval side's
    * actual size against autoBroadcastJoinThreshold, so an
    * unexpectedly large eval corpus degrades to a shuffle join instead
    * of a driver OOM. A training doc with < w tokens has no window and
    * cannot be flagged.
    *
    * @return one row per training doc:
    *         (doc_id, n_hits, contaminated).
    */
  def decontaminate(train: DataFrame, evalDocs: DataFrame, idCol: String,
      textCol: String, w: Int = 8): DataFrame = {
    val evalH = tokenWindows(evalDocs, idCol, textCol, w)
      .select(col("h")).distinct()
    val hits = tokenWindows(train, idCol, textCol, w)
      .join(evalH, Seq("h"), "inner")
      .groupBy(col("id")).agg(count(lit(1)).as("n_hits"))
    train.select(col(idCol).cast("long").as("doc_id"))
      .join(hits.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  // ---- shingling + MinHash ----------------------------------------

  /** Distinct k-word shingles of one text: lowercased whitespace
    * tokens, each run of k joined by a space; a text of fewer than k
    * tokens is one shingle. The typed kernel behind [[shingleSets]] and
    * [[portableSignatures]]. */
  private def shingleSet(text: String,
      k: Int): scala.collection.mutable.HashSet[String] = {
    val toks = Option(text).getOrElse("").toLowerCase
      .split("\\s+").filter(_.nonEmpty)
    val set = new scala.collection.mutable.HashSet[String]
    if (toks.length < k) set += toks.mkString(" ")
    else {
      var i = 0
      while (i + k <= toks.length) {
        set += toks.slice(i, i + k).mkString(" ")
        i += 1
      }
    }
    set
  }

  // ---- n-gram Jaccard (exact verification) ------------------------

  /** Bulk shingle sets, (id, sh: sorted array<string>). */
  def shingleSets(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) => (id, shingleSet(text, shingleK).toArray.sorted) }
      .toDF("id", "sh")
  }

  /** Exact Jaccard over k-word shingle sets for given candidate pairs.
    * Joins shingle arrays back per side — runs only on the (small)
    * candidate set, never all-pairs. */
  def exactJaccard(docs: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3): DataFrame =
    exactJaccardCountsOn(shingleSets(docs, idCol, textCol, shingleK), pairs)
      .withColumn("jaccard",
        when(col("uni") > 0, col("inter") / col("uni").cast("double")).otherwise(0.0))
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** The pair counts (id_a, id_b, inter, uni) as BIGINTs over
    * [[shingleSets]] output. Gate/oracle callers derive integer ppm
    * from these (late r17 — a hashed `round(inter/uni, 6)` double can
    * flip at a half-way shortest-repr boundary cross-engine, the q76
    * flake class); library callers keep the double `jaccard` above. */
  def exactJaccardCountsOn(sh: DataFrame, pairs: DataFrame): DataFrame =
    intersections(sh, pairs)
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("n_a") + col("n_b") - col("inter")).as("uni"))

  /** The one verify of the exact set-similarity family: |sh(a) ∩ sh(b)|
    * for every (id_a, id_b) row of `pairs`, as (id_a, id_b, n_a, n_b,
    * inter) BIGINTs over DISTINCT sets `sets` (id, sh) — string or
    * hashed elements alike — so union is n_a + n_b − inter.
    *
    * Two shuffle-hash joins, not sort-merge: the second join's SMJ
    * would SORT the pair×array intermediate (the spill that caused the
    * 100× knee); hashing builds on the small per-doc side and STREAMS
    * the wide rows unsorted. SCALE.md r11 is the record of why this is
    * the only verify: its A/B measured the bucketed alternative (each
    * doc's array shipped once per pair-home bucket) slower and larger
    * at every operating point (uniform 100× q132: 58.8 s / 19.25 GiB
    * here vs 211.9 s / 21.67 GiB bucketed). */
  private def intersections(sets: DataFrame, pairs: DataFrame): DataFrame = {
    def side(s: String) = sets.hint("shuffle_hash")
      .select(col("id").as(s"id_$s"), col("sh").as(s"sh_$s"))
    pairs.select(col("id_a"), col("id_b"))
      .join(side("a"), Seq("id_a"))
      .join(side("b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(col("sh_a")).cast("long").as("n_a"),
        size(col("sh_b")).cast("long").as("n_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("inter"))
  }

  /** EXACT similarity join via prefix filtering (AllPairs/PPJoin
    * family, Bayardo et al. WWW'07): all pairs with shingle-set
    * Jaccard ≥ `threshold`, with NO approximation beyond the 64-bit
    * shingle identity — the deterministic sibling of the MinHash-LSH
    * candidate path.
    *
    * COLLISION CONTRACT (the one caveat on "exact"): shingles travel
    * as xxhash64 identities, so exactness is modulo 64-bit collisions
    * among DISTINCT shingle strings. With V distinct shingles
    * corpus-wide, P(any collision) ≈ V²/2⁶⁵ — under 3·10⁻⁶ even at
    * V = 10⁹ (a 100 TB-scale vocabulary). If one occurs it can merge
    * two shingle identities: a verify `inter` can over-count by the
    * collided element (jaccard drifts one element high) and the
    * rarest-first order can mis-rank the two collided shingles
    * (never drops a TRUE pair below threshold+1-element slack; may
    * admit a false pair at the boundary). `collisionGuard = true`
    * buys certainty for untrusted corpora: one extra distinct-count
    * pass that FAILS the job if any two distinct shingles collide
    * (count ≠ countDistinct(xxhash64)), instead of silently
    * answering. The gate fixtures are pinned collision-free by
    * `PrefixJoinSpec`, making q132/q150 unconditional.
    *
    * Why it scales: order every doc's shingles by ascending GLOBAL
    * frequency (rarest first, shingle string as tie-break). For
    * J(x,y) ≥ t the overlap obeys o ≥ ⌈t·|x|⌉, so if x and y share NO
    * shingle among x's first |x| − ⌈t·|x|⌉ + 1 rarest shingles, all o
    * shared shingles would have to fit in the remaining ⌈t·|x|⌉ − 1
    * positions — contradiction. Hence the equi-join on PREFIX
    * shingles finds every qualifying pair, and because prefixes hold
    * each doc's RAREST shingles, the join's per-key buckets are the
    * small tail of the frequency distribution — the head ("the quick
    * brown") never enters the shuffle. Candidates then verify exactly,
    * candidate-pairs-only ([[intersections]]).
    *
    * r10 scale rework (the 100× probe found the verify stage at 452 s
    * of a 500 s run — candidate pairs each shuffling two ~5 KB
    * array<string> columns, a ~200 GB exchange):
    *  - shingles carry through the plan as 64-bit `xxhash64`
    *    identities: the rank/count windows, the candidate join and the
    *    verify arrays all move longs, not strings. The Jaccard on
    *    hashed sets equals the string-set Jaccard unless two distinct
    *    co-candidate shingles collide in 64 bits (expected events
    *    < 1e-7 per run at any realistic corpus; `PrefixJoinSpec` pins
    *    the fixtures collision-free).
    *  - PPJoin POSITIONAL + LENGTH filters prune candidates before
    *    the verify join, in exact integer arithmetic (threshold as
    *    ppm, cross-multiplied — no float boundary): a matched prefix
    *    position (rk_a, rk_b) bounds the overlap by
    *    min(rk_a,rk_b) + min(n_a−rk_a, n_b−rk_b) because the global
    *    rarest-first order is CONSISTENT across docs (common
    *    elements before the match coincide on both sides); the pair
    *    keeps only if the tightest bound still reaches
    *    ⌈t/(1+t)·(n_a+n_b)⌉.
    *  - union = n_a + n_b − inter (no array_union).
    *
    * A fail-fast single-box disk check runs BEFORE any expensive
    * stage — see [[assertTransientDiskBudget]]; one scan-only agg,
    * then an immediate explanatory error where the r12 probes burned
    * >70 GB and died mid-verify.
    *
    * Output: (id_a, id_b, jaccard) for id_a < id_b, jaccard ≥ t. */
  def prefixFilterJoin(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.5,
      collisionGuard: Boolean = false): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    assertTransientDiskBudget(docs, textCol, "prefixFilterJoin")
    val T = math.floor(threshold * 1e6).toLong
    val shh = hashedShingleSets(docs, idCol, textCol, shingleK, collisionGuard)
    val (_, prefixes) = rarestFirst(shh, T)
    val candidates = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.tid") === col("b.tid") && col("a.id") < col("b.id"))
      // LENGTH filter: J(x,y) ≤ min/max, so T·max(n_a,n_b) ≤ 1e6·min
      .filter(greatest(col("a.n"), col("b.n")) * T <=
        least(col("a.n"), col("b.n")) * 1000000L)
      // per-match positional overlap bound (see scaladoc)
      .withColumn("ub",
        least(col("a.rk"), col("b.rk")) +
          least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk")))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))
      .agg(min(col("ub")).as("ub"))
      // o ≥ t/(1+t)·(n_a+n_b)  ⇔  o·(1e6+T) ≥ T·(n_a+n_b), exact longs
      .filter(col("ub") * (1000000L + T) >= lit(T) * (col("n_a") + col("n_b")))
    intersections(shh, candidates)
      .withColumn("jaccard", col("inter") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Each doc's shingle set as 64-bit hashed identities (id, sh
    * array<bigint>), the narrow representation both exact joins rank
    * and verify on, materialized once. `collisionGuard` checks the
    * STRING identities first (see [[assertHashesCollisionFree]]).
    *
    * r17 optimization round: the tokenize→shingle→hash kernel used to
    * re-execute once per plan consumer (the freq exchange, the
    * ranked-join instance side, and the verify arrays — three
    * independent lineages over the same text), and the freq/rank
    * exchanges carried STRING shingles. Hashing FIRST and eagerly
    * checkpointing the hashed sets runs the kernel exactly once; every
    * downstream stage (candidates and verify) reads 64-bit identities
    * from materialized blocks (guide §2.3 narrower types + §2.4 shared
    * subtree). Answer-equivalent under the family's standing 64-bit
    * collision contract: freq counted per hash equals freq per string
    * absent collisions. The r8 adjudication rejected COLUMNAR CACHING
    * of the string-array rows (12→21 s at sf0.1); the checkpoint
    * materializes the post-kernel LONG arrays instead — re-adjudicated
    * r17: all four family gates faster back-to-back (q132 6.83→4.77 s
    * etc., OPTIMIZATION_r17.md). */
  private def hashedShingleSets(docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int, collisionGuard: Boolean): DataFrame = {
    val sh = shingleSets(docs, idCol, textCol, shingleK)
    if (collisionGuard) assertHashesCollisionFree(
      sh.select(col("id"), explode(col("sh")).as("t")))
    // map-side: per-element xxhash64 via transform (no shuffle; the
    // interpreted higher-order cost is far below the exchange it
    // replaces — the array never leaves the map task as strings)
    graft.ops.Checkpoints.cut(
      sh.select(col("id"), transform(col("sh"), t => xxhash64(t)).as("sh")))
  }

  /** The rarest-first prefix index both exact joins share, over hashed
    * sets (id, sh array<bigint>). Returns (ranked, prefixes), both
    * (id, tid, rk, n): `ranked` holds every shingle instance with its
    * rank rk in the doc's ascending-global-frequency order (tid as
    * tie-break — any consistent global order is complete for the
    * prefix theorem); `prefixes` keeps each doc's first
    * n − ⌈T·n/10⁶⌉ + 1 ranks.
    *
    * Frequency per hash equals frequency per string under the family's
    * collision contract, so both the frequency aggregation and the
    * rank join move 64-bit identities end to end (r17). Set size RIDES
    * THROUGH the explode as a column (r11): sh is a distinct set so
    * size(sh) == the per-id instance count, and carrying it kills the
    * second Window pass the r10 form paid. */
  private def rarestFirst(shh: DataFrame, T: Long): (DataFrame, DataFrame) = {
    val inst = shh.select(col("id"), size(col("sh")).cast("long").as("n"),
      explode(col("sh")).as("tid"))
    val freq = inst.groupBy(col("tid")).agg(count(lit(1)).as("f"))
    val wRank = Window.partitionBy(col("id")).orderBy(col("f"), col("tid"))
    val ranked = inst.join(freq, Seq("tid"))
      .select(col("id"), col("n"), col("tid"), col("f"))
      .withColumn("rk", row_number().over(wRank).cast("long"))
      .select(col("id"), col("tid"), col("rk"), col("n"))
    // prefix length via the SAME integer T: ⌈T·n/1e6⌉ ≤ ⌈t·n⌉ exactly
    // in longs, so the kept prefix is never shorter than the theorem
    // requires (a double ceil(t·n) can land one element short when
    // t·n rounds up across an integer boundary)
    val prefixes =
      ranked.filter(expr(s"rk <= n - (($T * n + 999999) DIV 1000000) + 1"))
    (ranked, prefixes)
  }

  /** Measured aggregate-transient-shuffle constant for the exact
    * similarity-join family (SCALE.md r12, attributed with two dead
    * jobs): Spark keeps every stage's shuffle files until the job
    * ends, and the family's multi-stage pipeline (freq join, rank
    * window, candidate self-join + group, verify) sums to ~100× the
    * raw text input in transient shuffle REGARDLESS of verify shape —
    * both verify plans r12 measured died on the same corpus. */
  private val TransientShuffleFactor = 100L

  /** Fail-fast single-box disk-budget guard for the exact similarity-
    * join family (r13, VERDICT r12 #4). The two r12 1000× deaths each
    * burned >70 GB of shuffle spill and minutes of work before the OS
    * killed the JVM; this turns that into an immediate, explanatory
    * failure: one scan-only aggregation (no shuffle, no join — seconds
    * even at the corpus size that kills the box) estimates the
    * family's aggregate transient shuffle as
    * `sum(length(text)) · TransientShuffleFactor` and throws if it
    * exceeds the disk budget BEFORE any expensive stage launches.
    *
    * Budget = usable space on the first spark.local.dir (fallback
    * SPARK_LOCAL_DIRS, then java.io.tmpdir) × the executor count —
    * shuffle spill spreads across nodes on a real cluster, which is
    * exactly why the measured ~100×-input constant is a per-node
    * triviality there (~1.5 GB/node at the corpus that kills one box)
    * and why this guard fires only in the single-box regime it
    * protects. Override via the session conf
    * `graft.exactJoin.diskBudgetBytes` (specs; deliberately-sized
    * deployments; a budget above the estimate lets the join run).
    *
    * Deliberately INPUT-based, not candidate-based: the r12
    * attribution measured candidate volume exactly linear four decades
    * deep while BOTH verify shapes still died — the killer is
    * accumulation across stages, so input volume is the honest
    * predictor, and a candidates-derived lower estimate would
    * green-light a job the box still cannot hold. For corpora whose
    * candidate volume genuinely deviates, size the budget override
    * deliberately.
    *
    * The input-bytes scan is memoized per (session, canonicalized
    * input plan, resolved input files) — r14, VERDICT r13 #5: the
    * guard showed up as a +0.6–0.7 s re-scan on each of
    * q132/q150, and the prefix/containment siblings over
    * the same corpus share one estimate. Only the BYTES are cached
    * (the budget and the verdict are re-evaluated every call, so conf
    * overrides keep working mid-session). r15 (ADVICE r14 #1/#2): the
    * key folds in [[graft.ops.PlanFingerprint.inputFingerprint]] — a
    * 32-bit plan-hash alias between distinct inputs, or an input
    * directory rewritten behind an identical plan, now misses the memo
    * instead of silently reusing a stale byte count for a SAFETY
    * verdict; and the cache itself lives in [[graft.ml.ModelMemo]]
    * (weak session key, soft values), so dead-session entries evict
    * with the session instead of accumulating for the JVM's life. */
  private def assertTransientDiskBudget(docs: DataFrame, textCol: String,
      opName: String): Unit = {
    val spark = docs.sparkSession
    val memoKey = s"dedup-input-bytes:${
        docs.select(col(textCol)).queryExecution.analyzed.semanticHash()}:${
        graft.ops.PlanFingerprint.inputFingerprint(docs)}:$textCol"
    val inputBytes: Long = graft.ml.ModelMemo
      .cached[java.lang.Long](spark, memoKey)(
        java.lang.Long.valueOf(
          docs.agg(coalesce(sum(length(col(textCol)).cast("long")), lit(0L)))
            .head().getLong(0)))
      .longValue()
    val estimate = inputBytes * TransientShuffleFactor
    val budget = spark.conf.getOption("graft.exactJoin.diskBudgetBytes")
      .map(_.toLong).getOrElse {
      val localDir = spark.conf.getOption("spark.local.dir")
        .orElse(sys.env.get("SPARK_LOCAL_DIRS").map(_.split(",").head))
        .getOrElse(System.getProperty("java.io.tmpdir", "/tmp"))
      val nodes = spark.sparkContext.getExecutorMemoryStatus.size.max(1)
      new java.io.File(localDir).getUsableSpace * nodes.toLong
    }
    if (estimate > budget) throw new IllegalStateException(
      f"$opName disk-budget guard: ~${inputBytes / 1e9}%.1f GB of text " +
        f"implies ~${estimate / 1e9}%.0f GB of aggregate transient shuffle " +
        f"(measured ~${TransientShuffleFactor}x input, SCALE.md r12) against " +
        f"~${budget / 1e9}%.0f GB of local shuffle capacity — the exact " +
        "similarity join is a CLUSTER operator at this corpus size (its " +
        "candidate volume is measured-linear; the wall is single-box disk). " +
        "Alternatives on one box: minhashCandidatesPortable (the " +
        "approximate family member) or a higher threshold. To proceed " +
        "anyway, set " +
        "graft.exactJoin.diskBudgetBytes to the capacity you actually " +
        "have (e.g. per-node free x executor count on a sized cluster).")
  }

  /** The `collisionGuard` pass (eager by design — a guard that only
    * logged lazily would not guard): fails the job if any two DISTINCT
    * shingle strings share an xxhash64 identity anywhere in the
    * corpus, the one event that voids the prefix-join family's
    * exactness. One distinct + two-count aggregation over the
    * instance rows — a keyed shuffle of (shingle) strings, linear,
    * no joins. */
  private def assertHashesCollisionFree(inst: DataFrame): Unit = {
    val r = inst.select(col("t")).distinct()
      .agg(count(lit(1)).as("n"), countDistinct(xxhash64(col("t"))).as("nh"))
      .head()
    if (r.getLong(0) != r.getLong(1)) throw new IllegalStateException(
      s"prefix-join collision guard: ${r.getLong(0)} distinct shingles " +
        s"map to ${r.getLong(1)} xxhash64 identities — a 64-bit " +
        "collision voids the exactness contract on this corpus")
  }

  /** EXACT containment join (asymmetric near-dup, r9): ordered pairs
    * (a, b), a ≠ b, with |sh(a) ∩ sh(b)| / |sh(a)| ≥ `threshold` —
    * exact under the same 64-bit COLLISION CONTRACT as
    * [[prefixFilterJoin]] (P(any collision) ≈ V²/2⁶⁵ for V distinct
    * shingles; `collisionGuard = true` fail-fasts on untrusted
    * corpora instead of silently answering), with the same prefix
    * index ([[rarestFirst]]), verify ([[intersections]]) and disk
    * guard. The admission rule that catches EXCERPTS. A short doc
    * quoted inside a long one has Jaccard ≈ |A|/|B| (arbitrarily
    * small) but containment 1.0, so the symmetric family
    * (q35/q64/q132) structurally cannot flag it; dedup literature
    * treats containment as its own operator for exactly this reason.
    *
    * Prefix filter, containment form: c(a→b) ≥ t means B covers
    * ≥ ⌈t·|A|⌉ of A's shingles, so at most |A| − ⌈t·|A|⌉ are missing
    * and A's |A| − ⌈t·|A|⌉ + 1 RAREST shingles (global rarest-first
    * order, the q132 rule) must include one B covers. The left side
    * therefore ships prefixes only; the right side is the FULL
    * inverted index (asymmetric joins cannot prefix the indexed
    * side — containment puts no floor on |B|). Candidates verify
    * exactly; containment reports in integer ppm
    * (inter·10⁶ DIV |A|), so the result is oracle-replayable with no
    * float boundary.
    *
    * Scale: left prefixes live in the rare-shingle tail (head
    * shingles never leave the left side); the right index is the q41
    * posting shape. Output: (id_a, id_b, n_a, inter,
    * containment_ppm). */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int = 3, threshold: Double = 0.8,
      collisionGuard: Boolean = false): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold in (0, 1]")
    assertTransientDiskBudget(docs, textCol, "containmentJoin")
    // FLOOR for filter/verify consistency (ADVICE r10): here T is also
    // the verify boundary (containment_ppm >= T), so floor keeps the
    // candidate filters and the verify on the SAME integer threshold.
    val T = math.floor(threshold * 1e6).toLong
    val shh = hashedShingleSets(docs, idCol, textCol, shingleK, collisionGuard)
    // BOTH sides rank — the left to select its prefix, the right (full
    // index) so the positional filter has rk_b; the right side still
    // ships EVERY position (containment puts no floor on |B|, so the
    // indexed side cannot prefix).
    val (ranked, prefixes) = rarestFirst(shh, T)
    val candidates = prefixes
      .select(col("id").as("id_a"), col("tid"),
        col("rk").as("rk_a"), col("n").as("n_a"))
      .join(ranked.select(col("id").as("id_b"), col("tid"),
        col("rk").as("rk_b"), col("n").as("n_b")), Seq("tid"))
      .filter(col("id_a") =!= col("id_b"))
      // LENGTH filter: inter ≤ n_b and inter ≥ t·n_a ⇒ 1e6·n_b ≥ T·n_a
      .filter(col("n_b") * 1000000L >= lit(T) * col("n_a"))
      // positional bound on the shared-element count (consistent
      // global order ⇒ common-before-the-match coincides on both
      // sides): inter ≤ min(rk_a,rk_b) + min(n_a−rk_a, n_b−rk_b)
      .withColumn("ub", least(col("rk_a"), col("rk_b")) +
        least(col("n_a") - col("rk_a"), col("n_b") - col("rk_b")))
      .groupBy(col("id_a"), col("id_b"), col("n_a"))
      .agg(min(col("ub")).as("ub"))
      // inter ≥ ⌈t·n_a⌉  ⇔  ub·1e6 ≥ T·n_a, exact longs
      .filter(col("ub") * 1000000L >= lit(T) * col("n_a"))
    intersections(shh, candidates)
      .withColumn("containment_ppm", expr("inter * 1000000 DIV n_a"))
      .filter(col("containment_ppm") >= T)
      .select(col("id_a"), col("id_b"), col("n_a"), col("inter"),
        col("containment_ppm"))
  }

  // ---- SimHash -----------------------------------------------------

  /** Hamming distance between two simhashes (popcount of XOR via
    * binary-string trick — dialect-portable). */
  def hamming64(a: Column, b: Column): Column =
    length(regexp_replace(bin(a.bitwiseXOR(b)), "0", "")).cast("int")

  /** Width of each of `k` contiguous blocks of the 60-bit
    * [[simhashes60Portable]] code, as even as possible (wider first). */
  private def blockWidths(k: Int): Seq[Int] =
    Seq.tabulate(k)(i => 60 / k + (if (i < 60 % k) 1 else 0))

  /** The occupancy-preserving (kBlocks, keyBlocks) for a corpus — the
    * [[graft.llmops.Similarity.lshPlanesFor]] discipline applied to
    * SimHash blocking (r13, VERDICT r12 weak #1): the minimal
    * (maxHamming+1, 1) blocking's key space is FIXED (4·2¹⁶ buckets at
    * radius 3), so random-pair candidate volume grows ~ n²·k/2^keyBits
    * — measured SATURATED at 5M docs (1.12B candidates, local growth
    * exponent 1.42 and accelerating; SCALE.md r12). This picks the
    * smallest `keyBlocks` (hence fewest C(kBlocks, keyBlocks) index
    * tables) whose WORST table still holds expected bucket occupancy
    * ≤ `targetOccupancy`, with kBlocks = maxHamming + keyBlocks (the
    * table-count-minimal k for a given key width: more blocks only
    * narrow each block).
    *
    * Pure-integer selection (the lshPlanesFor no-wobble rule): the
    * conservative key width is the sum of the `keyBlocks` SMALLEST
    * block widths, and the occupancy test is a shift-divide —
    * `(n-1) >> keyBits < occ` — so the derivation is exact arithmetic
    * any replay reproduces. Ladder over the 60-bit code at radius 3,
    * occupancy 32: (4,1) ≤ ~1.05M docs · 4 tables; (5,2) ≤ ~537M · 10
    * tables; (6,3) ≤ ~34B · 20 tables; (7,4) ≤ ~275B · 35 tables.
    * Table count grows far slower than the decade it buys — the derived config
    * holds candidates linear where the fixed default is quadratic by
    * arithmetic. */
  def simhashBlocksFor(corpusSize: Long, maxHamming: Int,
      targetOccupancy: Long = 32L): (Int, Int) = {
    require(corpusSize > 0 && targetOccupancy > 0)
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming must be in [0, 31]")
    var t = 1
    while (t <= 16) {
      val k = maxHamming + t
      val keyBits = blockWidths(k).sorted.take(t).sum
      if (keyBits >= 60 || (corpusSize - 1) >> keyBits < targetOccupancy)
        return (k, t)
      t += 1
    }
    throw new IllegalStateException(
      s"simhashBlocksFor: no (kBlocks, keyBlocks) ladder point holds " +
        s"occupancy $targetOccupancy at corpusSize=$corpusSize, " +
        s"maxHamming=$maxHamming within 16 key blocks — the corpus is " +
        "beyond the 60-bit simhash key space; shard the corpus or raise " +
        "targetOccupancy deliberately")
  }

  /** SimHash near-dup pairs within a Hamming radius. Blocking is
    * pigeonhole-complete for the REQUESTED radius: the 60 bits of the
    * [[simhashes60Portable]] code are cut into `kBlocks` contiguous
    * blocks and every `keyBlocks`-subset of
    * blocks forms one index table whose key is the concatenation of
    * the chosen blocks (multi-index Hamming search, Manku et al.
    * WWW'07 §3 / HmSearch). A pair within Hamming `maxHamming`
    * differs in at most `maxHamming` blocks, so at least
    * `kBlocks − maxHamming` blocks agree — and any `keyBlocks ≤
    * kBlocks − maxHamming` of those form a table the pair collides
    * in. Candidates come from [[BucketPairs]] on (table, key).
    *
    * The blocking is DERIVED by default: with `kBlocks <= 0` it comes
    * from [[simhashBlocksFor]] on the live corpus size (one count() on
    * the cached simhash frame, which the joins reuse), so the key space
    * scales with the corpus instead of saturating. At ≤ ~1.05M docs and
    * radius 3 the derivation returns (4, 1), the minimal blocking; at
    * 5M docs it returns (5, 2), where the fixed (4, 1) blocking was
    * measured quadratic (1.12B candidates vs Manku-keyed tens of
    * millions). Passing explicit `(kBlocks, keyBlocks)` pins the
    * blocking; `keyBlocks` is ignored when kBlocks <= 0. Recall is
    * identical at every ladder point (pigeonhole is exact either way,
    * and the Hamming verify makes precision exact always); a wider
    * point costs C(kBlocks, keyBlocks) index rows per doc.
    *
    * @param maxBucketSize the [[BucketPairs]] flood cap per block
    *        bucket (an exact-dup flood shares every block bucket);
    *        None (default) preserves exact recall. */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Option[Int] = None,
      kBlocks: Int = 0, keyBlocks: Int = 1): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 32, "maxHamming must be in [0, 31]")
    val sh = simhashes60Portable(docs, idCol, textCol).cache()
    val (nBlocks, nKeyBlocks) =
      if (kBlocks <= 0) simhashBlocksFor(sh.count().max(1L), maxHamming)
      else (kBlocks, keyBlocks)
    require(nBlocks <= 60, "kBlocks must be <= 60")
    require(nKeyBlocks >= 1 && nKeyBlocks <= nBlocks - maxHamming,
      s"keyBlocks must be in [1, kBlocks - maxHamming] = [1, ${nBlocks - maxHamming}] " +
        "(pigeonhole: a radius-r pair is only guaranteed a fully-agreeing " +
        "keyBlocks-subset when keyBlocks <= kBlocks - r)")
    simhashBlockPairs(sh, blockWidths(nBlocks), nKeyBlocks, maxHamming,
      ascending = true, maxBucketSize)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** The SimHash tail shared by [[simhashPairs]] and
    * [[simhashNearProfilePortable]]: the (id, sh) codes cut into
    * contiguous blocks of `widths` bits, one index table per
    * `keyBlocks`-subset of blocks (key = the chosen
    * blocks packed), candidates from [[BucketPairs]], verified by
    * Hamming distance ≤ `maxHamming`. Output (id_a, id_b, sh_a, sh_b,
    * hamming). */
  private def simhashBlockPairs(sh: DataFrame, widths: Seq[Int],
      keyBlocks: Int, maxHamming: Int, ascending: Boolean,
      cap: Option[Int]): DataFrame = {
    val offsets = widths.scanLeft(0)(_ + _)
    def blockExpr(i: Int): Column =
      shiftrightunsigned(col("sh"), offsets(i)).bitwiseAND((1L << widths(i)) - 1L)
    // one struct per table: table id + packed concatenation of the
    // chosen blocks; combos enumerate at plan-build time, the explode
    // is C(k,t) rows
    val combos = widths.indices.combinations(keyBlocks).toSeq
    val blockStructs = array(combos.zipWithIndex.map { case (c, ci) =>
      val packed = c.foldLeft((lit(0L), 0)) { case ((acc, shift), bi) =>
        (acc.bitwiseOR(shiftleft(blockExpr(bi), shift)), shift + widths(bi))
      }._1
      struct(lit(ci).as("tbl"), packed.as("key"))
    }: _*)
    val blocks = sh.select(col("id"), explode(blockStructs).as("b"))
      .select(col("id"), col("b.tbl").as("tbl"), col("b.key").as("key"))
    BucketPairs.withPayload(BucketPairs(blocks, ascending, cap = cap), sh, "sh")
      .withColumn("hamming", hamming64(col("sh_a"), col("sh_b")))
      .filter(col("hamming") <= maxHamming)
  }

  // ---- the MinHash and SimHash kernels (md5, oracle-reproducible) ---
  //
  // One kernel per hash family. Every hash derives from md5 (which
  // DuckDB, Spark, and any POSIX stack compute identically) plus affine
  // arithmetic that is plain SQL, so the ENTIRE pipeline — signatures,
  // banding, bucket join, estimate — is reproducible hash-exact in the
  // DuckDB oracle, and every gate over it is hash-checked.

  /** Largest prime below 2^32 — the modulus of the affine permutation
    * family. a*h+b with a < 2^31 and h < 2^32 stays below 2^63, so the
    * arithmetic is exact in a signed 64-bit integer on BOTH engines
    * (DuckDB BIGINT errors on overflow rather than wrapping). */
  val portableP = 4294967291L

  /** Affine constants (a odd < 2^31, b < 2^31) from a fixed splitmix64
    * stream, exposed so the oracle SQL can embed the identical values
    * as literals. */
  def portableConstants(numHashes: Int): Array[(Long, Long)] = {
    var x = 0x243F6A8885A308D3L // fixed seed (pi), engine-independent
    def next(): Long = {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    Array.fill(numHashes)(((next() & 0x7FFFFFFFL) | 1L, next() & 0x7FFFFFFFL))
  }

  /** First 8 hex chars of md5 as an unsigned 32-bit value — equals
    * DuckDB `('0x' || substr(md5(s),1,8))::BIGINT` and Spark SQL
    * `conv(substr(md5(s),1,8),16,10)`. */
  private def md5Base32(md: java.security.MessageDigest, s: String): Long = {
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
      ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
  }

  /** Portable MinHash signatures, one row per doc: (id, sig). The
    * shared kernel of [[minhashCandidatesPortable]] and
    * [[incrementalAdmit]] — both sides of an incremental join MUST use
    * the same permutation constants or bucket collisions are noise. */
  def portableSignatures(docs: DataFrame, idCol: String, textCol: String,
      shingleK: Int, numHashes: Int): DataFrame = {
    val consts = portableConstants(numHashes)
    val p = portableP
    val spark = docs.sparkSession
    import spark.implicits._
    // r18: the 32-permutation md5 kernel is CPU-bound — spread its
    // input so a single-split fixture scan doesn't serialize it
    // (identity at production split counts; ops/Adaptive scaladoc)
    graft.ops.Adaptive.spread(
        docs.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, text) =>
          val sig = Array.fill(numHashes)(Long.MaxValue)
          shingleSet(text, shingleK).foreach { s =>
            val h = md5Base32(md, s)
            var j = 0
            while (j < numHashes) {
              val v = (consts(j)._1 * h + consts(j)._2) % p
              if (v < sig(j)) sig(j) = v
              j += 1
            }
          }
          (id, sig)
        }
      }.toDF("id", "sig")
  }

  /** Band rows for portable signatures: (id, band, band_key); band key
    * = the slice's values joined textually (equality-preserving AND
    * oracle-reproducible via string_agg ORDER BY i). */
  def portableBandRows(withSig: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val spark = withSig.sparkSession
    import spark.implicits._
    withSig.select(col("id"), col("sig")).as[(Long, Array[Long])]
      .flatMap { case (id, sig) =>
        (0 until bands).iterator.map { b =>
          (id, b, sig.slice(b * rowsPerBand, (b + 1) * rowsPerBand).mkString(","))
        }
      }.toDF("id", "band", "band_key")
  }

  /** MinHash-LSH near-dup candidates: md5-derived shingle hashes under
    * affine permutations mod [[portableP]], band buckets (key = the
    * comma-joined signature slice, not a second hash) through
    * [[BucketPairs]], verified by the fraction of agreeing signature
    * slots, est_jaccard rounded to 6 digits — every value the query
    * produces is reproducible in the DuckDB oracle.
    *
    * @param maxBucketSize the [[BucketPairs]] flood cap per band bucket;
    *        None (default) preserves exact recall.
    * @return (id_a, id_b, est_jaccard) for candidate pairs with
    *         signature-estimated Jaccard ≥ threshold, id_a < id_b. */
  def minhashCandidatesPortable(docs: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 2, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.3,
      maxBucketSize: Option[Int] = None): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    val withSig = portableSignatures(docs, idCol, textCol, shingleK, numHashes)
      .cache()
    val banded = portableBandRows(withSig, bands, rowsPerBand)
      .select(col("id"), col("band").as("tbl"), col("band_key").as("key"))
    BucketPairs.withPayload(
        BucketPairs(banded, ascending = true, cap = maxBucketSize),
        withSig, "sig")
      .withColumn("est_jaccard",
        aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select(col("id_a"), col("id_b"),
        round(col("est_jaccard"), 6).as("est_jaccard"))
  }

  /** 60-bit SimHash (Charikar 2002): token hash = the first 60 bits of
    * its md5, i.e. the first 15 hex chars (60 bits keeps every
    * intermediate in signed-64 range on both engines); each bit is the
    * sign of its frequency-weighted ±1 votes. */
  def simhashes60Portable(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // r18: per-token md5 + 60 bit votes is CPU-bound — spread the
    // single-split fixture scan (identity at production split counts)
    graft.ops.Adaptive.spread(
        docs.select(col(idCol).cast("long"), col(textCol)))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { case (id, text) =>
          val toks = Option(text).getOrElse("").toLowerCase
            .split("\\s+").filter(_.nonEmpty)
          val counts = new Array[Long](60)
          toks.foreach { t =>
            // first 8 digest bytes big-endian, top 60 bits kept
            val z = java.nio.ByteBuffer.wrap(md.digest(
              t.getBytes(java.nio.charset.StandardCharsets.UTF_8))).getLong >>> 4
            var b = 0
            while (b < 60) {
              if (((z >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
              b += 1
            }
          }
          var out = 0L
          var b = 0
          while (b < 60) { if (counts(b) > 0) out |= (1L << b); b += 1 }
          (id, out)
        }
      }.toDF("id", "sh")
  }

  /** SimHash near-dup profile: per doc, its 60-bit simhash and the
    * count of OTHER docs within `maxHamming`, found via the same
    * pigeonhole block join as [[simhashPairs]] (maxHamming+1 blocks, 15
    * bits each at radius 3). The DuckDB oracle recomputes
    * n_near by brute force, so a hash-match also PROVES the blocking
    * is candidate-complete at the requested radius.
    *
    * Not lazy: building the returned plan eagerly cuts the simhash
    * frame, so the call itself runs the SimHash kernel over `docs`. */
  def simhashNearProfilePortable(docs: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3): DataFrame = {
    // eager cut, not cache(): the plan fans `sh` into several BROADCAST
    // subtrees that execute as concurrent jobs, and a lazy cache is not
    // yet materialized when they race, so each job would recompute the
    // whole SimHash kernel. The cut materializes once, up front.
    val sh = graft.ops.Checkpoints.cut(
      simhashes60Portable(docs, idCol, textCol))
    val pairs = simhashBlockPairs(sh, blockWidths(maxHamming + 1),
      keyBlocks = 1, maxHamming, ascending = false, cap = None)
    val nNear = pairs.groupBy(col("id_a").as("id"))
      .agg(count(lit(1)).as("n_near"))
    sh.join(nNear, Seq("id"), "left")
      .select(col("id"), col("sh"),
        coalesce(col("n_near"), lit(0L)).as("n_near"))
  }

  // ---- incremental admission (new batch vs existing corpus) --------

  /** Incremental dedup admission: classify each doc of a NEW `batch`
    * against an EXISTING `corpus` without re-deduping the corpus —
    * the shape a production ingest actually runs (nobody re-pairs
    * 100 TB per delivery; cf. the dated-snapshot dumps RefinedWeb /
    * CCNet process incrementally). Verdicts per batch doc:
    *
    *  - `exact_dup`  — md5(text) collides with a corpus doc or an
    *    earlier (smaller-id) batch doc; `matched_id` = smallest such id.
    *  - `near_dup`   — portable MinHash-LSH candidate with estimated
    *    Jaccard ≥ `threshold` against a corpus doc (any id) or an
    *    earlier exact-surviving batch doc; `matched_id` = smallest
    *    matching id.
    *  - `admitted`   — enters the store (and, in production, its band
    *    rows enter the index).
    *
    * Batch-internal references are DECLARATIVE, not sequential: the
    * match targets are corpus docs plus smaller-id exact-canonical
    * batch docs (min-id-wins, the [[graft.llmops.Similarity.semanticDedup]]
    * convention), so the whole batch classifies in one plan with no
    * per-doc ordering dependency.
    *
    * Scale shape: the exact check is one hash equi-join on content
    * hash; the near check probes the band index with the batch's band
    * rows (|B|·bands) through [[BucketPairs.across]] — the index HERE
    * computed inline from the corpus half, in production read from the
    * stored (band, band_key → doc_id) bucketed table the previous runs
    * wrote, so per-delivery cost is ∝ |batch| + colliding buckets and
    * the corpus is never rescanned. NULL-text docs are dropped (they
    * carry no content to match on). */
  def incrementalAdmit(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 2, numHashes: Int = 32,
      bands: Int = 8, threshold: Double = 0.3): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    def prep(df: DataFrame) = df
      .select(col(idCol).cast("long").as("doc_id"), col(textCol).as("text"))
      .filter(col("text").isNotNull)
    val c = prep(corpus)
    val b = prep(batch)
    val far = Long.MaxValue

    // exact: content-hash join vs corpus + within-batch min-id window
    val bh = b.withColumn("h", md5(col("text")))
      .withColumn("bcanon", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
    val ch = c.groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("cmatch"))
    val ex = bh.join(ch, Seq("h"), "left")
      .withColumn("em", least(coalesce(col("cmatch"), lit(far)),
        when(col("bcanon") < col("doc_id"), col("bcanon")).otherwise(lit(far))))
      .withColumn("exact_match", when(col("em") < far, col("em")))
      .select(col("doc_id"), col("text"), col("exact_match"))

    // near: batch survivors' band rows probe the corpus index (any id)
    // and the smaller-id survivors
    val surv = ex.filter(col("exact_match").isNull)
      .select(col("doc_id"), col("text"))
    val sigC = portableSignatures(c, "doc_id", "text", shingleK, numHashes)
    val sigB = portableSignatures(surv, "doc_id", "text", shingleK, numHashes)
      .cache()
    def bandsOf(sig: DataFrame) = portableBandRows(sig, bands, rowsPerBand)
      .select(col("id"), col("band").as("tbl"), col("band_key").as("key"))
    val bandB = bandsOf(sigB)
    val cand = BucketPairs.across(bandB, bandsOf(sigC), lit(true))
      .unionByName(BucketPairs.across(bandB, bandB, col("id_b") < col("id_a")))
      .distinct()
      .select(col("id_a").as("qid"), col("id_b").as("tid"))
    val sigT = sigC.select(col("id").as("tid"), col("sig").as("sig_t"))
      .unionByName(sigB.select(col("id").as("tid"), col("sig").as("sig_t")))
    val nearm = cand
      .join(sigB.select(col("id").as("qid"), col("sig").as("sig_q")), Seq("qid"))
      .join(sigT, Seq("tid"))
      .withColumn("n_eq", aggregate(zip_with(col("sig_q"), col("sig_t"),
          (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v))
      .filter(col("n_eq").cast("double") / numHashes >= threshold)
      .groupBy(col("qid").as("doc_id"))
      .agg(min(col("tid")).as("near_match"))

    ex.join(nearm, Seq("doc_id"), "left")
      .withColumn("verdict",
        when(col("exact_match").isNotNull, lit("exact_dup"))
          .when(col("near_match").isNotNull, lit("near_dup"))
          .otherwise(lit("admitted")))
      .select(col("doc_id"), col("verdict"),
        coalesce(col("exact_match"), col("near_match")).as("matched_id"))
  }
}
