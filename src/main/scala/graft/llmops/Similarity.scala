package graft.llmops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * Three tiers:
  *  - `bruteForceTopK`: exact cosine top-k via broadcast join + window —
  *    the correctness baseline; right answer for corpus ≤ ~1M × small k.
  *  - `lshTopKPortable`: multi-table random-hyperplane LSH (Charikar
  *    2002) — sign-bit bucket key turns all-pairs into an equi-join.
  *    One sign-LSH kernel ([[portableBuckets]]): md5-derived ±1 planes
  *    over quantized integer vectors, so a DuckDB oracle replays every
  *    bucket.
  *  - `ivfTopK`: IVF (inverted-file) — KMeans centroids partition the
  *    corpus; queries probe the nearest `nProbe` cells. The 100 TB
  *    path: corpus shuffled once by cell, queries routed by a tiny
  *    broadcast centroid table.
  *
  * Dot products are higher-order-function expressions (zip_with +
  * aggregate in double precision) — codegen'd, no UDF serialization.
  */
object Similarity {

  /** Cosine similarity between two array<float|double> columns, computed
    * in double precision. */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, _.cast("double"))
    val bd = transform(b, _.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (s, v) => s + v)
    val na = sqrt(aggregate(ad, lit(0.0), (s, v) => s + v * v))
    val nb = sqrt(aggregate(bd, lit(0.0), (s, v) => s + v * v))
    when(na === 0 || nb === 0, 0.0).otherwise(dot / (na * nb))
  }

  /** Exact top-k neighbors for each query against the corpus.
    * corpus side is broadcast (caller guarantees it is the smaller /
    * bounded side); per-query top-k via window — TakeOrdered shape.
    * Excludes self-matches on equal ids. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.join(broadcast(c), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", graft.functions.VectorFunctions.cosineNative(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rn"))
  }

  // ---- sign-LSH (oracle-reproducible) ------------------------------

  /** ±1 hyperplane entry derived from md5 — reproducible as
    * `substr(md5(t||'_'||j||'_'||d),1,1)` high-bit in any engine. */
  def portableSign(t: Int, j: Int, d: Int): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val h = md.digest(s"${t}_${j}_${d}"
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if ((h(0) & 0x80) != 0) 1 else -1
  }

  /** Portable (md5-±1, quantized-integer) sign-LSH bucket assignment:
    * one row per (id, table, bucket) — exact integer arithmetic an
    * external oracle recomputes bit-for-bit. Shared by the top-k and
    * near-dup-pairs products. */
  private[llmops] def portableBuckets(vectors: DataFrame, nPlanes: Int,
      dim: Int, nTables: Int, idCol: String, vecCol: String): DataFrame = {
    val signs = Array.tabulate(nTables, nPlanes, dim)(portableSign)
    val spark = vectors.sparkSession
    import spark.implicits._
    // r18: nTables × nPlanes × dim multiply-adds per row is CPU-bound
    // — spread the single-split fixture scan (identity at production
    // split counts; ops/Adaptive scaladoc). The r18 sf1 leg showed the
    // 10× embedding corpus STILL scanning as one split.
    graft.ops.Adaptive.spread(
        vectors.select(col(idCol).as("id"), col(vecCol).as("v")))
      .as[(Long, Seq[Float])].flatMap { case (id, v) =>
        val qv = Array.tabulate(v.length)(d => math.floor(v(d).toDouble * 1000).toLong)
        (0 until nTables).iterator.map { t =>
          var bucket = 0L
          var j = 0
          while (j < nPlanes) {
            var dot = 0L
            var d = 0
            val n = math.min(dim, qv.length)
            while (d < n) { dot += qv(d) * signs(t)(j)(d); d += 1 }
            if (dot > 0) bucket |= (1L << j)
            j += 1
          }
          (id, t, bucket)
        }
      }.toDF("id", "tbl", "bucket")
  }

  /** Per-bucket occupancy targets for the two sign-LSH product
    * families — the operating points the gates DERIVE their plane
    * counts from ([[lshPlanesFor]]) instead of hard-coding nPlanes
    * (VERDICT r6 #6). Near-dup pairs verify candidate PAIRS, whose
    * per-bucket volume is occupancy², so the target is the verify
    * budget (~32² ≈ 1k cosine checks per bucket·table); top-k re-ranks
    * occupancy·nTables candidates per query, so a finer target keeps
    * that ~8·8 = 64 ≈ 13× k. Both reproduce the r6 fixture operating
    * points at the 500-vector verify corpus (4 and 6 planes). */
  val NearDupOccupancy = 32L
  val TopKOccupancy = 8L

  /** The near-dup family's DESIGN similarity in integer THOUSANDTHS
    * (r17 — the whole derivation chain is integer-quantized, VERDICT
    * r16 "Next round" #3) — the cosine a duplicate pair actually lives
    * at (planted-cluster dups measure ≈ 0.95; real near-dup corpora
    * ≈ 0.9+), which [[lshTablesFor]] sizes the table count against.
    * NOT the admission threshold: boundary pairs are don't-cares per
    * the regime-limit contract on [[lshTablesFor]]. */
  val NearDupDesignCosMilli = 900

  /** The top-k family's recall target at the design grade (r14 — the
    * last fixed sketch parameter, VERDICT r13 #3): each TRUE top-k
    * neighbor at the corpus's median k-th-neighbor cosine must collide
    * in ≥ 1 table with probability ≥ this. Neighbors closer than the
    * median are found with strictly higher probability, so expected
    * recall@k sits above the target for the average query. 0.5 (not
    * the near-dup family's 0.9) because top-k degrades gracefully — a
    * missed true neighbor is replaced by the next-best candidate, not
    * silently dropped from a dedup decision — and because on
    * near-orthogonal corpora (p per bit barely above ½) the table
    * count grows ∝ p^-nPlanes: holding 0.9 there costs ~3.3× the
    * tables of 0.5 for little ranking value. In PPM since r17 (the
    * integer derivation chain). */
  val TopKTargetRecallPpm = 500000L

  /** The near-dup family's recall target at its design grade, in ppm
    * — [[lshTablesFor]]'s default (a missed dup-grade pair silently
    * survives dedup, so the target is strict, unlike top-k's). */
  val NearDupTargetRecallPpm = 900000L

  /** The top-k family's DEFAULT probe radius (r16, VERDICT r15 #6):
    * multi-probe at Hamming radius 1. SCALE.md r15 measured radius 1
    * DOMINATING single-probe on both the portable and float paths —
    * ~8× fewer derived tables at equal-or-better recall (100×
    * operating point: 24 tables vs 193 at planes 13 / design cos 0.45;
    * measured recall 0.610 vs 0.590 float, 0.55 vs 0.42 derived-row
    * band) — so the zero-knob entry points ([[lshTopKPortable]],
    * [[graft.llmops.AnnIndexSnapshot]]) now
    * derive tables at radius 1 and probe accordingly. Radius 0 stays
    * reachable by passing `probeRadius = 0` explicitly (the pinned
    * single-probe math gates do). Folded into the ANN snapshot key, so
    * indexes derived under the old default miss by key instead of
    * serving a stale design point. */
  val TopKProbeRadius = 1

  /** Query count for [[topKDesignCosMilli]]'s bounded probe: enough for a
    * stable median, small enough that the probe costs ~5 hash passes. */
  val TopKDesignProbeQueries = 64

  /** Corpus size above which [[topKDesignCosMilli]] probes a deterministic
    * SAMPLE of the corpus instead of all of it (r15, VERDICT r14 #3 /
    * NOTES_r14 debt #3): the exact probe is one full corpus scan per
    * (plan, k); past this size the scan dominates the derivation it
    * feeds. Below it the exact probe is cheap and stays the default. */
  val TopKDesignSampleThreshold = 1000000L

  /** Neighbor-pool size the sampled probe scans — constant probe cost
    * regardless of corpus size once sampling engages. */
  val TopKDesignSampleSize = 200000L

  /** Data-driven DESIGN similarity for the top-k family, in integer
    * THOUSANDTHS since r17 (VERDICT r16 "Next round" #3 — the last
    * approximate seam): the median k-th-neighbor quantized cosine of a
    * deterministic bounded query probe (the [[TopKDesignProbeQueries]]
    * smallest ids) against the full corpus — or, past
    * [[TopKDesignSampleThreshold]] vectors, against a deterministic
    * [[TopKDesignSampleSize]]-vector hash sample
    * ([[topKDesignCosSampledMilli]], whose scaladoc proves the sampled
    * estimate errs only toward over-provisioning).
    *
    * EXACT ARITHMETIC end to end: vectors are quantized to the
    * portable bucket math's fixed point (xq = floor(x·1000)); each
    * pair's floor(1000·dot/√(|a|²·|b|²)) is computed by a double
    * estimate corrected against the defining inequality in exact
    * decimal(38,0) arithmetic, so the value is the TRUE mathematical
    * floor whatever the engine's float rounding; the k-th LARGEST of
    * an integer multiset and the median of 64 integers are
    * tie-insensitive selections. A DuckDB oracle replays the whole
    * probe bit-for-bit with HUGEINT compares (q66).
    * Unlike near-dup (where the design grade is a property of what a
    * duplicate IS, ≈ 0.9 on any corpus), the top-k design grade is a
    * property of THIS corpus's neighbor structure — a constant would
    * be wrong in both directions (real embedding corpora: neighbors at
    * ~0.9, a 0.4 constant over-provisions ~20×; synthetic
    * near-orthogonal corpora: the constant under-recalls).
    *
    * Scale shape: broadcast the 64 probe queries, scan the corpus
    * once, per-query top-k via the k-bounded partial aggregator
    * ([[graft.ops.TopK.viaAggregator]] — shuffle carries ≤ k rows per
    * query per map partition, no single-task sort). Cost ≈ 64/nPlanes
    * extra hash-pass equivalents, memoized per (session, input plan,
    * resolved input files, k) — a caller deriving tables for several
    * lshTopKPortable invocations over the same corpus pays the probe once.
    * r15 (ADVICE r14 #2): the memo lives in [[graft.ml.ModelMemo]]
    * (weak session key, soft values — dead-session entries evict with
    * the session) and the key folds in
    * [[graft.ops.PlanFingerprint.inputFingerprint]], so a rewritten
    * input directory behind an identical plan re-probes instead of
    * reusing a stale design point. Deterministic: probe ids are the
    * sorted smallest, the aggregator's kept set is the max-k of a
    * total order (score desc, id asc). */
  def topKDesignCosMilli(vectors: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): Int = {
    val planHash = vectors.select(col(idCol), col(vecCol))
      .queryExecution.analyzed.semanticHash()
    val fp = graft.ops.PlanFingerprint.inputFingerprint(vectors)
    graft.ml.ModelMemo.cached[java.lang.Integer](vectors.sparkSession,
        s"topk-design-milli:$planHash:$fp:$k")(
      java.lang.Integer.valueOf(
        topKDesignCosUncached(vectors, k, idCol, vecCol)))
      .intValue()
  }

  private def topKDesignCosUncached(vectors: DataFrame, k: Int,
      idCol: String, vecCol: String): Int = {
    val n = vectors.count()
    if (n <= TopKDesignSampleThreshold)
      designCosMilliAgainstPool(vectors, vectors, k, idCol, vecCol,
        math.min(TopKDesignProbeQueries.toLong, n))
    else sampledWithKnownCount(vectors, k, TopKDesignSampleSize, n,
      idCol, vecCol)
  }

  /** SAMPLED design probe (r15, VERDICT r14 #3): the kth-neighbor
    * cosine of the standard bounded query probe measured against a
    * deterministic hash-sampled NEIGHBOR POOL of ~`sampleTarget`
    * vectors, instead of the full corpus. Probe cost is one
    * constant-size scan however large the corpus.
    *
    * SAFE-DIRECTION INEQUALITY (the contract that makes sampling
    * admissible for a safety-relevant derivation): for every query,
    * the kth-best cosine within a SUBSET of the candidates is ≤ the
    * kth-best within all of them — dropping candidates can only push
    * the kth neighbor further away — and the median of componentwise-
    * ≤ vectors is ≤, so
    *   sampledDesignCos ≤ exactDesignCos   (spec-pinned on fixtures).
    * A lower design cosine means lower per-bit agreement p, and
    * [[lshTablesFor]] is monotone decreasing in p — so the sampled
    * probe can only OVER-provision tables (more recall than the
    * target), never under. The estimate degrades gracefully: at
    * sample fraction f the pool's kth neighbor approximates the full
    * corpus's (k/f)-th neighbor, so very aggressive sampling buys
    * extra tables, not missed recall.
    *
    * Determinism: pool membership is a pure hash of the id (the
    * PORTABLE md5 per-million bucket — [[graft.reco.Splits
    * .hashBucketPortable]], r17: the sampling seam's last
    * engine-specific input, xxhash64, is retired so an external
    * engine can reproduce the pool too), partitioning-independent;
    * queries are the same sorted-smallest ids as the exact probe and
    * are NOT restricted to the pool. md5's ~3×/byte cost over
    * xxhash64 is one map-side hash per row on a path that exists to
    * avoid full-corpus dot products — noise. */
  def topKDesignCosSampledMilli(vectors: DataFrame, k: Int,
      sampleTarget: Long, idCol: String = "vec_id",
      vecCol: String = "embedding"): Int =
    sampledWithKnownCount(vectors, k, sampleTarget, vectors.count(),
      idCol, vecCol)

  /** [[topKDesignCosSampledMilli]] with the corpus count already in
    * hand — the dispatch path ([[topKDesignCosUncached]]) has just
    * counted for the threshold test and must not pay a second count
    * job on exactly the path that exists to cut probe cost (r15
    * review). */
  private def sampledWithKnownCount(vectors: DataFrame, k: Int,
      sampleTarget: Long, n: Long, idCol: String, vecCol: String): Int = {
    require(sampleTarget > k,
      s"sampleTarget=$sampleTarget must exceed k=$k")
    val pool =
      if (n <= sampleTarget) vectors
      else {
        val cutoffPerMillion =
          math.max(1L, sampleTarget * 1000000L / n)
        vectors.filter(
          graft.reco.Splits.hashBucketPortable(col(idCol),
            "graft-designcos") < cutoffPerMillion)
      }
    designCosMilliAgainstPool(vectors, pool, k, idCol, vecCol,
      math.min(TopKDesignProbeQueries.toLong, n))
  }

  /** The exact floor(1000·dot/√(qn2·cn2)) as column math over integer
    * (dot, qn2, cn2) columns: a double ESTIMATE (absolute error ≪ 1 at
    * |value| ≤ 1000) corrected against the defining inequality
    * c ≤ 1000·dot/√(qn2·cn2) ⟺ a sign-aware square compare in exact
    * decimal(38,0) — so the result is the true mathematical floor
    * whatever the engine's float rounding. Zero-norm pairs define
    * cos = 0. Package-private seam: the design probe uses it, and the
    * property spec drives it over signed/boundary inputs a real
    * probe's kth-largest selection could mask. */
  private[llmops] def exactCosMilliCol(dotC: Column, qn2: Column,
      cn2: Column): Column = {
    val dec = "decimal(38,0)"
    def le(c: Column): Column = {
      val lhs = (c * c).cast(dec) * (qn2.cast(dec) * cn2.cast(dec))
      val rhs = dotC.cast(dec) * dotC.cast(dec) * lit(1000000L).cast(dec)
      when(c <= 0 && dotC >= 0, lit(true))
        .when(c > 0 && dotC < 0, lit(false))
        .when(c > 0, lhs <= rhs)
        .otherwise(lhs >= rhs)
    }
    // clamp in DOUBLE before the long cast: a zero-norm pair divides
    // by zero (±Inf/NaN) and ANSI mode would throw on the cast; the
    // clamped estimate is then overridden by the zero-norm branch
    val f0 = greatest(lit(-1001.0), least(lit(1001.0),
      floor(lit(1000.0) * dotC /
        sqrt(qn2.cast("double") * cn2.cast("double")))))
      .cast("long")
    when(qn2 === 0 || cn2 === 0, lit(0L))
      .when(!le(f0), f0 - 1)
      .when(le(f0 + 1), f0 + 1)
      .otherwise(f0)
  }

  /** Shared probe core: median kth-neighbor QUANTIZED cosine (integer
    * thousandths, exact floor) of the bounded query probe (the
    * [[TopKDesignProbeQueries]] smallest ids of `vectors`) against
    * `pool` (the full corpus for the exact probe, a hash sample for
    * [[topKDesignCosSampledMilli]]). `nQueries` is the probe's
    * realized size (min(probe limit, corpus)) — known to both callers
    * without a job. A probe query with FEWER than k pool candidates
    * has no rn = k row; it is padded with the −990 floor rather than
    * silently dropped (r15 review): dropping would take the sampled
    * median over a different query set than the exact median, which
    * can break the sampled ≤ exact safe-direction inequality when the
    * realized pool is barely above k. The floor pad is trivially ≤ any
    * exact kth value, so the inequality is unconditional (floors are
    * monotone, so the r15 proof carries over to the quantized values
    * unchanged).
    *
    * The exact floor: v = 1000·dot/√(|q|²·|c|²) over the quantized
    * integer vectors; a double ESTIMATE of floor(v) (absolute error
    * ≪ 1 at |v| ≤ 1000) is corrected against the defining inequality
    * c ≤ v ⟺ sign-aware square compare in decimal(38,0) — so the
    * result is the true floor regardless of float rounding, and the
    * DuckDB oracle's HUGEINT replay lands on the same integer. */
  private def designCosMilliAgainstPool(vectors: DataFrame, pool: DataFrame,
      k: Int, idCol: String, vecCol: String, nQueries: Long): Int = {
    def quantized(df: DataFrame, id: String, vq: String, n2: String) =
      df.select(col(idCol).cast("long").as(id),
          transform(col(vecCol),
            x => floor(x.cast("double") * lit(1000)).cast("long")).as(vq))
        .withColumn(n2,
          aggregate(col(vq), lit(0L), (s, v) => s + v * v))
    val probe = quantized(
      vectors.select(col(idCol), col(vecCol)).orderBy(col(idCol))
        .limit(TopKDesignProbeQueries), "query_id", "qq", "qn2")
    val cand = quantized(pool, "neighbor_id", "cq", "cn2")
    val dot = aggregate(zip_with(col("qq"), col("cq"), (a, b) => a * b),
      lit(0L), (s, v) => s + v)
    val scored = cand.join(broadcast(probe),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("dot", dot)
      .withColumn("fm", exactCosMilliCol(col("dot"), col("qn2"), col("cn2")))
    val found = graft.ops.TopK.viaAggregator(
        scored.select(col("query_id"), col("neighbor_id"),
          col("fm").cast("double").as("fm")),
        "query_id", "neighbor_id", "fm", k)
      .filter(col("rn") === k)
      .select(col("fm")).collect().map(_.getDouble(0).toInt)
    require(nQueries > 0, s"topKDesignCosMilli: empty corpus")
    require(found.nonEmpty,
      s"topKDesignCosMilli: no probe query has k=$k pool candidates — the " +
        "corpus (or the sample pool) is too small for this k")
    val kth = (found ++
      Array.fill((nQueries - found.length).toInt.max(0))(-990)).sorted
    math.min(math.max(kth(kth.length / 2), -990), 990)
  }

  /** The occupancy-preserving nPlanes for a corpus: smallest plane
    * count keeping expected per-bucket occupancy ≤ `targetOccupancy`
    * (bucket count is 2^nPlanes per table). This is the discipline the
    * r6 scale probe measured: fixed planes ⇒ candidate volume
    * ~ n²/2^nPlanes (exponent 1.67 at 10×); holding n/2^nPlanes
    * constant ⇒ ~linear (0.21). Recall lost to extra planes is
    * recovered with more tables: per-table recall p^nPlanes, overall
    * 1-(1-p^nPlanes)^nTables.
    *
    * Pure-integer selection (no log/ceil): the DuckDB oracles replay
    * the same rule as `min(j) WHERE (n-1) / (1 << j) < occ` (division
    * form — DuckDB evaluates the predicate for every j with no
    * short-circuit, so the multiplicative form would overflow INT64
    * at high j), and both engines pick identical planes with no
    * float-boundary wobble. */
  def lshPlanesFor(corpusSize: Long, targetOccupancy: Long = 160): Int = {
    require(corpusSize > 0 && targetOccupancy > 0)
    var j = 1
    // divide instead of shifting targetOccupancy up: no Long overflow
    // however large the corpus
    while (j < 62 && (corpusSize - 1) / (1L << j) >= targetOccupancy) j += 1
    j
  }

  /** Live operating point: planes for THIS corpus at the family's
    * occupancy target. One count() per call — metadata-cheap on
    * parquet, negligible next to the LSH pass it parameterizes. */
  def autoPlanes(vectors: DataFrame, targetOccupancy: Long): Int =
    lshPlanesFor(vectors.count(), targetOccupancy)

  // ---- integer derivation chain (r17, VERDICT r16 "Next round" #3):
  // every step from the quantized design cosine to the table count is
  // exact integer arithmetic an external engine replays bit-for-bit —
  // the lshPlanesFor no-wobble discipline extended to the recall side.
  // The ONLY float left is acos, evaluated ONCE per quantized input by
  // [[bitAgreementPpm]]; the DuckDB oracles embed its values as a
  // Scala-GENERATED integer list (the lshTablesCaseSql precedent), so
  // no transcendental ever crosses engines.

  /** Per-bit sign-agreement probability p = 1 − acos(c)/π for a pair
    * at design cosine `designCosMilli`/1000, floored to ppm. A pure
    * math table over the quantized domain — corpus-independent. */
  def bitAgreementPpm(designCosMilli: Int): Long = {
    require(designCosMilli >= -990 && designCosMilli <= 990,
      s"designCosMilli $designCosMilli outside the probe's clamp [-990, 990]")
    math.floor(
      (1.0 - math.acos(designCosMilli / 1000.0) / math.Pi) * 1e6).toLong
  }

  /** ppm^e with floor at EVERY multiply — the rounding both engines
    * replay identically (intermediates ≤ 1e12, no overflow). */
  def powPpm(ppm: Long, e: Int): Long = {
    require(ppm >= 0L && ppm <= 1000000L && e >= 0)
    var r = 1000000L
    var i = 0
    while (i < e) { r = r * ppm / 1000000L; i += 1 }
    r
  }

  /** Per-table candidate-collision probability in ppm for a pair at
    * bit-agreement `pPpm` when each query probes its own bucket plus
    * every bucket within Hamming distance `radius` (multi-probe, Lv et
    * al. VLDB 2007 on sign buckets): Σ_{i≤radius} C(nPlanes,i) ·
    * p^(nPlanes−i) · (1−p)^i, each term floored through [[powPpm]].
    * Flooring only UNDER-states the probability, which over-provisions
    * tables — the safe direction, same as the sampled design probe. */
  def multiProbeCollisionPpm(nPlanes: Int, pPpm: Long, radius: Int): Long = {
    require(radius >= 0 && radius <= 2, "probe radius 0..2 supported")
    require(pPpm >= 0L && pPpm <= 1000000L)
    val qPpm = 1000000L - pPpm
    val t0 = powPpm(pPpm, nPlanes)
    val t1 = if (radius >= 1)
      nPlanes.toLong * (powPpm(pPpm, nPlanes - 1) * qPpm / 1000000L)
    else 0L
    val t2 = if (radius >= 2)
      (nPlanes.toLong * (nPlanes - 1) / 2) *
        (powPpm(pPpm, nPlanes - 2) * (qPpm * qPpm / 1000000L) / 1000000L)
    else 0L
    t0 + t1 + t2
  }

  /** Smallest table count holding overall recall
    * 1 − (1 − perTable)^t ≥ target at the DESIGN similarity — fully
    * integer since r17: the loop multiplies the miss probability in
    * ppm with floor rounding until it drops under (1e6 − target),
    * exactly the iteration the DuckDB oracle replays as a recursive
    * CTE, so the derived count is engine-independent BY CONSTRUCTION
    * (the float log1p/ceil chain could flip on an acos ulp).
    *
    * Same honest scaling law and REGIME LIMIT as ever (see the r12-r14
    * scaladoc history in git): under occupancy scaling tables grow
    * ∝ n^log₂(1/p); boundary-grade pairs are unrecoverable by table
    * count — the 4096 guard says so loudly instead of silently
    * under-recalling. */
  def lshTablesFor(nPlanes: Int, designCosMilli: Int,
      targetRecallPpm: Long = NearDupTargetRecallPpm,
      probeRadius: Int = 0): Int = {
    require(targetRecallPpm > 0L && targetRecallPpm < 1000000L,
      "targetRecallPpm in (0, 1e6)")
    require(nPlanes >= 1 && nPlanes < 62)
    val pPpm = bitAgreementPpm(designCosMilli)
    val perTablePpm = multiProbeCollisionPpm(nPlanes, pPpm, probeRadius)
    val missLimitPpm = 1000000L - targetRecallPpm
    val missPpm = 1000000L - perTablePpm
    var t = 1
    var r = missPpm
    while (r > missLimitPpm && t < 4096) { r = r * missPpm / 1000000L; t += 1 }
    require(r <= missLimitPpm,
      s"lshTablesFor: holding recall ${targetRecallPpm}ppm at designCosMilli=" +
        s"$designCosMilli needs > 4096 tables at nPlanes=$nPlanes — the " +
        "operating point is outside sign-LSH's useful regime; raise the " +
        "design similarity, use multi-probe, or prefilter (PQ/SemDeDup)")
    t
  }

  /** Approximate top-k via multi-table sign-LSH (OR-amplification):
    * `nTables` independent `nPlanes`-bit sign buckets; candidates share
    * a bucket in ANY table. Recall ≈ 1-(1-p^b)^L for bit-agreement prob
    * p — single-table LSH collapses on near-orthogonal data, multi-table
    * doesn't (standard construction, MMDS ch.3). Embeddings are
    * quantized to `floor(x*1000)` integers and hyperplanes to
    * md5-derived ±1, so bucket assignment is EXACT integer arithmetic
    * (order-independent, no float-sum nondeterminism) that the DuckDB
    * oracle recomputes bit-for-bit. Candidates and re-rank are
    * [[selfTopKFromBuckets]]; the final cosine uses the same
    * double-precision path the oracle already matches on q37.
    * Quantization only affects which bucket a near-zero dot lands in —
    * recall behavior is unchanged. Zero-knob defaults (`nPlanes = 0` ⇒
    * [[autoPlanes]] at [[TopKOccupancy]]; `nTables = 0` ⇒
    * [[lshTablesFor]] at [[topKDesignCosMilli]] holding
    * [[TopKTargetRecallPpm]]) and the [[TopKProbeRadius]] default:
    * radius 1 needs ~8× fewer derived tables than single-probe at the
    * measured 100× operating point (24 vs 193 at planes 13, design cos
    * 0.45) for ~1.75× more candidate verifications; radius 0 stays
    * reachable explicitly (the pinned single-probe math gates pass
    * it). */
  def lshTopKPortable(vectors: DataFrame, k: Int, nPlanes: Int = 0, dim: Int,
      nTables: Int = 0, probeRadius: Int = TopKProbeRadius,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val planes = if (nPlanes > 0) nPlanes
      else autoPlanes(vectors, TopKOccupancy)
    val numTables = if (nTables > 0) nTables
      else lshTablesFor(planes, topKDesignCosMilli(vectors, k, idCol, vecCol),
        TopKTargetRecallPpm, probeRadius)
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val withB = portableBuckets(vectors, planes, dim, numTables, idCol, vecCol)
    selfTopKFromBuckets(base, withB, k, probeRadius, planes)
  }

  /** Shared self-top-k tail of the sign-LSH family: [[BucketPairs]]
    * candidates (id_a ≠ id_b) over the (id, tbl, bucket) frame `withB`,
    * then the [[BucketPairs.cosineTopK]] re-rank against `base`
    * (id, v). `withB` is freshly computed ([[portableBuckets]]) or
    * loaded from a persisted index snapshot
    * ([[graft.llmops.AnnIndexSnapshot]]) — ONE implementation, so the
    * persisted path cannot diverge from the computed one.
    * `probeRadius > 0` expands the QUERY side with the Hamming-ball XOR
    * masks (needs `nPlanes` for the mask set); the index side — and
    * therefore a persisted snapshot — is radius-independent. */
  private[llmops] def selfTopKFromBuckets(base: DataFrame, withB: DataFrame,
      k: Int, probeRadius: Int = 0, nPlanes: Int = 0): DataFrame = {
    require(probeRadius == 0 || nPlanes > 0,
      "selfTopKFromBuckets: multi-probe needs the plane count for masks")
    val pairs = BucketPairs(
      withB.select(col("id"), col("tbl"), col("bucket").as("key")),
      ascending = false, BucketPairs.probeMasks(nPlanes, probeRadius))
    BucketPairs.cosineTopK(BucketPairs.withPayload(pairs, base, "v"), k)
  }

  /** Embedding near-duplicate PAIRS through the bucketed LSH candidate
    * path — the scale plan for the product that
    * [[graft.queries.Llm.embeddingNearDups]] (q97) anchors with exact
    * all-pairs: [[BucketPairs]] candidates (id_a < id_b) over the
    * portable sign buckets, exact-cosine verified against `threshold` on
    * the round-6 value (identical comparison to q97, so a surviving pair
    * is bit-identical to the all-pairs pair).
    *
    * The portable quantized-sign buckets let an external oracle replay
    * the whole product hash-exactly; recall vs the all-pairs truth is
    * 1-(1-p^nPlanes)^nTables for bit-agreement prob p = 1-θ/π, measured
    * by the companion recall gate (q97c).
    *
    * Both sketch parameters derive from the corpus by default. Bucket
    * count is 2^nPlanes per table, so at FIXED nPlanes the candidate
    * volume grows ~ n²/2^nPlanes (measured exponent 1.41 at 10×);
    * `nPlanes = 0` derives it via [[autoPlanes]] at [[NearDupOccupancy]],
    * holding per-bucket occupancy constant (measured ~linear). Recall
    * lost to extra planes is recovered with more tables: `nTables = 0`
    * derives them via [[lshTablesFor]] at [[NearDupDesignCosMilli]] (a
    * fixed 8 tables measured dup-grade recall 0.998 → 0.855 across 100×
    * corpus growth; the derived count restored 0.943 — and see the
    * boundary-grade REGIME LIMIT on [[lshTablesFor]]). Pass explicit
    * values to pin an operating point (the recall gates do).
    * `probeRadius > 0` XOR-probes Hamming-≤r buckets on the probe side,
    * and the derived table count shrinks by the same collision-prob
    * ratio (~4× at the near-dup design cos); the default 0 is what the
    * oracled gates replay. */
  def lshNearDupPairsPortable(vectors: DataFrame, threshold: Double,
      nPlanes: Int = 0, dim: Int, nTables: Int = 0, probeRadius: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val planes = if (nPlanes > 0) nPlanes
      else autoPlanes(vectors, NearDupOccupancy)
    val tables = if (nTables > 0) nTables
      else lshTablesFor(planes, NearDupDesignCosMilli, probeRadius = probeRadius)
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
    val withB = portableBuckets(vectors, planes, dim, tables, idCol, vecCol)
      .select(col("id"), col("tbl"), col("bucket").as("key"))
    BucketPairs.withPayload(BucketPairs(withB, ascending = true,
        BucketPairs.probeMasks(planes, probeRadius)), base, "v")
      .withColumn("cos", round(
        graft.functions.VectorFunctions.cosineNative(col("v_a"), col("v_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Label-seeded integer-centroid cell routing shared by
    * [[ivfTopKPortable]] and [[ivfPqTopKPortable]]: every vector gets
    * its top-1 cell (`assigned`: id, v, cell) and its `nProbe` nearest
    * cells (`probes`: query_id, qv, cell). Routing cosine = exact Long
    * dot/norms combined in IEEE doubles (r6 adjudication: bit-stable
    * across both engines). */
  private def portableIvfRouting(vectors: DataFrame, nProbe: Int,
      idCol: String, vecCol: String,
      labelCol: String): (DataFrame, DataFrame) = {
    val base = vectors.select(col(idCol).as("id"), col(vecCol).as("v"),
      col(labelCol).as("lbl"))
    // integer centroids per label: order-independent long sums
    val centQ = base
      .select(col("lbl"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("lbl"), col("pos"))
      .agg(sum(floor(col("x").cast("double") * 1000)).as("m"))
      .groupBy(col("lbl"))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("lbl").as("cell"),
        transform(col("pm"), _.getField("m")).as("centroid"))
      .withColumn("cnorm",
        aggregate(col("centroid"), lit(0L), (s, v) => s + v * v))
    val withQ = base
      .withColumn("qd", transform(col("v"), x => floor(x.cast("double") * 1000)))
      .withColumn("qnorm", aggregate(col("qd"), lit(0L), (s, v) => s + v * v))
    // exact-integer routing cosine vs every centroid (tiny broadcast)
    val routed = withQ.crossJoin(broadcast(centQ))
      .withColumn("dot", aggregate(
        zip_with(col("qd"), col("centroid"), (a, b) => a * b),
        lit(0L), (s, t) => s + t))
      .withColumn("ccos",
        when(col("qnorm") === 0 || col("cnorm") === 0, lit(0.0))
          .otherwise(col("dot").cast("double") /
            (sqrt(col("qnorm").cast("double")) * sqrt(col("cnorm").cast("double")))))
    val assignW = Window.partitionBy(col("id"))
      .orderBy(col("ccos").desc, col("cell"))
    val assigned = routed
      .withColumn("ar", row_number().over(assignW))
      .filter(col("ar") === 1)
      .select(col("id"), col("v"), col("cell"))
    val probes = routed
      .withColumn("pr", row_number().over(assignW))
      .filter(col("pr") <= nProbe)
      .select(col("id").as("query_id"), col("v").as("qv"), col("cell"))
    (assigned, probes)
  }

  /** Portable IVF-Flat: cells are integer-quantized label-seeded
    * centroids, so the WHOLE index — centroid build, corpus
    * assignment, query routing — is exact arithmetic an external
    * oracle replays bit-for-bit (the IVF twin of [[lshTopKPortable]]).
    *
    * Centroid `c[lbl][d] = Σ_v floor(v[d]·1000)` over the label's
    * vectors — an un-normalized integer mean, which ranks identically
    * to the mean under cosine (scale invariance). Every routing cosine
    * is `dot/(sqrt(na)·sqrt(nb))` over exactly-representable integer
    * doubles (|dot| ≲ 1e10, norms ≲ 4e12 — all < 2^53), and IEEE
    * sqrt/mul/div are correctly rounded, so Spark and any IEEE engine
    * produce the same 64 bits. The within-cell re-rank is
    * [[ivfTopK]]'s ([[withinCellTopK]]), the same double-cosine path
    * the q37/q66 oracles already match.
    *
    * Scale: same join/shuffle shape as [[ivfTopK]] — corpus shuffled
    * once by cell, probes routed by a broadcast centroid table (one
    * row per label); the label seeding replaces the KMeans fit with
    * one keyed agg. Caveat: cell count = label cardinality, which
    * bounds both within-cell candidate pruning and join parallelism —
    * fine for the oracle gate's 10-label fixture, but a large corpus
    * wants [[ivfTopK]]'s KMeans cells (nCells sized ~√n), which this
    * variant exists to oracle, not replace. */
  def ivfTopKPortable(vectors: DataFrame, k: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val (assigned, probes) =
      portableIvfRouting(vectors, nProbe, idCol, vecCol, labelCol)
    withinCellTopK(probes, assigned, k)
  }

  /** IVF-PQ: cell routing + ADC re-rank — the composition FAISS ships
    * as its production index (`IVFx,PQy`): [[portableIvfRouting]]
    * prunes the corpus to the query's `nProbe` cells, and within them
    * neighbors are scored from their PQ codes against the query's
    * full-precision distance table
    * ([[ProductQuantization.distTable]]) — no corpus float is touched
    * at search time. At 100 TB this is the whole point of both legs
    * combined: the scan is 1/nCells of the corpus AND each scanned
    * vector is m bytes, not 4·D. Exact Long ADC sums + double routing
    * cosine (r6-adjudicated stable) keep the product
    * DuckDB-replayable. Ascending approximate distance, ties by
    * neighbor id. */
  def ivfPqTopKPortable(vectors: DataFrame, codebook: DataFrame, k: Int,
      m: Int, dim: Int, nProbe: Int,
      queryPred: org.apache.spark.sql.Column,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    import graft.llmops.{ProductQuantization => PQ}
    val (assigned, probes) =
      portableIvfRouting(vectors, nProbe, idCol, vecCol, labelCol)
    val codes = PQ.encode(vectors, codebook, m, dim, idCol, vecCol)
      .select(col("id").as("neighbor_id"), col("sub"), col("c"))
    val qdist = PQ.distTable(vectors.filter(queryPred), codebook, m, dim,
      idCol, vecCol)
    val queryIds = vectors.filter(queryPred)
      .select(col(idCol).cast("long").as("query_id"))
    val candidates = probes
      .select(col("query_id").cast("long").as("query_id"), col("cell"))
      .join(broadcast(queryIds), Seq("query_id"))
      .join(assigned.select(col("id").as("neighbor_id"), col("cell")),
        Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    candidates
      .join(codes, Seq("neighbor_id"))
      .join(broadcast(qdist), Seq("query_id", "sub", "c"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("dd")).cast("long").as("adc_dist"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adc_dist"), col("rn"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023, "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication" — the embedding-space analogue of MinHash doc
    * dedup): near-duplicate pairs from the bucketed portable LSH path
    * ([[lshNearDupPairsPortable]]) → connected components over the
    * pair graph → min-id canonical representative per cluster. Returns
    * one row per vector with its cluster id, cluster size, and `keep`
    * admission flag — the operator a training pipeline filters on,
    * where q97b only lists pairs.
    *
    * Scale: every stage is already the audited 100 TB shape — bucketed
    * candidate equi-join, keyed CC rounds, one window on cluster_id;
    * composition adds no new shuffle class. Deterministic end to end
    * (portable buckets, round-6 cosine, min-id labels) so the whole
    * product is DuckDB-replayable. Recall at scale: the pair stage is
    * [[lshNearDupPairsPortable]], so the r12 measurements apply — and
    * the default (`nTables = 0`, r13) inherits its derivation:
    * [[lshTablesFor]] at [[NearDupDesignCosMilli]] for the given `nPlanes`,
    * so dup-grade recall no longer decays silently as a corpus-derived
    * `nPlanes` grows. Pass `nTables > 0` to pin an explicit count. */
  def semanticDedup(vectors: DataFrame, threshold: Double, nPlanes: Int,
      dim: Int, nTables: Int = 0, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val pairs = lshNearDupPairsPortable(vectors, threshold, nPlanes, dim,
        nTables, idCol = idCol, vecCol = vecCol)
      .select(col("id_a"), col("id_b"))
    // large-star/small-star, NOT hashMin (r11): the r10 dedup-family
    // reasoning ("LSH dup clusters are near-cliques, 2-4 rounds") does
    // not transfer to SEMANTIC graphs — similarity chains A~B~C with
    // cosine drift make the component diameter grow with the corpus,
    // and the 100× probe leg hit hashMin's 25-round cap (3 labels
    // still changing). The alternating-star form converges in
    // O(log² n) rounds on any shape with the same per-round join
    // class; labeling contract identical (q105 oracle unchanged).
    val labels = graft.ops.ConnectedComponents.largeStarSmallStar(
      pairs, "id_a", "id_b")
    vectors.select(col(idCol).cast("long").as("vec_id"))
      .join(labels.withColumnRenamed("id", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("cluster_id"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .withColumn("keep", col("vec_id") === col("cluster_id"))
  }

  /** IVF search: assign corpus to nearest of `nCells` KMeans centroids
    * (one-time shuffle by cell); route each query to its `nProbe`
    * nearest cells via broadcast centroids; exact cosine within cells.
    * This is the standard IVF-Flat layout (Johnson et al., FAISS). */
  def ivfTopK(vectors: DataFrame, k: Int, nCells: Int, nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      seed: Long = 42, memoKey: Option[String] = None): DataFrame = {
    val (model, ds) = ivfFit(vectors, nCells, seed, idCol, vecCol, memoKey)
    val assigned = model.transform(ds).select(col("id"), col("v"), col("cell"))
    ivfSearchFromIndex(assigned,
      ivfCentersDf(vectors.sparkSession, model), k, nProbe)
  }

  /** The IVF fit stage, extracted (r15) so [[graft.llmops.AnnIndexSnapshot]]
    * can persist its products: returns the fitted seeded KMeans and
    * the featurized frame it was fit on. */
  private[llmops] def ivfFit(vectors: DataFrame, nCells: Int, seed: Long,
      idCol: String, vecCol: String, memoKey: Option[String])
      : (org.apache.spark.ml.clustering.KMeansModel, DataFrame) = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val ds = vectors.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("features", array_to_vector(transform(col("v"), _.cast("double"))))
      // right-size for the iterative fit: KMeans launches one stage per
      // iteration — 32-way over a bounded corpus means thousands of
      // ~ms tasks dominating wall time (same lesson as the ML fits,
      // NOTES_r2); 8 partitions keeps all cores busy per stage without
      // the scheduling storm. Cluster runs pass a pre-partitioned df.
      // LAYOUT-PINNED since r16 (ADVICE r15 #1, the q44b discipline):
      // hash(id) partitioning + in-partition sort makes the float
      // aggregation order — and hence the fitted centroids — a pure
      // function of (data, seed), independent of reader conf or file
      // listing, so a refit in ANY session reproduces a persisted
      // snapshot's model instead of merely matching within-session.
      .repartition(8, col("id"))
      .sortWithinPartitions("id")
      .cache()
    val km = new KMeans().setK(nCells).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("cell")
    // the seeded centroid fit is the dominant cost; memoized per
    // session when the caller provides a stable key (gates pass the
    // sf dir — q39 and the q89 recall gate then share one fit)
    val model = memoKey match {
      case Some(mk) => graft.ml.ModelMemo.cached(vectors.sparkSession,
        s"ivf-km:$mk:$nCells:$seed")(km.fit(ds))
      case None => km.fit(ds)
    }
    (model, ds)
  }

  /** Fitted centroids as the tiny broadcastable routing table. */
  private[llmops] def ivfCentersDf(spark: org.apache.spark.sql.SparkSession,
      model: org.apache.spark.ml.clustering.KMeansModel): DataFrame = {
    import spark.implicits._
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq.toDF("cell", "centroid")
  }

  /** IVF probe routing + within-cell re-rank from an ALREADY-BUILT
    * index (`assigned`: id, v, cell; `centersDf`: cell, centroid) —
    * one implementation shared by [[ivfTopK]] and the persisted-index
    * path ([[graft.llmops.AnnIndexSnapshot]]), so a loaded index
    * cannot diverge from the computed operator. */
  private[llmops] def ivfSearchFromIndex(assigned: DataFrame,
      centersDf: DataFrame, k: Int, nProbe: Int): DataFrame = {
    val probeW = Window.partitionBy(col("query_id")).orderBy(col("cdist").desc)
    val probes = assigned.select(col("id").as("query_id"), col("v").as("qv"))
      .crossJoin(broadcast(centersDf))
      .withColumn("cdist", cosine(col("qv"), col("centroid")))
      .withColumn("pr", row_number().over(probeW))
      .filter(col("pr") <= nProbe)
      .select(col("query_id"), col("qv"), col("cell"))
    withinCellTopK(probes, assigned, k)
  }

  /** The within-cell re-rank of the IVF family: each probe
    * (query_id, qv, cell) meets every OTHER vector assigned (id, v,
    * cell) to its cell, then [[BucketPairs.cosineTopK]]. A vector sits
    * in exactly one cell and a query's probe cells are distinct, so
    * the cell join yields each pair at most once — no dedup needed. */
  private def withinCellTopK(probes: DataFrame, assigned: DataFrame,
      k: Int): DataFrame =
    BucketPairs.cosineTopK(
      probes.select(col("query_id").as("id_a"), col("qv").as("v_a"), col("cell"))
        .join(assigned.select(col("cell"), col("id").as("id_b"),
          col("v").as("v_b")), Seq("cell"))
        .filter(col("id_a") =!= col("id_b")), k)
}
