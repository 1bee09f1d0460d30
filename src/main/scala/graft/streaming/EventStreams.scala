package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface over the events table.
  *
  * The reference is batch-only (SURVEY.md §2.11): its freshness model is
  * daily snapshots. This module adds the streaming ingest path a
  * production deployment of the same engine needs: identical
  * transformations declared once and run over `readStream`, with
  * watermarked event-time windows and stateful per-key aggregation.
  *
  * Scale design: windowed aggs are partial-aggregated per micro-batch
  * and state-store backed; state is keyed by (window, event_type) or
  * user_id — bounded by watermark expiry, so state size is
  * O(active keys), not O(stream length).
  */
object EventStreams {

  /** Schema of the events fixture as read with nanosAsLong (legacy
    * int64-nanos layout; `ts` is overridden per-file in readEvents when
    * the fixture carries a real timestamp type). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // TIMESTAMP(NANOS) surfaces as long ns
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming source over the fixture directory (file-source
    * micro-batches; glob keeps it to the events table).
    *
    * A streaming read needs a user-supplied schema, so peek at the
    * file's footer with a batch read first and branch on the `ts`
    * layout (int64-nanos vs timestamp[us]/NTZ), same contract as
    * [[graft.sources.Tables]]: downstream always sees `ts` TIMESTAMP. */
  def readEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val fileTs = spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType
    val schema = StructType(eventsSchema.map(f =>
      if (f.name == "ts") f.copy(dataType = fileTs) else f))
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    fileTs match {
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts DIV 1000")))
      case TimestampNTZType | TimestampType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case other =>
        // fail loudly like Tables.events — a silent cast would turn
        // fixture drift into NULL event times and empty windows
        throw new IllegalStateException(
          s"events.ts has unsupported dtype $other — expected long nanos or timestamp")
    }
  }

  /** Event-time hourly counts per event_type (1-hour tumbling
    * windows); the oracle-checked q28 gate runs it on the batch
    * events. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))

  /** Per-user session windows (30-min gap), watermarked. */
  def userSessions(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("s"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"), col("s.start").as("session_start"),
        col("s.end").as("session_end"), col("n_events"), col("session_value"))

  /** Deterministic duplicate deliveries: every 7th event re-emitted
    * with a new delivery id (event_id + 1e7) and the logical key
    * (user_id, ts) unchanged — the at-least-once redelivery a streaming
    * ingest must tolerate. */
  def withDuplicateDeliveries(events: DataFrame): DataFrame =
    events.unionByName(
      events.filter(col("event_id") % 7 === 0)
        .withColumn("event_id", col("event_id") + lit(10000000L)))

  /** Streaming exact dedup by logical key: state-store backed, bounded
    * by the watermark (keys older than the watermark are evicted, so
    * state is O(keys within the lateness horizon), not O(stream)).
    * Projects out the delivery id — which physical copy survives is
    * arrival-order-dependent; the logical row is not. */
  def dedupEventsStreaming(events: DataFrame): DataFrame =
    events.withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id", "ts")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))

  /** Batch twin of the streaming dedup, keeping min delivery id as
    * canonical (deterministic, oracle-friendly). */
  def dedupEventsBatch(events: DataFrame): DataFrame = {
    val byKey = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"), col("ts"))
    events
      .withColumn("canon_event_id", min(col("event_id")).over(byKey))
      .filter(col("event_id") === col("canon_event_id"))
      .select(col("user_id"), col("ts"), col("canon_event_id"),
        col("event_type"), col("value"))
  }

  /** Stream-stream interval join: each click matched to the same
    * user's purchases within 30 minutes after it. With watermarks on
    * BOTH sides plus the time-range predicate, Spark bounds the join
    * state (clicks expire once no future purchase can match). Works
    * identically on batch inputs (the oracled twin). */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame): DataFrame = {
    val c = clicks.select(col("user_id"), col("ts").as("click_ts"),
      col("event_id").as("click_id"))
    val p = purchases.select(col("user_id").as("p_user_id"),
      col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  def clickPurchaseJoinStreaming(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .withWatermark("ts", "10 minutes")
    val purchases = events.filter(col("event_type") === "purchase")
      .withWatermark("ts", "10 minutes")
    clickPurchaseJoin(clicks, purchases)
  }

  case class UserRunning(userId: Long, nEvents: Long, totalValue: Double)

  /** Custom stateful op: running per-user totals via mapGroupsWithState
    * (the engine's escape hatch for state machines the built-in windows
    * can't express — reference analog would be per-user accumulators). */
  def runningUserTotals(events: DataFrame): Dataset[UserRunning] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("user_id").as("userId"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[UserRunning]) =>
          val (n0, v0) = state.getOption
            .map(s => (s.nEvents, s.totalValue)).getOrElse((0L, 0.0))
          var n = n0; var v = v0
          rows.foreach { r => n += 1; v += r._2 }
          val next = UserRunning(uid, n, math.rint(v * 100) / 100)
          state.update(next)
          next
      }
  }

  case class SessionOut(userId: Long, startUs: Long, endUs: Long,
      nEvents: Long, sessionValue: Double)
  /** One open session in [[sessionizeCustom]] state (public: encoders
    * codegen against its accessors). */
  case class OpenSession(startUs: Long, lastUs: Long, n: Long, v: Double)
  /** Per-user state for [[sessionizeCustom]]: the open sessions inside
    * the watermark horizon, disjoint and sorted by start. */
  case class SessionBuf(sessions: Seq[OpenSession])

  /** Custom sessionization via flatMapGroupsWithState with
    * EventTimeTimeout — the timeout-driven half of the custom-state API
    * that [[runningUserTotals]] (mapGroupsWithState, NoTimeout) doesn't
    * exercise. Semantics match session_window(gap) exactly, INCLUDING
    * cross-batch late events: each batch's rows are turned into
    * singleton sessions, interval-merged with the buffered open
    * sessions (two sessions merge iff the later one starts within gap
    * of the earlier one's last event), and a session is emitted only
    * once the watermark passes lastTs+gap — the point after which no
    * watermark-legal event can still extend it. A late event that lands
    * inside or just before a buffered session therefore widens it
    * (min start / max last), never truncates it, and a late event that
    * is disjoint from every buffered session opens its own — correct
    * for ANY lateness-vs-gap relation, not just lag < gap.
    *
    * Scale design: state is the open sessions of one user inside the
    * watermark horizon — O(horizon/gap) per active user, bounded by
    * timeout eviction, not O(stream); the per-call sort covers only one
    * user's slice of one micro-batch plus that bounded buffer.
    */
  def sessionizeCustom(events: DataFrame, gapMinutes: Int = 30)
      : Dataset[SessionOut] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    def close(uid: Long, s: OpenSession): SessionOut =
      SessionOut(uid, s.startUs, s.lastUs + gapUs, s.n,
        math.rint(s.v * 100) / 100)
    // the watermarked timestamp attribute itself must reach the
    // stateful operator (EventTimeTimeout is defined against it) — any
    // projection or map that drops it fails analysis, so the micros
    // conversion happens inside the state function
    def micros(t: java.sql.Timestamp): Long =
      (t.getTime / 1000) * 1000000L + t.getNanos / 1000
    // standard interval merge over [startUs, lastUs+gap) windows of a
    // start-sorted session list; deterministic double-sum order because
    // the input order is deterministic
    def mergeSorted(ss: Seq[OpenSession]): List[OpenSession] =
      ss.foldLeft(List.empty[OpenSession]) {
        case (prev :: rest, s) if s.startUs - prev.lastUs <= gapUs =>
          OpenSession(prev.startUs, math.max(prev.lastUs, s.lastUs),
            prev.n + s.n, prev.v + s.v) :: rest
        case (acc, s) => s :: acc
      }.reverse
    events.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionBuf, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rawRows, state) =>
          // one unified path: a timeout call is just "no new rows" —
          // the watermark partition below decides what closes
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000
          val prior = state.getOption.map(_.sessions).getOrElse(Seq.empty)
          val fresh = rawRows.map { r =>
            val us = micros(r._2); OpenSession(us, us, 1, r._3)
          }.toSeq
          val merged = mergeSorted(
            (prior ++ fresh).sortBy(s => (s.startUs, s.lastUs, s.v)))
          // a session can still grow only if a later event could merge
          // into it, i.e. wm < lastUs+gap. Boundaries probed on Spark
          // 4.1: batch session_window's merge comparator is INCLUSIVE
          // (mergeSorted's `<=` matches), the built-in streaming
          // aggregation evicts at wm == lastUs+gap (strict `>` here
          // matches), and a row at ts == wm never reaches this function
          // anyway: the operator's own late filter drops it (all three
          // in NOTES_r5.md §12), so only rows strictly above the
          // watermark can arrive.
          val (open, done) = merged.partition(s => s.lastUs + gapUs > wmUs)
          if (open.nonEmpty) {
            state.update(SessionBuf(open))
            // fire once the watermark passes the earliest gap edge
            // (must be strictly above the current watermark)
            state.setTimeoutTimestamp(math.max(wmMs + 1,
              (open.map(_.lastUs).min + gapUs) / 1000))
          } else state.remove()
          done.map(close(uid, _)).iterator
      }
  }

  case class FunnelOut(userId: Long, t1Us: Option[Long],
      t2Us: Option[Long], t3Us: Option[Long])
  /** Per-user funnel state: earliest reach micros per step,
    * Long.MaxValue = not reached. */
  case class FunnelSt(t1: Long, t2: Long, t3: Long)

  /** Streaming twin of [[graft.ops.Funnel.stepTimes]] (3 steps) via
    * mapGroupsWithState: per-user state is just the three earliest
    * reach times — O(users) state, no event buffer.
    *
    * Contract: per-user event-time-ORDERED arrival across micro-
    * batches (a watermark-ordered replay; the at-least-once dedup of
    * q68 composes upstream). Within a batch, events sort by
    * (ts, step index), which reproduces the batch RANGE-frame tie
    * rule exactly: an equal-timestamp view qualifies an equal-
    * timestamp click whatever order they arrived in. Under that
    * contract each reach time is set once and never moves, so
    * Update-mode emissions are monotone refinements of the same final
    * row per user. A LATE earlier view could in principle re-qualify
    * an already-discarded click; handling that exactly would mean
    * buffering all pre-t1 clicks (unbounded). Pipelines that cannot
    * guarantee ordered arrival use [[funnelStreamingUnordered]],
    * which bounds the same problem with a watermark buffer instead
    * of a contract (r9). */
  def funnelStreaming(events: DataFrame, steps: Seq[String])
      : Dataset[FunnelOut] = {
    require(steps.size == 3, "3-step funnel state")
    val spark = events.sparkSession
    import spark.implicits._
    val idx = steps.zipWithIndex.toMap
    val U = Long.MaxValue
    events.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelSt, FunnelOut](
        GroupStateTimeout.NoTimeout()) {
        case (uid, rows, state: GroupState[FunnelSt]) =>
          val t = state.getOption.map(s => Array(s.t1, s.t2, s.t3))
            .getOrElse(Array(U, U, U))
          val evs = rows.flatMap { case (_, ty, us) =>
            idx.get(ty).map(k => (us, k))
          }.toArray
          scala.util.Sorting.quickSort(evs)(Ordering.Tuple2[Long, Int])
          evs.foreach { case (us, k) =>
            if (k == 0) { if (us < t(0)) t(0) = us }
            else if (t(k - 1) != U && us >= t(k - 1) && us < t(k)) t(k) = us
          }
          state.update(FunnelSt(t(0), t(1), t(2)))
          FunnelOut(uid, Some(t(0)).filter(_ != U),
            Some(t(1)).filter(_ != U), Some(t(2)).filter(_ != U))
      }
  }

  /** Per-user state for the unordered funnel: the fold result over
    * everything at or below `frontierUs` (earliest reach micros per
    * step, Long.MaxValue = not reached) plus the not-yet-finalized
    * event buffer above it. */
  case class FunnelBufSt(t1: Long, t2: Long, t3: Long, frontierUs: Long,
      buf: Seq[(Long, Int)])

  /** Watermark-buffered streaming funnel for OUT-OF-ORDER arrival
    * (VERDICT r8 "Next round" #4) — the production-grade twin of
    * [[funnelStreaming]], whose ordered-arrival contract real
    * pipelines violate.
    *
    * Mechanics: step events buffer per user until the watermark
    * passes them, then fold into the finalized (t1,t2,t3) in exact
    * event-time order — so ANY arrival order within the watermark
    * delay yields the batch answer. The fold frontier only ever
    * advances; an event at or below it is late-beyond-watermark and
    * dropped (the standard Structured Streaming guarantee — note the
    * frontier is the watermark AT LAST FOLD, so an event the current
    * watermark has passed is still accepted whenever it can be merged
    * in correct order). Emissions are lookahead-provisional: the
    * still-buffered suffix folds onto a copy, so the latest Update-
    * mode row per user always equals the batch result over events
    * seen so far. Without a horizon, columns also only ever decrease
    * (min-over-emissions = final); WITH `maxSpanSec` that shortcut
    * does not hold — an earlier first-step event arriving later
    * re-anchors the horizon and can retract a provisionally-
    * qualified later step, so horizon consumers must take the
    * latest row per user. Finalized (watermark-folded) decisions
    * are never retracted either way: the watermark guarantees the
    * fold sees a complete event-time prefix.
    *
    * Bounded state, replacing the ordered variant's contract note:
    * 3 longs + frontier per user, plus a buffer of only the step
    * events inside the watermark delay window — O(users · delay-
    * window), the q129 horizon bounding t2/t3 qualification like the
    * batch operator. An armed event-time timeout drains the buffer
    * once the watermark passes it even if the user goes quiet.
    *
    * STATE-SIZE CONTRACT (r11, VERDICT r10 #3): the per-user buffer
    * is the user's NON-first-step events newer than the fold
    * frontier, plus at most ONE first-step event — buffered views
    * compress exactly to their minimum (the fold's k=0 branch is a
    * pure min, so no other view can ever affect any qualification;
    * proof in the compression comment below). At a hostile
    * delay/traffic ratio (wide `delay`, hot user) that is delay ×
    * the user's click/purchase rate, and no exact fold can prune
    * below it (any buffered click may yet win depending on a
    * not-yet-ripe earlier view). `maxBufferPerUser` makes the bound
    * an enforced contract on the COMPRESSED buffer: a user exceeding
    * it FAILS the query with an explicit message (fail-fast, never
    * silent truncation — a dropped buffer event would corrupt the
    * fold undetectably). Size it at delay_seconds ×
    * max_per_user_later_step_rate + 1; None audits nothing (the gate
    * fixtures are bounded by construction). */
  def funnelStreamingUnordered(events: DataFrame, steps: Seq[String],
      delay: String = "10 minutes", maxSpanSec: Option[Long] = None,
      maxBufferPerUser: Option[Int] = None)
      : Dataset[FunnelOut] = {
    require(steps.size == 3, "3-step funnel state")
    val spark = events.sparkSession
    import spark.implicits._
    val idx = steps.zipWithIndex.toMap
    val U = Long.MaxValue
    val horizonUs = maxSpanSec.map(_ * 1000000L)

    // the batch RANGE tie rule, as in funnelStreaming: sort (ts, step
    // index) so an equal-timestamp view qualifies an equal-timestamp
    // click regardless of arrival order; horizon mirrors stepTimes
    def fold(t: Array[Long], evs: Array[(Long, Int)]): Unit = {
      scala.util.Sorting.quickSort(evs)(Ordering.Tuple2[Long, Int])
      evs.foreach { case (us, k) =>
        if (k == 0) { if (us < t(0)) t(0) = us }
        else if (t(k - 1) != U && us >= t(k - 1) && us < t(k) &&
            horizonUs.forall(h => t(0) != U && us - t(0) <= h)) t(k) = us
      }
    }

    // the watermarked `ts` column must survive into the stateful
    // operator (projecting it away voids the event-time timeout)
    events.withWatermark("ts", delay)
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("us"))
      .as[(Long, String, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState[FunnelBufSt, FunnelOut](
        GroupStateTimeout.EventTimeTimeout()) {
        case (uid, rows, state: GroupState[FunnelBufSt]) =>
          val st = state.getOption
            .getOrElse(FunnelBufSt(U, U, U, Long.MinValue, Nil))
          val incoming = rows.flatMap { case (_, ty, _, us) =>
            idx.get(ty).collect { case k if us > st.frontierUs => (us, k) }
          }
          val wmMs = state.getCurrentWatermarkMs()
          val wmUs = wmMs * 1000L
          val t = Array(st.t1, st.t2, st.t3)
          val (ripe, youngRaw) = (st.buf ++ incoming).toArray.partition(_._1 <= wmUs)
          // EXACT buffer compression (r11): among buffered FIRST-step
          // events only the minimum timestamp can ever matter — the
          // fold's k=0 branch is a pure min, so for any later-step
          // event at position u the effective t1 is min(state t1,
          // v_min | v_min ≤ u), with or without the other views; and
          // v_min always ripens no later than any dropped view. Hot
          // users' view floods collapse to ONE buffered row; later
          // steps are NOT prunable (a late earlier view can still
          // re-qualify any buffered click, so each may yet win).
          val views = youngRaw.filter(_._2 == 0)
          val young =
            if (views.length > 1) youngRaw.filter(_._2 != 0) :+ views.minBy(_._1)
            else youngRaw
          maxBufferPerUser.foreach { cap =>
            if (young.length > cap) throw new IllegalStateException(
              s"funnelStreamingUnordered: user $uid buffers ${young.length} " +
                s"step events inside the watermark delay (cap $cap) — " +
                "shorten the delay or raise maxBufferPerUser")
          }
          fold(t, ripe)
          state.update(FunnelBufSt(t(0), t(1), t(2),
            math.max(st.frontierUs, wmUs), young.toSeq))
          if (young.nonEmpty)
            // drain the buffer once the watermark passes its earliest
            // event, even if the user goes quiet (must arm strictly
            // above the current watermark)
            state.setTimeoutTimestamp(
              math.max(wmMs + 1, young.map(_._1).min / 1000 + 1))
          val look = t.clone()
          fold(look, young)
          FunnelOut(uid, Some(look(0)).filter(_ != U),
            Some(look(1)).filter(_ != U), Some(look(2)).filter(_ != U))
      }
  }

  /** Drive a streaming query to completion against a bounded source and
    * return the materialized result (memory sink). */
  def runToMemory(df: DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): DataFrame = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    df.sparkSession.table(name)
  }
}
