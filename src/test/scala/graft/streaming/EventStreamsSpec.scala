package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class EventStreamsSpec extends SparkSpec {

  test("streaming hourly counts match the batch run of the same transform") {
    val batch = EventStreams.hourlyTypeCounts(
      graft.sources.Tables.events(spark, sf0001))
      .orderBy(col("window_start"), col("event_type")).collect().toSeq

    // Complete mode: a bounded source processed in one micro-batch never
    // advances the watermark past the tail windows, so Append would
    // (correctly) withhold them — Complete emits the full state.
    val stream = EventStreams.readEvents(spark, sf0001)
    val got = EventStreams.runToMemory(
        EventStreams.hourlyTypeCounts(stream),
        "hourly_test", OutputMode.Complete())
      .orderBy(col("window_start"), col("event_type")).collect().toSeq

    assert(got == batch)
  }

  test("stateful running totals equal batch group sums") {
    import spark.implicits._
    val events = graft.sources.Tables.events(spark, sf0001)
    val expected = events.groupBy($"user_id")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("v"))
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap

    val stream = EventStreams.readEvents(spark, sf0001)
    val totals = EventStreams.runningUserTotals(stream)
    val q = totals.writeStream.outputMode(OutputMode.Update())
      .format("memory").queryName("running_test").start()
    q.processAllAvailable(); q.stop()
    // last update per user wins
    val got = spark.table("running_test")
      .groupBy($"userId")
      .agg(max(struct($"nEvents", $"totalValue")).as("s"))
      .select($"userId", $"s.nEvents", $"s.totalValue")
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == expected)
  }

  test("session windows: bounded, non-overlapping per user") {
    import spark.implicits._
    val sessions = EventStreams.userSessions(
      graft.sources.Tables.events(spark, sf0001)).cache()
    assert(sessions.count() > 0)
    val overlaps = sessions.as("a").join(sessions.as("b"),
      $"a.user_id" === $"b.user_id" &&
        $"a.session_start" < $"b.session_start" &&
        $"b.session_start" < $"a.session_end").count()
    assert(overlaps == 0)
  }

  test("flatMapGroupsWithState sessionizer matches session_window semantics") {
    import spark.implicits._
    // batch truth: built-in session_window over the same events
    val batch = EventStreams.userSessions(
        graft.sources.Tables.events(spark, sf0001))
      .select($"user_id", expr("unix_micros(session_start)"),
        expr("unix_micros(session_end)"), $"n_events", $"session_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(batch.nonEmpty)

    val stream = EventStreams.readEvents(spark, sf0001)
    val got = EventStreams.runToMemory(
        EventStreams.sessionizeCustom(stream).toDF(), "fmgws_sessions")
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(got.length == got.toSet.size, "duplicate session emissions")

    // every emitted session is exactly a batch session
    val gotSet = got.toSet
    assert((gotSet -- batch).isEmpty,
      s"streamed sessions not in batch truth: ${(gotSet -- batch).take(3)}")

    // completeness: every session comfortably closed before the final
    // watermark (end + 1h < max event time) must have been emitted —
    // only each user's tail session may legitimately still be open
    val maxUs = graft.sources.Tables.events(spark, sf0001)
      .select(max(expr("unix_micros(ts)"))).head().getLong(0)
    val mustEmit = batch.filter(_._3 + 3600000000L < maxUs)
    assert((mustEmit -- gotSet).isEmpty,
      s"closed sessions missing from stream: ${(mustEmit -- gotSet).take(3)}")
    assert(mustEmit.nonEmpty && gotSet.size >= mustEmit.size)
  }

  // --- two-batch late-event fixtures for the custom sessionizer ------
  // A file-source staged in waves: the query processes wave 1 (advancing
  // the watermark), then wave 2 arrives carrying a within-watermark LATE
  // event. The sessionizer must match batch session_window truth — the
  // late event widens its session (min start / max last); it must never
  // move a session end backward or split the following event.

  private def sessionFixtureRun(waves: Seq[Seq[(Long, Long, Double)]],
      gapMinutes: Int, queryName: String): (Set[(Long, Long, Long, Long, Double)], Long) = {
    import spark.implicits._
    val base = 1704067200L // 2024-01-01T00:00:00Z
    val root = java.nio.file.Files.createTempDirectory("sess-late").toString
    val stage = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
    def toDf(rows: Seq[(Long, Long, Double)]) =
      rows.toDF("user_id", "m", "value")
        .withColumn("ts", timestamp_seconds(lit(base) + $"m" * 60))
        .select($"user_id", $"ts", $"value")
    val schema = toDf(waves.head).schema

    val stream = spark.readStream.schema(schema)
      .option("recursiveFileLookup", "true").parquet(stage)
    val q = EventStreams.sessionizeCustom(stream, gapMinutes).toDF()
      .writeStream.outputMode(OutputMode.Append())
      .format("memory").queryName(queryName).start()
    waves.zipWithIndex.foreach { case (rows, i) =>
      toDf(rows).coalesce(1).write.parquet(s"$stage/wave$i")
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table(queryName)
      .as[(Long, Long, Long, Long, Double)].collect()
    assert(got.length == got.toSet.size, "duplicate session emissions")
    (got.toSet, base * 1000000L)
  }

  test("sessionizer: cross-batch late event widens its session to match " +
      "batch session_window truth") {
    import spark.implicits._
    def us(baseUs: Long, m: Long) = baseUs + m * 60000000L
    // wave 1: minutes 0, 5, 60  -> watermark 50 after the batch
    // wave 2: minute 55 is LATE (>= wm 50, inside gap of 60) plus 70
    //         and 115 (advances wm to 105, closing [55..70])
    val (got, baseUs) = sessionFixtureRun(
      waves = Seq(
        Seq((1L, 0L, 1.0), (1L, 5L, 2.0), (1L, 60L, 3.0)),
        Seq((1L, 55L, 4.0), (1L, 70L, 5.0), (1L, 115L, 6.0))),
      gapMinutes = 30, queryName = "sess_late_30")
    // batch truth over the union, 30-min gap: [0,5] end 35; [55,70] end
    // 100 (the late 55 is the session START, not a truncated end);
    // [115] still open at final watermark 105 so legitimately withheld
    val expected = Set(
      (1L, us(baseUs, 0), us(baseUs, 35), 2L, 3.0),
      (1L, us(baseUs, 55), us(baseUs, 100), 3L, 12.0))
    assert(got == expected,
      s"streamed sessions diverge from session_window truth: $got")

    // cross-check the hand truth against the built-in session_window
    val batch = Seq((1L, 0L, 1.0), (1L, 5L, 2.0), (1L, 60L, 3.0),
        (1L, 55L, 4.0), (1L, 70L, 5.0), (1L, 115L, 6.0))
      .toDF("user_id", "m", "value")
      .withColumn("ts", timestamp_seconds(lit(baseUs / 1000000L) + $"m" * 60))
    val truth = EventStreams.userSessions(batch)
      .select($"user_id", expr("unix_micros(session_start)"),
        expr("unix_micros(session_end)"), $"n_events", $"session_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    assert(expected.subsetOf(truth) && truth.size == 3)
  }

  test("sessionizer: late event disjoint from every open session opens " +
      "its own (lateness > gap)") {
    def us(baseUs: Long, m: Long) = baseUs + m * 60000000L
    // gap 5 min < watermark lag 10 min: a legal late event CAN be
    // disjoint from all open sessions. wave 1: 0, 20 (wm 10); wave 2:
    // 12 is late-but-legal and >5min from both neighbors -> own
    // session; 40 advances wm to 30, closing [0], [12], [20].
    val (got, baseUs) = sessionFixtureRun(
      waves = Seq(
        Seq((2L, 0L, 1.0), (2L, 20L, 2.0)),
        Seq((2L, 12L, 3.0), (2L, 40L, 4.0))),
      gapMinutes = 5, queryName = "sess_late_5")
    val expected = Set(
      (2L, us(baseUs, 0), us(baseUs, 5), 1L, 1.0),
      (2L, us(baseUs, 12), us(baseUs, 17), 1L, 3.0),
      (2L, us(baseUs, 20), us(baseUs, 25), 1L, 2.0))
    assert(got == expected,
      s"disjoint late event mishandled: $got")
  }

  test("sessionizer: late event exactly gap after the previous one " +
      "MERGES (inclusive comparator, matching batch session_window)") {
    def us(baseUs: Long, m: Long) = baseUs + m * 60000000L
    // Boundary probed on Spark 4.1: batch session_window merges an
    // event exactly gap after the previous one (NOTES_r5.md §12)
    // — the merge comparator is INCLUSIVE, so the custom sessionizer's
    // `<=` must match; a strict `<` would split [0] and [30] here.
    // (An event at ts == watermark is a separate, moot boundary:
    // flatMapGroupsWithState + EventTimeTimeout drops it before the
    // state function runs — NOTES_r5.md §12 — so this fixture
    // keeps the late event strictly above the watermark.)
    // wave 1: u1@0, u2@35 -> wm 25. wave 2: u1@30 (legal: 30 > wm 25,
    // exactly gap 30 after u1@0) must MERGE; u3@100 -> wm 90 closes all.
    val (got, baseUs) = sessionFixtureRun(
      waves = Seq(
        Seq((1L, 0L, 1.0), (2L, 35L, 2.0)),
        Seq((1L, 30L, 3.0), (3L, 100L, 4.0))),
      gapMinutes = 30, queryName = "sess_edge_30")
    val expected = Set(
      (1L, us(baseUs, 0), us(baseUs, 60), 2L, 4.0),
      (2L, us(baseUs, 35), us(baseUs, 65), 1L, 2.0))
    // u3's session (end 130) is open at final wm 90: withheld
    assert(got == expected,
      s"exact-gap late event mishandled: $got")
  }

  test("sessionizer property: random multi-batch arrival with legal late " +
      "events matches batch session_window truth exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(4242)
    val gapMin = 30L
    val lagMin = 10L
    // ~120 events over 20 users across 8 hours, in 3 arrival waves.
    // An event is allowed into a later wave only if it stays >= the
    // watermark its wave will see (max ts of prior waves - lag).
    val all = (1 to 120).map { i =>
      (1L + rnd.nextInt(20), rnd.nextInt(8 * 60).toLong, // minute
        math.rint(rnd.nextDouble() * 10 * 100) / 100)
    }.distinct
    val sorted = all.sortBy(_._2)
    val (w1, rest) = sorted.splitAt(sorted.length / 3)
    val (w2base, w3base) = rest.splitAt(rest.length / 3)
    // move some wave-2 events into wave 3 when still watermark-legal:
    // watermark during wave 3 = max ts of waves 1+2 - lag
    val wm3 = (w1 ++ w2base).map(_._2).max - lagMin
    val (w2late, w2keep) = w2base.partition(e =>
      e._2 >= wm3 && rnd.nextBoolean())
    val waves = Seq(w1, w2keep, (w3base ++ w2late))
      .map(w => rnd.shuffle(w)) // intra-batch disorder
    assert(w2late.nonEmpty, "fixture degenerate: no late events moved")

    val (got, baseUs) = sessionFixtureRun(waves, gapMin.toInt, "sess_prop")

    // batch truth over the union; only sessions closed before the final
    // watermark are emitted in Append mode
    val batch = all.toDF("user_id", "m", "value")
      .withColumn("ts", timestamp_seconds(lit(baseUs / 1000000L) + $"m" * 60))
    val finalWmUs = baseUs + (all.map(_._2).max - lagMin) * 60000000L
    val truth = EventStreams.userSessions(batch)
      .select($"user_id", expr("unix_micros(session_start)"),
        expr("unix_micros(session_end)"), $"n_events", $"session_value")
      .as[(Long, Long, Long, Long, Double)].collect().toSet
    val mustEmit = truth.filter(_._3 <= finalWmUs)
    assert(mustEmit.nonEmpty)
    assert(got == mustEmit,
      s"missing=${(mustEmit -- got).take(3)} extra=${(got -- mustEmit).take(3)}")
  }

  test("streaming dedup emits the same logical rows as the batch twin") {
    import spark.implicits._
    val batchEv = graft.sources.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val expected = EventStreams.dedupEventsBatch(
        EventStreams.withDuplicateDeliveries(batchEv))
      .select($"user_id", $"ts", $"event_type", $"value")
      .as[(Long, java.sql.Timestamp, String, Double)].collect().toSet

    val stream = EventStreams.readEvents(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    val got = EventStreams.runToMemory(
        EventStreams.dedupEventsStreaming(
          EventStreams.withDuplicateDeliveries(stream)),
        "dedup_test")
      .as[(Long, java.sql.Timestamp, String, Double)].collect()

    assert(got.length == got.toSet.size, "streaming dedup emitted duplicates")
    assert(got.toSet == expected)
  }

  test("checkpointed file-sink query restarts exactly-once: batch1 is " +
      "not re-emitted after recovery") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ckpt-test").toString
    val stage = s"$root/in"; val ckpt = s"$root/ckpt"; val out = s"$root/out"

    // ts reads as TIMESTAMP (µs) in this session — no nanosAsLong conf
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type", "value")
    // time-ordered halves so the second arrival wave is never late
    // relative to the first wave's watermark
    val cut = ev.select(expr("percentile(unix_micros(ts), 0.5)"))
      .head().getDouble(0).toLong
    val half1 = ev.filter(expr(s"unix_micros(ts) <= $cut"))
    val half2 = ev.filter(expr(s"unix_micros(ts) > $cut"))

    def startQuery() = spark.readStream
      .schema(half1.schema)
      .option("recursiveFileLookup", "true")
      .parquet(stage)
      .withWatermark("ts", "10 minutes")
      .dropDuplicates("user_id", "ts")
      .writeStream
      .format("parquet")
      .option("checkpointLocation", ckpt)
      .option("path", out)
      .start()

    half1.coalesce(1).write.parquet(s"$stage/wave1")
    val q1 = startQuery()
    q1.processAllAvailable(); q1.stop()
    val afterWave1 = spark.read.parquet(out).count()

    half2.coalesce(1).write.parquet(s"$stage/wave2")
    val q2 = startQuery() // NEW query object, SAME checkpoint
    q2.processAllAvailable(); q2.stop()

    val finalRows = spark.read.parquet(out)
      .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)].collect()
    // exactly-once across the restart: no key emitted twice, and the
    // union equals the batch dedup of both waves
    assert(finalRows.length == finalRows.toSet.size,
      "restart re-emitted rows — sink is not exactly-once")
    val expected = ev.select($"user_id", $"ts").distinct().count()
    assert(finalRows.length.toLong == expected)
    assert(afterWave1 > 0 && afterWave1 < expected,
      "wave split degenerate — restart path not actually exercised")
  }

  test("stream-stream interval join matches the batch join") {
    import spark.implicits._
    val ev = graft.sources.Tables.events(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type")
    val expected = EventStreams.clickPurchaseJoin(
        ev.filter($"event_type" === "click"),
        ev.filter($"event_type" === "purchase"))
      .as[(Long, Long, Long)].collect().toSet
    assert(expected.nonEmpty, "fixture produced no click->purchase pairs")

    val stream = EventStreams.readEvents(spark, sf0001)
      .select("event_id", "ts", "user_id", "event_type")
    val got = EventStreams.runToMemory(
        EventStreams.clickPurchaseJoinStreaming(stream), "ssjoin_test")
      .as[(Long, Long, Long)].collect().toSet
    assert(got == expected)
  }
}
