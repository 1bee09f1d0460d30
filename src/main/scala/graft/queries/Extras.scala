package graft.queries

import graft.QueryDef
import graft.llmops.Multimodal
import graft.sources.Tables
import graft.streaming.EventStreams
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Streaming-equivalent and multimodal queries. */
object Extras {

  /** Z-order (Morton) layout envelope ([[graft.ops.ZOrder.layoutStats]]):
    * events sorted by the bit-interleave of (user bucket, hour bucket),
    * cut into 512-row files, each reporting the min/max footer stats a
    * reader would prune on — the write-side layout that makes parquet
    * skip on two dimensions at once. Pure integer bit math; the oracle
    * replays the interleave, the total order and every envelope. */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ZOrder.layoutStats(Tables.events(spark, dir),
      rowsPerFile = 512, bits = 8)

  /** Shared CTE chain: events → z-order 512-row files with envelopes
    * (used by q112's oracle and, extended, by q140's). */
  private def zorderFileCtes: String = {
    val terms = (0 until 8).map(j =>
      s"(((ub >> $j) & 1) << ${2 * j}) + (((hb >> $j) & 1) << ${2 * j + 1})")
      .mkString(" + ")
    s"""raw AS (SELECT event_id, user_id AS u,
       |              epoch_ns(ts) // 3600000000000 AS hr FROM events),
       |s AS (SELECT min(u) AS minu, max(u) AS maxu,
       |             min(hr) AS minh, max(hr) AS maxh FROM raw),
       |e AS (SELECT event_id,
       |        (u - minu) * 256 // (maxu - minu + 1) AS ub,
       |        (hr - minh) * 256 // (maxh - minh + 1) AS hb
       |      FROM raw CROSS JOIN s),
       |z AS (SELECT event_id, ub, hb, $terms AS zv FROM e),
       |r AS (SELECT ub, hb,
       |        row_number() OVER (ORDER BY zv, event_id) - 1 AS rn FROM z),
       |files AS (SELECT rn // 512 AS file_id, count(*) AS n_rows,
       |            min(ub) AS min_ub, max(ub) AS max_ub,
       |            min(hb) AS min_hb, max(hb) AS max_hb
       |          FROM r GROUP BY 1)""".stripMargin
  }

  private def zorderOracle: String =
    s"""WITH $zorderFileCtes
       |SELECT file_id, n_rows, min_ub, max_ub, min_hb, max_hb
       |FROM files ORDER BY file_id""".stripMargin

  /** q152 (r9): A/B experiment readout ([[graft.ops.Experiment]]) —
    * portable-hash unit assignment (the q75 kernel, so the oracle
    * re-derives the whole experiment from raw events), distinct-unit
    * exposure/conversion counts, integer-ppm conversion and lift,
    * pooled two-proportion z in milli-units from identical IEEE op
    * order in both engines, |z| ≥ 1.96 verdict. */
  def abExperiment(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Experiment.abSummary(Tables.events(spark, dir),
      "user_id", "event_type", "purchase", seed = "exp1",
      // ≥15 purchase events: on this high-frequency fixture "any
      // purchase ever" saturates to p = 1 (zero pooled sd); the
      // threshold puts conversion mid-range so the statistic binds
      minConvEvents = 15)

  private def abExperimentOracle: String =
    """WITH pu AS (SELECT user_id,
      |         ('0x' || substr(md5('exp1:' || user_id), 1, 8))::BIGINT
      |           % 1000000 < 500000 AS treated,
      |         CASE WHEN sum(CASE WHEN event_type = 'purchase'
      |                            THEN 1 ELSE 0 END) >= 15
      |              THEN 1 ELSE 0 END AS conv
      |       FROM events GROUP BY 1, 2),
      |c AS (SELECT
      |        CAST(sum(CASE WHEN NOT treated THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
      |        CAST(sum(CASE WHEN NOT treated THEN conv ELSE 0 END) AS BIGINT) AS conv_c,
      |        CAST(sum(CASE WHEN treated THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
      |        CAST(sum(CASE WHEN treated THEN conv ELSE 0 END) AS BIGINT) AS conv_t
      |      FROM pu),
      |p AS (SELECT *,
      |        (conv_c + conv_t)::DOUBLE / (n_c + n_t)::DOUBLE AS p_pool
      |      FROM c),
      |z AS (SELECT *,
      |        CAST(floor(((conv_t::DOUBLE / n_t::DOUBLE)
      |                    - (conv_c::DOUBLE / n_c::DOUBLE))
      |          / sqrt(p_pool * (1.0 - p_pool)
      |                 * (1.0 / n_c::DOUBLE + 1.0 / n_t::DOUBLE))
      |          * 1000) AS BIGINT) AS z_milli
      |      FROM p)
      |SELECT n_c, conv_c, n_t, conv_t,
      |  CAST(conv_c * 1000000 // n_c AS BIGINT) AS conv_ppm_c,
      |  CAST(conv_t * 1000000 // n_t AS BIGINT) AS conv_ppm_t,
      |  CAST((conv_t * n_c - conv_c * n_t) * 1000000
      |       // (conv_c * n_t) AS BIGINT) AS lift_ppm,
      |  z_milli,
      |  coalesce(abs(z_milli) >= 1960, false) AS significant
      |FROM z""".stripMargin

  /** q151 (r9): QUANTILE-binned z-order layout
    * ([[graft.ops.ZOrder.layoutStatsQuantile]]) — equal-frequency
    * buckets via (rank−1)·256 DIV total per dimension, the skew-proof
    * sibling of q112's equal-width binning; same file-envelope
    * output, both the ranks and the interleave replayed bit-for-bit
    * by the oracle. */
  def zorderQuantileLayout(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ZOrder.layoutStatsQuantile(Tables.events(spark, dir),
      rowsPerFile = 512, bits = 8)

  private def zorderQuantileOracle: String = {
    val terms = (0 until 8).map(j =>
      s"(((ub >> $j) & 1) << ${2 * j}) + (((hb >> $j) & 1) << ${2 * j + 1})")
      .mkString(" + ")
    s"""WITH raw AS (SELECT event_id, user_id AS u,
       |              epoch_ns(ts) // 3600000000000 AS hr FROM events),
       |t AS (SELECT count(*) AS tot FROM raw),
       |rk AS (SELECT event_id,
       |         row_number() OVER (ORDER BY u, event_id) AS ru,
       |         row_number() OVER (ORDER BY hr, event_id) AS rh
       |       FROM raw),
       |e AS (SELECT event_id,
       |        (ru - 1) * 256 // tot AS ub,
       |        (rh - 1) * 256 // tot AS hb
       |      FROM rk CROSS JOIN t),
       |z AS (SELECT event_id, ub, hb, $terms AS zv FROM e),
       |r AS (SELECT ub, hb,
       |        row_number() OVER (ORDER BY zv, event_id) - 1 AS rn FROM z),
       |files AS (SELECT rn // 512 AS file_id, count(*) AS n_rows,
       |            min(ub) AS min_ub, max(ub) AS max_ub,
       |            min(hb) AS min_hb, max(hb) AS max_hb
       |          FROM r GROUP BY 1)
       |SELECT file_id, n_rows, min_ub, max_ub, min_hb, max_hb
       |FROM files ORDER BY file_id""".stripMargin
  }

  /** q140 (r8): the OPTIMIZE pipeline — [[graft.ops.Compaction.planBins]]
    * over the z-order files of q112 (rows as the size proxy, 2048-row
    * target): contiguous-in-z merges, so each output file's envelope is
    * the union of ADJACENT z-ranges and the two-dimensional clustering
    * survives compaction. Output: one row per planned output file with
    * its merged envelope. */
  def zorderCompaction(spark: SparkSession, dir: String): DataFrame = {
    val files = graft.ops.ZOrder.layoutStats(Tables.events(spark, dir),
        rowsPerFile = 512, bits = 8)
      .withColumn("part", lit("t"))
    val plan = graft.ops.Compaction.planBins(files, "part", "file_id",
      "n_rows", targetBytes = 2048L).alias("p")
    val f = files.alias("f")
    plan.join(f,
        col("f.file_id").between(col("p.first_file"), col("p.last_file")))
      .groupBy(col("p.bin").as("bin"))
      .agg(count(lit(1)).as("n_files"),
        sum(col("f.n_rows")).as("total_rows"),
        min(col("f.min_ub")).as("min_ub"), max(col("f.max_ub")).as("max_ub"),
        min(col("f.min_hb")).as("min_hb"), max(col("f.max_hb")).as("max_hb"))
      .orderBy(col("bin"))
  }

  private def zorderCompactionOracle: String =
    s"""WITH $zorderFileCtes,
       |c AS (SELECT *, sum(n_rows) OVER (ORDER BY file_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |      FROM files),
       |b AS (SELECT *, CAST((cum - n_rows) // 2048 AS BIGINT) AS bin FROM c)
       |SELECT bin, count(*)::BIGINT AS n_files,
       |       sum(n_rows)::BIGINT AS total_rows,
       |       min(min_ub) AS min_ub, max(max_ub) AS max_ub,
       |       min(min_hb) AS min_hb, max(max_hb) AS max_hb
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin

  /** Event-time hourly windowed agg — the same transformation the
    * streaming path runs (EventStreams.hourlyTypeCounts), executed over
    * the bounded batch table for the oracle gate. */
  def hourlyWindowCounts(spark: SparkSession, dir: String): DataFrame =
    EventStreams.hourlyTypeCounts(Tables.events(spark, dir))
      .orderBy(col("window_start"), col("event_type"))

  /** Session windows per user (30-min inactivity gap) — batch run of the
    * streaming sessionization (rows-only: no session_window in DuckDB). */
  def userSessions(spark: SparkSession, dir: String): DataFrame =
    EventStreams.userSessions(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("session_start"))

  /** Batch twin of the streaming exact-dedup: duplicate deliveries
    * injected deterministically, deduped by logical key (user_id, ts)
    * keeping the min delivery id (EventStreamsSpec proves the
    * streaming dropDuplicates path emits the same logical rows). */
  def streamDedup(spark: SparkSession, dir: String): DataFrame =
    EventStreams.dedupEventsBatch(
        EventStreams.withDuplicateDeliveries(
          Tables.events(spark, dir)
            .select("event_id", "ts", "user_id", "event_type", "value")))
      .orderBy(col("user_id"), col("ts"))

  /** Batch twin of the stream-stream interval join: clicks matched to
    * the same user's purchases within 30 minutes after the click. */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select("event_id", "ts", "user_id", "event_type")
    EventStreams.clickPurchaseJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))
  }

  /** q103 (VERDICT r5 "Next round" #4): the custom
    * flatMapGroupsWithState sessionizer ([[EventStreams.sessionizeCustom]])
    * driven through a REAL two-wave streaming run and hash-compared by
    * the driver against DuckDB gaps-and-islands SQL — the one component
    * whose correctness previously rested solely on internal specs.
    *
    * The fixture (literal rows, embedded as a VALUES relation in the
    * oracle, the q42b pattern) stages two file-source micro-batches:
    * wave 1 establishes watermark 55min; wave 2 delivers three
    * watermark-LEGAL late events (58/56/57min, lateness < 10min
    * horizon) that must widen buffered sessions (u1: 58 merges into
    * [60]; u2: 56 merges into [40]) or open a new one (u3: 57), plus a
    * flush event (200min → final watermark 190min) that closes every
    * session except its own. Sessionization over the full row set is
    * arrival-order-independent when late handling is correct, so the
    * oracle is plain batch gaps-and-islands (inclusive gap comparator,
    * matching the probed Spark 4.1 session_window boundary) filtered to
    * sessions closed by the final watermark. */
  def sessionizeLateStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val waves: Seq[Seq[(Long, Long, Double)]] = Seq(
      Seq((1L, 0L, 1.0), (1L, 5L, 2.0), (1L, 60L, 3.0),
        (2L, 0L, 4.0), (2L, 40L, 5.0), (9L, 65L, 6.0)),
      Seq((1L, 58L, 7.0), (2L, 56L, 8.0), (3L, 57L, 9.0),
        (9L, 200L, 10.0)))
    val root = java.nio.file.Files.createTempDirectory("q103-sess").toString
    val stage = s"$root/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stage))
    def toDf(rows: Seq[(Long, Long, Double)]) =
      rows.toDF("user_id", "m", "value")
        .withColumn("ts", timestamp_seconds(lit(q103BaseSec) + $"m" * 60))
        .select($"user_id", $"ts", $"value")
    val stream = spark.readStream.schema(toDf(waves.head).schema)
      .option("recursiveFileLookup", "true").parquet(stage)
    val name = "q103_sessions_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // r17 optimization round: the q153 rationale applied here — each
    // micro-batch pays state-store setup × shuffle-partition count,
    // and this gate's replay is a 10-row fixture, so 32 state stores
    // per batch is pure overhead (profiled: 4 batch stages × 32 tasks
    // × ~0.4 s state-store CPU each). Scope the stateful query to 4
    // partitions and restore the session value after; results are
    // partitioning-independent.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    // query handle held OUTSIDE the try so an exception during wave
    // replay cannot leak a running streaming query (the q153 pattern)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    try {
      q = EventStreams.sessionizeCustom(stream, gapMinutes = 30).toDF()
        .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Append())
        .format("memory").queryName(name).start()
      // write waves sequentially, draining between: wave 1 is fully
      // processed (watermark advanced) before wave 2 exists
      waves.zipWithIndex.foreach { case (rows, i) =>
        toDf(rows).coalesce(1).write.parquet(s"$stage/wave$i")
        q.processAllAvailable()
      }
    } finally {
      if (q != null) try q.stop() catch { case _: Throwable => () }
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    // the emitted sessions are a handful of rows: pull them local so
    // the memory-sink view and the staged waves can be dropped HERE
    // instead of accumulating one table + tempdir per bench pass
    // (ADVICE r6)
    val out = spark.table(name)
      .select($"userId".as("user_id"), $"startUs".as("start_us"),
        $"endUs".as("end_us"), $"nEvents".as("n_events"),
        $"sessionValue".as("session_value"))
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    spark.catalog.dropTempView(name)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(root))
    out.toDF("user_id", "start_us", "end_us", "n_events", "session_value")
      .orderBy($"user_id", $"start_us")
  }

  private val q103BaseSec = 1704067200L // 2024-01-01T00:00:00Z
  private def sessionizeLateOracle: String = {
    val baseUs = q103BaseSec * 1000000L
    s"""WITH raw AS (
       |  SELECT CAST(user_id AS BIGINT) AS user_id,
       |         $baseUs + CAST(m AS BIGINT) * 60000000 AS ts_us,
       |         CAST(value AS DOUBLE) AS value
       |  FROM (VALUES (1, 0, 1.0), (1, 5, 2.0), (1, 60, 3.0),
       |               (2, 0, 4.0), (2, 40, 5.0), (9, 65, 6.0),
       |               (1, 58, 7.0), (2, 56, 8.0), (3, 57, 9.0),
       |               (9, 200, 10.0)) AS t(user_id, m, value)),
       |flags AS (SELECT user_id, ts_us, value,
       |    CASE WHEN lag(ts_us) OVER w IS NULL
       |          OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_new
       |  FROM raw WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
       |grp AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
       |          ROWS UNBOUNDED PRECEDING) AS g FROM flags),
       |sess AS (SELECT user_id, min(ts_us) AS start_us,
       |           max(ts_us) + 1800000000 AS end_us,
       |           count(*) AS n_events, round(sum(value), 2) AS session_value
       |         FROM grp GROUP BY user_id, g)
       |SELECT user_id, start_us, end_us, n_events, session_value
       |FROM sess
       |WHERE end_us <= $baseUs + ${190 * 60000000L}
       |ORDER BY user_id, start_us""".stripMargin
  }

  /** q106/q107 (r6): JSONL / CSV source-format round-trips — the
    * text-source surface beyond parquet (SURVEY §2.1 family). Each
    * gate writes the documents table through the format and reads it
    * back with an explicit schema; the oracle is simply the documents
    * table, so ANY loss in the round-trip (encoding, quoting,
    * embedded newlines/quotes in text, null handling) fails the hash
    * compare. CSV is the adversarial one: multiLine + quote-escape
    * must survive free-text columns. */
  /** NULL sentinel pinned on BOTH csv sides: Spark's defaults map null
    * and empty string to the same on-disk "" — with \N pinned, null
    * round-trips distinctly from "" and the gate actually exercises
    * that loss class (ADVICE r6; proven by `CsvNullRoundtripSpec`).
    * One documented residual (also pinned there): free text EXACTLY
    * equal to the sentinel is written unquoted and reads back null —
    * the inherent CSV sentinel collision every \N convention shares. */
  private[graft] val csvNullSentinel = "\\N"

  private[graft] def roundtripDf(docs: DataFrame, format: String,
      path: String): DataFrame = {
    val w = docs.coalesce(1).write.mode("overwrite")
    format match {
      case "json" => w.json(path)
      case "orc" => w.orc(path)
      case "csv" => w.option("header", "true")
        .option("quote", "\"").option("escape", "\"")
        .option("nullValue", csvNullSentinel).csv(path)
    }
    val r = docs.sparkSession.read.schema(docs.schema)
    (format match {
      case "json" => r.json(path)
      case "orc" => r.orc(path)
      case "csv" => r.option("header", "true").option("multiLine", "true")
        .option("quote", "\"").option("escape", "\"")
        .option("nullValue", csvNullSentinel).csv(path)
    }).orderBy(col("doc_id"))
  }

  private def formatRoundtrip(spark: SparkSession, dir: String,
      format: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), col("text"))
    // ONE stable staging dir per (format, sfDir, JVM), overwritten each
    // invocation — the gate's read is lazy, so delete-in-finally would
    // pull the rug out from under the consumer; per-(format,dir) reuse
    // is what stops best-of-N bench passes from accumulating copies in
    // /tmp (ADVICE r6). The JVM token (r16) keeps CONCURRENT drivers
    // out of each other's staging dirs — the overwrite here is the
    // operator under test, so unlike the replay dumps it can't become
    // a publish; isolation, not atomicity, is the fix.
    val jvmTag = java.lang.Integer.toHexString(
      java.lang.management.ManagementFactory
        .getRuntimeMXBean.getName.hashCode) // pid@host — unique per JVM
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft-rt-$format-" +
      java.lang.Integer.toHexString(dir.hashCode) + s"-$jvmTag"
    roundtripDf(docs, format, s"$tmp/docs")
  }

  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame =
    formatRoundtrip(spark, dir, "json")

  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame =
    formatRoundtrip(spark, dir, "csv")

  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame =
    formatRoundtrip(spark, dir, "orc")

  private def roundtripOracle: String =
    """SELECT doc_id, lang, text FROM documents ORDER BY doc_id""".stripMargin

  /** SCD-1 snapshot upsert merge: a synthetic v2 update stream (every
    * 5th doc re-delivered with new text and a higher version) merged
    * into the base snapshot; latest version wins. */
  def snapshotMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), lit(1).as("version"), col("text"))
    val updates = Tables.documents(spark, dir)
      .filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), lit(2).as("version"),
        concat(lit("[v2] "), col("text")).as("text"))
    graft.sources.Snapshots.mergeUpsert(base, updates, "doc_id", "version")
      .orderBy(col("doc_id"))
  }

  /** q120 (r8): CDC changelog by snapshot diff
    * ([[graft.ops.ChangeCapture.snapshotDiff]]) — v2 of the documents
    * snapshot fabricated deterministically (every 7th doc deleted,
    * every surviving 5th updated, every 11th re-keyed as an insert),
    * diffed against v1 into I/U/D rows carrying the old/new content
    * hashes. Unchanged keys never leave the join. */
  def cdcChangelog(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val survivors = docs.filter(col("doc_id") % 7 =!= 0)
      .withColumn("text", when(col("doc_id") % 5 === 0,
        concat(lit("[v2] "), col("text"))).otherwise(col("text")))
    val inserts = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        concat(lit("[new] "), col("text")).as("text"))
    graft.ops.ChangeCapture.snapshotDiff(
        docs, survivors.unionByName(inserts), "doc_id", Seq("text"))
      .orderBy(col("doc_id"))
  }

  private def cdcChangelogOracle: String =
    """WITH o AS (SELECT doc_id, md5(text) AS h_old FROM documents),
      |n0 AS (SELECT doc_id,
      |         CASE WHEN doc_id % 5 = 0 THEN '[v2] ' || text ELSE text END AS text
      |       FROM documents WHERE doc_id % 7 <> 0),
      |ni AS (SELECT doc_id + 1000000 AS doc_id, '[new] ' || text AS text
      |       FROM documents WHERE doc_id % 11 = 0),
      |n AS (SELECT doc_id, md5(text) AS h_new
      |      FROM (SELECT * FROM n0 UNION ALL SELECT * FROM ni)),
      |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, h_old, h_new
      |      FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      |SELECT doc_id,
      |  CASE WHEN h_old IS NULL THEN 'I'
      |       WHEN h_new IS NULL THEN 'D' ELSE 'U' END AS op,
      |  h_old, h_new
      |FROM j WHERE h_old IS NULL OR h_new IS NULL OR h_old <> h_new
      |ORDER BY doc_id""".stripMargin

  /** q121 (r8): SCD-2 interval history ([[graft.ops.ChangeCapture.scd2]])
    * from three fabricated delivery waves — wave 2 modifies every 5th
    * doc, wave 3 every 10th; everything else re-delivers IDENTICAL
    * content and must collapse into the open interval rather than
    * churn versions. */
  /** The three fabricated delivery waves shared by q121 and q124. */
  private def scd2Deliveries(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val v1 = docs.select(col("doc_id"), lit(1L).as("version"), col("text"))
    val v2 = docs.select(col("doc_id"), lit(2L).as("version"),
      when(col("doc_id") % 5 === 0, concat(lit("[v2] "), col("text")))
        .otherwise(col("text")).as("text"))
    val v3 = docs.select(col("doc_id"), lit(3L).as("version"),
      when(col("doc_id") % 10 === 0, concat(lit("[v3] "), col("text")))
        .when(col("doc_id") % 5 === 0, concat(lit("[v2] "), col("text")))
        .otherwise(col("text")).as("text"))
    v1.unionByName(v2).unionByName(v3)
  }

  def scd2History(spark: SparkSession, dir: String): DataFrame =
    graft.ops.ChangeCapture.scd2(
        scd2Deliveries(spark, dir), "doc_id", "version", Seq("text"))
      .orderBy(col("doc_id"), col("valid_from"))

  /** q124 (r8): time-travel read
    * ([[graft.ops.ChangeCapture.asOfVersion]]) — the documents table
    * reconstructed as of each of versions 1..3 from the SCD-2 interval
    * history. The oracle derives the SAME reads independently as
    * latest-delivery-wins over the raw delivery stream (NOT by
    * replaying the interval filter), so the gate proves the interval
    * encoding round-trips every version. */
  def timeTravelRead(spark: SparkSession, dir: String): DataFrame = {
    val hist = graft.ops.ChangeCapture.scd2(
      scd2Deliveries(spark, dir), "doc_id", "version", Seq("text"))
    Seq(1L, 2L, 3L).map { v =>
      graft.ops.ChangeCapture.asOfVersion(hist, v)
        .select(lit(v).as("as_of"), col("doc_id"), col("h"))
    }.reduce(_ unionByName _).orderBy(col("as_of"), col("doc_id"))
  }

  private def timeTravelOracle: String =
    """WITH docs AS (SELECT doc_id, text FROM documents),
      |d AS (
      |  SELECT doc_id, 1::BIGINT AS v, text FROM docs
      |  UNION ALL
      |  SELECT doc_id, 2::BIGINT,
      |    CASE WHEN doc_id % 5 = 0 THEN '[v2] ' || text ELSE text END FROM docs
      |  UNION ALL
      |  SELECT doc_id, 3::BIGINT,
      |    CASE WHEN doc_id % 10 = 0 THEN '[v3] ' || text
      |         WHEN doc_id % 5 = 0 THEN '[v2] ' || text ELSE text END FROM docs),
      |vs AS (SELECT unnest([1, 2, 3]::BIGINT[]) AS as_of),
      |j AS (SELECT vs.as_of, d.doc_id, d.text,
      |        row_number() OVER (PARTITION BY vs.as_of, d.doc_id
      |                           ORDER BY d.v DESC) AS rn
      |      FROM vs JOIN d ON d.v <= vs.as_of)
      |SELECT as_of, doc_id, md5(text) AS h
      |FROM j WHERE rn = 1 ORDER BY as_of, doc_id""".stripMargin

  private def scd2Oracle: String =
    """WITH docs AS (SELECT doc_id, text FROM documents),
      |d AS (
      |  SELECT doc_id, 1 AS v, text FROM docs
      |  UNION ALL
      |  SELECT doc_id, 2,
      |    CASE WHEN doc_id % 5 = 0 THEN '[v2] ' || text ELSE text END FROM docs
      |  UNION ALL
      |  SELECT doc_id, 3,
      |    CASE WHEN doc_id % 10 = 0 THEN '[v3] ' || text
      |         WHEN doc_id % 5 = 0 THEN '[v2] ' || text ELSE text END FROM docs),
      |h AS (SELECT doc_id, v::BIGINT AS v, md5(text) AS h FROM d),
      |c AS (SELECT *, lag(h) OVER (PARTITION BY doc_id ORDER BY v) AS prev_h
      |      FROM h),
      |f AS (SELECT doc_id, v, h FROM c WHERE prev_h IS NULL OR h <> prev_h),
      |i AS (SELECT doc_id, h, v AS valid_from,
      |        lead(v) OVER (PARTITION BY doc_id ORDER BY v) - 1 AS valid_to
      |      FROM f)
      |SELECT doc_id, h, valid_from, valid_to, valid_to IS NULL AS is_current
      |FROM i ORDER BY doc_id, valid_from""".stripMargin

  /** q123 (r8): incremental view maintenance
    * ([[graft.ops.ChangeCapture.maintainAgg]]) — revenue-by-priority
    * materialized view maintained from a row-image changelog of a
    * fabricated orders v2 wave (every 7th deleted, every 5th survivor
    * price-bumped +10% in integer cents, every 15th ALSO moved to a
    * new group, every 11th re-keyed as an insert). The gate emits the
    * maintained view PLUS a `matches_recompute` flag against a full
    * recompute of the new snapshot — the IVM invariant is data the
    * oracle hashes, not just a spec assertion. */
  def incrementalAggMaintain(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select(col("o_orderkey").as("k"),
      col("o_orderpriority").as("g"),
      expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
    val survivors = o.filter(col("k") % 7 =!= 0)
      .withColumn("v", when(col("k") % 5 === 0,
        col("v") + expr("v DIV 10")).otherwise(col("v")))
      .withColumn("g", when(col("k") % 15 === 0, lit("9-MOVED"))
        .otherwise(col("g")))
    val inserts = o.filter(col("k") % 11 === 0)
      .select((col("k") + 10000000L).as("k"), col("g"), col("v"))
    val newSnap = survivors.unionByName(inserts)
    val oldAgg = o.groupBy("g")
      .agg(count(lit(1)).as("n_rows"), sum("v").as("total"))
    val changes = graft.ops.ChangeCapture.rowImageDiff(o, newSnap, "k", "g", "v")
    val maintained = graft.ops.ChangeCapture.maintainAgg(oldAgg, changes)
    val recomputed = newSnap.groupBy("g")
      .agg(count(lit(1)).as("rn"), sum("v").as("rt"))
    maintained.join(recomputed, Seq("g"), "full_outer")
      .select(col("g").as("grp"), col("n_rows"), col("total"),
        (col("n_rows") <=> col("rn") && col("total") <=> col("rt"))
          .as("matches_recompute"))
      .orderBy(col("grp"))
  }

  private def incrementalAggMaintainOracle: String =
    """WITH o AS (SELECT o_orderkey AS k, o_orderpriority AS g,
      |            CAST(round(o_totalprice * 100, 0) AS BIGINT) AS v
      |           FROM orders),
      |n0 AS (SELECT k,
      |         CASE WHEN k % 15 = 0 THEN '9-MOVED' ELSE g END AS g,
      |         CASE WHEN k % 5 = 0 THEN v + v // 10 ELSE v END AS v
      |       FROM o WHERE k % 7 <> 0),
      |ni AS (SELECT k + 10000000 AS k, g, v FROM o WHERE k % 11 = 0),
      |n AS (SELECT * FROM n0 UNION ALL SELECT * FROM ni),
      |oldagg AS (SELECT g, count(*)::BIGINT AS n_rows,
      |             sum(v)::BIGINT AS total FROM o GROUP BY g),
      |ch AS (SELECT o.g AS g_old, o.v AS v_old, n.g AS g_new, n.v AS v_new,
      |         CASE WHEN o.k IS NULL THEN 'I' WHEN n.k IS NULL THEN 'D'
      |              WHEN o.g IS DISTINCT FROM n.g
      |                OR o.v IS DISTINCT FROM n.v THEN 'U' END AS op
      |       FROM o FULL OUTER JOIN n ON o.k = n.k),
      |chg AS (SELECT * FROM ch WHERE op IS NOT NULL),
      |d AS (SELECT g_old AS g, -1::BIGINT AS dn, -v_old AS dv FROM chg
      |        WHERE op IN ('U', 'D')
      |      UNION ALL
      |      SELECT g_new, 1::BIGINT, v_new FROM chg WHERE op IN ('I', 'U')),
      |delta AS (SELECT g, sum(dn)::BIGINT AS dn, sum(dv)::BIGINT AS dv
      |          FROM d GROUP BY g),
      |m AS (SELECT coalesce(a.g, delta.g) AS g,
      |        coalesce(a.n_rows, 0) + coalesce(delta.dn, 0) AS n_rows,
      |        coalesce(a.total, 0) + coalesce(delta.dv, 0) AS total
      |      FROM oldagg a FULL OUTER JOIN delta ON a.g = delta.g),
      |mm AS (SELECT * FROM m WHERE n_rows > 0),
      |rec AS (SELECT g, count(*)::BIGINT AS rn, sum(v)::BIGINT AS rt
      |        FROM n GROUP BY g)
      |SELECT coalesce(mm.g, rec.g) AS grp, n_rows, total,
      |       coalesce(n_rows = rn, FALSE)
      |         AND coalesce(total = rt, FALSE) AS matches_recompute
      |FROM mm FULL OUTER JOIN rec ON mm.g = rec.g
      |ORDER BY grp""".stripMargin

  /** q125 (r8): compaction planner ([[graft.ops.Compaction.planBins]])
    * — the event log's per-(day, hour) "files" (bytes = summed props
    * length) packed into ~4 KiB output files per day. The oracle
    * replays the prefix-sum binning and every per-bin envelope. */
  def compactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val fileStats = Tables.events(spark, dir)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("part"),
        hour(col("ts")).cast("long").as("file_id"),
        length(col("props")).cast("long").as("b"))
      .groupBy("part", "file_id").agg(sum("b").as("bytes"))
    graft.ops.Compaction.planBins(fileStats, "part", "file_id", "bytes", 4096L)
      .orderBy(col("part"), col("bin"))
  }

  private def compactionOracle: String =
    """WITH f AS (
      |  SELECT strftime(ts, '%Y-%m-%d') AS part,
      |         CAST(datepart('hour', ts) AS BIGINT) AS file_id,
      |         CAST(sum(length(props)) AS BIGINT) AS bytes
      |  FROM events GROUP BY 1, 2),
      |c AS (SELECT part, file_id, bytes,
      |        sum(bytes) OVER (PARTITION BY part ORDER BY file_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |      FROM f),
      |b AS (SELECT part, file_id, bytes,
      |        CAST((cum - bytes) // 4096 AS BIGINT) AS bin FROM c)
      |SELECT part, bin, count(*)::BIGINT AS n_files,
      |       sum(bytes)::BIGINT AS total_bytes,
      |       min(file_id) AS first_file, max(file_id) AS last_file
      |FROM b GROUP BY part, bin ORDER BY part, bin""".stripMargin

  /** q122 (r8): strictly-ordered funnel step times
    * ([[graft.ops.Funnel.stepTimes]]) — per user, the earliest
    * view → click → purchase chain where each step must occur at or
    * after the previous step's reach time. One shuffle on user_id;
    * the oracle replays the RANGE-framed running-min windows. */
  def funnelSteps(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.stepTimes(Tables.events(spark, dir),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
      .select(col("user_id"),
        unix_micros(col("t_1")).as("t1_us"),
        unix_micros(col("t_2")).as("t2_us"),
        unix_micros(col("t_3")).as("t3_us"))
      .orderBy(col("user_id"))

  /** The funnel running-min CTE chain over an arbitrary events
    * relation `src` — shared by the plain oracles (src = events) and
    * q153's bounded-replay oracle (src = the replay slice). */
  private def funnelWindowCtesFrom(src: String) =
    s"""e AS (SELECT user_id, event_type AS t, ts FROM $src),
      |w1 AS (SELECT user_id, t, ts,
      |  min(CASE WHEN t = 'view' THEN ts END) OVER
      |    (PARTITION BY user_id ORDER BY ts
      |     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1
      |  FROM e),
      |w2 AS (SELECT *,
      |  min(CASE WHEN t = 'click' AND r1 IS NOT NULL THEN ts END) OVER
      |    (PARTITION BY user_id ORDER BY ts
      |     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2
      |  FROM w1),
      |per AS (SELECT user_id,
      |    min(CASE WHEN t = 'view' THEN ts END) AS t1,
      |    min(CASE WHEN t = 'click' AND r1 IS NOT NULL THEN ts END) AS t2,
      |    min(CASE WHEN t = 'purchase' AND r2 IS NOT NULL THEN ts END) AS t3
      |  FROM w2 GROUP BY user_id)""".stripMargin

  private def funnelStepsOracle: String =
    s"""WITH ${funnelWindowCtesFrom("events")}
       |SELECT user_id, epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
       |       epoch_us(t3) AS t3_us
       |FROM per ORDER BY user_id""".stripMargin

  /** q153's oracle: q122's funnel fold over the SAME bounded replay
    * slice the stream consumes (first [[ReplayUsers]] users, earliest
    * [[ReplayEventsPerUser]] events per user in (ts, event_id) order)
    * — at sf0.01 the slice is the whole table, at any sf the two sides
    * compute over identical rows by construction. */
  private def funnelUnorderedStreamOracle: String =
    s"""WITH ulim AS (SELECT user_id FROM events
       |              GROUP BY user_id ORDER BY user_id LIMIT $ReplayUsers),
       |ecap AS (SELECT user_id, event_type, ts,
       |    row_number() OVER (PARTITION BY user_id
       |                       ORDER BY epoch_us(ts), event_id) AS rn
       |  FROM events WHERE user_id IN (SELECT user_id FROM ulim)),
       |${funnelWindowCtesFrom(
              s"(SELECT user_id, event_type, ts FROM ecap WHERE rn <= $ReplayEventsPerUser)")}
       |SELECT user_id, epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
       |       epoch_us(t3) AS t3_us
       |FROM per ORDER BY user_id""".stripMargin

  /** q122b (r8): funnel summary ([[graft.ops.Funnel.summary]]) — users
    * reaching each step + integer ppm conversion vs previous/first. */
  def funnelSummary(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.summary(Tables.events(spark, dir),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))

  private def funnelSummaryOracle: String =
    s"""WITH ${funnelWindowCtesFrom("events")},
       |c AS (SELECT count(t1)::BIGINT AS n1, count(t2)::BIGINT AS n2,
       |             count(t3)::BIGINT AS n3 FROM per)
       |SELECT 1::INTEGER AS step, 'view' AS step_type, n1 AS n_reached,
       |  CASE WHEN n1 > 0 THEN n1 * 1000000 // n1 ELSE 0 END AS conv_prev_ppm,
       |  CASE WHEN n1 > 0 THEN n1 * 1000000 // n1 ELSE 0 END AS conv_first_ppm
       |FROM c
       |UNION ALL
       |SELECT 2::INTEGER, 'click', n2,
       |  CASE WHEN n1 > 0 THEN n2 * 1000000 // n1 ELSE 0 END,
       |  CASE WHEN n1 > 0 THEN n2 * 1000000 // n1 ELSE 0 END
       |FROM c
       |UNION ALL
       |SELECT 3::INTEGER, 'purchase', n3,
       |  CASE WHEN n2 > 0 THEN n3 * 1000000 // n2 ELSE 0 END,
       |  CASE WHEN n1 > 0 THEN n3 * 1000000 // n1 ELSE 0 END
       |FROM c
       |ORDER BY step""".stripMargin

  /** q129 (r8): horizon-bounded funnel — q122's strict ordering plus
    * a 72-hour conversion window anchored at each user's FIRST view
    * (later steps outside the horizon don't count). */
  def funnelHorizon(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Funnel.stepTimes(Tables.events(spark, dir),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
        maxSpanSec = Some(72L * 3600))
      .select(col("user_id"),
        unix_micros(col("t_1")).as("t1_us"),
        unix_micros(col("t_2")).as("t2_us"),
        unix_micros(col("t_3")).as("t3_us"))
      .orderBy(col("user_id"))

  private def funnelHorizonOracle: String =
    """WITH e AS (SELECT user_id, event_type AS t, ts FROM events),
      |w1 AS (SELECT user_id, t, ts,
      |  min(CASE WHEN t = 'view' THEN ts END) OVER
      |    (PARTITION BY user_id ORDER BY ts
      |     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r1
      |  FROM e),
      |w2 AS (SELECT *,
      |  min(CASE WHEN t = 'click' AND r1 IS NOT NULL
      |           AND epoch_us(ts) - epoch_us(r1) <= 259200000000
      |           THEN ts END) OVER
      |    (PARTITION BY user_id ORDER BY ts
      |     RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r2
      |  FROM w1)
      |SELECT user_id,
      |  epoch_us(min(CASE WHEN t = 'view' THEN ts END)) AS t1_us,
      |  epoch_us(min(CASE WHEN t = 'click' AND r1 IS NOT NULL
      |    AND epoch_us(ts) - epoch_us(r1) <= 259200000000
      |    THEN ts END)) AS t2_us,
      |  epoch_us(min(CASE WHEN t = 'purchase' AND r2 IS NOT NULL
      |    AND epoch_us(ts) - epoch_us(r1) <= 259200000000
      |    THEN ts END)) AS t3_us
      |FROM w2 GROUP BY user_id ORDER BY user_id""".stripMargin

  /** q153 (r10, VERDICT r9 "Next round" #1): the OUT-OF-ORDER
    * streaming funnel ([[EventStreams.funnelStreamingUnordered]])
    * driven through a REAL shuffled multi-wave streaming run and
    * hash-compared against q122's batch-funnel oracle — the operator's
    * own contract (finalized watermark-folded state ≡ the batch
    * fold over the same events) made driver-checkable, moving the
    * last major r9 operator from spec-only to a green gate.
    *
    * Mechanics: a BOUNDED-BY-CONSTRUCTION replay slice of the events
    * fixture is collected (MemoryStream needs driver-side rows): the
    * first [[ReplayUsers]] user_ids (sorted) and each kept user's
    * earliest [[ReplayEventsPerUser]] events (row_number over
    * (ts, event_id) — a total order, so the cut set is deterministic
    * and oracle-replayable), ≤ 512k rows at ANY sf — r17, VERDICT r16
    * "What's wrong" #2: the previous full-table collect was bounded
    * only by the fixture, which is not a bound. At the gate's sf0.01
    * (150 users, ~67 events/user) the slice IS the whole table, but
    * the oracle expresses the slice too, so the gate stays honest at
    * any scale. The slice is then seed-shuffled and replayed through
    * a MemoryStream in 4 arbitrary waves with a watermark delay wider
    * than the slice's event-time span, so every event is in-contract
    * whatever wave it lands in. Two sentinel flush events then advance the watermark
    * past every real timestamp and fire the armed event-time
    * timeouts, so the buffers DRAIN through the fold path — the gate
    * exercises finalization, not just the lookahead. Per-user final
    * rows come out as min-over-emissions (without a horizon every
    * column is monotone non-increasing across Update emissions, so
    * the min IS the finalized value — EventStreams scaladoc).
    * Determinism does not depend on the shuffle seed: ANY arrival
    * order inside the delay window folds to the batch answer, which
    * is exactly what the oracle verifies. */
  /** Replay-slice bounds for [[funnelUnorderedStream]] — the collect
    * is ≤ ReplayUsers × ReplayEventsPerUser rows by construction. */
  val ReplayUsers = 1000
  val ReplayEventsPerUser = 512

  def funnelUnorderedStream(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.expressions.Window
    val steps = Seq("view", "click", "purchase")
    val ev = Tables.events(spark, dir)
      .select($"user_id", $"event_type", $"event_id",
        unix_micros($"ts").as("us"))
    val keptUsers = ev.select($"user_id").distinct()
      .orderBy($"user_id").limit(ReplayUsers)
    val perUser = Window.partitionBy($"user_id")
      .orderBy($"us", $"event_id")
    val all = ev.join(broadcast(keptUsers), Seq("user_id"))
      .withColumn("__rn", row_number().over(perUser))
      .filter($"__rn" <= ReplayEventsPerUser)
      .select($"user_id", $"event_type", $"us")
      .as[(Long, String, Long)].collect()
    val shuffled = new scala.util.Random(153).shuffle(all.toSeq)
    val maxUs = all.iterator.map(_._3).max
    val spanSec = (maxUs - all.iterator.map(_._3).min) / 1000000L
    val delaySec = spanSec + 3600L
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[(Long, String, Long)]
    val events = ms.toDF().toDF("user_id", "event_type", "us")
      .withColumn("ts", timestamp_micros($"us"))
    val name = "q153_funnel_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    // The gate's cost is FIXED streaming overhead, not data: each of
    // the 6 micro-batches pays state-store setup × shuffle-partition
    // count (a 25% event subsample was tried and moved the gate only
    // 10.3 → 9.2 s). Scope the stateful query to 4 partitions — the
    // state shuffle of a 150-user fixture does not need 32 state
    // stores per batch — and restore the session value after.
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    // query handle held OUTSIDE the try so an exception during wave
    // replay/processAllAvailable cannot leak a running streaming query
    // or its memory-sink temp view (ADVICE r10)
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val out = try {
      q = EventStreams.funnelStreamingUnordered(events, steps,
          delay = s"$delaySec seconds").toDF()
        .writeStream.outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
        .format("memory").queryName(name).start()
      shuffled.grouped((shuffled.size / 4).max(1)).foreach { wave =>
        ms.addData(wave)
        q.processAllAvailable()
      }
      // flush 1 lifts the watermark past every real event; flush 2's
      // batch then runs WITH that watermark, firing the armed timeouts
      // so every user's buffer folds into finalized state
      val flushBase = maxUs + (delaySec + 3600L) * 1000000L
      Seq(flushBase, flushBase + 3600L * 1000000L).foreach { f =>
        ms.addData(Seq((-1L, "view", f)))
        q.processAllAvailable()
      }
      // one small row per user: pull local so the memory-sink view can
      // be dropped in the finally instead of accumulating per bench
      // pass (q103 pattern, ADVICE r6)
      spark.table(name)
        .filter($"userId" =!= -1L)
        .groupBy($"userId")
        .agg(min($"t1Us").as("t1"), min($"t2Us").as("t2"),
          min($"t3Us").as("t3"))
        .as[(Long, Option[Long], Option[Long], Option[Long])]
        .collect().toSeq
    } finally {
      if (q != null) q.stop()
      if (spark.catalog.tableExists(name)) spark.catalog.dropTempView(name)
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
    }
    out.toDF("user_id", "t1_us", "t2_us", "t3_us").orderBy($"user_id")
  }

  /** q130 (r8): batch interval-overlap join
    * ([[graft.ops.IntervalJoin.overlapJoin]]) — each user's purchase
    * windows (1 h) × error windows (30 min), bucket-decomposed into an
    * equi-join on (user, hour bucket) with canonical-bucket
    * exactly-once emission. The oracle is the PLAIN predicate join —
    * if the bucketing dropped or duplicated one pair, the hash breaks. */
  def intervalOverlapJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("l_id"),
        unix_micros(col("ts")).as("ls"),
        (unix_micros(col("ts")) + 3600000000L).as("le"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("user_id"), col("event_id").as("r_id"),
        unix_micros(col("ts")).as("rs"),
        (unix_micros(col("ts")) + 1800000000L).as("re"))
    graft.ops.IntervalJoin.overlapJoin(purchases, errors, "user_id",
        bucketWidth = 3600000000L)
      .select(col("user_id"), col("l_id"), col("r_id"))
      .orderBy(col("user_id"), col("l_id"), col("r_id"))
  }

  private def intervalOverlapOracle: String =
    """WITH l AS (SELECT user_id, event_id AS l_id, epoch_us(ts) AS ls,
      |             epoch_us(ts) + 3600000000 AS le
      |           FROM events WHERE event_type = 'purchase'),
      |r AS (SELECT user_id, event_id AS r_id, epoch_us(ts) AS rs,
      |        epoch_us(ts) + 1800000000 AS re
      |      FROM events WHERE event_type = 'error')
      |SELECT user_id, l_id, r_id
      |FROM l JOIN r USING (user_id)
      |WHERE ls <= re AND rs <= le
      |ORDER BY user_id, l_id, r_id""".stripMargin

  /** q131 (r8): HLL sketch re-aggregation — the store-sketches /
    * merge-on-read pattern for distinct counts: per-DAY HllSketch of
    * active users (`hll_sketch_agg`), merged per WEEK with
    * `hll_union_agg`, estimate read back against the exact weekly
    * countDistinct. At 100 TB the daily sketches are the stored
    * artifact (KBs/day instead of a user-id shuffle per query window)
    * and any rollup window is a merge, never a rescan. The gate emits
    * the exact count plus a self-asserting `est_ok` band column (5% or
    * ±1); the DuckDB oracle recomputes the exact count and pins
    * est_ok=TRUE, so an out-of-band sketch breaks the hash — the
    * q54b/q88b sketch-vs-exact pattern. */
  def hllReaggregate(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(
      expr("unix_micros(ts) DIV 86400000000").as("day"),
      expr("unix_micros(ts) DIV 86400000000 DIV 7").as("week"),
      col("user_id"))
    val daily = ev.groupBy(col("week"), col("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"))
    val weekly = daily.groupBy(col("week"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("est"))
    val exact = ev.groupBy(col("week"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(weekly, Seq("week"))
      .select(col("week"), col("n_exact"),
        (abs(col("est") - col("n_exact")) <=
          greatest(lit(1L), (col("n_exact") * 5) / 100)).as("est_ok"))
      .orderBy(col("week"))
  }

  private def hllReaggregateOracle: String =
    """SELECT epoch_us(ts) // 86400000000 // 7 AS week,
      |       count(DISTINCT user_id)::BIGINT AS n_exact,
      |       TRUE AS est_ok
      |FROM events GROUP BY 1 ORDER BY week""".stripMargin

  /** q133 (r8): Markov transition matrix over user journeys — counts
    * and integer-ppm row-normalized probabilities of each
    * event_type → next-event_type transition within a user's timeline
    * (ties broken by event_id so both engines see one ordering). The
    * funnel's (q122) global cousin: one lead() window on the user key,
    * then a 25-cell aggregate. */
  def eventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val trans = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
    trans.groupBy(col("event_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_ppm", expr(
        "n * 1000000L DIV sum(n) OVER (PARTITION BY event_type)"))
      .orderBy(col("event_type"), col("next_type"))
  }

  private def eventTransitionsOracle: String =
    """WITH t AS (
      |  SELECT event_type,
      |         lead(event_type) OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |c AS (SELECT event_type, next_type, count(*)::BIGINT AS n
      |      FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2)
      |SELECT event_type, next_type, n,
      |       CAST(n * 1000000 // sum(n) OVER (PARTITION BY event_type)
      |            AS BIGINT) AS p_ppm
      |FROM c ORDER BY event_type, next_type""".stripMargin

  /** q139 (r8): funnel time-to-convert distribution — over q122's
    * step times, exact interpolated percentiles of (purchase − first
    * view) seconds among fully-converted users (the q54 exact-
    * percentile pattern: fixture-scale oracle vehicle; the q54b
    * mergeable-sketch twin is the 100 TB path for this shape too). */
  def funnelTimeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val per = graft.ops.Funnel.stepTimes(Tables.events(spark, dir),
      "user_id", "event_type", "ts", Seq("view", "click", "purchase"))
    per.filter(col("t_3").isNotNull)
      .select(((unix_micros(col("t_3")) - unix_micros(col("t_1")))
        / lit(1000000L)).cast("long").as("sec"))
      .agg(count(lit(1)).as("n_converted"),
        expr("CAST(round(percentile(sec, 0.5)) AS BIGINT)").as("p50_sec"),
        expr("CAST(round(percentile(sec, 0.9)) AS BIGINT)").as("p90_sec"),
        min(col("sec")).as("min_sec"), max(col("sec")).as("max_sec"))
  }

  private def funnelTtcOracle: String =
    s"""WITH ${funnelWindowCtesFrom("events")},
       |conv AS (SELECT (epoch_us(t3) - epoch_us(t1)) // 1000000 AS sec
       |         FROM per WHERE t3 IS NOT NULL)
       |SELECT count(*)::BIGINT AS n_converted,
       |       CAST(round(quantile_cont(sec, 0.5), 0) AS BIGINT) AS p50_sec,
       |       CAST(round(quantile_cont(sec, 0.9), 0) AS BIGINT) AS p90_sec,
       |       min(sec) AS min_sec, max(sec) AS max_sec
       |FROM conv""".stripMargin

  /** Weekly retention cohorts over events: users grouped by first-seen
    * day; distinct active users per (cohort, week offset). */
  def retentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
    val cohorts = ev.groupBy(col("user_id")).agg(min(col("d")).as("cohort"))
    ev.join(cohorts, Seq("user_id"))
      .withColumn("week_idx",
        (datediff(col("d"), col("cohort")) / 7).cast("long"))
      // dates stringify for the oracle: pandas reads Spark DATE as a
      // python date but DuckDB DATE as datetime64 — string form is the
      // representation both compare stably on (same as q13's approach)
      .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
        col("week_idx"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort"), col("week_idx"))
  }

  /** q45b (r6): golden-vector oracle for the multimodal decode path —
    * the q42b pattern applied to PNG/WAV/GVID. The synthetic corpus is
    * seed-fixed per row (`seed ^ i`), so `synthCorpus(12)` is exactly
    * the first 12 rows of q45's 900; the JDK decodes are deterministic
    * (lossless PNG, PCM WAV), so the extracted features are frozen
    * bytes a VALUES relation replays hash-exactly. Turns the decode
    * correctness signal from spec-only into driver-checked: drift in
    * the generator, the decoders, or the aHash/RMS math fails the hash
    * compare. */
  def multimodalGolden(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractFeatures(Multimodal.synthCorpus(spark, 12))
      .toDF().orderBy(col("media_id"))

  private def multimodalGoldenOracle: String =
    """SELECT CAST(media_id AS BIGINT) AS media_id, kind,
      |       n_bytes, width, height,
      |       CAST(mean_intensity AS DOUBLE) AS mean_intensity,
      |       CAST(phash AS BIGINT) AS phash
      |FROM (VALUES
      |  (0, 'image', 769, 16, 16, 123.8, -72905347823517696),
      |  (1, 'audio', 300, 128, 1, 75.7, 1072380188433086222),
      |  (2, 'video', 16412, 24, 24, 126.49, -284838458261504),
      |  (3, 'image', 11724, 64, 64, 129.75, -284803832168448),
      |  (4, 'audio', 1644, 800, 1, 78.32, -2964816218979209811),
      |  (5, 'video', 6616, 48, 8, 123.96, -217024968303525696),
      |  (6, 'image', 10223, 112, 32, 129.38, -217024968303525696),
      |  (7, 'audio', 1580, 768, 1, 77.52, 6190949570678797653),
      |  (8, 'video', 10212, 8, 32, 123.19, -3329123942400),
      |  (9, 'image', 7598, 32, 80, 129.01, -284804100620288),
      |  (10, 'audio', 236, 96, 1, 77.5, 2085302700341705742),
      |  (11, 'video', 11619, 32, 16, 125.95, -72909780227669888)
      |) AS t(media_id, kind, n_bytes, width, height, mean_intensity, phash)
      |ORDER BY media_id""".stripMargin

  /** q114: golden-vector oracle for the explicit image-resize stage
    * ([[Multimodal.resizeImages]]) — the q45b pattern: the 12-row
    * corpus prefix is seed-fixed, the PNG decode lossless and the
    * nearest-neighbor index math integer, so each 8×8 thumbnail's mean
    * and FNV-1a fold are frozen bytes a VALUES relation replays
    * hash-exactly. */
  def imageResizeGolden(spark: SparkSession, dir: String): DataFrame =
    Multimodal.resizeImages(Multimodal.synthCorpus(spark, 12), 8, 8)
      .orderBy(col("media_id"))

  private def imageResizeGoldenOracle: String =
    """SELECT CAST(media_id AS BIGINT) AS media_id,
      |       src_w, src_h, out_w, out_h,
      |       CAST(thumb_mean_gray AS DOUBLE) AS thumb_mean_gray,
      |       CAST(thumb_fnv AS BIGINT) AS thumb_fnv
      |FROM (VALUES
      |  (0, 16, 16, 8, 8, 116.28, -7427410683655784477),
      |  (3, 64, 64, 8, 8, 115.97, 5544840520655451401),
      |  (6, 112, 32, 8, 8, 116.23, 7724104673816129218),
      |  (9, 32, 80, 8, 8, 115.69, -3546016714829901083)
      |) AS t(media_id, src_w, src_h, out_w, out_h, thumb_mean_gray, thumb_fnv)
      |ORDER BY media_id""".stripMargin

  /** q46b: golden-vector twin of q46 (VERDICT r6 #5 — the q45b pattern
    * on the frame-sample path): the 12-row corpus prefix is seed-fixed
    * per row, GVID decode is lossless, so every sampled frame's
    * features are frozen bytes a VALUES relation replays hash-exactly. */
  def frameSamplesGolden(spark: SparkSession, dir: String): DataFrame =
    Multimodal.sampleFrames(Multimodal.synthCorpus(spark, 12))
      .orderBy(col("media_id"), col("frame_idx"))

  /** q70b: golden-vector twin of q70 (same freeze for the WAV path). */
  def audioFeaturesGolden(spark: SparkSession, dir: String): DataFrame =
    Multimodal.extractAudioFeatures(Multimodal.synthCorpus(spark, 12))
      .toDF().orderBy(col("media_id"))

  /** Frozen golden rows for q46b — captured from the deterministic
    * 12-row corpus (videos at media_id 2/5/8/11, stride 4). */
  private def frameSamplesGoldenOracle: String =
    """SELECT CAST(media_id AS BIGINT) AS media_id, frame_idx, frame_bytes,
      |       frame_w, frame_h,
      |       CAST(frame_mean_gray AS DOUBLE) AS frame_mean_gray,
      |       CAST(frame_ahash AS BIGINT) AS frame_ahash
      |FROM (VALUES
      |  (2, 0, 1634, 24, 24, 126.61, -72905347823517696),
      |  (2, 4, 1643, 24, 24, 126.37, -847788413779968),
      |  (2, 8, 1636, 24, 24, 126.77, -852186191855616),
      |  (5, 0, 1102, 48, 8, 124.05, -217024968303517504),
      |  (5, 4, 1101, 48, 8, 123.83, -217024968303517504),
      |  (8, 0, 843, 8, 32, 123.16, -3329123942400),
      |  (8, 4, 849, 8, 32, 123.48, -1130104881152),
      |  (8, 8, 844, 8, 32, 123.33, -3329123942400),
      |  (11, 0, 1451, 32, 16, 126.05, -72909780227669888),
      |  (11, 4, 1443, 32, 16, 125.93, -72909780227669888)
      |) AS t(media_id, frame_idx, frame_bytes, frame_w, frame_h,
      |       frame_mean_gray, frame_ahash)
      |ORDER BY media_id, frame_idx""".stripMargin

  /** Frozen golden rows for q70b (audio at media_id 1/4/7/10). */
  private def audioFeaturesGoldenOracle: String =
    """SELECT CAST(media_id AS BIGINT) AS media_id, sample_rate, n_channels,
      |       n_samples, CAST(duration_ms AS DOUBLE) AS duration_ms,
      |       CAST(rms AS DOUBLE) AS rms, peak,
      |       CAST(envelope_hash AS BIGINT) AS envelope_hash
      |FROM (VALUES
      |  (1, 8000, 1, 128, 16.0, 12228.77, 20413, 1072380188433086222),
      |  (4, 8000, 1, 800, 100.0, 12477.69, 20431, -2964816218979209811),
      |  (7, 8000, 1, 768, 96.0, 12400.02, 20431, 6190949570678797653),
      |  (10, 8000, 1, 96, 12.0, 12400.8, 20430, 2085302700341705742)
      |) AS t(media_id, sample_rate, n_channels, n_samples, duration_ms,
      |       rms, peak, envelope_hash)
      |ORDER BY media_id""".stripMargin

  /** As-of join: each click enriched with the user's latest preceding
    * purchase (point-in-time correctness — the operator Spark lacks
    * natively, composed per ops/AsOfJoin). */
  def clicksAsOfPurchases(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id").as("purchase_id"))
    graft.ops.AsOfJoin.asOf(clicks, purchases, "user_id", "ts_us",
        Seq("purchase_id"))
      .orderBy(col("event_id"))
  }

  /** q138 (r8): tolerance-bounded as-of join (pandas merge_asof / kdb
    * aj semantics) — q48's enrichment, but a purchase older than 30
    * minutes yields nulls instead of arbitrarily stale state. The
    * DuckDB oracle uses the native ASOF JOIN plus a staleness CASE. */
  def clicksAsOfPurchasesTol(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .withColumn("ts_us", expr("ts_ns DIV 1000"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us"), col("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us"), col("event_id").as("purchase_id"))
    graft.ops.AsOfJoin.asOf(clicks, purchases, "user_id", "ts_us",
        Seq("purchase_id"), tolerance = Some(1800000000L))
      .orderBy(col("event_id"))
  }

  private def asofTolOracle: String =
    """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |              event_type FROM events),
      |clicks AS (SELECT event_id, user_id, ts_us FROM ev
      |           WHERE event_type = 'click'),
      |purch AS (SELECT event_id AS purchase_id, user_id, ts_us FROM ev
      |          WHERE event_type = 'purchase')
      |SELECT c.user_id, c.ts_us, c.event_id,
      |       CASE WHEN c.ts_us - p.ts_us <= 1800000000
      |            THEN p.purchase_id END AS asof_purchase_id
      |FROM clicks c ASOF LEFT JOIN purch p
      |  ON c.user_id = p.user_id AND p.ts_us <= c.ts_us
      |ORDER BY c.event_id""".stripMargin

  /** Albedo-shaped profile-builder jobs over the deterministic fixture
    * generator. The fixtures are persisted to parquet
    * (AlbedoFixtures.persistDir) and read back, so the DuckDB oracle
    * reads the exact same bytes via read_parquet. */
  def userProfiles(spark: SparkSession, dir: String): DataFrame =
    graft.jobs.ProfileBuilders.buildUserProfile(
        graft.fixtures.AlbedoFixtures.usersP(spark),
        graft.fixtures.AlbedoFixtures.reposP(spark),
        graft.fixtures.AlbedoFixtures.starringsP(spark), "2017-09-01")
      .withColumn("recent_languages",
        array_join(col("recent_languages"), ","))
      .withColumn("days_since_updated", col("days_since_updated").cast("long"))
      .withColumn("days_since_created", col("days_since_created").cast("long"))
      .orderBy(col("user_id"))

  def repoProfiles(spark: SparkSession, dir: String): DataFrame =
    graft.jobs.ProfileBuilders.buildRepoProfile(
        graft.fixtures.AlbedoFixtures.reposP(spark), "2017-09-01")
      .withColumn("topics_list", array_join(col("topics_list"), ","))
      .withColumn("repo_days_since_updated",
        col("repo_days_since_updated").cast("long"))
      .orderBy(col("repo_id"))

  /** Persisted-fixture paths for the q49/q50 oracles (the engine writes
    * these in AlbedoFixtures.persist before the queries run). */
  private val fx = graft.fixtures.AlbedoFixtures.persistDir

  /** q177 (r17): co-located BUCKETED join — orders and customer
    * written once as bucketed-and-sorted tables on their join key
    * ([[graft.sources.Bucketing.bucketedTable]], 16 buckets) and then
    * joined: the at-rest layout discipline for repeatedly-joined keys
    * at 100 TB. Row 94's `repartition`/AQE co-locates for ONE plan;
    * bucketing persists the co-location so every later join on the
    * bucket key skips its shuffle — `BucketedJoinSpec` proves the
    * sort-merge join plans with ZERO Exchange on either side, and this
    * gate proves the RESULT is identical to the plain join (bucketing
    * is layout, not semantics): per-mktsegment order count and exact
    * decimal revenue. The layout cost (one shuffle by key at write) is
    * paid once per session; later bench passes reuse the catalog
    * entry. */
  def bucketedColocatedJoin(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Bucketing
    val root = Bucketing.sessionRoot(spark)
    val tag = math.abs(dir.hashCode).toString
    val ord = Bucketing.bucketedTable(spark, s"graft_bkt_orders_$tag",
      s"$root/orders_$tag",
      Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice")),
      "o_custkey", 16)
    val cust = Bucketing.bucketedTable(spark, s"graft_bkt_customer_$tag",
      s"$root/customer_$tag",
      Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment")),
      "c_custkey", 16)
    ord.join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total_price"))
      .orderBy(col("c_mktsegment"))
  }

  private def bucketedColocatedJoinOracle: String =
    """SELECT c_mktsegment, count(*)::BIGINT AS n_orders,
      |       round(SUM(o_totalprice), 2) AS total_price
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q177_bucketed_colocated_join", bucketedColocatedJoin,
      Some(bucketedColocatedJoinOracle)),
    QueryDef("q49_user_profiles", userProfiles, Some(
      s"""WITH u0 AS (
         |  SELECT *,
         |    (user_company IS NULL OR user_location IS NULL OR user_email IS NULL
         |     OR user_bio IS NULL) AS user_has_null,
         |    coalesce(user_company, '') AS c_company,
         |    coalesce(user_location, '') AS c_location,
         |    coalesce(user_email, '') AS c_email,
         |    coalesce(user_bio, '') AS c_bio
         |  FROM read_parquet('$fx/users.parquet/*.parquet')),
         |cleaned AS (
         |  SELECT *,
         |    CASE WHEN s1 = '' THEN '__empty' ELSE s1 END AS clean_company,
         |    CASE WHEN s2 = '' THEN '__empty' ELSE s2 END AS clean_location,
         |    CASE WHEN d1 = '' THEN '__empty' ELSE d1 END AS email_domain
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
         |        '\\bcity$$', '', 'g')), '\\s+', ' ', 'g') AS s2,
         |      regexp_extract(lower(c_email), '@([\\w.\\-]+)', 1) AS d1
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
         |rl AS (
         |  SELECT user_id,
         |    string_agg(repo_language, ',' ORDER BY rn) AS recent_languages,
         |    count(*) AS n_recent
         |  FROM (
         |    SELECT s.user_id, r.repo_language,
         |      row_number() OVER (PARTITION BY s.user_id ORDER BY s.starred_at DESC, s.repo_id) AS rn
         |    FROM read_parquet('$fx/starrings.parquet/*.parquet') s
         |    JOIN read_parquet('$fx/repos.parquet/*.parquet') r USING (repo_id))
         |  WHERE rn <= 50 GROUP BY 1),
         |cc AS (SELECT clean_company, count(*) AS company_cnt FROM flagged GROUP BY 1)
         |SELECT f.user_id, f.user_account_type, f.user_has_null, f.clean_company,
         |  CASE WHEN cc.company_cnt <= 5 THEN '__other' ELSE f.clean_company END AS company_binned,
         |  f.clean_location, f.email_domain, f.follower_following_ratio,
         |  f.days_since_updated, f.days_since_created,
         |  rl.recent_languages, rl.n_recent,
         |  f.has_backend, f.has_fullstack, f.has_ml, f.has_phd
         |FROM flagged f
         |JOIN cc USING (clean_company)
         |LEFT JOIN rl USING (user_id)
         |ORDER BY f.user_id""".stripMargin)),
    QueryDef("q50_repo_profiles", repoProfiles, Some(
      s"""WITH base AS (
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
         |lc AS (SELECT repo_language, count(*) AS lang_cnt FROM base GROUP BY 1)
         |SELECT base.*, lc.lang_cnt,
         |  CASE WHEN lc.lang_cnt <= 30 THEN '__other' ELSE base.repo_language END AS language_binned
         |FROM base JOIN lc USING (repo_language)
         |ORDER BY repo_id""".stripMargin)),
    QueryDef("q48_asof_join", clicksAsOfPurchases, Some(
      """WITH ev AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |              event_type FROM events),
        |clicks AS (SELECT event_id, user_id, ts_us FROM ev
        |           WHERE event_type = 'click'),
        |purch AS (SELECT event_id AS purchase_id, user_id, ts_us FROM ev
        |          WHERE event_type = 'purchase')
        |SELECT c.user_id, c.ts_us, c.event_id,
        |       p.purchase_id AS asof_purchase_id
        |FROM clicks c ASOF LEFT JOIN purch p
        |  ON c.user_id = p.user_id AND p.ts_us <= c.ts_us
        |ORDER BY c.event_id""".stripMargin)),
    QueryDef("q138_asof_tolerance", clicksAsOfPurchasesTol,
      Some(asofTolOracle)),
    QueryDef("q28_hourly_window_counts", hourlyWindowCounts, Some(
      """SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
        | event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY window_start, event_type""".stripMargin)),
    QueryDef("q29_user_sessions", userSessions, Some(
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events),
        |flags AS (SELECT user_id, ts_us, value,
        |   CASE WHEN lag(ts_us) OVER w IS NULL
        |         OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS is_new
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
        |grp AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us
        |          ROWS UNBOUNDED PRECEDING) AS g FROM flags),
        |sess AS (SELECT user_id, min(ts_us) AS s_us, max(ts_us) AS e_us,
        |           count(*) AS n_events, round(sum(value), 2) AS session_value
        |         FROM grp GROUP BY user_id, g)
        |SELECT user_id, make_timestamp(s_us) AS session_start,
        |       make_timestamp(e_us + 1800000000) AS session_end,
        |       n_events, session_value
        |FROM sess ORDER BY user_id, session_start""".stripMargin)),
    // q45/q46/q70 (corpus-scale multimodal vehicles, rows-only) were
    // retired from the registry in r9 (VERDICT r8 "Next round" #8,
    // the q42 precedent): the q45b/q46b/q70b/q114 golden oracles pin
    // the decode/resize/frame/feature kernels hash-exactly, so the
    // unverifiable corpus-scale twins added no driver-visible signal.
    // Library APIs (Multimodal.*) + MultimodalSpec coverage remain.
    QueryDef("q45b_multimodal_golden", multimodalGolden,
      Some(multimodalGoldenOracle)),
    QueryDef("q46b_frame_samples_golden", frameSamplesGolden,
      Some(frameSamplesGoldenOracle)),
    QueryDef("q70b_audio_features_golden", audioFeaturesGolden,
      Some(audioFeaturesGoldenOracle)),
    QueryDef("q77_snapshot_merge", snapshotMerge, Some(
      """WITH base AS (SELECT doc_id, 1 AS version, text FROM documents),
        |upd AS (SELECT doc_id, 2 AS version, '[v2] ' || text AS text
        |        FROM documents WHERE doc_id % 5 = 0),
        |u AS (SELECT *, 0 AS side FROM base
        |      UNION ALL SELECT *, 1 AS side FROM upd),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |        ORDER BY version DESC, side DESC) AS rn FROM u)
        |SELECT doc_id, version, text FROM r WHERE rn = 1
        |ORDER BY doc_id""".stripMargin)),
    QueryDef("q112_zorder_layout", zorderLayout, Some(zorderOracle)),
    QueryDef("q151_zorder_quantile", zorderQuantileLayout,
      Some(zorderQuantileOracle)),
    QueryDef("q152_ab_experiment", abExperiment,
      Some(abExperimentOracle)),
    QueryDef("q120_cdc_changelog", cdcChangelog, Some(cdcChangelogOracle)),
    QueryDef("q121_scd2_history", scd2History, Some(scd2Oracle)),
    QueryDef("q122_funnel_steps", funnelSteps, Some(funnelStepsOracle)),
    QueryDef("q122b_funnel_summary", funnelSummary, Some(funnelSummaryOracle)),
    QueryDef("q129_funnel_horizon", funnelHorizon, Some(funnelHorizonOracle)),
    QueryDef("q153_funnel_unordered_stream", funnelUnorderedStream,
      Some(funnelUnorderedStreamOracle)),
    QueryDef("q130_interval_join", intervalOverlapJoin,
      Some(intervalOverlapOracle)),
    QueryDef("q131_hll_reaggregate", hllReaggregate,
      Some(hllReaggregateOracle)),
    QueryDef("q133_event_transitions", eventTransitions,
      Some(eventTransitionsOracle)),
    QueryDef("q139_funnel_ttc", funnelTimeToConvert, Some(funnelTtcOracle)),
    QueryDef("q140_zorder_compaction", zorderCompaction,
      Some(zorderCompactionOracle)),
    QueryDef("q123_ivm_maintain", incrementalAggMaintain,
      Some(incrementalAggMaintainOracle)),
    QueryDef("q124_timetravel_read", timeTravelRead, Some(timeTravelOracle)),
    QueryDef("q125_compaction_plan", compactionPlan, Some(compactionOracle)),
    QueryDef("q114_image_resize_golden", imageResizeGolden,
      Some(imageResizeGoldenOracle)),
    QueryDef("q78_retention_cohorts", retentionCohorts, Some(
      """WITH ev AS (SELECT user_id, ts::DATE AS d FROM events),
        |c AS (SELECT user_id, min(d) AS cohort FROM ev GROUP BY 1)
        |SELECT strftime(c.cohort, '%Y-%m-%d') AS cohort,
        |       (date_diff('day', c.cohort, ev.d) // 7)::BIGINT AS week_idx,
        |       count(DISTINCT ev.user_id) AS n_users
        |FROM ev JOIN c USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),
    QueryDef("q68_stream_dedup", streamDedup, Some(
      """WITH d AS (
        |  SELECT event_id, ts, user_id, event_type, value FROM events
        |  UNION ALL
        |  SELECT event_id + 10000000, ts, user_id, event_type, value
        |  FROM events WHERE event_id % 7 = 0)
        |SELECT user_id, ts, min(event_id) AS canon_event_id,
        |       event_type, value
        |FROM d GROUP BY user_id, ts, event_type, value
        |ORDER BY user_id, ts""".stripMargin)),
    QueryDef("q103_sessionizer_late_oracle", sessionizeLateStream,
      Some(sessionizeLateOracle)),
    QueryDef("q106_jsonl_roundtrip", jsonlRoundtrip, Some(roundtripOracle)),
    QueryDef("q107_csv_roundtrip", csvRoundtrip, Some(roundtripOracle)),
    QueryDef("q108_orc_roundtrip", orcRoundtrip, Some(roundtripOracle)),
    QueryDef("q69_stream_interval_join", streamIntervalJoin, Some(
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
        |FROM events c JOIN events p
        |  ON c.user_id = p.user_id
        | AND c.event_type = 'click' AND p.event_type = 'purchase'
        | AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
        |ORDER BY c.user_id, click_id, purchase_id""".stripMargin))
  )
}
