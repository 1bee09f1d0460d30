package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload W --in STAGED_DIR --work WORK_DIR
  *     --seed N --seconds S --trace 0|1 [--min-ops M] --out RUN.json
  *
  * Sets the session up once, then runs the workload's clients in a
  * closed loop for S seconds (and at least M operations per client) and
  * writes every measurement, the spans (trace 1) and the check material
  * to RUN.json. */
object Main {
  final case class OpRec(id: Long, client: Int, name: String, start: Long,
      end: Long, ok: Boolean, err: String, jobs: Long, traced: Boolean, info: Map[String, Any])

  def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.files.minPartitionNum", "1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = Workloads(a("workload"))
    val in = a("in"); val work = a("work")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val minOps = if (trace) 3 else a.getOrElse("min-ops", "1").toInt
    val cpus = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Run.trackHeapAfterGc()

    // --- set-up: session, input registration, warm-up; a traced run
    // records its spans as operation -1
    val spark = session(cpus)
    val tr = Tracer.install(spark)
    tr.beginOp(-1, trace)
    w.setup(spark, in, tr)
    tr.endOp()
    graft.ml.ModelMemo.clear(); spark.catalog.clearCache()
    // the heap peak covers the timed phase only, from a collected heap
    System.gc()
    Run.resetHeapAfterGcPeak()

    // --- timed phase: closed-loop clients. In a traced run every
    // client alternates untraced and traced operations (its first one
    // untraced) and runs at least three, so the tracer's overhead is
    // measured against untraced operations of the same run.
    val ids = new AtomicLong(0)
    val anyDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val recs = new java.util.concurrent.ConcurrentLinkedQueue[OpRec]()
    val phaseStart = System.nanoTime()
    // set-up time: from JVM start to the first timed operation
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val deadline = phaseStart + (seconds * 1e9).toLong
    val threads = (0 until w.clients).map { c =>
      new Thread(() => {
        val rnd = new scala.util.Random(seed * 1000 + c)
        var k = 0
        while (System.nanoTime() < deadline || k < minOps) {
          val id = ids.getAndIncrement()
          val traced = trace && k % 2 == 1
          val opDir = s"$work/op-$id"
          if (w.cold) { graft.ml.ModelMemo.clear(); spark.catalog.clearCache() }
          // job events arrive asynchronously: settle the bus around the op
          org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
          val j0 = tr.listener.jobs.get()
          val cg0 = codegen()
          val cpu0 = processCpuNs()
          tr.beginOp(id, traced)
          val t0 = System.nanoTime()
          val res = try Right(w.op(spark, in, opDir, c, rnd, tr))
            catch { case e: Throwable => Left(e) }
          val t1 = System.nanoTime()
          val cpu1 = processCpuNs()
          tr.endOp()
          val cg1 = codegen()
          val cg = Map("compile_ns" -> (cg1._1 - cg0._1), "compilations" -> (cg1._2 - cg0._2),
            "cpu_ns" -> (cpu1 - cpu0))
          org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
          val jobs = tr.listener.jobs.get() - j0
          val rec = res match {
            case Right(out) =>
              val o = try w.afterOp(spark, opDir, out, !anyDone.getAndSet(true))
                catch { case e: Throwable => out.copy(info = out.info + ("check_error" -> e.toString)) }
              OpRec(id, c, o.name, t0, t1, !o.info.contains("check_error"), "", jobs, traced,
                o.info ++ cg)
            case Left(e) =>
              OpRec(id, c, "error", t0, t1, false, e.toString, jobs, traced, cg)
          }
          recs.add(rec)
          k += 1
        }
      }, s"client-$c")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val phaseEnd = System.nanoTime()
    org.apache.spark.graft.ListenerBusDrain.drain(spark.sparkContext)
    tr.settle()

    val ops = recs.toArray(Array.empty[OpRec]).toSeq.sortBy(_.id)
    val fin0 = System.nanoTime()
    val fin = try w.finish(spark, in, work, ops.filter(_.ok).map(r => OpOut(r.name, r.info)))
      catch { case e: Throwable => Map[String, Any]("finish_error" -> e.toString) }
    val finishS = (System.nanoTime() - fin0) / 1e9
    val rss = Run.rssPeakMb()
    val heap = Run.heapAfterGcPeakMb

    val spanJson = tr.allSpans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "thread" -> s.thread,
      "start_ns" -> (s.start - phaseStart), "end_ns" -> (s.end - phaseStart)))
    import scala.jdk.CollectionConverters._
    val statsJson = tr.stats.asScala.toSeq.sortBy(_._1)
      .map { case (k, v) => k.toString -> Json.Raw(v.toJson) }.toMap
    val out = Json.obj(
      "workload" -> w.name, "seed" -> seed, "cpus" -> cpus, "clients" -> w.clients,
      "setup_s" -> setupS,
      "phase_s" -> (phaseEnd - phaseStart) / 1e9,
      "finish_s" -> finishS,
      "rss_peak_mb" -> rss,
      "heap_peak_mb" -> heap,
      "ops" -> ops.map(r => Json.Raw(Json.obj("id" -> r.id, "client" -> r.client,
        "name" -> r.name, "start_ns" -> (r.start - phaseStart), "end_ns" -> (r.end - phaseStart),
        "ok" -> r.ok, "err" -> r.err, "jobs" -> r.jobs, "traced" -> r.traced,
        "info" -> r.info))),
      "spans" -> spanJson.map(Json.Raw),
      "span_stats" -> statsJson,
      "counters" -> tr.counters.asScala.map { case (k, v) => k -> v.doubleValue }.toMap,
      "check" -> fin)
    val f = new java.io.PrintWriter(a("out"), "UTF-8")
    try f.write(out) finally f.close()
    spark.stop()
  }

  /** CPU time of the whole JVM (every thread: tasks, driver, JIT, GC).
    * Time the host takes from the VM does not count, unlike wall time. */
  private def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** JVM-wide codegen counters: (compile nanos, compilations). */
  private def codegen(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}
