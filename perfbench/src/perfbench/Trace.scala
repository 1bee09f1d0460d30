package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a layer call inside one operation. Times are
  * System.nanoTime. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    thread: String, start: Long, end: Long)

/** Spark-side counters attributed to one span. */
final class SpanStats {
  var jobs = 0L; var tasks = 0L; var failedTasks = 0L
  var runNs = 0L; var cpuNs = 0L; var gcMs = 0L
  var schedWaitMs = 0L; var peakMemB = 0L; var spillB = 0L
  var shufWriteB = 0L; var shufReadB = 0L; var fetchWaitMs = 0L
  var inputRecords = 0L; var scanRunNs = 0L
  var executions = 0L
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  def toJson: String = Json.obj(
    "jobs" -> jobs, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "run_ns" -> runNs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
    "sched_wait_ms" -> schedWaitMs, "peak_mem_b" -> peakMemB,
    "spill_b" -> spillB, "shuffle_write_b" -> shufWriteB,
    "shuffle_read_b" -> shufReadB, "fetch_wait_ms" -> fetchWaitMs,
    "input_records" -> inputRecords, "scan_run_ns" -> scanRunNs,
    "executions" -> executions, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs)
}

/** In-memory span tracer. When disabled, [[span]] only runs its body.
  *
  * Each span sets the Spark local property [[Prop]] to its id for the
  * duration of the call, so every job submitted from inside it (from
  * this thread or a thread it spawns) carries the id; [[Listener]]
  * attributes job, stage and task metrics to spans through it. Spans
  * are kept in memory and serialized once when the run ends. */
final class Tracer(sc: SparkContext) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  private val opOf = new ThreadLocal[Long] { override def initialValue() = -1L }
  private val on = new ThreadLocal[Boolean] { override def initialValue() = false }

  /** Whether the calling thread's current operation is traced. */
  def enabled: Boolean = on.get()

  /** Counters per span id; id 0 collects work outside any span. */
  val stats = new ConcurrentHashMap[Long, SpanStats]()
  def statsFor(id: Long): SpanStats = stats.computeIfAbsent(id, _ => new SpanStats)

  /** Named counters a workload records during traced operations
    * (row counts that derive ratios such as keep fractions). */
  val counters = new ConcurrentHashMap[String, java.lang.Double]()
  def add(name: String, v: Double): Unit = if (enabled)
    counters.merge(name, v, (a, b) => a + b)

  def beginOp(op: Long, traced: Boolean): Unit = {
    opOf.set(op); stack.set(Nil); on.set(traced)
  }
  def endOp(): Unit = on.set(false)

  def span[T](name: String)(body: => T): T = if (!enabled) body else {
    val id = ids.incrementAndGet()
    val parents = stack.get()
    val parent = parents.headOption.getOrElse(0L)
    stack.set(id :: parents)
    sc.setLocalProperty(Tracer.Prop, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.set(parents)
      sc.setLocalProperty(Tracer.Prop, if (parent == 0L) null else parent.toString)
      spans.add(Span(id, parent, opOf.get(), name, Thread.currentThread.getName, t0, t1))
    }
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Plan `qe` now and charge its planning phases to the current span.
    * For frames the traced run caches: caching plans them outside any
    * action, so the query-execution listener never reports them. */
  def plan(qe: QueryExecution): Unit = if (enabled) {
    qe.executedPlan
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    val st = statsFor(stack.get().headOption.getOrElse(0L))
    st.synchronized {
      st.analysisMs += ms("analysis"); st.optimizationMs += ms("optimization")
      st.planningMs += ms("planning")
    }
  }

  private[perfbench] var listener: Tracer.Listener = _
  private[perfbench] var planListener: Tracer.PlanListener = _

  /** Charge recorded planning phases to the spans whose jobs ran the
    * query (queries that launched no job stay with span 0) and count
    * each span's SQL executions. Call after the listener bus is drained,
    * from one thread. */
  def settle(): Unit = {
    planListener.phases.forEach { (exec, ph) =>
      val st = statsFor(Option(listener.execSpan.get(exec)).map(_.longValue).getOrElse(0L))
      st.synchronized {
        st.analysisMs += ph._1; st.optimizationMs += ph._2; st.planningMs += ph._3
      }
    }
    // SQL executions that launched jobs, per span (one per action)
    listener.execSpan.forEach((_, span) => statsFor(span).executions += 1)
  }
}

object Tracer {
  val Prop = "perfbench.span"
  private def spanOf(p: java.util.Properties): Long =
    Option(p).flatMap(x => Option(x.getProperty(Prop))).map(_.toLong).getOrElse(0L)

  /** Listener that attributes jobs, tasks and query-planning phases to
    * the span whose id the submitting thread carried. */
  final class Listener(t: Tracer) extends SparkListener {
    private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
    private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
    val execSpan = new ConcurrentHashMap[Long, java.lang.Long]()
    /** Every job the session launched (the cold-operation check). */
    val jobs = new AtomicLong(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      val s = spanOf(e.properties)
      e.stageIds.foreach(id => stageSpan.put(id, s))
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execSpan.putIfAbsent(x.toLong, s))
      val st = t.statsFor(s)
      st.synchronized { st.jobs += 1 }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
      stageSpan.putIfAbsent(e.stageInfo.stageId, spanOf(e.properties))
      val at: Long = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      stageSubmit.put(e.stageInfo.stageId, at)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val s = Option(stageSpan.get(e.stageId)).map(_.longValue).getOrElse(0L)
      val st = t.statsFor(s)
      val m = e.taskMetrics
      val sub = Option(stageSubmit.get(e.stageId)).map(_.longValue)
      st.synchronized {
        st.tasks += 1
        if (!e.taskInfo.successful) st.failedTasks += 1
        sub.foreach(x => st.schedWaitMs += math.max(0L, e.taskInfo.launchTime - x))
        if (m != null) {
          st.runNs += m.executorRunTime * 1000000L
          st.cpuNs += m.executorCpuTime
          st.gcMs += m.jvmGCTime
          st.peakMemB = math.max(st.peakMemB, m.peakExecutionMemory)
          st.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          st.shufWriteB += m.shuffleWriteMetrics.bytesWritten
          st.shufReadB += m.shuffleReadMetrics.totalBytesRead
          st.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          val in = m.inputMetrics.recordsRead
          if (in > 0) {
            st.inputRecords += in
            st.scanRunNs += m.executorRunTime * 1000000L
          }
        }
      }
    }
  }

  /** Planning-phase durations of every executed query. Query-execution
    * events and job events arrive on different listener queues, so the
    * phases are kept by execution id and charged to spans in [[settle]]
    * once both queues are drained. */
  final class PlanListener extends QueryExecutionListener {
    val phases = new ConcurrentHashMap[Long, (Long, Long, Long)]()
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      phases.put(qe.id, (ms("analysis"), ms("optimization"), ms("planning")))
    }
  }

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark.sparkContext)
    t.listener = new Listener(t)
    t.planListener = new PlanListener
    spark.sparkContext.addSparkListener(t.listener)
    spark.listenerManager.register(t.planListener)
    t
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case raw: Json.Raw => raw.text
    case other => str(other.toString)
  }
  final case class Raw(text: String)
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
}

/** Helpers shared by the workloads. */
object Run {
  @volatile private var heapAfterGcPeak = 0L

  /** Peak over all collections of the heap in use right after a
    * collection, in MB: the program's live heap demand, independent of
    * how far the collector let garbage grow. Needs trackHeapAfterGc. */
  def heapAfterGcPeakMb: Double = heapAfterGcPeak / (1024.0 * 1024.0)

  def resetHeapAfterGcPeak(): Unit = synchronized { heapAfterGcPeak = 0L }

  def trackHeapAfterGc(): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import com.sun.management.GarbageCollectionNotificationInfo
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { if (used > heapAfterGcPeak) heapAfterGcPeak = used }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  /** Bytes under a file or directory, in MB. */
  def sizeMb(f: java.io.File): Double =
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty[java.io.File]).map(sizeMb).sum
    else f.length / 1e6

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
