package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into each layer, plus the engine
  * counters a `SparkListener` and a `QueryExecutionListener` collect.
  *
  * With tracing off, [[span]] only runs its body and no listener is
  * registered, so the untraced run measures the program alone. Spans stay
  * in memory and are written out once, when the run ends.
  */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  final case class Span(id: Long, parent: Long, op: Long, name: String,
                        startNs: Long, endNs: Long) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(1)
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val currentOp = ThreadLocal.withInitial[java.lang.Long](() => 0L)

  /** Times `body` as a span named `name`, child of the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val parent = stack.get.headOption.getOrElse(0L)
      if (parent == 0L) currentOp.set(id)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, currentOp.get, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
        if (parent == 0L) cachedAfterOp.addAndGet(cachedNow())
      }
    }

  // ------------------------------------------------------------ counters

  /** Work done for the benchmark's own checks, not counted. */
  private val CheckProp = "perfbench.check"
  private val checkStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val checkRchar, checkCells = new AtomicLong(0L)

  /** Runs a correctness check: its jobs, stages, tasks, file reads,
    * decoded cells and query phases are left out of the counters. The
    * query phases arrive through the listener bus, so the queue is drained
    * before and after and the phase counters are set back to their value
    * before the check; this is exact only when no other thread runs
    * queries meanwhile, which holds for produce, the one caller. */
  def check[A](body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      org.apache.spark.PerfbenchBridge.drainListeners(sc)
      val phases0 = phaseCounters.map(_.get)
      sc.setLocalProperty(CheckProp, "1")
      val r0 = procIo("rchar")
      val c0 = graft.sources.ZarrSource.decodedCells.get
      try body
      finally {
        checkRchar.addAndGet(procIo("rchar") - r0)
        checkCells.addAndGet(graft.sources.ZarrSource.decodedCells.get - c0)
        sc.setLocalProperty(CheckProp, null)
        org.apache.spark.PerfbenchBridge.drainListeners(sc)
        phaseCounters.zip(phases0).foreach { case (c, v) => c.set(v) }
      }
    }

  val jobs, stages, tasks, schedDelayMs, taskCpuNs, shuffleWrite, shuffleRead,
      spill, recordsRead, jobWallMs, analysisMs, optimizationMs, planningMs,
      cachedAfterOp = new AtomicLong(0L)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private def phaseCounters = Seq(analysisMs, optimizationMs, planningMs)

  private def counters: Seq[(String, AtomicLong)] = Seq(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "sched_delay_ms" -> schedDelayMs, "task_cpu_ns" -> taskCpuNs,
    "shuffle_write_bytes" -> shuffleWrite, "shuffle_read_bytes" -> shuffleRead,
    "spill_bytes" -> spill, "records_read" -> recordsRead,
    "job_wall_ms" -> jobWallMs, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "cached_after_op" -> cachedAfterOp)

  /** Persistent RDDs plus cached plans still held by the session. */
  def cachedNow(): Long =
    spark.sparkContext.getPersistentRDDs.size.toLong +
      (if (spark.sharedState.cacheManager.isEmpty) 0L else 1L)

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(CheckProp) == "1")
          e.stageIds.foreach(checkStages.add)
        else { jobs.incrementAndGet(); jobStart.put(e.jobId, e.time) }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach(t0 => jobWallMs.addAndGet(e.time - t0))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (!checkStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        if (!checkStages.contains(e.stageId)) tasks.incrementAndGet()
        if (m != null && !checkStages.contains(e.stageId)) {
          val busy = m.executorRunTime + m.executorDeserializeTime + m.resultSerializationTime
          schedDelayMs.addAndGet(math.max(0L, e.taskInfo.duration - busy))
          taskCpuNs.addAndGet(m.executorCpuTime)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          recordsRead.addAndGet(m.inputMetrics.recordsRead)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        val p = qe.tracker.phases
        def add(k: String, c: AtomicLong): Unit = p.get(k).foreach(s => c.addAndGet(s.durationMs))
        add("analysis", analysisMs); add("optimization", optimizationMs); add("planning", planningMs)
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  // ------------------------------------------------------- timed window

  private var markNs = 0L
  private var base: Map[String, Long] = Map.empty
  private var gcBase = 0L

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
  private def procIo(key: String): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().collectFirst { case l if l.startsWith(key + ":") =>
        l.drop(key.length + 1).trim.toLong }.getOrElse(0L)
      finally src.close()
    } catch { case _: java.io.IOException => 0L }

  private def snapshot(): Map[String, Long] =
    counters.map { case (k, c) => k -> c.get }.toMap ++ Map(
      "decoded_cells" -> (graft.sources.ZarrSource.decodedCells.get - checkCells.get),
      "rchar" -> (procIo("rchar") - checkRchar.get))

  /** Starts the timed window: counters and spans are taken from here on. */
  def mark(): Unit = {
    if (enabled) org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    markNs = System.nanoTime()
    base = snapshot()
    gcBase = gcMs
    heapPools.foreach(_.resetPeakUsage())
  }

  /** Counter deltas since [[mark]], after the listener queue has drained. */
  def deltas(): Map[String, Long] = {
    if (enabled) org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val now = snapshot()
    now.map { case (k, v) => k -> (v - base.getOrElse(k, 0L)) } ++ Map(
      "gc_ms" -> (gcMs - gcBase),
      "heap_peak_bytes" -> heapPools.map(_.getPeakUsage.getUsed).sum)
  }

  private def timed: Seq[Span] = spans.asScala.filter(_.startNs >= markNs).toSeq

  /** Total milliseconds and count of timed-window spans named `name`. */
  def spanStats(name: String): (Double, Int) = {
    val s = timed.filter(_.name == name)
    (s.map(_.ms).sum, s.size)
  }

  /** Writes every span as one JSON line, start times relative to the mark. */
  def writeSpans(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.println(Json.obj("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> (s.startNs - markNs) / 1e6,
        "end_ms" -> (s.endNs - markNs) / 1e6))
    } finally w.close()
  }
}

/** Minimal JSON writer for flat result documents. */
object Json {
  def value(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ": " + value(x) }
      .mkString("{", ", ", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ", ", "]")
    case null => "null"
    case other => value(other.toString)
  }
  def obj(kv: (String, Any)*): String = value(kv.toMap)
}

/** Latency summaries. */
object Stats {
  /** Linear-interpolated percentile `p` in [0, 1] of unsorted values. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  /** Samples a tail percentile must leave beyond it. */
  val TailBeyond = 10

  /** The tail latency and its percentile level: the highest percentile
    * with [[TailBeyond]] samples beyond it, 1 − 10/n, which is the 11th
    * largest sample. Below 2·10 + 1 samples that percentile would not lie
    * above the median, so the tail is the largest sample (level 1). */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= 2 * TailBeyond) (s(n - 1), 1.0)
    else (s(n - 1 - TailBeyond), 1.0 - TailBeyond.toDouble / n)
  }
}
