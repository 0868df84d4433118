package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Times are `System.nanoTime`; `op` is the
  * benchmark operation the span belongs to, `parent` the enclosing span
  * (-1 for an operation's root span).
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
    start: Long, end: Long)

/** In-memory span recorder. When disabled, `span` only runs its body, so an
  * untraced run pays nothing but a boolean test per call.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  // (span id, op id) of the innermost open span on this thread
  private val open = new ThreadLocal[List[(Int, Int)]] {
    override def initialValue(): List[(Int, Int)] = Nil
  }
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Converts a listener timestamp (epoch ms) onto the span clock. */
  def fromEpochMs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  def root[T](op: Int, name: String)(body: => T): T = within(op, -1, "op", name)(body)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else open.get() match {
      case (parent, op) :: _ => within(op, parent, layer, name)(body)
      case Nil => within(-1, -1, layer, name)(body)
    }

  private def within[T](op: Int, parent: Int, layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.getAndIncrement()
      val outer = open.get()
      open.set((id, op) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, layer, name, t0, System.nanoTime()))
        open.set(outer)
      }
    }

  /** Adds a span recorded elsewhere (a Spark job) under the innermost
    * harness span of `op` that contains its start.
    */
  def addChild(op: Int, layer: String, name: String, start: Long, end: Long): Unit = {
    val host = spans.asScala.filter(s => s.op == op && s.start <= start && start <= s.end)
    if (host.nonEmpty) {
      val parent = host.maxBy(_.start)
      spans.add(Span(ids.getAndIncrement(), parent.id, op, layer, name,
        math.max(start, parent.start), math.min(end, parent.end)))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  /** Seconds of each layer's spans not covered by their child spans. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, mine) =>
      layer -> mine.map { s =>
        val kids = children.getOrElse(s.id, Nil).map(k => (k.start, k.end)).sortBy(_._1)
        var covered = 0L
        var reach = s.start
        kids.foreach { case (a, b) =>
          val lo = math.max(a, reach)
          if (b > lo) { covered += b - lo; reach = b }
        }
        (s.end - s.start - covered) / 1e9
      }.sum
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val lines = all.map { s =>
      Json.mapper.writeValueAsString(Json.mapper.createObjectNode()
        .put("id", s.id).put("parent", s.parent).put("op", s.op).put("layer", s.layer)
        .put("name", s.name).put("start_ns", s.start - nano0).put("end_ns", s.end - nano0))
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** Task-level figures of one finished task. */
final case class TaskEnd(finishMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    deserMs: Long, schedDelayMs: Long, shuffleWriteBytes: Long, shuffleWriteNs: Long,
    shuffleReadBytes: Long, fetchWaitMs: Long, spillMem: Long, spillDisk: Long,
    inBytes: Long, inRows: Long, outBytes: Long, outRows: Long, failed: Boolean)

final case class JobSpan(id: Int, startMs: Long, endMs: Long, stages: Seq[Int])

/** Scheduler events of the traced run, kept raw and attributed to
  * operations by time afterwards (one client runs one operation at a time).
  */
final class SparkEvents extends SparkListener {
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Seq[Int])]()
  private val finished = new ConcurrentLinkedQueue[JobSpan]()
  private val submitted = ConcurrentHashMap.newKeySet[Int]()
  val stageRetries = new AtomicInteger(0)
  val tasks = new ConcurrentLinkedQueue[TaskEnd]()
  val events = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    jobStarts.put(e.jobId, (e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    events.incrementAndGet()
    Option(jobStarts.remove(e.jobId)).foreach { case (t0, stages) =>
      finished.add(JobSpan(e.jobId, t0, e.time, stages))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    events.incrementAndGet()
    submitted.add(e.stageInfo.stageId)
    if (e.stageInfo.attemptNumber() > 0) stageRetries.incrementAndGet()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null && i != null) {
      val sched = i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L)
      tasks.add(TaskEnd(i.finishTime, m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.executorDeserializeTime, math.max(0L, sched),
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.writeTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        e.reason != Success))
    }
  }

  def jobs: Seq[JobSpan] = finished.asScala.toSeq.sortBy(_.startMs)

  /** Stages a finished job listed but never ran (their output was reused). */
  def skippedStages: Int = jobs.flatMap(_.stages).distinct.count(s => !submitted.contains(s))
}

/** Planning-phase times of every action (`QueryPlanningTracker`). */
final class PlanEvents extends QueryExecutionListener {
  val actions = new AtomicInteger(0)
  private val phaseMs = new ConcurrentHashMap[String, AtomicLong]()

  private def record(qe: QueryExecution): Unit = {
    actions.incrementAndGet()
    qe.tracker.phases.foreach { case (phase, summary) =>
      phaseMs.computeIfAbsent(phase, _ => new AtomicLong(0)).addAndGet(summary.durationMs)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  def ms(phase: String): Long = Option(phaseMs.get(phase)).map(_.get).getOrElse(0L)
}

/** JSON output of the harness, written with Jackson. */
object Json {
  val mapper = new ObjectMapper()

  /** A measured value as JSON allows it: NaN and infinities read 0. */
  private def num(v: Double): Double = if (v.isNaN || v.isInfinite) 0.0 else v

  /** `{"<name>": {"value": v, "unit": "<unit>"}, ...}` in the given order. */
  def metrics(ms: Seq[(String, Double, String)]): ObjectNode = {
    val n = mapper.createObjectNode()
    ms.foreach { case (k, v, unit) => n.putObject(k).put("value", num(v)).put("unit", unit) }
    n
  }
}

/** Order statistics used for every reported latency. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile that leaves at least ten samples above it:
    * (percentile, value). With ten samples or fewer it is the maximum.
    */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0, 0.0)
    else if (n <= 10) (100, s.last)
    else ((100 * (n - 10)) / n, s(n - 11))
  }
}

/** Stops the caller until a listener bus has delivered everything posted
  * so far: a counter must hold still across consecutive reads.
  */
object Drain {
  def until(counter: () => Long, maxWaitMs: Long = 3000): Unit = {
    var last = counter()
    var stable = 0
    var waited = 0L
    while (stable < 3 && waited < maxWaitMs) {
      Thread.sleep(50); waited += 50
      val cur = counter()
      if (cur == last) stable += 1 else { stable = 0; last = cur }
    }
  }
}

/** Resident-set and GC figures of this process. */
object Proc {
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** CPU seconds this process has consumed, all threads. */
  def cpuSeconds: Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  private val heapAfterGc = new AtomicLong(0)

  /** From now on, records the heap still in use right after each
    * collection: the data the program holds (plus old-generation garbage a
    * young collection leaves), which does not follow how far the heap grows
    * between collections.
    */
  def watchHeapAfterGc(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n: Notification, _: AnyRef) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        heapAfterGc.accumulateAndGet(used, math.max(_, _))
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** The largest heap in use after a collection since `watchHeapAfterGc`. */
  def heapAfterGcPeakMb: Double = heapAfterGc.get / 1048576.0
}
