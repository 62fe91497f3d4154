package graft.perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval: nanos on the run's span clock. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder, written out once when the run ends. Spans are
  * taken around the benchmark's own calls into each layer; nothing inside
  * the program is instrumented. */
final class Spans(val runId: String) {
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val ids = new AtomicInteger(0)
  private val t0 = System.nanoTime()
  private val epochMs0 = System.currentTimeMillis()

  def now: Long = System.nanoTime() - t0
  /** An epoch-millis instant on the span clock. */
  def fromEpochMs(ms: Long): Long = (ms - epochMs0) * 1000000L

  /** The span most recently closed by [[timed]]. */
  @volatile var last: Span = _

  def timed[T](name: String, layer: String)(f: => T): T = {
    val (parent, id) = synchronized {
      val id = ids.incrementAndGet()
      val p = stack.headOption.getOrElse(0)
      stack = id :: stack
      (p, id)
    }
    val s = now
    try f
    finally synchronized {
      last = Span(id, parent, name, layer, s, now)
      done += last
      stack = stack.dropWhile(_ == id)
    }
  }

  /** Record an interval measured elsewhere (a micro-batch from the
    * streaming progress log) under `parent`. */
  def add(parent: Int, name: String, layer: String, startNs: Long, endNs: Long): Int =
    synchronized {
      val id = ids.incrementAndGet()
      done += Span(id, parent, name, layer, startNs, endNs)
      id
    }

  def all: Seq[Span] = synchronized(done.toList.sortBy(_.startNs))

  /** Self time per layer: each span's duration minus the part of it that
    * its children cover. */
  def selfNsByLayer: Map[String, Long] = {
    val spans = all
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(c =>
        math.max(0L, math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))).sum
      s.layer -> math.max(0L, s.durNs - covered)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

/** Catalyst phase times per query, read from each query's
  * QueryPlanningTracker when it finishes. */
final class PlanListener extends QueryExecutionListener {
  val analyzeNs = new AtomicLong
  val optimizeNs = new AtomicLong
  val physicalNs = new AtomicLong
  val nodes = new AtomicLong
  /** Queries seen: each finished action is one. */
  val queries = new AtomicLong

  private def phase(qe: QueryExecution, name: String): Long =
    qe.tracker.phases.get(name).map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).getOrElse(0L)

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    analyzeNs.addAndGet(phase(qe, "analysis"))
    optimizeNs.addAndGet(phase(qe, "optimization"))
    physicalNs.addAndGet(phase(qe, "planning"))
    nodes.addAndGet(PlanListener.nodes(qe))
    queries.incrementAndGet()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def planNs: Long = analyzeNs.get + optimizeNs.get + physicalNs.get
  def reset(): Unit = Seq(analyzeNs, optimizeNs, physicalNs, nodes, queries).foreach(_.set(0))
}

object PlanListener {
  /** Node count of a query's optimized plan. */
  def nodes(qe: QueryExecution): Long = qe.optimizedPlan.collect { case p => p }.size.toLong
}

/** Task and stage counters: shuffle bytes, spill, task and stage counts. */
final class ExecListener extends SparkListener {
  val shuffleWrite = new AtomicLong
  val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  val tasks = new AtomicLong
  val stages = new AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()

  def reset(): Unit = Seq(shuffleWrite, shuffleRead, spill, tasks, stages).foreach(_.set(0))
}

/** The traced run's instruments, attached and detached as a unit so passes
  * with and without them give the tracing overhead. Their callbacks arrive
  * on the listener bus after the action that caused them returned, so every
  * read, reset, attach and detach drains the bus first: each event is then
  * counted under the state it was posted in. */
final class Tracer(spark: SparkSession) {
  private val planL = new PlanListener
  private val execL = new ExecListener
  private var on = false

  def drain(): Unit = org.apache.spark.ListenerBusDrain(spark.sparkContext)
  /** The planning counters, with every event posted so far delivered. */
  def plan: PlanListener = { drain(); planL }
  /** The task and stage counters, with every event posted so far delivered. */
  def exec: ExecListener = { drain(); execL }

  def attach(): Unit = if (!on) {
    drain()
    spark.listenerManager.register(planL)
    spark.sparkContext.addSparkListener(execL)
    on = true
  }
  def detach(): Unit = if (on) {
    drain()
    spark.listenerManager.unregister(planL)
    spark.sparkContext.removeSparkListener(execL)
    on = false
  }
  def reset(): Unit = { drain(); planL.reset(); execL.reset() }
}

/** Process-wide counters the layers do not report themselves: Spark's
  * codegen compiles (CodegenMetrics), peak resident memory and the heap's
  * live set. JIT, class-loading and GC time come from
  * `graft.HostLoad.around`. */
object JvmCounters {
  import java.lang.management.ManagementFactory
  import org.apache.spark.metrics.source.CodegenMetrics

  final case class Sample(compiles: Long, compileMs: Double)

  def sample(): Sample = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Sample(h.getCount, h.getSnapshot.getMean * h.getCount)
  }

  /** Peak resident set (VmHWM) in MB, from /proc/self/status. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(-1.0)
    finally src.close()
  }

  /** Committed heap in MB. */
  def heapCommittedMb(): Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0

  /** Let the JVM settle before a timed phase, outside its timing: a full
    * GC, then a wait until the JIT compilers have been idle for 300 ms (at
    * most 5 s). Without it, each phase starts with whatever GC debt and
    * compile queue the previous one left, and the first warm pass varied
    * by up to half its time between runs. Returns the seconds spent. */
  def settle(): Double = {
    val t0 = System.nanoTime()
    System.gc()
    val jit = ManagementFactory.getCompilationMXBean
    var last = jit.getTotalCompilationTime
    var idle = 0
    while (idle < 3 && System.nanoTime() - t0 < 5000000000L) {
      Thread.sleep(100)
      val now = jit.getTotalCompilationTime
      idle = if (now == last) idle + 1 else 0
      last = now
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** The heap's live set in MB: heap in use after full GCs. Spark's
    * context cleaner frees blocks only once a GC has found their owners
    * unreachable, so the GC is repeated with a pause for the cleaner. */
  def liveHeapMb(): Double = {
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
