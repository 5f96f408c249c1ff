package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** In-memory spans recorded around the benchmark's calls into each layer.
  *
  * A span has a name, an op id, its parent span and its start/end. Spans
  * are recorded only inside a traced op ([[Trace.on]] on that thread), kept
  * in memory, and written out when the run ends. Self time (a span minus what its children cover)
  * is computed by the report (`stats.py`).
  */
object Trace {
  /** Spark local property carrying the op id; the listener reads it from
    * each job's properties to attribute the job to the op. */
  val OpKey = "perfbench.op"

  final case class Span(id: Long, parent: Long, name: String, op: String,
                        startNs: Long, endNs: Long)

  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]
  private val stack = ThreadLocal.withInitial[List[(Long, String)]](() => Nil)
  private val traced = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** Whether the calling thread is inside a traced op. */
  def on: Boolean = traced.get

  /** Runs `f` as op `opId`. Traced, jobs it starts on this thread (and
    * threads it creates) carry the op id, the op gets a root span named
    * `op`, and the spans within it record; untraced, `f` just runs. An op
    * may be entered more than once. */
  def op[T](sc: SparkContext, opId: String, trace: Boolean = true)(f: => T): T =
    if (!trace) f
    else {
      sc.setLocalProperty(OpKey, opId)
      traced.set(true)
      try span("op", opId)(f)
      finally { traced.set(false); sc.setLocalProperty(OpKey, null) }
    }

  def span[T](name: String, opId: String = null)(f: => T): T =
    if (!on) f
    else {
      val parentStack = stack.get()
      val op = Option(opId).getOrElse(parentStack.headOption.map(_._2).orNull)
      val id = ids.incrementAndGet()
      stack.set((id, op) :: parentStack)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, parentStack.headOption.map(_._1).getOrElse(0L), name, op,
          t0, System.nanoTime()))
        stack.set(parentStack)
      }
    }

  def drainSpans(): Seq[Span] = {
    val out = spans.asScala.toVector
    spans.clear()
    out
  }
}

/** Counts Spark's work per op: jobs, stages and tasks, executor CPU, shuffle
  * writes, spill, peak execution memory and records read, plus each task's
  * run interval (for the time within an op in which none of its tasks ran).
  * Jobs are attributed through the [[Trace.OpKey]] local property; stages
  * and tasks follow their job.
  */
final class OpListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, cpuNs, shuffleWrite, spill, recordsRead, peakMem = 0L
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val accs = new ConcurrentHashMap[String, Acc]()
  private def acc(op: String) = accs.computeIfAbsent(op, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty(Trace.OpKey)).orNull
    if (op != null) synchronized {
      acc(op).jobs += 1
      e.stageIds.foreach(stageOp.put(_, op))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stageOp.get(e.stageInfo.stageId)).foreach(op => synchronized { acc(op).stages += 1 })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageOp.get(e.stageId)).foreach { op =>
      synchronized {
        val a = acc(op)
        a.tasks += 1
        a.intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
        val m = e.taskMetrics
        if (m != null) {
          a.cpuNs += m.executorCpuTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.recordsRead += m.inputMetrics.recordsRead
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        }
      }
    }

  def snapshot(): Map[String, Acc] = synchronized { accs.asScala.toMap }
}

object OpListener {
  /** Milliseconds of `[start, end]` that no interval covers. */
  def gapMs(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    intervals.map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > reach) { covered += b - math.max(a, reach); reach = b }
      }
    (end - start) - covered
  }
}

/** Host and process stamps, read the way `graft.Bench` reads them: CPU
  * ticks from `/proc/stat` (steal and busy shares), CPU pressure-stall time
  * from `/proc/pressure/cpu`, this JVM's process CPU and GC time. Recorded
  * only, never used to discard runs. Unavailable counters read as -1.
  */
final case class HostStamp(ticks: Option[Array[Long]], psiUs: Long, cpuNs: Long, gcMs: Long)

object HostStamp {
  private def firstLine(path: String): Option[String] =
    try Some(Files.readAllLines(Paths.get(path)).get(0)) catch { case _: Throwable => None }

  def now(): HostStamp = HostStamp(
    firstLine("/proc/stat").map(_.trim.split("\\s+").drop(1).map(_.toLong)),
    firstLine("/proc/pressure/cpu").flatMap(_.split(" ").find(_.startsWith("total="))
      .map(_.stripPrefix("total=").toLong)).getOrElse(-1L),
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
      case _ => -1L
    },
    gcMs())

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Steal %, busy %, PSI ms, JVM CPU s and GC ms between two stamps. */
  def between(a: HostStamp, b: HostStamp): Map[String, Double] = {
    val (steal, busy) = (a.ticks, b.ticks) match {
      case (Some(x), Some(y)) if x.length >= 8 && y.length >= 8 =>
        val d = y.zip(x).map { case (p, q) => p - q }
        val total = d.take(8).sum.toDouble
        if (total <= 0) (-1.0, -1.0)
        else (100 * d(7) / total, 100 * (total - d(3) - d(4)) / total)
      case _ => (-1.0, -1.0)
    }
    Map("steal_pct" -> steal, "busy_pct" -> busy,
      "psi_ms" -> (if (a.psiUs < 0 || b.psiUs < 0) -1.0 else (b.psiUs - a.psiUs) / 1e3),
      "jvm_cpu_s" -> (if (a.cpuNs < 0) -1.0 else (b.cpuNs - a.cpuNs) / 1e9),
      "gc_ms" -> (b.gcMs - a.gcMs).toDouble)
  }

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Throwable => -1.0 }
}
