package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval around a call the benchmark makes into a module.
  * `parent` is 0 for a root span; spans of one request or stage share `trace`. */
final case class Span(id: Long, parent: Long, trace: Long, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` is a plain call: no clock
  * reads, no job-group changes, nothing kept. Enabled, every span also
  * becomes the Spark job group of its thread, so [[SparkCounters]] can bill
  * the jobs a span starts to that span. */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val current = new ThreadLocal[(Long, Long)] // (span id, trace id)

  def span[T](layer: String, name: String, newTrace: Boolean = false)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = current.get()
      val parent = if (outer == null || newTrace) 0L else outer._1
      val trace = if (outer == null || newTrace) id else outer._2
      val outerGroup = sc.getLocalProperty(Tracer.JobGroup)
      current.set((id, trace))
      sc.setLocalProperty(Tracer.JobGroup, s"span-$id")
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, trace, layer, name, t0, System.nanoTime()))
        sc.setLocalProperty(Tracer.JobGroup, outerGroup)
        current.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  /** The local property `SparkContext.setJobGroup` writes. */
  val JobGroup = "spark.jobGroup.id"
}

/** Spark counters from one listener: totals for the run, and the same
  * counters per job group (that is, per [[Tracer]] span). Failed tasks are
  * counted by reason class; `stale_read` is a task that died on a file a
  * concurrent store update removed, which the serving layer retries without
  * telling the client. */
final class SparkCounters extends SparkListener {
  final class Acc {
    val jobs, tasks, cpuNs, gcMs, shuffleWrite, shuffleRead, spill, recordsRead = new AtomicLong(0L)
    val peakExecMem = new AtomicLong(0L)
    val failed = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs.get, "tasks" -> tasks.get, "executor_cpu_s" -> cpuNs.get / 1e9,
      "gc_s" -> gcMs.get / 1e3, "shuffle_write_bytes" -> shuffleWrite.get,
      "shuffle_read_bytes" -> shuffleRead.get, "spill_bytes" -> spill.get,
      "records_read" -> recordsRead.get, "peak_exec_mem_bytes" -> peakExecMem.get,
      "failed_tasks" -> failed.asScala.map { case (k, v) => k -> v.get }.toMap)
  }

  val total = new Acc
  private val byGroup = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.JobGroup)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    total.jobs.incrementAndGet()
    group(e.properties).foreach { g =>
      byGroup.computeIfAbsent(g, _ => new Acc).jobs.incrementAndGet()
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val accs = total +: Option(stageGroup.get(e.stageId)).map(byGroup.computeIfAbsent(_, _ => new Acc)).toSeq
    val m = e.taskMetrics
    accs.foreach { a =>
      a.tasks.incrementAndGet()
      if (m != null) {
        a.cpuNs.addAndGet(m.executorCpuTime)
        a.gcMs.addAndGet(m.jvmGCTime)
        a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        a.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        a.recordsRead.addAndGet(m.inputMetrics.recordsRead)
        a.peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max)
      }
      if (e.reason != org.apache.spark.Success)
        a.failed.computeIfAbsent(SparkCounters.reasonClass(e.reason), _ => new AtomicLong(0L))
          .incrementAndGet()
    }
  }

  def groups: Map[String, Acc] = byGroup.asScala.toMap
}

object SparkCounters {
  def reasonClass(r: org.apache.spark.TaskEndReason): String = r match {
    case f: org.apache.spark.ExceptionFailure =>
      val text = f.className + " " + f.description + " " + f.fullStackTrace
      if (text.contains("FileNotFoundException") || text.contains("FILE_NOT_EXIST") ||
          text.contains("REFRESH TABLE")) "stale_read"
      else "exception"
    case _: org.apache.spark.FetchFailed => "fetch_failed"
    case _: org.apache.spark.TaskKilled  => "killed"
    case _                               => "other"
  }
}
