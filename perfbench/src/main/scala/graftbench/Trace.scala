package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's span recorder. Spans are kept in memory and written out
  * when the run ends. When tracing is off every call is a single branch on
  * `enabled`. */
object Trace {
  @volatile var enabled: Boolean = false

  final case class Span(id: Long, name: String, group: String, parent: Long,
      startNs: Long, endNs: Long)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  val originNs: Long = System.nanoTime()

  def nextId(): Long = ids.incrementAndGet()

  /** Times `body` as span `id` (taken from [[nextId]] when the caller's
    * child spans need it as their parent). */
  def span[A](name: String, group: String, parent: Long = 0L, id: Long = 0L)(body: => A): A =
    if (!enabled) body
    else {
      val t0 = System.nanoTime()
      try body
      finally record(name, group, parent, t0, System.nanoTime(), id)
    }

  def record(name: String, group: String, parent: Long, startNs: Long, endNs: Long,
      id: Long = 0L): Unit =
    if (enabled) {
      spans.add(Span(if (id != 0L) id else nextId(), name, group, parent, startNs, endNs)); ()
    }

  /** One JSON object per line: name, group, id, parent, start/end in ms
    * since the recorder's origin. */
  def writeSpans(path: String): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try spans.asScala.foreach { s =>
      w.write(Json(Map("id" -> s.id, "name" -> s.name, "group" -> s.group,
        "parent" -> s.parent, "start_ms" -> (s.startNs - originNs) / 1e6,
        "end_ms" -> (s.endNs - originNs) / 1e6)))
      w.newLine()
    } finally w.close()
  }
}

/** Spark's own job/stage/task counters for one workload's timed phase. */
final class SparkCounters extends SparkListener {
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  val taskMs = new AtomicLong; val gcMs = new AtomicLong
  val shuffleRead = new AtomicLong; val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val recordsRead = new AtomicLong
  /** Submission times (epoch ms) of every job, for attributing jobs to the
    * interval of the call that started them. */
  val jobTimes = new ConcurrentLinkedQueue[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet(); jobTimes.add(e.time); ()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def jobsBetween(fromMs: Long, toMs: Long): Int =
    jobTimes.asScala.count(t => t >= fromMs && t <= toMs)

  def metrics: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble, "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble, "spark.task.ms" -> taskMs.get.toDouble,
    "spark.gc.ms" -> gcMs.get.toDouble, "spark.shuffle_read.bytes" -> shuffleRead.get.toDouble,
    "spark.shuffle_write.bytes" -> shuffleWrite.get.toDouble,
    "spark.spill.bytes" -> spill.get.toDouble)
}

/** Every streaming progress event of the run, kept whole. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[(Long, org.apache.spark.sql.streaming.StreamingQueryProgress)]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    events.add((System.currentTimeMillis(), e.progress)); ()
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def all: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] =
    events.asScala.toSeq.map(_._2)
  def clear(): Unit = events.clear()

  def phase(p: org.apache.spark.sql.streaming.StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue()).getOrElse(0.0)
}

/** Waits until Spark's listener bus has delivered every posted event, so
  * listener-derived counts are complete when read. */
object ListenerBus {
  def drain(sc: org.apache.spark.SparkContext): Unit =
    org.apache.spark.GraftBenchBusAccess.drain(sc)
}

object Heap {
  /** Heap in use after a full collection, in MB. */
  def retainedMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
