package graft.monitoring

import java.util.concurrent.ConcurrentHashMap

/** M4 — windowed per-shard metrics, mirroring the reference's
  * `ShardMetrics` fields (`/root/reference/src/monitoring/metrics.rs:24-51`)
  * and event-fold semantics (`metrics.rs:114-302`). Times in millis. */
final case class ShardMetrics(
    recordsProcessed: Long = 0,
    recordsFailed: Long = 0,
    retryAttempts: Long = 0,
    processingTimeMs: Long = 0,
    checkpointsSucceeded: Long = 0,
    checkpointsFailed: Long = 0,
    iteratorRenewals: Long = 0,
    iteratorFailures: Long = 0,
    softErrors: Long = 0,
    hardErrors: Long = 0,
    avgProcessingTimeMs: Double = 0.0,
    maxProcessingTimeMs: Long = 0,
    windowStartMs: Long,
    lastUpdatedMs: Long
)

/** Folds [[ProcessingEvent]]s into per-shard [[ShardMetrics]], emits a
  * snapshot per window, and evicts shards idle longer than 2× the window
  * (`metrics.rs:304-361`). This is the single-JVM mirror of the reference's
  * aggregator task, suitable for driver-side consumption of the engine's
  * event sinks; the cluster-scale path is [[MetricsAggregator.aggregate]],
  * the same fold as a Spark aggregation over an event Dataset.
  *
  * Locking: each shard has one mutable cell, and an event is folded into it
  * under that cell's own lock, so emitters on different shards never touch
  * shared state beyond one `ConcurrentHashMap` read. Each engine task owns
  * its shard, so the lock is uncontended on the record path; two emitters
  * on one shard (the listener bridge and the engine both write `*`) are
  * serialized instead of overwriting each other. `snapshot` and
  * `emitWindow` read each cell under its lock and build the immutable
  * [[ShardMetrics]] only then. Eviction marks the cell removed under its
  * lock before unmapping it, and an emitter that finds its cell removed
  * retries on a fresh one, so no event is lost to a concurrent eviction.
  */
final class MetricsAggregator(
    windowMs: Long = 60000L,
    onEmit: (String, ShardMetrics) => Unit = (_, _) => (),
    clock: () => Long = () => System.currentTimeMillis()
) extends EventSink {
  import MetricsAggregator.Cell

  private val cells = new ConcurrentHashMap[String, Cell]()

  def snapshot: Map[String, ShardMetrics] = {
    val b = Map.newBuilder[String, ShardMetrics]
    cells.forEach { (shardId, c) =>
      val m = c.synchronized(if (c.removed) null else c.metrics)
      if (m != null) b += shardId -> m
    }
    b.result()
  }

  override def emit(event: ProcessingEvent): Unit = processEvent(event)

  /** Event fold — one-to-one with `metrics.rs:114-302`. */
  def processEvent(event: ProcessingEvent): Unit = {
    val now = clock()
    var done = false
    while (!done) {
      var c = cells.get(event.shardId)
      if (c == null) {
        val fresh = new Cell(now)
        c = cells.putIfAbsent(event.shardId, fresh)
        if (c == null) c = fresh
      }
      c.synchronized {
        if (!c.removed) { c.fold(event.eventType, now); done = true }
      }
    }
  }

  /** Window emission + idle eviction (> 2× window), `metrics.rs:304-361`. */
  def emitWindow(): Unit = {
    val now = clock()
    cells.forEach { (shardId, c) =>
      val m = c.synchronized {
        if (c.removed) null
        else if (now - c.lastUpdatedMs > windowMs * 2) {
          c.removed = true
          cells.remove(shardId, c)
          null
        } else c.metrics
      }
      if (m != null) onEmit(shardId, m)
    }
  }
}

object MetricsAggregator {
  import org.apache.spark.sql.{DataFrame, Dataset}
  import org.apache.spark.sql.functions._

  /** One shard's running fold. Guarded by its own monitor; `removed` marks
    * a cell evicted by `emitWindow`, which emitters must not fold into. */
  private final class Cell(windowStartMs: Long) {
    var removed = false
    private var recordsProcessed, recordsFailed, retryAttempts, processingTimeMs = 0L
    private var checkpointsSucceeded, checkpointsFailed = 0L
    private var iteratorRenewals, iteratorFailures, softErrors, hardErrors = 0L
    private var avgProcessingTimeMs = 0.0
    private var maxProcessingTimeMs = 0L
    var lastUpdatedMs: Long = windowStartMs

    def fold(et: ProcessingEventType, now: Long): Unit = {
      et match {
        case ProcessingEventType.RecordAttempt(_, success, attempt, durMs, error, isFinal) =>
          if (success) recordsProcessed += 1
          else if (isFinal) {
            recordsFailed += 1
            if (error.isDefined) hardErrors += 1
          } else softErrors += 1
          if (attempt > 1) retryAttempts += 1
          processingTimeMs += durMs
          val n = recordsProcessed + recordsFailed
          if (n > 0) avgProcessingTimeMs = processingTimeMs.toDouble / n
          if (durMs > maxProcessingTimeMs) maxProcessingTimeMs = durMs
        case ProcessingEventType.BatchComplete(ok, fail, durMs) =>
          recordsProcessed += ok; recordsFailed += fail; processingTimeMs += durMs
        case ProcessingEventType.BatchStart(_) => ()
        case ProcessingEventType.BatchMetrics(bm) =>
          recordsProcessed += bm.successfulCount; recordsFailed += bm.failedCount
          processingTimeMs += bm.durationMs
        case ProcessingEventType.BatchError(_, durMs) =>
          hardErrors += 1; processingTimeMs += durMs
        case ProcessingEventType.RecordSuccess(_, ckptOk) =>
          recordsProcessed += 1
          if (ckptOk) checkpointsSucceeded += 1
        case ProcessingEventType.RecordFailure(_, _) =>
          recordsFailed += 1; hardErrors += 1
        case ProcessingEventType.CheckpointFailure(_, _) => checkpointsFailed += 1
        case ProcessingEventType.Iterator(t, _) => t match {
          case IteratorEventType.Renewed => iteratorRenewals += 1
          case IteratorEventType.Failed => iteratorFailures += 1
          case _ => ()
        }
        case ProcessingEventType.ShardEvent(t, _) =>
          if (t == ShardEventType.Error) hardErrors += 1
        case ProcessingEventType.Checkpoint(_, success, _) =>
          if (success) checkpointsSucceeded += 1 else checkpointsFailed += 1
      }
      lastUpdatedMs = now
    }

    def metrics: ShardMetrics = ShardMetrics(recordsProcessed, recordsFailed, retryAttempts,
      processingTimeMs, checkpointsSucceeded, checkpointsFailed, iteratorRenewals,
      iteratorFailures, softErrors, hardErrors, avgProcessingTimeMs, maxProcessingTimeMs,
      windowStartMs, lastUpdatedMs)
  }

  /** Flat event row for the Dataset path (sealed-trait payloads flattened —
    * streaming-friendly schema). */
  final case class EventRow(
      timestampMs: Long,
      shardId: String,
      kind: String,
      success: Boolean,
      isFinalAttempt: Boolean,
      attemptNumber: Int,
      durationMs: Long,
      hasError: Boolean
  )

  def toRow(e: ProcessingEvent): EventRow = e.eventType match {
    case ProcessingEventType.RecordAttempt(_, ok, at, dur, err, fin) =>
      EventRow(e.timestampMs, e.shardId, "record_attempt", ok, fin, at, dur, err.isDefined)
    case ProcessingEventType.RecordSuccess(_, _) =>
      EventRow(e.timestampMs, e.shardId, "record_success", true, true, 0, 0, false)
    case ProcessingEventType.RecordFailure(_, _) =>
      EventRow(e.timestampMs, e.shardId, "record_failure", false, true, 0, 0, true)
    case ProcessingEventType.Checkpoint(_, ok, _) =>
      EventRow(e.timestampMs, e.shardId, "checkpoint", ok, true, 0, 0, !ok)
    case ProcessingEventType.Iterator(t, _) =>
      EventRow(e.timestampMs, e.shardId, s"iterator_${t.toString.toLowerCase}", true, true, 0, 0, false)
    case other =>
      EventRow(e.timestampMs, e.shardId, other.getClass.getSimpleName.toLowerCase, true, true, 0, 0, false)
  }

  /** The 100 TB path for M4: the same fold as a declarative windowed
    * aggregation over an event Dataset — partial+final agg, no driver
    * state. Works on both static and streaming Datasets (with a watermark
    * upstream for streaming). */
  def aggregate(events: Dataset[EventRow], windowDuration: String = "60 seconds"): DataFrame =
    events
      .groupBy(window(timestamp_millis(col("timestampMs")), windowDuration), col("shardId"))
      .agg(
        // successes arrive as record_success, NOT record_attempt(success)
        // — processSingle emits only the former (`processor.rs:1499-1503`)
        // — so both kinds count, exactly like processEvent's fold; same
        // for final failures, which arrive as record_failure
        sum(when(col("kind") === "record_success" ||
          (col("kind") === "record_attempt" && col("success")), 1L).otherwise(0L))
          .as("records_processed"),
        sum(when(col("kind") === "record_failure" ||
          (col("kind") === "record_attempt" && !col("success") && col("isFinalAttempt")), 1L)
          .otherwise(0L)).as("records_failed"),
        sum(when(col("kind") === "record_attempt" && !col("success") && !col("isFinalAttempt"), 1L)
          .otherwise(0L)).as("soft_errors"),
        sum(when(col("kind") === "record_failure", 1L).otherwise(0L)).as("hard_errors"),
        sum(when(col("kind") === "record_attempt" && col("attemptNumber") > 1, 1L).otherwise(0L))
          .as("retry_attempts"),
        sum(when(col("kind") === "checkpoint" && col("success"), 1L).otherwise(0L))
          .as("checkpoints_succeeded"),
        sum(when(col("kind") === "checkpoint" && !col("success"), 1L).otherwise(0L))
          .as("checkpoints_failed"),
        sum(when(col("kind") === "iterator_renewed", 1L).otherwise(0L)).as("iterator_renewals"),
        sum(col("durationMs")).as("processing_time_ms"),
        max(col("durationMs")).as("max_processing_time_ms"))
}

/** M5 — test monitoring harness, the mirror of `TestMonitoringHarness`
  * (`/root/reference/src/monitoring/types.rs:277-512`): await named event
  * patterns with timeout over a bounded queue; full history retained. */
final class TestMonitoringHarness(capacity: Int = 10000) extends EventSink {
  private val history = new java.util.concurrent.CopyOnWriteArrayList[ProcessingEvent]()

  override def emit(event: ProcessingEvent): Unit = {
    if (history.size < capacity) { history.add(event); () }
  }

  def events: Vector[ProcessingEvent] = {
    val it = history.iterator()
    val b = Vector.newBuilder[ProcessingEvent]
    while (it.hasNext) b += it.next()
    b.result()
  }

  /** Await until `predicate` matches at least `count` events or timeout;
    * returns the matches (empty on timeout — callers assert). */
  def waitForEvents(
      predicate: ProcessingEvent => Boolean,
      count: Int = 1,
      timeoutMs: Long = 5000L): Vector[ProcessingEvent] = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline) {
      val matches = events.filter(predicate)
      if (matches.length >= count) return matches
      Thread.sleep(10)
    }
    events.filter(predicate)
  }

  def dump(): String = events.map(e => s"${e.timestampMs} ${e.shardId} ${e.eventType}").mkString("\n")
}
