package graft.processor

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, Encoder}

import graft.core._
import graft.monitoring.{EventSink, ProcessingEvent, ProcessingEventType}

/** Outcome of one record after the T3 retry loop. `item == None` with
  * `failed == false` is the reference's `Ok(None)` (success, filtered out);
  * `failed == true` is a hard-failure dead letter whose sequence number the
  * checkpoint advances past (`processor.rs:1542-1560`). */
final case class Processed[T](
    shardId: String,
    sequenceNumber: String,
    item: Option[T],
    failed: Boolean,
    attempts: Int,
    error: Option[String]
)

/** T3 — drives [[RecordProcessor.processRecord]] with the reference's exact
  * retry semantics (`/root/reference/src/processor.rs:1481-1525`):
  *
  *   - soft failure → immediate re-attempt, forever (no backoff between
  *     record-level attempts — the reference loop re-calls immediately),
  *     attempt counter incremented per retry;
  *   - hard failure → dead-letter row, batch continues;
  *   - per-attempt timeout (`processingTimeoutMs`) → ProcessingTimeout is
  *     SHARD-FATAL (the reference propagates it out of the batch, failing
  *     the shard — `processor.rs:1520-1522` with `?` at `:1457`);
  *   - shutdown (cooperative signal or Spark task interruption/kill) →
  *     abandon the partition mid-batch, like the reference abandoning the
  *     in-flight batch on the watch channel.
  *
  * Scale design: the loop is `mapPartitions` — executor-side, one pass,
  * streaming through the iterator (no materialization). A poisoned record
  * blocks only its own partition, exactly as it blocks its shard in the
  * reference — that is the documented, faithful behavior (SURVEY §7).
  * The per-attempt timeout is enforced by a [[PartitionWatchdog]]: the
  * callback runs inline on the partition thread (no per-record thread
  * handoff) and an interruptible hang is preempted by interrupt — the same
  * preemption power as the reference's `tokio::select!` race.
  */
object RecordProcessing {

  def process[T](
      ds: Dataset[KRecord],
      processor: RecordProcessor[T],
      config: ProcessorConfig,
      sink: EventSink = EventSink.Noop,
      shutdown: ShutdownSignal = ShutdownSignal.never
  )(implicit enc: Encoder[Processed[T]]): Dataset[Processed[T]] =
    ds.mapPartitions((it: Iterator[KRecord]) => processPartition(it, processor, config, sink, shutdown))

  /** The per-partition pass [[process]] maps over a Dataset and the engine
    * over its record RDD: one watchdog per partition, the sink resolved once,
    * and the retry loop per record, streaming through the iterator. */
  def processPartition[T](
      records: Iterator[KRecord],
      processor: RecordProcessor[T],
      config: ProcessorConfig,
      sink: EventSink,
      shutdown: ShutdownSignal = ShutdownSignal.never): Iterator[Processed[T]] = {
    val timeoutMs = config.processingTimeoutMs
    val watchdog = new PartitionWatchdog(timeoutMs)
    Option(TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => watchdog.close()))
    val target = EventSink.resolve(sink) // once per partition, not per event
    // Records of one shard may each carry their own shard-id String (the
    // Dataset deserializer makes a fresh one per record); events and rows
    // carry one instance per run of a shard instead, so the sink's
    // per-shard lookup hashes it once and matches it by reference.
    var shardId: String = null
    records.map { rec =>
      if (!rec.shardId.equals(shardId)) shardId = rec.shardId
      retryLoop(rec, shardId, processor, timeoutMs, watchdog, target, shutdown)
    }
  }

  /** Single-record retry loop, exposed for direct reuse (and mirrored tests).
    * Throws [[ProcessorError.Shutdown]] / timeout errors — those are fatal
    * to the enclosing task by design. */
  def processSingle[T](
      record: KRecord,
      processor: RecordProcessor[T],
      timeoutMs: Long,
      watchdog: PartitionWatchdog,
      sink: EventSink,
      shutdown: ShutdownSignal): Processed[T] =
    retryLoop(record, record.shardId, processor, timeoutMs, watchdog, sink, shutdown)

  /** [[processSingle]] with the shard id the events and the row carry. */
  private def retryLoop[T](
      record: KRecord,
      shardId: String,
      processor: RecordProcessor[T],
      timeoutMs: Long,
      watchdog: PartitionWatchdog,
      sink: EventSink,
      shutdown: ShutdownSignal): Processed[T] = {
    val seq = record.sequenceNumber
    var attempt = 0
    while (true) {
      if (shutdown.isShutdown || Thread.currentThread().isInterrupted)
        throw ProcessorError.Shutdown
      val t0 = System.nanoTime()
      val meta = RecordMetadata(shardId, seq, attempt)
      attemptWithDeadline(record, meta, processor, timeoutMs, watchdog) match {
        case Right(itemOpt) =>
          // success emits ONLY RecordSuccess (reference `processor.rs:1499-1503`;
          // successful attempts are not RecordAttempt events — emitting both
          // would double-count records_processed in the M4 fold)
          sink.emit(event(shardId,
            ProcessingEventType.RecordSuccess(seq, checkpointSuccess = false)))
          return Processed(shardId, seq, itemOpt, failed = false, attempt, None)
        case Left(e: ProcessingError.SoftFailure) =>
          // the only event that reports the attempt's duration
          val durMs = (System.nanoTime() - t0) / 1000000L
          sink.emit(event(shardId,
            ProcessingEventType.RecordAttempt(seq, success = false, attempt, durMs,
              Some(e.getMessage), isFinalAttempt = false)))
          attempt += 1 // retry forever — reference `processor.rs:1506-1510`
        case Left(e: ProcessingError.HardFailure) =>
          sink.emit(event(shardId,
            ProcessingEventType.RecordFailure(seq, e.getMessage)))
          return Processed(shardId, seq, None, failed = true, attempt, Some(e.getMessage))
      }
    }
    sys.error("unreachable")
  }

  /** One attempt raced against the per-attempt deadline, like the reference's
    * `tokio::select!` over the callback vs `sleep(processing_timeout)`
    * (`processor.rs:1517-1522`). Timeout interrupts the attempt and is fatal. */
  private def attemptWithDeadline[T](
      record: KRecord,
      meta: RecordMetadata,
      processor: RecordProcessor[T],
      timeoutMs: Long,
      watchdog: PartitionWatchdog): Either[ProcessingError, Option[T]] = {
    watchdog.arm()
    try {
      val result = processor.processRecord(record, meta)
      watchdog.disarm() // a fire that raced completion is cleared, result stands
      result
    } catch {
      case _: InterruptedException =>
        if (watchdog.disarm())
          throw ShardError(record.shardId,
            s"processing timeout after ${timeoutMs}ms on sequence ${record.sequenceNumber}")
        else throw ProcessorError.Shutdown // external interrupt = task kill
      case scala.util.control.NonFatal(e) =>
        // deadline passed while the callback was failing → timeout wins
        if (watchdog.disarm())
          throw ShardError(record.shardId,
            s"processing timeout after ${timeoutMs}ms on sequence ${record.sequenceNumber}")
        // A thrown (non-Either) exception from user code is a soft failure,
        // matching the reference treating callback errors as retriable
        // unless explicitly hard.
        Left(ProcessingError.SoftFailure(e.getMessage, e))
    }
  }

  private def event(shardId: String, et: ProcessingEventType): ProcessingEvent =
    ProcessingEvent(System.currentTimeMillis(), shardId, et)
}
