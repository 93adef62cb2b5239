package graft.engine

import java.util.UUID

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.MicroBatchScanExec
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core._
import graft.monitoring.{EventSink, ProcessingEvent, ProcessingEventType, ShardEventType}
import graft.processor.{RecordProcessing, RecordProcessor}
import graft.sources.{FactoryConstructible, GraftInputPartition, GraftMicroBatchStream, IndexedSourceClient,
  IndexedThrottleRetryingClient, ShardRangeRDD, SourceClientRegistry}

/** Per-shard commit work computed executor-side per micro-batch.
  * `validated=false` means the T2 loop did not complete (interrupted
  * mid-soft-retry, or hard validation error) — the driver must NOT save
  * the application checkpoint for that shard. `hardError` carries the
  * hard-validation message; it additionally fails the whole micro-batch. */
final case class CommitTask(
    shardId: String,
    lastSuccessfulSequence: Option[String],
    successCount: Long,
    failCount: Long,
    itemCount: Long,
    validated: Boolean,
    hardError: Option[String]
)

/** The engine orchestrator — `KinesisProcessor` re-expressed on Structured
  * Streaming (SURVEY §3.1 trace, §7 step 6):
  *
  *   - O1 `new`: config validated at construction (reference panics,
  *     `src/processor.rs:599-602`; here it throws)
  *   - O2 `run`: blocking loop with optional `total_timeout` →
  *     `TotalProcessingTimeout` (`processor.rs:624-670`)
  *   - O3: task-per-shard parallelism is the source's partition planning;
  *     `maxConcurrentShards` caps it by coalescing the batch's record RDD
  *     (the semaphore analog — fewer concurrent workers, per-shard order
  *     kept)
  *   - O8: cooperative shutdown → `query.stop()`; the in-flight epoch is
  *     abandoned, matching the reference abandoning the in-flight batch
  *   - T2/K4 commit path (`processor.rs:1561-1629`): per shard, after each
  *     micro-batch — `beforeCheckpoint` validation (Soft → re-validate
  *     forever; Hard → the shard's checkpoint is NOT saved and the batch
  *     fails, matching `handle_checkpointing` returning
  *     `ProcessorError::CheckpointError`, `processor.rs:1594-1596` — note
  *     the reference's trait DOC comment says "proceed with checkpoint",
  *     but its implementation fails without saving; we follow the code)
  *     runs executor-side per shard; for validated shards the checkpoint
  *     save runs with infinite soft retry so it is never silently skipped;
  *     failed records are dead-lettered and the checkpoint advances past
  *     them. A validation loop interrupted by shutdown also does not save
  *     (reference returns `ProcessorError::Shutdown`,
  *     `processor.rs:1577,1599-1601`).
  *
  * How a micro-batch's records are read: Spark plans the batch as usual
  * (the `graft-stream` source's offsets, admission and one
  * `planInputPartitions` call), and `runBatch` takes the planned shard
  * ranges from the batch's `MicroBatchScanExec`. A [[ShardRangeRDD]] reads
  * them as the client's own [[KRecord]]s, and the commit fold maps over
  * that RDD. No record becomes a Spark row on the way to the record
  * function; only items are encoded, for `onItems`. The `foreachBatch`
  * rows themselves are never evaluated (an action on them would read the
  * ranges a second time). Every record read is added to the scan's
  * `numOutputRows` metric, so `StreamingQueryProgress.numInputRows` is
  * still Spark's own count of what the batch read.
  *
  * Two checkpoint layers by design (SURVEY §1.1): Spark's offset/commit log
  * is the engine checkpoint (exactly-once restart of stream positions); the
  * [[CheckpointStore]] is the application checkpoint, the analog of the
  * reference's DynamoDB table. The query starts through [[QueryStart]], the
  * one start path of every streaming query in the program. Spark writes
  * both log files after every micro-batch; on a `file:` checkpoint
  * `QueryStart` gives the query a [[LocalCheckpointFileManager]], whose
  * writes fork no `chmod`/`readlink` process as Spark's default manager
  * does without libhadoop. Other schemes keep Spark's choice, and so does
  * a session that names a manager itself.
  *
  * Contract for `onItems`: it receives the micro-batch's item Dataset and
  * should run EXACTLY ONE full action over it (write, collect, count…) —
  * the commit pass (T2 validation + stats) executes lazily inside that
  * action. The engine ENFORCES coverage: if the consumer runs no action, or
  * a partial one (`take`/`show`/`limit` touch only some partitions), a
  * dedicated engine pass re-drives the untouched partitions so no shard's
  * validation/checkpoint is ever silently skipped and no hard error is
  * masked; `beforeCheckpoint` may then re-run for already-covered shards
  * (identical commit rows collapse). Running several actions likewise
  * re-executes validation side effects. Omit `onItems` entirely and the
  * engine drives its own single no-op action.
  *
  * Delivery semantics for `onItems` on MIXED-OUTCOME batches: items from
  * validated shards are consumed BEFORE the batch fails for another shard's
  * hard validation error, so on Spark's retry of the failed epoch the
  * consumer sees those items again — AT-LEAST-ONCE output, matching the
  * reference where a failed batch is re-delivered in full
  * (`processor.rs:1470-1475`). Consumers needing exactly-once output must
  * write idempotently (e.g. keyed upsert by (shardId, sequenceNumber)) or
  * buffer until the epoch commits.
  */
final class GraftProcessor[T](
    val config: ProcessorConfig,
    processor: RecordProcessor[T],
    client: IndexedSourceClient,
    store: CheckpointStore,
    sink: EventSink = EventSink.Noop,
    onItems: (Dataset[T], Long) => Unit =
      GraftProcessor.NoopItems.asInstanceOf[(Dataset[T], Long) => Unit]
)(implicit itemEnc: Encoder[T]) {

  config.validated() // O1

  private val instanceId = s"${config.streamName}#${UUID.randomUUID().toString.take(8)}"
  private val sinkHandle: EventSink =
    if (sink == EventSink.Noop) EventSink.Noop else EventSink.register(instanceId, sink)
  private val sinkIdOpt: Option[String] =
    if (sink == EventSink.Noop) None else Some(instanceId)

  /** Build + start the streaming query, through [[QueryStart]] like every
    * other streaming query in the program. */
  def start(spark: SparkSession, checkpointLocation: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // R4: client-internal throttle retry, bound from config.maxRetries
    // (`client.rs:195-229`, threaded like `processor.rs:352,377`).
    SourceClientRegistry.register(instanceId,
      new IndexedThrottleRetryingClient(client, config.maxRetries.getOrElse(3)))
    CheckpointStoreRegistry.register(instanceId, store)

    val reader = spark.readStream.format("graft-stream")
      .option("client", instanceId)
      .option("streamName", config.streamName)
      .option("batchSize", config.batchSize.toString)
      .option("maxBatchRetrievalLoops", config.maxBatchRetrievalLoops.getOrElse(10).toString)
      .option("preferStoredCheckpoint", config.preferStoredCheckpoint.toString)
      .option("expiryFallbackLadder", config.expiryFallbackLadder.toString)
      .option("checkpointStore", instanceId)
      .option("initialPosition", config.initialPosition match {
        case InitialPosition.TrimHorizon => "trim_horizon"
        case InitialPosition.Latest => "latest"
        case InitialPosition.AtSequenceNumber(s) => s"at_sequence:$s"
        case InitialPosition.AtTimestamp(t) => s"at_timestamp:${t.toEpochMilli}"
      })
    sinkIdOpt.foreach(id => reader.option("eventSink", id))
    // Multi-JVM seam (r10): a factory-constructible client (e.g. the
    // ShardedCorpus file-backed stream) advertises its construction spec;
    // forwarding it lets executor-side readers build their own instance
    // when the driver-JVM registry is out of reach — no record embedding.
    // The driver still resolves via the registry (which wins in the
    // reader's ladder), keeping the R4 throttle-retry wrapper there.
    // SECURITY CONTRACT (ADVICE r10): factorySpec conf values are placed
    // on the DSv2 options map, which can surface in source descriptions,
    // StreamingQueryProgress and logs — unlike clientKey, which is only
    // ever exposed as a SHA-256 confDigest. A FactoryConstructible MUST
    // therefore put only non-sensitive values (paths, handles, registry
    // keys) in factorySpec; credentials belong behind an opaque handle
    // the factory resolves executor-side (env, instance profile, vault).
    client match {
      case fc: FactoryConstructible =>
        val (cls, conf) = fc.factorySpec
        reader.option("clientFactory", cls)
        conf.foreach { case (k, v) => reader.option(s"clientconf.$k", v) }
      case _ => ()
    }

    // The first batch may start before `start` returns: it waits for the
    // query handle, through which it finds the batch's planned ranges.
    val handle = Promise[StreamingQuery]()
    try {
      val query = QueryStart(spark, reader.load().writeStream
        .queryName(s"graft-$instanceId") // unique: processors may share a stream name
        .foreachBatch((batch: DataFrame, batchId: Long) => runBatch(handle.future, batch, batchId)),
        checkpointLocation, trigger)
      handle.success(query)
      query
    } catch {
      case e: Throwable => handle.tryFailure(e); throw e
    }
  }

  /** One micro-batch: T3 processing → T2 validation → K4 commit → items out —
    * as ONE Spark job. The batch's records come from [[plannedRecords]], one
    * partition per shard range; `coalesce` (the `maxConcurrentShards` cap)
    * concatenates whole ranges, so each shard's records are contiguous
    * within a single partition: the per-shard fold + T2 validation run in
    * the same `mapPartitions` pass that feeds `onItems` (no cache, no
    * shuffle, no second scan). Commit stats travel back on a collection
    * accumulator — one tiny row per shard. `batch` (the micro-batch's rows)
    * only lends its session: evaluating it would read the ranges again. */
  private def runBatch(query: Future[StreamingQuery], batch: DataFrame, batchId: Long): Unit = {
    val t0 = System.nanoTime()
    emitAll(ProcessingEventType.BatchStart(System.currentTimeMillis()))
    val session = batch.sparkSession
    val records = plannedRecords(Await.result(query, Duration.Inf), session.sparkContext)
    // unnamed: Spark copies a named accumulator's value into every task's
    // and stage's `AccumulableInfo`, and the status store keeps it
    val commitsAcc = session.sparkContext.collectionAccumulator[CommitTask]
    val partsAcc = session.sparkContext.longAccumulator

    val proc = processor
    val cfg = config
    val sinkH = sinkHandle
    implicit val itemTag: ClassTag[T] = itemEnc.clsTag
    val items: RDD[T] = records.mapPartitions { it =>
      partsAcc.add(1L) // commit-pass coverage marker (see below)
      // Contiguous per-shard accumulation (one shard never spans partitions)
      final class ShardAcc(val shardId: String) {
        var success = 0L; var failed = 0L
        var lastSuccess: String = null
        val items = Vector.newBuilder[T]
      }
      val order = scala.collection.mutable.ArrayBuffer.empty[ShardAcc]
      val byShard = scala.collection.mutable.HashMap.empty[String, ShardAcc]
      var cur: ShardAcc = null
      RecordProcessing.processPartition(it, proc, cfg, sinkH).foreach { p =>
        // a shard's records are contiguous: the current accumulator almost
        // always matches, and its shard id is usually the very instance
        if (cur == null || !cur.shardId.equals(p.shardId))
          cur = byShard.getOrElseUpdate(p.shardId, {
            val a = new ShardAcc(p.shardId); order += a; a
          })
        val acc = cur
        if (p.failed) acc.failed += 1
        else {
          acc.success += 1
          if (acc.lastSuccess == null || acc.lastSuccess < p.sequenceNumber)
            acc.lastSuccess = p.sequenceNumber
          p.item.foreach(acc.items += _)
        }
      }
      order.iterator.flatMap { acc =>
        val collected = acc.items.result()
        // T2: Soft → re-validate forever (`processor.rs:1583-1592`);
        // Hard → no save + batch failure (`processor.rs:1594-1596`);
        // interrupted → no save (`processor.rs:1577`).
        var validated = false
        var hardError: Option[String] = None
        var done = collected.isEmpty || acc.lastSuccess == null
        while (!done) {
          proc.beforeCheckpoint(collected, CheckpointMetadata(acc.shardId, acc.lastSuccess)) match {
            case Right(()) => validated = true; done = true
            case Left(_: BeforeCheckpointError.SoftError) =>
              if (Thread.currentThread().isInterrupted) done = true
            case Left(e: BeforeCheckpointError.HardError) =>
              sinkH.emit(ProcessingEvent(System.currentTimeMillis(), acc.shardId,
                ProcessingEventType.CheckpointFailure(acc.lastSuccess, e.getMessage)))
              hardError = Some(e.getMessage); done = true
          }
        }
        commitsAcc.add(CommitTask(acc.shardId, Option(acc.lastSuccess), acc.success,
          acc.failed, collected.length.toLong, validated, hardError))
        // Items flow only for shards whose validation completed — a failed
        // or interrupted shard emits nothing, like the reference failing the
        // batch before the checkpoint side effects (`processor.rs:1470-1475`).
        if (validated) collected.iterator else Iterator.empty
      }
    }

    // Drive exactly one action over the pass (T2 side effects must run once):
    // the caller's consumer if provided, else a no-op job for the stats.
    if (onItems.asInstanceOf[AnyRef] eq GraftProcessor.NoopItems) items.foreach(_ => ())
    else {
      onItems(session.createDataset(items)(itemEnc), batchId)
      // Coverage enforcement (ADVICE r4): a consumer running no action — or
      // a partial one (take/show/limit evaluate only some partitions) —
      // leaves shards whose CommitTasks never reached the accumulator:
      // their checkpoints would be silently skipped and, worse, a hard
      // validation error would go undetected and the epoch would commit. A
      // partition either runs the commit pass fully or not at all (the fold
      // above is eager), so partition-count coverage is exact. On a gap,
      // one dedicated pass guarantees every shard commits; duplicate
      // CommitTasks collapse via the distinct below.
      if (partsAcc.value < items.getNumPartitions) items.foreach(_ => ())
    }

    // Merge accumulator rows: identical duplicates (a consumer running >1
    // action re-executes the pass) collapse via distinct; the defensive
    // multi-partial merge keeps conservative semantics (AND validated).
    val commits = {
      import scala.jdk.CollectionConverters._
      commitsAcc.value.asScala.toList.distinct.groupBy(_.shardId).values.map { parts =>
        parts.reduce { (a, b) =>
          CommitTask(a.shardId,
            (a.lastSuccessfulSequence ++ b.lastSuccessfulSequence).maxOption,
            a.successCount + b.successCount, a.failCount + b.failCount,
            a.itemCount + b.itemCount, a.validated && b.validated,
            a.hardError.orElse(b.hardError))
        }
      }.toSeq.sortBy(_.shardId)
    }

    // K4 driver-side: save app checkpoints with infinite soft retry —
    // never silently skipped (`processor.rs:1607-1629`). Only shards whose
    // T2 validation COMPLETED commit; shards are independent in the
    // reference, so validated shards save even when another shard's
    // hard error fails the batch below.
    val retryingStore = new RetryingCheckpointStore(store, RetryConfig(maxRetries = None))
    commits.foreach { c =>
      // reference checkpoints only when the batch produced items
      // (`processor.rs:1461-1466`)
      if (c.itemCount > 0 && c.lastSuccessfulSequence.isDefined && c.validated) {
        retryingStore.saveCheckpoint(c.shardId, c.lastSuccessfulSequence.get)
        emitAll(ProcessingEventType.Checkpoint(c.lastSuccessfulSequence.get,
          success = true, None), c.shardId)
      }
    }
    // Hard validation error → fail the micro-batch WITHOUT having saved
    // that shard's checkpoint: the epoch does not commit and its records
    // are re-delivered, the analog of `process_batch` propagating
    // `ProcessorError::CheckpointError` (`processor.rs:1470-1475`).
    commits.collectFirst { case c if c.hardError.isDefined => c } foreach { c =>
      throw ProcessorError.CheckpointFailure(c.shardId, CheckpointError(
        s"before_checkpoint hard error on shard ${c.shardId}: ${c.hardError.get}"))
    }

    val durMs = (System.nanoTime() - t0) / 1000000L
    emitAll(ProcessingEventType.BatchComplete(
      commits.map(_.successCount).sum, commits.map(_.failCount).sum, durMs))
  }

  /** The batch's records: the shard ranges Spark planned for it, taken
    * from the `MicroBatchScanExec` of the query's current execution (so
    * `planInputPartitions` still runs once per batch), read as [[KRecord]]s
    * and capped at `maxConcurrentShards` concurrent partitions. */
  private def plannedRecords(query: StreamingQuery, sc: SparkContext): RDD[KRecord] = {
    val scan = (query match {
      case q: StreamingQueryWrapper => q.streamingQuery.lastExecution.executedPlan.collectFirst {
        case s: MicroBatchScanExec if s.stream.isInstanceOf[GraftMicroBatchStream] => s
      }
      case _ => None
    }).getOrElse(throw new IllegalStateException(
      s"query '${query.name}' has no graft-stream scan in its micro-batch plan"))
    val ranges = scan.inputPartitions.map(_.asInstanceOf[GraftInputPartition])
    val rdd: RDD[KRecord] =
      new ShardRangeRDD(sc, ranges, scan.longMetric("numOutputRows"))
    // O3 concurrency cap: coalesce merges whole shard ranges (order within
    // each shard preserved), bounding concurrent shard workers like the
    // reference's Semaphore (`processor.rs:679-683`).
    config.maxConcurrentShards.filter(_ => ranges.nonEmpty).fold(rdd)(rdd.coalesce(_))
  }

  /** O2 — run until drained (AvailableNow), shutdown, or total timeout
    * (`processor.rs:624-670`). A failed query surfaces as `Left`, never a
    * throw: `awaitTermination` raises `StreamingQueryException` when the
    * query dies (e.g. the T2 hard-validation path failing the batch), and
    * the cause chain is unwrapped back into the [[ProcessorError]] taxonomy
    * — the analog of `run` returning `Err(ProcessorError::CheckpointError)`
    * rather than panicking (`processor.rs:1470-1475`). */
  def run(spark: SparkSession, checkpointLocation: String,
      trigger: Trigger = Trigger.AvailableNow(),
      shutdown: ShutdownSignal = ShutdownSignal.never): Either[ProcessorError, Unit] = {
    val query = start(spark, checkpointLocation, trigger)
    val deadline = config.totalTimeoutMs.map(System.nanoTime() + _ * 1000000L)
    try {
      while (query.isActive) {
        if (shutdown.isShutdown) { // O8 graceful: Ok after stop
          query.stop()
          emitAll(ProcessingEventType.ShardEvent(ShardEventType.Interrupted, Some("shutdown")))
          return Right(())
        }
        if (deadline.exists(System.nanoTime() > _)) {
          query.stop()
          return Left(ProcessorError.TotalProcessingTimeout)
        }
        query.awaitTermination(50L)
      }
      Option(query.exception).flatten match {
        case Some(e) => Left(unwrapFailure(e))
        case None => Right(())
      }
    } catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException => Left(unwrapFailure(e))
    } finally cleanup()
  }

  /** Walk the failure's cause chain (StreamingQueryException → Spark job
    * wrappers → user/engine error) back to our taxonomy. */
  private def unwrapFailure(e: Throwable): ProcessorError = {
    var c: Throwable = e
    while (c != null) {
      c match {
        case pe: ProcessorError => return pe
        case se: ShardError => return ProcessorError.ShardFailure(se)
        case ce: CheckpointError => return ProcessorError.CheckpointFailure("?", ce)
        case _ => ()
      }
      c = c.getCause
    }
    ProcessorError.ClientError(Option(e.getMessage).getOrElse(e.toString), e)
  }

  def cleanup(): Unit = {
    SourceClientRegistry.unregister(instanceId)
    CheckpointStoreRegistry.unregister(instanceId)
    sinkIdOpt.foreach(EventSink.unregister)
  }

  private def emitAll(et: ProcessingEventType, shardId: String = "*"): Unit =
    sink.emit(ProcessingEvent(System.currentTimeMillis(), shardId, et))
}

object GraftProcessor {
  /** Sentinel default for `onItems` — lets `runBatch` detect "no consumer"
    * and drive its own single no-op action (the T2/commit pass must execute
    * exactly once per micro-batch). */
  val NoopItems: (Dataset[_], Long) => Unit = (_, _) => ()

  /** The documented SURVEY §4 mapping of the reference's
    * `minimum_batch_retrieval_time` (`src/processor.rs:373-384`): batch
    * accumulation time becomes the micro-batch trigger interval. Use as
    * `gp.run(spark, dir, GraftProcessor.continuousTrigger(config))` for a
    * long-running processor; AvailableNow (drain) ignores it by design. */
  def continuousTrigger(config: ProcessorConfig): Trigger =
    Trigger.ProcessingTime(config.minimumBatchRetrievalTimeMs)
}
