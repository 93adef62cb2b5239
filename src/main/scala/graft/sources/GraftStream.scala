package graft.sources

import java.util.{Map => JMap}

import scala.collection.mutable

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.AccumulatorV2

import graft.core._
import graft.monitoring.{EventSink, IteratorEventType, ProcessingEvent, ProcessingEventType}

/** The engine's custom streaming source (SURVEY §7 step 5): a DSv2
  * `MicroBatchStream` over a [[SourceClient]], re-expressing the reference's
  * source semantics in Spark's planning model:
  *
  *   - S1 `list_shards` → partition planning: one `InputPartition` per shard
  *     per micro-batch, re-listed every `latestOffset` call so resharding is
  *     picked up between batches (the reference re-lists per `process_stream`
  *     loop, `src/processor.rs:672-712`, verified by `tests/test_suite2.rs:53-114`)
  *   - S2 `get_shard_iterator` + O6 initial-position rule: stored checkpoint
  *     wins over `InitialPosition` when `preferStoredCheckpoint`
  *     (`src/processor.rs:801-868`); resolved once at `initialOffset`, then
  *     Spark's own offset log takes precedence across restarts — the same
  *     checkpoint-dir-wins rule Spark already implements
  *   - S3/S4 `get_records` + batch accumulation: the per-batch admission cap
  *     is `batchSize × maxBatchRetrievalLoops` records per shard
  *     (`src/processor.rs:997-1213`); `minimumBatchRetrievalTime` maps to the
  *     query's trigger interval (SURVEY §4)
  *   - O7 iterator expiry: by default the reader renews from the last
  *     consumed index (exact, replay-free — an indexed client can always do
  *     this); `expiryFallbackLadder=true` opts into the reference's
  *     checkpoint → last-sequence → TrimHorizon ladder with its deliberate
  *     at-least-once replay (`src/processor.rs:870-994`), emitting Iterator
  *     events either way
  *   - O9 end-of-shard: a shard whose offset reached `shardLength` plans no
  *     partition; under `Trigger.AvailableNow` the query drains and stops
  *
  * Offsets are a JSON map `shardId → consumed-record index` — exact,
  * replayable ranges (each micro-batch is deterministic under retry, which
  * Spark requires and Kinesis itself cannot give).
  */
class GraftTableProvider extends TableProvider with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-stream"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = KRecord.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: JMap[String, String]): Table =
    new GraftTable(new GraftSourceOptions(new CaseInsensitiveStringMap(properties)))
}

final class GraftSourceOptions(options: CaseInsensitiveStringMap) extends Serializable {
  /** Per-JVM construction seam (the real-cluster path): a
    * [[SourceClientFactory]] FQCN plus `clientconf.*` passthrough options
    * (keys arrive LOWERCASED — DSv2 option maps are case-insensitive).
    * Driver and executors each build their own memoized instance, like a
    * real SDK client. Mutually optional with `client` (registry key). */
  val clientFactoryClass: Option[String] = Option(options.get("clientfactory"))
  val clientConf: Map[String, String] = {
    import scala.jdk.CollectionConverters._
    options.asCaseSensitiveMap().asScala.toMap
      .collect { case (k, v) if k.startsWith("clientconf.") =>
        k.stripPrefix("clientconf.") -> v }
  }
  // factory-derived keys carry a conf DIGEST, not the conf itself — the
  // key surfaces in partition objects and error messages, and clientconf
  // may hold credentials (ADVICE r9)
  val clientKey: String = Option(options.get("client"))
    .orElse(clientFactoryClass.map(f =>
      s"factory:$f:${SourceClientFactory.confDigest(clientConf)}"))
    .getOrElse(throw new IllegalArgumentException(
      "option 'client' (SourceClientRegistry key) or 'clientFactory' (FQCN) is required"))
  val streamName: String = Option(options.get("streamname")).getOrElse("stream")
  val batchSize: Int = Option(options.get("batchsize")).map(_.toInt).getOrElse(100)
  val maxBatchRetrievalLoops: Int =
    Option(options.get("maxbatchretrievalloops")).map(_.toInt).getOrElse(10)
  val preferStoredCheckpoint: Boolean =
    Option(options.get("preferstoredcheckpoint")).forall(_.toBoolean)
  /** O7 fidelity flag: renew expired iterators through the reference's
    * checkpoint → last-seq → TrimHorizon ladder (at-least-once) instead of
    * exact index resume. */
  val expiryFallbackLadder: Boolean =
    Option(options.get("expiryfallbackladder")).exists(_.toBoolean)
  /** Optional CheckpointStoreRegistry key consulted for O6. */
  val checkpointStoreKey: Option[String] = Option(options.get("checkpointstore"))
  /** Optional EventSink registry id for Iterator/Shard events. */
  val eventSinkId: Option[String] = Option(options.get("eventsink"))
  val initialPosition: InitialPosition = Option(options.get("initialposition")) match {
    case None | Some("trim_horizon") => InitialPosition.TrimHorizon
    case Some("latest") => InitialPosition.Latest
    case Some(p) if p.startsWith("at_sequence:") =>
      InitialPosition.AtSequenceNumber(p.stripPrefix("at_sequence:"))
    case Some(p) if p.startsWith("at_timestamp:") =>
      InitialPosition.AtTimestamp(java.time.Instant.ofEpochMilli(p.stripPrefix("at_timestamp:").toLong))
    case Some(other) => throw new IllegalArgumentException(s"bad initialposition '$other'")
  }
  def client: IndexedSourceClient = SourceClientRegistry.getOption(clientKey)
    .orElse(clientFactoryClass.map(f => SourceClientFactory.clientFor(f, clientConf))) match {
    case Some(c: IndexedSourceClient) => c
    case Some(_) => throw new IllegalArgumentException(
      s"client '$clientKey' must be an IndexedSourceClient for micro-batch planning")
    case None => throw new IllegalArgumentException(
      s"no SourceClient registered under '$clientKey' and no clientFactory configured")
  }
  def sink: EventSink = eventSinkId.map(EventSink.Registered).getOrElse(EventSink.Noop)
}

final class GraftTable(opts: GraftSourceOptions) extends Table with SupportsRead {
  override def name(): String = s"graft-stream(${opts.streamName})"
  override def schema(): StructType = KRecord.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = KRecord.schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftMicroBatchStream(opts)
      }
    }
}

/** Offset = per-shard consumed-record count. */
final case class GraftOffset(positions: Map[String, Long]) extends Offset {
  // backslash escaped FIRST, then quotes — escaping quotes alone would
  // make a shard id ending in '\' serialize to `\"`, which reads back as
  // an escaped quote (caught by the r5 round-trip property spec)
  override def json(): String =
    positions.toSeq.sortBy(_._1)
      .map { case (k, v) =>
        s""""${k.replace("\\", "\\\\").replace("\"", "\\\"")}":$v"""
      }
      .mkString("{", ",", "}")
}
object GraftOffset {
  def fromJson(json: String): GraftOffset = {
    // flat {"shard":123,...} map — parsed without a JSON lib dependency;
    // \x → x unescapes both \" and \\ in one left-to-right pass
    val unescape = "\\\\(.)".r
    val m = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*(\\d+)".r
      .findAllMatchIn(json)
      .map(mm => unescape.replaceAllIn(mm.group(1),
        g => scala.util.matching.Regex.quoteReplacement(g.group(1))) -> mm.group(2).toLong)
      .toMap
    GraftOffset(m)
  }
}

final class GraftMicroBatchStream(opts: GraftSourceOptions)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  private def client = opts.client
  private def emit(shardId: String, et: ProcessingEventType): Unit =
    opts.sink.emit(ProcessingEvent(System.currentTimeMillis(), shardId, et))

  /** Fixed target captured by prepareForTriggerAvailableNow (drain-and-stop). */
  @volatile private var availableNowTarget: Option[Map[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(currentEnds())

  private def currentEnds(): Map[String, Long] = {
    val c = client
    c.listShards(opts.streamName)
      .map(s => s.shardId -> c.shardLength(opts.streamName, s.shardId)).toMap
  }

  /** O5/O6 — initial position per shard, checkpoint-wins
    * (`src/processor.rs:765-868`). Only consulted on a fresh query; after
    * that Spark's offset log wins, which is exactly the reference's
    * `prefer_stored_checkpoint` precedence one level up. */
  override def initialOffset(): Offset = {
    val c = client
    val positions = c.listShards(opts.streamName).map { s =>
      val stored: Option[String] = if (opts.preferStoredCheckpoint) {
        opts.checkpointStoreKey.flatMap(k =>
          graft.core.CheckpointStoreRegistry.get(k).flatMap(_.getCheckpoint(s.shardId)))
      } else None
      val iteratorType = stored match {
        case Some(seq) => ShardIteratorType.AfterSequenceNumber(seq)
        case None => opts.initialPosition match {
          case InitialPosition.TrimHorizon => ShardIteratorType.TrimHorizon
          case InitialPosition.Latest => ShardIteratorType.Latest
          case InitialPosition.AtSequenceNumber(q) => ShardIteratorType.AtSequenceNumber(q)
          case InitialPosition.AtTimestamp(t) => ShardIteratorType.AtTimestamp(t)
        }
      }
      val cursorIdx = c.indexOfIterator(opts.streamName, s.shardId,
        c.getShardIterator(opts.streamName, s.shardId, iteratorType))
      emit(s.shardId, ProcessingEventType.Iterator(IteratorEventType.Initial, None))
      s.shardId -> cursorIdx
    }.toMap
    GraftOffset(positions)
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) is used")

  /** S4 admission: per shard, at most batchSize × maxBatchRetrievalLoops new
    * records per micro-batch; re-lists shards so resharding appears here. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startPos = start.asInstanceOf[GraftOffset].positions
    val perShardCap = opts.batchSize.toLong * opts.maxBatchRetrievalLoops
    val ends = availableNowTarget.getOrElse(currentEnds())
    val next = ends.map { case (shardId, end) =>
      val from = startPos.getOrElse(shardId, 0L) // new (reshard child) shard starts at 0
      shardId -> math.min(end, from + perShardCap)
    }
    GraftOffset(next)
  }

  override def reportLatestOffset(): Offset = GraftOffset(currentEnds())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftOffset].positions
    val e = end.asInstanceOf[GraftOffset].positions
    // Multi-JVM seam: the registry is JVM-local, so on any non-local master
    // (local-cluster / standalone / YARN / k8s) an executor-side reader
    // cannot resolve `clientKey`. For in-memory/mock clients the planned
    // range's records embed in the partition (bounded by the S4 admission
    // cap, so task binaries stay small); a production network-backed client
    // instead constructs per-JVM from serializable config — the client is
    // `Serializable` by contract, and a registry hit still wins below.
    // no session visible → assume NON-local (ADVICE r9): embedding when
    // actually local is only minor overhead, while skipping it for a
    // registry-only client on a real cluster fails reader-side
    val isLocalMaster = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .exists(_.sparkContext.isLocal)
    val c = client
    e.toSeq.sortBy(_._1).flatMap { case (shardId, endIdx) =>
      val startIdx = s.getOrElse(shardId, 0L)
      if (endIdx > startIdx) {
        val embedded =
          if (isLocalMaster) None
          else c.embeddableRecords(opts.streamName, shardId, startIdx, endIdx)
        Some(GraftInputPartition(shardId, startIdx, endIdx, opts.clientKey,
          opts.streamName, opts.batchSize, opts.eventSinkId,
          opts.expiryFallbackLadder, opts.checkpointStoreKey, embedded,
          opts.clientFactoryClass, opts.clientConf): InputPartition)
      } else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new GraftReaderFactory

  override def deserializeOffset(json: String): Offset = GraftOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final case class GraftInputPartition(
    shardId: String,
    startIdx: Long,
    endIdx: Long,
    clientKey: String,
    streamName: String,
    batchSize: Int,
    eventSinkId: Option[String],
    expiryFallbackLadder: Boolean = false,
    checkpointStoreKey: Option[String] = None,
    /** The planned range's records, shipped through task serialization when
      * the master is non-local and the client is an in-memory mock (the
      * registry can't cross JVMs). Bounded by the admission cap per task. */
    embedded: Option[IndexedSeq[KRecord]] = None,
    /** Per-JVM construction seam: executors build their own client from
      * this factory FQCN + conf when the registry misses (the real-cluster
      * path — see [[SourceClientFactory]]). */
    factoryClass: Option[String] = None,
    factoryConf: Map[String, String] = Map.empty
) extends InputPartition

final class GraftReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new GraftPartitionReader(partition.asInstanceOf[GraftInputPartition])
}

/** Per-shard reader: pulls `getRecords` pages until the planned end index —
  * the S4 accumulation loop running executor-side, order-preserving within
  * the shard. O7: an expired iterator renews by exact index resume (no
  * replay — always possible for an indexed client); with
  * `expiryFallbackLadder` it instead walks the reference's ladder —
  * stored checkpoint → last-seen sequence → TrimHorizon
  * (`src/processor.rs:870-994`) — re-anchoring `pos` at the renewed
  * cursor's index, so a fallback landing behind the planned range replays
  * those records (bounded at-least-once, mirroring `test_suite2.rs:170`)
  * and never loses the range tail: a rung landing AHEAD of the cursor is
  * clamped back to it (forward re-anchoring only happens when the cursor's
  * index itself is no longer retained, and then it is surfaced as a
  * Renewed event carrying the skipped range).
  *
  * Two ways out of the reader: `get()` encodes the current record as a
  * Spark row (the `graft-stream` source for plain `readStream` users), and
  * `record` hands over the client's own [[KRecord]] unchanged (the engine's
  * path, through [[ShardRangeRDD]], which encodes nothing). */
final class GraftPartitionReader(p: GraftInputPartition) extends PartitionReader[InternalRow] {

  private val client: IndexedSourceClient =
    // resolution ladder: registry (driver-JVM / local-mode: the richer
    // client with cross-range ladder state) → per-JVM factory construction
    // (the real-cluster path) → embedded slice (driver-resident mocks on
    // multi-JVM masters — see planInputPartitions)
    SourceClientRegistry.getOption(p.clientKey)
      .orElse(p.factoryClass.map(f => SourceClientFactory.clientFor(f, p.factoryConf))) match {
      case Some(c: IndexedSourceClient) => c
      case _ => p.embedded match {
        case Some(recs) => new SliceBackedClient(p.shardId, p.startIdx, recs)
        case None => throw new IllegalArgumentException(
          s"no SourceClient registered under '${p.clientKey}' in this JVM, " +
            "no clientFactory, and no embedded records — a non-local " +
            "deployment needs a per-JVM-constructible client or an " +
            "embeddable in-memory one")
      }
    }
  // resolved once per reader: events skip the registry lookup
  private val sink: EventSink =
    EventSink.resolve(p.eventSinkId.map(EventSink.Registered).getOrElse(EventSink.Noop))
  // every record of the range normally carries the partition's shard id:
  // encode it once, and fall back to a per-record encode for any that differs
  private val shardIdUtf8 = UTF8String.fromString(p.shardId)

  /** Absolute index of the next record to fetch; fallback renewal may move
    * it backward (replay), never past `endIdx`. */
  private var pos = p.startIdx
  private var lastSeq: Option[String] = None
  private var iterator: Option[String] =
    Some(client.iteratorAtIndex(p.streamName, p.shardId, p.startIdx))
  private val buffer = mutable.Queue.empty[KRecord]
  private var current: KRecord = _

  override def next(): Boolean = {
    while (buffer.isEmpty && pos < p.endIdx && iterator.isDefined) {
      val want = math.min(p.batchSize.toLong, p.endIdx - pos).toInt
      val resultOpt =
        try Some(client.getRecords(iterator.get, want))
        catch {
          case _: SourceClientError.ExpiredIterator =>
            sink.emit(ProcessingEvent(System.currentTimeMillis(), p.shardId,
              ProcessingEventType.Iterator(IteratorEventType.Expired, None)))
            val renewed = renewIterator()
            val renewedIdx = client.indexOfIterator(p.streamName, p.shardId, renewed)
            if (renewedIdx <= pos) { // replay (at-least-once) — always safe
              pos = renewedIdx
              iterator = Some(renewed)
            } else {
              // ADVICE r4: a ladder rung landing AHEAD of the cursor (e.g.
              // an app checkpoint saved by this epoch's failed earlier
              // attempt) must not silently skip unread in-range records —
              // clamp back to the cursor while the stream still retains it;
              // only if that index is gone (trimmed) accept the forward
              // anchor, surfaced as a Renewed event carrying the skip.
              try iterator = Some(client.iteratorAtIndex(p.streamName, p.shardId, pos))
              catch {
                case scala.util.control.NonFatal(_) =>
                  sink.emit(ProcessingEvent(System.currentTimeMillis(), p.shardId,
                    ProcessingEventType.Iterator(IteratorEventType.Renewed,
                      Some(s"forward re-anchor skipped records [$pos, $renewedIdx)"))))
                  pos = renewedIdx
                  iterator = Some(renewed)
              }
            }
            sink.emit(ProcessingEvent(System.currentTimeMillis(), p.shardId,
              ProcessingEventType.Iterator(IteratorEventType.Renewed, None)))
            None // loop re-evaluates with the re-anchored position
        }
      resultOpt.foreach { result =>
        buffer.enqueueAll(result.records)
        pos += result.records.length
        result.records.lastOption.foreach(r => lastSeq = Some(r.sequenceNumber))
        iterator = result.nextIterator // None + empty = O9 end-of-shard, loop exits
      }
    }
    if (buffer.isEmpty) false
    else { current = buffer.dequeue(); true }
  }

  /** O7 renewal: exact index resume by default; the reference's fallback
    * ladder behind the flag. Each rung that fails falls through to the
    * next, exactly like `get_checkpointed_iterator` → `get_latest_iterator`
    * → TrimHorizon in the reference. */
  private def renewIterator(): String =
    if (!p.expiryFallbackLadder)
      client.iteratorAtIndex(p.streamName, p.shardId, pos)
    else {
      val fromCkpt = p.checkpointStoreKey.flatMap { k =>
        try graft.core.CheckpointStoreRegistry.get(k)
          .flatMap(_.getCheckpoint(p.shardId))
          .map(seq => client.getShardIterator(p.streamName, p.shardId,
            ShardIteratorType.AfterSequenceNumber(seq)))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      def fromLastSeq = lastSeq.flatMap { seq =>
        try Some(client.getShardIterator(p.streamName, p.shardId,
          ShardIteratorType.AfterSequenceNumber(seq)))
        catch { case scala.util.control.NonFatal(_) => None }
      }
      fromCkpt.orElse(fromLastSeq).getOrElse(
        client.getShardIterator(p.streamName, p.shardId, ShardIteratorType.TrimHorizon))
    }

  /** The current record as the client returned it. */
  def record: KRecord = current

  override def get(): InternalRow = {
    val r = current
    new GenericInternalRow(Array[Any](
      UTF8String.fromString(r.sequenceNumber),
      UTF8String.fromString(r.partitionKey),
      r.data,
      r.approximateArrivalTimestamp.fold(null: Any)(t => t.getTime * 1000L),
      if (r.shardId == p.shardId) shardIdUtf8 else UTF8String.fromString(r.shardId),
      r.explicitHashKey.fold(null: Any)(UTF8String.fromString)))
  }

  override def close(): Unit = ()
}

/** A micro-batch's planned shard ranges read as the client's [[KRecord]]s:
  * one partition per [[GraftInputPartition]], each draining a
  * [[GraftPartitionReader]] (same client resolution ladder, O7 renewal and
  * events as the row source) through `record`, so no Spark row is built.
  * Each record read is added to `recordsRead`: the engine passes the
  * micro-batch scan's `numOutputRows`, which Spark's progress reports as
  * `numInputRows`. */
final class ShardRangeRDD(
    sc: SparkContext,
    // driver-side only: each task gets its own range through its partition
    @transient private val ranges: Seq[GraftInputPartition],
    recordsRead: AccumulatorV2[Long, Long]
) extends RDD[KRecord](sc, Nil) {

  override protected def getPartitions: Array[Partition] =
    ranges.iterator.zipWithIndex.map { case (r, i) => ShardRangePartition(i, r): Partition }.toArray

  override def compute(split: Partition, context: TaskContext): Iterator[KRecord] = {
    val reader = new GraftPartitionReader(split.asInstanceOf[ShardRangePartition].range)
    context.addTaskCompletionListener[Unit](_ => reader.close())
    Iterator.continually(reader.next()).takeWhile(identity).map { _ =>
      recordsRead.add(1L)
      reader.record
    }
  }
}

private final case class ShardRangePartition(index: Int, range: GraftInputPartition)
    extends Partition
