package graft.monitoring

/** Monitoring event ADT — one-to-one with the reference's
  * `ProcessingEventType` (11 variants, `src/monitoring/types.rs:40-123`)
  * plus the shard/iterator sub-enums (`types.rs:103-123`).
  *
  * Events are plain case classes so they can cross executor→driver as a
  * `Dataset[ProcessingEvent]`, be collected by a listener bus, or be folded
  * by [[MetricsAggregator]]. Timestamps are epoch millis (the reference's
  * `SystemTime`).
  */
final case class ProcessingEvent(
    timestampMs: Long,
    shardId: String,
    eventType: ProcessingEventType
)

sealed trait ProcessingEventType extends Serializable

object ProcessingEventType {
  /** One processing attempt of one record (`types.rs:53-60`). */
  final case class RecordAttempt(
      sequenceNumber: String,
      success: Boolean,
      attemptNumber: Int,
      durationMs: Long,
      error: Option[String],
      isFinalAttempt: Boolean
  ) extends ProcessingEventType

  final case class BatchStart(timestampMs: Long) extends ProcessingEventType

  final case class BatchMetrics(metrics: BatchMetricsSnapshot) extends ProcessingEventType

  final case class BatchError(error: String, durationMs: Long) extends ProcessingEventType

  final case class BatchComplete(
      successfulCount: Long,
      failedCount: Long,
      durationMs: Long
  ) extends ProcessingEventType

  final case class RecordSuccess(sequenceNumber: String, checkpointSuccess: Boolean)
      extends ProcessingEventType

  final case class RecordFailure(sequenceNumber: String, error: String)
      extends ProcessingEventType

  final case class CheckpointFailure(sequenceNumber: String, error: String)
      extends ProcessingEventType

  final case class ShardEvent(eventType: ShardEventType, details: Option[String])
      extends ProcessingEventType

  final case class Iterator(eventType: IteratorEventType, error: Option[String])
      extends ProcessingEventType

  final case class Checkpoint(sequenceNumber: String, success: Boolean, error: Option[String])
      extends ProcessingEventType
}

/** `types.rs:103-112`. */
sealed trait ShardEventType extends Serializable
object ShardEventType {
  case object Started extends ShardEventType
  case object Completed extends ShardEventType
  case object Error extends ShardEventType
  case object Interrupted extends ShardEventType
}

/** `types.rs:115-123`. */
sealed trait IteratorEventType extends Serializable
object IteratorEventType {
  case object Initial extends IteratorEventType
  case object Expired extends IteratorEventType
  case object Renewed extends IteratorEventType
  case object Updated extends IteratorEventType
  case object Failed extends IteratorEventType
}

/** Per-batch metric payload (reference `monitoring/types.rs` BatchMetrics). */
final case class BatchMetricsSnapshot(
    recordCount: Long,
    successfulCount: Long,
    failedCount: Long,
    durationMs: Long
)

/** Non-blocking event sink (M3): the reference emits into a bounded mpsc
  * channel and drops-with-warn on overflow, never blocking processing
  * (`src/processor.rs:456-465`). Implementations must preserve that:
  * `emit` must be cheap and non-throwing. */
trait EventSink extends Serializable {
  def emit(event: ProcessingEvent): Unit
}

object EventSink {
  /** Monitoring disabled (the reference default, `types.rs:20`). */
  object Noop extends EventSink {
    override def emit(event: ProcessingEvent): Unit = ()
  }

  /** A sink that serializes as a plain id and resolves to a JVM-local
    * [[Bounded]] queue on use. Spark serializes task closures even in
    * local mode, so a directly-captured queue would be a disconnected copy;
    * this is the standard local-mode collection pattern (same trick as
    * Spark's own in-memory sinks). On a real cluster the events stay
    * executor-local — the cluster path for metrics is the Dataset-based
    * aggregation in [[MetricsAggregator]].
    *
    * `emit` looks the id up in the registry on every call. Hot paths resolve
    * the handle once instead, with [[EventSink.resolve]]: the engine does so
    * once per partition in `RecordProcessing.processPartition` and once per source
    * reader, so a sink registered or unregistered while a partition runs
    * takes effect from the next partition on. */
  final case class Registered(id: String) extends EventSink {
    override def emit(event: ProcessingEvent): Unit =
      Option(EventSink.registry.get(id)).foreach(_.emit(event))
  }

  /** The sink `sink` stands for in this JVM, looked up now: a [[Registered]]
    * handle becomes its registered target, or [[Noop]] when nothing is
    * registered under its id; any other sink is returned as it is. */
  def resolve(sink: EventSink): EventSink = sink match {
    case Registered(id) => Option(registry.get(id)).getOrElse(Noop)
    case other => other
  }

  private val registry = new java.util.concurrent.ConcurrentHashMap[String, EventSink]()

  /** Create + register a JVM-local bounded queue; returns the serializable
    * handle and the local queue. */
  def registered(id: String, capacity: Int = 1000): (Registered, Bounded) = {
    val b = new Bounded(capacity)
    registry.put(id, b)
    (Registered(id), b)
  }

  /** Register an arbitrary sink under an id (serializable handle = Registered(id)). */
  def register(id: String, sink: EventSink): Registered = {
    registry.put(id, sink)
    Registered(id)
  }

  def unregister(id: String): Unit = { registry.remove(id); () }

  /** Bounded in-memory sink mirroring the mpsc channel: capacity-bounded,
    * drop-newest-with-count on overflow (`processor.rs:456-465`). Used by
    * tests and the local metrics aggregator. Thread-safe.
    *
    * Lock-free (r11): `emit` sits on the record hot path — with 32 task
    * threads a lock-based queue serializes the whole engine on its put
    * lock (measured: the s19 gate spent more time in the sink than in
    * record processing). A CAS-reserve on the size counter plus a
    * `ConcurrentLinkedQueue` keeps emission non-blocking and the bound
    * exact for the drop accounting that matters (an in-flight emitter can
    * momentarily hold a reservation, never more than #threads above the
    * cap — the same slack a real mpsc's buffered senders have). */
  final class Bounded(capacity: Int = 1000) extends EventSink {
    private val queue = new java.util.concurrent.ConcurrentLinkedQueue[ProcessingEvent]()
    private val n = new java.util.concurrent.atomic.AtomicLong(0)
    private val droppedCount = new java.util.concurrent.atomic.AtomicLong(0)
    override def emit(event: ProcessingEvent): Unit =
      if (n.incrementAndGet() <= capacity) { queue.add(event); () }
      else { n.decrementAndGet(); droppedCount.incrementAndGet(); () }
    def dropped: Long = droppedCount.get()
    def drain(): Vector[ProcessingEvent] = {
      val buf = Vector.newBuilder[ProcessingEvent]
      var e = queue.poll()
      while (e != null) { buf += e; n.decrementAndGet(); e = queue.poll() }
      buf.result()
    }
    def size: Int = math.max(0L, math.min(n.get(), Int.MaxValue.toLong)).toInt
  }
}
