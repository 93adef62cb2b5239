package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import graft.core._

/** A shard descriptor (reference `Shard` — only the id is consumed,
  * `src/processor.rs:687`). */
final case class ShardInfo(shardId: String)

/** One getRecords poll result: the records plus the next cursor; `None`
  * next-iterator with empty records = end of shard (O9,
  * `src/processor.rs:1034-1048`). */
final case class GetRecordsResult(records: Seq[KRecord], nextIterator: Option[String])

/** Client-level failures, mirroring `KinesisClientError`
  * (`/root/reference/src/client.rs:12-33`). */
sealed abstract class SourceClientError(msg: String) extends Exception(msg)
object SourceClientError {
  final case class ExpiredIterator(iterator: String)
      extends SourceClientError(s"iterator expired: $iterator")
  final case class Throttled(msg: String) extends SourceClientError(s"throughput exceeded: $msg")
  final case class AccessDenied(msg: String) extends SourceClientError(s"access denied: $msg")
  final case class Other(msg: String) extends SourceClientError(msg)
}

/** S1–S3 — the source abstraction, a synchronous mirror of the reference's
  * `KinesisClientTrait` (`/root/reference/src/client.rs:41-65`). The real
  * AWS implementation is a thin adapter over the SDK (not constructible in
  * this offline environment); the in-memory and scripted implementations
  * below power deterministic tests and the offline parquet-backed stream,
  * exactly like the reference's own mock-driven test strategy
  * (`src/test/mocks.rs:26-174`).
  */
trait SourceClient extends Serializable {
  def listShards(streamName: String): Seq[ShardInfo]
  def getShardIterator(streamName: String, shardId: String, iteratorType: ShardIteratorType): String
  /** May throw [[SourceClientError]] subtypes. */
  def getRecords(iterator: String, limit: Int): GetRecordsResult
}

/** R4 — client-internal throttle retry (`/root/reference/src/client.rs:195-229`):
  * Throttled → retry ≤ maxRetries with `100ms · 2^(n-1)` delay;
  * ExpiredIterator / AccessDenied → fail fast (the caller owns iterator
  * renewal, O7). */
class ThrottleRetryingClient(
    underlying: SourceClient,
    maxRetries: Int = 3,
    sleep: Long => Unit = Thread.sleep
) extends SourceClient {
  override def listShards(streamName: String): Seq[ShardInfo] = underlying.listShards(streamName)
  override def getShardIterator(streamName: String, shardId: String, it: ShardIteratorType): String =
    underlying.getShardIterator(streamName, shardId, it)
  override def getRecords(iterator: String, limit: Int): GetRecordsResult = {
    var retry = 0
    while (true) {
      try return underlying.getRecords(iterator, limit)
      catch {
        case e: SourceClientError.ExpiredIterator => throw e
        case e: SourceClientError.AccessDenied => throw e
        case e: SourceClientError =>
          if (retry >= maxRetries) throw e
          retry += 1
          sleep(100L * (1L << (retry - 1)))
      }
    }
    sys.error("unreachable")
  }
}

/** A [[SourceClient]] whose shards are randomly addressable by record
  * index. The micro-batch planner needs this to define exactly-replayable
  * offset ranges (start/end indices) at planning time — stronger than real
  * Kinesis semantics (where offsets are opaque sequence numbers and
  * admission is approximate), and the right contract for a file/parquet-
  * backed stream at scale. A real Kinesis adapter would instead implement
  * sequence-number offsets with best-effort admission; the reference itself
  * has no planning layer (its S4 loop just polls until empty,
  * `src/processor.rs:997-1213`). */
trait IndexedSourceClient extends SourceClient {
  def shardLength(streamName: String, shardId: String): Long
  def iteratorAtIndex(streamName: String, shardId: String, index: Long): String
  /** Absolute record index a cursor points at — the inverse of
    * [[iteratorAtIndex]]; lets the reader re-anchor its position after an
    * O7 fallback renewal (which may land BEHIND the planned range → bounded
    * at-least-once replay, never loss). */
  def indexOfIterator(streamName: String, shardId: String, iterator: String): Long
  /** A planned range's records for embedding in the `InputPartition`, or
    * None when the client is reachable per-JVM (the normal service-backed
    * case — executors pull their own slices). In-memory/scripted clients
    * override: they are DRIVER-resident, so on a multi-JVM master the
    * planner ships each range through task serialization instead (bounded
    * per task by the S4 admission cap). Decorators must delegate. */
  def embeddableRecords(streamName: String, shardId: String,
      start: Long, end: Long): Option[IndexedSeq[KRecord]] = None
}

/** A client any JVM can reconstruct from string config — the real-cluster
  * deployment shape (r10). The engine forwards the spec as
  * `clientFactory`/`clientconf.*` DSv2 options, so executor-side readers
  * construct their own instance per JVM (memoized in
  * [[SourceClientFactory]]) instead of needing the driver-JVM registry or
  * embedded record slices. */
trait FactoryConstructible { this: SourceClient =>
  /** (factory FQCN, conf map) — `new factory().build(conf)` must yield an
    * equivalent client in any JVM. */
  def factorySpec: (String, Map[String, String])
}

/** [[ThrottleRetryingClient]] that preserves the indexed contract (the
  * micro-batch source requires it). */
final class IndexedThrottleRetryingClient(
    underlying: IndexedSourceClient,
    maxRetries: Int = 3
) extends ThrottleRetryingClient(underlying, maxRetries) with IndexedSourceClient {
  override def shardLength(streamName: String, shardId: String): Long =
    underlying.shardLength(streamName, shardId)
  override def iteratorAtIndex(streamName: String, shardId: String, index: Long): String =
    underlying.iteratorAtIndex(streamName, shardId, index)
  override def indexOfIterator(streamName: String, shardId: String, iterator: String): Long =
    underlying.indexOfIterator(streamName, shardId, iterator)
  override def embeddableRecords(streamName: String, shardId: String,
      start: Long, end: Long): Option[IndexedSeq[KRecord]] =
    underlying.embeddableRecords(streamName, shardId, start, end)
}

/** Reshard-simulation decorator (r10, VERDICT r9 #6 — the gate-facing
  * analog of `tests/test_suite2.rs:53-114`): only the first
  * `visibleInitially` shards appear in the first `revealAfterListCalls`
  * shard listings; afterwards the full list is exposed — a shard split
  * opening child shards WHILE parent records are in flight. Listing state
  * is driver-side (listShards is only called at planning); record reads
  * delegate untouched, so executor-side paging is unaffected. */
final class RevealingClient(
    underlying: IndexedSourceClient,
    visibleInitially: Int,
    revealAfterListCalls: Int
) extends IndexedSourceClient {
  private val listCalls = new AtomicInteger(0)

  override def listShards(streamName: String): Seq[ShardInfo] = {
    val all = underlying.listShards(streamName)
    if (listCalls.incrementAndGet() <= revealAfterListCalls) all.take(visibleInitially)
    else all
  }
  override def getShardIterator(streamName: String, shardId: String,
      it: ShardIteratorType): String =
    underlying.getShardIterator(streamName, shardId, it)
  override def getRecords(iterator: String, limit: Int): GetRecordsResult =
    underlying.getRecords(iterator, limit)
  override def shardLength(streamName: String, shardId: String): Long =
    underlying.shardLength(streamName, shardId)
  override def iteratorAtIndex(streamName: String, shardId: String, index: Long): String =
    underlying.iteratorAtIndex(streamName, shardId, index)
  override def indexOfIterator(streamName: String, shardId: String, iterator: String): Long =
    underlying.indexOfIterator(streamName, shardId, iterator)
  override def embeddableRecords(streamName: String, shardId: String,
      start: Long, end: Long): Option[IndexedSeq[KRecord]] =
    underlying.embeddableRecords(streamName, shardId, start, end)
}

/** Deterministic in-memory sharded stream: `shardId → ordered records`.
  * Iterators are `"{shardId}#{index}"` cursors. This is the offline stand-in
  * for a real stream service, used by the custom micro-batch source; at
  * production scale the same trait fronts the network client, and record
  * data never flows through the driver (readers pull shard slices directly).
  */
class InMemorySourceClient(
    val shards: Map[String, IndexedSeq[KRecord]]
) extends IndexedSourceClient {

  private def recs(shardId: String): IndexedSeq[KRecord] =
    shards.getOrElse(shardId, throw SourceClientError.Other(s"unknown shard $shardId"))

  override def shardLength(streamName: String, shardId: String): Long =
    shards.get(shardId).fold(0L)(_.length.toLong)

  override def iteratorAtIndex(streamName: String, shardId: String, index: Long): String =
    ShardCursor(shardId, index)

  override def indexOfIterator(streamName: String, shardId: String, iterator: String): Long =
    ShardCursor.indexOf(iterator)

  override def embeddableRecords(streamName: String, shardId: String,
      start: Long, end: Long): Option[IndexedSeq[KRecord]] =
    Some(shards.getOrElse(shardId, IndexedSeq.empty).slice(start.toInt, end.toInt))

  override def listShards(streamName: String): Seq[ShardInfo] =
    shards.keys.toSeq.sorted.map(ShardInfo)

  override def getShardIterator(streamName: String, shardId: String,
      iteratorType: ShardIteratorType): String = {
    val rs = recs(shardId)
    ShardCursor(shardId, ShardCursor.seek(iteratorType, rs, rs.length.toLong))
  }

  override def getRecords(iterator: String, limit: Int): GetRecordsResult = {
    val shardId = ShardCursor.shardOf(iterator)
    ShardCursor.page(shardId, recs(shardId), 0L, ShardCursor.indexOf(iterator), limit)
  }
}

/** Scripted failure-injecting client for tests — the mirror of the
  * reference's `MockKinesisClient` (`/root/reference/src/test/mocks.rs:26-174`):
  * error scripts are consumed per call in FIFO order before the underlying
  * in-memory data serves the request. */
final class ScriptedSourceClient(
    shards: Map[String, IndexedSeq[KRecord]]
) extends InMemorySourceClient(shards) {

  private val getRecordsErrors = new ConcurrentLinkedQueue[SourceClientError]()
  private val listShardsScripts = new ConcurrentLinkedQueue[Seq[ShardInfo]]()
  private val getRecordsCalls = new AtomicInteger(0)

  def scriptGetRecordsError(e: SourceClientError): Unit = { getRecordsErrors.add(e); () }
  def scriptListShards(s: Seq[ShardInfo]): Unit = { listShardsScripts.add(s); () }
  def recordsCallCount: Int = getRecordsCalls.get()

  override def listShards(streamName: String): Seq[ShardInfo] =
    Option(listShardsScripts.poll()).getOrElse(super.listShards(streamName))

  override def getRecords(iterator: String, limit: Int): GetRecordsResult = {
    getRecordsCalls.incrementAndGet()
    Option(getRecordsErrors.poll()) match {
      case Some(e) => throw e
      case None => super.getRecords(iterator, limit)
    }
  }
}

/** JVM-local registry so a client instance can be referenced from DSv2
  * string options (`.option("client", key)`). Local-mode/test plumbing; a
  * cluster deployment constructs clients from options instead (class-name +
  * config), since DSv2 options only carry strings. */
object SourceClientRegistry {
  private val clients = new java.util.concurrent.ConcurrentHashMap[String, SourceClient]()
  def register(key: String, client: SourceClient): Unit = { clients.put(key, client); () }
  def get(key: String): SourceClient =
    Option(clients.get(key)).getOrElse(
      throw new IllegalArgumentException(s"no SourceClient registered under '$key'"))
  def getOption(key: String): Option[SourceClient] = Option(clients.get(key))
  def unregister(key: String): Unit = { clients.remove(key); () }
}

/** Executor-side view of ONE planned range of ONE shard, backing the
  * multi-JVM read path (see `GraftInputPartition.embedded`): the driver
  * plans the range against the registry-resident client and ships the
  * slice in the partition; a separate-JVM executor reconstructs an
  * [[IndexedSourceClient]] over it so the reader's paging / renewal /
  * event logic runs UNCHANGED. Cursors keep the global `shard#index`
  * form — `base` is the slice's absolute start index, so iterator
  * arithmetic matches the driver-side client exactly. */
final class SliceBackedClient(shardId: String, base: Long, recs: IndexedSeq[KRecord])
    extends IndexedSourceClient {

  override def listShards(streamName: String): Seq[ShardInfo] = Seq(ShardInfo(shardId))
  override def shardLength(streamName: String, shardId: String): Long = base + recs.length
  override def iteratorAtIndex(streamName: String, shardId: String, index: Long): String = {
    if (index < base || index > base + recs.length)
      throw SourceClientError.Other(
        s"index $index outside embedded range [$base, ${base + recs.length}] of $shardId")
    ShardCursor(shardId, index)
  }
  override def indexOfIterator(streamName: String, shardId: String, iterator: String): Long =
    ShardCursor.indexOf(iterator)

  /** O7 ladder rungs resolve within the slice; a sequence before/after the
    * range anchors at its edges (the reader clamps to its own cursor). */
  override def getShardIterator(streamName: String, sid: String,
      iteratorType: ShardIteratorType): String =
    ShardCursor(shardId, base + ShardCursor.seek(iteratorType, recs, recs.length.toLong))

  override def getRecords(iterator: String, limit: Int): GetRecordsResult =
    ShardCursor.page(shardId, recs, base, ShardCursor.indexOf(iterator), limit)
}

/** The one owner of the `shard#index` cursor format every indexed client
  * in this package speaks, of the [[ShardIteratorType]] → record-index
  * seek, and of the paged `getRecords` slice. */
private[sources] object ShardCursor {

  def apply(shardId: String, index: Long): String = s"$shardId#$index"

  def shardOf(cursor: String): String = cursor.substring(0, cursor.lastIndexOf('#'))

  def indexOf(cursor: String): Long = cursor.substring(cursor.lastIndexOf('#') + 1).toLong

  /** Index within `recs` that `iteratorType` points at. `length` answers
    * Latest (a client may know it without loading the records); a position
    * past every record is end-of-shard, never TrimHorizon, which would
    * replay the whole shard. The match is a linear first match: shards are
    * ordered by arrival, so sequence numbers need not be monotone. */
  def seek(iteratorType: ShardIteratorType, recs: => IndexedSeq[KRecord],
      length: => Long): Long = {
    lazy val rs = recs
    def orEnd(i: Int): Long = if (i < 0) rs.length.toLong else i.toLong
    iteratorType match {
      case ShardIteratorType.TrimHorizon => 0L
      case ShardIteratorType.Latest => length
      case ShardIteratorType.AtSequenceNumber(seq) =>
        orEnd(rs.indexWhere(_.sequenceNumber >= seq))
      case ShardIteratorType.AfterSequenceNumber(seq) =>
        orEnd(rs.indexWhere(_.sequenceNumber > seq))
      case ShardIteratorType.AtTimestamp(ts) =>
        val millis = ts.toEpochMilli
        orEnd(rs.indexWhere(_.approximateArrivalTimestamp.exists(_.getTime >= millis)))
    }
  }

  /** One page of at most `limit` records from absolute `index`, where
    * `recs(0)` is the record at absolute index `base`; the next cursor is
    * None at the end of `recs`. An index past Int range fails loudly
    * instead of wrapping the slice. */
  def page(shardId: String, recs: IndexedSeq[KRecord], base: Long, index: Long,
      limit: Int): GetRecordsResult = {
    val from = index - base
    val slice = recs.slice(math.toIntExact(from),
      math.toIntExact(math.min(from + limit, recs.length.toLong)))
    val next = from + slice.length
    GetRecordsResult(slice,
      if (next >= recs.length) None else Some(apply(shardId, base + next)))
  }
}
