package graft.core

import scala.collection.concurrent.TrieMap

/** App-level checkpoint store: `shard_id → last processed sequence number`.
  * Reference: `src/store/mod.rs:13-20`.
  *
  * Two checkpoint layers exist by design (SURVEY §1.1): Structured Streaming's
  * offset/commit log is the *engine* checkpoint (restart-exactly-once of
  * engine state); this trait is the *application* checkpoint written from
  * `foreachBatch`, the analog of the reference's DynamoDB store.
  * Semantics are deliberately last-writer-wins with no conditional writes,
  * matching the reference (`src/store/dynamodb.rs` — no optimistic locking).
  */
trait CheckpointStore extends Serializable {
  def getCheckpoint(shardId: String): Option[String]
  def saveCheckpoint(shardId: String, sequenceNumber: String): Unit
}

/** In-memory store — a concurrent map, mirroring the reference's
  * `HashMap` behind `Arc<RwLock>` (`src/store/memory.rs:8-67`). */
final class InMemoryCheckpointStore extends CheckpointStore {
  private val map = TrieMap.empty[String, String]
  override def getCheckpoint(shardId: String): Option[String] = map.get(shardId)
  override def saveCheckpoint(shardId: String, sequenceNumber: String): Unit =
    map.put(shardId, sequenceNumber): Unit
  def all: Map[String, String] = map.toMap
}

/** A store decorator replicating the reference DynamoDB store's retry
  * contract (`src/store/dynamodb.rs:137-186`):
  *   - `maxRetries = None` (default) → save retries FOREVER with backoff —
  *     checkpoint durability beats liveness;
  *   - bounded retries → exhaustion SURFACES as [[CheckpointError]], like
  *     the reference store returning the error after bounded retries
  *     (reference lines 173-182), so a checkpoint is never silently skipped.
  * Reads use the same retry policy and always surface their error (a failed
  * initial read is fatal in the reference, `src/processor.rs:765-791`).
  */
final class RetryingCheckpointStore(
    underlying: CheckpointStore,
    config: RetryConfig = RetryConfig()
) extends CheckpointStore {

  override def getCheckpoint(shardId: String): Option[String] =
    RetryHandle.retry(config)(_ => underlying.getCheckpoint(shardId)) match {
      case Right(v) => v
      case Left(e)  => throw CheckpointError(s"get_checkpoint($shardId) failed", e)
    }

  override def saveCheckpoint(shardId: String, sequenceNumber: String): Unit =
    RetryHandle.retry(config)(_ => underlying.saveCheckpoint(shardId, sequenceNumber)) match {
      case Right(_) => ()
      case Left(e) =>
        throw CheckpointError(s"save_checkpoint($shardId) failed after bounded retries", e)
    }
}

/** JVM-local registry so a store instance can be referenced from DSv2
  * string options (the source's O6 checkpoint-wins rule needs a store at
  * planning time). Same pattern as SourceClientRegistry. */
object CheckpointStoreRegistry {
  private val stores = new java.util.concurrent.ConcurrentHashMap[String, CheckpointStore]()
  def register(key: String, store: CheckpointStore): Unit = { stores.put(key, store); () }
  def get(key: String): Option[CheckpointStore] = Option(stores.get(key))
  def unregister(key: String): Unit = { stores.remove(key); () }
}

/** Durable file-backed store: one tiny key=value file per shard under `dir`,
  * written atomically (tmp + move). Stands in for the reference's DynamoDB
  * table (one item per shard, `src/store/dynamodb.rs:74-77`) in this offline
  * environment; on a real cluster the same trait is backed by DynamoDB/JDBC/
  * Delta. One file per shard keeps writers contention-free across executors —
  * the same "one logical row per shard" layout the reference uses.
  */
final class FileCheckpointStore(dir: String, keyPrefix: String = "") extends CheckpointStore {
  import java.nio.file.{Files, Paths, StandardCopyOption}
  private def path(shardId: String) = Paths.get(dir, s"$keyPrefix$shardId.ckpt")

  override def getCheckpoint(shardId: String): Option[String] = {
    val p = path(shardId)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), "UTF-8").trim) else None
  }

  override def saveCheckpoint(shardId: String, sequenceNumber: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    // Unique tmp per write: concurrent writers for the same shard (task
    // retry / speculation) must not race on one tmp name.
    val tmp = Paths.get(dir,
      s".$keyPrefix$shardId.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp, sequenceNumber.getBytes("UTF-8"))
    Files.move(tmp, path(shardId), StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE): Unit
  }
}
