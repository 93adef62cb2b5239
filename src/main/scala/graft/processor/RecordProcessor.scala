package graft.processor

import scala.annotation.unused

import graft.core._

/** T1 — the engine's single user extension point, mirroring the reference
  * trait (`/root/reference/src/processor.rs:133-176`).
  *
  * Contract per record (`processor.rs:106-119`):
  *   - `Right(Some(item))` → map: item is collected for the batch
  *   - `Right(None)`       → filter-out: success, nothing emitted
  *   - `Left(SoftFailure)` → retry the same record forever; each attempt is
  *     bounded only by the per-attempt processing timeout, and
  *     `metadata.attemptNumber` increments per retry (starts at 0 — pinned
  *     by the reference's own test, `processor.rs:2205`)
  *   - `Left(HardFailure)` → record is dead-lettered; the batch continues
  *     and the checkpoint ADVANCES PAST the failed record (§3.2 — failed
  *     sequence numbers are never re-delivered)
  *
  * The reference is async (tokio); here the callback runs synchronously on
  * the partition's processing thread — Spark's per-partition iterator is the
  * ordering boundary exactly like the reference's per-shard task.
  *
  * Under [[graft.engine.GraftProcessor]] `record` is the object the source
  * client returned, `data` array included: treat it as read-only, since a
  * change would reach the client's copy and any replay of the record.
  */
trait RecordProcessor[T] extends Serializable {

  def processRecord(
      record: KRecord,
      metadata: RecordMetadata): Either[ProcessingError, Option[T]]

  /** T2 — pre-checkpoint validation hook over the batch's produced items
    * (`processor.rs:169-175`). Default no-op. Soft error → the commit
    * harness re-validates forever; Hard error → the shard's checkpoint is
    * NOT saved and the micro-batch fails, so its records are re-delivered
    * (`processor.rs:1561-1606`; see [[graft.engine.GraftProcessor]]). */
  def beforeCheckpoint(
      @unused items: Seq[T],
      @unused metadata: CheckpointMetadata): Either[BeforeCheckpointError, Unit] = Right(())
}
