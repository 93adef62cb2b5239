package graft.engine

import org.apache.spark.sql.functions._

import graft.core._
import graft.processor.RecordProcessor

/** The spawned DRIVER process for DriverCrashSpec (VERDICT r10 #2): runs
  * the engine slice against a durable [[FileCheckpointStore]] and, in
  * `crash` mode, `Runtime.halt(137)`s the driver JVM INSIDE the K4 commit
  * window — after the epoch's items landed in both sinks, after SOME
  * shards' checkpoints persisted, before the rest — the exact
  * at-least-once window the reference defines between sink write and
  * `save_checkpoint` (`/root/reference/src/processor.rs:1561-1629`).
  * `resume` mode restarts against the same store (fresh streaming
  * checkpoint: the driver's scratch disk is gone; the app store is the
  * durable plane) and must re-deliver exactly the uncommitted range.
  *
  * Two sinks, deliberately contrasting:
  *   - a RAW per-run append log (`deliveries/run<k>`) records every
  *     delivered (shard, seq) — at-least-once, so the replayed window
  *     shows up as duplicates across runs;
  *   - the [[graft.analytics.KeyedMerge]] table keyed by (shard, seq) —
  *     the idempotent sink, where the replay must be a no-op.
  */
object DriverCrashMain {

  /** Halts the JVM on the Nth saveCheckpoint BEFORE it persists. Saves
    * run driver-side in deterministic shardId order (GraftProcessor's
    * commit loop sorts), so the crash point is exactly reproducible. */
  final class HaltingStore(inner: CheckpointStore, haltAtSave: Int)
      extends CheckpointStore {
    private val n = new java.util.concurrent.atomic.AtomicInteger()
    override def getCheckpoint(shardId: String): Option[String] =
      inner.getCheckpoint(shardId)
    override def saveCheckpoint(shardId: String, sequenceNumber: String): Unit = {
      if (n.incrementAndGet() == haltAtSave) Runtime.getRuntime.halt(137)
      inner.saveCheckpoint(shardId, sequenceNumber)
    }
  }

  /** Decode that carries (shard, seq) through — the keyed-sink identity. */
  final class TripleDecode extends RecordProcessor[(String, String, String)] {
    override def processRecord(r: KRecord, m: RecordMetadata) = {
      val payload = r.dataUtf8
      val sep = payload.indexOf('|')
      if (sep <= 0) Left(ProcessingError.HardFailure(s"malformed: $payload"))
      else Right(Some((r.shardId, r.sequenceNumber, payload.substring(0, sep))))
    }
  }

  val Shards = 4
  val PerShard = 60
  val BatchSize = 10
  /** epochs 1–2 fully committed (8 saves), epoch 3: shard-0 committed
    * (save 9), halt on save 10 — shards 1–3 left at the epoch-2 sequence
    * with epoch-3 items already in the sinks. */
  val HaltAtSave = 10

  def mkShards(): Map[String, IndexedSeq[KRecord]] =
    (0 until Shards).map { s =>
      s"shard-$s" -> (0 until PerShard).map { i =>
        KRecord(f"$i%010d", s"pk-$i", s"type-${i % 5}|$i".getBytes("UTF-8"),
          None, s"shard-$s")
      }
    }.toMap

  def main(args: Array[String]): Unit = {
    val mode = args(0) // "crash" | "resume"
    val work = args(1)
    val spark = graft.GraftSession.builder("local[4]", 4)
      .appName(s"graft-driver-crash-$mode")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sess = spark
    import sess.implicits._

    val durable = new FileCheckpointStore(s"$work/store")
    val store: CheckpointStore =
      if (mode == "crash") new HaltingStore(durable, HaltAtSave) else durable
    val runId = if (mode == "crash") 1 else 2
    val rawDir = s"$work/deliveries/run$runId"
    val tableDir = s"$work/table"

    val gp = new GraftProcessor[(String, String, String)](
      // one retrieval loop per epoch → exactly BatchSize records/shard
      // per micro-batch → 6 epochs, 24 checkpoint saves
      ProcessorConfig("crash-window", batchSize = BatchSize,
        maxBatchRetrievalLoops = Some(1)),
      new TripleDecode,
      new graft.sources.InMemorySourceClient(mkShards()),
      store,
      onItems = (ds, bid) => {
        val df = ds.toDF("shard", "seq", "etype")
        df.write.mode("append").parquet(rawDir)
        graft.analytics.KeyedMerge.applyChanges(tableDir,
          df.withColumn(graft.analytics.KeyedMerge.OpCol, lit("u")),
          keyCols = Seq("shard", "seq"), seqCols = Seq("seq"), numBuckets = 8)
        System.err.println(s"[crashmain] run$runId batch $bid in=${df.count()} " +
          s"table=${spark.read.parquet(tableDir).count()}")
      })

    gp.run(spark, s"$work/stream-ckpt-run$runId") match {
      case Right(()) => spark.stop(); sys.exit(0)
      case Left(e) => System.err.println(s"engine error: $e"); sys.exit(3)
    }
  }
}
