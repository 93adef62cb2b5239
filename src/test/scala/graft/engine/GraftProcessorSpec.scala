package graft.engine

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.core._
import graft.monitoring.{EventSink, MetricsAggregator, ProcessingEvent, QueryListenerBridge,
  ShardEventType, TestMonitoringHarness}
import graft.monitoring.ProcessingEventType.ShardEvent
import graft.processor.RecordProcessor
import graft.sources.{GraftOffset, InMemorySourceClient}

/** Orchestration + commit path, mirroring:
  * checkpoint recovery resume (`tests/test_suite2.rs:117-168`),
  * graceful shutdown (`test_suite2.rs:276-332`),
  * total timeout (`src/processor.rs:2515-2614`),
  * before_checkpoint soft/hard behavior (`test_suite3.rs:333`),
  * checkpoint retry (`test_suite3.rs:429`). */
class GraftProcessorSpec extends AnyFunSuite with Matchers with SparkSpec {
  import GraftProcessorSpec._

  private def mkShards(n: Int, per: Int): Map[String, IndexedSeq[KRecord]] =
    (0 until n).map { s =>
      s"shard-$s" -> (0 until per).map(i =>
        KRecord(f"$i%010d", s"pk-$i", s"payload-$s-$i".getBytes("UTF-8"), None, s"shard-$s"))
    }.toMap

  private def tmp(): String = Files.createTempDirectory("graft-engine").toString

  /** Like [[newProcessor]] but runs against a CALLER-owned engine
    * checkpoint dir (restart-semantics tests). */
  private def newProcessorAt(
      proc: RecordProcessor[String],
      store: CheckpointStore,
      shards: Map[String, IndexedSeq[KRecord]],
      ckptDir: String): Either[ProcessorError, Unit] = {
    val s = spark; import s.implicits._
    collected.clear()
    new GraftProcessor[String](ProcessorConfig("t"), proc,
      new InMemorySourceClient(shards), store,
      onItems = (ds, _) => { collected.addAll(java.util.Arrays.asList(ds.collect(): _*)); () })
      .run(spark, ckptDir)
  }

  private def newProcessor(
      proc: RecordProcessor[String],
      store: CheckpointStore,
      shards: Map[String, IndexedSeq[KRecord]],
      config: ProcessorConfig = ProcessorConfig("t")) = {
    val s = spark; import s.implicits._
    collected.clear()
    new GraftProcessor[String](config, proc, new InMemorySourceClient(shards), store,
      onItems = (ds, _) => { collected.addAll(java.util.Arrays.asList(ds.collect(): _*)); () })
  }

  test("end-to-end slice: ingest → process → commit; items and checkpoints correct") {
    val store = new InMemoryCheckpointStore
    val gp = newProcessor(new Echo, store, mkShards(2, 100))
    gp.run(spark, tmp()) shouldBe Right(())
    collected.size() shouldBe 200
    store.all shouldBe Map("shard-0" -> "0000000099", "shard-1" -> "0000000099")
  }

  test("hard failures dead-letter; checkpoint advances past them (§3.2)") {
    val store = new InMemoryCheckpointStore
    val gp = newProcessor(new HardOn50, store, mkShards(1, 100))
    gp.run(spark, tmp()) shouldBe Right(())
    collected.size() shouldBe 99
    store.all("shard-0") shouldBe "0000000099" // past the failed 0000000050
  }

  test("engine and listener bridge on one aggregator: the '*' row holds the engine's own counts") {
    val s = spark; import s.implicits._
    val agg = new MetricsAggregator()
    // the bridge feeds the aggregator too; `seen` tells when the bridge has
    // had this query's termination, its last event
    val seen = new TestMonitoringHarness
    val bridge = new QueryListenerBridge(new EventSink {
      override def emit(e: ProcessingEvent): Unit = { agg.emit(e); seen.emit(e) }
    })
    def terminated = seen.events.map(_.eventType).dropWhile {
      case ShardEvent(ShardEventType.Started, Some(name)) => !name.startsWith("graft-bridged#")
      case _ => true
    }.contains(ShardEvent(ShardEventType.Completed, None))
    spark.streams.addListener(bridge)
    try {
      new GraftProcessor[String](ProcessorConfig("bridged"), new HardOn50,
        new InMemorySourceClient(mkShards(1, 100)), new InMemoryCheckpointStore, sink = agg)
        .run(spark, tmp()) shouldBe Right(())
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (!terminated && System.nanoTime() < deadline) Thread.sleep(10)
      terminated shouldBe true
    } finally spark.streams.removeListener(bridge)
    val all = agg.snapshot("*")
    all.recordsProcessed shouldBe 99
    all.recordsFailed shouldBe 1
  }

  test("checkpoint recovery: restart with same app store resumes after stored sequence (test_suite2.rs:117-168)") {
    val store = new InMemoryCheckpointStore
    val shards = mkShards(1, 100)
    newProcessor(new Echo, store, shards).run(spark, tmp()) shouldBe Right(())
    collected.size() shouldBe 100
    // fresh engine checkpoint dir, same app store → O6 starts after stored seq
    newProcessor(new Echo, store, shards).run(spark, tmp()) shouldBe Right(())
    collected.size() shouldBe 0
  }

  test("before_checkpoint HardError: batch fails, checkpoint NOT saved (processor.rs:1594-1596)") {
    val store = new InMemoryCheckpointStore
    val gp = newProcessor(new HardValidator, store, mkShards(1, 10))
    // reference handle_checkpointing returns Err(CheckpointError) without
    // saving — the run surfaces an error and the store stays empty
    gp.run(spark, tmp()) should matchPattern { case Left(_) => }
    store.all.get("shard-0") shouldBe None
  }

  test("before_checkpoint SoftError: re-validated until success (test_suite3.rs:333)") {
    val store = new InMemoryCheckpointStore
    softValidatorCalls.set(0)
    val gp = newProcessor(new SoftValidator, store, mkShards(1, 10))
    gp.run(spark, tmp()) shouldBe Right(())
    softValidatorCalls.get() shouldBe 4 // 3 soft failures + 1 success
    store.all("shard-0") shouldBe "0000000009"
  }

  test("commit coverage: a consumer running NO action still commits every shard (ADVICE r4)") {
    val s = spark; import s.implicits._
    val store = new InMemoryCheckpointStore
    val gp = new GraftProcessor[String](ProcessorConfig("t"), new Echo,
      new InMemorySourceClient(mkShards(2, 50)), store,
      onItems = (_, _) => ()) // consumer never materializes the Dataset
    gp.run(spark, tmp()) shouldBe Right(())
    store.all shouldBe Map("shard-0" -> "0000000049", "shard-1" -> "0000000049")
  }

  test("commit coverage: a PARTIAL action (take) cannot mask another shard's hard validation error (ADVICE r4)") {
    val s = spark; import s.implicits._
    val store = new InMemoryCheckpointStore
    // take(1) satisfies itself from the first partition, so without the
    // coverage pass shard-3's hard error never reaches the accumulator and
    // the epoch would commit a batch the reference requires to fail
    val gp = new GraftProcessor[String](ProcessorConfig("t"), new HardOnShard3,
      new InMemorySourceClient(mkShards(4, 50)), store,
      onItems = (ds, _) => { ds.take(1); () })
    gp.run(spark, tmp()) should matchPattern { case Left(_) => }
    store.all.get("shard-3") shouldBe None
  }

  test("commit coverage under maxConcurrentShards: a partial action (take) still commits every shard") {
    val s = spark; import s.implicits._
    val store = new InMemoryCheckpointStore
    // six shards coalesced into two partitions; take(1) reads only the first
    val gp = new GraftProcessor[String](ProcessorConfig("t", maxConcurrentShards = Some(2)),
      new Echo, new InMemorySourceClient(mkShards(6, 50)), store,
      onItems = (ds, _) => { ds.take(1); () })
    gp.run(spark, tmp()) shouldBe Right(())
    store.all shouldBe (0 until 6).map(i => s"shard-$i" -> "0000000049").toMap
  }

  test("commit coverage under maxConcurrentShards: a partial action cannot mask a hard validation error") {
    val s = spark; import s.implicits._
    val store = new InMemoryCheckpointStore
    val gp = new GraftProcessor[String](ProcessorConfig("t", maxConcurrentShards = Some(2)),
      new HardOnShard3, new InMemorySourceClient(mkShards(6, 50)), store,
      onItems = (ds, _) => { ds.take(1); () })
    gp.run(spark, tmp()) should matchPattern { case Left(_) => }
    store.all.get("shard-3") shouldBe None
  }

  test("checkpoint save is retried until success, never skipped (test_suite3.rs:429, ADVICE r1)") {
    flakySaves.set(0)
    val store = new FlakySaveStore(failures = 3)
    val gp = newProcessor(new Echo, store, mkShards(1, 10))
    gp.run(spark, tmp()) shouldBe Right(())
    flakySaves.get() shouldBe 4
    store.all.get("shard-0") shouldBe Some("0000000009")
  }

  test("graceful shutdown: run returns Ok, in-flight work abandoned (test_suite2.rs:276-332)") {
    val store = new InMemoryCheckpointStore
    val shutdown = new ShutdownSignal
    val gp = newProcessor(new Echo, store, mkShards(2, 50))
    new Thread(() => { Thread.sleep(1500); shutdown.trigger() }).start()
    // continuous trigger: would run forever without the shutdown
    val result = gp.run(spark, tmp(), Trigger.ProcessingTime(100), shutdown)
    result shouldBe Right(())
  }

  test("total timeout: run returns TotalProcessingTimeout (processor.rs:624-670,2515)") {
    val store = new InMemoryCheckpointStore
    val gp = newProcessor(new Echo, store, mkShards(1, 10),
      ProcessorConfig("t", totalTimeoutMs = Some(1500L)))
    val result = gp.run(spark, tmp(), Trigger.ProcessingTime(100))
    result shouldBe Left(ProcessorError.TotalProcessingTimeout)
  }

  test("timeout during a stuck checkpoint save still returns TotalProcessingTimeout (processor.rs:2615)") {
    // a save that blocks far longer than the total timeout: run must
    // interrupt it via query.stop() and return the timeout error, not hang
    val stuckStore = new CheckpointStore {
      override def getCheckpoint(shardId: String): Option[String] = None
      override def saveCheckpoint(shardId: String, sequenceNumber: String): Unit =
        Thread.sleep(120000L)
    }
    val gp = newProcessor(new Echo, stuckStore, mkShards(1, 10),
      ProcessorConfig("t", totalTimeoutMs = Some(1000L)))
    val t0 = System.nanoTime()
    val result = gp.run(spark, tmp(), Trigger.ProcessingTime(100))
    val wallMs = (System.nanoTime() - t0) / 1000000L
    result shouldBe Left(ProcessorError.TotalProcessingTimeout)
    assert(wallMs < 60000L, s"run took ${wallMs}ms — the stuck save was not interrupted")
  }

  test("concurrency cap serializes shard work: 4 shards x 200ms, cap 2 => >= 400ms (test_suite2.rs:216-273)") {
    val store = new InMemoryCheckpointStore
    val gp = newProcessor(new Slow200, store, mkShards(4, 1),
      ProcessorConfig("t", maxConcurrentShards = Some(2)))
    val t0 = System.nanoTime()
    gp.run(spark, tmp()) shouldBe Right(())
    val wallMs = (System.nanoTime() - t0) / 1000000L
    collected.size() shouldBe 4
    wallMs should be >= 400L // 2 waves of 2 shards — the semaphore analog works
  }

  test("mixed soft and hard failures in one batch (test_suite3.rs:240)") {
    val store = new InMemoryCheckpointStore
    val gp = newProcessor(new MixedFailures, store, mkShards(1, 20))
    gp.run(spark, tmp()) shouldBe Right(())
    // 20 records: seq 5 hard-failed (dead-letter), seq 10 soft-failed twice
    // then succeeded; everything else clean
    collected.size() shouldBe 19
    store.all("shard-0") shouldBe "0000000019"
  }

  test("after a hard validation failure the epoch is uncommitted: restart re-delivers the batch (processor.rs:1470-1475)") {
    val store = new InMemoryCheckpointStore
    val shards = mkShards(1, 10)
    val ckptDir = tmp()
    // run 1: hard validator fails the batch — nothing checkpointed, nothing emitted
    newProcessorAt(new HardValidator, store, shards, ckptDir) should matchPattern { case Left(_) => }
    store.all shouldBe empty
    collected.size() shouldBe 0
    // run 2, SAME engine checkpoint dir, benign processor → the failed
    // epoch re-runs from its logged offsets and all 10 records arrive
    newProcessorAt(new Echo, store, shards, ckptDir) shouldBe Right(())
    collected.size() shouldBe 10
    store.all("shard-0") shouldBe "0000000009"
  }

  test("a non-retriable client failure surfaces as Left(ClientError), never a throw (O2 contract)") {
    val denied = new InMemorySourceClient(mkShards(1, 10)) {
      override def getRecords(iterator: String, limit: Int): graft.sources.GetRecordsResult =
        throw graft.sources.SourceClientError.AccessDenied("nope")
    }
    val s = spark; import s.implicits._
    val gp = new GraftProcessor[String](ProcessorConfig("t"), new Echo, denied,
      new InMemoryCheckpointStore)
    gp.run(spark, tmp()) should matchPattern {
      case Left(ProcessorError.ClientError(_, _)) =>
    }
  }

  test("two processors on one stream name run at once: each query has its own name") {
    val s = spark; import s.implicits._
    val gps = (1 to 2).map(_ => new GraftProcessor[String](ProcessorConfig("events"), new Echo,
      new InMemorySourceClient(mkShards(1, 10)), new InMemoryCheckpointStore))
    val queries = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQuery]
    try {
      gps.foreach(gp => queries += gp.start(spark, tmp(), Trigger.ProcessingTime(100L)))
      queries.map(_.isActive) shouldBe Seq(true, true)
      queries.map(_.name).distinct.length shouldBe 2
      queries.foreach(_.name should startWith("graft-events"))
    } finally {
      queries.foreach(_.stop())
      gps.foreach(_.cleanup())
    }
  }

  test("numInputRows of every engine batch equals the records that batch admitted") {
    val s = spark; import s.implicits._
    // admission cap 4 x 3 = 12 per shard and batch: 3 shards of 30 records
    // take three batches (12, 12, 6 per shard)
    val shards = mkShards(3, 30)
    val gp = new GraftProcessor[String](
      ProcessorConfig("admitted", batchSize = 4, maxBatchRetrievalLoops = Some(3)),
      new Echo, new InMemorySourceClient(shards), new InMemoryCheckpointStore,
      onItems = (ds, _) => { ds.collect(); () })
    val progress = try {
      val query = gp.start(spark, tmp())
      query.awaitTermination()
      query.recentProgress.toSeq
    } finally gp.cleanup()
    def positions(json: String) =
      GraftOffset.fromJson(Option(json).getOrElse("{}")).positions
    val batches = progress.filter(_.numInputRows > 0)
    batches.length shouldBe 3
    progress.foreach { p =>
      val src = p.sources.head
      val (from, to) = (positions(src.startOffset), positions(src.endOffset))
      p.numInputRows shouldBe to.map { case (k, v) => v - from.getOrElse(k, 0L) }.sum
    }
    progress.map(_.numInputRows).sum shouldBe 90L
  }

  test("every envelope field and payload byte reaches the record function, in shard order") {
    val s = spark; import s.implicits._
    val ts = new java.sql.Timestamp(1700000000123L)
    // partition keys unlike the shard ids; hash key and arrival time each
    // both absent and present
    val shards = (0 until 5).map { sh =>
      s"shard-$sh" -> (0 until 20).map(i => KRecord(f"$i%010d", s"user-${(sh * 7 + i) % 11}",
        Array.tabulate[Byte](i % 6)(b => (b * 37 + sh - 128).toByte),
        if (i % 3 == 0) None else Some(new java.sql.Timestamp(ts.getTime + i)),
        s"shard-$sh", if (i % 2 == 0) None else Some(s"${BigInt(2).pow(127) - i}")))
    }.toMap
    def fields(r: KRecord) = (r.sequenceNumber, r.partitionKey, r.data.toSeq,
      r.approximateArrivalTimestamp, r.shardId, r.explicitHashKey)
    for (cap <- Seq(None, Some(2))) {
      envelopes.clear()
      new GraftProcessor[String](
        ProcessorConfig("envelope", batchSize = 4, maxBatchRetrievalLoops = Some(2),
          maxConcurrentShards = cap),
        new Envelope, new InMemorySourceClient(shards), new InMemoryCheckpointStore)
        .run(spark, tmp()) shouldBe Right(())
      val seen = envelopes.toArray(Array.empty[KRecord]).toSeq
      for ((shardId, recs) <- shards)
        withClue(s"maxConcurrentShards=$cap, $shardId: ") {
          seen.filter(_.shardId == shardId).map(fields) shouldBe recs.map(fields)
        }
      seen.length shouldBe 100
    }
  }

  test("minimum_batch_retrieval_time maps to the continuous trigger interval (SURVEY §4)") {
    GraftProcessor.continuousTrigger(
      ProcessorConfig("t", minimumBatchRetrievalTimeMs = 250L)) shouldBe
      Trigger.ProcessingTime(250L)
  }

  test("invalid config rejected at construction (O1, processor.rs:599-602)") {
    val s = spark; import s.implicits._
    assertThrows[IllegalArgumentException] {
      new GraftProcessor[String](ProcessorConfig("", batchSize = 0), new Echo,
        new InMemorySourceClient(Map.empty), new InMemoryCheckpointStore)
    }
  }
}

object GraftProcessorSpec {
  val collected = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val softValidatorCalls = new AtomicInteger(0)
  val flakySaves = new AtomicInteger(0)
  val envelopes = new java.util.concurrent.ConcurrentLinkedQueue[KRecord]()

  final class Echo extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) = Right(Some(r.dataUtf8))
  }

  /** Keeps every record it is handed, as handed. */
  final class Envelope extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) = {
      envelopes.add(r); Right(None)
    }
  }

  final class HardOn50 extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) =
      if (r.sequenceNumber == "0000000050") Left(ProcessingError.HardFailure("poison"))
      else Right(Some(r.dataUtf8))
  }

  final class HardValidator extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) = Right(Some(r.dataUtf8))
    override def beforeCheckpoint(items: Seq[String], meta: CheckpointMetadata) =
      Left(BeforeCheckpointError.HardError("validation says no"))
  }

  final class HardOnShard3 extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) = Right(Some(r.dataUtf8))
    override def beforeCheckpoint(items: Seq[String], meta: CheckpointMetadata) =
      if (meta.shardId == "shard-3") Left(BeforeCheckpointError.HardError("shard-3 says no"))
      else Right(())
  }

  final class SoftValidator extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) = Right(Some(r.dataUtf8))
    override def beforeCheckpoint(items: Seq[String], meta: CheckpointMetadata) =
      if (softValidatorCalls.incrementAndGet() <= 3)
        Left(BeforeCheckpointError.SoftError("not yet"))
      else Right(())
  }

  final class MixedFailures extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) =
      if (r.sequenceNumber == "0000000005") Left(ProcessingError.HardFailure("poison"))
      else if (r.sequenceNumber == "0000000010" && m.attemptNumber < 2)
        Left(ProcessingError.SoftFailure("flaky"))
      else Right(Some(r.dataUtf8))
  }

  final class Slow200 extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) = {
      Thread.sleep(200); Right(Some(r.dataUtf8))
    }
  }

  final class FlakySaveStore(failures: Int) extends CheckpointStore {
    private val inner = new InMemoryCheckpointStore
    def all: Map[String, String] = inner.all
    override def getCheckpoint(shardId: String): Option[String] = inner.getCheckpoint(shardId)
    override def saveCheckpoint(shardId: String, sequenceNumber: String): Unit = {
      if (flakySaves.incrementAndGet() <= failures) sys.error("store down")
      inner.saveCheckpoint(shardId, sequenceNumber)
    }
  }
}
