package graft.core

import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite {

  test("config validation mirrors reference processor.rs:1701-1717") {
    assert(ProcessorConfig("s").validate().isRight)
    assert(ProcessorConfig("").validate() == Left("stream name cannot be empty"))
    assert(ProcessorConfig("s", batchSize = 0).validate().isLeft)
    assert(ProcessorConfig("s", processingTimeoutMs = 0).validate().isLeft)
    assert(ProcessorConfig("s", maxConcurrentShards = Some(0)).validate().isLeft)
    assert(ProcessorConfig("s", maxBatchRetrievalLoops = Some(-1)).validate().isLeft)
    intercept[IllegalArgumentException](ProcessorConfig("", batchSize = 10).validated())
  }

  test("defaults mirror the reference (processor.rs:369-387, monitoring/types.rs:27-36)") {
    val c = ProcessorConfig("stream")
    assert(c.batchSize == 100)
    assert(c.processingTimeoutMs == 300000L)
    assert(c.totalTimeoutMs.isEmpty)
    assert(c.initialPosition == InitialPosition.TrimHorizon)
    assert(c.preferStoredCheckpoint)
    assert(c.minimumBatchRetrievalTimeMs == 100L)
    assert(c.maxBatchRetrievalLoops.contains(10))
  }

  test("soft/hard failure taxonomy is disjoint and typed") {
    val soft: ProcessingError = ProcessingError.SoftFailure("retry me")
    val hard: ProcessingError = ProcessingError.HardFailure("skip me")
    assert(soft.getMessage.contains("soft failure"))
    assert(hard.getMessage.contains("hard failure"))
  }
}

class StoreSpec extends AnyFunSuite {

  test("in-memory store get/save round-trips (store/memory.rs)") {
    val s = new InMemoryCheckpointStore
    assert(s.getCheckpoint("shard-1").isEmpty)
    s.saveCheckpoint("shard-1", "100")
    s.saveCheckpoint("shard-2", "200")
    assert(s.getCheckpoint("shard-1").contains("100"))
    s.saveCheckpoint("shard-1", "150") // last-writer-wins
    assert(s.getCheckpoint("shard-1").contains("150"))
    assert(s.all == Map("shard-1" -> "150", "shard-2" -> "200"))
  }

  test("file store persists across instances and overwrites atomically") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val s1 = new FileCheckpointStore(dir, "pfx-")
    s1.saveCheckpoint("shardId-000", "seq-41")
    s1.saveCheckpoint("shardId-000", "seq-42")
    val s2 = new FileCheckpointStore(dir, "pfx-")
    assert(s2.getCheckpoint("shardId-000").contains("seq-42"))
    assert(s2.getCheckpoint("missing").isEmpty)
  }

  test("key prefix namespaces stores sharing a directory (store/dynamodb.rs:417-427)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-pfx").toString
    val a = new FileCheckpointStore(dir, "app1-")
    val b = new FileCheckpointStore(dir, "app2-")
    a.saveCheckpoint("shard-1", "5")
    b.saveCheckpoint("shard-1", "9")
    assert(a.getCheckpoint("shard-1").contains("5"))
    assert(b.getCheckpoint("shard-1").contains("9"))
    // the stored key combines prefix and shard id, like prefixed_key
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "app1-shard-1.ckpt")))
  }

  test("retrying store: bounded-retry save surfaces failure (dynamodb.rs:173-182)") {
    val failing = new CheckpointStore {
      def getCheckpoint(s: String): Option[String] = Some("g")
      def saveCheckpoint(s: String, n: String): Unit = sys.error("dynamo down")
    }
    // surface the exhaustion so the commit harness can convert it into a
    // soft error retried until success (processor.rs:1620-1626)
    intercept[CheckpointError] {
      new RetryingCheckpointStore(failing, RetryConfig(Some(2), FixedBackoff(1)))
        .saveCheckpoint("s", "1")
    }
  }

  test("config validation rejects invalid initial positions (processor.rs:1701-1717)") {
    assert(ProcessorConfig("s",
      initialPosition = InitialPosition.AtSequenceNumber("")).validate().isLeft)
    assert(ProcessorConfig("s",
      initialPosition = InitialPosition.AtTimestamp(java.time.Instant.ofEpochMilli(-1)))
      .validate().isLeft)
    assert(ProcessorConfig("s",
      initialPosition = InitialPosition.AtSequenceNumber("0042")).validate().isRight)
  }

  test("retrying store: get surfaces failure as CheckpointError (processor.rs:765-791)") {
    val failing = new CheckpointStore {
      def getCheckpoint(s: String): Option[String] = sys.error("read error")
      def saveCheckpoint(s: String, n: String): Unit = ()
    }
    val store = new RetryingCheckpointStore(failing, RetryConfig(Some(1), FixedBackoff(1)))
    intercept[CheckpointError](store.getCheckpoint("s"))
  }

  test("retrying store: infinite save retries until success") {
    var calls = 0
    val flaky = new CheckpointStore {
      def getCheckpoint(s: String): Option[String] = None
      def saveCheckpoint(s: String, n: String): Unit = { calls += 1; if (calls < 4) sys.error("nope") }
    }
    new RetryingCheckpointStore(flaky, RetryConfig(None, FixedBackoff(0))).saveCheckpoint("s", "9")
    assert(calls == 4)
  }
}
