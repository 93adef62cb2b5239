package graft.monitoring

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** M1–M5 semantics, mirroring the reference fold (`monitoring/metrics.rs`)
  * and test harness (`monitoring/types.rs:277-512`). */
class MonitoringSpec extends AnyFunSuite with Matchers with SparkSpec {
  import ProcessingEventType._

  private def ev(shard: String, et: ProcessingEventType, ts: Long = 1000L) =
    ProcessingEvent(ts, shard, et)

  test("fold: attempts split into processed/soft/hard; retries counted from attempt>1 (metrics.rs:128-160)") {
    val agg = new MetricsAggregator(windowMs = 1000)
    agg.processEvent(ev("s", RecordAttempt("1", success = false, 0, 10, Some("soft"), isFinalAttempt = false)))
    agg.processEvent(ev("s", RecordAttempt("1", success = false, 1, 10, Some("soft"), isFinalAttempt = false)))
    agg.processEvent(ev("s", RecordAttempt("1", success = false, 2, 10, Some("soft"), isFinalAttempt = false)))
    agg.processEvent(ev("s", RecordAttempt("1", success = true, 3, 40, None, isFinalAttempt = true)))
    agg.processEvent(ev("s", RecordFailure("2", "hard")))
    val m = agg.snapshot("s")
    m.recordsProcessed shouldBe 1
    m.recordsFailed shouldBe 1
    m.softErrors shouldBe 3
    m.hardErrors shouldBe 1
    m.retryAttempts shouldBe 2 // attempts 2 and 3 (attempt > 1)
    m.processingTimeMs shouldBe 70
    m.maxProcessingTimeMs shouldBe 40
  }

  test("fold: checkpoint and iterator events (metrics.rs:232-301)") {
    val agg = new MetricsAggregator()
    agg.processEvent(ev("s", Checkpoint("9", success = true, None)))
    agg.processEvent(ev("s", Checkpoint("9", success = false, Some("boom"))))
    agg.processEvent(ev("s", CheckpointFailure("9", "boom")))
    agg.processEvent(ev("s", Iterator(IteratorEventType.Renewed, None)))
    agg.processEvent(ev("s", Iterator(IteratorEventType.Expired, None))) // not counted
    agg.processEvent(ev("s", Iterator(IteratorEventType.Failed, Some("x"))))
    val m = agg.snapshot("s")
    m.checkpointsSucceeded shouldBe 1
    m.checkpointsFailed shouldBe 2
    m.iteratorRenewals shouldBe 1
    m.iteratorFailures shouldBe 1
  }

  test("window emission evicts shards idle > 2x window (metrics.rs:304-311)") {
    var now = 0L
    val emitted = scala.collection.mutable.ArrayBuffer.empty[String]
    val agg = new MetricsAggregator(windowMs = 100,
      onEmit = (s, _) => emitted += s, clock = () => now)
    agg.processEvent(ev("fresh", RecordSuccess("1", checkpointSuccess = false)))
    agg.processEvent(ev("stale", RecordSuccess("1", checkpointSuccess = false)))
    now = 150
    agg.processEvent(ev("fresh", RecordSuccess("2", checkpointSuccess = false)))
    now = 300 // stale last updated at 0 → 300 > 2×100
    agg.emitWindow()
    emitted.toSeq shouldBe Seq("fresh")
    agg.snapshot.keySet shouldBe Set("fresh")
  }

  test("harness waits for event patterns with timeout (types.rs:294-324)") {
    val h = new TestMonitoringHarness
    new Thread(() => {
      Thread.sleep(100)
      h.emit(ev("s", RecordSuccess("1", checkpointSuccess = true)))
      h.emit(ev("s", RecordSuccess("2", checkpointSuccess = true)))
    }).start()
    val got = h.waitForEvents(_.eventType.isInstanceOf[RecordSuccess], count = 2, timeoutMs = 3000)
    got.length shouldBe 2
    h.waitForEvents(_.shardId == "nope", count = 1, timeoutMs = 200) shouldBe empty
  }

  test("listener bridge: start and termination become events; no counts") {
    val s = spark; import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val harness = new TestMonitoringHarness
    val bridge = new QueryListenerBridge(harness, "bridge-test")
    spark.streams.addListener(bridge)
    try {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
      val q = input.toDS().writeStream.format("memory").queryName("bridge_q")
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(0)).start()
      input.addData(1 to 100: _*)
      q.processAllAvailable()
      q.recentProgress.map(_.numInputRows).sum shouldBe 100L
      q.stop()
      harness.waitForEvents(e => e.eventType ==
        ShardEvent(ShardEventType.Completed, None), timeoutMs = 10000) should not be empty
      // the listener bus delivers in order: every progress event of the
      // query reached the bridge before its termination did
      val kinds = harness.events.filter(_.shardId == "bridge-test").map(_.eventType)
      kinds should contain(ShardEvent(ShardEventType.Started, Some("bridge_q")))
      kinds.collect { case m: BatchMetrics => m } shouldBe empty
      spark.sql("DROP TABLE IF EXISTS bridge_q")
    } finally spark.streams.removeListener(bridge)
  }

  test("Dataset path: windowed aggregation matches the fold (M4 at scale)") {
    val s = spark; import s.implicits._
    val rows = Seq(
      MetricsAggregator.toRow(ev("s1", RecordAttempt("1", success = true, 0, 30, None, isFinalAttempt = true))),
      MetricsAggregator.toRow(ev("s1", RecordAttempt("2", success = false, 0, 10, Some("e"), isFinalAttempt = false))),
      MetricsAggregator.toRow(ev("s1", RecordAttempt("2", success = true, 1, 20, None, isFinalAttempt = true))),
      MetricsAggregator.toRow(ev("s1", Checkpoint("2", success = true, None))),
      MetricsAggregator.toRow(ev("s2", RecordFailure("9", "hard")))
    ).toDS()
    val out = MetricsAggregator.aggregate(rows).collect()
      .map(r => r.getAs[String]("shardId") -> r).toMap
    out("s1").getAs[Long]("records_processed") shouldBe 2
    out("s1").getAs[Long]("soft_errors") shouldBe 1
    out("s1").getAs[Long]("checkpoints_succeeded") shouldBe 1
    out("s1").getAs[Long]("processing_time_ms") shouldBe 60
    out("s2").getAs[Long]("hard_errors") shouldBe 1
  }
}
