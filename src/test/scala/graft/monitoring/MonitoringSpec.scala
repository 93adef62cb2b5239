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

  /** Runs `body(k)` on `threads` threads released together; rethrows the
    * first failure. */
  private def together(threads: Int)(body: Int => Unit): Unit = {
    val start = new java.util.concurrent.CountDownLatch(1)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = (0 until threads).map { k =>
      val t = new Thread(() =>
        try { start.await(); body(k) } catch { case e: Throwable => errors.add(e); () })
      t.start(); t
    }
    start.countDown()
    ts.foreach(_.join(60000))
    Option(errors.peek()).foreach(e => throw e)
  }

  /** Thread `k`'s share of a mix touching every counter of the fold. */
  private def mix(k: Int, n: Int, shards: IndexedSeq[String]): IndexedSeq[ProcessingEvent] =
    (0 until n).map { i =>
      val shard = shards((i + k) % shards.size)
      val seq = s"$k-$i"
      ev(shard, (i % 9) match {
        case 0 => RecordSuccess(seq, checkpointSuccess = i % 2 == 0)
        case 1 => RecordAttempt(seq, success = false, i % 4, (i % 13).toLong, Some("soft"),
          isFinalAttempt = false)
        case 2 => RecordAttempt(seq, success = i % 2 == 0, i % 3, (i % 7).toLong, None,
          isFinalAttempt = true)
        case 3 => RecordFailure(seq, "hard")
        case 4 => BatchComplete(3, 1, (i % 11).toLong)
        case 5 => Checkpoint(seq, success = i % 3 != 0, None)
        case 6 => Iterator(if (i % 2 == 0) IteratorEventType.Renewed else IteratorEventType.Failed, None)
        case 7 => ShardEvent(ShardEventType.Error, None)
        case _ => CheckpointFailure(seq, "boom")
      })
    }

  test("concurrent emitters fold exactly like the sequential fold, on one shard and on a few") {
    Seq(IndexedSeq("*"), IndexedSeq("a", "b", "c")).foreach { shards =>
      val threads = 8
      val perThread = 20000
      val events = (0 until threads).map(k => mix(k, perThread, shards))
      // avgProcessingTimeMs is set by the last RecordAttempt, so one final
      // attempt per shard, folded after the threads, makes it order-free
      val last = shards.map(sh => ev(sh, RecordAttempt("last", success = true, 1, 5, None,
        isFinalAttempt = true)))
      val sequential = new MetricsAggregator(clock = () => 1000L)
      (events.flatten ++ last).foreach(sequential.processEvent)

      val concurrent = new MetricsAggregator(clock = () => 1000L)
      together(threads)(k => events(k).foreach(concurrent.emit))
      last.foreach(concurrent.processEvent)
      withClue(s"shards ${shards.mkString(",")}: ") {
        concurrent.snapshot shouldBe sequential.snapshot
      }
    }
  }

  test("window eviction running beside emitters loses no event a live shard received") {
    val shards = (0 until 64).map(i => s"s$i")
    val live = shards.filter(_.drop(1).toInt % 2 == 0) // the odd ones go idle
    val emitters = 4
    val reps = 200
    (1 to 10).foreach { round =>
      val now = new java.util.concurrent.atomic.AtomicLong(0L)
      val agg = new MetricsAggregator(windowMs = 100, clock = () => now.get())
      // at t=0 every shard gets 5 checkpoints; then t jumps past 2x the
      // window, so each shard is due for eviction until it hears again
      shards.foreach(sh => (1 to 5).foreach(_ =>
        agg.processEvent(ev(sh, Checkpoint("0", success = true, None)))))
      now.set(1000L)
      val running = new java.util.concurrent.atomic.AtomicInteger(emitters)
      together(emitters + 1) { k =>
        if (k == emitters) while (running.get() > 0) agg.emitWindow()
        else {
          // one emitter per live shard, so only eviction can lose an event
          val mine = live.zipWithIndex.collect { case (sh, i) if i % emitters == k => sh }
          try (1 to reps).foreach(r => mine.foreach(sh =>
            agg.emit(ev(sh, RecordSuccess(r.toString, checkpointSuccess = false)))))
          finally { running.decrementAndGet(); () }
        }
      }
      agg.emitWindow()
      val snap = agg.snapshot
      withClue(s"round $round: ") {
        snap.keySet shouldBe live.toSet // every idle shard was evicted
        live.foreach { sh =>
          snap(sh).recordsProcessed shouldBe reps
          // the t=0 cell was either evicted whole or kept whole
          Set(0L, 5L) should contain(snap(sh).checkpointsSucceeded)
        }
      }
    }
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
