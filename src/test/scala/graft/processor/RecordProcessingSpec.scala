package graft.processor

import org.apache.spark.SparkException
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.core._
import graft.monitoring.{EventSink, ProcessingEventType}

/** T1/T3/T4 semantics, mirroring the reference's suites:
  * soft >10 retries observed (`src/tests/test_suite3.rs:67-116`),
  * hard-failure immediate skip (`test_suite3.rs:118`),
  * attempt counter starts at 0 (`src/processor.rs:2205`),
  * checkpoint advances past hard failures (`src/processor.rs:1542-1560`). */
class RecordProcessingSpec extends AnyFunSuite with Matchers with SparkSpec {
  import RecordProcessingSpec._

  private def mkDs(records: Seq[KRecord]) = {
    val session = spark
    import session.implicits._
    spark.createDataset(records).repartition(2)
  }

  test("map semantics: Right(Some) collects the item, attempts start at 0") {
    val s = spark; import s.implicits._
    val out = RecordProcessing.process(mkDs((1 to 10).map(rec("s-1", _))), new EchoProcessor,
      ProcessorConfig("t")).collect()
    out.length shouldBe 10
    all(out.map(_.failed)) shouldBe false
    all(out.map(_.attempts)) shouldBe 0
    out.map(_.item.get).toSet shouldBe (1 to 10).map(i => s"data-$i@0").toSet
  }

  test("filter semantics: Right(None) is success without an item") {
    val s = spark; import s.implicits._
    val out = RecordProcessing.process(mkDs((1 to 10).map(rec("s-1", _))),
      new FilterEvens, ProcessorConfig("t")).collect()
    out.count(_.item.isDefined) shouldBe 9
    out.count(p => p.item.isEmpty && !p.failed) shouldBe 1
  }

  test("soft failure retries forever until success; >10 attempts observed via events") {
    val s = spark; import s.implicits._
    val (handle, queue) = EventSink.registered("soft-retry-spec")
    try {
      val out = RecordProcessing.process(mkDs((1 to 5).map(rec("s-1", _))),
        new SoftUntil12, ProcessorConfig("t"), sink = handle).collect()
      out.length shouldBe 5
      all(out.map(_.failed)) shouldBe false
      out.find(_.sequenceNumber == "0000000003").get.attempts shouldBe 12
      // Reference asserts via the monitoring event stream (test_suite3.rs:67-116):
      // soft failures are RecordAttempt events, the success is RecordSuccess
      val events = queue.drain().map(_.eventType)
      val attempts = events.collect {
        case a: ProcessingEventType.RecordAttempt if a.sequenceNumber == "0000000003" => a
      }
      attempts.count(!_.success) shouldBe 12
      attempts.map(_.attemptNumber).sorted shouldBe (0 until 12)
      events.collect {
        case s: ProcessingEventType.RecordSuccess if s.sequenceNumber == "0000000003" => s
      }.length shouldBe 1
    } finally EventSink.unregister("soft-retry-spec")
  }

  test("hard failure dead-letters the record, batch continues, checkpoint advances past it") {
    val s = spark; import s.implicits._
    val processed = RecordProcessing.process(
      spark.createDataset((1 to 5).map(rec("s-1", _))).coalesce(1),
      new HardOn2, ProcessorConfig("t"))
    val out = processed.collect()
    out.count(_.failed) shouldBe 1
    out.find(_.failed).get.sequenceNumber shouldBe "0000000002"
    // the batch continues past the dead letter; GraftProcessorSpec's "hard
    // failures dead-letter; checkpoint advances past them" covers the commit
    out.filterNot(_.failed).map(_.sequenceNumber).max shouldBe "0000000005"
  }

  test("per-attempt timeout is shard-fatal (processor.rs:1520-1522)") {
    val s = spark; import s.implicits._
    val ex = intercept[SparkException] {
      RecordProcessing.process(mkDs(Seq(rec("s-1", 1))), new Hang,
        ProcessorConfig("t", processingTimeoutMs = 300L)).collect()
    }
    ex.getMessage should include("processing timeout")
  }

  test("shutdown mid-retry abandons the partition (processSingle direct)") {
    val shutdown = new ShutdownSignal
    val watchdog = new PartitionWatchdog(1000L)
    try {
      val proc = new RecordProcessor[String] {
        override def processRecord(r: KRecord, m: RecordMetadata) = {
          if (m.attemptNumber > 2) shutdown.trigger()
          Left(ProcessingError.SoftFailure("always"))
        }
      }
      assertThrows[ProcessorError.Shutdown.type] {
        RecordProcessing.processSingle(rec("s-1", 1), proc, 1000L, watchdog,
          EventSink.Noop, shutdown)
      }
    } finally watchdog.close()
  }

  test("thrown exceptions from user code are retried as soft failures") {
    val s = spark; import s.implicits._
    val out = RecordProcessing.process(mkDs(Seq(rec("s-1", 1))), new ThrowTwice,
      ProcessorConfig("t")).collect()
    out.head.failed shouldBe false
    out.head.attempts shouldBe 2
  }
}

/** Scripted processors live outside the suite so task closures don't capture
  * the (non-serializable) ScalaTest instance. All are stateless: scripting
  * keys off sequence number + attempt number, like the reference's
  * MockRecordProcessor scripting by sequence (`src/test/mocks.rs:175-573`). */
object RecordProcessingSpec {
  def rec(shard: String, i: Int): KRecord =
    KRecord(f"$i%010d", s"pk-$i", s"data-$i".getBytes("UTF-8"), None, shard)

  final class EchoProcessor extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) =
      Right(Some(s"${r.dataUtf8}@${m.attemptNumber}"))
  }

  final class FilterEvens extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) =
      if (r.sequenceNumber.endsWith("2")) Right(None) else Right(Some(r.dataUtf8))
  }

  final class SoftUntil12 extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) =
      if (r.sequenceNumber == "0000000003" && m.attemptNumber < 12)
        Left(ProcessingError.SoftFailure(s"not yet (attempt ${m.attemptNumber})"))
      else Right(Some(r.dataUtf8))
  }

  final class HardOn2 extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) =
      if (r.sequenceNumber == "0000000002") Left(ProcessingError.HardFailure("unparseable"))
      else Right(Some(r.dataUtf8))
  }

  final class Hang extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) = {
      Thread.sleep(60000); Right(Some("never"))
    }
  }

  final class ThrowTwice extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) =
      if (m.attemptNumber < 2) throw new RuntimeException("flaky dependency")
      else Right(Some(r.dataUtf8))
  }
}
