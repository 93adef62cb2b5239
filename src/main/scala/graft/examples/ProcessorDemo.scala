package graft.examples

import org.apache.spark.sql.functions._

import graft.core._
import graft.processor.{RecordProcessing, RecordProcessor}

/** End-to-end sample of the processor surface, as a library user writes it:
  * events.parquet → KRecord envelope stream → RecordProcessor (decode +
  * filter + soft-retry + hard dead-letter) → per-shard monitoring metrics.
  * Run: sbt "runMain graft.examples.ProcessorDemo [sfDir]" */
object ProcessorDemo {

  /** Payload = the JSON props of an event; emit "user_id:event_type" for
    * purchases, filter the rest; sequence 42 is scripted to soft-fail 3
    * times (transient dependency), sequence 7 hard-fails (poison). */
  final class PurchaseProcessor extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) = {
      val payload = r.dataUtf8
      if (r.sequenceNumber == "0000000000000007")
        Left(ProcessingError.HardFailure("poison record"))
      else if (r.sequenceNumber == "0000000000000042" && m.attemptNumber < 3)
        Left(ProcessingError.SoftFailure(s"transient (attempt ${m.attemptNumber})"))
      else if (payload.contains("purchase")) Right(Some(payload))
      else Right(None)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.builder("local[8]", 8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // Envelope the events table as an 8-shard KRecord stream: shard by
    // user_id (the partition key), sequence = zero-padded event_id.
    val records = spark.read.parquet(s"$sfDir/events.parquet")
      .select(
        format_string("%016d", col("event_id")).as("sequenceNumber"),
        col("user_id").cast("string").as("partitionKey"),
        encode(concat_ws("|", col("event_type"), col("props")), "UTF-8").as("data"),
        lit(null).cast("timestamp").as("approximateArrivalTimestamp"),
        concat(lit("shard-"), pmod(col("user_id"), lit(8)).cast("string")).as("shardId"))
      .as[KRecord]

    // Attach the monitoring pipeline: events → windowed per-shard metrics
    val aggregator = new graft.monitoring.MetricsAggregator(windowMs = 60000L)
    val (sinkHandle, _) = graft.monitoring.EventSink.registered("demo-sink")
    graft.monitoring.EventSink.register("demo-sink", aggregator)

    val processed = RecordProcessing.process(records, new PurchaseProcessor,
      ProcessorConfig("events", processingTimeoutMs = 10000L), sink = sinkHandle)

    val out = processed.cache()
    println(s"records=${out.count()} items=${out.filter(_.item.isDefined).count()} " +
      s"deadLetters=${out.filter(_.failed).count()} " +
      s"retried=${out.filter(_.attempts > 0).count()}")
    out.filter(p => p.failed || p.attempts > 0).show(5, truncate = false)
    aggregator.snapshot.toSeq.sortBy(_._1).foreach { case (shard, m) =>
      println(f"$shard%-9s processed=${m.recordsProcessed}%4d failed=${m.recordsFailed} " +
        f"soft=${m.softErrors} retries=${m.retryAttempts} avg=${m.avgProcessingTimeMs}%.2fms")
    }
    graft.monitoring.EventSink.unregister("demo-sink")
    spark.stop()
  }
}
