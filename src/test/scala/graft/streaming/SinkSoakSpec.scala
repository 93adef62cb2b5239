package graft.streaming

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.analytics.{KeyedMerge, Tables, VersionedTable}

/** Soak gate for the r11 SINKS (VERDICT r11 #4): SoakSpec covers
  * watermarked dedup state; this extends the 200+-micro-batch treatment
  * to the table sinks, whose failure modes are on DISK, not in state —
  * bucket-rewrite churn leaving stale files (s20/KeyedMerge), delta-dir
  * growth without a maintenance story (s22/VersionedTable), and
  * unbounded aggregation state (s21's complete-mode drift counts).
  * Sustained operation is the reference's identity
  * (`/root/reference/src/processor.rs:532-552` loops forever).
  *
  * One 200-slice CDC stream of the events table drives both sinks in a
  * single pass (each micro-batch applies to the KeyedMerge table AND
  * commits a VersionedTable delta), then the gates:
  *
  *  1. ≥200 micro-batches executed;
  *  2. s20: the merged table equals the one-window batch replay
  *     (micro-batch-boundary invariance after 200 incremental applies),
  *     and the table directory holds NO stale garbage — file count and
  *     bytes are bounded by the bucket layout, not by batch count;
  *  3. s22: exactly one immutable delta per micro-batch (history IS the
  *     layout), every delta carries its commit marker, the as-of-latest
  *     state equals the merge; then COMPACTION folds the long log into
  *     one base delta — the read-amplification counter-move — with the
  *     as-of state bit-identical before/after and later deltas still
  *     winning LWW (tombstones survive compaction);
  *  4. s21: complete-mode (source, bucket) counts over 200 batches keep
  *     state EXACTLY at the |keys| bound (no growth past the key space),
  *     and the drained counts equal the batch replay.
  */
class SinkSoakSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val nSlices = 200

  private def countFiles(f: File, p: String => Boolean): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles(_, p)).sum
    else if (p(f.getName)) 1 else 0

  /** 200 mtime-ordered slices of the normalized events CDC columns. */
  private def sliceEvents(base: String): String = {
    val sliceDir = s"$base/slices"
    Tables.normalizeEventTs(spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("user_id"), expr("ts div 1000").as("tsu"), col("event_id"),
        when(col("event_type") === "error", lit("d")).otherwise(lit("u"))
          .as(KeyedMerge.OpCol),
        col("event_type").as("last_type"), col("value").as("last_value"))
      .repartitionByRange(nSlices, col("tsu"), col("event_id"))
      .write.parquet(sliceDir)
    val parts = Option(new File(sliceDir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    parts.length shouldBe nSlices
    val t0 = System.currentTimeMillis() - 1000000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 1000L) }
    sliceDir
  }

  test("200-micro-batch sink soak: merge churn bounded, delta log linear then compacted, drift state pinned") {
    val base = graft.analytics.Scratch.dir("graft_sinksoak_")
    val sliceDir = sliceEvents(base)
    val mergeDir = s"$base/merge"; val logDir = s"$base/log"
    val ckpt = s"$base/ckpt"
    val numBuckets = 8

    val schema = spark.read.parquet(sliceDir).schema
    var batches = 0
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(sliceDir)
      .writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val ch = b.cache()
        KeyedMerge.applyChanges(mergeDir, ch,
          keyCols = Seq("user_id"), seqCols = Seq("tsu", "event_id"),
          numBuckets = numBuckets)
        VersionedTable.commitDelta(logDir, ch, batchId)
        ch.unpersist()
        batches += 1
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // -- 1. sustained operation
    batches should be >= 200

    // -- 2. s20 soak: converged AND clean on disk
    def mergedState() = KeyedMerge.read(spark, mergeDir)
      .select(col("user_id"), col("last_type"), col("last_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    val viaSoak = mergedState()
    val viaBatch = graft.analytics.FormatQueries.f8KeyedMerge(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    viaSoak should not be empty
    viaSoak shouldBe viaBatch
    // bucket-rewrite churn must not accumulate: after 200 rewrites the
    // table holds one file set per live bucket (+ markers), NOT O(batches)
    // stale files — dynamic partition overwrite really replaced, and the
    // byte size is corpus-shaped, not batch-count-shaped
    val mergeFiles = countFiles(new File(mergeDir), _.endsWith(".parquet"))
    withClue(s"$mergeFiles parquet files in the merged table: ") {
      mergeFiles should be <= numBuckets * 4
    }
    // no committer debris (local-FS .crc sidecars ride with their data
    // file and are bounded by it; anything else dot/_temporary is churn)
    countFiles(new File(mergeDir),
      n => n.startsWith(".") && !n.endsWith(".crc")) shouldBe 0
    countFiles(new File(mergeDir), _ == "_temporary") shouldBe 0

    // -- 3. s22 soak: one immutable marked delta per batch, then compact
    val logRoot = new File(logDir)
    def deltaDirs() = Option(logRoot.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("delta="))
    val before = deltaDirs()
    before.length shouldBe batches
    before.foreach(d => new File(d, "_SUCCESS").exists() shouldBe true)
    def asOfLatest() = VersionedTable
      .readAsOf(spark, logDir, Seq("user_id"), Seq("tsu", "event_id"),
        Long.MaxValue)
      .select(col("user_id"), col("last_type"), col("last_value"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    asOfLatest() shouldBe viaBatch
    // a mid-log snapshot BEFORE compaction, for the identity check below
    val midK = batches / 2L
    val midBefore = VersionedTable
      .readAsOf(spark, logDir, Seq("user_id"), Seq("tsu", "event_id"), midK)
      .collect().map(_.toString).sorted
    // compact the first half: read amplification drops from midK dirs to
    // one base delta, later deltas still apply LWW on top
    VersionedTable.compactUpTo(spark, logDir, midK,
      Seq("user_id"), Seq("tsu", "event_id"))
    val after = deltaDirs()
    after.length shouldBe (batches - midK).toInt // base k + deltas > k
    // the compacted base replays the identical mid-log state...
    VersionedTable.readAsOf(spark, logDir, Seq("user_id"),
        Seq("tsu", "event_id"), midK)
      .collect().map(_.toString).sorted shouldBe midBefore
    // ...and the as-of-latest state is bit-identical before/after —
    // tombstones survived compaction, later deltas still win
    asOfLatest() shouldBe viaBatch
    countFiles(logRoot, n => n.startsWith(".compact") && !n.endsWith(".crc"))
      .shouldBe(0)
    Option(logRoot.listFiles()).toSeq.flatten
      .count(d => d.isDirectory && d.getName.startsWith(".compact")) shouldBe 0

    // -- 4. s21 soak: complete-mode drift counts stay at the key bound
    val out = s"$base/drift"
    val q2 = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(sliceDir)
      .groupBy(col("last_type").as("k")).agg(count(lit(1)).as("c"))
      .writeStream
      .foreachBatch((df: DataFrame, _: Long) =>
        df.write.mode("overwrite").parquet(out))
      .outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val progress = q2.recentProgress.toSeq.filter(_.stateOperators.nonEmpty)
    progress should not be empty
    val keySpace = spark.read.parquet(sliceDir)
      .select(col("last_type")).distinct().count()
    // state never exceeds the key space — the boundedness that makes the
    // s21 monitor deployable on an open stream
    progress.map(_.stateOperators.head.numRowsTotal).max should be <= keySpace
    val gotCounts = spark.read.parquet(out).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expCounts = spark.read.parquet(sliceDir)
      .groupBy(col("last_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    gotCounts shouldBe expCounts
  }
}
