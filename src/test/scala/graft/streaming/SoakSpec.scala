package graft.streaming

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Soak/endurance gate (VERDICT r10 #1): every other streaming gate
  * drains in a handful of epochs, so state-leak, watermark-regression and
  * checkpoint-growth bugs are structurally invisible there — yet
  * sustained operation is the reference's entire identity (`run_main`
  * loops forever, `/root/reference/src/processor.rs:532-552`).
  *
  * This spec runs the production form of s7's streaming dedup
  * (`dropDuplicatesWithinWatermark` — bounded state for continuous
  * ingest) for 200+ micro-batches: the events table is sliced into 200
  * event-time-ordered files, `maxFilesPerTrigger=1` makes each file one
  * micro-batch, and every event arrives duplicated (the at-least-once
  * re-delivery shape). Gates:
  *
  *  1. ≥200 micro-batches actually executed;
  *  2. state rows PLATEAU after the watermark horizon fills: the
  *     steady-state maximum stays a small multiple of the horizon
  *     population and far below the corpus (an unbounded `dropDuplicates`
  *     would end at |corpus| rows);
  *  3. the state checkpoint is BOUNDED: version files per partition stay
  *     far below the 200 committed versions (maintenance actually
  *     deletes old versions) and the whole state dir stays small;
  *  4. the drained sink is still exact: per-type counts equal the batch
  *     distinct counts, and every event id survives exactly once.
  */
class SoakSpec extends AnyFunSuite with Matchers
    with org.scalatest.BeforeAndAfterAll {

  override def beforeAll(): Unit = {
    super.beforeAll()
    // a live session from a prior suite would make getOrCreate silently
    // drop every soak-specific config below (numRecentProgressUpdates=400
    // is load-bearing for the ≥200-progress gate; the retention/maintenance
    // knobs for the checkpoint-bound gate) — stop and rebuild
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // the state-store maintenance task is a JVM-level singleton whose
    // interval is captured when it FIRST starts: an earlier streaming
    // suite leaves it running at the default 60 s, the soak query then
    // finishes before a single sweep, and gate 3 counts all 200 retained
    // versions (measured in-suite: 808 files vs <500). Stop it so the
    // first state access restarts it under this session's 5 s interval.
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()
  }

  override def afterAll(): Unit = {
    // the session carries soak-specific retention/maintenance configs —
    // never leak it to the next suite in the JVM (StateStore.stop() also
    // ends the 5 s maintenance loop this suite started)
    try {
      spark.stop()
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    } finally super.afterAll()
  }

  private val sfDir = "/root/testdata/sf0.001"
  private val nSlices = 200

  private lazy val spark: SparkSession = graft.GraftSession.builder("local[4]", 4)
    .appName("SoakSpec")
    // keep the full 200+ entry progress history on the query handle
    .config("spark.sql.streaming.numRecentProgressUpdates", "400")
    // make checkpoint maintenance observable within the soak window:
    // retain few versions and sweep old ones aggressively
    .config("spark.sql.streaming.minBatchesToRetain", "20")
    .config("spark.sql.streaming.stateStore.maintenanceInterval", "5s")
    // afterAll's StateStore.stop() can wait out the maintenance pool's
    // shutdown timeout (a maintenance thread blocks on the lock stop()
    // holds); the pool reads it when this suite restarts maintenance, so
    // bound the teardown stall to seconds instead of the default 300 s
    .config("spark.sql.streaming.stateStore.maintenanceShutdownTimeout", "5s")
    .getOrCreate()

  private def dirSize(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirSize).sum
    else f.length()

  private def countFiles(f: File, p: String => Boolean): Int =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(countFiles(_, p)).sum
    else if (p(f.getName)) 1 else 0

  test("200-micro-batch watermarked dedup soak: state plateaus, checkpoint bounded, drain exact") {
    val base = graft.analytics.Scratch.dir("graft_soak_")
    val sliceDir = s"$base/slices"; val out = s"$base/out"; val ckpt = s"$base/ckpt"

    // 200 event-time-ordered slices: range-partition by ts so
    // part-00000..part-00199 are consecutive time ranges (the file source
    // breaks modification-time ties by path, so lexicographic part order
    // IS arrival order), then pin strictly increasing mtimes anyway.
    val events = graft.analytics.Tables.normalizeEventTs(
        spark.read.parquet(s"$sfDir/events.parquet"))
      .select(col("event_id"), timestamp_micros(expr("ts div 1000")).as("ts"),
        col("event_type"))
    events.repartitionByRange(nSlices, col("ts"), col("event_id"))
      .sortWithinPartitions(col("ts"))
      .write.parquet(sliceDir)
    val parts = Option(new File(sliceDir).listFiles()).toSeq.flatten
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    parts.length shouldBe nSlices
    val t0 = System.currentTimeMillis() - 1000000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(t0 + i * 1000L) }

    val schema = spark.read.parquet(sliceDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(sliceDir)
      .withColumn("copy", explode(array(lit(1), lit(2)))) // re-delivery shape
      .withWatermark("ts", "2 days")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("event_type"))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()

    // -- 1. sustained operation: one micro-batch per slice
    val progress = q.recentProgress.toSeq
      .filter(p => p.numInputRows > 0 && p.stateOperators.nonEmpty)
    progress.length should be >= 200

    // -- 2. state plateau: horizon ≈ 2 days of a 30-day corpus ≈ 1/15 of
    // the 1000 ids (~67) plus watermark lag. Unbounded dedup would end at
    // 1000; the gate pins steady state to <¼ corpus AND no second-half
    // growth (leak = monotone climb; plateau = flat).
    val stateRows = progress.map(_.stateOperators.head.numRowsTotal)
    val corpus = spark.read.parquet(s"$sfDir/events.parquet").count()
    val steadyMax = stateRows.drop(stateRows.length / 4).max
    steadyMax should be < (corpus / 4)
    val half = stateRows.length / 2
    val q3 = stateRows.slice(half, half + half / 2)
    val q4 = stateRows.drop(half + half / 2)
    withClue(s"state grew across the soak tail (leak): q3max=${q3.max} q4max=${q4.max}: ") {
      q4.max.toDouble should be <= q3.max.toDouble * 1.5
    }
    // eviction actually happened: the peak exceeds the final resident set
    stateRows.last should be < stateRows.max

    // -- 3. checkpoint bounded: maintenance swept old versions (200
    // committed versions, ≤20 retained + snapshots + slack per partition)
    val stateDir = new File(s"$ckpt/state")
    val versionFiles = countFiles(stateDir,
      n => n.endsWith(".delta") || n.endsWith(".snapshot"))
    val statePartitions = Option(new File(s"$ckpt/state/0").listFiles())
      .toSeq.flatten.count(_.isDirectory)
    statePartitions should be > 0
    withClue(s"$versionFiles version files across $statePartitions partitions: ") {
      versionFiles should be < statePartitions * 100
    }
    dirSize(stateDir) should be < (20L << 20)

    // -- 4. the drain is still exact: per-type counts equal batch
    // distincts; every id exactly once (no leaked duplicate, no drop)
    val got = spark.read.parquet(out)
    got.count() shouldBe corpus
    got.select(col("event_id")).distinct().count() shouldBe corpus
    val gotTypes = got.groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expTypes = spark.read.parquet(s"$sfDir/events.parquet")
      .groupBy(col("event_type")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    gotTypes shouldBe expTypes
  }
}
