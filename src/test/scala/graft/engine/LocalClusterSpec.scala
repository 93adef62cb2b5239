package graft.engine

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkEntry
import graft.core._
import graft.sources.InMemorySourceClient

/** MULTI-JVM serialization smoke (VERDICT r8 "next round" item 1):
  * `local[32]` shares one JVM, so closure-capture, task-serialization, and
  * registry-crossing bugs are structurally invisible to every other gate —
  * a non-serializable capture in the record-processing retry loop, codegen
  * of the custom expressions on an executor that never ran the driver's
  * function registration, or the DSv2 reader resolving its client from a
  * JVM-local registry would all pass local[32] and kill the first real
  * cluster deployment. `local-cluster[2,2,1024]` launches two SEPARATE
  * executor JVMs (still in-sandbox) and runs:
  *
  *   - s1: the full engine slice (stream source → record processor →
  *     checkpoint commit → aggregation), pinned against the batch
  *     aggregation computed in the same session;
  *   - n1: the MinHash near-dup family (shared signature pass, custom
  *     `graft_*` codegen expressions evaluated in executor JVMs);
  *   - d4: the Bloom decontamination path (bloom_filter_agg + custom
  *     expressions, broadcast semi-joins);
  *   - the reference's stress-gate scenario (640 records / 8 shards /
  *     batch 10 with soft-retries) — correctness assertions only: the
  *     5 s wall floor is gated in StressSpec under local[4]; here the
  *     point is that separate-JVM execution commits every shard. Note
  *     the per-record monitoring events stay EXECUTOR-local by design
  *     (events.scala contract: the cluster path for metrics is the
  *     Dataset aggregation), so unlike StressSpec this spec asserts on
  *     accumulator-carried commit results, not the event harness.
  *
  * What crosses JVMs here and nowhere else: task binaries carrying
  * `GraftInputPartition.embedded` record slices, the `RecordProcessor`
  * closure, `EventSink.Registered` handles resolving to absent registries
  * (must silently no-op), commit stats returning via accumulators, and
  * whole-stage-codegen'd plans with `graft_*` expressions compiled by
  * executor-side Janino. */
class LocalClusterSpec extends AnyFunSuite with Matchers with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _

  // mirrors build.sbt's jdk17AddOpens — executor JVMs are launched by the
  // standalone worker, not sbt, so they need the module opens passed anew
  private val addOpens = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).map(p => s"--add-opens=$p=ALL-UNNAMED").mkString(" ")

  override def beforeAll(): Unit = {
    super.beforeAll()
    // a live single-JVM session would make getOrCreate silently ignore the
    // local-cluster master and void the whole suite — stop and rebuild
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = graft.GraftSession.builder("local-cluster[2,2,1024]", 8)
      .appName("graft-local-cluster-smoke")
      // executor JVMs must see the repo's classes + spark + scala jars;
      // the test JVM's own classpath is exactly that set
      .config("spark.executor.extraClassPath", sys.props("java.class.path"))
      .config("spark.executor.extraJavaOptions", addOpens)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.sparkContext.isLocal shouldBe false
    // block until both executor JVMs register (driver + 2 entries)
    val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
    while (spark.sparkContext.getExecutorMemoryStatus.size < 3 &&
        System.nanoTime() < deadline) Thread.sleep(200)
    spark.sparkContext.getExecutorMemoryStatus.size should be >= 3
  }

  override def afterAll(): Unit = {
    try {
      if (spark != null) spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    } finally super.afterAll()
  }

  test("s1 engine slice: stream count-by-type equals the batch aggregation") {
    val got = SparkEntry.queries("s1_stream_count_by_type")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = graft.analytics.Tables.events(spark, sfDir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe expected
    got.values.sum should be > 0L
  }

  test("n1 MinHash near-dup runs distributed with sane pair output") {
    val rows = SparkEntry.queries("n1_minhash_neardup")(spark, sfDir).collect()
    rows.length should be > 0
    val (aIdx, bIdx) = (0, 1) // (a_id, b_id, ...) contract
    rows.foreach { r =>
      r.getLong(aIdx) should be < r.getLong(bIdx) // unordered pairs, a < b
    }
  }

  test("d4 Bloom decontamination runs distributed with non-empty output") {
    SparkEntry.queries("d4_bloom_decontaminate")(spark, sfDir)
      .count() should be > 0L
  }

  test("d7 direct containment path runs distributed (graft_intersect_count + incidence join)") {
    val rows = SparkEntry.queries("d7_containment_dedup")(spark, sfDir).collect()
    rows.length should be > 0
    rows.foreach { r =>
      // 2·n_shared ≥ size_a is the operator's own threshold — violated
      // rows would mean the per-pair count degraded across JVMs
      (2L * r.getLong(3)) should be >= r.getLong(2)
    }
  }

  test("e9 two-level kNN graph runs distributed (graft_cosine codegen + broadcast codebooks)") {
    SparkEntry.queries("e9_knn_graph_2level")(spark, sfDir).count() should be > 0L
  }

  test("clientFactory: executors construct the client per-JVM from options alone") {
    // no registry entry in ANY JVM (the driver never registers this key
    // either), no embedding (the synthetic client computes records on
    // demand and embeds nothing) — the ONLY way an executor can read is
    // the SourceClientFactory seam, i.e. the real-cluster deployment path
    import org.apache.spark.sql.streaming.Trigger
    val total = new java.util.concurrent.atomic.AtomicLong(0)
    val q = spark.readStream.format("graft-stream")
      .option("clientFactory", classOf[graft.sources.SyntheticSourceClientFactory].getName)
      .option("clientconf.shards", "4")
      .option("clientconf.recordspershard", "100")
      .option("streamName", "synthetic")
      .option("batchSize", "25")
      .load()
      .writeStream
      .foreachBatch((df: org.apache.spark.sql.DataFrame, _: Long) =>
        { total.addAndGet(df.count()); () })
      .option("checkpointLocation",
        Files.createTempDirectory("synth-lc").toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    total.get() shouldBe 400L
  }

  test("s8 stream-stream interval join: executor-JVM state stores reproduce the batch join") {
    // the one stateful-streaming path nothing else runs multi-JVM: four
    // HDFSBackedStateStore instances per partition (two per join side)
    // live in EXECUTOR JVMs and checkpoint via the driver-chosen temp dir;
    // the drained pair set must equal the batch interval join (p8, the
    // query the s8 oracle is shared with) computed in the same session
    val stream = SparkEntry.queries("s8_stream_interval_join")(spark, sfDir)
      .collect().toSeq
    val batch = SparkEntry.queries("p8_interval_join")(spark, sfDir)
      .collect().toSeq
    stream.size should be > 0
    stream.toSet shouldBe batch.toSet
  }

  test("stress scenario: 640 records / 8 shards commit correctly across executor JVMs") {
    val s = spark
    import s.implicits._
    val shards = (0 until 8).map { sh =>
      s"shard-$sh" -> (0 until 80).map(i =>
        KRecord(f"$i%010d", s"pk-$i", s"payload-$sh-$i".getBytes("UTF-8"), None, s"shard-$sh"))
    }.toMap
    val store = new InMemoryCheckpointStore
    val processed = new java.util.concurrent.atomic.AtomicLong(0)
    val gp = new GraftProcessor[String](
      ProcessorConfig("stress", batchSize = 10, maxConcurrentShards = Some(8)),
      new StressSpec.RetryingEcho,
      new InMemorySourceClient(shards),
      store,
      onItems = (ds, _) => { processed.addAndGet(ds.count()); () })
    gp.run(spark, Files.createTempDirectory("stress-lc").toString) shouldBe Right(())
    processed.get() shouldBe 640L
    store.all.keySet shouldBe (0 until 8).map(s => s"shard-$s").toSet
    store.all.values.toSet shouldBe Set("0000000079")
  }
}
