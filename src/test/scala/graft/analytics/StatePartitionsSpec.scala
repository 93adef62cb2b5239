package graft.analytics

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Pins the streaming state-partition sizing contract
  * (StreamDrain.statePartitionsFor / statePartitions): the
  * shuffle-partition count of a stateful query is frozen into the
  * state-store layout at the first checkpoint, so it is sized from source
  * bytes up front — floor 4, clamped to the session default — and it
  * reaches the drained query without ever showing in the caller's session
  * conf (including when the query fails to start). The session default
  * is 8, above the floor, so a leaked sized count shows. */
class StatePartitionsSpec extends AnyFunSuite with Matchers with SparkSpec {

  override lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 8).appName(suiteName).getOrCreate()

  test("sizing rule: floor 4, ~1 partition per mbPerPartition, clamped to session default") {
    val mb = 1L << 20
    // tiny gate-SF input collapses to the floor regardless of density
    StreamDrain.statePartitionsFor(32, 2 * mb, 16) shouldBe 4
    StreamDrain.statePartitionsFor(32, 2 * mb, 4) shouldBe 4
    // rehearsal-SF input sizes by density: 162 MB -> 11 at 16 MB/part,
    // full session parallelism at 4 MB/part
    StreamDrain.statePartitionsFor(32, 162 * mb, 16) shouldBe 11
    StreamDrain.statePartitionsFor(32, 162 * mb, 4) shouldBe 32
    // 100 TB dwarfs any core count -> clamp returns session default
    StreamDrain.statePartitionsFor(1000, 100L * mb * mb, 16) shouldBe 1000
    // never above the session default even between floor and clamp
    StreamDrain.statePartitionsFor(8, 162 * mb, 16) shouldBe 8
    // the clamp WINS over the floor (ADVICE r9): a session default below 4
    // is never exceeded — "never above the session default" is absolute
    StreamDrain.statePartitionsFor(2, 2 * mb, 16) shouldBe 2
    StreamDrain.statePartitionsFor(2, 162 * mb, 16) shouldBe 2
  }

  test("a drained query gets the sized count while the caller's conf stays at its default, also when start() throws") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.streaming.OutputMode
    val key = "spark.sql.shuffle.partitions"
    spark.conf.get(key) shouldBe "8"
    val dir = java.nio.file.Files.createTempDirectory("graft-spp").toFile
    dir.deleteOnExit()
    // a "table" of ~2 MB -> floor 4 for the drained query
    val f = new java.io.File(dir, "events.parquet")
    f.deleteOnExit() // the dir hook can't delete a non-empty dir
    val out = new java.io.FileOutputStream(f)
    out.write(new Array[Byte](2 << 20)); out.close()
    val sized = StreamDrain.statePartitions(spark, dir.getPath)
    sized shouldBe (key -> "4")

    val src = Scratch.dir("graft-spp-src")
    spark.range(100).selectExpr("id % 5 AS k").write.mode("overwrite").parquet(src)
    val stream = spark.readStream.schema("k BIGINT").parquet(src)
    val probe = new ConfProbe(spark, Seq(key, StreamDrain.RocksDB._1))
    spark.streams.addListener(probe)
    try {
      val counts = StreamDrain.drain(stream.groupBy(col("k")).count(),
        OutputMode.Complete(), Seq(sized))
      counts.count() shouldBe 5
      probe.awaitStatefulQueries(1)
    } finally spark.streams.removeListener(probe)
    probe.stateParts.asScala.map(_._2).toSet shouldBe Set(4L)
    probe.seen.asScala.map(_(key)).toSet shouldBe Set(Some("8"))
    spark.conf.get(key) shouldBe "8"

    // complete mode without an aggregation fails inside start(): the
    // per-query confs must be gone from the caller's session all the same
    an[org.apache.spark.sql.AnalysisException] should be thrownBy
      StreamDrain.drain(stream, OutputMode.Complete(), Seq(sized, StreamDrain.RocksDB))
    spark.conf.get(key) shouldBe "8"
    spark.conf.getAll.get(StreamDrain.RocksDB._1) shouldBe None
  }
}
