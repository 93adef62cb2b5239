package graft.analytics

import java.io.File

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Contract of the keyed MERGE sink (VERDICT r10 #3):
  *
  *  - RESTART NO-OP: re-applying a committed batch reproduces the
  *    identical table (the idempotency the K4 at-least-once window needs);
  *  - last-writer-wins + tombstones: deletes remove from [[KeyedMerge
  *    .read]], an older-sequence change cannot resurrect a deleted key,
  *    a newer one can;
  *  - partition surgery: a batch rewrites ONLY its touched buckets —
  *    untouched buckets keep their files byte-for-byte;
  *  - vacuum drops tombstones physically, including tombstone-only
  *    buckets.
  */
class KeyedMergeSpec extends AnyFunSuite with Matchers with SparkSpec {

  private def freshDir(): String =
    s"${Scratch.dir("graft-merge-spec")}/t${java.util.UUID.randomUUID().toString.take(8)}"

  private def changes(rows: (Long, Long, String, String)*) = {
    val sess = spark
    import sess.implicits._
    rows.toSeq.toDF("k", "seq", KeyedMerge.OpCol, "payload")
  }

  private def state(dir: String): Set[(Long, Long, String)] =
    KeyedMerge.read(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("seq"), r.getAs[String]("payload")))
      .toSet

  private def apply1(dir: String, df: org.apache.spark.sql.DataFrame, nb: Int = 4): Unit =
    KeyedMerge.applyChanges(dir, df, Seq("k"), Seq("seq"), nb)

  test("upsert + delete + last-writer-wins") {
    val dir = freshDir()
    apply1(dir, changes((1L, 1L, "u", "a"), (2L, 1L, "u", "b"), (3L, 1L, "u", "c")))
    state(dir) shouldBe Set((1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"))
    // newer upsert wins; delete removes; untouched key stays
    apply1(dir, changes((1L, 2L, "u", "a2"), (2L, 2L, "d", "")))
    state(dir) shouldBe Set((1L, 2L, "a2"), (3L, 1L, "c"))
    // an OLDER change loses to the stored tombstone (no resurrection)...
    apply1(dir, changes((2L, 1L, "u", "ghost")))
    state(dir) shouldBe Set((1L, 2L, "a2"), (3L, 1L, "c"))
    // ...a NEWER one re-inserts
    apply1(dir, changes((2L, 3L, "u", "back")))
    state(dir) shouldBe Set((1L, 2L, "a2"), (3L, 1L, "c"), (2L, 3L, "back"))
  }

  test("re-applying a committed batch is a no-op (restart window)") {
    val dir = freshDir()
    val b1 = changes((1L, 1L, "u", "a"), (2L, 1L, "u", "b"), (7L, 1L, "u", "g"))
    val b2 = changes((1L, 2L, "u", "a2"), (2L, 2L, "d", ""), (9L, 2L, "u", "i"))
    apply1(dir, b1); apply1(dir, b2)
    val committed = state(dir)
    val rawBefore = spark.read.parquet(dir).collect().map(_.toString).sorted
    apply1(dir, b2) // the replayed epoch
    state(dir) shouldBe committed
    // including the stored tombstones — full physical content identical
    spark.read.parquet(dir).collect().map(_.toString).sorted shouldBe rawBefore
  }

  test("a batch rewrites only its touched buckets") {
    val dir = freshDir()
    val nb = 8
    // spread keys over many buckets
    apply1(dir, changes((0L to 63L).map(k => (k, 1L, "u", s"v$k")): _*), nb)
    def bucketFiles(): Map[String, Set[String]] =
      Option(new File(dir).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(s"${KeyedMerge.BucketCol}="))
        .map(d => d.getName -> Option(d.listFiles()).toSeq.flatten
          .map(_.getName).filterNot(_.startsWith("_")).toSet)
        .toMap
    val before = bucketFiles()
    before.size shouldBe nb // 64 keys cover all 8 buckets
    apply1(dir, changes((5L, 2L, "u", "v5b")), nb) // one key → one bucket
    val after = bucketFiles()
    val changedBuckets = after.keySet.filter(b => after(b) != before.getOrElse(b, Set.empty))
    withClue(s"buckets rewritten by a single-key batch: $changedBuckets: ") {
      changedBuckets.size shouldBe 1
    }
    // and the data in the untouched buckets survived
    state(dir) should contain ((63L, 1L, "v63"))
    state(dir) should contain ((5L, 2L, "v5b"))
  }

  test("vacuum drops tombstones, including tombstone-only buckets") {
    val dir = freshDir()
    apply1(dir, changes((1L, 1L, "u", "a"), (2L, 1L, "u", "b")), 4)
    apply1(dir, changes((2L, 2L, "d", "")), 4)
    val live = state(dir)
    spark.read.parquet(dir).count() shouldBe 2 // tombstone still stored
    KeyedMerge.vacuum(spark, dir)
    spark.read.parquet(dir).count() shouldBe 1 // physically gone
    state(dir) shouldBe live
    // a table whose ONLY key was deleted vacuums to empty buckets on disk
    val dir2 = freshDir()
    apply1(dir2, changes((1L, 1L, "u", "a")), 4)
    apply1(dir2, changes((1L, 2L, "d", "")), 4)
    KeyedMerge.vacuum(spark, dir2)
    Option(new File(dir2).listFiles()).toSeq.flatten
      .count(_.getName.startsWith(s"${KeyedMerge.BucketCol}=")) shouldBe 0
  }

  test("s20 streaming CDC apply equals f8's batch apply — batching invariance") {
    val sf = "/root/testdata/sf0.001"
    val viaStream = StreamingQueries.s20StreamKeyedMerge(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val viaBatch = FormatQueries.f8KeyedMerge(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    viaStream should not be empty
    viaStream shouldBe viaBatch
  }

  test("s22 versioned ingest equals s20's merged state; every micro-batch is a named immutable version") {
    val sf = "/root/testdata/sf0.001"
    // caller-supplied base so the assertions below inspect the EXACT
    // table this run wrote (ADVICE r11: scanning /tmp for the newest
    // name match is flaky under parallel suites / leftover dirs)
    val base = java.nio.file.Files.createTempDirectory("graft_s22spec_")
      .toString
    val viaLog = StreamingQueries.s22StreamVersionedIngestAt(spark, sf, base)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val viaMerge = FormatQueries.f8KeyedMerge(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    viaLog should not be empty
    // the append-only versioned log converges to the in-place merge
    viaLog shouldBe viaMerge
    // and the history IS the layout: the scratch table holds one
    // immutable delta=<batchId> dir per micro-batch (the second
    // AvailableNow run added none — a double-applied epoch would show
    // as an extra dir or a changed state, both caught above), each
    // carrying its commit marker and no stray temp/partial dirs
    val table = new File(base, "table")
    val entries = Option(table.listFiles()).toSeq.flatten
    val deltas = entries.filter(_.getName.startsWith("delta="))
    deltas.length should be >= 1
    deltas.foreach { d =>
      new File(d, "_SUCCESS").exists() shouldBe true
    }
    entries.count(_.getName.startsWith(".tmp_delta_")) shouldBe 0
  }

  test("s22 commitDelta recovers a crash-window partial delta instead of skipping it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_vt_crash_")
      .toString + "/table"
    val b0 = Seq((1L, 1L, "u", 10.0)).toDF("k", "seq", KeyedMerge.OpCol, "v")
    VersionedTable.commitDelta(dir, b0, 0L)
    // simulate the ADVICE r11 crash window: the committer created the
    // target dir (no _SUCCESS, no data) and the driver died mid-write
    val partial = new File(dir, "delta=1")
    partial.mkdirs() shouldBe true
    val b1 = Seq((1L, 2L, "u", 20.0)).toDF("k", "seq", KeyedMerge.OpCol, "v")
    VersionedTable.commitDelta(dir, b1, 1L) // replayed epoch must WRITE
    new File(partial, "_SUCCESS").exists() shouldBe true
    val state = VersionedTable
      .readAsOf(spark, dir, Seq("k"), Seq("seq"), Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(2)))
    state shouldBe Array((1L, 20.0)) // the recovered epoch applied
    // and a committed delta is never re-applied: replay epoch 1 with
    // DIFFERENT (would-be-forked) content — the marker wins, no rewrite
    val forged = Seq((1L, 3L, "u", 99.0)).toDF("k", "seq", KeyedMerge.OpCol, "v")
    VersionedTable.commitDelta(dir, forged, 1L)
    VersionedTable.readAsOf(spark, dir, Seq("k"), Seq("seq"), Long.MaxValue)
      .collect().map(r => (r.getLong(0), r.getDouble(2))) shouldBe
      Array((1L, 20.0))
  }
}
