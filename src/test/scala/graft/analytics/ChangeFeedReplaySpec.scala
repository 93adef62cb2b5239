package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Contract of the one-pass merge + change-data-feed seam
  * ([[KeyedMerge.applyChangesWithDiff]], VERDICT r13 #2 / ADVICE r13 —
  * the s24 engine):
  *
  *  - MERGE EQUIVALENCE: the state applyChangesWithDiff leaves behind is
  *    byte-identical in content to [[KeyedMerge.applyChanges]] over the
  *    same batch sequence (tombstones retained, LWW, no resurrection);
  *  - DIFF CLASSIFICATION: the transition frame yields exactly the
  *    added/deleted/updated rows of diff(state_before, state_after), and
  *    a change that LOSES to the stored winner emits nothing;
  *  - REPLAY AFTER MERGE COMMITTED (the window ADVICE r13 flagged): a
  *    replayed batch recomputes an EMPTY diff against the already-merged
  *    state — the `_SUCCESS`-marker skip in
  *    [[VersionedTable.commitDelta]] must preserve the committed feed
  *    instead of clobbering it, and the re-merge must be a state no-op;
  *  - CRASH BETWEEN FEED PUBLISH AND MERGE (simulated by throwing in the
  *    callback): the feed is committed, the state untouched; the replay
  *    skips the feed write and completes the merge.
  */
class ChangeFeedReplaySpec extends AnyFunSuite with Matchers with SparkSpec {

  private val op = KeyedMerge.OpCol

  private def freshDir(): String =
    s"${Scratch.dir("graft-cdf-spec")}/t${java.util.UUID.randomUUID().toString.take(8)}"

  private def changes(rows: (Long, Long, String, String)*) = {
    val sess = spark
    import sess.implicits._
    rows.toSeq.toDF("k", "seq", op, "payload")
  }

  private def state(dir: String): Set[(Long, Long, String)] =
    KeyedMerge.read(spark, dir).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("seq"), r.getAs[String]("payload")))
      .toSet

  /** The s24 classification over the transition frame, on this spec's
    * tiny schema (payload = the one visible column). */
  private def feedRows(diff: DataFrame, batchId: Long): DataFrame = {
    val oldVis = coalesce(col(s"__old_$op") === "u", lit(false))
    val newVis = col(s"__new_$op") === "u"
    diff.filter(col("__new_wins"))
      .select(lit(batchId).as("version"),
        when(!oldVis && newVis, lit("added"))
          .when(oldVis && !newVis, lit("deleted"))
          .when(oldVis && newVis &&
            col("__old_payload") =!= col("__new_payload"), lit("updated"))
          .as("change"),
        col("k"),
        when(oldVis, col("__old_payload")).otherwise(lit("")).as("old_p"),
        when(newVis, col("__new_payload")).otherwise(lit("")).as("new_p"))
      .filter(col("change").isNotNull)
  }

  private def applyWithFeed(dir: String, feed: String, df: DataFrame,
      batchId: Long): Unit =
    KeyedMerge.applyChangesWithDiff(dir, df, Seq("k"), Seq("seq"), 4) { diff =>
      VersionedTable.commitDelta(feed, feedRows(diff, batchId), batchId)
    }

  private def feedSet(feed: String): Set[(Long, String, Long, String, String)] =
    spark.read.parquet(feed).collect()
      .map(r => (r.getAs[Long]("version"), r.getAs[String]("change"),
        r.getAs[Long]("k"), r.getAs[String]("old_p"), r.getAs[String]("new_p")))
      .toSet

  private val b1 = Seq((1L, 1L, "u", "a"), (2L, 1L, "u", "b"), (3L, 1L, "u", "c"))
  private val b2 = Seq(
    (1L, 2L, "u", "a2"), // visible update
    (2L, 2L, "d", ""), // delete
    (3L, 0L, "u", "stale"), // LOSES to the stored seq=1 row: no emission
    (9L, 2L, "u", "i")) // added

  test("merge equivalence: same state as applyChanges over the same batches") {
    val viaDiff = freshDir(); val viaPlain = freshDir(); val feed = freshDir()
    Seq(b1, b2).zipWithIndex.foreach { case (b, i) =>
      applyWithFeed(viaDiff, feed, changes(b: _*), i.toLong)
      KeyedMerge.applyChanges(viaPlain, changes(b: _*),
        Seq("k"), Seq("seq"), 4)
    }
    state(viaDiff) shouldBe state(viaPlain)
    state(viaDiff) shouldBe Set((1L, 2L, "a2"), (3L, 1L, "c"), (9L, 2L, "i"))
    // tombstones retained in the raw table, not just filtered live reads
    spark.read.parquet(viaDiff).filter(col(op) === "d")
      .select(col("k")).collect().map(_.getLong(0)).toSeq shouldBe Seq(2L)
  }

  test("diff classification: added/updated/deleted; a losing change emits nothing") {
    val dir = freshDir(); val feed = freshDir()
    applyWithFeed(dir, feed, changes(b1: _*), 0L)
    applyWithFeed(dir, feed, changes(b2: _*), 1L)
    feedSet(feed) shouldBe Set(
      (0L, "added", 1L, "", "a"), (0L, "added", 2L, "", "b"),
      (0L, "added", 3L, "", "c"),
      (1L, "updated", 1L, "a", "a2"), (1L, "deleted", 2L, "b", ""),
      (1L, "added", 9L, "", "i"))
  }

  test("replay after the merge committed: feed preserved, state no-op (ADVICE r13)") {
    val dir = freshDir(); val feed = freshDir()
    applyWithFeed(dir, feed, changes(b1: _*), 0L)
    applyWithFeed(dir, feed, changes(b2: _*), 1L)
    val feedBefore = feedSet(feed); val stateBefore = state(dir)
    // the at-least-once window: batch 1 committed feed AND merge, but the
    // stream checkpoint didn't — the engine re-delivers batch 1 verbatim.
    // Its diff against the merged state is EMPTY (nothing beats itself);
    // an unconditional feed rewrite would clobber delta=1 with 0 rows.
    applyWithFeed(dir, feed, changes(b2: _*), 1L)
    feedSet(feed) shouldBe feedBefore
    state(dir) shouldBe stateBefore
  }

  test("crash between feed publish and merge: replay skips the feed, completes the merge") {
    val dir = freshDir(); val feed = freshDir()
    applyWithFeed(dir, feed, changes(b1: _*), 0L)
    val stateBefore = state(dir)
    a[RuntimeException] should be thrownBy {
      KeyedMerge.applyChangesWithDiff(dir, changes(b2: _*),
        Seq("k"), Seq("seq"), 4) { diff =>
        VersionedTable.commitDelta(feed, feedRows(diff, 1L), 1L)
        throw new RuntimeException("crash after feed publish")
      }
    }
    // feed for batch 1 is durably committed; the merge never ran
    feedSet(feed).count(_._1 == 1L) shouldBe 3
    state(dir) shouldBe stateBefore
    // replay completes: the marker skip keeps the feed rows written
    // against the PRE-merge state (which is also what this replay sees)
    val feedAfterCrash = feedSet(feed)
    applyWithFeed(dir, feed, changes(b2: _*), 1L)
    feedSet(feed) shouldBe feedAfterCrash
    state(dir) shouldBe Set((1L, 2L, "a2"), (3L, 1L, "c"), (9L, 2L, "i"))
  }
}
