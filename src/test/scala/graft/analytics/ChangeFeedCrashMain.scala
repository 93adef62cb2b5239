package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The spawned JVM for ChangeFeedCrashSpec: drives the REAL one-pass
  * merge + change-feed protocol ([[KeyedMerge.applyChangesWithDiff]] +
  * [[VersionedTable.commitDelta]]) and `Runtime.halt(137)`s at the
  * [[KeyedMerge.crashHook]] point BETWEEN the feed publish and the
  * merged write — the window whose ordering the s24 scaladoc claims is
  * load-bearing. Modes:
  *
  *   - `seed`             — apply batch 0 (feed delta=0 + merge), exit
  *     clean;
  *   - `crash-after-feed` — die with batch 1's feed delta DURABLY
  *     published but the state merge never started;
  *   - `resume`           — re-deliver batch 1 (the at-least-once
  *     replay): the `_SUCCESS` marker must skip the feed rewrite (the
  *     diff recomputed here is against PRE-merge state, so it happens
  *     to be correct — but after a crash-after-MERGE replay it would be
  *     empty, which is why the skip is the rule) and the merge must
  *     complete.
  *
  * Batch 1 carries the adversarial shapes: a visible update, a delete,
  * a STALE change that loses to the stored winner (must emit nothing
  * and not regress the state), and a fresh insert. */
object ChangeFeedCrashMain {

  val Keys = Seq("k")
  val Seqs = Seq("seq")

  /** (key, seq, op, v) per batch. */
  def batch(v: Long): Seq[(Long, Long, String, Double)] = v match {
    case 0L => Seq((1L, 1L, "u", 10.0), (2L, 1L, "u", 20.0), (3L, 1L, "u", 30.0))
    case 1L => Seq((1L, 2L, "u", 11.0), (2L, 2L, "d", 0.0),
      (3L, 0L, "u", 99.0), (9L, 2L, "u", 90.0))
    case _ => throw new IllegalArgumentException(s"no batch $v")
  }

  private def df(s: SparkSession, v: Long): DataFrame = {
    import s.implicits._
    batch(v).toDF("k", "seq", KeyedMerge.OpCol, "v")
  }

  /** The s24-style classification over the transition frame. */
  def feedRows(diff: DataFrame, batchId: Long): DataFrame = {
    val op = KeyedMerge.OpCol
    val oldVis = coalesce(col(s"__old_$op") === "u", lit(false))
    val newVis = col(s"__new_$op") === "u"
    diff.filter(col("__new_wins"))
      .select(lit(batchId).as("version"),
        when(!oldVis && newVis, lit("added"))
          .when(oldVis && !newVis, lit("deleted"))
          .when(oldVis && newVis && col("__old_v") =!= col("__new_v"),
            lit("updated"))
          .as("change"),
        col("k"),
        when(oldVis, col("__old_v")).otherwise(lit(0.0)).as("old_v"),
        when(newVis, col("__new_v")).otherwise(lit(0.0)).as("new_v"))
      .filter(col("change").isNotNull)
  }

  def applyWithFeed(s: SparkSession, table: String, feed: String,
      v: Long): Unit =
    KeyedMerge.applyChangesWithDiff(table, df(s, v), Keys, Seqs, 4) { diff =>
      VersionedTable.commitDelta(feed, feedRows(diff, v), v)
    }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val table = args(1)
    val feed = args(2)
    val spark = graft.GraftSession.builder("local[2]", 2)
      .appName(s"graft-changefeed-crash-$mode")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mode match {
      case "seed" =>
        applyWithFeed(spark, table, feed, 0L)
      case "crash-after-feed" =>
        KeyedMerge.crashHook = p =>
          if (p == "diff:post-feed") Runtime.getRuntime.halt(137)
        applyWithFeed(spark, table, feed, 1L)
        sys.error("unreachable: the diff:post-feed hook must halt this JVM")
      case "resume" =>
        applyWithFeed(spark, table, feed, 1L)
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
