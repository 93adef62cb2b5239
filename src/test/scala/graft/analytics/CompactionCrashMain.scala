package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The spawned JVM for CompactionCrashSpec (VERDICT r12 #4): drives the
  * REAL [[VersionedTable]] commit/compaction protocol and
  * `Runtime.halt(137)`s at a named [[VersionedTable.crashHook]] point,
  * so every crash window the scaladoc claims recoverable is exercised
  * by an actual JVM death, not a simulated flag:
  *
  *   - `seed`           — commit deltas 0..2 and exit clean;
  *   - `crash-commit`   — die with delta 3 durable in its hidden temp
  *     dir, publish rename pending (the partial-delta window);
  *   - `crash-between`  — recover + publish delta 3, then die BETWEEN
  *     `commitDelta` and `compactUpTo` (s23's maintenance window: the
  *     compaction that batch owed never starts);
  *   - `crash-retire`   — die mid-phase-2 of `compactUpTo(3)`: snapshot
  *     durable, deltas 0–1 retired, 2–3 still on disk;
  *   - `crash-publish`  — re-enter `compactUpTo(3)` (must SKIP phase 1
  *     on the durable marker), die after the full retire with the
  *     publish rename pending — the window where a reader would see
  *     neither the old log nor the new base;
  *   - `resume`         — business as usual: commit delta 4, finish
  *     `compactUpTo(3)`, exit clean.
  *
  * The batch contents are deterministic and include the adversarial
  * tombstone shapes (a tombstone that must OUTLIVE compaction to keep
  * beating an older-seq upsert in a later delta; a legitimate
  * post-tombstone resurrection), so the parent's LWW oracle check is
  * sensitive to every known way a crash could corrupt the log. */
object CompactionCrashMain {

  val Keys = Seq("k")
  val Seqs = Seq("seq")

  /** Delta contents by version: (key, seq, op, v). */
  def batch(v: Long): Seq[(Long, Long, String, Double)] = v match {
    case 0L => (1L to 8L).map(k => (k, 1L, "u", 10.0 * k))
    case 1L => (1L to 4L).map(k => (k, 2L, "u", 100.0 + k)) :+
      ((5L, 2L, "d", 0.0))
    // key 5: an UPSERT with an OLDER seq than its delta-1 tombstone —
    // the row compaction must keep losing to the retained tombstone;
    // key 6: tombstoned here, resurrected in delta 3
    case 2L => Seq((5L, 1L, "u", 555.0), (6L, 3L, "d", 0.0),
      (9L, 1L, "u", 90.0))
    case 3L => Seq((6L, 4L, "u", 606.0), (2L, 3L, "d", 0.0))
    case 4L => Seq((7L, 5L, "u", 707.0), (10L, 1L, "u", 100.0))
    case _ => throw new IllegalArgumentException(s"no batch $v")
  }

  private def df(s: SparkSession, v: Long): DataFrame = {
    import s.implicits._
    batch(v).toDF("k", "seq", KeyedMerge.OpCol, "v")
  }

  private def haltAt(point: String): Unit =
    VersionedTable.crashHook = p => {
      if (p == point) Runtime.getRuntime.halt(137)
    }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val dir = args(1)
    val spark = graft.GraftSession.builder("local[2]", 2)
      .appName(s"graft-compaction-crash-$mode")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    mode match {
      case "seed" =>
        (0L to 2L).foreach(v => VersionedTable.commitDelta(dir, df(spark, v), v))
      case "crash-commit" =>
        haltAt("commit:pre-publish")
        VersionedTable.commitDelta(dir, df(spark, 3L), 3L)
        sys.error("unreachable: the commit hook must halt this JVM")
      case "crash-between" =>
        VersionedTable.commitDelta(dir, df(spark, 3L), 3L) // recovers tmp
        Runtime.getRuntime.halt(137) // dies before compactUpTo(3) starts
      case "crash-retire" =>
        haltAt("compact:retired:1")
        VersionedTable.compactUpTo(spark, dir, 3L, Keys, Seqs)
        sys.error("unreachable: the retire hook must halt this JVM")
      case "crash-publish" =>
        haltAt("compact:pre-publish")
        VersionedTable.compactUpTo(spark, dir, 3L, Keys, Seqs)
        sys.error("unreachable: the publish hook must halt this JVM")
      case "resume" =>
        VersionedTable.commitDelta(dir, df(spark, 4L), 4L)
        VersionedTable.compactUpTo(spark, dir, 3L, Keys, Seqs)
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }
}
