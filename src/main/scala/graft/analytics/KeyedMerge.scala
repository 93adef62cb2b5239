package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyed MERGE/upsert sink over parquet (VERDICT r10 #3 — apply-changes /
  * SCD1): apply a keyed change stream (upserts + deletes) to a bucketed
  * base table with last-writer-wins semantics, rewriting ONLY the buckets
  * a batch touches. This is the data-plane idempotency layer SURVEY
  * §3.3/§4 promise ("foreachBatch + MERGE"): s10 proves exactly-once
  * *append*; real pipelines re-process, overwrite and delete, and this
  * operator is what makes a replayed epoch a no-op.
  *
  * Layout and merge shape (the Hive/Delta-style partition-overwrite MERGE,
  * without a transaction log):
  *
  *   - the base table lives at `dir/__bucket=<b>/…`, hash-bucketed by key
  *     (`pmod(xxhash64(key), numBuckets)`) — the bucket is the MERGE unit;
  *   - a change batch computes its touched buckets (≤ numBuckets ints on
  *     the driver — bounded metadata, never data), reads ONLY those base
  *     buckets (partition pruning on `__bucket`), unions the changes, and
  *     resolves last-writer-wins per key via struct-argmax on the sequence
  *     columns (the e4 argmax shape — an aggregation, not a sort window);
  *   - the result is written with DYNAMIC partition overwrite, atomically
  *     replacing exactly the touched buckets. Untouched buckets keep
  *     their files byte-for-byte.
  *
  * Tombstones are STORED, not dropped: a winning delete (`__op = 'd'`)
  * persists as the key's current version and [[read]] filters it out.
  * Storing it keeps the merge log-structured — a bucket whose every live
  * row was deleted still materializes in the written frame (dynamic
  * overwrite would otherwise skip it and resurrect stale rows), and a
  * late change with an older sequence still loses to the tombstone
  * instead of resurrecting the key. [[vacuum]] is the maintenance op
  * that physically drops tombstones once upstream replay is impossible.
  *
  * Idempotency: re-applying an already-applied batch unions rows that are
  * already the winners (same key, same sequence, same payload), so the
  * argmax reproduces the identical bucket contents — a replayed epoch
  * (driver crash between sink write and app-checkpoint save — the K4
  * at-least-once window, `/root/reference/src/processor.rs:1561-1629`)
  * cannot double-count. ChaosSpec's driver-crash scenario and
  * KeyedMergeSpec's restart test pin this.
  *
  * 100 TB shape: per batch, work = touched buckets' base rows + the batch
  * itself — one bucket-pruned scan, one key-partitioned aggregation, one
  * bucket-partitioned write; nothing corpus-sized shuffles unless the
  * batch touches every bucket. `numBuckets` is the rewrite-amplification
  * knob: size it so one bucket ≈ one task's worth of data (the f7
  * targetBytes discipline applies).
  */
object KeyedMerge {

  val BucketCol = "__bucket"
  /** 'u' = upsert, 'd' = delete; required on every change batch. */
  val OpCol = "__op"

  private def bucketOf(keyCols: Seq[String], numBuckets: Int) =
    pmod(xxhash64(keyCols.map(col): _*), lit(numBuckets.toLong)).cast("int")

  /** Test seam mirroring [[VersionedTable.crashHook]]: ChangeFeedCrashSpec
    * halts a real JVM at the named point inside [[applyChangesWithDiff]]
    * (between the feed publish and the merged write) to prove the
    * crash-window ordering the scaladoc claims. Null in production. */
  @volatile private[graft] var crashHook: String => Unit = null
  private def hook(point: String): Unit = {
    val h = crashHook
    if (h != null) h(point)
  }

  /** Apply one change batch to the base table at `dir`.
    *
    * @param changes  must carry `keyCols` ++ `seqCols` ++ [[OpCol]] plus
    *                 payload columns. Within a batch, (key, seq) must be
    *                 unique; across batches, sequence values never repeat
    *                 for a key except on replay of the identical change.
    * @param seqCols  version columns, compared lexicographically; the
    *                 greatest wins (ties only on byte-identical replays).
    */
  def applyChanges(dir: String, changes: DataFrame,
      keyCols: Seq[String], seqCols: Seq[String], numBuckets: Int): Unit = {
    // Operate on the session that OWNS the change frame (there is
    // deliberately no session parameter): inside foreachBatch that is the
    // query's CLONED session. The dynamic overwrite is an option of the
    // write itself, so no session conf can turn it off — a STATIC-mode
    // write deletes every untouched bucket of the table (found by
    // DriverCrashSpec: the first batch that didn't touch all buckets
    // silently dropped one).
    val s = changes.sparkSession
    val dataCols = changes.columns.toSeq.filterNot(_ == BucketCol)
    require(keyCols.forall(dataCols.contains), s"missing key cols in $dataCols")
    require(dataCols.contains(OpCol), s"changes must carry $OpCol ('u'|'d')")

    val ch = changes.withColumn(BucketCol, bucketOf(keyCols, numBuckets))
    // touched buckets: bounded driver metadata (≤ numBuckets ints)
    val touched = ch.select(col(BucketCol)).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return

    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val baseExists = fs.exists(path) &&
      fs.listStatus(path).exists(_.getPath.getName.startsWith(s"$BucketCol="))

    // base rows of touched buckets only — partition-pruned scan
    val all = if (!baseExists) ch else ch.unionByName(
      s.read.parquet(dir)
        .filter(col(BucketCol).isin(touched.map(Integer.valueOf).toSeq: _*))
        .select(ch.columns.map(col): _*))

    // last-writer-wins per key: struct-argmax over (seq..., op, payload...)
    // — key columns excluded (they already lead the select; a seq column
    // that IS a key contributes no ordering information within a group)
    val nonKey = dataCols.filterNot(keyCols.contains)
    val ordered = (seqCols.filterNot(keyCols.contains) ++
      nonKey.filterNot(seqCols.contains)).distinct
    val winners = all
      .groupBy((keyCols :+ BucketCol).map(col): _*)
      .agg(max(struct(ordered.map(col): _*)).as("__w"))
      .select((keyCols :+ BucketCol).map(col) ++ ordered.map(c => col(s"__w.$c")): _*)
      // bucket-aligned write layout (r12, found by the sf30 isolated
      // slope check): the agg hashes on (key, bucket), so EVERY write
      // task holds rows of EVERY touched bucket and partitionBy emits
      // tasks×buckets files — ~19k tiny files per batch at sf30 (600
      // buckets), and the dynamic-overwrite commit's per-file rename
      // turned f8 super-linear (7.4x isolated for 3x data). One
      // bucket-keyed exchange of the (deduplicated) winners makes each
      // task ≈ one bucket ≈ one file — the f7 targetBytes discipline —
      // and the commit metadata scales with buckets, not tasks×buckets.
      .repartition(math.min(touched.length, 4096), col(BucketCol))

    winners.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy(BucketCol).parquet(dir)
  }

  /** One-pass MERGE + CHANGE-DATA-FEED (VERDICT r13 #2): apply a change
    * batch exactly like [[applyChanges]] AND hand the caller the per-key
    * old↔new transition frame from the SAME state read — the "emit the
    * changes WHILE merging" shape (Delta CDF inside MERGE). The r13 s24
    * paid two state reads + two LWW resolutions per batch (one for the
    * classification join, one inside the merge); at 100 TB the state
    * scan is the commit's dominant cost, so halving it is the operator,
    * not a micro-optimization.
    *
    * Protocol (crash-window order is load-bearing):
    *   1. per-key batch winners via the [[applyChanges]] struct-argmax
    *      (argmax is associative per key, so merging the winners is
    *      equivalent to merging the raw batch);
    *   2. full-outer join winners ↔ touched base buckets, decorated
    *      with `__has_old`/`__has_new`/`__new_wins` (lexicographic
    *      seq-struct compare — the applyChanges LWW rule; ties keep the
    *      stored row, which only byte-identical replays can produce);
    *   3. the join is MATERIALIZED (eager localCheckpoint — the local
    *      stand-in for a reliable checkpoint dir) so neither consumer
    *      can lazily re-read state after step 5 overwrites it;
    *   4. `withDiff(transitions)` runs BEFORE the merged write: a
    *      change-feed consumer must publish idempotently (e.g.
    *      [[VersionedTable.commitDelta]]) so that a crash AFTER the
    *      merge replays into a no-op skip — the diff recomputed against
    *      already-merged state is empty, and an unconditional rewrite
    *      here would clobber the committed feed;
    *   5. winners (new side where `__new_wins`, stored row otherwise —
    *      tombstones retained) overwrite exactly the touched buckets,
    *      same bucket-aligned layout discipline as [[applyChanges]].
    *
    * Transition columns handed to `withDiff`: `keyCols` (coalesced),
    * `__has_old`/`__has_new`/`__new_wins`, and `__old_<c>`/`__new_<c>`
    * for every non-key data column `c` (null on an absent side). */
  def applyChangesWithDiff(dir: String, changes: DataFrame,
      keyCols: Seq[String], seqCols: Seq[String], numBuckets: Int)(
      withDiff: DataFrame => Unit): Unit = {
    val s = changes.sparkSession
    val dataCols = changes.columns.toSeq.filterNot(_ == BucketCol)
    require(keyCols.forall(dataCols.contains), s"missing key cols in $dataCols")
    require(dataCols.contains(OpCol), s"changes must carry $OpCol ('u'|'d')")
    val seqK = seqCols.filterNot(keyCols.contains)
    require(seqK.nonEmpty, "at least one non-key sequence column required")
    val nonKey = dataCols.filterNot(keyCols.contains)
    val ordered = (seqK ++ nonKey.filterNot(seqCols.contains)).distinct

    val bw = changes.withColumn(BucketCol, bucketOf(keyCols, numBuckets))
      .groupBy((keyCols :+ BucketCol).map(col): _*)
      .agg(max(struct(ordered.map(col): _*)).as("__w"))
      .select((keyCols :+ BucketCol).map(col) ++
        ordered.map(c => col(s"__w.$c")): _*)
      .cache()
    val touched = bw.select(col(BucketCol)).distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) { bw.unpersist(); return }
    val prefixed = ordered :+ BucketCol
    val newSide = bw.select(keyCols.map(col) ++
      prefixed.map(c => col(c).as(s"__new_$c")): _*)
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val baseExists = fs.exists(path) &&
      fs.listStatus(path).exists(_.getPath.getName.startsWith(s"$BucketCol="))
    val oldSide =
      if (baseExists)
        s.read.parquet(dir)
          .filter(col(BucketCol).isin(touched.map(Integer.valueOf).toSeq: _*))
          .select(keyCols.map(col) ++
            prefixed.map(c => col(c).as(s"__old_$c")): _*)
      else newSide.select(keyCols.map(col) ++
        prefixed.map(c => col(s"__new_$c").as(s"__old_$c")): _*).limit(0)
    val hasNew = col(s"__new_$BucketCol").isNotNull
    val hasOld = col(s"__old_$BucketCol").isNotNull
    val newWins = hasNew && (!hasOld ||
      struct(seqK.map(c => col(s"__new_$c")): _*) >
        struct(seqK.map(c => col(s"__old_$c")): _*))
    val jc = newSide.join(oldSide, keyCols, "full_outer")
      .withColumn("__has_new", hasNew)
      .withColumn("__has_old", hasOld)
      .withColumn("__new_wins", newWins)
      .localCheckpoint(true)
    bw.unpersist()
    try {
      withDiff(jc)
      hook("diff:post-feed")
      val winners = jc.select(keyCols.map(col) ++
        prefixed.map(c => when(col("__new_wins"), col(s"__new_$c"))
          .otherwise(col(s"__old_$c")).as(c)): _*)
        .repartition(math.min(touched.length, 4096), col(BucketCol))
      winners.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy(BucketCol).parquet(dir)
    } finally jc.unpersist()
    ()
  }

  /** The merged live table: tombstones and internal columns dropped. */
  def read(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir).filter(col(OpCol) =!= "d").drop(OpCol, BucketCol)

  /** Maintenance: physically drop tombstones (run once upstream replay of
    * the covered sequences is impossible). Full-table by nature — a bucket
    * holding ONLY tombstones must end up deleted, which dynamic overwrite
    * cannot express — so it rewrites to a sibling dir and swaps. */
  def vacuum(s: SparkSession, dir: String): Unit = {
    val tmp = s"$dir.vacuum"
    s.read.parquet(dir).filter(col(OpCol) =!= "d")
      .write.mode("overwrite").partitionBy(BucketCol).parquet(tmp)
    val conf = s.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(dir)
    val t = new org.apache.hadoop.fs.Path(tmp)
    val fs = p.getFileSystem(conf)
    fs.delete(p, true)
    fs.rename(t, p)
    ()
  }
}
