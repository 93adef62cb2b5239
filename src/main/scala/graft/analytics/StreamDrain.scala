package graft.analytics

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

/** Drains a registered streaming entry's `writeStream` query. Each query
  * drains its source with `Trigger.AvailableNow` under a scratch base that
  * holds its checkpoint (`base/ckpt`) and, for the row sinks, its output
  * (`base/out`):
  *   - append mode writes the exactly-once file sink, whose re-read
  *     respects `_spark_metadata`;
  *   - complete mode overwrites `out` in each batch, so the last batch's
  *     overwrite is the whole result;
  *   - update mode appends each batch's emissions to `out`; its readers
  *     fold emissions with an idempotent aggregate (s13/s14 take the max),
  *     so a replayed batch cannot change their result;
  *   - [[drainEach]] runs the caller's own batch function.
  * There is no memory sink: it holds the output on the driver (s7's sf10
  * drain spent 27 s there; s12's breached `spark.driver.maxResultSize`
  * at sf30) and leaves a temp view behind after every run.
  *
  * Every query starts through [[graft.engine.QueryStart]], the one start
  * path it shares with the `GraftProcessor` entries: per-query confs (the
  * state-partition count, the state-store provider) reach only their
  * query, and a `file:` checkpoint gets a checkpoint file manager that
  * forks no `chmod`/`readlink` per offset-log, commit-log or state-store
  * write, as Spark's default manager does without libhadoop. Other schemes
  * and a session that names a manager keep Spark's choice. */
private[graft] object StreamDrain {

  /** Streaming state-partition sizing. A stateful query's shuffle
    * partition count is FROZEN into the state-store layout at the first
    * checkpoint — Spark cannot AQE-coalesce it afterwards — so it is the
    * one parallelism knob that must be sized to the data up front. Sized
    * from the source table's on-disk bytes (≈16 MB of input per state
    * partition, clamped to [4, session default]): at the gate SF this
    * collapses 32 near-empty state-store instances per stateful operator
    * (a stream-stream join keeps FOUR stores per partition — key-to-count
    * and key-with-index per side — each writing delta files every
    * micro-batch) down to 4; at 100 TB `bytes/16MB` dwarfs the core count
    * and the clamp returns full session parallelism. The count applies to
    * the drained query only; batch post-processing of its output runs at
    * the session default.
    *
    * `mbPerPartition` is the operator-shape dial: the default 16 MB suits
    * state-machinery-dominated queries (stream-stream joins, dedup,
    * windowed aggs — fewer stores beat idle cores; s8 measured 8.8→5.8 s
    * at sf10 with 11 partitions). Queries whose per-ROW compute dominates
    * the store overhead (MinHash signatures, per-user event folds) pass 4:
    * they regain full session cores at rehearsal SFs — sized-down runs
    * measured s11 8→16 s, s12 13→17 s at sf10 — while the gate SF still
    * collapses to the floor. */
  def statePartitions(spark: SparkSession, sfDir: String,
      table: String = "events", mbPerPartition: Int = 16): (String, String) = {
    def bytes(p: java.io.File): Long =
      if (p.isDirectory) p.listFiles().map(bytes).sum else p.length()
    val key = "spark.sql.shuffle.partitions"
    key -> statePartitionsFor(spark.conf.get(key).toLong,
      bytes(new java.io.File(s"$sfDir/$table.parquet")), mbPerPartition).toString
  }

  /** The pure sizing rule (spec-pinned in StatePartitionsSpec): one
    * partition per `mbPerPartition` of source bytes, floor 4, never above
    * the session default. */
  private[analytics] def statePartitionsFor(sessionDefault: Long,
      tableBytes: Long, mbPerPartition: Int): Long =
    math.min(sessionDefault, math.max(4L,
      tableBytes / (mbPerPartition.toLong << 20) + 1))

  /** The RocksDB state store, which `transformWithState` requires. */
  val RocksDB: (String, String) = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Drains `df` in `mode` and returns its output, re-read from `base/out`. */
  def drain(df: DataFrame, mode: OutputMode, confs: Seq[(String, String)] = Nil,
      base: String = Scratch.dir("graft_drain_")): DataFrame = {
    val out = s"$base/out"
    val w = df.writeStream.outputMode(mode)
    val sink =
      if (mode == OutputMode.Append()) w.format("parquet").option("path", out)
      else {
        val save = if (mode == OutputMode.Complete()) "overwrite" else "append"
        w.foreachBatch((b: DataFrame, _: Long) => b.write.mode(save).parquet(out))
      }
    run(df.sparkSession, sink, base, confs)
    df.sparkSession.read.parquet(out)
  }

  /** Drains `df` in append mode through the caller's batch function `f`. */
  def drainEach(df: DataFrame, base: String)(f: (DataFrame, Long) => Unit): Unit =
    run(df.sparkSession, df.writeStream.foreachBatch(f), base, Nil)

  private def run(spark: SparkSession, w: DataStreamWriter[Row], base: String,
      confs: Seq[(String, String)]): Unit =
    graft.engine.QueryStart(spark, w, s"$base/ckpt", Trigger.AvailableNow(), confs)
      .awaitTermination()
}
