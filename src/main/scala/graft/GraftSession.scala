package graft

import org.apache.spark.sql.SparkSession

/** The one place an engine session is configured: every `SparkSession` the
  * program and its specs start comes from [[builder]]. It fixes the settings
  * the engine's results depend on:
  *   - `spark.sql.session.timeZone=UTC`: [[graft.analytics.Tables.normalizeEventTs]]
  *     converts TIMESTAMP(MICROS) event times exactly only under UTC;
  *   - `spark.sql.legacy.parquet.nanosAsLong=true`: `events.parquet` may carry
  *     TIMESTAMP(NANOS), which Spark can only read as epoch-nanos longs;
  *   - the master, the shuffle partition count and no web UI.
  *
  * Callers add their own app name and extra confs to the returned builder. */
object GraftSession {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
