package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every query in this engine takes `(SparkSession, sfDir)` and reads through
  * here, so scans stay declarative `spark.read.parquet` — Catalyst gets
  * predicate pushdown, column pruning and partition listing for free, which is
  * the behavior that must survive a 100 TB scale-up (SURVEY §4).
  */
object Tables {
  // Each spark.read.parquet call pays a footer-read schema-inference job;
  // the registered queries read the same handful of tables hundreds of
  // times per session, so the (session, path) → DataFrame plan is memoized
  // (a DataFrame is just a logical plan — reuse within a session is free).
  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    // evict plans from stopped sessions so the map stays bounded
    cache.filterInPlace { case ((s, _), _) => !s.sparkContext.isStopped }
    cache.getOrElseUpdate((spark, path), spark.read.parquet(path))
  }

  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventTs(table(s, d, "events"))

  /** Engine-wide contract: `events.ts` is an epoch-NANOS BIGINT. The
    * physical parquet type has shipped as both TIMESTAMP(NANOS) (read as a
    * nanos long under `spark.sql.legacy.parquet.nanosAsLong`) and
    * TIMESTAMP(MICROS) (read natively as timestamp / timestamp_ntz), so the
    * loader pins the logical schema here instead of every query branching on
    * the file vintage. `unix_micros` on an LTZ timestamp returns the exact
    * stored integers independent of session timezone; the NTZ→LTZ cast is
    * exact because every engine session comes from [[graft.GraftSession]],
    * which sets `spark.sql.session.timeZone` to UTC. Pure projection —
    * works on batch and streaming frames alike. */
  def normalizeEventTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => df // already epoch-nanos (nanosAsLong vintage)
      case Some(_) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
      case None => df
    }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
