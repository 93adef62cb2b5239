package graft.sources

import graft.core.{KRecord, ShardIteratorType}

/** Per-JVM client construction seam (the real-cluster path): DSv2 options
  * carry only strings, so a deployment names a factory class
  * (`.option("clientFactory", fqcn)`) plus `clientconf.*` passthrough
  * options, and EVERY JVM — driver and executors — constructs its own
  * client instance from that config (memoized per JVM under the source's
  * client key). This is how a network-backed adapter (the AWS Kinesis
  * client of `/root/reference/src/client.rs:98-232`) deploys: credentials/
  * region/stream config travel as strings; no registry hand-off, no record
  * embedding. Implementations need a public no-arg constructor. */
trait SourceClientFactory {
  def build(conf: Map[String, String]): SourceClient
}

object SourceClientFactory {
  /** Opaque digest of a client config — used for memo keys and the
    * source's clientKey so conf VALUES (potentially credentials) never
    * surface in partition objects, exception messages, or logs
    * (ADVICE r9), and a rotated credential maps to a fresh key. */
  def confDigest(conf: Map[String, String]): String = {
    val canonical =
      conf.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString("&")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(canonical.getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString
  }

  // access-order LRU capped at 64: long-lived executors that rotate
  // credentials (new conf → new key) evict the superseded client instead
  // of accumulating one per rotation (ADVICE r9)
  private val memo = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, SourceClient](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, SourceClient]): Boolean = size() > 64
    })

  /** Build-or-reuse THIS JVM's client for (factory, conf) — one instance
    * per JVM like a real SDK client, keyed by the config's digest. */
  def clientFor(factoryClass: String, conf: Map[String, String]): SourceClient =
    memo.synchronized {
      val key = factoryClass + "?" + confDigest(conf)
      val existing = memo.get(key)
      if (existing != null) existing
      else {
        val built = Class.forName(factoryClass).getDeclaredConstructor()
          .newInstance().asInstanceOf[SourceClientFactory].build(conf)
        memo.put(key, built)
        built
      }
    }
}

/** A deterministic, stateless, unbounded-scale mock SERVICE: records are
  * computed from (shard, index) on demand — nothing is materialized, so
  * unlike [[InMemorySourceClient]] it is constructible in any JVM from a
  * two-entry config map and needs neither the registry nor partition
  * embedding. Used to exercise the factory seam end-to-end (executors
  * with an empty registry must still read) and as a load generator.
  *
  * Payload shape mirrors the events-table mock: `type|value`, with the
  * event type drawn deterministically from the shard/index hash. */
final class SyntheticSourceClient(numShards: Int, recordsPerShard: Long)
    extends IndexedSourceClient {

  private val types = Vector("click", "view", "purchase", "share", "error")

  private def shardName(i: Int): String = s"shard-$i"

  private def record(shardId: String, idx: Long): KRecord = {
    // cheap deterministic mix (splitmix-style) — stable across JVMs
    var h = idx * 0x9e3779b97f4a7c15L + shardId.hashCode.toLong
    h ^= h >>> 31; h *= 0xbf58476d1ce4e5b9L; h ^= h >>> 27
    val t = types(((h % types.size) + types.size).toInt % types.size)
    KRecord(f"$idx%010d", s"pk-${h % 1000}", s"$t|${(h % 10000) / 100.0}".getBytes("UTF-8"),
      None, shardId)
  }

  override def listShards(streamName: String): Seq[ShardInfo] =
    (0 until numShards).map(i => ShardInfo(shardName(i)))
  override def shardLength(streamName: String, shardId: String): Long = recordsPerShard
  override def iteratorAtIndex(streamName: String, shardId: String, index: Long): String =
    ShardCursor(shardId, index)
  override def indexOfIterator(streamName: String, shardId: String, iterator: String): Long =
    ShardCursor.indexOf(iterator)

  override def getShardIterator(streamName: String, shardId: String,
      iteratorType: ShardIteratorType): String = iteratorType match {
    case ShardIteratorType.TrimHorizon => ShardCursor(shardId, 0L)
    case ShardIteratorType.Latest => ShardCursor(shardId, recordsPerShard)
    case ShardIteratorType.AtSequenceNumber(seq) =>
      ShardCursor(shardId, math.min(seq.toLong, recordsPerShard))
    case ShardIteratorType.AfterSequenceNumber(seq) =>
      ShardCursor(shardId, math.min(seq.toLong + 1, recordsPerShard))
    case ShardIteratorType.AtTimestamp(_) =>
      throw SourceClientError.Other("synthetic source has no arrival timestamps")
  }

  override def getRecords(iterator: String, limit: Int): GetRecordsResult = {
    val shardId = ShardCursor.shardOf(iterator)
    val idx = ShardCursor.indexOf(iterator)
    val end = math.min(idx + limit, recordsPerShard)
    val recs = (idx until end).map(i => record(shardId, i))
    val next = if (end >= recordsPerShard) None else Some(ShardCursor(shardId, end))
    GetRecordsResult(recs, next)
  }
}

/** Factory for [[SyntheticSourceClient]] — conf keys `shards`,
  * `recordspershard` (DSv2 option maps lowercase keys — the
  * [[GraftSourceOptions]] contract). */
final class SyntheticSourceClientFactory extends SourceClientFactory {
  override def build(conf: Map[String, String]): SourceClient =
    new SyntheticSourceClient(
      conf.getOrElse("shards", "8").toInt,
      conf.getOrElse("recordspershard", "1000").toLong)
}
