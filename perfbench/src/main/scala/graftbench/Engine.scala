package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.core._
import graft.engine.GraftProcessor
import graft.monitoring.{EventSink, MetricsAggregator, ProcessingEvent, ProcessingEventType}
import graft.processor.{PartitionWatchdog, RecordProcessing, RecordProcessor}
import graft.sources._

/** The seeded record plan. Record `idx` of shard `shard` is a pure function
  * of (seed, shard, idx): a splitmix64 hash decides its event type, user,
  * value, and whether it soft-fails once or is a poison record. The Python
  * checker recomputes the same hash independently. */
object Plan {
  val Types: Array[String] = Array("view", "click", "purchase", "signup", "error")
  val KeptType = "purchase"

  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def hash(seed: Long, shard: Int, idx: Long): Long =
    mix(mix(seed * 1000003L + shard) ^ idx)

  def typeOf(h: Long): Int = ((h >>> 1) % 5).toInt
  def userOf(h: Long): Long = (h >>> 8) % 100000L
  def valueOf(h: Long): Long = (h >>> 28) % 10000L
  def softFails(h: Long): Boolean = ((h >>> 44) % 100L) == 0L
  def poison(h: Long): Boolean = ((h >>> 52) % 4096L) == 7L

  private val digits = 12
  /** Zero-padded sequence number, so lexicographic order is index order
    * (the engine's checkpoint fold takes the lexicographic max). */
  def seq(idx: Long): String = {
    val c = new Array[Char](digits)
    var v = idx
    var i = digits - 1
    while (i >= 0) { c(i) = ('0' + (v % 10)).toChar; v /= 10; i -= 1 }
    new String(c)
  }
  def shardId(s: Int): String = s"shard-$s"
  def shardIndex(id: String): Int = id.substring(6).toInt

  def payload(h: Long): Array[Byte] =
    s"${Types(typeOf(h))},${userOf(h)},${valueOf(h)}".getBytes(java.nio.charset.StandardCharsets.UTF_8)
}

/** The benchmark's source: `shards` shards of `perShard` records each,
  * computed on demand from the plan. With `ratePerShard > 0` the source is
  * open-loop: record i of a shard becomes visible only at its due time
  * `startNs + i / ratePerShard`, whatever the engine is doing. */
final class PlanSource(seed: Long, shards: Int, perShard: Long,
    ratePerShard: Double = 0.0, @volatile var startNs: Long = 0L)
    extends IndexedSourceClient {
  val getRecordsCalls = new LongAdder
  val getRecordsNs = new LongAdder

  /** Records due by `nowNs` in one shard. */
  def dueBy(nowNs: Long): Long =
    if (ratePerShard <= 0) perShard
    else if (nowNs < startNs) 0L
    else math.min(perShard, ((nowNs - startNs) / 1e9 * ratePerShard).toLong + 1L)

  override def listShards(streamName: String): Seq[ShardInfo] =
    (0 until shards).map(s => ShardInfo(Plan.shardId(s)))
  override def shardLength(streamName: String, shardId: String): Long = dueBy(System.nanoTime())
  override def iteratorAtIndex(streamName: String, shardId: String, index: Long): String =
    s"$shardId#$index"
  override def indexOfIterator(streamName: String, shardId: String, iterator: String): Long =
    iterator.substring(iterator.lastIndexOf('#') + 1).toLong
  override def getShardIterator(streamName: String, shardId: String,
      iteratorType: ShardIteratorType): String = iteratorType match {
    case ShardIteratorType.TrimHorizon => s"$shardId#0"
    case ShardIteratorType.Latest => s"$shardId#${shardLength(streamName, shardId)}"
    case ShardIteratorType.AtSequenceNumber(q) => s"$shardId#${q.toLong}"
    case ShardIteratorType.AfterSequenceNumber(q) => s"$shardId#${q.toLong + 1}"
    case ShardIteratorType.AtTimestamp(_) => s"$shardId#0"
  }

  override def getRecords(iterator: String, limit: Int): GetRecordsResult = {
    val t0 = if (Trace.enabled) System.nanoTime() else 0L
    val cut = iterator.lastIndexOf('#')
    val shardId = iterator.substring(0, cut)
    val shard = Plan.shardIndex(shardId)
    val from = iterator.substring(cut + 1).toLong
    val end = math.min(shardLength("", shardId), from + limit)
    val b = Vector.newBuilder[KRecord]
    var i = from
    while (i < end) {
      val h = Plan.hash(seed, shard, i)
      b += KRecord(Plan.seq(i), shardId, Plan.payload(h), None, shardId)
      i += 1
    }
    val next = if (end >= perShard) None else Some(s"$shardId#$end")
    if (Trace.enabled) {
      getRecordsCalls.increment(); getRecordsNs.add(System.nanoTime() - t0)
    }
    GetRecordsResult(b.result(), next)
  }
}

final case class BenchItem(shard: String, idx: Long, kind: String, value: Long)

/** Counts the record function keeps in the traced run. Static, because
  * Spark ships a copy of the function to each task (all in this JVM). */
object FnCounters {
  val attempts = new LongAdder; val softRetries = new LongAdder
  val deadLetters = new LongAdder; val userNs = new LongAdder
  def reset(): Unit = Seq(attempts, softRetries, deadLetters, userNs).foreach(_.reset())
}

/** Decodes every payload. `keepAll` maps every record to an item; otherwise
  * only the kept event type becomes an item. Planned records soft-fail on
  * their first attempt, and poison records fail hard (dead letter). */
final class PlanRecordFn(seed: Long, keepAll: Boolean, failures: Boolean)
    extends RecordProcessor[BenchItem] {
  override def processRecord(r: KRecord, m: RecordMetadata): Either[ProcessingError, Option[BenchItem]] =
    if (!Trace.enabled) decide(r, m)
    else {
      val t0 = System.nanoTime()
      val out = decide(r, m)
      FnCounters.userNs.add(System.nanoTime() - t0)
      FnCounters.attempts.increment()
      out match {
        case Left(_: ProcessingError.SoftFailure) => FnCounters.softRetries.increment()
        case Left(_) => FnCounters.deadLetters.increment()
        case _ => ()
      }
      out
    }

  private def decide(r: KRecord, m: RecordMetadata): Either[ProcessingError, Option[BenchItem]] = {
    val p = new String(r.data, java.nio.charset.StandardCharsets.UTF_8)
    val c1 = p.indexOf(','); val c2 = p.indexOf(',', c1 + 1)
    val kind = p.substring(0, c1)
    val value = java.lang.Long.parseLong(p, c2 + 1, p.length, 10)
    val idx = java.lang.Long.parseLong(r.sequenceNumber)
    if (failures) {
      val h = Plan.hash(seed, Plan.shardIndex(r.shardId), idx)
      if (Plan.poison(h)) return Left(ProcessingError.HardFailure(s"poison record $idx"))
      if (Plan.softFails(h) && m.attemptNumber == 0)
        return Left(ProcessingError.SoftFailure(s"transient failure on $idx"))
    }
    if (keepAll || kind == Plan.KeptType) Right(Some(BenchItem(r.shardId, idx, kind, value)))
    else Right(None)
  }
}

/** A `FileCheckpointStore` decorator that notes when each save returned. */
final class TimedStore(dir: String) extends CheckpointStore {
  private val inner = new FileCheckpointStore(dir)
  /** (shard, sequence index, nanoTime after the save) */
  val saves = new ConcurrentLinkedQueue[(String, Long, Long)]()
  val saveNs = new ConcurrentLinkedQueue[Long]()
  @volatile var onSave: () => Unit = () => ()
  override def getCheckpoint(shardId: String): Option[String] = inner.getCheckpoint(shardId)
  override def saveCheckpoint(shardId: String, sequenceNumber: String): Unit = {
    val t0 = System.nanoTime()
    inner.saveCheckpoint(shardId, sequenceNumber)
    val t1 = System.nanoTime()
    saves.add((shardId, sequenceNumber.toLong, t1))
    saveNs.add(t1 - t0)
    onSave()
  }
}

/** The event sink the engine is given: forwards to a `MetricsAggregator`
  * and notes the engine's batch and checkpoint events. */
final class BatchSink(val agg: MetricsAggregator) extends EventSink {
  val batchStarts = new ConcurrentLinkedQueue[Long]()
  val batchEnds = new ConcurrentLinkedQueue[(Long, Long)]() // (nanoTime, records)
  val checkpoints = new AtomicLong
  val deadLetters = new ConcurrentLinkedQueue[(String, String)]()
  val emitNs = new LongAdder
  val emits = new LongAdder
  override def emit(e: ProcessingEvent): Unit = {
    val t0 = if (Trace.enabled) System.nanoTime() else 0L
    agg.emit(e)
    if (Trace.enabled) { emitNs.add(System.nanoTime() - t0); emits.increment() }
    e.eventType match {
      case _: ProcessingEventType.BatchStart => batchStarts.add(System.nanoTime()); ()
      case c: ProcessingEventType.BatchComplete =>
        batchEnds.add((System.nanoTime(), c.successfulCount + c.failedCount)); ()
      case _: ProcessingEventType.Checkpoint => checkpoints.incrementAndGet(); ()
      case f: ProcessingEventType.RecordFailure => deadLetters.add((e.shardId, f.sequenceNumber)); ()
      case _ => ()
    }
  }
}

/** Settings of one engine workload. */
final case class EngineSpec(
    shards: Int,
    perShard: Long,
    batchSize: Int,
    loops: Int,
    ratePerShard: Double, // 0 = backlog drained with AvailableNow
    keepAll: Boolean,
    failures: Boolean)

/** What one engine round observed, handed to the Python checker. */
final case class RoundResult(
    wallNs: Long,
    byKind: Map[String, (Long, Long)],           // kind -> (count, value sum)
    byShard: Map[String, (Long, Long)],          // shard -> (items, index sum)
    finalCheckpoint: Map[String, Option[String]],
    deadLetters: Map[String, Seq[String]],
    aggregator: Map[String, Map[String, Long]],
    batchMs: Seq[Double],
    batchRecords: Seq[Long],
    onItemsMs: Seq[Double],
    postItemsMs: Seq[Double],
    saves: Seq[(String, Long, Double)],          // shard, seq, ms since round start
    saveMs: Seq[Double],
    checkpointEvents: Long,
    monitoringEvents: Long,
    monitoringEmitNs: Long,
    progressPhases: Map[String, Seq[Double]],
    backlogMax: Long,
    getRecordsCalls: Long,
    getRecordsNs: Long,
    failed: Option[String])

object EngineRound {
  def run(spark: SparkSession, spec: EngineSpec, seed: Long, workDir: String,
      round: Int, stopAfterLast: Boolean, progress: ProgressLog): RoundResult = {
    import spark.implicits._
    val dir = s"$workDir/engine-round-$round"
    val store = new TimedStore(s"$dir/store")
    val source = new PlanSource(seed, spec.shards, spec.perShard, spec.ratePerShard)
    val sink = new BatchSink(new MetricsAggregator(windowMs = Long.MaxValue / 4))
    val byKind = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val byShard = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val onItemsMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val itemsDone = new ConcurrentLinkedQueue[Long]()
    val group = s"round-$round"
    val runSpan = Trace.nextId()
    val onItems: (Dataset[BenchItem], Long) => Unit = (ds, batchId) => {
      val t0 = System.nanoTime()
      val rows = ds.groupBy(col("shard"), col("kind"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("v"), sum(col("idx")).as("i"))
        .collect()
      rows.foreach { r =>
        val (k, s) = (r.getString(1), r.getString(0))
        val (n, v, i) = (r.getLong(2), r.getLong(3), r.getLong(4))
        val a = byKind.getOrElse(k, (0L, 0L)); byKind(k) = (a._1 + n, a._2 + v)
        val b = byShard.getOrElse(s, (0L, 0L)); byShard(s) = (b._1 + n, b._2 + i)
      }
      val t1 = System.nanoTime()
      onItemsMs += (t1 - t0) / 1e6
      itemsDone.add(t1)
      Trace.record("engine.on_items", s"$group/batch-$batchId", runSpan, t0, t1)
    }
    val config = ProcessorConfig(s"bench-$round", batchSize = spec.batchSize,
      maxBatchRetrievalLoops = Some(spec.loops))
    val gp = new GraftProcessor[BenchItem](config,
      new PlanRecordFn(seed, spec.keepAll, spec.failures), source, store, sink, onItems)
    val shutdown = new ShutdownSignal
    if (stopAfterLast) {
      val lastSeq = spec.perShard - 1
      store.onSave = () => {
        val done = store.saves.asScala.filter(_._2 == lastSeq).map(_._1).toSet
        if (done.size == spec.shards) shutdown.trigger()
      }
    }
    progress.clear()
    val trigger =
      if (spec.ratePerShard > 0) GraftProcessor.continuousTrigger(config)
      else org.apache.spark.sql.streaming.Trigger.AvailableNow()
    val t0 = System.nanoTime()
    val epoch0 = System.currentTimeMillis()
    source.startNs = t0
    val out = Trace.span("engine.run", group, id = runSpan) {
      gp.run(spark, s"$dir/ckpt", trigger, shutdown)
    }
    val wall = System.nanoTime() - t0
    ListenerBus.drain(spark.sparkContext)

    val starts = sink.batchStarts.asScala.toSeq
    val ends = sink.batchEnds.asScala.toSeq
    val done = itemsDone.asScala.toSeq
    val n = math.min(starts.length, ends.length)
    val batchMs = (0 until n).map(i => (ends(i)._1 - starts(i)) / 1e6)
    val postMs = (0 until math.min(n, done.length)).map(i => (ends(i)._1 - done(i)) / 1e6)
    (0 until n).foreach(i =>
      Trace.record("engine.batch", s"$group/batch-$i", runSpan, starts(i), ends(i)._1))
    store.saves.asScala.zip(store.saveNs.asScala).foreach { case ((shard, _, end), ns) =>
      Trace.record("store.save", s"$group/$shard", runSpan, end - ns, end)
    }
    val progs = progress.all.filter(p => Option(p.name).exists(_.startsWith("graft-bench")))
    val phases = Seq("triggerExecution", "addBatch", "queryPlanning", "walCommit",
      "commitOffsets", "latestOffset").map(k => k -> progs.map(progress.phase(_, k))).toMap
    val backlog = progs.map { p =>
      val atNs = t0 + (java.time.Instant.parse(p.timestamp).toEpochMilli - epoch0) * 1000000L
      val admitted = GraftOffset.fromJson(Option(p.sources.head.endOffset).getOrElse("{}")).positions.values.sum
      spec.shards * source.dueBy(atNs) - admitted
    }
    val aggSnap = sink.agg.snapshot.map { case (shard, m) =>
      shard -> Map("records_processed" -> m.recordsProcessed, "records_failed" -> m.recordsFailed,
        "soft_errors" -> m.softErrors, "hard_errors" -> m.hardErrors,
        "checkpoints_succeeded" -> m.checkpointsSucceeded)
    }
    RoundResult(
      wallNs = wall,
      byKind = byKind.toMap,
      byShard = byShard.toMap,
      finalCheckpoint = (0 until spec.shards).map(s =>
        Plan.shardId(s) -> store.getCheckpoint(Plan.shardId(s))).toMap,
      deadLetters = sink.deadLetters.asScala.toSeq.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) },
      aggregator = aggSnap,
      batchMs = batchMs,
      batchRecords = ends.map(_._2),
      onItemsMs = onItemsMs.toSeq,
      postItemsMs = postMs,
      saves = store.saves.asScala.toSeq.map { case (s, q, t) => (s, q, (t - t0) / 1e6) },
      saveMs = store.saveNs.asScala.toSeq.map(_ / 1e6),
      checkpointEvents = sink.checkpoints.get,
      monitoringEvents = sink.emits.sum(),
      monitoringEmitNs = sink.emitNs.sum(),
      progressPhases = phases,
      backlogMax = if (backlog.isEmpty) 0L else backlog.max,
      getRecordsCalls = source.getRecordsCalls.sum(),
      getRecordsNs = source.getRecordsNs.sum(),
      failed = out.left.toOption.map(_.toString))
  }

  def toJson(r: RoundResult): Map[String, Any] = Map(
    "wall_s" -> r.wallNs / 1e9,
    "by_kind" -> r.byKind.map { case (k, (n, v)) => k -> Seq(n, v) },
    "by_shard" -> r.byShard.map { case (k, (n, i)) => k -> Seq(n, i) },
    "final_checkpoint" -> r.finalCheckpoint,
    "dead" -> r.deadLetters,
    "aggregator" -> r.aggregator,
    "batch_ms" -> r.batchMs,
    "batch_records" -> r.batchRecords,
    "saves" -> r.saves.map { case (s, q, t) => Seq(s, q, t) },
    "failed" -> r.failed)
}

/** Single-thread probes of one layer each, run outside Spark. */
object LayerProbes {
  /** ns per record of one `GraftPartitionReader` drained over a planned
    * range (the source reader layer, without the engine). */
  def readerNsPerRecord(seed: Long, records: Long, batchSize: Int): Double = {
    val key = s"graftbench-probe-${System.nanoTime()}"
    SourceClientRegistry.register(key, new PlanSource(seed, 1, records))
    try {
      val p = GraftInputPartition(Plan.shardId(0), 0L, records, key, "probe", batchSize, None)
      val reader = new GraftPartitionReader(p)
      val t0 = System.nanoTime()
      var n = 0L
      while (reader.next()) { reader.get(); n += 1 }
      reader.close()
      require(n == records, s"reader probe read $n of $records records")
      (System.nanoTime() - t0).toDouble / records
    } finally SourceClientRegistry.unregister(key)
  }

  /** ns per record of `RecordProcessing.processSingle` with a watchdog,
    * minus the time spent inside the record function. */
  def processorNsPerRecord(seed: Long, records: Long): Double = {
    val source = new PlanSource(seed, 1, records)
    val recs = source.getRecords(s"${Plan.shardId(0)}#0", records.toInt).records
    val fn = new PlanRecordFn(seed, keepAll = false, failures = true)
    val watchdog = new PartitionWatchdog(300000L)
    val was = Trace.enabled
    Trace.enabled = true
    val before = FnCounters.userNs.sum()
    try {
      val t0 = System.nanoTime()
      recs.foreach(r => RecordProcessing.processSingle(r, fn, 300000L, watchdog,
        EventSink.Noop, ShutdownSignal.never))
      val total = System.nanoTime() - t0
      (total - (FnCounters.userNs.sum() - before)).toDouble / records
    } finally { Trace.enabled = was; watchdog.close() }
  }
}
