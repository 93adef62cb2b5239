package graftbench

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `perfbench/run.py` builds, generates the
  * inputs and launches this; it measures one workload and writes every raw
  * observation to `--out` as JSON. The Python side computes the metrics and
  * checks the outputs against its own expectations. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, warmData: String, out: String, spans: String,
      cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m.getOrElse("data", ""), m.getOrElse("warm-data", ""), m("out"),
      m.getOrElse("spans", ""), m("cores").toInt)
  }

  /** A drain of 12 shards; admission 5,000 x 10 puts 600,000 records in a
    * micro-batch. */
  def drainSpec(perShard: Long): EngineSpec =
    EngineSpec(shards = 12, perShard = perShard, batchSize = 5000, loops = 10,
      ratePerShard = 0.0, keepAll = false, failures = true)
  /** Reference defaults: 100 x 10 admission and a 100 ms trigger. */
  def liveSpec(seconds: Double): EngineSpec =
    EngineSpec(shards = 4, perShard = (LiveRatePerShard * seconds).toLong, batchSize = 100,
      loops = 10, ratePerShard = LiveRatePerShard, keepAll = true, failures = false)
  val LiveRatePerShard = 750.0

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Trace.enabled = false
    val result = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    result("session_ready_epoch_ms") = System.currentTimeMillis()
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    result("workload") = a.workload
    result("cores") = a.cores
    result("jvm_start_epoch_ms") =
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    try {
      val perLayer = scala.collection.mutable.LinkedHashMap.empty[String, Any]
      a.workload match {
        case "engine-drain" => engineDrain(spark, a, progress, result, perLayer)
        case "engine-live" => engineLive(spark, a, progress, result, perLayer)
        case w => sys.error(s"unknown workload $w")
      }
      if (a.trace) {
        analyticsCompanion(spark, a, progress, result, perLayer)
        result("per_layer") = perLayer.toMap
        Trace.writeSpans(a.spans)
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result("error") = e.toString
    }
    Json.write(a.out, result.toMap)
    spark.stop()
  }

  private def timedStart(result: scala.collection.mutable.Map[String, Any]): Unit = {
    val now = System.currentTimeMillis()
    result("timed_start_epoch_ms") = now
    val session = result("session_ready_epoch_ms").asInstanceOf[Long]
    val jvm = result("jvm_start_epoch_ms").asInstanceOf[Long]
    System.err.println(s"[perfbench] setup: JVM start -> session ${session - jvm} ms, " +
      s"session -> timed ${now - session} ms")
  }

  private def withCounters[A](spark: SparkSession)(body: SparkCounters => A): (A, SparkCounters) = {
    val c = new SparkCounters
    spark.sparkContext.addSparkListener(c)
    try {
      val out = body(c)
      ListenerBus.drain(spark.sparkContext)
      (out, c)
    } finally spark.sparkContext.removeSparkListener(c)
  }

  // ---- engine-drain -------------------------------------------------------

  def engineDrain(spark: SparkSession, a: Args, progress: ProgressLog,
      result: scala.collection.mutable.Map[String, Any],
      perLayer: scala.collection.mutable.Map[String, Any]): Unit = {
    val spec = drainSpec(200000L)
    // Fixed warm-up work: whole rounds of the same backlog, so JIT and the
    // heap settle on the measured code paths before timing.
    (1 to 2).foreach(i => EngineRound.run(spark, drainSpec(100000L), a.seed + 1000 + i,
      a.work, -i, stopAfterLast = false, progress))
    timedStart(result)
    Trace.enabled = a.trace
    FnCounters.reset()
    // The traced run also listens through the program's own listener bridge,
    // to compare the failures it reports with the dead letters.
    val bridged = new graft.monitoring.TestMonitoringHarness(1000000)
    val bridge = new graft.monitoring.QueryListenerBridge(bridged)
    if (a.trace) spark.streams.addListener(bridge)
    val t0 = System.nanoTime()
    val (rounds, counters) = withCounters(spark) { _ =>
      val buf = scala.collection.mutable.ArrayBuffer.empty[RoundResult]
      var i = 0
      while (buf.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        buf += EngineRound.run(spark, spec, a.seed, a.work, i, stopAfterLast = false, progress)
        i += 1
      }
      buf.toSeq
    }
    Trace.enabled = false
    result("timed_s") = (System.nanoTime() - t0) / 1e9
    if (a.trace) {
      spark.streams.removeListener(bridge)
      val reported = bridged.events.map(_.eventType).collect {
        case graft.monitoring.ProcessingEventType.BatchMetrics(m) => m
      }
      result("listener_bridge") = Map("successful" -> reported.map(_.successfulCount).sum,
        "failed" -> reported.map(_.failedCount).sum)
    }
    result("heap_retained_mb") = Heap.retainedMb()
    result("spec") = specJson(spec)
    engineResult(rounds, result)
    if (a.trace) enginePerLayer(spark, a, rounds, counters, perLayer)
  }

  private def specJson(s: EngineSpec): Map[String, Any] = Map(
    "shards" -> s.shards, "per_shard" -> s.perShard, "batch_size" -> s.batchSize,
    "loops" -> s.loops, "rate_per_shard" -> s.ratePerShard, "keep_all" -> s.keepAll,
    "failures" -> s.failures)

  private def engineResult(rounds: Seq[RoundResult],
      result: scala.collection.mutable.Map[String, Any]): Unit = {
    result("rounds") = rounds.map(EngineRound.toJson)
    result("on_items_ms") = rounds.flatMap(_.onItemsMs)
  }

  private def enginePerLayer(spark: SparkSession, a: Args, rounds: Seq[RoundResult],
      counters: SparkCounters, perLayer: scala.collection.mutable.Map[String, Any]): Unit = {
    val phase = (k: String) => rounds.flatMap(_.progressPhases.getOrElse(k, Seq.empty))
    val checkpoints = rounds.map(_.checkpointEvents).sum
    val saves = rounds.flatMap(_.saveMs)
    perLayer ++= Seq(
      "processor.attempts" -> FnCounters.attempts.sum(),
      "processor.soft_retries" -> FnCounters.softRetries.sum(),
      "processor.dead_letters" -> FnCounters.deadLetters.sum(),
      "processor.user_fn.ms" -> FnCounters.userNs.sum() / 1e6,
      "engine.batches" -> rounds.map(_.batchMs.length).sum,
      "engine.records_per_batch" -> rounds.flatMap(_.batchRecords).map(_.toDouble),
      "engine.batch.ms.p50" -> rounds.flatMap(_.batchMs),
      "engine.on_items.ms.p50" -> rounds.flatMap(_.onItemsMs),
      "engine.post_items.ms.p50" -> rounds.flatMap(_.postItemsMs),
      "engine.trigger.ms.p50" -> phase("triggerExecution"),
      "engine.add_batch.ms.p50" -> phase("addBatch"),
      "engine.query_planning.ms.p50" -> phase("queryPlanning"),
      "engine.wal_commit.ms.p50" -> phase("walCommit"),
      "engine.commit_offsets.ms.p50" -> phase("commitOffsets"),
      "sources.latest_offset.ms.p50" -> phase("latestOffset"),
      "sources.backlog_records.max" -> rounds.map(_.backlogMax).max,
      "store.saves" -> saves.length,
      "store.save.ms.p50" -> saves,
      "store.save.ms.max" -> (if (saves.isEmpty) 0.0 else saves.max),
      "store.saves_per_checkpoint" -> (if (checkpoints == 0) 0.0 else saves.length.toDouble / checkpoints),
      "monitoring.events" -> rounds.map(_.monitoringEvents).sum,
      "monitoring.emit.ns" -> {
        val n = rounds.map(_.monitoringEvents).sum
        if (n == 0) 0.0 else rounds.map(_.monitoringEmitNs).sum.toDouble / n
      })
    perLayer ++= counters.metrics
    // get_records calls and time are kept by the source; the runner sums them
    perLayer("sources.get_records.calls") = rounds.map(_.getRecordsCalls).sum
    perLayer("sources.get_records.ms") = rounds.map(_.getRecordsNs).sum / 1e6
    perLayer("sources.reader.ns_per_record") = LayerProbes.readerNsPerRecord(a.seed, 200000L, 1000)
    perLayer("processor.ns_per_record") = LayerProbes.processorNsPerRecord(a.seed, 200000L)
  }

  // ---- engine-live --------------------------------------------------------

  def engineLive(spark: SparkSession, a: Args, progress: ProgressLog,
      result: scala.collection.mutable.Map[String, Any],
      perLayer: scala.collection.mutable.Map[String, Any]): Unit = {
    val spec = liveSpec(a.seconds)
    // Fixed warm-up work: one short open-loop run on the same code paths.
    EngineRound.run(spark, liveSpec(3.0), a.seed + 1000, a.work, -1, stopAfterLast = true, progress)
    timedStart(result)
    Trace.enabled = a.trace
    FnCounters.reset()
    val t0 = System.nanoTime()
    val (round, counters) = withCounters(spark) { _ =>
      EngineRound.run(spark, spec, a.seed, a.work, 0, stopAfterLast = true, progress)
    }
    Trace.enabled = false
    result("timed_s") = (System.nanoTime() - t0) / 1e9
    result("heap_retained_mb") = Heap.retainedMb()
    result("spec") = specJson(spec)
    engineResult(Seq(round), result)
    if (a.trace) enginePerLayer(spark, a, Seq(round), counters, perLayer)
  }

  // ---- traced run: the analytics and streaming layers --------------------

  /** The traced run also measures the analytics and streaming layers, which
    * the engine workloads do not reach: the mix's entries run once on the
    * small tables (JIT warm-up), then once, traced, on the generated tables.
    * Their outputs are kept for the oracle check. */
  private def analyticsCompanion(spark: SparkSession, a: Args, progress: ProgressLog,
      result: scala.collection.mutable.Map[String, Any],
      perLayer: scala.collection.mutable.Map[String, Any]): Unit = {
    val names = Analytics.Batch ++ Analytics.Streaming
    Analytics.pass(spark, names, a.warmData, s"${a.work}/warm-out", None, "warm")
    Trace.enabled = true
    val (p, _) = withCounters(spark) { c =>
      mixPass(spark, names, a.data, s"${a.work}/out", Some(c), "mix", progress)
    }
    Trace.enabled = false
    result("mix") = p.timings.map(e => Map("name" -> e.name, "construct_s" -> e.constructS,
      "plan_s" -> e.planS, "exec_s" -> e.execS, "construct_jobs" -> e.constructJobs,
      "failed" -> e.failed))
    result("oracle_sql") = names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap
    analyticsPerLayer(p, progress, perLayer)
  }

  final case class MixPass(timings: Seq[Analytics.EntryTiming],
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress])

  private def mixPass(spark: SparkSession, names: Seq[String], data: String, out: String,
      counters: Option[SparkCounters], group: String, progress: ProgressLog): MixPass = {
    val streamProgress =
      scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    ListenerBus.drain(spark.sparkContext)
    progress.clear()
    val timings = Analytics.pass(spark, names, data, out, counters, group, afterEntry = name => {
      ListenerBus.drain(spark.sparkContext)
      if (Analytics.Streaming.contains(name)) streamProgress ++= progress.all
      progress.clear()
    })
    MixPass(timings, streamProgress.toSeq)
  }

  private def analyticsPerLayer(p: MixPass, progress: ProgressLog,
      perLayer: scala.collection.mutable.Map[String, Any]): Unit = {
    val batch = p.timings.filterNot(t => Analytics.Streaming.contains(t.name))
    perLayer("analytics.construct.s") = batch.map(_.constructS).sum
    perLayer("analytics.construct.jobs") = batch.map(_.constructJobs).sum
    perLayer("analytics.plan.s") = batch.map(_.planS).sum
    perLayer("analytics.exec.s") = batch.map(_.execS).sum
    batch.groupBy(t => Analytics.family(t.name)).foreach { case (f, ts) =>
      perLayer(s"analytics.family.$f.s") = ts.map(_.totalS).sum
    }
    val states = p.progress.map(_.stateOperators.toSeq)
    perLayer("streaming.triggers") = p.progress.length
    perLayer("streaming.add_batch.ms") = p.progress.map(progress.phase(_, "addBatch")).sum
    perLayer("streaming.wal_commit.ms") = p.progress.map(progress.phase(_, "walCommit")).sum
    perLayer("streaming.state_commit.ms") = states.flatten.map(_.commitTimeMs).sum
    perLayer("streaming.state_rows") = states.map(_.map(_.numRowsTotal).sum).maxOption.getOrElse(0L)
    perLayer("streaming.state_memory.bytes") =
      states.map(_.map(_.memoryUsedBytes).sum).maxOption.getOrElse(0L)
  }
}
