package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.core._
import graft.engine.GraftProcessor
import graft.processor.RecordProcessor
import StreamDrain.{drain, drainEach, statePartitions}

/** The minimum end-to-end slice as a registered, oracle-checked query
  * (SURVEY §7 step 4): events.parquet → 8-shard KRecord stream → custom
  * micro-batch source → RecordProcessor decode → foreachBatch commit via
  * CheckpointStore → count-by-event_type, verified against the same
  * aggregation DuckDB computes on the static table. The whole streaming
  * path (S1-S4, T1/T3/T4, K1-K4, O1-O9) sits under this oracle. */
object StreamingQueries {

  /** Flush-token horizon shared by the watermark-dependent gated streams
    * (s12, s15): every event carries a copy shifted +200 years so the
    * final watermark stands past every real row's emission condition, and
    * anything at/after 2100-01-01 is cut from the drained result. ONE
    * definition — the shift and the cutoff must move together. */
  private val FlushShiftMs = 200L * 365 * 86400 * 1000 // +200 years
  private val RealBeforeMs = 4102444800000L // 2100-01-01: real data is ~2024


  /** Stream scratch output (items, checkpoints, the s10 file sink) —
    * shutdown-hook-cleaned, shared with the format round-trips
    * (see [[Scratch]]). */
  private def tempDir(prefix: String): String = Scratch.dir(prefix)

  /** Flush-token side stream: writes the tiny `rows` batch to scratch
    * parquet and re-reads it as a file stream, so a handful of +200-year
    * sentinel rows can union into a real stream and advance its watermark
    * past every real row's emission condition. Replaces the r8
    * explode-a-copy-of-every-event pattern (s12/s15), which DOUBLED the
    * corpus through the stateful operators just to move the watermark —
    * tokens cost O(users) / O(1) instead of O(stream). */
  private def tokenStream(spark: SparkSession, rows: DataFrame): DataFrame = {
    val dir = s"${tempDir("graft-flush-tok")}/t"
    rows.coalesce(1).write.mode("overwrite").parquet(dir)
    spark.readStream.schema(rows.schema)
      .option("maxFilesPerTrigger", "1000000").parquet(dir)
  }

  /** File-stream source for the events table. The source requires a
    * DIRECTORY; the driver testdata ships `events.parquet` as a single
    * FILE (→ read the parent dir with a leaf-name glob), while
    * Spark-written rehearsal data (graft.ScaleUp) ships it as a
    * DIRECTORY of part files (→ read the directory itself; the leaf glob
    * would match nothing inside and silently stream zero rows). */
  private def eventsFileStream(spark: SparkSession, sfDir: String): DataFrame =
    tableFileStream(spark, sfDir, "events")

  /** Memoized source schemas: every [[tableFileStream]] call paid a
    * parquet footer-read job just to hand `readStream` its (constant per
    * dataset) schema — ~25 streaming entries × 2 runs × ~30-60 ms per
    * bench sweep of pure re-inference (r15; the StageCache.readFrames
    * lesson applied to streaming sources). Keyed by session so a
    * restarted session re-reads; stale-session entries are dropped
    * lazily like StageCache's. */
  private val schemaMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), org.apache.spark.sql.types.StructType]()

  /** File-stream source for any driver table, handling both physical
    * layouts (single file vs Spark-written part-file directory — see
    * [[eventsFileStream]]'s contract note). `singleBatch` forces the
    * whole table into ONE micro-batch (a maxFilesPerTrigger large enough
    * to cover any part-file count) — required by operators whose
    * per-batch fold assumes event-time order within the batch (s12). */
  private def tableFileStream(spark: SparkSession, sfDir: String,
      table: String, singleBatch: Boolean = false): DataFrame = {
    schemaMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val schema = schemaMemo.computeIfAbsent((spark, s"$sfDir/$table.parquet"),
      k => spark.read.parquet(k._2).schema)
    val asDir = new java.io.File(s"$sfDir/$table.parquet").isDirectory
    var reader = spark.readStream.schema(schema)
    if (singleBatch) reader = reader.option("maxFilesPerTrigger", "1000000")
    if (asDir) reader.parquet(s"$sfDir/$table.parquet")
    else reader.option("pathGlobFilter", s"$table.parquet").parquet(sfDir)
  }

  /** Decodes the `"event_type|value|props"` payload and emits the event
    * type — the reference's doc example shape (UTF-8 decode in user code,
    * `src/lib.rs:95-113`). */
  final class EventTypeProcessor extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) = {
      val payload = r.dataUtf8
      val sep = payload.indexOf('|')
      if (sep <= 0) Left(ProcessingError.HardFailure(s"malformed payload: $payload"))
      else Right(Some(payload.substring(0, sep)))
    }
  }


  /** Production sizing for the stand-in stream (SCALE.md): shard count
    * follows volume (~12.5k records/shard — the Kinesis reshard model;
    * floor 8 keeps the historical layout for sf <= 0.1, cap 256) and the
    * admission cap targets ~25 batches/shard (floor 500) so per-batch data
    * work dominates fixed epoch costs. The count() is a parquet metadata
    * read.
    *
    * r10 (VERDICT r9 #5): the client is the DISTRIBUTED
    * [[graft.sources.ShardedCorpus]] path — executor-parallel sharded
    * build, per-JVM lazy per-shard loads — replacing
    * `EventStream.clientFromParquet`'s full-corpus driver sort+collect
    * (14.7–17.2 s of driver time at sf10). The driver-side mock stays for
    * the specs that script failures into it. */
  private def sizedClient(spark: SparkSession, sfDir: String): (graft.sources.IndexedSourceClient, Int) = {
    val nEvents = spark.read.parquet(s"$sfDir/events.parquet").count()
    val shards = math.max(8L, math.min(256L, nEvents / 12500L)).toInt
    val batch = math.max(500L, nEvents / (shards * 25L)).toInt
    (graft.sources.ShardedCorpus.clientFor(spark, s"$sfDir/events.parquet", shards), batch)
  }

  def streamCountByType(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = tempDir("graft-stream-q")
    val itemsDir = s"$tmp/items"
    // Without volume-scaled sizing (see sizedClient) the fixed 8×500
    // layout made s1 super-linear in the sf1/sf10 rehearsals.
    val (client, batch) = sizedClient(spark, sfDir)
    val gp = new GraftProcessor[String](
      ProcessorConfig("events", batchSize = batch),
      new EventTypeProcessor,
      client,
      new InMemoryCheckpointStore,
      onItems = (ds, _) => ds.toDF("event_type").write.mode("append").parquet(itemsDir)
    )
    gp.run(spark, s"$tmp/ckpt") match {
      case Left(e) => throw e
      case Right(()) =>
        spark.read.parquet(itemsDir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .orderBy(col("event_type"))
    }
  }

  val streamCountOracle: String =
    "SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type ORDER BY event_type"

  /** s2 — sessionization under the oracle gate (VERDICT r3 item 7): the
    * `session_window` operator (the same surface `Sessionize.sessionCounts`
    * uses on a stream) run in batch mode over `events`, rolled up per user:
    * number of 6-hour-gap sessions, the largest session's event count, and
    * the longest session span. Spark merges events when the next event is
    * STRICTLY within `gap` of the session end, so the oracle's island break
    * is `diff >= gap`. All outputs are BIGINT; `span_ms` subtracts the gap
    * that `session_window.end` appends past the last event. */
  def sessionStats(s: SparkSession, d: String): DataFrame = {
    val gapMs = 6L * 3600 * 1000
    val ev = Tables.events(s, d)
      .select(col("user_id"),
        // ts is an epoch-nanos BIGINT (Tables.normalizeEventTs contract)
        timestamp_micros(expr("ts div 1000")).as("ts"))
    ev.groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"),
        (unix_millis(col("session_window.end")) -
          unix_millis(col("session_window.start")) - gapMs).as("span_ms"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_events"),
        max(col("span_ms")).as("max_span_ms"))
      .orderBy(col("user_id"))
  }

  /** Gaps-and-islands re-derivation of session_window semantics. */
  val sessionStatsOracle: String =
    """WITH e AS (SELECT user_id, epoch_ms(ts) AS tms FROM events),
      |m AS (SELECT user_id, tms,
      |        CASE WHEN tms - lag(tms) OVER (PARTITION BY user_id ORDER BY tms) >= 21600000
      |             THEN 1 ELSE 0 END AS brk
      |      FROM e),
      |i AS (SELECT user_id, tms,
      |        sum(brk) OVER (PARTITION BY user_id ORDER BY tms
      |                       ROWS UNBOUNDED PRECEDING) AS island
      |      FROM m),
      |sess AS (SELECT user_id, island, count(*) AS n_events, max(tms) - min(tms) AS span
      |         FROM i GROUP BY user_id, island)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
      |       CAST(max(n_events) AS BIGINT) AS max_events,
      |       CAST(max(span) AS BIGINT) AS max_span_ms
      |FROM sess GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Hard-fails every `error` event — the poison-record shape the
    * reference's hard-failure taxonomy exists for (`src/lib.rs:163-204`):
    * the record is DEAD-LETTERED, the checkpoint advances past it, and the
    * batch keeps processing. Survivors decode to the TYPED (type, value)
    * pair in the processor (the reference's own decode-in-user-code shape,
    * `src/lib.rs:95-113`) — emitting the raw payload and regex-splitting
    * 10 M strings again downstream cost s3 ~2/3 of its sf10 wall (r9). */
  final class PoisonFilterProcessor extends RecordProcessor[(String, Double)] {
    override def processRecord(r: KRecord, m: RecordMetadata) = {
      val payload = r.dataUtf8
      if (payload.startsWith("error|"))
        Left(ProcessingError.HardFailure("poison event type"))
      else {
        val a = payload.indexOf('|')
        if (a <= 0) Left(ProcessingError.HardFailure("malformed payload: no type separator"))
        else {
          val b = payload.indexOf('|', a + 1)
          val end = if (b < 0) payload.length else b
          try Right(Some((payload.substring(0, a),
            payload.substring(a + 1, end).toDouble)))
          catch {
            case _: NumberFormatException =>
              Left(ProcessingError.HardFailure("malformed payload: non-numeric value"))
          }
        }
      }
    }
  }

  /** s3 — the DEAD-LETTER path under the oracle gate: s1 proves the happy
    * path end-to-end; s3 proves the FAILURE semantics end-to-end. Every
    * `error` event hard-fails in the processor, so the engine must
    * dead-letter exactly those records while committing checkpoints past
    * them — the oracle aggregates `events WHERE event_type <> 'error'`, so
    * one record lost (or one dead-letter leaked downstream, or one batch
    * stalled on a poison record) breaks the hash. Value min/max ride along:
    * the payload's double round-trips the encode/decode exactly
    * (Java shortest-repr doubles), pinning the T1 decode too. */
  def streamDeadLetter(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = tempDir("graft-stream-q3")
    val itemsDir = s"$tmp/items"
    val (client, batch) = sizedClient(spark, sfDir)
    val gp = new GraftProcessor[(String, Double)](
      ProcessorConfig("events", batchSize = batch),
      new PoisonFilterProcessor,
      client,
      new InMemoryCheckpointStore,
      onItems = (ds, _) => ds.toDF("event_type", "value")
        .write.mode("append").parquet(itemsDir)
    )
    gp.run(spark, s"$tmp/ckpt") match {
      case Left(e) => throw e
      case Right(()) =>
        spark.read.parquet(itemsDir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            min(col("value")).as("min_value"),
            max(col("value")).as("max_value"))
          .orderBy(col("event_type"))
    }
  }

  val streamDeadLetterOracle: String =
    """SELECT event_type, count(*) AS n_events,
      |min(value) AS min_value, max(value) AS max_value
      |FROM events WHERE event_type <> 'error'
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** s4 — checkpoint RESUME under the oracle gate: drain the stream fully,
    * then run a SECOND engine instance against the SAME app-level
    * [[CheckpointStore]] but a FRESH Spark checkpoint location — the
    * reference's restart model, where the app checkpoint wins over the
    * source's initial position (O5/O6, `src/processor.rs:357-388`). The
    * resumed run must deliver ZERO records: every shard's stored
    * checkpoint sits at its end, so any re-delivery — a checkpoint not
    * saved, saved at the wrong sequence, or ignored on restart — inflates
    * the counts and breaks the hash against the single-pass oracle. */
  def streamResume(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = tempDir("graft-stream-q4")
    val itemsDir = s"$tmp/items"
    val (client, batch) = sizedClient(spark, sfDir)
    val store = new InMemoryCheckpointStore
    def runOnce(tag: String): Unit = {
      val gp = new GraftProcessor[String](
        ProcessorConfig("events", batchSize = batch),
        new EventTypeProcessor,
        client,
        store,
        onItems = (ds, _) => ds.toDF("event_type").write.mode("append").parquet(itemsDir)
      )
      gp.run(spark, s"$tmp/ckpt-$tag") match {
        case Left(e) => throw e
        case Right(()) => ()
      }
    }
    runOnce("first")
    runOnce("resume") // must contribute nothing
    spark.read.parquet(itemsDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** Soft-fails EVERY record on its first attempt (attemptNumber 0), then
    * succeeds — the transient-dependency-blip shape (throttled downstream,
    * flaky network) the reference's soft-failure ∞-retry loop exists for
    * (`src/processor.rs:1506-1510`). */
  final class FirstAttemptFlakes extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) = {
      if (m.attemptNumber == 0)
        Left(ProcessingError.SoftFailure("transient: first attempt always fails"))
      else {
        val payload = r.dataUtf8
        Right(Some(payload.substring(0, payload.indexOf('|'))))
      }
    }
  }

  /** s5 — the SOFT-RETRY path under the oracle gate: every record fails
    * transiently once and must be re-attempted to success (T3's infinite
    * soft-retry loop, attempt counter incremented per retry). The oracle is
    * the plain single-pass aggregation, so a record dropped after its
    * failed first attempt, delivered twice, or dead-lettered instead of
    * retried breaks the hash. Together s1/s3/s4/s5 pin happy path, hard
    * failures, restart, and transient-retry semantics end-to-end. */
  def streamSoftRetry(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val tmp = tempDir("graft-stream-q5")
    val itemsDir = s"$tmp/items"
    val (client, batch) = sizedClient(spark, sfDir)
    val gp = new GraftProcessor[String](
      ProcessorConfig("events", batchSize = batch),
      new FirstAttemptFlakes,
      client,
      new InMemoryCheckpointStore,
      onItems = (ds, _) => ds.toDF("event_type").write.mode("append").parquet(itemsDir)
    )
    gp.run(spark, s"$tmp/ckpt") match {
      case Left(e) => throw e
      case Right(()) =>
        spark.read.parquet(itemsDir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"))
          .orderBy(col("event_type"))
    }
  }

  /** s6 — Structured Streaming EVENT-TIME WINDOW aggregation under the
    * oracle gate: `readStream` over the events parquet → tumbling 1-day
    * windows per event type → complete mode, drained by [[StreamDrain]].
    * The streaming execution of the q12 window family (incremental state
    * store updates per micro-batch) must converge to exactly the batch
    * aggregate — that convergence is what the DuckDB oracle pins.
    * Complete mode keeps every window in state deliberately: the
    * append/watermark path (bounded state, late-data eviction) is
    * exercised by the watermark specs in `streaming/`, where
    * batch-boundary-dependent drops belong; an oracle-gated query must be
    * independent of micro-batch placement.
    *
    * Scale shape: per-batch partial aggregation into the state store
    * keyed by (window, type) — state is O(windows · types), not O(rows);
    * each batch overwrites the O(windows · types) output table. */
  def streamWindowCounts(spark: SparkSession, sfDir: String): DataFrame = {
    val counts = Tables.normalizeEventTs(eventsFileStream(spark, sfDir))
      .select(timestamp_micros(expr("ts div 1000")).as("tsx"), col("event_type"))
      .groupBy(window(col("tsx"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    drain(counts, OutputMode.Complete(), Seq(statePartitions(spark, sfDir)))
      .select(unix_millis(col("window.start")).as("day_start"),
        col("event_type"), col("n_events"))
      .orderBy(col("day_start"), col("event_type"))
  }

  val streamWindowOracle: String =
    """SELECT CAST(epoch_ms(ts) // 86400000 * 86400000 AS BIGINT) AS day_start,
      |  event_type, count(*) AS n_events
      |FROM events GROUP BY 1, 2 ORDER BY day_start, event_type""".stripMargin

  /** s8 — STREAM-STREAM INTERVAL JOIN under the oracle gate: clicks and
    * purchases read as two watermarked file streams, inner-joined on
    * user + the closed lookback window `[p_ts − 1h, p_ts]` (the
    * [[graft.streaming.StreamJoin.attributionJoin]] contract), drained
    * with `Trigger.AvailableNow` into the file sink. The drained pair
    * set must equal the batch interval join — the output is checked
    * against p8's DuckDB `BETWEEN`-join oracle VERBATIM, closing the
    * last gap between the streaming operator family and the oracle gate
    * (spec coverage in StreamJoinSpec pins watermark eviction; this
    * pins the join's exact pair semantics at corpus scale).
    *
    * Scale shape: state per side is bounded by watermark + join window
    * (clicks older than `maxSeen(p_ts) − 1h − watermark` are evicted);
    * the join itself shuffles both sides on user_id. The batch twin
    * (p8) bins instead of relying on eviction — the right shape when
    * the data is at rest; this one is the right shape when it never
    * stops arriving. */
  def streamIntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    def src = Tables.normalizeEventTs(eventsFileStream(spark, sfDir))
      .select(col("event_id"), col("user_id"),
        timestamp_micros(expr("ts div 1000")).as("tsx"), col("event_type"))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("tsx").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("tsx").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val pairs = purchases.join(clicks,
        col("c_user") === col("p_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("p_id"), col("p_user").as("user_id"), col("click_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
    drain(pairs, OutputMode.Append(), Seq(statePartitions(spark, sfDir)))
      .orderBy(col("p_id"), col("click_id"))
  }

  /** s9 — STREAMING SESSIONIZATION under the oracle gate: `session_window`
    * over the watermark-free complete-mode path, drained with
    * `Trigger.AvailableNow`, then s2's per-user reduction — the drained
    * session set must converge to the batch gaps-and-islands oracle
    * exactly. Complete mode is deliberate (the s6 argument: an
    * oracle-gated output must not depend on micro-batch placement or on
    * how far the final watermark advanced past the last session); the
    * bounded-state append/watermark sessionization is exercised in
    * SessionizeSpec where batch boundaries are controlled.
    *
    * Scale shape: session-window state is O(open sessions) per user in
    * the state store; merges happen store-side per micro-batch. */
  def streamSessions(spark: SparkSession, sfDir: String): DataFrame = {
    val gapMs = 6L * 3600 * 1000
    // complete-mode output is the FULL session set (corpus-scaled); the
    // last epoch's overwrite IS the complete result, independent of
    // micro-batch placement.
    val sessions = Tables.normalizeEventTs(eventsFileStream(spark, sfDir))
      .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("tsx"))
      .groupBy(session_window(col("tsx"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
    drain(sessions, OutputMode.Complete(), Seq(statePartitions(spark, sfDir)))
      .select(col("user_id"), col("n_events"),
        (unix_millis(col("session_window.end")) -
          unix_millis(col("session_window.start")) - gapMs).as("span_ms"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("n_events")).as("max_events"),
        max(col("span_ms")).as("max_span_ms"))
      .orderBy(col("user_id"))
  }

  /** s7 — stateful STREAMING DEDUP under the oracle gate: every event is
    * duplicated in-stream (explode over a 2-element array — the
    * at-least-once re-delivery shape), `dropDuplicates("event_id")` must
    * eliminate exactly the copies via state-store lookups, and the
    * drained output's per-type counts must equal the batch distinct
    * counts. One leaked duplicate or dropped original breaks the hash.
    * The watermark-bounded variant (`dropDuplicatesWithinWatermark` —
    * bounded state, the production form for continuous ingest) is
    * spec-gated in StreamingDedupSpec where batch boundaries are
    * controlled; this query pins the exactness contract.
    *
    * Scale shape: dedup state is keyed by event_id in the state store;
    * the file sink receives deduped rows (append), aggregated in batch
    * after the drain so the oracle comparison is placement-independent. */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val deduped = eventsFileStream(spark, sfDir)
      .withColumn("copy", explode(array(lit(1), lit(2))))
      .select(col("event_id"), col("event_type"))
      .dropDuplicates("event_id")
    drain(deduped, OutputMode.Append(), Seq(statePartitions(spark, sfDir)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** s10 — EXACTLY-ONCE FILE SINK under the oracle gate: the production
    * sink path. The events stream is written to a parquet directory
    * through the transactional file sink, then the SAME query (same
    * checkpoint) is started a second time — an operator restart. The
    * second run must commit NOTHING new: the sink's `_spark_metadata`
    * commit log is what a metadata-aware re-read
    * respects, so the final aggregate equals the batch count IFF (a) the
    * first drain committed every row exactly once and (b) the restart was
    * a no-op. Either a dropped batch, a double-committed batch, or a
    * restart reprocessing would break the hash.
    *
    * Scale shape: the file sink appends per-batch manifests (no global
    * commit lock); re-reads prune to committed files via the metadata
    * log. State: none beyond source offsets in the checkpoint. */
  def streamFileSink(spark: SparkSession, sfDir: String): DataFrame = {
    val base = tempDir("graft_s10_")
    val events = eventsFileStream(spark, sfDir)
      .select(col("event_id"), col("event_type"))
    drain(events, OutputMode.Append(), base = base)
    // restart with the same checkpoint: must commit nothing new; the
    // re-read respects _spark_metadata: committed files only
    drain(events, OutputMode.Append(), base = base)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** s11 — STREAMING NEAR-DUP under the oracle gate: documents stream in
    * (file stream over the documents table, benchmark ids < 64 excluded)
    * against the STATIC benchmark corpus — [[NearDup.streamingNearDup]]'s
    * stream-static band join + watermark-bounded candidate dedup + exact
    * Jaccard verify, drained with `Trigger.AvailableNow`. The drained
    * pair set must equal d9's BATCH decontamination output exactly (same
    * banded-LSH recall guarantee, same exact verify), so the oracle is
    * d9's brute-force DuckDB re-derivation VERBATIM — closing the last
    * spec-only gap in the near-dup family (VERDICT r7 item 4).
    *
    * The synthetic event time (`timestamp_micros(doc_id)`) keeps every
    * arrival inside one watermark horizon: candidate-dedup state never
    * evicts mid-drain, so the output is micro-batch-placement-independent
    * (the s6/s9 oracle-gating discipline; eviction under lateness is
    * spec-gated in StreamingNearDupSpec). */
  def streamNearDup(spark: SparkSession, sfDir: String): DataFrame = {
    val nBench = 64L
    val stream = tableFileStream(spark, sfDir, "documents")
      .filter(col("doc_id") >= nBench)
      .select(col("doc_id"), col("text"),
        timestamp_micros(col("doc_id")).as("arrival_ts"))
    val corpus = Tables.documents(spark, sfDir)
      .filter(col("doc_id") < nBench)
      .select(col("doc_id"), col("text"))
    drain(NearDup.streamingNearDup(stream, corpus, tsCol = "arrival_ts"),
        OutputMode.Append(),
        Seq(statePartitions(spark, sfDir, table = "documents", mbPerPartition = 4)))
      .select(col("doc_id"), col("match_id").as("bench_id"), col("jaccard"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  /** s12 — the ARBITRARY-STATEFUL API family under the oracle gate:
    * [[graft.streaming.Sessionize.closedSessions]]
    * (`flatMapGroupsWithState`, append, 0..N emission) sessionizes the
    * event stream and its drained closed-session set must reduce to
    * exactly s2's gaps-and-islands oracle. s9 gates the DECLARATIVE
    * `session_window` operator; this gates the imperative per-key state
    * fold itself — the last SQL-expressible output outside the gate
    * (VERDICT r7 item 4).
    *
    * Two determinism moves make an oracle possible at all:
    *   - one +200-year flush token per user (a second tiny file stream,
    *     [[tokenStream]]) arrives last and CLOSES that user's final real
    *     session through the ordinary gap-crossing path, so emission
    *     never depends on how far the final watermark advanced (the s6
    *     complete-mode argument in flush-token form); token sessions are
    *     dropped by a start-time cut afterwards;
    *   - the whole table drains in ONE micro-batch (the fold sorts within
    *     a batch; cross-batch arrival order is a physical accident —
    *     bounded-state multi-batch behavior is SessionizeSpec's job);
    *   - gapMs = gap − 1 ms: closedSessions merges at diff ≤ gapMs while
    *     `session_window`/the oracle break at diff ≥ gap; on integer
    *     milliseconds the two coincide exactly. */
  def streamStatefulSessions(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.Sessionize
    import spark.implicits._
    val gapMs = 6L * 3600 * 1000
    val shiftMs = FlushShiftMs
    val realBefore = RealBeforeMs
    val real = Tables.normalizeEventTs(
        tableFileStream(spark, sfDir, "events", singleBatch = true))
      .select(col("user_id").as("userId"), col("event_type").as("eventType"),
        timestamp_millis(expr("ts div 1000000")).as("ts"))
    // ONE +200y flush token per user (not the r8 copy-of-every-event
    // explode, which doubled the fold's input): the token's arrival
    // closes that user's final real session through the ordinary
    // gap-crossing path; token sessions are dropped by the start-time cut.
    val staticEv = Tables.events(spark, sfDir)
    val maxMs = staticEv.agg(max(expr("ts div 1000000"))).head().getLong(0)
    val tokens = staticEv.select(col("user_id")).distinct()
      .select(col("user_id").as("userId"), lit("flush").as("eventType"),
        timestamp_millis(lit(maxMs + shiftMs)).as("ts"))
    val events = real.unionByName(tokenStream(spark, tokens))
      .as[Sessionize.UserEvent]
    drain(Sessionize.closedSessions(events, gapMs = gapMs - 1).toDF(),
        OutputMode.Append(), Seq(statePartitions(spark, sfDir, mbPerPartition = 4)))
      .filter(col("sessionStartMs") < realBefore) // drop the flush copies
      .groupBy(col("userId"))
      .agg(count(lit(1)).as("n_sessions"),
        max(col("nEvents")).as("max_events"),
        max(col("sessionEndMs") - col("sessionStartMs")).as("max_span_ms"))
      .select(col("userId").as("user_id"), col("n_sessions"),
        col("max_events"), col("max_span_ms"))
      .orderBy(col("user_id"))
  }

  /** s13 — `transformWithState` (Spark 4's typed stateful processor,
    * RocksDB-backed) under the oracle gate:
    * [[graft.streaming.Sessionize.runningCounts]] maintains one
    * `ValueState[Long]` per user and emits the running total each batch;
    * the LAST emission per user must equal the batch per-user count —
    * correct across ANY micro-batch placement (each batch re-emits the
    * updated total), so the oracle needs no single-batch pin. The max
    * over the appended emissions is that last one, and a replayed batch
    * cannot change it. */
  def streamRunningCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.streaming.Sessionize
    import spark.implicits._
    val events = Tables.normalizeEventTs(eventsFileStream(spark, sfDir))
      .select(col("user_id").as("userId"), col("event_type").as("eventType"),
        timestamp_micros(expr("ts div 1000")).as("ts"))
      .as[Sessionize.UserEvent]
    drain(Sessionize.runningCounts(events).toDF(), OutputMode.Update(),
        Seq(statePartitions(spark, sfDir), StreamDrain.RocksDB))
      .groupBy(col("userId"))
      .agg(max(col("nEvents")).as("n_events")) // last emission = running max
      .select(col("userId").as("user_id"), col("n_events"))
      .orderBy(col("user_id"))
  }

  val runningCountsOracle: String =
    "SELECT user_id, count(*) AS n_events FROM events GROUP BY user_id ORDER BY user_id"

  /** s14 — STREAMING HEAVY HITTERS on `MapState` (the map-of-substate
    * handle s13's ValueState doesn't cover):
    * [[graft.streaming.HeavyHitters.typeUserCounts]] maintains exact
    * user → count maps per salted (event_type, user_id % 64) group and
    * emits the exact updated count of every user a batch touches. Counts
    * are monotone, so `max` over emissions = each user's final count
    * regardless of micro-batch placement, and the drained top-5 per type
    * (count desc, user_id tie-break) equals the batch leaderboard. */
  def streamTopK(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.streaming.{HeavyHitters, Sessionize}
    import spark.implicits._
    val events = Tables.normalizeEventTs(eventsFileStream(spark, sfDir))
      .select(col("user_id").as("userId"), col("event_type").as("eventType"),
        timestamp_micros(expr("ts div 1000")).as("ts"))
      .as[Sessionize.UserEvent]
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("n").desc, col("user_id"))
    drain(HeavyHitters.typeUserCounts(events).toDF(), OutputMode.Update(),
        Seq(statePartitions(spark, sfDir, mbPerPartition = 4), StreamDrain.RocksDB))
      .groupBy(col("eventType"), col("userId"))
      .agg(max(col("n")).as("n")) // monotone → last emission
      .select(col("eventType").as("event_type"), col("userId").as("user_id"),
        col("n"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .orderBy(col("event_type"), col("rk"))
  }

  val topKOracle: String =
    """SELECT event_type, user_id, n, rk FROM (
      |  SELECT event_type, user_id, n,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |         ORDER BY n DESC, user_id) AS BIGINT) AS rk
      |  FROM (SELECT event_type, user_id, count(*) AS n
      |        FROM events GROUP BY event_type, user_id) c) ranked
      |WHERE rk <= 5 ORDER BY event_type, rk""".stripMargin

  /** s15 — STREAM-STREAM LEFT OUTER JOIN under the oracle gate: s8's
    * watermarked interval join, but every purchase must survive — the
    * attribution shape where unattributed conversions are themselves the
    * signal (organic-traffic measurement). The semantics Spark adds for
    * OUTER stream joins is exactly what this pins: an unmatched left row
    * may only emit its null-padded result once the CLICK-side watermark
    * has passed its whole match window, i.e. once no future click can
    * still claim it — so emission is a watermark eviction, not an
    * end-of-batch scan.
    *
    * The s12 flush-token move makes that deterministic under
    * `Trigger.AvailableNow`: one +200-year token per side (a tiny second
    * file stream) stands the final watermark far past every real
    * purchase's window and every pending null row flushes through the
    * ordinary eviction path (the token pair only ever joins itself, 200
    * years away from the real window, and is cut afterwards). The
    * drained set must equal DuckDB's batch LEFT JOIN verbatim.
    *
    * Scale shape: state is the same watermark-bounded two-sided store as
    * s8 (clicks held 1 h + delay, purchases held until their window
    * closes); the null-row scan rides the eviction pass, so an
    * always-on deployment holds O(window) state per user, never O(stream). */
  def streamLeftOuterJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val shiftUs = FlushShiftMs * 1000L
    val realBeforeUs = RealBeforeMs * 1000L
    // ONE +200y token per SIDE (not the r8 copy-of-every-event explode,
    // which doubled both join inputs and their state): each side's token
    // advances that side's watermark past every real purchase's window,
    // so every pending null row flushes through the ordinary eviction
    // path. The token pair joins only itself (user -1) and is cut below.
    val maxUs = Tables.events(spark, sfDir)
      .agg(max(expr("ts div 1000"))).head().getLong(0)
    val tokenRows = spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(-1L, -1L, maxUs + shiftUs, "click"),
        org.apache.spark.sql.Row(-2L, -1L, maxUs + shiftUs, "purchase")),
      org.apache.spark.sql.types.StructType.fromDDL(
        "event_id BIGINT, user_id BIGINT, us0 BIGINT, event_type STRING"))
    val tokenDir = s"${tempDir("graft-flush-tok")}/t"
    tokenRows.coalesce(1).write.mode("overwrite").parquet(tokenDir)
    def src = Tables.normalizeEventTs(
        tableFileStream(spark, sfDir, "events", singleBatch = true))
      .select(col("event_id"), col("user_id"), expr("ts div 1000").as("us0"),
        col("event_type"))
      .unionByName(spark.readStream.schema(tokenRows.schema)
        .option("maxFilesPerTrigger", "1000000").parquet(tokenDir))
      .select(col("event_id"), col("user_id"),
        timestamp_micros(col("us0")).as("tsx"), col("event_type"))
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("tsx").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("p_id"),
        col("tsx").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val pairs = purchases.join(clicks,
        col("c_user") === col("p_user") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR"),
        "leftOuter")
      .select(col("p_id"), col("p_user").as("user_id"), col("click_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"),
        unix_micros(col("p_ts")).as("p_us"))
    drain(pairs, OutputMode.Append(), Seq(statePartitions(spark, sfDir)))
      .filter(col("p_us") < realBeforeUs) // drop the flush copies
      .select(col("p_id"), col("user_id"), col("click_id"), col("gap_us"))
      .orderBy(col("p_id"), col("click_id"))
  }

  /** p8's oracle with the join made LEFT — unmatched purchases keep a
    * null click/gap row. */
  val streamLeftOuterOracle: String =
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us, event_type FROM events),
      |p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
      |c AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'click')
      |SELECT p.event_id AS p_id, p.user_id, c.event_id AS click_id,
      |  p.us - c.us AS gap_us
      |FROM p LEFT JOIN c
      |  ON c.user_id = p.user_id
      | AND c.us BETWEEN p.us - 3600000000 AND p.us
      |ORDER BY p_id, click_id""".stripMargin

  /** s16 — RESHARD WHILE RUNNING under the oracle gate (VERDICT r9 #6, the
    * gate-facing mirror of `tests/test_suite2.rs:53-114`): only half the
    * shards are visible for the first three shard listings — initial
    * offset resolution plus the first two admission polls — so child
    * shards open while parent records are mid-flight, long before the
    * parents drain (~25 admission polls at the sized batch cap). The query
    * runs on `Trigger.ProcessingTime(0)` + `processAllAvailable` because
    * `AvailableNow` deliberately freezes its drain target at start and
    * would never see the reveal. The oracle is s1's full-corpus count:
    * one record lost from a late shard, or one replayed across the
    * reveal, breaks the hash. */
  def streamReshard(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    val tmp = tempDir("graft-stream-q16")
    val itemsDir = s"$tmp/items"
    val (client, batch) = sizedClient(spark, sfDir)
    val all = client.listShards("events").size
    // reveal after 2 listings = initial offset + the FIRST admission poll:
    // any later quiescence probe is itself a listing and fires the reveal,
    // so a drain can never conclude before the children are visible —
    // while at rehearsal SFs the parents still have ~25 polls of in-flight
    // records when the children open (a tiny SF drains parents in 1 poll;
    // reveal at 3 lost the race against processAllAvailable there)
    val revealing = new graft.sources.RevealingClient(client,
      visibleInitially = math.max(1, all / 2), revealAfterListCalls = 2)
    val gp = new GraftProcessor[String](
      ProcessorConfig("events", batchSize = batch),
      new EventTypeProcessor,
      revealing,
      new InMemoryCheckpointStore,
      onItems = (ds, _) => ds.toDF("event_type").write.mode("append").parquet(itemsDir))
    val q = gp.start(spark, s"$tmp/ckpt", Trigger.ProcessingTime(0))
    try {
      q.processAllAvailable()
      q.stop()
      q.awaitTermination()
    } finally gp.cleanup()
    spark.read.parquet(itemsDir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))
  }

  /** s17 — STREAMING ANN-INDEX INGEST: the index-maintenance side of the
    * e-family — new embedding vectors arrive as a stream and are folded
    * into an IVF index's cell occupancy (e4's deterministic codebook,
    * reused verbatim) without ever holding per-vector state. Each
    * streamed vector is assigned to its nearest centroid PER ROW: the
    * 16-cell codebook folds to ONE static row (the sq8-grid pattern)
    * that broadcast-crosses into the stream, and the argmax is a
    * `max(struct(cosine, -cell_id))` over the codebook array inside the
    * row — e4's (score DESC, cell_id ASC) tie-break, no per-vector
    * state-store entry, no stream-side shuffle before the 16-key
    * aggregate. The drained per-cell (count, id-checksum) must equal the
    * batch assignment exactly.
    *
    * Scale shape: state is O(cells), not O(vectors) — the ONLY streaming
    * state is 16 aggregation rows; assignment work is nCells cosines per
    * row, map-side. At 100 TB this is the continuous-ingest half of the
    * e4/e9 index family: codebook broadcast, partial aggregation per
    * micro-batch, complete-mode overwrite of a 16-row summary. */
  def streamAnnIngest(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val nCells = 16
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val codebook = emb
      .filter(col("vec_id") % 31 === 0 && col("vec_id") < 31L * nCells)
      .select(col("vec_id").as("cell_id"), col("v").as("cv"))
      .agg(array_sort(collect_list(struct(col("cell_id"), col("cv")))).as("cb"))
      // frozen once (the s18 lesson): a lazy static subtree re-executes
      // per micro-batch; this one is row-group-pruned and cheap, but the
      // codebook of a streaming ANN index must not drift mid-stream
      .localCheckpoint()
    val cells = tableFileStream(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .crossJoin(broadcast(codebook))
      .select(col("vec_id"), expr(
        """(array_max(transform(cb, c ->
          |  struct(graft_cosine(v, c.cv) AS s, -c.cell_id AS n))).n) * -1L"""
          .stripMargin).as("cell_id"))
      .groupBy(col("cell_id"))
      .agg(count(lit(1)).as("n_vectors"), sum(col("vec_id")).as("id_checksum"))
    drain(cells, OutputMode.Complete())
      .select(col("cell_id"), col("n_vectors"), col("id_checksum"))
      .orderBy(col("cell_id"))
  }

  /** s17 oracle — e4's codebook + assignment re-derivation (window-rank
    * argmax with the identical score/tie-break), folded to per-cell
    * occupancy. */
  val streamAnnIngestOracle: String =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
      |  FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) vnorm
      |  FROM e),
      |cent AS (SELECT vec_id AS cell_id, v AS cv, vnorm AS cnorm FROM n
      |         WHERE vec_id % 31 = 0 AND vec_id < 496),
      |assigned AS (SELECT vec_id, cell_id FROM (
      |    SELECT n.vec_id, c.cell_id,
      |      row_number() OVER (PARTITION BY n.vec_id ORDER BY
      |        list_sum(list_transform(generate_series(1, 64),
      |          i -> n.v[i] * c.cv[i])) / (n.vnorm * c.cnorm) DESC,
      |        c.cell_id) AS crk
      |    FROM n, cent c) WHERE crk = 1)
      |SELECT cell_id, count(*) AS n_vectors,
      |  CAST(sum(vec_id) AS BIGINT) AS id_checksum
      |FROM assigned GROUP BY cell_id ORDER BY cell_id""".stripMargin

  /** s18 — STREAMING DSIR SCORING: t17's importance filter applied the
    * way a production pipeline applies it — the λ bucket table is TRAINED
    * ONCE on the static corpus (t17's exact integer derivation, folded to
    * one 1024-entry map row), frozen, and broadcast into the document
    * stream; each arriving document is scored per row by a map lookup
    * over its hashed-bigram features. COMPLETELY STATELESS: no streaming
    * aggregation, no state store, append mode — the "apply the trained
    * artifact online" pattern (the model-inference half of every
    * train-then-serve filter: quality classifiers, language ID,
    * importance weights). The drained per-doc scores must equal t17's
    * batch output exactly (same oracle).
    *
    * Scale shape: the broadcast is ≤1024 map entries regardless of
    * corpus size; scoring is one codegen'd hash pass + a per-row HOF
    * fold; the sink is the executor-parallel, exactly-once file sink. */
  def streamDsirScore(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // r14: the λ table comes from the shared trained-artifact stage
    // (TextAnalytics.stagedDsirLambda — t17 consumes the same table), so
    // the corpus-sized training aggregation runs once per (JVM, dataset)
    // instead of once per invocation; this fold is 1024 rows → 1 map row.
    val lam = graft.analytics.TextAnalytics.stagedDsirLambda(spark, sfDir)
      .agg(map_from_entries(sort_array(
        collect_list(struct(col("bucket"), col("lam"))))).as("lmap"))
      // FREEZE the λ map (r11 sf30 decade check): a lazy static subtree
      // embedded in a streaming plan RE-EXECUTES per micro-batch — the
      // corpus-sized λ aggregation ran once per file-source batch and
      // turned a ~10 s operator into 203 s at sf30. localCheckpoint
      // materializes the 1-row map once; per-batch re-eval is then an
      // RDD scan of one row — the "frozen λ map" the contract promises.
      .localCheckpoint()
    val scored = tableFileStream(spark, sfDir, "documents")
      .select(col("doc_id"), split(lower(col("text")), " ").as("ws"))
      .filter(size(col("ws")) >= 2)
      .crossJoin(broadcast(lam))
      .select(col("doc_id"), expr(
        """transform(graft_md5_prefix_hashes(transform(sequence(1, size(ws) - 1),
          |    i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))),
          |  t -> element_at(lmap, t % 1024))""".stripMargin).as("lams"))
      .select(col("doc_id"), size(col("lams")).cast("long").as("n_feats"),
        expr("aggregate(lams, 0L, (a, x) -> a + x)").as("importance"))
      .withColumn("mean_lambda",
        col("importance").cast("double") / col("n_feats"))
    drain(scored, OutputMode.Append())
      .select(col("doc_id"), col("n_feats"), col("importance"),
        col("mean_lambda"))
      .orderBy(col("doc_id"))
  }

  /** s21 — STREAMING PER-SOURCE DRIFT AUDIT: t19's KL divergence signal
    * run the way a production pipeline monitors an ingest stream — token
    * features are hashed into 1024 buckets (t17's md5-prefix bucket rule,
    * unigrams), the stream maintains one (source, bucket) count state per
    * pair, and the drained counts fold to a per-source bucketed KL against
    * the corpus mixture with t19's exact-BIGINT log staging. Bucketing is
    * what makes the monitor DEPLOYABLE: streaming state is O(|sources| ×
    * 1024) — a few thousand rows at any corpus size — where t19's
    * token-level state would grow with the vocabulary (unbounded on an
    * open stream).
    *
    * Scale shape: per micro-batch work is one codegen'd hash pass plus a
    * partial+final count into the bounded state; the post-drain fold runs
    * entirely on the |sources|·1024-row state table (three re-aggregations
    * of it, one bucket equi-join, scalar totals broadcast). The corpus
    * text never shuffles — only (source, bucket) pairs do. */
  def streamDriftAudit(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val counts = tableFileStream(spark, sfDir, "documents")
      .select(col("source"), explode(expr(
        """transform(graft_md5_prefix_hashes(split(lower(text), ' ')),
          |  t -> t % 1024)""".stripMargin)).as("bucket"))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("cs"))
    Views.sql(spark, drain(counts, OutputMode.Complete()), "graft_s21_sb_v",
      s"""WITH c AS (SELECT bucket, sum(cs) AS c FROM graft_s21_sb_v
        |  GROUP BY bucket),
        |tots AS (SELECT sum(cs) AS t_total FROM graft_s21_sb_v),
        |ts AS (SELECT source, sum(cs) AS t_s FROM graft_s21_sb_v
        |  GROUP BY source),
        |j AS (SELECT sb.source, sb.cs,
        |    CAST(length(bin(${s21Staged(duck = false)}))
        |      - 1 - 20 AS BIGINT) AS lam
        |  FROM graft_s21_sb_v sb JOIN c ON sb.bucket = c.bucket
        |  CROSS JOIN tots
        |  JOIN ts ON sb.source = ts.source)
        |SELECT source, sum(cs) AS n_tokens, sum(cs * lam) AS kl_bits_sum,
        |  CAST(sum(cs * lam) AS DOUBLE) / sum(cs) AS mean_kl_bits
        |FROM j GROUP BY source ORDER BY source""".stripMargin)
  }

  /** s21's staged KL ratio `((cs*2^20 div c) * t_total) div t_s` through
    * [[ExactMath.mulDiv]] so `t_total` never multiplies a 2^20-scale
    * factor directly (ADVICE r11: the naive product overflows BIGINT —
    * silently on Spark, loudly on DuckDB — once the corpus passes ~2^43
    * tokens). Exact for any corpus with per-source token counts up to
    * ~2^43 (8.8×10^12); bound recorded in SCALE.md. */
  private def s21Staged(duck: Boolean): String = {
    val dv = if (duck) "//" else "div"
    ExactMath.mulDiv("tots.t_total", s"(sb.cs * 1048576) $dv c.c",
      "ts.t_s", duck)
  }

  /** s21 oracle — DuckDB rebuilds the bucketed counts from the documents
    * table (the t17-validated md5-prefix bucket replay, unigrams) and
    * folds the identical exact-BIGINT KL staging. */
  val streamDriftAuditOracle: String =
    s"""WITH b AS (SELECT source,
      |    CAST('0x' || substr(md5(t.token), 1, 15) AS BIGINT) % 1024 AS bucket
      |  FROM (SELECT source, unnest(string_split(lower(text), ' ')) AS token
      |        FROM documents) t),
      |sb AS (SELECT source, bucket, count(*) AS cs FROM b GROUP BY 1, 2),
      |c AS (SELECT bucket, CAST(sum(cs) AS BIGINT) AS c FROM sb GROUP BY bucket),
      |tots AS (SELECT CAST(sum(cs) AS BIGINT) AS t_total FROM sb),
      |ts AS (SELECT source, CAST(sum(cs) AS BIGINT) AS t_s FROM sb GROUP BY source),
      |j AS (SELECT sb.source, sb.cs,
      |    CAST(length(bin(${s21Staged(duck = true)}))
      |      - 1 - 20 AS BIGINT) AS lam
      |  FROM sb JOIN c ON sb.bucket = c.bucket
      |  CROSS JOIN tots
      |  JOIN ts ON sb.source = ts.source)
      |SELECT source, CAST(sum(cs) AS BIGINT) AS n_tokens,
      |  CAST(sum(cs * lam) AS BIGINT) AS kl_bits_sum,
      |  CAST(sum(cs * lam) AS DOUBLE) / sum(cs) AS mean_kl_bits
      |FROM j GROUP BY source ORDER BY source""".stripMargin

  /** Decode used by s19: 'error' payloads hard-fail (dead-letter),
    * sequences ending in '7' soft-fail their first three attempts (soft
    * events + a >1-attempt retry for the retry_attempts counter), the
    * rest decode clean — a deterministic mix hitting every M4 counter
    * family the engine emits. */
  final class MonitoredDecodeProcessor extends RecordProcessor[String] {
    override def processRecord(r: KRecord, m: RecordMetadata) = {
      val payload = r.dataUtf8
      val sep = payload.indexOf('|')
      val t = if (sep <= 0) "" else payload.substring(0, sep)
      if (t == "error") Left(ProcessingError.HardFailure(s"poison: ${r.sequenceNumber}"))
      else if (r.sequenceNumber.endsWith("7") && m.attemptNumber < 3)
        Left(ProcessingError.SoftFailure(s"transient attempt ${m.attemptNumber}"))
      else Right(Some(t))
    }
  }

  /** s19 — MONITORING UNDER THE HASH GATE (VERDICT r10 #5): M1–M4 were
    * the one §2 family with no CORRECTNESS entry; the reference's suites
    * assert on event streams (`/root/reference/src/tests/test_suite3.rs:
    * 67-116`, fold semantics `monitoring/metrics.rs:114-302`). The engine
    * slice runs over the sharded events corpus with monitoring ON and a
    * deterministic failure mix (dead-letters + bounded soft retries), the
    * emitted event stream lands in parquet as the flat [[graft.monitoring
    * .MetricsAggregator.EventRow]] log, and the per-shard windowed M4
    * fold runs over it via the Dataset path. The DuckDB oracle re-derives
    * the SAME aggregation from the SAME landed log — one event lost,
    * double-counted, or folded into the wrong counter breaks the hash.
    * MonitoringGateSpec additionally reconciles the folded totals against
    * the run's commit stats and the corpus itself.
    *
    * Scale shape: the event channel is the reference's bounded mpsc
    * mirror (driver/executor-local queues, `processor.rs:456-465`); the
    * landed log is corpus-sized and the fold over it is the declarative
    * partial+final windowed aggregation — the 100 TB metrics path. The
    * log lands in the entry's own scratch dir, and the returned fold reads
    * only it; the oracle refolds a copy of those files (its
    * [[graft.SparkEntry.EntryInputs]]), so it reads the identical bytes.
    *
    * Driver memory is O(backlog bound), NOT O(corpus) (r11): DEDICATED
    * consumer threads — the reference's spawned mpsc reader,
    * `processor.rs:456-465` — drain the queue continuously into a local
    * TSV spill (two buffered writers out-pace the 32-thread emit burst,
    * so the bounded channel never backs up), and ONE distributed job then
    * converts the spill into the parquet landed log (the uploader step of
    * a production metrics pipeline). The original end-of-run
    * `createDataset(drain())` materialized the corpus-sized event vector
    * on the driver — the exact anti-pattern the rest of the surface
    * avoids — and batch-boundary flushing couldn't keep up at sf10
    * (1.4M events dropped). */
  def s19MonitoringMetrics(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.monitoring.{EventSink, MetricsAggregator}
    val tmp = tempDir("graft-s19-")
    val (client, batch) = sizedClient(spark, sfDir)
    // the bound is a counter, not a preallocation — memory is used only
    // while a burst is actually backed up (sf1's whole run is ~4M events)
    val bounded = new EventSink.Bounded(capacity = (1 << 24) + 65536)
    val logDir = s"$tmp/eventlog"
    val spillDir = new java.io.File(tmp, "evspill")
    spillDir.mkdirs()
    @volatile var engineDone = false
    def consumerThread(tid: Int): Thread = new Thread(() => {
      var idx = 0
      var lines = 0L
      var out: java.io.BufferedWriter = null
      def roll(): Unit = {
        if (out != null) out.close()
        out = new java.io.BufferedWriter(new java.io.FileWriter(
          new java.io.File(spillDir, f"chunk-$tid-$idx%05d.tsv")), 1 << 20)
        idx += 1; lines = 0L
      }
      roll()
      val sb = new java.lang.StringBuilder(1 << 20)
      var done = false
      while (!done) {
        val evs = bounded.drain()
        if (evs.isEmpty) {
          if (engineDone) done = true else Thread.sleep(2)
        } else {
          sb.setLength(0)
          evs.foreach { e =>
            val r = MetricsAggregator.toRow(e)
            sb.append(r.timestampMs).append('\t').append(r.shardId).append('\t')
              .append(r.kind).append('\t').append(r.success).append('\t')
              .append(r.isFinalAttempt).append('\t').append(r.attemptNumber)
              .append('\t').append(r.durationMs).append('\t').append(r.hasError)
              .append('\n')
            // cap buffer growth: a drain taken under backlog can return
            // millions of events in one call
            if (sb.length >= (1 << 20)) { out.write(sb.toString); sb.setLength(0) }
          }
          out.write(sb.toString)
          lines += evs.size
          if (lines >= 4000000L) roll()
        }
      }
      out.close()
    }, s"graft-s19-event-consumer-$tid")
    val consumers = Seq(consumerThread(0), consumerThread(1))
    consumers.foreach(_.start())
    val tEngine0 = System.nanoTime()
    val gp = new GraftProcessor[String](
      ProcessorConfig("events", batchSize = batch),
      new MonitoredDecodeProcessor,
      client,
      new InMemoryCheckpointStore,
      sink = bounded,
      onItems = (ds, _) =>
        ds.toDF("event_type").write.mode("append").parquet(s"$tmp/items"))
    try {
      gp.run(spark, s"$tmp/ckpt") match {
        case Left(e) => throw e
        case Right(()) => ()
      }
    } finally {
      engineDone = true
      consumers.foreach(_.join())
    }
    require(bounded.dropped == 0,
      s"s19 event channel dropped ${bounded.dropped} events — size the capacity up")
    val tEngine = (System.nanoTime() - tEngine0) / 1e9
    val tConv0 = System.nanoTime()
    spark.read
      .schema("timestampMs LONG, shardId STRING, kind STRING, success BOOLEAN, " +
        "isFinalAttempt BOOLEAN, attemptNumber INT, durationMs LONG, hasError BOOLEAN")
      .option("sep", "\t").csv(spillDir.getAbsolutePath)
      .write.mode("overwrite").parquet(logDir)
    val tConv = (System.nanoTime() - tConv0) / 1e9
    // one-line phase attribution (VERDICT r11 #7): the returned fold is
    // lazy, so engine+convert here plus the caller-observed remainder is
    // the complete cost decomposition
    System.err.println(
      f"[s19] phases: engine=$tEngine%.1fs convert=$tConv%.1fs (fold is lazy)")
    MetricsAggregator.aggregate(
        spark.read.parquet(logDir).as[MetricsAggregator.EventRow])
      .select(
        (col("window.start").cast("long") * 1000).as("window_start_ms"),
        col("shardId").as("shard_id"),
        col("records_processed"), col("records_failed"), col("soft_errors"),
        col("hard_errors"), col("retry_attempts"),
        col("checkpoints_succeeded"), col("checkpoints_failed"),
        col("iterator_renewals"), col("processing_time_ms"),
        col("max_processing_time_ms"))
      .orderBy(col("window_start_ms"), col("shard_id"))
  }

  val s19Oracle: String =
    s"""WITH ev AS (SELECT * FROM read_parquet('${graft.SparkEntry.EntryInputs}/*.parquet'))
      |SELECT (timestampMs // 60000) * 60000 AS window_start_ms,
      |  shardId AS shard_id,
      |  CAST(sum(CASE WHEN kind = 'record_success' OR (kind = 'record_attempt' AND success) THEN 1 ELSE 0 END) AS BIGINT) AS records_processed,
      |  CAST(sum(CASE WHEN kind = 'record_failure' OR (kind = 'record_attempt' AND NOT success AND isFinalAttempt) THEN 1 ELSE 0 END) AS BIGINT) AS records_failed,
      |  CAST(sum(CASE WHEN kind = 'record_attempt' AND NOT success AND NOT isFinalAttempt THEN 1 ELSE 0 END) AS BIGINT) AS soft_errors,
      |  CAST(sum(CASE WHEN kind = 'record_failure' THEN 1 ELSE 0 END) AS BIGINT) AS hard_errors,
      |  CAST(sum(CASE WHEN kind = 'record_attempt' AND attemptNumber > 1 THEN 1 ELSE 0 END) AS BIGINT) AS retry_attempts,
      |  CAST(sum(CASE WHEN kind = 'checkpoint' AND success THEN 1 ELSE 0 END) AS BIGINT) AS checkpoints_succeeded,
      |  CAST(sum(CASE WHEN kind = 'checkpoint' AND NOT success THEN 1 ELSE 0 END) AS BIGINT) AS checkpoints_failed,
      |  CAST(sum(CASE WHEN kind = 'iterator_renewed' THEN 1 ELSE 0 END) AS BIGINT) AS iterator_renewals,
      |  CAST(sum(durationMs) AS BIGINT) AS processing_time_ms,
      |  CAST(max(durationMs) AS BIGINT) AS max_processing_time_ms
      |FROM ev GROUP BY 1, 2
      |ORDER BY window_start_ms, shard_id""".stripMargin

  /** s20 — STREAMING CDC KEYED MERGE: the streaming enactment of f8 and
    * the literal completion of SURVEY §3.3/§4's "foreachBatch + MERGE"
    * promise. The events table streams in as micro-batches (file-stream
    * splits — NOT time-ordered at sf ≥ 1, which is the point), each batch
    * applies through [[KeyedMerge]] (bucketed base, touched-bucket-only
    * dynamic overwrite, struct-argmax last-writer-wins, stored
    * tombstones), and the FINAL TABLE STATE is the output. A second
    * `AvailableNow` run on the same checkpoint must re-apply nothing (the
    * commit log marks every batch done) — the restart path of a real
    * incremental pipeline.
    *
    * Correctness claim the shared f8 oracle pins: the merged state is
    * INVARIANT to micro-batch boundaries and arrival order — a late batch
    * carrying older sequence numbers loses to the stored winner instead
    * of resurrecting it. One stale bucket, one resurrected delete, or one
    * replayed epoch double-apply breaks the hash.
    *
    * Scale shape: per micro-batch, work = touched buckets + the batch
    * (bucket-pruned scan, key-keyed partial+final argmax, bucket-
    * partitioned dynamic overwrite); nothing corpus-sized shuffles;
    * bucket count self-scales from the corpus row count. */
  def s20StreamKeyedMerge(spark: SparkSession, sfDir: String): DataFrame = {
    val base = tempDir("graft_s20_")
    val dir = s"$base/table"
    val numBuckets = math.max(8L,
      math.min(4096L, Tables.events(spark, sfDir).count() / 50000L)).toInt
    def runOnce(): Unit =
      drainEach(Tables.normalizeEventTs(eventsFileStream(spark, sfDir)), base) {
        (b: DataFrame, _: Long) =>
          val ch = b.select(col("user_id"),
            expr("ts div 1000").as("tsu"), col("event_id"),
            when(col("event_type") === "error", lit("d")).otherwise(lit("u"))
              .as(KeyedMerge.OpCol),
            col("event_type").as("last_type"), col("value").as("last_value"))
          KeyedMerge.applyChanges(dir, ch,
            keyCols = Seq("user_id"), seqCols = Seq("tsu", "event_id"),
            numBuckets = numBuckets)
      }
    runOnce()
    runOnce() // restart on the same checkpoint: zero batches re-applied
    KeyedMerge.read(spark, dir)
      .select(col("user_id"), col("last_type"), col("last_value"))
      .orderBy(col("user_id"))
  }

  /** s22 — STREAMING VERSIONED INGEST: the streaming enactment of f9 and
    * s20's append-only twin (f8 ↔ s20 in-place merge; f9 ↔ s22 versioned
    * history). Each micro-batch of the event CDC stream commits as
    * [[VersionedTable]] delta `delta=<batchId>` through the canonical
    * batchId-keyed idempotent foreachBatch sink
    * ([[VersionedTable.commitDelta]]): committed means the `_SUCCESS`
    * marker is present, a marker-less dir is a crash remnant that gets
    * rewritten, and publication is one atomic temp-dir rename — so a
    * replayed epoch (driver crash in the K4 at-least-once window, then
    * restart) can neither double-apply a committed delta NOR silently
    * skip a partially-written one (ADVICE r11: a bare dir-existence
    * guard loses the partial-write epoch forever). History can never
    * fork or double-apply, and every
    * micro-batch boundary is a NAMED, time-travelable version. A second
    * `AvailableNow` run on the same checkpoint re-commits nothing. The
    * output is the as-of-latest state, which must equal f8's one-window
    * batch replay — the shared oracle pins that the versioned log
    * converges to the same truth as the in-place merge.
    *
    * Scale shape: per micro-batch, work = exactly the batch (ONE
    * append-only write, no base read, no rewrite — cheaper per batch
    * than s20's touched-bucket overwrite; the cost moves to the as-of
    * read's delta-pruned LWW merge, f9's documented trade). */
  def s22StreamVersionedIngest(spark: SparkSession, sfDir: String): DataFrame =
    s22StreamVersionedIngestAt(spark, sfDir, tempDir("graft_s22_"))

  /** [[s22StreamVersionedIngest]] with a caller-supplied scratch base —
    * specs assert on the exact table they ran instead of scanning /tmp
    * for the most-recent name match (ADVICE r11: flaky under parallel
    * suites and leftover dirs from earlier sessions). */
  def s22StreamVersionedIngestAt(spark: SparkSession, sfDir: String,
      base: String): DataFrame = {
    val dir = s"$base/table"
    def runOnce(): Unit =
      drainEach(Tables.normalizeEventTs(eventsFileStream(spark, sfDir)), base) {
        (b: DataFrame, batchId: Long) =>
          val ch = b.select(col("user_id"),
            expr("ts div 1000").as("tsu"), col("event_id"),
            when(col("event_type") === "error", lit("d")).otherwise(lit("u"))
              .as(VersionedTable.OpCol),
            col("event_type").as("last_type"), col("value").as("last_value"))
          VersionedTable.commitDelta(dir, ch, batchId)
      }
    runOnce()
    runOnce() // restart on the same checkpoint: zero deltas re-committed
    VersionedTable
      .readAsOf(spark, dir, Seq("user_id"), Seq("tsu", "event_id"),
        Long.MaxValue)
      .select(col("user_id"), col("last_type"), col("last_value"))
      .orderBy(col("user_id"))
  }

  /** s23 — STREAMING INGEST WITH PERIODIC LOG COMPACTION: s22 plus the
    * maintenance loop a long-running versioned ingest actually operates
    * with — every 4th committed micro-batch, [[VersionedTable
    * .compactUpTo]] folds the log so far into one base delta (foreachBatch
    * is serial per query, so maintenance never races a commit). The
    * output is the as-of-latest state under f8's oracle VERBATIM: the
    * gate pins that interleaving compactions with live commits changes
    * NOTHING about the converged truth. A replayed epoch whose delta was
    * already folded is content-idempotent too: the base retains the
    * winners with their sequence numbers, so re-committed rows tie or
    * lose under LWW — history still cannot fork.
    *
    * Scale shape: commits stay append-only (exactly the batch); each
    * compaction is one delta-pruned scan + one key-partitioned argmax +
    * one write, and in exchange every subsequent as-of read opens a
    * BOUNDED file set — the read-amplification counter-move measured at
    * 200 deltas in SinkSoakSpec, here gated under live interleaving. */
  def s23StreamCompactedIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val base = tempDir("graft_s23_")
    val dir = s"$base/table"
    drainEach(Tables.normalizeEventTs(eventsFileStream(spark, sfDir)), base) {
      (b: DataFrame, batchId: Long) =>
        val ch = b.select(col("user_id"),
          expr("ts div 1000").as("tsu"), col("event_id"),
          when(col("event_type") === "error", lit("d")).otherwise(lit("u"))
            .as(VersionedTable.OpCol),
          col("event_type").as("last_type"), col("value").as("last_value"))
        VersionedTable.commitDelta(dir, ch, batchId)
        if (batchId % 4L == 3L)
          VersionedTable.compactUpTo(spark, dir, batchId,
            Seq("user_id"), Seq("tsu", "event_id"))
    }
    VersionedTable
      .readAsOf(spark, dir, Seq("user_id"), Seq("tsu", "event_id"),
        Long.MaxValue)
      .select(col("user_id"), col("last_type"), col("last_value"))
      .orderBy(col("user_id"))
  }

  /** s24 — STREAMING CHANGE-DATA-FEED EMISSION: f12's streaming twin
    * and the Delta-CDF "emit the changes WHILE merging" capability — a
    * long-running CDC ingest that, per incoming drop, appends the
    * added/deleted/updated classification of every key whose VISIBLE
    * state actually changed, before applying the drop to the keyed
    * state table. Downstream consumers (cache invalidation, incremental
    * retraining, audit) read the feed instead of diffing snapshots.
    *
    * Determinism contract: a change FEED — unlike s20/s22's converged
    * state — is batching-DEPENDENT (two upserts of one key in one drop
    * emit one transition; across two drops, two), so the stream ingests
    * six DETERMINISTIC event-time drops (f9's cutoff rule), exactly the
    * granularity the oracle replays. That mirrors production reality:
    * CDF granularity IS commit granularity. All six drop files are
    * staged BEFORE the stream starts, with strictly increasing distinct
    * mtimes, and ONE streaming query consumes them under
    * `maxFilesPerTrigger=1` + AvailableNow — the file source admits
    * files oldest-mtime-first, so micro-batch k is exactly drop k
    * (batchId = drop index). The r13 form restarted the query once per
    * drop for the same granularity and paid six checkpoints' fixed cost
    * (13.0 s at sf0.1, the suite's slowest settled entry — VERDICT r13
    * #2); one query + six micro-batches is the same feed at one
    * query's cost.
    *
    * Idempotent feed sink (ADVICE r13): each batch's CDF rows publish
    * through [[VersionedTable.commitDelta]] as `delta=<batchId>` —
    * `_SUCCESS`-marker skip + atomic rename — BEFORE the state merge
    * commits (the callback seam in
    * [[KeyedMerge.applyChangesWithDiff]]). Order is load-bearing: a
    * replay after the merge committed recomputes an EMPTY diff (the
    * batch no longer beats the stored state), so an unconditional
    * rewrite would clobber the committed feed; the marker skip makes
    * the replay a no-op in exactly that window — the crash-window
    * class CompactionCrashSpec gates elsewhere, and
    * ChangeFeedReplaySpec gates here.
    *
    * One-pass merge+feed (VERDICT r13 #2): the classification and the
    * LWW merge share ONE state read and one full-outer transition join
    * ([[KeyedMerge.applyChangesWithDiff]]); the r13 form paid two
    * state reads + two LWW resolutions per batch on top of a
    * per-drop query restart. Measured at sf0.1: 13.0 s (six restarts,
    * 64 pinned buckets) → 8.8 s (one query, self-scaled buckets,
    * one-pass staging + one-pass merge), with each step's alternative
    * measured in SCALE.md r14.
    *
    * Classification against the RAW state (tombstones + sequence
    * numbers retained): the drop's per-key winner must BEAT the stored
    * winner under (tsu, event_id) LWW or nothing is emitted — a late
    * drop carrying an older event for a deleted key must not emit a
    * phantom `added` (the f8 resurrection rule, applied to the feed);
    * a re-upsert with an identical visible (type, value) pair emits
    * nothing. Induction gives feed-at-k ≡ diff(LWW≤k−1, LWW≤k), which
    * is what the oracle derives per version via window lag.
    *
    * Scale shape: per drop, work = the drop itself (per-key argmax) +
    * one state lookup join + the batch-sized feed append + s20's
    * touched-bucket merge. The state is never rescanned corpus-wide;
    * at 100 TB the lookup join rides the state table's bucketed layout
    * (f11's discipline — the key-equi join prunes to touched buckets).
    * The oracle's 6× corpus blowup (every version × every row) is
    * oracle-only. */
  def s24StreamChangeFeed(spark: SparkSession, sfDir: String): DataFrame = {
    val base = tempDir("graft_s24_")
    val drops = s"$base/drops"; val state = s"$base/state"
    val feed = s"$base/feed"
    new java.io.File(drops).mkdirs()
    val op = KeyedMerge.OpCol
    val ch0 = Tables.events(spark, sfDir).select(col("user_id"),
      expr("ts div 1000").as("tsu"), col("event_id"),
      when(col("event_type") === "error", lit("d")).otherwise(lit("u"))
        .as(op),
      col("event_type").as("last_type"), col("value").as("last_value"))
    val mm = ch0.agg(min(col("tsu")), max(col("tsu")), count(lit(1))).head()
    val lo = mm.getLong(0); val hi = mm.getLong(1) + 1
    val span = math.max(1L, (hi - lo + 5) / 6)
    // bucket count self-scales from the corpus (the s20 rule — one
    // bucket ≈ one task's worth of keys); the r13 pinned 64 meant 6×64
    // small-file reads+writes at sf0.1 where 20 buckets carry the data
    val numBuckets = math.max(8L, math.min(4096L, mm.getLong(2) / 50000L)).toInt
    val schema = ch0.schema
    // ONE partitioned pass stages all six drops (the r13 form ran six
    // filtered corpus scans + six single-threaded coalesce(1) writes —
    // 7 passes over events before the stream even started): k is the
    // f9 cutoff slice index, repartition(k) puts each slice in exactly
    // one task, partitionBy(k) lands it as exactly one file
    val stage = s"$base/stage"
    ch0.withColumn("k",
        least(lit(5), floor((col("tsu") - lit(lo)) / lit(span))).cast("int"))
      .repartition(col("k"))
      .write.partitionBy("k").parquet(stage)
    (0 until 6).foreach { k =>
      val slice = new java.io.File(s"$stage/k=$k")
      if (!slice.isDirectory)
        // an empty time slice writes no partition dir; stage a 0-row
        // file so drop k still occupies micro-batch k (batchId = drop
        // index is the determinism contract)
        ch0.limit(0).coalesce(1).write.mode("overwrite")
          .parquet(slice.getAbsolutePath)
      // one atomic rename per drop: the file stream must never list a
      // half-written file, and ONE file per drop + maxFilesPerTrigger=1
      // pins one micro-batch per drop (the determinism contract above)
      val part = new java.io.File(s"$stage/k=$k").listFiles()
        .filter(f => f.getName.startsWith("part-")).head
      val dst = java.nio.file.Paths.get(drops, f"drop-$k%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      // strictly increasing DISTINCT mtimes: the file source admits
      // files oldest-first, and distinct stamps make that order total
      // (equal mtimes would leave drop order to listing order). The
      // fixed epoch base keeps the run deterministic; the source ages
      // files relative to the NEWEST seen, so an absolute past date is
      // irrelevant to maxFileAge.
      dst.toFile.setLastModified(1600000000000L + k * 60000L)
      ()
    }
    drainEach(spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(drops), base) {
      (b: DataFrame, batchId: Long) =>
        // one-pass merge + feed (KeyedMerge.applyChangesWithDiff): one
        // state read serves both the classification and the LWW merge;
        // the feed publishes FIRST via the batchId-keyed idempotent
        // commitDelta (ADVICE r13) — a replay after the merge committed
        // skips on the _SUCCESS marker instead of clobbering the feed
        // with the empty diff a merged state would yield
        KeyedMerge.applyChangesWithDiff(state, b, Seq("user_id"),
          Seq("tsu", "event_id"), numBuckets) { diff =>
          val oldVis = coalesce(col(s"__old_$op") === "u", lit(false))
          val newVis = col(s"__new_$op") === "u"
          val visDiff = col("__old_last_type") =!= col("__new_last_type") ||
            col("__old_last_value") =!= col("__new_last_value")
          val feedRows = diff.filter(col("__new_wins"))
            .select(lit(batchId).as("version"),
              when(!oldVis && newVis, lit("added"))
                .when(oldVis && !newVis, lit("deleted"))
                .when(oldVis && newVis && visDiff, lit("updated"))
                .as("change"),
              col("user_id"),
              when(oldVis, col("__old_last_type")).otherwise(lit(""))
                .as("old_type"),
              when(oldVis, col("__old_last_value")).otherwise(lit(0.0))
                .as("old_value"),
              when(newVis, col("__new_last_type")).otherwise(lit(""))
                .as("new_type"),
              when(newVis, col("__new_last_value")).otherwise(lit(0.0))
                .as("new_value"))
            .filter(col("change").isNotNull)
          VersionedTable.commitDelta(feed, feedRows, batchId)
        }
        ()
    }
    spark.read.parquet(feed).drop("delta")
      .orderBy(col("version"), col("user_id"))
  }

  /** s25 — INCREMENTAL MATERIALIZED-VIEW MAINTENANCE from the change
    * feed: the downstream half of the CDF story. s24 emits the feed; a
    * real pipeline's aggregate views (dashboards, per-class token
    * budgets, mixture weights) must then be maintained WITHOUT
    * rescanning the keyed state — the per-type view here (visible-user
    * count + value total per current `last_type`) is derived SOLELY by
    * folding the feed's transitions: `added` contributes (+1, +value)
    * to its new type, `deleted` (−1, −value) to its old type,
    * `updated` both. Because the feed is exactly
    * diff(state_k−1, state_k) per version (s24's induction), the fold
    * TELESCOPES to the final state's group-by — which is what the
    * oracle independently re-derives from raw events via LWW, gating
    * the feed's delta-completeness end-to-end (one missing/phantom/
    * double-counted transition breaks the totals).
    *
    * Exactness discipline: value deltas are staged as cents in
    * DECIMAL(38,0) (the q39 convention) so +v/−v pairs cancel EXACTLY
    * and the sum is order-independent under the hash gate; the final
    * output casts to BIGINT.
    *
    * Scale shape: ONE aggregation over the feed — |feed| ∝ changed
    * keys, never corpus — with a ≤2× explode of bounded delta structs;
    * the view never reads the state table at all. The feed itself is a
    * per-(JVM, dataset) [[StageCache]] stage shared with any other
    * feed consumer (the amortized-artifact pattern: the ingest runs
    * once, consumers read the committed feed). */
  def s25FeedMaterializedView(spark: SparkSession, sfDir: String): DataFrame = {
    val feed = StageCache.getOrBuild(spark, s"s24feed:$sfDir")(
      s24StreamChangeFeed(spark, sfDir))
    def cents(c: String): org.apache.spark.sql.Column =
      expr(s"CAST(round($c * 100) AS DECIMAL(38,0))")
    val minus = when(col("change").isin("deleted", "updated"),
      struct(col("old_type").as("t"), lit(-1L).as("dn"),
        (-cents("old_value")).as("dv")))
    val plus = when(col("change").isin("added", "updated"),
      struct(col("new_type").as("t"), lit(1L).as("dn"),
        cents("new_value").as("dv")))
    feed.select(explode(array(minus, plus)).as("d"))
      .filter(col("d").isNotNull)
      .groupBy(col("d.t").as("last_type"))
      .agg(sum(col("d.dn")).as("n_users"), sum(col("d.dv")).as("sv"))
      .filter(col("n_users") > 0)
      .select(col("last_type"), col("n_users"),
        col("sv").cast("long").as("sum_value_cents"))
      .orderBy(col("last_type"))
  }

  /** s25 oracle — the view re-derived INDEPENDENTLY of the feed: LWW
    * winners over raw events, visible rows grouped by type. Equality
    * gates the feed's delta-completeness (the fold over s24's
    * transitions must telescope to exactly this). */
  val s25Oracle: String =
    """WITH c AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
      |    CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
      |    event_type AS last_type, value AS last_value FROM events),
      |w AS (SELECT user_id, op, last_type, last_value,
      |    row_number() OVER (PARTITION BY user_id
      |      ORDER BY tsu DESC, event_id DESC) AS rn
      |  FROM c)
      |SELECT last_type, CAST(count(*) AS BIGINT) AS n_users,
      |  CAST(sum(CAST(round(last_value * 100) AS BIGINT)) AS BIGINT)
      |    AS sum_value_cents
      |FROM w WHERE rn = 1 AND op = 'u'
      |GROUP BY last_type ORDER BY last_type""".stripMargin

  val s24Oracle: String =
    """WITH c AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
      |    CASE WHEN event_type = 'error' THEN 'd' ELSE 'u' END AS op,
      |    event_type AS last_type, value AS last_value FROM events),
      |prm AS (SELECT min(tsu) AS lo, max(tsu) + 1 AS hi,
      |    greatest(1, (max(tsu) + 1 - min(tsu) + 5) // 6) AS span FROM c),
      |v AS (SELECT unnest(generate_series(0, 5)) AS version),
      |cut AS (SELECT v.version,
      |    CASE WHEN v.version >= 5 THEN p.hi
      |         ELSE p.lo + (v.version + 1) * p.span END AS cutoff
      |  FROM v, prm p),
      |s AS (SELECT cut.version, c.user_id, c.op, c.last_type, c.last_value,
      |    row_number() OVER (PARTITION BY cut.version, c.user_id
      |      ORDER BY c.tsu DESC, c.event_id DESC) AS rn
      |  FROM c JOIN cut ON c.tsu < cut.cutoff),
      |w AS (SELECT version, user_id, (op = 'u') AS pres, last_type,
      |    last_value FROM s WHERE rn = 1),
      |f AS (SELECT version, user_id, pres, last_type, last_value,
      |    lag(pres) OVER (PARTITION BY user_id ORDER BY version) AS ppres,
      |    lag(last_type) OVER (PARTITION BY user_id ORDER BY version) AS ptype,
      |    lag(last_value) OVER (PARTITION BY user_id ORDER BY version) AS pval
      |  FROM w),
      |d AS (SELECT version, user_id,
      |    CASE WHEN NOT coalesce(ppres, FALSE) AND pres THEN 'added'
      |         WHEN coalesce(ppres, FALSE) AND NOT pres THEN 'deleted'
      |         WHEN coalesce(ppres, FALSE) AND pres
      |              AND (ptype <> last_type OR pval <> last_value)
      |           THEN 'updated' END AS change,
      |    CASE WHEN coalesce(ppres, FALSE) THEN ptype ELSE '' END AS old_type,
      |    CASE WHEN coalesce(ppres, FALSE) THEN pval ELSE 0.0 END AS old_value,
      |    CASE WHEN pres THEN last_type ELSE '' END AS new_type,
      |    CASE WHEN pres THEN last_value ELSE 0.0 END AS new_value
      |  FROM f)
      |SELECT CAST(version AS BIGINT) AS version, change, user_id,
      |  old_type, old_value, new_type, new_value
      |FROM d WHERE change IS NOT NULL ORDER BY version, user_id""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "s25_feed_materialized_view" -> (s25FeedMaterializedView _),
    "s24_stream_change_feed" -> (s24StreamChangeFeed _),
    "s23_stream_compacted_ingest" -> (s23StreamCompactedIngest _),
    "s22_stream_versioned_ingest" -> (s22StreamVersionedIngest _),
    "s20_stream_keyed_merge" -> (s20StreamKeyedMerge _),
    // s19's window_start_ms hashes processing wall-clock minutes: the
    // oracle matches only against the event log of the same run
    "s19_monitoring_metrics" -> (s19MonitoringMetrics _),
    "s18_stream_dsir_score" -> (streamDsirScore _),
    "s21_stream_drift_audit" -> (streamDriftAudit _),
    "s17_stream_ann_ingest" -> (streamAnnIngest _),
    "s16_stream_reshard" -> (streamReshard _),
    "s15_stream_left_outer" -> (streamLeftOuterJoin _),
    "s14_stream_topk" -> (streamTopK _),
    "s11_stream_neardup" -> (streamNearDup _),
    "s12_stateful_sessions" -> (streamStatefulSessions _),
    "s13_running_counts" -> (streamRunningCounts _),
    "s10_file_sink_exactly_once" -> (streamFileSink _),
    "s8_stream_interval_join" -> (streamIntervalJoin _),
    "s9_stream_sessions" -> (streamSessions _),
    "s7_stream_dedup" -> (streamDedup _),
    "s6_stream_window_counts" -> (streamWindowCounts _),
    "s1_stream_count_by_type" -> (streamCountByType _),
    "s2_sessions" -> (sessionStats _),
    "s3_stream_dead_letter" -> (streamDeadLetter _),
    "s4_stream_resume" -> (streamResume _),
    "s5_stream_soft_retry" -> (streamSoftRetry _)
  )

  val oracles: Map[String, String] = Map(
    "s25_feed_materialized_view" -> s25Oracle,
    "s24_stream_change_feed" -> s24Oracle,
    // s20 shares f8's oracle VERBATIM: the streamed incremental apply
    // must converge to the one-window batch replay regardless of
    // micro-batch boundaries and arrival order
    "s20_stream_keyed_merge" -> FormatQueries.f8Oracle,
    // s22 also shares f8's oracle VERBATIM: the as-of-latest state of
    // the batchId-versioned append-only log must converge to the same
    // one-window batch replay as the in-place merge
    "s22_stream_versioned_ingest" -> FormatQueries.f8Oracle,
    // s23: compactions interleaved with live commits change nothing
    "s23_stream_compacted_ingest" -> FormatQueries.f8Oracle,
    "s19_monitoring_metrics" -> s19Oracle,
    "s18_stream_dsir_score" -> TextAnalytics.dsirImportanceOracle,
    "s21_stream_drift_audit" -> streamDriftAuditOracle,
    "s17_stream_ann_ingest" -> streamAnnIngestOracle,
    "s16_stream_reshard" -> streamCountOracle,
    "s15_stream_left_outer" -> streamLeftOuterOracle,
    "s11_stream_neardup" -> NearDup.minhashDecontaminateOracle,
    "s12_stateful_sessions" -> sessionStatsOracle,
    "s14_stream_topk" -> topKOracle,
    "s13_running_counts" -> runningCountsOracle,
    "s10_file_sink_exactly_once" -> streamCountOracle,
    "s8_stream_interval_join" -> PipelineOps.p8Oracle,
    "s9_stream_sessions" -> sessionStatsOracle,
    "s7_stream_dedup" -> streamCountOracle,
    "s6_stream_window_counts" -> streamWindowOracle,
    "s1_stream_count_by_type" -> streamCountOracle,
    "s2_sessions" -> sessionStatsOracle,
    "s3_stream_dead_letter" -> streamDeadLetterOracle,
    "s4_stream_resume" -> streamCountOracle,
    "s5_stream_soft_retry" -> streamCountOracle
  )
}
