package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream, File, FileInputStream, FileOutputStream}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{KRecord, ShardIteratorType}

/** The DISTRIBUTED stand-in stream build (VERDICT r9 #5): the events table
  * sharded by partition key into per-shard record files, written
  * executor-parallel, then served by [[FileShardClient]] — per-JVM
  * constructible, lazily loading ONE shard per reader task. This replaces
  * the gate entries' use of `EventStream.clientFromParquet`, which sorted
  * and collected the whole corpus onto the driver to script the mock
  * client (14.7–17.2 s of pure driver time at sf10). Nothing here touches
  * the driver beyond planning: the sort is Spark's, the write is
  * `foreachPartition`, and each DSv2 reader loads exactly its shard.
  *
  * Record payload/order are IDENTICAL to [[EventStream]] (same
  * `concat_ws` encode, same `(ord, sequenceNumber)` in-shard order), so
  * the s1–s5 oracles are unchanged.
  *
  * File format per shard (`shard-<i>.bin` + `shard-<i>.cnt` sidecar):
  * records as [UTF seq][UTF pk][int len][bytes data][long arrivalMicros,
  * Long.MinValue = none]. The shard id is implied by the file name.
  */
object ShardedCorpus {

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()
  private val cleanup = new java.util.concurrent.ConcurrentLinkedQueue[File]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    var f = cleanup.poll()
    while (f != null) { deleteRecursively(f); f = cleanup.poll() }
  }))

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  /** Build-or-reuse the sharded corpus for (eventsPath, numShards) and
    * return a client over it. The directory lives for the JVM (it backs
    * every stream entry of a bench/verify run — deliberately NOT in the
    * between-query Scratch sweep) and is removed by the shutdown hook. */
  def clientFor(spark: SparkSession, eventsPath: String,
      numShards: Int): FileShardClient =
    new FileShardClient(memo.computeIfAbsent((eventsPath, numShards),
      _ => build(spark, eventsPath, numShards)))

  private def build(spark: SparkSession, eventsPath: String,
      numShards: Int): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-sharded-corpus").toFile
    cleanup.add(dir)
    val out = dir.getAbsolutePath
    // same projection as EventStream.buildClientFromParquet — the payload
    // and the per-shard (ord, seq) order must match the mock bit-for-bit
    val rows = graft.analytics.Tables.normalizeEventTs(spark.read.parquet(eventsPath))
      .select(
        format_string("%016d", col("event_id")).as("seq"),
        col("user_id").cast("string").as("pk"),
        encode(concat_ws("|", col("event_type"), col("value").cast("string"),
          col("props")), "UTF-8").as("data"),
        expr("ts div 1000").as("arrival_us"),
        pmod(col("user_id"), lit(numShards)).cast("int").as("shard"),
        col("ts").as("ord"))
      .repartition(numShards, col("shard"))
      .sortWithinPartitions(col("shard"), col("ord"), col("seq"))
    rows.foreachPartition { (it: Iterator[Row]) =>
      // Task-commit protocol (ADVICE r10): every attempt writes to
      // attempt-unique temp files and atomically renames into place on
      // success, so a speculative/zombie attempt racing its retry can
      // never interleave bytes into a half-written shard file. Both
      // attempts produce identical content (the partition is fully
      // sorted), so rename-replace is idempotent; .bin lands before
      // .cnt so a visible sidecar always implies a complete shard.
      val attempt = Option(org.apache.spark.TaskContext.get())
        .map(tc => s"${tc.stageId}-${tc.taskAttemptId}")
        .getOrElse(java.util.UUID.randomUUID().toString)
      var shard = -1
      var os: DataOutputStream = null
      var n = 0L
      def close(): Unit = if (os != null) {
        os.close()
        val tmpCnt = new File(out, f"shard-$shard%d.cnt.$attempt%s.tmp")
        val cnt = new java.io.PrintWriter(tmpCnt)
        cnt.print(n.toString); cnt.close()
        java.nio.file.Files.move(
          new File(out, f"shard-$shard%d.bin.$attempt%s.tmp").toPath,
          new File(out, f"shard-$shard%d.bin").toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        java.nio.file.Files.move(tmpCnt.toPath,
          new File(out, f"shard-$shard%d.cnt").toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      it.foreach { r =>
        val s = r.getInt(4)
        if (s != shard) {
          close()
          shard = s; n = 0L
          os = new DataOutputStream(new BufferedOutputStream(
            new FileOutputStream(
              new File(out, f"shard-$shard%d.bin.$attempt%s.tmp")), 1 << 16))
        }
        os.writeUTF(r.getString(0))
        os.writeUTF(r.getString(1))
        val data = r.getAs[Array[Byte]](2)
        os.writeInt(data.length); os.write(data)
        if (r.isNullAt(3)) os.writeLong(Long.MinValue) else os.writeLong(r.getLong(3))
        n += 1
      }
      close()
    }
    out
  }

  /** Per-JVM lazy shard cache: a reader task touching `shard-3` loads
    * only that file. Keyed by (dir, shardId) so several corpora coexist.
    *
    * UNBOUNDED within a query, evicted between queries (r12): every
    * micro-batch of an engine slice re-touches ALL shards (the admission
    * cap splits each shard across ~25 micro-batches), so the per-query
    * working set IS the corpus — a record-count-bounded LRU was measured
    * and REJECTED (s19 at sf30: 352 s vs 99.8 s, each under-capacity
    * micro-batch re-parsing the evicted shards). What was actually
    * harmful is the residency AFTER the query: ~9 GB of dead KRecord
    * objects taxing every later query in a sweep — fixed by
    * [[evictAll]] wired into the between-query scratch sweep. The
    * production client never has this cache; it is mock-harness
    * plumbing only. */
  private val shardCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), IndexedSeq[KRecord]]()

  private[sources] def loadShard(dir: String, shardId: String): IndexedSeq[KRecord] =
    shardCache.computeIfAbsent((dir, shardId), _ => parseShard(dir, shardId))

  private def parseShard(dir: String, shardId: String): IndexedSeq[KRecord] = {
      val f = new File(dir, s"$shardId.bin")
      if (!f.isFile) IndexedSeq.empty
      else {
        val in = new DataInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 16))
        try {
          val buf = Vector.newBuilder[KRecord]
          var eof = false
          while (!eof) {
            in.mark(1)
            if (in.read() < 0) eof = true
            else {
              in.reset()
              val seq = in.readUTF(); val pk = in.readUTF()
              val data = new Array[Byte](in.readInt()); in.readFully(data)
              val us = in.readLong()
              val ts = if (us == Long.MinValue) None else Some {
                val t = new java.sql.Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
                t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
                t
              }
              buf += KRecord(seq, pk, data, ts, shardId)
            }
          }
          buf.result()
        } finally in.close()
      }
  }

  /** Drop cached shards of `dir` (test hook / memory release). */
  private[sources] def evict(dir: String): Unit = {
    val it = shardCache.keySet.iterator()
    while (it.hasNext) if (it.next()._1 == dir) it.remove()
  }

  /** Drop EVERY cached shard — called by the between-query scratch sweep
    * so one engine slice's resident mock corpus never taxes the next
    * query's heap (r12; the next slice lazily re-parses its files). */
  private[graft] def evictAll(): Unit = shardCache.clear()
}

/** [[IndexedSourceClient]] over a [[ShardedCorpus]] directory: stateless,
  * `Serializable`, constructible in ANY JVM from the directory string (the
  * factory-seam shape — see [[FileShardClientFactory]]), loading one shard
  * lazily per first touch. Iterators are the canonical `shard#index`
  * cursors; no artificial expiry. */
final class FileShardClient(val dir: String)
    extends IndexedSourceClient with FactoryConstructible {

  override def factorySpec: (String, Map[String, String]) =
    (classOf[FileShardClientFactory].getName, Map("dir" -> dir))

  // computed once per JVM (@transient: re-lazied after deserialization);
  // latestOffset calls shardLength per shard per micro-batch, so this
  // must not re-scan the directory on every call
  @transient private lazy val counts: Map[String, Long] = {
    val files = Option(new File(dir).listFiles()).getOrElse(Array.empty)
    files.filter(_.getName.endsWith(".cnt")).map { f =>
      val src = scala.io.Source.fromFile(f)
      val n = try src.mkString.trim.toLong finally src.close()
      f.getName.stripSuffix(".cnt") -> n
    }.toMap
  }

  private def recs(shardId: String): IndexedSeq[KRecord] =
    ShardedCorpus.loadShard(dir, shardId)

  override def listShards(streamName: String): Seq[ShardInfo] =
    counts.keys.toSeq.sorted.map(ShardInfo)

  override def shardLength(streamName: String, shardId: String): Long =
    counts.getOrElse(shardId, 0L)

  override def iteratorAtIndex(streamName: String, shardId: String, index: Long): String =
    ShardCursor(shardId, index)

  override def indexOfIterator(streamName: String, shardId: String, iterator: String): Long =
    ShardCursor.indexOf(iterator)

  override def getShardIterator(streamName: String, shardId: String,
      iteratorType: ShardIteratorType): String =
    ShardCursor(shardId,
      ShardCursor.seek(iteratorType, recs(shardId), shardLength(streamName, shardId)))

  override def getRecords(iterator: String, limit: Int): GetRecordsResult = {
    val shardId = ShardCursor.shardOf(iterator)
    ShardCursor.page(shardId, recs(shardId), 0L, ShardCursor.indexOf(iterator), limit)
  }
}

/** Factory for [[FileShardClient]] — conf key `dir` (the multi-JVM
  * construction seam: executors on a shared filesystem build their own
  * client from the directory path, loading only the shards their tasks
  * read). */
final class FileShardClientFactory extends SourceClientFactory {
  override def build(conf: Map[String, String]): SourceClient =
    new FileShardClient(conf.getOrElse("dir",
      throw new IllegalArgumentException("FileShardClientFactory needs clientconf.dir")))
}
