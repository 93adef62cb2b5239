package graft.engine

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.core._
import graft.sources.InMemorySourceClient

/** The start helper's per-query settings, on a shared session whose
  * shuffle default (8) differs from the drained query's own value (3), so
  * a value that leaks into the wrong query, or stays on the caller's
  * session, shows. Each batch records the settings of the session it runs
  * on, which is its query's clone of the caller's session. */
class QueryStartSpec extends AnyFunSuite with Matchers with graft.SparkSpec {
  import GraftProcessorSpec.Echo

  override lazy val spark: SparkSession =
    graft.GraftSession.builder("local[4]", 8).appName(suiteName).getOrCreate()

  private val shuffleKey = "spark.sql.shuffle.partitions"
  private val keys = Seq(shuffleKey, QueryStart.ManagerKey)
  private val FileContextManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"

  private def tmp(): String = Files.createTempDirectory("graft-query-start").toString

  private def settings(s: SparkSession): Map[String, Option[String]] =
    keys.map(k => k -> s.conf.getOption(k)).toMap

  /** The caller's explicit settings, read where no start holds them. */
  private def callerConfs(): Map[String, Option[String]] =
    QueryStart.lock.synchronized(keys.map(k => k -> spark.conf.getAll.get(k)).toMap)

  private def shards(n: Int, per: Int): Map[String, IndexedSeq[KRecord]] =
    (0 until n).map { s =>
      s"shard-$s" -> (0 until per).map(i =>
        KRecord(f"$i%010d", s"pk-$i", s"p-$s-$i".getBytes("UTF-8"), None, s"shard-$s"))
    }.toMap

  private def engine(name: String, onItems: (SparkSession) => Unit): GraftProcessor[String] = {
    val s = spark; import s.implicits._
    new GraftProcessor[String](ProcessorConfig(name, batchSize = 5), new Echo,
      new InMemorySourceClient(shards(2, 20)), new InMemoryCheckpointStore,
      onItems = (ds, _) => { onItems(ds.sparkSession); ds.count(); () })
  }

  private def fileManager(log: AnyRef): String =
    log.getClass.getMethod("fileManager").invoke(log).getClass.getName

  private def logManagers(q: StreamingQuery): Seq[String] = {
    val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
    Seq(fileManager(exec.offsetLog), fileManager(exec.commitLog))
  }

  test("an engine query and a drained query started at once each get their own settings") {
    val before = callerConfs()
    before shouldBe Map(shuffleKey -> Some("8"), QueryStart.ManagerKey -> None)
    val input = tmp()
    spark.range(40).toDF("v").write.mode("overwrite").parquet(input)
    val engineSeen = new ConcurrentLinkedQueue[Map[String, Option[String]]]()
    val drainSeen = new ConcurrentLinkedQueue[Map[String, Option[String]]]()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try for (round <- 1 to 4) {
      val gp = engine(s"start-$round", s => { engineSeen.add(settings(s)); () })
      val drained = spark.readStream.schema("v LONG").option("maxFilesPerTrigger", 1)
        .parquet(input).writeStream
        .foreachBatch((b: DataFrame, _: Long) => { drainSeen.add(settings(b.sparkSession)); () })
      val runs = Seq(
        Future(gp.run(spark, tmp()) shouldBe Right(())),
        Future(QueryStart(spark, drained, tmp(), Trigger.AvailableNow(), Seq(shuffleKey -> "3"))
          .awaitTermination()))
      Await.result(Future.sequence(runs), 2.minutes)
    } finally pool.shutdown()
    val local = Some(QueryStart.LocalCheckpoints)
    engineSeen.asScala should not be empty
    engineSeen.asScala.toSet shouldBe Set(Map(shuffleKey -> Some("8"), QueryStart.ManagerKey -> local))
    drainSeen.asScala should not be empty
    drainSeen.asScala.toSet shouldBe Set(Map(shuffleKey -> Some("3"), QueryStart.ManagerKey -> local))
    callerConfs() shouldBe before
  }

  test("on a file: checkpoint both logs write through the local manager; the caller's conf stays unset") {
    val gp = engine("local-logs", _ => ())
    val q = gp.start(spark, tmp(), Trigger.ProcessingTime(50L))
    try {
      q.processAllAvailable()
      logManagers(q) shouldBe Seq(QueryStart.LocalCheckpoints, QueryStart.LocalCheckpoints)
      callerConfs()(QueryStart.ManagerKey) shouldBe None
    } finally {
      q.stop()
      gp.cleanup()
    }
  }

  test("the local manager renames into place: overwrites only when asked, leaves nothing behind a refusal or a cancel") {
    val dir = new Path(tmp())
    val conf = spark.sparkContext.hadoopConfiguration
    val fm = new LocalCheckpointFileManager(dir, conf)
    val target = new Path(dir, "log/0")
    def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
      val out = m.createAtomic(p, overwrite)
      out.write(text.getBytes("UTF-8"))
      out.close()
    }
    def read(p: Path): String = {
      val in = fm.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    write(fm, target, "first", overwrite = false)
    read(target) shouldBe "first"
    val refused = intercept[java.io.IOException](write(fm, target, "second", overwrite = false))
    refused.getClass.getName should include("AlreadyExists")
    read(target) shouldBe "first"
    write(fm, target, "second", overwrite = true)
    read(target) shouldBe "second"
    // a file Hadoop wrote with a .crc sidecar, then replaced: the stale
    // sidecar goes first, so the read has nothing to verify against
    val hadoop = new Path(dir, "log/1")
    val out = hadoop.getFileSystem(conf).create(hadoop)
    out.write("hadoop".getBytes("UTF-8"))
    out.close()
    new java.io.File(s"$dir/log/.1.crc").isFile shouldBe true
    write(fm, hadoop, "local", overwrite = true)
    read(hadoop) shouldBe "local"
    val cancelled = fm.createAtomic(new Path(dir, "log/2"), overwriteIfPossible = false)
    cancelled.write(1)
    cancelled.cancel()
    // no temp file, and no sidecar left from the Hadoop write
    new java.io.File(s"$dir/log").list().toSet shouldBe Set("0", "1")
  }

  test("a checkpoint file manager the caller's session names is kept") {
    spark.conf.set(QueryStart.ManagerKey, FileContextManager)
    val gp = engine("caller-manager", _ => ())
    try {
      val q = gp.start(spark, tmp(), Trigger.ProcessingTime(50L))
      try {
        q.processAllAvailable()
        logManagers(q) shouldBe Seq(FileContextManager, FileContextManager)
      } finally q.stop()
      callerConfs()(QueryStart.ManagerKey) shouldBe Some(FileContextManager)
    } finally {
      gp.cleanup()
      spark.conf.unset(QueryStart.ManagerKey)
    }
  }
}
