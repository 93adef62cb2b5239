package graft.analytics

import java.util.concurrent.{ConcurrentLinkedQueue, Executors}

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkEntry

/** Records, at every progress event, the caller session's explicit value
  * of each key and every state operator's partition count. The conf is
  * read under [[graft.engine.QueryStart.lock]]: a start holds the
  * per-query values on the caller's session only inside that lock. */
final class ConfProbe(spark: SparkSession, keys: Seq[String])
    extends StreamingQueryListener {
  val seen = new ConcurrentLinkedQueue[Map[String, Option[String]]]()
  val stateParts = new ConcurrentLinkedQueue[(java.util.UUID, Long)]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val confs = graft.engine.QueryStart.lock.synchronized(
      keys.map(k => k -> spark.conf.getAll.get(k)).toMap)
    seen.add(confs)
    e.progress.stateOperators.foreach(o =>
      stateParts.add(e.progress.id -> o.numShufflePartitions))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** Waits until `n` distinct queries have reported state operators. */
  def awaitStatefulQueries(n: Int): Unit = {
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (stateParts.asScala.map(_._1).toSet.size < n && System.nanoTime() < deadline)
      Thread.sleep(50)
  }
}

/** The drain helper's contract on a shared session whose shuffle default
  * (8) is above the state-partition floor (4), so a leaked sized count
  * shows: each stateful s-entry gets its per-query confs, the caller's
  * session never carries them while queries drain, the entries leave no
  * temp view and no active query behind, and concurrent runs match their
  * sequential results. */
class StreamDrainSpec extends AnyFunSuite with Matchers with graft.SparkSpec {

  override lazy val spark: SparkSession = graft.GraftSession.builder("local[8]", 8)
    .appName(suiteName)
    .config("spark.scheduler.mode", "FAIR")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"
  private val shuffleKey = "spark.sql.shuffle.partitions"
  private val providerKey = StreamDrain.RocksDB._1

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  private def concurrently[A](work: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(work.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(work.zipWithIndex.map { case (w, i) =>
      Future {
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"drain-$i")
        try w() finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
      }
    }), 10.minutes)
    finally pool.shutdown()
  }

  private def confs(): Map[String, Option[String]] =
    Seq(shuffleKey, providerKey).map(k => k -> spark.conf.getAll.get(k)).toMap

  test("s6 and s13 drain with sized state partitions while the caller's conf stays at its default") {
    val before = confs()
    before(shuffleKey) shouldBe Some("8")
    val probe = new ConfProbe(spark, Seq(shuffleKey, providerKey))
    spark.streams.addListener(probe)
    try {
      concurrently(Seq("s6_stream_window_counts", "s13_running_counts").map(n =>
        () => rows(SparkEntry.queries(n)(spark, sf))))
      probe.awaitStatefulQueries(2)
    } finally spark.streams.removeListener(probe)
    val eventsBytes = new java.io.File(s"$sf/events.parquet").length()
    val sized = StreamDrain.statePartitionsFor(8, eventsBytes, 16)
    sized shouldBe 4
    probe.stateParts.asScala.map(_._1).toSet.size shouldBe 2
    probe.stateParts.asScala.map(_._2).toSet shouldBe Set(sized)
    probe.seen.asScala should not be empty
    probe.seen.asScala.toSet shouldBe Set(before)
    confs() shouldBe before
  }

  test("s6/s11/s13/s14 leave no temp view and no active query behind") {
    def tempViews(): Set[String] =
      spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val views = tempViews()
    for (n <- Seq("s6_stream_window_counts", "s11_stream_neardup",
        "s13_running_counts", "s14_stream_topk"))
      rows(SparkEntry.queries(n)(spark, sf)) should not be empty
    tempViews() shouldBe views
    spark.streams.active shouldBe empty
  }

  test("s6, s13 and s14 x2 concurrent on one session == sequential, and the session keeps its confs") {
    val names = Seq("s6_stream_window_counts", "s13_running_counts", "s14_stream_topk")
    val before = confs()
    val sequential = names.map(n => n -> rows(SparkEntry.queries(n)(spark, sf))).toMap
    val results = concurrently((names ++ names).map(n =>
      () => n -> rows(SparkEntry.queries(n)(spark, sf))))
    results.size shouldBe names.size * 2
    for ((n, got) <- results)
      withClue(s"concurrent run of $n diverged from its sequential result: ") {
        got shouldBe sequential(n)
      }
    confs() shouldBe before
  }
}
