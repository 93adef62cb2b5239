package graft.analytics

import java.util.concurrent.Executors

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkEntry

/** Concurrent multi-query gate (VERDICT r10 #4): production engines serve
  * several queries on ONE shared session/cluster, but every prior gate ran
  * strictly sequentially — so the 26 fixed-name `createOrReplaceTempView`
  * sites could silently overwrite each other's inputs without any gate
  * noticing. Those sites now route through [[Views]] (per-invocation
  * unique names, dropped post-analysis); this spec is the regression gate:
  *
  * - every SQL-formulated query that historically used a fixed view name
  *   (the collision class) runs TWICE concurrently with the whole set on
  *   a FAIR-scheduled shared session, and each run must produce exactly
  *   its sequential result;
  * - the spec deliberately pairs the two former `graft_orders_v` /
  *   `graft_customer_v` double-registrants (q20+q23, q23+q40) in the same
  *   wave — the precise interleaving that corrupted results before.
  */
class ConcurrencySpec extends AnyFunSuite with Matchers with graft.SparkSpec {

  // FAIR scheduling: each worker thread runs in its own pool, so no
  // query can starve the others — the production shared-session setup.
  override lazy val spark: SparkSession = graft.GraftSession.builder("local[8]", 8)
    .appName(suiteName)
    .config("spark.scheduler.mode", "FAIR")
    .getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  // the former fixed-view registrants (q20/q23 BOTH registered
  // graft_orders_v; q23/q40 BOTH registered graft_customer_v), the
  // heaviest multi-view SQL users, and two DataFrame-API controls
  private val names = Seq(
    "q20_above_avg_orders", "q23_exists_correlated", "q40_null_aware_anti",
    "q43_lateral_topk", "q54_listagg", "q28_grouping_sets", "q55_bitmap",
    "q48_recursive_chain", "t9_tfidf", "t14_vocab_growth",
    "t15_unigram_surprisal", "t16_bigram_surprisal", "t17_dsir_importance",
    "t19_source_kl_audit", "d12_cdc_chunk_dedup", "p20_pretrain_pipeline",
    "p21_token_budget_alloc", "g1_event_pagerank",
    "d1_exact_dedup", "e1_ann_brute_topk",
    // r11 continuation entries: t23 runs the t21 view+localCheckpoint
    // chain (the heaviest Views user), d13 shares the persisted corpus
    // signature table across threads, e15 is pure DataFrame control
    "t23_bpe_fertility", "d13_softdedup_weights", "e15_ivfpq_topk",
    // third batch: t24 composes the t22 Views chain; e17 caches/releases
    // a corpus table two concurrent invocations share by canonical plan
    // (one thread's unpersist just makes the other recompute, never
    // miscompute)
    "t24_perplexity_filter", "e17_graph_ann",
    // r12 entries: e18 caches its 1-row BQ grid (the e17 shared-cache
    // shape); q57 chains three agg-joins off one Tables.events plan two
    // threads share; m11 runs both mapPartitions decode legs
    "e18_binary_ann", "q57_funnel", "m11_av_align",
    // r14 entries: two concurrent s24 ingests run two streaming queries
    // with private scratch on one session; two concurrent s25 views race
    // on the SAME StageCache feed key (one builds — itself a streaming
    // query — the other blocks on the per-key future and reads)
    "s24_stream_change_feed", "s25_feed_materialized_view")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("30 queries x2 concurrent on one FAIR session == sequential results") {
    val sequential: Map[String, Seq[String]] =
      names.map(n => n -> rows(SparkEntry.queries(n)(spark, sf))).toMap

    val pool = Executors.newFixedThreadPool(10)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = scala.util.Random.shuffle(names ++ names).zipWithIndex
        .map { case (n, i) =>
          Future {
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"gate-$i")
            try n -> rows(SparkEntry.queries(n)(spark, sf))
            finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
          }
        }
      val results = Await.result(Future.sequence(futures), 15.minutes)
      results.size shouldBe names.size * 2
      for ((n, got) <- results)
        withClue(s"concurrent run of $n diverged from its sequential result: ") {
          got shouldBe sequential(n)
        }
    } finally pool.shutdown()
  }

  test("no registered-query source file still registers a fixed-name temp view") {
    // the mechanical guarantee behind the gate: Views.scala owns the ONLY
    // createOrReplaceTempView call site in main sources
    val mains = new java.io.File("src/main/scala/graft")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val offenders = walk(mains).filter { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      text.contains("createOrReplaceTempView") &&
        f.getName != "Views.scala"
    }
    offenders shouldBe empty
  }
}
