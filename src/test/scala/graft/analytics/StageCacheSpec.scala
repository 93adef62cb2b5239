package graft.analytics

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** Contract of the shared-stage cache (VERDICT r11 #3): one build per
  * (JVM, key), concurrent first-callers collapse to one builder, a
  * failed build never caches, and the staged read is value-identical to
  * the inline build (the property that keeps every consumer's oracle
  * unchanged).
  */
class StageCacheSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("getOrBuild builds once; later callers read the staged parquet") {
    import spark.implicits._
    val builds = new AtomicInteger(0)
    def get() = StageCache.getOrBuild(spark, "spec:once") {
      builds.incrementAndGet()
      Seq((1L, "a", 0.5), (2L, "b", 2.25)).toDF("id", "s", "x")
    }
    val first = get().collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    val second = get().collect().map(r =>
      (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    builds.get() shouldBe 1
    second shouldBe first
    second shouldBe Array((1L, "a", 0.5), (2L, "b", 2.25))
  }

  test("concurrent first-callers collapse to one build") {
    import spark.implicits._
    val builds = new AtomicInteger(0)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val counts = Await.result(Future.sequence((1 to 8).map(_ => Future {
      StageCache.getOrBuild(spark, "spec:conc") {
        builds.incrementAndGet()
        Thread.sleep(100)
        Seq(1L, 2L, 3L).toDF("v")
      }.count()
    })), 2.minutes)
    counts.distinct shouldBe Seq(3L)
    builds.get() shouldBe 1
  }

  test("a failed build is NOT cached — the next caller retries") {
    import spark.implicits._
    val attempts = new AtomicInteger(0)
    def get(fail: Boolean) = StageCache.getOrBuild(spark, "spec:fail") {
      attempts.incrementAndGet()
      if (fail) sys.error("boom")
      Seq(42L).toDF("v")
    }
    an[Exception] should be thrownBy get(fail = true)
    get(fail = false).collect().map(_.getLong(0)) shouldBe Array(42L)
    attempts.get() shouldBe 2
  }

  test("a getOrBuild nested in another's build works when both keys share a map bin") {
    import spark.implicits._
    // ConcurrentHashMap bins by the low bits of h ^ (h >>> 16): equal low
    // 16 bits put both keys in one bin of any table up to 2^16 bins, where
    // a nested computeIfAbsent throws "Recursive update"
    def bin(key: String): Int = { val h = (spark, key).hashCode; (h ^ (h >>> 16)) & 0xffff }
    val outer = "spec:nested-outer"
    val inner = Iterator.from(0).map(i => s"spec:nested-inner-$i").find(bin(_) == bin(outer)).get
    val staged = StageCache.getOrBuild(spark, outer) {
      StageCache.getOrBuild(spark, inner)(Seq(7L).toDF("v")).selectExpr("v", "v + 1 AS w")
    }
    staged.collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((7L, 8L))
    StageCache.getOrBuild(spark, inner)(sys.error("inner staged once")).count() shouldBe 1L
  }

  test("staged graph/kn/bpe stages equal their inline builds (value identity)") {
    val sf = "/root/testdata/sf0.001"
    // e9: staged vs direct inline build
    val staged = Similarity.stagedTwoLevelGraph(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val inline = Similarity.knnGraphTwoLevelSelfScaled(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    staged should not be empty
    staged shouldBe inline
    // t22: staged perdoc roundtrips the BIGINTs and the IEEE double
    // bit-exactly (the property the hash gate depends on)
    val perdoc = TextAnalytics.knPerdocStaged(spark, sf)
    perdoc.columns shouldBe Array("doc_id", "n_bigrams", "kn_bits_q64",
      "mean_bits")
    val rows = perdoc.collect()
    rows.length shouldBe 500
    rows.foreach { r =>
      val exact = r.getLong(2).toDouble / (64.0 * r.getLong(1))
      r.getDouble(3) shouldBe exact // bitwise: same IEEE division
    }
  }
}
