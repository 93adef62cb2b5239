package graft.analytics

import org.apache.spark.sql.SparkSession
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkEntry

/** Suite-wide cache-eviction gate (VERDICT r12 #5).
  *
  * The r12 incident: the public `spark.catalog.dropTempView` UNCACHES
  * the dropped view's plan, and a temp view created from a DataFrame
  * shares that DataFrame's plan — so [[Views]]' post-analysis name-drop
  * silently evicted callers' persists. q59 then re-ran a 60 M-row
  * distinct inside its 300 s-capped broadcast build thread and g1
  * re-executed its corpus window pass per rank iteration; invisible at
  * sf0.1, a scale-killer at sf10+. The fix (drop the NAME binding via
  * `sessionState.catalog`) was pinned for the two known victims in
  * RoundTwelveBOpsSpec — but ANY future operator that persists + wraps
  * in a view could regress the same way without tripping those pins.
  *
  * This spec closes the class, not the instances:
  *   1. it proves the detector actually fires on the PRE-FIX drop path
  *      (public catalog drop of a view over a persisted df), so the
  *      guard is demonstrably not vacuous;
  *   2. it enables [[Views.cacheGuard]] — every name-drop then asserts
  *      the registered df's cache level is UNCHANGED across the drop —
  *      and executes the ENTIRE registered query surface at sf0.001.
  *      Any query, present or future, whose Views usage evicts a live
  *      persist fails here by name.
  */
class CacheEvictionGateSpec extends AnyFunSuite with Matchers
    with graft.SparkSpec {

  // the full surface re-executes every registered plan: give it the
  // bench warm-up's parallelism rather than SparkSpec's local[4]
  override lazy val spark: SparkSession =
    graft.GraftSession.builder("local[8]", 8).appName(suiteName).getOrCreate()

  private val sf = "/root/testdata/sf0.001"

  test("the detector fires on the pre-fix drop path (not vacuous)") {
    val df = spark.range(64).toDF("x")
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      df.count()
      df.storageLevel should not be StorageLevel.NONE
      df.createOrReplaceTempView("graft_evict_probe_v")
      // the PRE-FIX implementation: public catalog drop — this is the
      // exact call Views used before r12, and it must be VISIBLE to the
      // storageLevel probe the guard is built on
      spark.catalog.dropTempView("graft_evict_probe_v")
      df.storageLevel shouldBe StorageLevel.NONE
    } finally { df.unpersist(); () }
  }

  test("the fixed name-drop preserves the cache and the guard stays quiet") {
    val df = spark.range(64).toDF("x")
    df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      df.count()
      Views.cacheGuard = true
      try Views.sql(spark, df, "gv", "SELECT sum(x) AS s FROM gv").collect()
      finally Views.cacheGuard = false
      df.storageLevel should not be StorageLevel.NONE
    } finally { df.unpersist(); () }
  }

  test("NO registered query's execution evicts a live persist via a view drop") {
    // sweep the whole surface with the guard armed: every Views
    // name-drop inside every registered query now asserts cache-level
    // invariance. A single offender fails with its view name in the
    // message and this clue names the query.
    Views.cacheGuard = true
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        withClue(s"query $name: ") {
          noException should be thrownBy { fn(spark, sf).count(); () }
        }
      }
    } finally {
      Views.cacheGuard = false
      Scratch.sweep()
    }
  }
}
