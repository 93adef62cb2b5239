package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** g1 exact-integer PageRank: semantics pinned on hand-built chains with
  * known stationary distributions, plus the mass-conservation invariants
  * the floor-division formulation must respect. */
class GraphOpsSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val S = 1000000000000L

  /** (user, seq of event types) → an events frame in Tables' normalized
    * shape (ts BIGINT epoch-nanos). */
  private def eventsOf(seqs: Seq[(Long, Seq[String])]) = {
    val s = spark; import s.implicits._
    seqs.flatMap { case (uid, types) =>
      types.zipWithIndex.map { case (t, i) =>
        (uid * 100000L + i, i.toLong * 1000000000L, uid, t, 0.0, "{}")
      }
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
  }

  test("symmetric 2-cycle has exactly equal ranks (stationary = uniform)") {
    // one user bouncing A→B→A→B…: transition matrix is the swap — the
    // stationary distribution is uniform, and by symmetry the integer
    // recurrence keeps the two ranks IDENTICAL at every iteration
    val ev = eventsOf(Seq((1L, Seq.fill(40)(Seq("A", "B")).flatten)))
    val got = GraphOps.eventPagerankDf(spark, ev)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.keySet shouldBe Set("A", "B")
    got("A") shouldBe got("B")
    // and the per-node rank is within floor-loss of S/2
    got("A") should be <= S / 2
    got("A") should be > (S / 2) * 99 / 100
  }

  test("an absorbing-heavy state outranks a transient one; mass is conserved within floor loss") {
    // B self-loops 3× for every exit; A always leaves. B must outrank A.
    val walk = Seq.fill(30)(Seq("A", "B", "B", "B", "B")).flatten
    val ev = eventsOf(Seq((1L, walk), (2L, walk)))
    val got = GraphOps.eventPagerankDf(spark, ev)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got("B") should be > got("A")
    val total = got.values.sum
    total should be <= S
    // floor losses: ≤ 1 ppm per edge-term per iteration plus N division
    // floors — bounded far above by 1% of the mass
    total should be > S * 99 / 100
    got.values.foreach(_ should be > 0L)
  }

  test("teleport floor reaches every node: an unreachable source still holds rank") {
    // C appears only as a source (first event of user 3): no in-edges —
    // rank must settle at the bare teleport share, not 0
    val ev = eventsOf(Seq(
      (1L, Seq("A", "B", "A", "B", "A")),
      (2L, Seq("A", "B", "A")),
      (3L, Seq("C", "A", "B"))))
    val got = GraphOps.eventPagerankDf(spark, ev)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.keySet shouldBe Set("A", "B", "C")
    val teleport = 150000000000L / 3
    got("C") shouldBe teleport
    got("A") should be > got("C")
  }

  test("a malformed or non-positive spark.graft.pagerank.maxTypes fails naming the key") {
    val ev = eventsOf(Seq((1L, Seq("A", "B", "A"))))
    Seq("many", "0", "-3").foreach { bad =>
      spark.conf.set("spark.graft.pagerank.maxTypes", bad)
      try {
        val e = intercept[IllegalArgumentException](GraphOps.eventPagerankDf(spark, ev))
        e.getMessage should include("spark.graft.pagerank.maxTypes")
        e.getMessage should include(s"'$bad'")
      } finally spark.conf.unset("spark.graft.pagerank.maxTypes")
    }
  }

  test("g1 on testdata: 5 ranked types, descending, positive, conserved") {
    val out = GraphOps.eventPagerank(spark, "/root/testdata/sf0.001").collect()
    out.length shouldBe 5
    val ranks = out.map(_.getLong(1))
    ranks.toSeq shouldBe ranks.sortBy(-_).toSeq
    ranks.foreach(_ should be > 0L)
    ranks.sum should be <= S
    ranks.sum should be > S * 99 / 100
  }
}
