package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** n6 (large-star/small-star connected components) — the O(log² n)-round
  * replacement for n4's diameter-bounded label propagation.
  *
  * Gates: exact agreement with n4 on the real near-dup graph, and correct
  * labels on the graph shapes label propagation is WORST at — long chains
  * (diameter = n) — in far fewer rounds than the diameter.
  */
class ClusteringSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  test("big-star clustering equals label-propagation clustering on the near-dup graph") {
    val a = NearDup.minhashClusters(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1)))
    val b = NearDup.minhashClustersBigStar(spark, sfDir).collect().map(r => (r.getLong(0), r.getLong(1)))
    b should not be empty
    b.toSeq shouldBe a.toSeq
  }

  test("a 200-node chain collapses to one component labeled by its minimum") {
    import spark.implicits._
    // chain 0-1-2-…-199: diameter 199, the shape that makes per-round
    // min-propagation pay one round per hop
    val pairs = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = NearDup.connectedComponentsBigStar(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    labels.length shouldBe 200
    labels.foreach { case (_, c) => c shouldBe 0L }
  }

  test("label propagation survives a high-diameter chain (lineage truncation)") {
    import spark.implicits._
    // 24 rounds = 3 trips through the every-8-rounds localCheckpoint;
    // before the truncation, a ~96-round chain crashed the driver on plan
    // stringification (examples/CcProbe, a dev main since removed, last in
    // commit a49360d) — the lineage grew one
    // join+union+agg layer per round
    val pairs = (0L until 23L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = NearDup.connectedComponentsLabelProp(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    labels.length shouldBe 24
    labels.foreach { case (_, c) => c shouldBe 0L }
  }

  test("both cores match a union-find ground truth on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val n = 40 + rnd.nextInt(40)
      val m = n + rnd.nextInt(2 * n)
      val pairs = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // exact driver-side union-find over the same edges
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expected = parent.keys.map(k => (k, find(k))).toSeq.sorted
      val df = pairs.toDF("doc_a", "doc_b")
      val lp = NearDup.connectedComponentsLabelProp(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val bs = NearDup.connectedComponentsBigStar(df)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      withClue(s"trial $trial (n=$n, m=${pairs.size}): ") {
        lp shouldBe expected
        bs shouldBe expected
      }
    }
  }

  test("disjoint components, reversed pairs, and duplicates keep their own minima") {
    import spark.implicits._
    val pairs = Seq(
      (5L, 3L), (3L, 9L),            // component {3,5,9} → 3
      (20L, 21L), (21L, 20L),        // duplicate + reversed {20,21} → 20
      (40L, 41L), (41L, 42L), (42L, 40L) // triangle {40,41,42} → 40
    ).toDF("doc_a", "doc_b")
    val labels = NearDup.connectedComponentsBigStar(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    labels shouldBe Map(3L -> 3L, 5L -> 3L, 9L -> 3L,
      20L -> 20L, 21L -> 20L, 40L -> 40L, 41L -> 40L, 42L -> 40L)
  }
}
