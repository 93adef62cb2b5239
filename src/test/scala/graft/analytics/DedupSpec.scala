package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** d5 paragraph dedup: semantics pinned against an in-Scala first-occurrence
  * sweep at sf0.001, plus the plan shape that must survive 100 TB (content-
  * hash window partitioning — unbounded parallelism — and exactly the two
  * unavoidable exchanges for a document-reconstruction operator). */
class DedupSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  test("d5 matches the sequential first-occurrence sweep (corpus order, 10-word segments)") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val seen = scala.collection.mutable.HashSet.empty[String]
    val expected = docs.flatMap { case (id, text) =>
      val kept = text.split(" ", -1).grouped(10).map(_.mkString(" "))
        .filter(seen.add).toSeq
      if (kept.isEmpty) None
      else Some((id, kept.size.toLong, kept.mkString(" ")))
    }.toSeq

    val got = Dedup.paragraphDedup(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == expected)
    // the operator must actually remove something at this SF, and some doc
    // must survive only partially (otherwise the test proves nothing)
    val keptSegs = got.map(_._2).sum
    val totalSegs = docs.map { case (_, t) => (t.split(" ", -1).length + 9) / 10 }.sum
    assert(keptSegs < totalSegs)
  }

  test("d5 invariants on random corpora: global uniqueness, order, conservation") {
    val s = spark; import s.implicits._
    val rng = new scala.util.Random(11)
    val words = Vector("a", "b", "c", "d") // tiny vocab → many segment collisions
    for (trial <- 0 until 3) {
      val segWords = Seq(2, 3, 10)(trial)
      val docs = (0 until 30).map { id =>
        val n = rng.nextInt(25) + 1
        (id.toLong, Seq.fill(n)(words(rng.nextInt(words.size))).mkString(" "))
      }
      val out = Dedup.paragraphDedupDf(docs.toDF("doc_id", "text"), segWords)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))

      // 1. no segment string survives twice anywhere in the cleaned corpus
      val allSegs = out.flatMap { case (_, _, t) =>
        t.split(" ", -1).grouped(segWords).map(_.mkString(" "))
      }
      allSegs.distinct.length shouldBe allSegs.length
      // 2. each cleaned doc is a subsequence of its original's segments,
      //    in order, and n_kept counts them
      val orig = docs.toMap
      out.foreach { case (id, nKept, t) =>
        val mine = t.split(" ", -1).grouped(segWords).map(_.mkString(" ")).toSeq
        mine.size.toLong shouldBe nKept
        val origSegs = orig(id).split(" ", -1).grouped(segWords).map(_.mkString(" ")).toSeq
        // subsequence check
        var i = 0
        mine.foreach { m =>
          val j = origSegs.indexOf(m, i); j should be >= 0; i = j + 1
        }
      }
      // 3. conservation: the set of distinct segment strings is preserved
      val origDistinct = docs.flatMap { case (_, t) =>
        t.split(" ", -1).grouped(segWords).map(_.mkString(" "))
      }.distinct.sorted
      allSegs.sorted.toSeq shouldBe origDistinct.toSeq
    }
  }

  test("d7 prefix filtering loses no qualifying pair (brute-force equality on planted excerpts)") {
    // The exactness claim of the PPJoin prefix filter: probing only each
    // doc's first ⌊|a|/2⌋+1 trigrams (rare-first order) still finds EVERY
    // ordered pair with containment ≥ 0.5. Planted excerpts (contiguous
    // halves of base docs) are exactly the pairs the filter must not drop.
    val s = spark; import s.implicits._
    val rng = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val base = (0 until 40).map { id =>
      val n = rng.nextInt(40) + 15
      (id.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val excerpts = (0 until 12).map { i =>
      val (_, text) = base(rng.nextInt(base.size))
      val ws = text.split(" ")
      val len = math.max(5, ws.length / 2)
      val start = rng.nextInt(math.max(1, ws.length - len))
      ((100 + i).toLong, ws.slice(start, start + len).mkString(" "))
    }
    val docs = base ++ excerpts
    val tmp = java.nio.file.Files.createTempDirectory("graft-d7").toString
    docs.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")

    def tri(t: String): Set[String] =
      t.split(" ").sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    val sets = docs.map { case (id, t) => id -> tri(t) }.filter(_._2.nonEmpty)
    val expected = (for {
      (a, sa) <- sets
      (b, sb) <- sets if a != b
      inter = (sa & sb).size if 2 * inter >= sa.size
    } yield (a, b, sa.size.toLong, inter.toLong)).toSet

    val got = Dedup.containmentDedup(spark, tmp)
      .select("a_id", "b_id", "size_a", "n_shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    got shouldBe expected
    // the corpus must actually exercise the guarantee
    expected.size should be > 10

    // BOTH strategies must produce the identical verified output — the
    // r9 dispatch (df-profile) may route either way, so each is pinned
    // against the brute force independently
    val gotDirect = Dedup.containmentDedupDirect(spark, tmp)
      .select("a_id", "b_id", "size_a", "n_shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    gotDirect shouldBe expected
    val gotPrefix = Dedup.containmentDedupPrefix(spark, tmp)
      .select("a_id", "b_id", "size_a", "n_shared").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    gotPrefix shouldBe expected

    // the PPJoin length + positional filters (r8) prune the candidate set
    // monotonically and still cover every qualifying pair
    val full = Dedup.containmentCandidates(spark, tmp)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val prefixOnly = Dedup.containmentCandidates(spark, tmp, positional = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    full.subsetOf(prefixOnly) shouldBe true
    expected.map(p => (p._1, p._2)).subsetOf(full) shouldBe true
    full.size should be < prefixOnly.size // fixed vocab: must actually prune
  }

  test("d7 df-profile dispatch: benign corpora go direct, stopword-trigram corpora go prefix") {
    // the rule is pure arithmetic on (Σdf, Σdf²) — pin the boundary
    Dedup.containmentDirectEligible(1000L, 10000L) shouldBe true // mean df 10
    Dedup.containmentDirectEligible(1000L, 64000L) shouldBe true // exactly 64×
    Dedup.containmentDirectEligible(1000L, 64001L) shouldBe false
    // a corpus of 100 IDENTICAL docs: every trigram has df 100 > 64, so the
    // weighted mean trips the prefix path — and on that degenerate corpus
    // the two strategies must still agree pair-for-pair
    val s = spark; import s.implicits._
    val text = "the quick brown fox jumps over the lazy dog again and again"
    val docs = (0L until 100L).map(i => (i, text))
    val tmp = java.nio.file.Files.createTempDirectory("graft-d7b").toString
    docs.toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id", "n_shared").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val direct = pairs(Dedup.containmentDedupDirect(spark, tmp))
    val prefix = pairs(Dedup.containmentDedupPrefix(spark, tmp))
    direct shouldBe prefix
    direct.size shouldBe 100 * 99 // every ordered pair, containment 1.0
  }

  test("d7 dispatch releases its incidence cache when a job after persist throws") {
    val s = spark; import s.implicits._
    val docs = (0L until 200L).map(i => (i, s"doc $i " + ("alpha beta gamma delta " * 20)))
    val tmp = java.nio.file.Files.createTempDirectory("graft-d7c").toString
    docs.toDF("doc_id", "text").coalesce(1).write.parquet(s"$tmp/documents.parquet")
    // the footer stays intact, so the schema reads at plan time; the first
    // page header is garbage, so the profile job fails after the persist
    val part = new java.io.File(s"$tmp/documents.parquet").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    val raf = new java.io.RandomAccessFile(part, "rw")
    try { raf.seek(4); raf.write(Array.fill[Byte](64)(-1)) } finally raf.close()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    an[Exception] should be thrownBy Dedup.containmentDedupDispatch(spark, tmp)
    spark.sparkContext.getPersistentRDDs.keySet shouldBe before
  }

  test("d11 planted-run recall: a 35-char shared run is found at ANY alignment; sub-threshold runs are not") {
    val s = spark; import s.implicits._
    val rng = new scala.util.Random(23)
    def rand(n: Int): String =
      Seq.fill(n)(('a' + rng.nextInt(26)).toChar).mkString
    // k=20, w=16 ⇒ guarantee threshold k+w−1 = 35 chars. Random 26-letter
    // text makes accidental 20-gram collisions impossible in practice.
    val run = rand(35)
    val short = rand(24) // ≥ k but < k+w−1: no selection guarantee
    val docs = Seq(
      (1L, rand(7) + run + rand(180)),    // planted run at offset 7
      (2L, rand(113) + run + rand(60)),   // same run at offset 113 (≠ mod w)
      (3L, rand(41) + short + rand(150)), // sub-threshold overlap pair...
      (4L, rand(88) + short + rand(90)),  // ...may or may not collide
      (5L, rand(220)),                    // clean
      (6L, rand(200))                     // clean
    ).toDF("doc_id", "text")
    val got = Dedup.substringDedupDf(spark, docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .map { case (id, n, d) => id -> ((n, d)) }.toMap
    // both copies of the planted run MUST share a fingerprint, wherever
    // the run sits (the winnowing guarantee; stride sampling fails this)
    got(1L)._2 should be > 0L
    got(2L)._2 should be > 0L
    // clean docs share nothing
    got(5L)._2 shouldBe 0L
    got(6L)._2 shouldBe 0L
    // every doc fingerprints something, ~2/(w+1) of its positions
    got.values.foreach { case (n, _) => n should be > 0L }
  }

  test("d5 plan: content-hash window + doc regroup, no joins, no cartesian") {
    val plan = Dedup.paragraphDedup(spark, sfDir).queryExecution.executedPlan.toString
    withClue(s"d5 plan:\n$plan\n") {
      plan should include("Window")
      // keep decision partitions by the 64-bit content hash, never the
      // segment string (the window key is the projected xxhash64 column)
      plan should include("xxhash64(seg")
      plan should not include "Join"
      // two hash exchanges total: the window's content-hash partitioning
      // and the per-doc reassembly aggregation (orderBy adds only a range
      // exchange)
      "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 2
    }
  }
}
