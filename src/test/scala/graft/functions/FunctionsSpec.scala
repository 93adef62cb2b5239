package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** The native expressions must be bit-identical to the higher-order-function
  * formulations they replace (which are themselves pinned by the DuckDB
  * oracles). Each test compares native vs composed output on real text. */
class FunctionsSpec extends AnyFunSuite with Matchers with SparkSpec {

  private lazy val docs = {
    GraftFunctions.register(spark)
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "split(regexp_replace(lower(text), '\\\\s+', ' '), ' ') AS ws")
      .cache()
  }

  /** `docs` plus one row whose words hold nulls, a run of eight among them:
    * the interpreted chains skip a null word inside `concat_ws` (an
    * all-null window joins to "") and hash a null token to null. */
  private lazy val docsWithNulls = docs.unionByName(spark.sql(
    """SELECT CAST(-1 AS BIGINT) AS doc_id, array('a', NULL, 'b', 'c', 'd', 'e', NULL,
      |  'f', 'g', 'h', 'i', 'j', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, 'k') AS ws
      |""".stripMargin))

  /** The null-bearing row's native and composed arrays, which `!=` cannot
    * compare once they hold nulls. */
  private def nullRow(both: org.apache.spark.sql.DataFrame): (Seq[Any], Seq[Any]) = {
    val r = both.filter("doc_id = -1").collect().head
    (r.getSeq[Any](r.fieldIndex("native")), r.getSeq[Any](r.fieldIndex("composed")))
  }

  test("graft_shingle_hashes == sorted distinct xxhash64 of concat_ws 3-grams") {
    val both = docs.selectExpr(
      "graft_shingle_hashes(ws) AS native",
      """CASE WHEN size(ws) >= 3 THEN
        |  array_sort(array_distinct(transform(sequence(0, size(ws) - 3),
        |    i -> xxhash64(concat_ws(' ', ws[i], ws[i+1], ws[i+2])))))
        |ELSE array() END AS composed""".stripMargin)
    both.filter("native != composed").count() shouldBe 0
    both.filter("size(native) > 0").count() should be > 400L
  }

  test("graft_minhash == array_min of the mod-p universal permutations") {
    val withSh = docs.selectExpr("graft_shingle_hashes(ws) AS sh").filter("size(sh) > 0")
    val a = MinHashConstants.A
    val b = MinHashConstants.B
    val p = MinHashConstants.P
    val composed = (0 until MinHashConstants.numHashes).map(h =>
      s"array_min(transform(sh, x -> ((x & 1073741823L) * ${a(h)}L + ${b(h)}L) % ${p}L))").mkString(
      "array(", ", ", ") AS composed")
    val both = withSh.selectExpr("graft_minhash(sh) AS native", composed)
    both.filter("native != composed").count() shouldBe 0
  }

  test("graft_jaccard_sorted == set-op jaccard on sorted distinct arrays") {
    val sh = docs.selectExpr("doc_id", "graft_shingle_hashes(ws) AS sh").filter("size(sh) > 0")
    val pairs = sh.limit(50).selectExpr("doc_id AS a_id", "sh AS sa")
      .crossJoin(sh.limit(50).selectExpr("doc_id AS b_id", "sh AS sb"))
    val both = pairs.selectExpr(
      "graft_jaccard_sorted(sa, sb) AS native",
      "CAST(size(array_intersect(sa, sb)) AS DOUBLE) / size(array_union(sa, sb)) AS composed")
    both.filter("abs(native - composed) > 0").count() shouldBe 0
  }

  test("graft_intersect_count == size(array_intersect) on sorted distinct arrays") {
    val sh = docs.selectExpr("doc_id", "graft_shingle_hashes(ws) AS sh").filter("size(sh) > 0")
    val pairs = sh.limit(50).selectExpr("doc_id AS a_id", "sh AS sa")
      .crossJoin(sh.limit(50).selectExpr("doc_id AS b_id", "sh AS sb"))
    val both = pairs.selectExpr(
      "graft_intersect_count(sa, sb) AS native",
      "CAST(size(array_intersect(sa, sb)) AS BIGINT) AS composed")
    both.filter("native != composed").count() shouldBe 0
    both.filter("native > 0").count() should be > 0L
  }

  test("graft_simhash == per-bit voting fold") {
    val th = docs.selectExpr("transform(ws, t -> xxhash64(t)) AS th")
    val composed = (0 until 64).map(i =>
      s"CASE WHEN aggregate(th, 0L, (acc, h) -> acc + (shiftright(h, $i) & 1L) * 2L - 1L) > 0 " +
        s"THEN ${1L << i}L ELSE 0L END").mkString(" | ")
    val both = th.selectExpr("graft_simhash(th) AS native", s"($composed) AS composed")
    both.filter("native != composed").count() shouldBe 0
  }

  test("graft_cosine == zip_with/aggregate fold, and is 1.0 for identical vectors") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("CAST(embedding AS array<double>) AS v").limit(100)
    val pairs = emb.selectExpr("v AS a").crossJoin(emb.selectExpr("v AS b")).limit(2000)
    val both = pairs.selectExpr(
      "graft_cosine(a, b) AS native",
      """aggregate(zip_with(a, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x) /
        |(sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), 0D, (acc, x) -> acc + x)) *
        | sqrt(aggregate(zip_with(b, b, (x, y) -> x * y), 0D, (acc, x) -> acc + x))) AS composed""".stripMargin)
    both.filter("abs(native - composed) > 1e-12").count() shouldBe 0
    emb.selectExpr("graft_cosine(v, v) AS c").filter("abs(c - 1.0) > 1e-12").count() shouldBe 0
  }

  test("graft_l2sq == zip_with/aggregate squared-diff fold, exactly (same fold order)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("CAST(embedding AS array<double>) AS v").limit(100)
    val pairs = emb.selectExpr("v AS a").crossJoin(emb.selectExpr("v AS b")).limit(2000)
    val both = pairs.selectExpr(
      "graft_l2sq(a, b) AS native",
      "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0D, (acc, x) -> acc + x) AS composed")
    // bit-identical, not approximately equal: the loop preserves fold order
    both.filter("native != composed").count() shouldBe 0
    emb.selectExpr("graft_l2sq(v, v) AS z").filter("z != 0D").count() shouldBe 0
  }

  test("graft_md5_prefix_hashes == conv(substring(md5, 1, 15), 16, 10) per token") {
    val both = docsWithNulls.selectExpr("doc_id",
      "graft_md5_prefix_hashes(ws) AS native",
      "transform(ws, t -> CAST(conv(substring(md5(CAST(t AS BINARY)), 1, 15), 16, 10) AS BIGINT)) AS composed")
    both.filter("native != composed").count() shouldBe 0
    both.filter("size(native) > 0").count() should be > 400L
    val (native, composed) = nullRow(both)
    native shouldBe composed
    native.count(_ == null) shouldBe 10
  }

  test("graft_shingle_md5_hashes == sorted distinct md5-prefix of concat_ws 5-grams") {
    val both = docsWithNulls.selectExpr("doc_id",
      "graft_shingle_md5_hashes(ws, 5) AS native",
      """CASE WHEN size(ws) >= 5 THEN array_sort(array_distinct(transform(
        |  transform(sequence(1, size(ws) - 4),
        |    i -> concat_ws(' ', element_at(ws, i), element_at(ws, i+1),
        |         element_at(ws, i+2), element_at(ws, i+3), element_at(ws, i+4))),
        |  s -> CAST(conv(substring(md5(CAST(s AS BINARY)), 1, 15), 16, 10) AS BIGINT))))
        |ELSE array() END AS composed""".stripMargin)
    both.filter("native != composed").count() shouldBe 0
    both.filter("size(native) > 0").count() should be > 400L
    val (native, composed) = nullRow(both)
    native shouldBe composed
    // 17 windows, 13 distinct strings: skipping nulls joins two windows to
    // "b c d e", and four all-null windows to ""
    native.length shouldBe 13
  }

  test("graft_shingle_md5_hashes matches a JVM reference on random corpora (edge sizes, unicode, empty words)") {
    val s = spark; import s.implicits._
    val rng = new scala.util.Random(13)
    val vocab = Vector("a", "bb", "ccc", "Ω", "x9", "", "hyphen-ed")
    val rows = (0 until 60).map { id =>
      val n = rng.nextInt(12) // 0..11 words — below and above the width
      (id.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.size))))
    }
    val got = rows.toDF("id", "ws")
      .selectExpr("id", "graft_shingle_md5_hashes(ws, 3) AS hs")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // independent derivation: hex-string slice of the digest, not bit math
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (id, ws) =>
      val expect =
        if (ws.length < 3) Seq.empty[Long]
        else ws.sliding(3).map { sh =>
          val d = md.digest(sh.mkString(" ").getBytes("UTF-8"))
          java.lang.Long.parseLong(
            d.take(8).map("%02x".format(_)).mkString.take(15), 16)
        }.toSeq.distinct.sorted
      withClue(s"doc $id (${ws.mkString("|")}): ") { got(id) shouldBe expect }
    }
  }

  test("graft_shingle_md5_sigs == per-instance signed-64 md5 prefix of concat_ws 8-grams (t26's interpreted chain)") {
    val both = docsWithNulls.selectExpr("doc_id",
      "graft_shingle_md5_sigs(ws, 8) AS native",
      """CASE WHEN size(ws) >= 8 THEN transform(sequence(1, size(ws) - 7),
        |  i -> CAST(conv(substring(md5(concat_ws(' ',
        |    slice(ws, i, 8))), 1, 16), 16, -10) AS BIGINT))
        |ELSE array() END AS composed""".stripMargin)
    both.filter("native != composed").count() shouldBe 0
    both.filter("size(native) > 0").count() should be > 400L
    val (native, composed) = nullRow(both)
    native shouldBe composed
    native.length shouldBe 14
    // per-INSTANCE means duplicates keep multiplicity: total sig count
    // equals total gram count, not the distinct count
    docs.selectExpr("size(graft_shingle_md5_sigs(ws, 8)) AS n",
        "greatest(0, size(ws) - 7) AS expect")
      .filter("n != expect").count() shouldBe 0
  }

  test("graft_winnow_hashes == HOF winnowing (per-position md5, window array_min)") {
    val both = docs.sparkSession.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .selectExpr("doc_id", "text",
        """transform(sequence(1, greatest(length(text) - 19, 1)),
          |  p -> CAST(conv(substring(md5(CAST(substring(text, p, 20) AS BINARY)),
          |       1, 15), 16, 10) AS BIGINT)) AS hs""".stripMargin)
      .selectExpr(
        "graft_winnow_hashes(text, 20, 16) AS native",
        """array_sort(array_distinct(transform(
          |  sequence(1, greatest(size(hs) - 15, 1)),
          |  i -> array_min(slice(hs, i, 16))))) AS composed""".stripMargin)
    both.filter("native != composed").count() shouldBe 0
    both.filter("size(native) > 0").count() should be > 400L
  }

  test("graft_winnow_hashes matches a JVM reference on random corpora (short/empty/unicode text)") {
    val s = spark; import s.implicits._
    val rng = new scala.util.Random(17)
    val alphabet = "abcdefgh Ωλ.!" // multi-byte chars exercise the non-ASCII path
    val k = 5; val w = 4
    val rows = (0 until 80).map { id =>
      val n = rng.nextInt(30) // 0..29 chars — below and above k and k+w-1
      (id.toLong, Seq.fill(n)(alphabet(rng.nextInt(alphabet.length))).mkString)
    }
    val got = rows.toDF("id", "text")
      .selectExpr("id", s"graft_winnow_hashes(text, $k, $w) AS fp")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // independent derivation: hex-string slice of the digest + brute-force
    // window minimum, not bit math or a deque
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach { case (id, text) =>
      val m = math.max(text.length - k + 1, 1)
      val hs = (0 until m).map { p =>
        val d = md.digest(
          text.substring(p, math.min(p + k, text.length)).getBytes("UTF-8"))
        java.lang.Long.parseLong(
          d.take(8).map("%02x".format(_)).mkString.take(15), 16)
      }
      val we = math.min(w, m)
      val expect = (0 to m - we).map(i => hs.slice(i, i + we).min)
        .distinct.sorted
      withClue(s"doc $id ('$text'): ") { got(id) shouldBe expect }
    }
  }

  test("graft_hyperplane_sig is stable and spreads across buckets") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .selectExpr("vec_id", "CAST(embedding AS array<double>) AS v")
    val sigs = emb.selectExpr("vec_id", "graft_hyperplane_sig(v) AS sig").cache()
    sigs.selectExpr("count(DISTINCT sig) AS n").head().getLong(0) should be > 100L
    // determinism across evaluations
    val again = emb.selectExpr("vec_id", "graft_hyperplane_sig(v) AS sig")
    sigs.join(again, "vec_id").filter(sigs("sig") =!= again("sig")).count() shouldBe 0
  }
}
