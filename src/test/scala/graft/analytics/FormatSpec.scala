package graft.analytics

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec

/** f3's claim over the line formats: ORC keeps the columnar contract.
  * The round-trip hash gate proves losslessness; this pins the scan-side
  * properties that make ORC a resident-format option at 100 TB —
  * predicate pushdown and column pruning on the re-read data.
  */
class FormatSpec extends AnyFunSuite with Matchers with SparkSpec {

  test("ORC re-read scan keeps predicate pushdown and column pruning") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val tmp = Files.createTempDirectory("graft-orc-spec").toString
    docs.write.mode("overwrite").orc(tmp)
    val plan = spark.read.orc(tmp)
      .filter("lang = 'en' AND n_chars > 100")
      .select("doc_id", "lang", "n_chars")
      .queryExecution.executedPlan.toString
    plan should include("PushedFilters: [IsNotNull(lang), IsNotNull(n_chars)")
    plan should include("EqualTo(lang,en)")
    plan should include regex "GreaterThan\\(n_chars,100"
    // text (the wide column) must not be read
    plan should include regex "ReadSchema: struct<doc_id:bigint,lang:string,n_chars:(bigint|int)"
    (plan should not).include("text:string")
  }

  test("f11 bucketed layout: aggregations and self-join run with ZERO hash exchanges") {
    val df = FormatQueries.f11BucketedJoin(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the whole point of the bucketed write: no shuffle anywhere in the
    // two aggregations or the join — only the final orderBy's range
    // exchange may appear
    (plan should not).include("Exchange hashpartitioning")
    plan should include("SortMergeJoin")
    plan should include("Bucketed: true")
    plan should include("SelectedBucketsCount: 32 out of 32")
    // the merge hint must have held off a broadcast (a BHJ would also
    // show zero hash exchanges without proving the bucketed join)
    (plan should not).include("BroadcastHashJoin")
  }

  test("f4 partitioned re-read prunes to the lang=en directory (PartitionFilters)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val tmp = Files.createTempDirectory("graft-part-spec").toString
    docs.write.mode("overwrite").partitionBy("lang").parquet(tmp)
    val plan = spark.read.parquet(tmp)
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .queryExecution.executedPlan.toString
    // the predicate must resolve at PLANNING time against directory
    // values — a partition filter, not a pushed data filter
    plan should include regex "PartitionFilters: \\[isnotnull\\(lang.*\\), \\(lang.* = en\\)\\]"
    (plan should not).include("EqualTo(lang,en)")
  }

  test("f9 as-of read prunes later deltas at planning time (PartitionFilters) and replays LWW") {
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-vt-spec").toString + "/t"
    VersionedTable.appendDelta(dir,
      Seq((1L, 1L, "u", 10.0), (2L, 1L, "u", 20.0)).toDF("k", "seq", "__op", "v"), 0L)
    VersionedTable.appendDelta(dir,
      Seq((1L, 2L, "u", 11.0), (3L, 2L, "d", 0.0)).toDF("k", "seq", "__op", "v"), 1L)
    VersionedTable.appendDelta(dir,
      Seq((2L, 3L, "d", 0.0), (4L, 3L, "u", 40.0)).toDF("k", "seq", "__op", "v"), 2L)
    // a committed version is immutable: re-landing it must fail loudly
    an[Exception] should be thrownBy VersionedTable.appendDelta(dir,
      Seq((9L, 9L, "u", 9.0)).toDF("k", "seq", "__op", "v"), 1L)
    val asOf1 = VersionedTable.readAsOf(spark, dir, Seq("k"), Seq("seq"), 1L)
    val plan = asOf1.queryExecution.executedPlan.toString
    // the version predicate must resolve at PLANNING time against the
    // delta directories — a partition filter, never a data filter
    plan should include regex "PartitionFilters: \\[.*delta.* <= 1\\)\\]"
    asOf1.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet shouldBe Set((1L, 2L, 11.0), (2L, 1L, 20.0))
    VersionedTable.readAsOf(spark, dir, Seq("k"), Seq("seq"), 2L)
      .collect().map(_.getLong(0)).toSet shouldBe Set(1L, 4L)
  }

  test("f6 clustered re-read pushes the date-range predicate to the scan") {
    import org.apache.spark.sql.functions.{col, lit}
    val li = Tables.lineitem(spark, "/root/testdata/sf0.001")
    val tmp = Files.createTempDirectory("graft-clust-spec").toString
    li.repartitionByRange(4, col("l_shipdate"))
      .sortWithinPartitions(col("l_shipdate"))
      .write.mode("overwrite").parquet(tmp)
    val plan = spark.read.parquet(tmp)
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
      .select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    // the range predicate must reach the parquet reader, where clustered
    // row-group min/max stats turn it into row-group skips
    plan should include regex "PushedFilters: \\[IsNotNull\\(l_shipdate\\), GreaterThanOrEqual\\(l_shipdate,"
    plan should include regex "LessThan\\(l_shipdate,"
    // pruned to the 3 needed columns (filter col stays for the residual)
    plan should include regex
      "ReadSchema: struct<l_orderkey:bigint,l_quantity:double,l_shipdate:timestamp"
  }

  test("f7 compaction sizes output at ceil(bytes/target), shuffle-free, lossless") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val tmp = Files.createTempDirectory("graft-compact-spec").toString
    val small = s"$tmp/small"
    val out = s"$tmp/out"
    docs.repartition(16).write.mode("overwrite").parquet(small)
    // force a multi-file result so the sizing rule is actually exercised
    spark.conf.set("spark.graft.compaction.targetBytes", "65536")
    try FormatQueries.compactParquet(spark, small, out)
    finally spark.conf.unset("spark.graft.compaction.targetBytes")
    val fs = new org.apache.hadoop.fs.Path(small)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dataFiles(dir: String) = fs
      .listStatus(new org.apache.hadoop.fs.Path(dir))
      .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
    val srcBytes = dataFiles(small).map(_.getLen).sum
    val expectedFiles = math.max(1L, (srcBytes + 65535) / 65536).toInt
    dataFiles(out).length shouldBe expectedFiles
    expectedFiles should be < 16 // it actually compacted
    // lossless: every row survives exactly once
    val a = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted
    val b = spark.read.parquet(out)
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted
    b shouldBe a
    // the rewrite plan merges splits without an exchange
    val plan = spark.read.parquet(small).coalesce(expectedFiles)
      .queryExecution.executedPlan.toString
    plan should include("Coalesce")
    (plan should not).include("Exchange")
  }
}
