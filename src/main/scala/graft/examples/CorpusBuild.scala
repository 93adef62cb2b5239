package graft.examples

import org.apache.spark.sql.functions._

import graft.analytics.PipelineOps

/** End-to-end training-corpus build: the composition a user of this
  * library actually runs — quality filter → exact dedup → near-dup keep-best → benchmark
  * decontamination → per-source quota cap → deterministic stratified
  * sample → train/val/test hash split → fixed-window chunking — landing
  * a split-partitioned chunked corpus plus per-language stats as
  * parquet.
  *
  * Usage: runMain graft.examples.CorpusBuild [sfDir] [outDir]
  *
  * Every stage stays declarative so this whole build is ONE Catalyst plan
  * per output: the filters fuse into the scan, the only corpus-wide
  * shuffle is the dedup groupBy on the 8-byte content hash, and the
  * sample/chunk stages are narrow.
  */
object CorpusBuild {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outDir = if (args.length > 1) args(1) else "/tmp/graft_corpus"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    // 1. quality gate: length + uniqueness (t2-style signals)
    val w = split(col("text"), " ")
    val quality = docs.filter(
      size(w) >= 20 &&
        size(array_distinct(w)).cast("double") / size(w) >= 0.5)

    // 2. exact dedup: hash-keyed, min doc_id wins (d1 discipline — only
    //    (hash, doc_id) cross the shuffle; text rejoins on the survivors)
    val keep = quality
      .select(xxhash64(col("text")).as("h"), col("doc_id"))
      .groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val deduped = quality.join(keep, "doc_id")

    // 2b. paragraph-level boilerplate removal (d5 discipline): any 10-word
    //     segment already seen elsewhere in the corpus is dropped; the
    //     unique remainder of each page survives. The keep decision keys
    //     on the segment's content hash (unbounded window parallelism).
    val cleaned = graft.analytics.Dedup
      .paragraphDedupDf(quality.select(col("doc_id"), col("text")))
      .select(col("doc_id"), col("clean_text"))
    val deduped2 = deduped.drop("text")
      .join(cleaned.withColumnRenamed("clean_text", "text"), "doc_id")

    // 2c. near-dup keep-BEST (n7 discipline, the RefinedWeb order: exact
    //     dedup → fuzzy dedup → decontamination): label MinHash near-dup
    //     clusters, keep the longest surviving member per cluster (tie →
    //     min id), drop the rest. The argmax is a partial+final
    //     max(struct); only (doc_id, len) rows join the cluster labels.
    val clusters = graft.analytics.NearDup.minhashClusters(spark, sfDir)
    val lens = deduped2.select(col("doc_id"), length(col("text")).cast("long").as("len"))
    val reps = clusters.join(lens, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("len"), (-col("doc_id")).as("nid"))).as("best"))
      .select((-col("best.nid")).as("doc_id"))
    val ndDrop = clusters.select(col("doc_id"))
      .join(reps, Seq("doc_id"), "left_anti")
    val deduped3 = deduped2.join(ndDrop, Seq("doc_id"), "left_anti")

    // 3. benchmark decontamination (d3 discipline): drop corpus docs
    //    sharing any word 5-gram with the held-out benchmark set (docs
    //    0-19 stand in) — benchmark shingles broadcast, corpus streams,
    //    the drop is a left_anti on the flagged ids
    graft.functions.GraftFunctions.register(spark)
    val shingled = deduped3.select(col("doc_id"), expr(
      "explode(graft_shingle_hashes(split(regexp_replace(lower(text), '\\\\s+', ' '), ' '), 5)) AS h"))
    val contaminated = shingled.filter(col("doc_id") >= 20)
      .join(broadcast(shingled.filter(col("doc_id") < 20).select(col("h"))), "h")
      .select(col("doc_id")).distinct()
    val clean = deduped3.join(contaminated, Seq("doc_id"), "left_anti")

    // 4. per-source quota cap (p9 discipline): no crawl source may exceed
    //    its share — keep rule is hash-order row_number ≤ cap, which
    //    Catalyst prunes map-side via a partial WindowGroupLimit
    val capW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"))
      .orderBy(md5(col("doc_id").cast("string").cast("binary")), col("doc_id"))
    val capped = clean
      .withColumn("src_rk", row_number().over(capW))
      .filter(col("src_rk") <= 200)
      .drop("src_rk")

    // 5. deterministic stratified sample (md5 threshold per language)
    val sampled = capped.filter(
      substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2) <
        expr("CASE lang WHEN 'en' THEN '33' WHEN 'zh' THEN '66' ELSE '99' END"))

    // 6. deterministic train/val/test hash split (p10 discipline): a
    //    document's split depends only on its own id, so assignments are
    //    stable as the corpus grows — required for contamination-free eval
    val bucket = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % 1000
    val split_ = sampled.withColumn("split",
      when(bucket < 900, lit("train"))
        .when(bucket < 950, lit("val"))
        .otherwise(lit("test")))

    // 7. pack into 32-word chunks and land the corpus, partitioned by split
    PipelineOps.tokenChunks(split_.select(col("doc_id"), col("text")))
      .join(split_.select(col("doc_id"), col("split")), "doc_id")
      .write.mode("overwrite").partitionBy("split").parquet(s"$outDir/chunks")

    val stats = sampled.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " ")).cast("long")).as("n_words"))
      .orderBy(col("lang"))
    stats.write.mode("overwrite").parquet(s"$outDir/stats")

    val total = spark.read.parquet(s"$outDir/chunks").count()
    println(s"corpus build complete: $total chunks -> $outDir")
    stats.show(100, truncate = false)
    spark.stop()
  }
}
