package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query-name filter (dev only)]
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Coverage-collapse guard (VERDICT r7 item 5): a registered surface
    // that SHRANK must read as red, never as a smaller green artifact.
    if (only.isEmpty && SparkEntry.queries.size < SparkEntry.expectedQueryCount) {
      System.err.println(s"[verify] registered query count ${SparkEntry.queries.size} " +
        s"< expected floor ${SparkEntry.expectedQueryCount} — coverage collapsed")
      spark.stop()
      sys.exit(2)
    }
    // every oracle must gate a registered query (a dangling oracle entry
    // means a rename half-landed)
    val dangling = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    if (dangling.nonEmpty) {
      System.err.println(s"[verify] oracles without queries: ${dangling.mkString(", ")}")
      spark.stop()
      sys.exit(2)
    }
    // A query that throws must leave an EXPLICIT trace, not just a missing
    // output dir: round 6's correctness artifact silently shrank by 17
    // entries because failed queries vanished without a record (ADVICE r6).
    val failed = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        if (SparkEntry.oracleSql.get(name).exists(_.contains(SparkEntry.EntryInputs))) {
          val to = Files.createDirectories(Paths.get(SparkEntry.inputsDir(s"$outDir/$name")))
          df.inputFiles.foreach { f =>
            val from = Paths.get(new java.net.URI(f))
            Files.copy(from, to.resolve(from.getFileName))
          }
        }
      } catch { case e: Throwable =>
        failed(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // the write above materialized the query — its scratch is now dead
      graft.analytics.Scratch.sweep()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (k, v) => s"${q(k)}: ${q(v.replace(SparkEntry.EntryInputs,
        SparkEntry.inputsDir(Paths.get(s"$outDir/$k").toAbsolutePath.toString)))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val failJson = failed.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"), failJson)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries FAILED: " +
        failed.keys.mkString(", "))
      sys.exit(1) // the driver must see a red run, not a shrunken green one
    }
  }
}
