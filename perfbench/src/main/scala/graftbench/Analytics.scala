package graftbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The analytics mix: a fixed list of registered `SparkEntry.queries`
  * entries, each built, planned and fully materialised once per pass. */
object Analytics {
  /** Streaming entries: s1 runs `GraftProcessor` inside the entry; s11
    * keeps streaming dedup state. */
  val Streaming: Seq[String] = Seq("s1_stream_count_by_type", "s11_stream_neardup")

  /** Batch entries: an aggregation over lineitem (q1) and an eager sorted
    * re-write and re-read (f6). The list is short because one benchmark run
    * must stay within about 45 s on a 4-core machine, and a cold JVM spends
    * several seconds on the first execution of each entry. */
  val Batch: Seq[String] = Seq("q1_pricing_summary", "f6_clustered_layout")

  def family(name: String): String = name.takeWhile(_.isLetter)

  final case class EntryTiming(name: String, constructS: Double, planS: Double,
      execS: Double, constructJobs: Int, failed: Option[String]) {
    def totalS: Double = constructS + planS + execS
  }

  /** Runs `names` once each on `dataDir`, writing each full output under
    * `outDir/<name>` (the materialising action). */
  def pass(spark: SparkSession, names: Seq[String], dataDir: String, outDir: String,
      counters: Option[SparkCounters], group: String,
      afterEntry: String => Unit = _ => ()): Seq[EntryTiming] =
    names.map { name =>
      val fn = SparkEntry.queries(name)
      val w0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val spanGroup = s"$group/$name"
      val entrySpan = Trace.nextId()
      var t1 = t0; var t2 = t0
      val failed = try {
        val df = Trace.span("analytics.construct", spanGroup, entrySpan)(fn(spark, dataDir))
        t1 = System.nanoTime()
        Trace.span("analytics.plan", spanGroup, entrySpan)(df.queryExecution.executedPlan)
        t2 = System.nanoTime()
        Trace.span("analytics.exec", spanGroup, entrySpan)(
          df.write.mode("overwrite").parquet(s"$outDir/$name"))
        None
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name failed: $e")
          Some(Option(e.getMessage).getOrElse(e.toString).take(300))
      }
      val t3 = System.nanoTime()
      Trace.record("analytics.entry", spanGroup, 0L, t0, t3, entrySpan)
      graft.PerfbenchAccess.sweep()
      val jobs = counters.map { c =>
        ListenerBus.drain(spark.sparkContext)
        c.jobsBetween(w0, w0 + (t1 - t0) / 1000000L)
      }.getOrElse(0)
      afterEntry(name)
      System.err.println(f"[perfbench] $group $name ${(t3 - t0) / 1e9}%.3f s")
      EntryTiming(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9, jobs, failed)
    }
}
