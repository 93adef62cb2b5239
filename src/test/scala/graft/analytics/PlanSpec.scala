package graft.analytics

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.SparkSpec
import graft.SparkEntry

/** Plan-quality gates (VERDICT r1 "design notes"): these are the properties
  * that must survive a 100 TB scale-up, asserted on the optimized physical
  * plans of every registered query at sf0.001.
  *
  * s1/s3 (streaming) are excluded — they run a full streaming job rather
  * than building a plan; their physical properties are covered by the
  * source and engine specs. */
class PlanSpec extends AnyFunSuite with Matchers with SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  // e7 was demoted from the registered surface in r10 but stays
  // plan-gated here as the spec-gated single-level contrast (its
  // lazyOverrides entry below builds the plan directly)
  private val planBased = (SparkEntry.queries.keys ++ Seq("e7_knn_graph"))
    .filterNot(Set("s1_stream_count_by_type", "s3_stream_dead_letter",
      "s4_stream_resume", "s5_stream_soft_retry",
      // s6/s7/s8 return the drained memory-sink table; inspecting it would
      // launch the streaming query itself, and the returned plan is a
      // plain LocalTableScan with nothing to gate.
      "s6_stream_window_counts", "s7_stream_dedup",
      "s8_stream_interval_join", "s9_stream_sessions",
      "s10_file_sink_exactly_once", "s11_stream_neardup",
      "s12_stateful_sessions", "s13_running_counts",
      "s14_stream_topk", "s15_stream_left_outer",
      "s16_stream_reshard", "s17_stream_ann_ingest",
      "s18_stream_dsir_score", "s20_stream_keyed_merge",
      "s21_stream_drift_audit")).toSeq.sorted

  test("no query plan contains a cartesian product or unconditioned nested loop") {
    // e4 (IVF) legitimately scores every vector against a BOUNDED broadcast
    // codebook (nCells rows) — an unconditioned broadcast join by design;
    // the assertion still requires the codebook side to be broadcast.
    // e5 composes e4's plan, so it inherits the same sanctioned join.
    // c1 (k-means) assigns against its K-row broadcast centroid table —
    // the same sanctioned codebook shape, once per Lloyd iteration.
    // c2 (SemDeDup) shares c1/e4's broadcast-codebook assignment pass.
    // e7 (mutual kNN graph) reuses e4's broadcast-codebook assignment.
    // e9 (two-level kNN) broadcast-scans only the k1-row COARSE codebook;
    // its fine assignment is already an equi-join on coarse_id.
    // e10 (SQ8) joins the corpus against its ONE-row broadcast quantization
    // grid (the SQ codebook) before the sanctioned conditioned probe pass.
    // e11/e12 compose e10's one-row-grid join; p21 crosses in its two
    // 1-row scalar totals (Σmass, the remainder budget) — bounded by
    // construction, and the assertion still requires them broadcast.
    // t20 (BM25) crosses in its 1-row (N, Σdl) scalar total exactly like
    // t19; e14 composes t20's chain plus e1's sanctioned conditioned
    // broadcast-probe pass. t22 (Kneser-Ney) crosses in its 1-row
    // bigram-type total — bounded by construction, and the assertion
    // still requires the 1-row side broadcast. (t21's per-round 1-row
    // argmax cross joins live INSIDE its eagerly-materialized rounds —
    // the registered plan is a union of checkpointed RDD scans, so it
    // takes the default no-cartesian gate, not this set.)
    // e15 (IVF-PQ) composes e4's sanctioned broadcast-codebook assignment
    // (coarse) before its conditioned code/cell LUT equi-joins.
    val codebookJoins = Set("e4_ann_ivf_topk", "e5_ann_recall", "c1_kmeans",
      "c2_semantic_dedup", "e7_knn_graph", "e9_knn_graph_2level",
      "e10_sq8_ann", "e11_two_stage_rerank", "e12_refine_recall",
      "p21_token_budget_alloc", "t19_source_kl_audit", "t20_bm25_topk",
      "e14_hybrid_rrf", "t22_kn_surprisal", "e15_ivfpq_topk",
      // e16 composes e15's sanctioned coarse-assignment BNLJ (plus e1's
      // conditioned broadcast-probe pass in the brute-truth leg)
      "e16_ivfpq_recall",
      // t24 now reads t22's STAGED perdoc parquet (r12 stage cache) —
      // its registered plan carries no cross join at all, so it left
      // this set; t22's chain BNLJ is gated through its lazy override
      // below. p22 keeps its OWN 1-row budget/weight totals cross joins
      // in the registered step-2 plan.
      "p22_curriculum_schedule",
      // r12 third batch: e20 composes e4's sanctioned broadcast-codebook
      // assignment (twice — base and delta passes); p23 crosses in its
      // 1-row budget/weight totals; g3 its three 1-row census totals
      // (nodes/edges/triangles) over the checkpointed ≤5000-row backbone
      // — all bounded by construction, and the assertion still requires
      // them broadcast. (q59 left this set when its order total became a
      // driver literal off the cached basket count — no BNLJ remains.)
      "e20_incremental_ann", "p23_repetition_alloc",
      "g3_triangle_count",
      // r13: e22 composes e4's sanctioned broadcast-codebook pattern
      // twice (corpus×centroids assignment, probes×cellMeta admission) —
      // both against ≤16-row broadcast tables, bounded by construction
      "e22_range_search")
    // queries that eagerly checkpoint their (small) result so their
    // corpus-sized caches release promptly (r9): the registered plan is an
    // RDD scan — gate the LAZY builder instead, releasing its cache after
    def released(df: org.apache.spark.sql.DataFrame,
        caches: Seq[org.apache.spark.sql.DataFrame]): String = {
      val p = df.queryExecution.executedPlan.toString
      caches.foreach(_.unpersist(false))
      p
    }
    val lazyOverrides: Map[String, () => String] = Map(
      "e7_knn_graph" -> (() => {
        val (df, c) = Similarity.knnGraphSingleLevelPlan(spark, sfDir, 3, 16)
        released(df, Seq(c)) }),
      "e9_knn_graph_2level" -> (() => {
        val (df, cs) = Similarity.knnGraphTwoLevelPlan(spark, sfDir, 3, 4, 4)
        released(df, cs) }),
      "t10_cms_heavy_hitters" -> (() => {
        val (df, c) = TextAnalytics.cmsHeavyHittersPlan(spark, sfDir)
        released(df, Seq(c)) }),
      "g2_type_cooccurrence" -> (() => {
        val (df, c) = GraphOps.typeCooccurrencePlan(spark, sfDir)
        released(df, Seq(c)) }),
      "q59_assoc_rules" -> (() => {
        val (df, c) = ExtendedQueries.q59AssocRulesPlan(spark, sfDir)
        released(df, Seq(c)) }),
      // r12: the registered t22 reads its staged parquet; the chain —
      // whose sanctioned 1-row bigram-type-total BNLJ this gate pins —
      // is the unstaged builder
      "t22_kn_surprisal" -> (() =>
        TextAnalytics.knPerdocPlan(spark, sfDir)
          .queryExecution.executedPlan.toString),
      // r14: the registered n1 reads the staged pair list (shared by
      // n4/n6/n7/d13/p17/p18); the banded chain is the unstaged builder
      "n1_minhash_neardup" -> (() =>
        NearDup.minhashNearDupPlan(spark, sfDir)
          .queryExecution.executedPlan.toString),
      // r15: the registered t20 windows over the staged score table
      // (shared with e14's lexical leg); the BM25 chain — whose
      // sanctioned 1-row (N, Σdl) scalar-total BNLJ this gate pins —
      // is the unstaged builder
      "t20_bm25_topk" -> (() =>
        TextAnalytics.bm25Scores(spark, sfDir)
          .queryExecution.executedPlan.toString),
    )
    planBased.foreach { name =>
      val plan = lazyOverrides.get(name).map(_()).getOrElse(planOf(name))
      withClue(s"$name plan:\n$plan\n") {
        plan should not include "CartesianProduct"
        if (plan.contains("BroadcastNestedLoopJoin") && !codebookJoins.contains(name))
          plan should include regex "BroadcastNestedLoopJoin BuildLeft, Inner, (NOT|\\()"
        if (codebookJoins.contains(name))
          plan should include("BroadcastNestedLoopJoin")
      }
    }
  }

  test("q2 filter + projection reach the parquet scan (pushdown/pruning)") {
    val plan = planOf("q2_filter_project")
    plan should include("PushedFilters: [IsNotNull(event_type), IsNotNull(value)")
    plan should include("EqualTo(event_type,purchase)")
    // pruned to the 4 needed columns (filter cols stay for the residual);
    // ts and props must NOT be read
    plan should include(
      "ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string,value:double>")
  }

  test("dimension joins are broadcast, not shuffled (q3, q10, p6)") {
    Seq("q3_revenue_by_nation", "q10_region_priority", "p6_mixture_rebalance",
      "q31_full_outer").foreach { name =>
      val plan = planOf(name)
      withClue(s"$name:\n") {
        plan should include("BroadcastHashJoin")
      }
    }
  }

  test("near-dup and ANN candidates come from equi-joins on bucket keys") {
    Seq("n1_minhash_neardup", "n3_simhash_neardup", "e3_embedding_neardup",
      "d7_containment_dedup").foreach { name =>
      // n1's registered plan reads the staged pair list and d7's is an
      // eager checkpoint (r14); the join shape this gate exists for lives
      // in the lazy builders. d7 gates the SHIPPED dispatch seam (ADVICE
      // r14): the pre-checkpoint plan of exactly what containmentDedup
      // executes, so a dispatch regression to a non-equi-join shape fails
      // here, not just in the direct-builder test below.
      val plan =
        if (name == "n1_minhash_neardup")
          NearDup.minhashNearDupPlan(spark, sfDir)
            .queryExecution.executedPlan.toString
        else if (name == "d7_containment_dedup") {
          val (out, e) = Dedup.containmentDedupDispatch(spark, sfDir)
          val p = out.queryExecution.executedPlan.toString
          e.unpersist(false)
          p
        } else planOf(name)
      withClue(s"$name:\n") {
        (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
          plan.contains("BroadcastHashJoin")) shouldBe true
        plan should not include "CartesianProduct"
      }
    }
  }

  test("e6 ADC search is broadcast LUT equi-joins, never a shuffled probe pass") {
    val plan = planOf("e6_pq_adc")
    withClue(s"e6 plan:\n$plan\n") {
      // the four per-subspace LUT joins (and the codebook join feeding the
      // encode) must all build broadcast sides — the probe/LUT tables are
      // O(probes·cells) rows and must never shuffle the code table
      plan.split("BroadcastHashJoin").length should be >= 5
      plan should not include "CartesianProduct"
    }
  }

  test("e15 computes its coarse assignment once: the second read is a ReusedExchange (VERDICT r15)") {
    // the residual slices feed both the sub-codebook sample and the encode.
    // e15 keeps no persist of them (measured slower, and reverted): exchange
    // reuse is what shares that subtree, so without it the corpus-sized
    // coarse assignment, a full scan plus a window, would run twice
    val df = SparkEntry.queries("e15_ivfpq_topk")(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    withClue(s"e15 final plan:\n$plan\n") {
      plan should include("ReusedExchange")
    }
  }

  test("aggregations are partial+final (map-side combine present)") {
    Seq("q1_pricing_summary", "t6_lang_stats", "d2_dedup_stats").foreach { name =>
      val plan = planOf(name)
      withClue(s"$name:\n") {
        plan should include("HashAggregate")
        plan.split("HashAggregate").length should be >= 3 // partial + final
      }
    }
  }

  test("n2 top-1 is a partial+final aggregation, never a window over probe partitions (VERDICT r3)") {
    val plan = planOf("n2_ngram_jaccard_top1")
    withClue(s"n2 plan:\n$plan\n") {
      plan should not include "Window"
      // struct-max lowers to SortAggregate; the property that matters is
      // the map-side combine (partial_max) before the probe_id exchange
      plan should include("partial_max")
    }
  }

  test("e7 kNN-graph edges come from the cell-key equi-join; mutual filter is a pair-key equi-join") {
    // the registered query eagerly checkpoints its pair result (releasing
    // the corpus-sized assignment cache) — gate the LAZY builder
    val (lazyE7, e7cache) = Similarity.knnGraphSingleLevelPlan(spark, sfDir, 3, 16)
    val plan = lazyE7.queryExecution.executedPlan.toString
    e7cache.unpersist(false)
    // in-cell candidate generation must be an equi-join on cell_id (never
    // an all-pairs cross), and the reciprocal filter an equi-join on the
    // (src, dst) pair key
    plan should include regex "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*cell_id"
    plan should include regex "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*src"
    plan should not include "CartesianProduct"
    // the directed top-k must prune map-side: a Partial WindowGroupLimit
    // below the src exchange caps the shuffled pair stream at k rows per
    // (src, map partition) — without it the in-cell pair set (the
    // (n/K)²·K term) would cross the wire into one window sort
    plan should include regex "WindowGroupLimit \\[src.*Partial"
  }

  test("e9 two-level kNN: fine assignment and candidates are equi-joins; only the coarse codebook is a nested loop") {
    val (lazyE9, e9caches) = Similarity.knnGraphTwoLevelPlan(spark, sfDir, 3, 4, 4)
    val plan = lazyE9.queryExecution.executedPlan.toString
    e9caches.foreach(_.unpersist(false))
    withClue(s"e9 plan:\n$plan\n") {
      // the fine assignment must be an equi-join on coarse_id — that is
      // the whole point (n·k2 comparisons instead of n·K); the only
      // nested loop is the k1-row coarse codebook (its line may repeat in
      // the string — cached subtrees reprint per InMemoryTableScan)
      plan should include regex "BroadcastHashJoin \\[coarse_id"
      // in-cell candidates join on the composite (coarse_id, fine_id) key
      plan should include regex "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*coarse_id.*fine_id"
      // directed top-k prunes map-side (the e7 WindowGroupLimit pin)
      plan should include regex "WindowGroupLimit \\[src.*Partial"
      plan should not include "CartesianProduct"
    }
  }

  test("c2 semantic-dedup pairs come from an equi-join on the cell key") {
    val plan = planOf("c2_semantic_dedup")
    withClue(s"c2 plan:\n$plan\n") {
      // the quadratic pair stage must join on cell_id (SemDeDup's whole
      // point) — an equi-join, never a corpus-wide nested loop; the only
      // BNLJ is the sanctioned bounded-codebook assignment
      (plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin") ||
        plan.contains("BroadcastHashJoin")) shouldBe true
      plan should include("cell_id")
      plan should not include "CartesianProduct"
    }
  }

  test("n7 representative selection is a partial+final argmax, not a window") {
    val plan = planOf("n7_cluster_rep")
    withClue(s"n7 plan:\n$plan\n") {
      // the cluster derivation upstream may use windows; the final argmax
      // over (len, -doc_id) must combine map-side (the n2 discipline)
      plan should include("partial_max")
    }
  }

  test("q37 SCD2 runs on ONE hash exchange: windows and run-agg share the user_id partitioning") {
    val plan = planOf("q37_scd2_intervals")
    withClue(s"q37 plan:\n$plan\n") {
      // ClusteredDistribution(user_id, run_id) is satisfied by
      // hashpartitioning(user_id); a second hash exchange would mean the
      // run aggregation or the lead window stopped reusing it
      "Exchange hashpartitioning".r.findAllIn(plan).length shouldBe 1
    }
  }

  test("q40 NOT IN plans as a null-aware anti join (NAAJ), subquery broadcast") {
    val plan = planOf("q40_null_aware_anti")
    withClue(s"q40 plan:\n$plan\n") {
      // the trailing `true` on the LeftAnti BHJ is isNullAwareAntiJoin
      plan should include regex "BroadcastHashJoin .*LeftAnti, BuildRight, true"
    }
  }

  test("q41 multi-distinct is one Expand pipeline, not N self-joins") {
    val plan = planOf("q41_multi_distinct")
    withClue(s"q41 plan:\n$plan\n") {
      plan should include("Expand")
      plan should not include "Join"
    }
  }

  test("n1 exact-verify joins broadcast under the size gate (VERDICT r3)") {
    // gate the unstaged builder — the registered n1 reads staged parquet
    val plan = NearDup.minhashNearDupPlan(spark, sfDir)
      .queryExecution.executedPlan.toString
    withClue(s"n1 plan:\n$plan\n") {
      plan should include("BroadcastHashJoin")
    }
  }

  test("e2 verify-stage broadcast is the FILTERED probe set, not the corpus (VERDICT r4)") {
    // Both probe-side inputs (band keys AND probe vectors) must carry the
    // vec_id < 8 filter down to their parquet scans — the r4 wart was an
    // unfiltered whole-corpus broadcast feeding the verify join.
    val plan = planOf("e2_ann_lsh_topk")
    withClue(s"e2 plan:\n$plan\n") {
      plan should include("BroadcastHashJoin")
      val pushedProbeFilters = "LessThan\\(vec_id,8\\)".r.findAllIn(plan).length
      pushedProbeFilters should be >= 2
    }
  }

  test("d3 decontamination broadcasts the benchmark side; corpus never shuffles pre-join") {
    val plan = planOf("d3_decontaminate")
    withClue(s"d3 plan:\n$plan\n") {
      plan should include("BroadcastHashJoin")
      // the only exchange is the final (doc_id, bench_id) aggregation —
      // one hashpartitioning, none of them carrying the raw shingle hash
      // stream of the corpus side
      "Exchange hashpartitioning\\(h#".r.findAllIn(plan).length shouldBe 0
    }
  }

  test("d4 bloom membership is two broadcast semi-joins; corpus side never shuffles pre-agg") {
    val plan = planOf("d4_bloom_decontaminate")
    withClue(s"d4 plan:\n$plan\n") {
      // the bitset relation broadcasts into BOTH probe tests — the corpus
      // side streams through LeftSemi joins without an exchange of its own
      "BroadcastHashJoin .*LeftSemi".r.findAllIn(plan).length shouldBe 2
      // the only corpus-side exchange is the final per-doc aggregation
      "Exchange hashpartitioning\\(doc_id".r.findAllIn(plan).length shouldBe 1
    }
  }

  test("d7 direct path: pair counts are a partial+final aggregation over equi-joined 24-byte incidences") {
    val plan = Dedup.containmentDedupDirect(spark, sfDir)
      .queryExecution.executedPlan.toString
    withClue(s"d7-direct plan:\n$plan\n") {
      plan should not include "CartesianProduct"
      plan should not include "BroadcastNestedLoopJoin"
      // map-side combine on (a_id, b_id) before the pair shuffle
      "HashAggregate".r.findAllIn(plan).length should be >= 2
      // the verify stage must NOT join trigram arrays back per pair
      plan should not include "graft_intersect_count"
    }
  }

  test("t10 CMS counter tables broadcast onto the top-k; sketch rows never shuffle the corpus") {
    // the registered query eagerly checkpoints its 10-row result (so the
    // vocab-sized persist releases promptly) — gate the LAZY builder
    val (lazyT10, exact) = TextAnalytics.cmsHeavyHittersPlan(spark, sfDir)
    val plan = lazyT10.queryExecution.executedPlan.toString
    exact.unpersist(false)
    withClue(s"t10 plan:\n$plan\n") {
      // both depth-row counter tables (≤256 rows each) join via broadcast
      "BroadcastHashJoin".r.findAllIn(plan).length should be >= 2
      plan should not include "CartesianProduct"
    }
  }

  test("t9 TF-IDF: N is a broadcast scalar; tf→df reuses the token aggregation") {
    val plan = planOf("t9_tfidf")
    withClue(s"t9 plan:\n$plan\n") {
      // the one-row corpus count must arrive as an evaluated scalar
      // subquery, never a nested-loop cross of the tf⋈df stream
      plan.toLowerCase should include("subquery")
      plan should not include "BroadcastNestedLoopJoin"
      plan should include("HashAggregate")
      // df must stay an aggregation+join, NEVER a token-partitioned count
      // window: stop-word tokens appear in ~every doc, so a window over
      // token partitions sorts O(corpus) rows in one task (measured 8×
      // slower at 100× data before this pin)
      plan should not include "windowspecdefinition(token"
    }
  }

  test("t11 posting cap pushes a partial WindowGroupLimit below the token shuffle") {
    // the posting list of a stop-word token is O(corpus); without the
    // map-side limit the exchange would carry every (token, doc) pair of
    // the hottest tokens into single reducer partitions
    val plan = planOf("t11_inverted_index")
    withClue(s"t11 plan:\n$plan\n") {
      plan should include("WindowGroupLimit")
      "WindowGroupLimit .*Partial".r.findAllIn(plan).length should be >= 1
    }
  }

  test("p9 quota cap pushes a partial WindowGroupLimit below the shuffle") {
    val plan = planOf("p9_source_cap")
    withClue(s"p9 plan:\n$plan\n") {
      // rk ≤ cap must prune map-side: at most `cap` rows per source leave
      // each partition, bounding the exchange even for a pathological
      // hot source
      plan should include("WindowGroupLimit")
      "WindowGroupLimit .*Partial".r.findAllIn(plan).length should be >= 1
    }
  }

  test("runtime Bloom-filter join pruning activates on the selective fact-fact shape") {
    // The row-level runtime filter is the other 100 TB join lever next to
    // bucketing: a selective dimension-side predicate builds a Bloom filter
    // that prunes the big side's scan BEFORE the shuffle. Thresholds are
    // sized for clusters (10 GB application side), so pin the behavior at
    // test scale by lowering them — the assertion is that OUR join shape
    // (equi-join + selective creation-side filter + shuffle join) is one
    // Catalyst can inject the filter into at all.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold"
    ).map(k => k -> conf.getOption(k)).toMap
    try {
      conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      import org.apache.spark.sql.functions.col
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val ord = spark.read.parquet(s"$sfDir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      withClue(s"plan:\n$plan\n") {
        plan.toLowerCase should include("might_contain")
      }
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("n1 plan construction launches no eager jobs (VERDICT r4: no count()-gated broadcast)") {
    val tracker = spark.sparkContext.statusTracker
    // First construction may pay one-time parquet schema inference (and,
    // r14, the one-time StageCache pair-list build); the count()-gate
    // regression fires on EVERY construction, so the pin is: a second
    // identical construction adds zero jobs. Gated on BOTH the
    // registered (staged-read) form and the unstaged builder.
    NearDup.minhashNearDup(spark, sfDir).queryExecution.optimizedPlan
    val before = tracker.getJobIdsForGroup(null).length
    val df = NearDup.minhashNearDup(spark, sfDir)
    df.queryExecution.optimizedPlan // force analysis + optimization
    NearDup.minhashNearDupPlan(spark, sfDir).queryExecution.optimizedPlan
    val after = tracker.getJobIdsForGroup(null).length
    after shouldBe before
  }
}
