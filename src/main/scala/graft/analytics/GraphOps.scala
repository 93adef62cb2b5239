package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over data-derived graphs — the link-centrality family a
  * web-crawl curation pipeline runs (Common Crawl publishes harmonic
  * centrality / PageRank rankings to pick crawl seeds and weight domains).
  * The near-dup connected-components twins (label propagation,
  * large-star/small-star) live in [[NearDup]].
  *
  * Determinism discipline: PageRank is usually iterated IEEE arithmetic —
  * cross-engine ULP drift compounding over iterations. Here every iteration
  * is EXACT integer arithmetic: rank mass is a scaled BIGINT (10^12 total),
  * transition probabilities are parts-per-million integers, damping is the
  * exact rational 85/100, every division is floor division. Integer sums
  * are order-independent, so the result is bit-identical in any engine that
  * implements floor division — which is what lets a 10-iteration fixpoint
  * hash-match DuckDB exactly.
  */
object GraphOps {

  import Tables._

  /** Mass scale: total rank mass in scaled units (10^12). */
  private val S = "1000000000000"
  /** Damped teleport numerator: (15 · S) / 100 exactly (100 | 15·S). */
  private val TeleportNum = "150000000000"
  /** Transition probabilities are parts-per-million. */
  private val PPM = "1000000"

  /** One chained-CTE iteration r{i} from r{i-1}: contributions are
    * floor((floor(85·r/100) · pnum) / 10^6) summed per destination (exact
    * BIGINT — ≤ 8.5e17 per term, far under Long.Max), plus the constant
    * teleport share. Nodes with no in-edges still receive the teleport via
    * the LEFT JOIN. `div` is the dialect's floor-division operator. */
  private def iterCte(i: Int, div: String, nodesRel: String, pRel: String): String =
    s"""r$i AS (SELECT n.etype,
       |    $TeleportNum $div (SELECT count(*) FROM $nodesRel) + coalesce(c.contrib, 0) AS r
       |  FROM $nodesRel n LEFT JOIN (
       |    SELECT p.dst, sum((((85 * r.r) $div 100) * p.pnum) $div $PPM) AS contrib
       |    FROM $pRel p JOIN r${i - 1} r ON r.etype = p.src
       |    GROUP BY p.dst) c ON c.dst = n.etype)""".stripMargin

  private def rankSql(div: String, nodesRel: String, pRel: String,
      iters: Int): String = {
    val chain = (1 to iters).map(iterCte(_, div, nodesRel, pRel)).mkString(",\n")
    s"""WITH r0 AS (SELECT etype, $S $div (SELECT count(*) FROM $nodesRel) AS r
       |  FROM $nodesRel),
       |$chain
       |SELECT etype, CAST(r AS BIGINT) AS rank_scaled
       |FROM r$iters ORDER BY rank_scaled DESC, etype""".stripMargin
  }

  /** g1 — EVENT-TRANSITION PAGERANK: the stationary importance ranking of
    * event types under the empirical user-journey Markov chain (damping
    * 0.85, 10 iterations) — "which states do user sessions keep flowing
    * into", the behavioral-analytics twin of crawl-graph centrality.
    *
    * Edge derivation is the distributed part: per-user consecutive event
    * pairs via a lag window partitioned by user_id (unbounded parallelism
    * across users; ties broken by event_id), folded to (src, dst, count) —
    * a partial+final aggregation whose output is at most |types|² rows.
    * The iteration then runs on that tiny persisted edge table: 10 chained
    * joins that never touch the events table again (the persist pins ONE
    * materialization of the window pass; at 100 TB the edge fold is the
    * only corpus-sized work, and it is one shuffle on user_id plus one on
    * the type pair). Dangling nodes (a type never observed as a
    * transition source) receive only teleport mass — the standard
    * "removed dangling" PageRank simplification, identical in the oracle.
    */
  def eventPagerank(s: SparkSession, d: String): DataFrame =
    eventPagerankDf(s, events(s, d))

  /** g1 on an explicit events frame — spec seam for hand-built chains
    * with known stationary distributions.
    *
    * r14 (guide §1.2 "the distributed algorithm" + §5 driver rules): the
    * corpus-sized work — ONE lag-window pass folded to the edge table,
    * ONE distinct over types — stays distributed; the 10-iteration rank
    * FIXPOINT now runs on the driver over the collected edge list. The
    * state is provably bounded: ≤ |types|² edges and |types| nodes,
    * where event types are LOW-cardinality by data contract (the same
    * bound g2's projection fanout relies on) — bounded metadata in the
    * KeyedMerge touched-bucket sense, never corpus data. The SQL chain
    * it replaces ran each iteration as a join + two aggregations on a
    * ≤25-row table: ~20 exchanges of scheduling overhead at ANY scale
    * (measured at sf0.1: 7.5 s of g1's 9.0 s warm; the fixpoint itself
    * is arithmetic on a handful of longs). Every operation is the same
    * exact integer recurrence (floor division on nonnegative longs ==
    * SQL `div`), so the result is bit-identical — GraphOpsSpec's
    * stationary-distribution chains and the DuckDB oracle (which still
    * runs the full 10-iteration SQL chain independently) pin it. */
  private[graft] def eventPagerankDf(s: SparkSession, ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val trans = ev.select(lag(col("event_type"), 1).over(w).as("src"),
      col("event_type").as("dst"))
    val e = trans.filter(col("src").isNotNull)
      .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("w"))
    val o = e.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    // ADVICE r14: the low-cardinality/non-null event_type contract the
    // driver fixpoint relies on is ENFORCED here, where it now matters —
    // the node set is fetched first through a bounded take (never an
    // unbounded collect), so a contract violation fails with a clear
    // message instead of a driver OOM, and a NULL event_type fails the
    // same way instead of an NPE inside .sorted. Cap resolve order:
    // session conf `spark.graft.pagerank.maxTypes` → 1024 (with ≤ cap
    // nodes the edge collect below is ≤ cap² rows of (str, str, long) —
    // bounded metadata in the KeyedMerge touched-bucket sense).
    val maxTypesKey = "spark.graft.pagerank.maxTypes"
    val maxTypes = s.conf.getOption(maxTypesKey).fold(1024) { v =>
      val n = v.trim.toIntOption.filter(_ > 0)
      require(n.isDefined, s"g1 pagerank: $maxTypesKey must be a positive integer, got '$v'")
      n.get
    }
    val nodeRows = ev.select(col("event_type").as("etype")).distinct()
      .take(maxTypes + 1)
    require(nodeRows.length <= maxTypes,
      s"g1 pagerank: > $maxTypes distinct event types — the driver-side " +
        "fixpoint's low-cardinality contract is violated (raise " +
        "spark.graft.pagerank.maxTypes only if the driver can hold cap² edges)")
    require(!nodeRows.exists(_.isNullAt(0)),
      "g1 pagerank: NULL event_type violates the non-null contract the " +
        "driver fixpoint (and the oracle's edge derivation) assumes")
    val nodes = nodeRows.map(_.getString(0)).sorted
    // parts-per-million transition probabilities — ≤ |types|² rows
    // (bounded by the node-cap guard above, which ran first)
    val edges = e.join(o, "src")
      .select(col("src"), col("dst"), expr("(w * 1000000) div outw").as("pnum"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val n = nodes.length.toLong
    val sMass = S.toLong; val tele = TeleportNum.toLong; val ppm = PPM.toLong
    var rank: Map[String, Long] = nodes.map(_ -> sMass / n).toMap
    (1 to 10).foreach { _ =>
      val contrib = new scala.collection.mutable.HashMap[String, Long]()
      edges.foreach { case (src, dst, pnum) =>
        val term = (((85L * rank(src)) / 100L) * pnum) / ppm
        contrib.update(dst, contrib.getOrElse(dst, 0L) + term)
      }
      rank = nodes.map(nd => nd -> (tele / n + contrib.getOrElse(nd, 0L))).toMap
    }
    import s.implicits._
    rank.toSeq.toDF("etype", "rank_scaled")
      .orderBy(col("rank_scaled").desc, col("etype"))
  }

  /** g1 oracle — the identical exact-integer chain in DuckDB (`//` floor
    * division); edge table and node set derived inline. */
  val eventPagerankOracle: String = {
    val body = rankSql("//", "nodes", "p", iters = 10)
    // splice the edge/node derivation CTEs into the generated WITH chain
    s"""WITH trans AS (SELECT
       |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS src,
       |    event_type AS dst
       |  FROM events),
       |e AS (SELECT src, dst, count(*) AS w FROM trans
       |      WHERE src IS NOT NULL GROUP BY src, dst),
       |o AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM e GROUP BY src),
       |p AS (SELECT e.src, e.dst, (e.w * 1000000) // o.outw AS pnum
       |      FROM e JOIN o ON e.src = o.src),
       |nodes AS (SELECT DISTINCT event_type AS etype FROM events),
       |${body.stripPrefix("WITH ")}""".stripMargin
  }

  /** g2 — BIPARTITE CO-ENGAGEMENT PROJECTION: project the user×event-type
    * bipartite graph onto event types — for every type pair, the count of
    * distinct users engaging with both, plus the exact user-set Jaccard.
    * This is the item-item co-occurrence graph behavioral segmentation
    * and recommender bootstraps run; on a crawl corpus the same shape is
    * domain co-citation.
    *
    * Scale shape: the corpus-sized work is ONE distinct over (user, type)
    * — a partial+final aggregate — and the projection self-join shuffles
    * those deduplicated pairs on user_id, where per-user fanout is
    * bounded by |types|² (event types are LOW-cardinality by contract;
    * high-cardinality item projections are MinHash territory — n1's
    * family). Totals re-join the tiny per-type count table broadcast-side.
    * Power users skew the user_id shuffle → AQE skew-join splits it.
    * Everything is integer counts except one final IEEE division. */
  def typeCooccurrence(s: SparkSession, d: String): DataFrame = {
    val (out, ut) = typeCooccurrencePlan(s, d)
    // eager materialization of the |types|²-row result lets the
    // corpus-sized distinct table release NOW, not at ContextCleaner GC
    // (ADVICE r8 — the p19 session-lifetime-cache lesson)
    val pinned = out.localCheckpoint(true)
    ut.unpersist(false)
    pinned
  }

  /** g2's LAZY plan + the persisted user×type distinct table, exposed so
    * PlanSpec can gate the broadcast/self-join shape (the registered
    * query's eager checkpoint truncates the inspectable plan). */
  private[graft] def typeCooccurrencePlan(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    // THREE consumers (totals + both self-join sides) — persist pins one
    // execution of the corpus scan+distinct (the t10 lesson: exchange
    // reuse is an optimization, not a contract)
    val ut = events(s, d).select(col("user_id"), col("event_type")).distinct()
      .persist()
    val totals = ut.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nu"))
    val pairs = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")), "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("co_users"))
    val out = pairs
      .join(broadcast(totals.select(col("event_type").as("type_a"),
        col("nu").as("na"))), "type_a")
      .join(broadcast(totals.select(col("event_type").as("type_b"),
        col("nu").as("nb"))), "type_b")
      .select(col("type_a"), col("type_b"), col("co_users"),
        (col("na") + col("nb") - col("co_users")).as("union_users"),
        (col("co_users").cast("double") /
          (col("na") + col("nb") - col("co_users"))).as("jaccard"))
      .orderBy(col("type_a"), col("type_b"))
    (out, ut)
  }

  val typeCooccurrenceOracle: String =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |t AS (SELECT event_type, count(*) AS nu FROM ut GROUP BY event_type),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |        count(*) AS co_users
      |      FROM ut a JOIN ut b
      |        ON a.user_id = b.user_id AND a.event_type < b.event_type
      |      GROUP BY 1, 2)
      |SELECT type_a, type_b, co_users,
      |  ta.nu + tb.nu - co_users AS union_users,
      |  CAST(co_users AS DOUBLE) / (ta.nu + tb.nu - co_users) AS jaccard
      |FROM p JOIN t ta ON ta.event_type = type_a
      |       JOIN t tb ON tb.event_type = type_b
      |ORDER BY type_a, type_b""".stripMargin

  /** g3 — TRIANGLE CENSUS of the co-purchase BACKBONE graph: global
    * triangle count, wedge count, and exact clustering coefficient over
    * the top-`maxEdges` strongest co-purchase links (parts bought
    * together in the same order, ranked by co-occurrence count with a
    * full deterministic tie order). Triangles are the primitive behind
    * clustering-coefficient audits, community seeding, and spam/bot
    * subgraph detection; the BACKBONE restriction (disparity-filter
    * style: keep only the strongest edges) is how network analysis keeps
    * the census meaningful — and bounded — on an item graph whose raw
    * density is an artifact of catalog size.
    *
    * Algorithm is the DEGREE-ORIENTED wedge join (Schank–Wagner /
    * Chiba–Nishizeki): orient every edge toward the higher (degree, id)
    * endpoint, enumerate wedges only from each node's OUT-neighbors, and
    * close them against the undirected edge set. Each triangle is counted
    * exactly once (at its orientation-minimal vertex) and the candidate
    * volume is Σ C(outdeg, 2) ≤ m·√m — the bound that makes distributed
    * triangle counting feasible where the naive wedge join (Σ C(deg, 2)
    * through hub vertices) explodes. The oracle closes triangles via the
    * id-canonical a<b<c triple join instead — an independent counting
    * scheme that must agree exactly.
    *
    * Scale shape: the only corpus-sized work is the basket fold (ONE
    * shuffle on the order key, [[coPurchaseBaskets]]) + the pair fold —
    * per-order fanout is bounded by basket size, both aggregations
    * partial+final — and since r13 that fold is SHARED with q59 through
    * [[coPurchaseStageDir]], so a sweep pays it once, not twice.
    * Backbone selection is a TakeOrdered (per-partition top-k, no global
    * sort) over the staged pair table, and the census then runs on
    * ≤ maxEdges rows eagerly pinned by localCheckpoint so the staged
    * scan releases before the 3-consumer census plan. */
  /** Distinct parts per order as a SORTED basket array — ONE corpus
    * shuffle (on the order key, map-side `collect_set` dedup), replacing
    * the naive distinct + self-join formulation that shuffles and sorts
    * the corpus twice more and pays a sort-merge join (measured 4–13×
    * slower at sf10, where the extra exchanges hit the disk wall). Basket
    * arrays are bounded by order size (data contract: tens of items, the
    * TPC-H shape) — the boundedness that makes both the state and the
    * pair generator safe at 100 TB. */
  private[analytics] def coPurchaseBaskets(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_orderkey").as("ok"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))

  /** Canonical (pa < pb) co-purchase pair counts off the baskets — the
    * pair generator is a per-row higher-order expression (C(basket, 2)
    * pairs, no join, no extra corpus shuffle before the pair fold). */
  private[analytics] def basketPairs(baskets: DataFrame): DataFrame = baskets
    .select(explode(expr(
      "flatten(transform(ps, (x, i) -> " +
        "transform(slice(ps, i + 2, size(ps)), y -> " +
        "struct(x AS pa, y AS pb))))")).as("pr"))
    .select(col("pr.pa").as("pa"), col("pr.pb").as("pb"))
    .groupBy(col("pa"), col("pb")).agg(count(lit(1)).as("w"))

  /** Shared co-purchase STAGE (VERDICT r12 #2): g3 and q59 each embed
    * the same basket fold + pair fold — at sf30 the suite's two heaviest
    * entries (190 + 214 s), the SAME 270 M-generated-pair disk-bound
    * fold twice. This stages it once per (JVM, dataset) in [[StageCache]]
    * (the t22/e9 discipline: the registered queries read the staged
    * parquet; the unstaged builders remain the plan-gate surface).
    *
    * The staged artifacts are ONLY the small reductions both consumers
    * actually need — the first r13 attempt wrote the FULL aggregated
    * pair table and measured 933 s at sf30, 2.3× the combined cost it
    * was meant to halve: parquet-encoding ~260 M high-entropy (pa, pb,
    * w) rows is far more expensive than the fold itself, and NEITHER
    * consumer needs those rows (q59 filters w ≥ 2, g3 takes the top-5k).
    * Instead the aggregated pairs are PERSISTED once (columnar,
    * memory-speed, no encode) and drained by two bounded consumers:
    *   - `backbone` — g3's top-`maxEdges` pairs by (w desc, pa, pb),
    *     over the FULL pair set (at tiny SFs w = 1 ties legitimately
    *     enter the backbone, so it cannot derive from the w ≥ 2 slice);
    *   - `pairs2`  — the w ≥ 2 pairs (q59's own support floor, the
    *     filter Catalyst pushed onto the fold in the unstaged plan);
    *   - `items`   — (pk, cnt) per-part basket frequencies;
    *   - `norders` — the 1-row order total (q59's driver literal, so no
    *     corpus work ever rides a broadcast build thread — the r12 fix).
    * Parquet round-trips the longs bit-exactly so the oracles are
    * unchanged; the basket and pair caches release before the stage
    * completes. */
  private[analytics] def coPurchaseStageDir(s: SparkSession, d: String,
      maxEdges: Int = 5000): String =
    StageCache.getOrBuildDir(s"copurchase:$d") { dir =>
      val baskets = coPurchaseBaskets(s, d)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val pairs = basketPairs(baskets)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = baskets.count() // materializes the basket cache AND the total
        pairs
          .orderBy(col("w").desc, col("pa"), col("pb")).limit(maxEdges)
          .write.parquet(s"$dir/backbone") // TakeOrdered materializes `pairs`
        pairs.filter(col("w") >= 2).write.parquet(s"$dir/pairs2")
        baskets.select(explode(col("ps")).as("pk"))
          .groupBy(col("pk")).agg(count(lit(1)).as("cnt"))
          .write.parquet(s"$dir/items")
        import s.implicits._
        Seq(n).toDF("n_orders").write.parquet(s"$dir/norders")
      } finally { pairs.unpersist(false); baskets.unpersist(false); () }
    }

  /** The staged top-5000 co-purchase backbone (g3's edge set). */
  private[analytics] def coPurchaseBackbone(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${coPurchaseStageDir(s, d)}/backbone")

  /** The staged w ≥ 2 (pa, pb, w) pair table (q59's support floor). */
  private[analytics] def coPurchasePairs2(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${coPurchaseStageDir(s, d)}/pairs2")

  /** The staged (pk, cnt) item-frequency table. */
  private[analytics] def coPurchaseItems(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${coPurchaseStageDir(s, d)}/items")

  /** The staged order total (bounded: a 1-row driver read). */
  private[analytics] def coPurchaseOrderTotal(s: SparkSession, d: String): Long =
    s.read.parquet(s"${coPurchaseStageDir(s, d)}/norders").head().getLong(0)

  def triangleCount(s: SparkSession, d: String, maxEdges: Int = 5000): DataFrame = {
    import org.apache.spark.sql.functions._
    require(maxEdges <= 5000,
      "the shared stage materializes the top-5000 backbone; a wider census needs its own fold")
    val backbone = coPurchaseBackbone(s, d)
      .orderBy(col("w").desc, col("pa"), col("pb")).limit(maxEdges)
      .localCheckpoint(true)
    Views.sql(s, backbone, "graft_g3_bb_v",
      """WITH deg AS (SELECT node, count(1) AS dg FROM (
        |    SELECT pa AS node FROM graft_g3_bb_v
        |    UNION ALL SELECT pb FROM graft_g3_bb_v) GROUP BY node),
        |o AS (SELECT
        |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.pa < e.pb)
        |         THEN e.pa ELSE e.pb END AS src,
        |    CASE WHEN da.dg < db.dg OR (da.dg = db.dg AND e.pa < e.pb)
        |         THEN e.pb ELSE e.pa END AS dst
        |  FROM graft_g3_bb_v e JOIN deg da ON da.node = e.pa
        |       JOIN deg db ON db.node = e.pb),
        |wed AS (SELECT least(o1.dst, o2.dst) AS x, greatest(o1.dst, o2.dst) AS y
        |  FROM o o1 JOIN o o2 ON o1.src = o2.src AND o1.dst < o2.dst),
        |tri AS (SELECT count(1) AS n_triangles FROM wed w
        |  JOIN graft_g3_bb_v e ON e.pa = w.x AND e.pb = w.y),
        |agg AS (SELECT count(1) AS n_nodes,
        |    sum((dg * (dg - 1)) div 2) AS n_wedges FROM deg),
        |ne AS (SELECT count(1) AS n_edges FROM graft_g3_bb_v)
        |SELECT agg.n_nodes, ne.n_edges, agg.n_wedges, tri.n_triangles,
        |  CASE WHEN agg.n_wedges = 0 THEN 0L
        |       ELSE (3 * tri.n_triangles * 1000000) div agg.n_wedges
        |  END AS gcc_ppm
        |FROM agg CROSS JOIN ne CROSS JOIN tri""".stripMargin)
  }

  /** g3 oracle — backbone re-derived inline; triangles closed by the
    * INDEPENDENT id-canonical scheme (a<b<c path join), not the degree
    * orientation, so the two counting schemes cross-check each other. */
  val triangleCountOracle: String =
    """WITH po AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
      |    FROM lineitem),
      |pr AS (SELECT a.pk AS pa, b.pk AS pb, count(*) AS w
      |  FROM po a JOIN po b ON a.ok = b.ok AND a.pk < b.pk GROUP BY 1, 2),
      |bb AS (SELECT pa, pb FROM pr ORDER BY w DESC, pa, pb LIMIT 5000),
      |deg AS (SELECT node, count(*) AS dg FROM (
      |    SELECT pa AS node FROM bb UNION ALL SELECT pb FROM bb) GROUP BY node),
      |tri AS (SELECT count(*) AS n_triangles
      |  FROM bb e1 JOIN bb e2 ON e2.pa = e1.pb
      |       JOIN bb e3 ON e3.pa = e1.pa AND e3.pb = e2.pb),
      |agg AS (SELECT count(*) AS n_nodes,
      |    CAST(sum((dg * (dg - 1)) // 2) AS BIGINT) AS n_wedges FROM deg),
      |ne AS (SELECT count(*) AS n_edges FROM bb)
      |SELECT agg.n_nodes, ne.n_edges, agg.n_wedges, tri.n_triangles,
      |  CAST(CASE WHEN agg.n_wedges = 0 THEN 0
      |       ELSE (3 * tri.n_triangles * 1000000) // agg.n_wedges
      |  END AS BIGINT) AS gcc_ppm
      |FROM agg CROSS JOIN ne CROSS JOIN tri""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "g3_triangle_count" -> ((s: SparkSession, d: String) => triangleCount(s, d)),
    "g2_type_cooccurrence" -> (typeCooccurrence _),
    "g1_event_pagerank" -> (eventPagerank _)
  )

  val oracles: Map[String, String] = Map(
    "g3_triangle_count" -> triangleCountOracle,
    "g2_type_cooccurrence" -> typeCooccurrenceOracle,
    "g1_event_pagerank" -> eventPagerankOracle
  )
}
