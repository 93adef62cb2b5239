package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — exact dedup here; the near-dup
  * family (MinHash LSH, SimHash, n-gram Jaccard) lives in [[NearDup]].
  *
  * Scale design (the 100 TB rule): dedup never shuffles full document text.
  * Rows are pre-hashed (`xxhash64` — codegen'd Catalyst expression) and the
  * shuffle key is the 8-byte hash, not the document. The oracle checks
  * semantics by grouping on the normalized text itself — identical output
  * absent 64-bit collisions.
  */
object Dedup {

  import Tables._

  /** Whitespace-collapse + lowercase normalization prior to hashing —
    * standard exact-dedup canonicalization for a pretraining corpus. */
  private val normText = regexp_replace(lower(col("text")), "\\s+", " ")

  /** The corpus has no exact duplicates at any SF, so the dedup queries run
    * on the corpus unioned with a doc_id-shifted copy of itself: every text
    * then has exactly one duplicate — the operator's effect is observable
    * and oracle-checkable. */
  private def withDupes(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 1000000L))
  }

  /** Exact dedup, hash-grouped: groupBy xxhash64(norm_text) → keep the min
    * doc_id per group. Only (hash, doc_id) pairs cross the shuffle. */
  def exactDedup(s: SparkSession, d: String): DataFrame =
    withDupes(s, d)
      .select(xxhash64(normText).as("h"), col("doc_id"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"))
      .orderBy(col("keep_id"))

  val exactDedupOracle: String =
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM (SELECT doc_id, regexp_replace(lower(text), '\s+', ' ', 'g') AS nt
      |      FROM (SELECT doc_id, text FROM documents
      |            UNION ALL SELECT doc_id + 1000000, text FROM documents))
      |GROUP BY nt ORDER BY keep_id""".stripMargin

  /** Dedup survivor count — the usual "how much did dedup remove" statistic.
    * One pass, one partial+final aggregate; distinct-count runs on the 8-byte
    * hash, never the text. */
  def dedupStats(s: SparkSession, d: String): DataFrame =
    withDupes(s, d)
      .select(xxhash64(normText).as("h"))
      .agg(count(lit(1)).as("n_total"), countDistinct(col("h")).as("n_kept"))
      .withColumn("n_removed", col("n_total") - col("n_kept"))

  val dedupStatsOracle: String =
    """SELECT count(*) AS n_total, count(DISTINCT nt) AS n_kept,
      |count(*) - count(DISTINCT nt) AS n_removed
      |FROM (SELECT regexp_replace(lower(text), '\s+', ' ', 'g') AS nt
      |      FROM (SELECT text FROM documents UNION ALL SELECT text FROM documents))""".stripMargin

  /** Streaming exact dedup: `dropDuplicatesWithinWatermark` keyed on the
    * content hash — the state store holds only keys seen within the
    * watermark horizon, so state is BOUNDED (a plain streaming
    * `dropDuplicates` grows forever — the 100 TB disqualifier). Use for
    * continuous ingest dedup; the batch variant above is the backfill
    * path. `df` must carry an event-time column named by `tsCol`. */
  def streamingDedup(df: DataFrame, tsCol: String, textCol: String,
      watermark: String = "1 hour"): DataFrame =
    df.withColumn("h", xxhash64(regexp_replace(lower(col(textCol)), "\\s+", " ")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("h")
      .drop("h")

  /** d3 — benchmark DECONTAMINATION: flag corpus documents sharing any word
    * 5-gram with a held-out benchmark set (docs 0–19 stand in for an eval
    * suite), reporting the shared-shingle count per (corpus, benchmark)
    * pair. This is the n-gram-collision decontamination step every serious
    * pretraining pipeline runs against its eval benchmarks.
    *
    * Scale shape: the benchmark side is SMALL by construction (eval suites
    * are thousands of docs, the corpus is billions) → its exploded shingle
    * hashes BROADCAST, and the corpus streams through one codegen'd
    * shingle+explode pass with a broadcast-hash join on the 8-byte hash. No
    * corpus shuffle at all; the only exchange is the final tiny
    * (doc, bench) aggregation. Matches the string-shingle oracle modulo
    * xxhash64 collisions, like n1. */
  def decontaminate(s: SparkSession, d: String, n: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sh = documents(s, d).select(col("doc_id"),
      expr(s"explode(graft_shingle_hashes(split(regexp_replace(lower(text), '\\\\s+', ' '), ' '), $n)) AS h"))
    val bench = sh.filter(col("doc_id") < 20)
      .select(col("doc_id").as("bench_id"), col("h"))
    sh.filter(col("doc_id") >= 20)
      .join(broadcast(bench), "h")
      .groupBy(col("doc_id"), col("bench_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("doc_id"), col("bench_id"))
  }

  val decontaminateOracle: String =
    """WITH w AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS ws
      |  FROM documents),
      |d AS (SELECT doc_id, CASE WHEN len(ws) >= 5 THEN
      |    list_distinct(list_transform(generate_series(1, len(ws) - 4),
      |      i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]))
      |  ELSE [] END AS sh FROM w)
      |SELECT c.doc_id, b.doc_id AS bench_id,
      |  CAST(len(list_intersect(c.sh, b.sh)) AS BIGINT) AS n_shared
      |FROM d c JOIN d b ON b.doc_id < 20 AND c.doc_id >= 20
      |WHERE len(list_intersect(c.sh, b.sh)) >= 1
      |ORDER BY c.doc_id, bench_id""".stripMargin

  /** d6 — overlap-FRACTION decontamination: the published pretraining rule
    * (GPT-3 appendix C / PaLM style) — a document is contaminated when the
    * FRACTION of its distinct word 5-grams that appear anywhere in the
    * benchmark set crosses a threshold (5% here), not when any single
    * shingle collides (d3 reports per-pair collision counts; this is the
    * per-document verdict a pipeline actually filters on).
    *
    * Scale shape: identical to d3 — the benchmark shingle-hash set
    * broadcasts, the corpus streams through one shingle+explode pass, LEFT
    * joins the broadcast set, and reduces per doc_id; the only exchange is
    * the final per-doc aggregation. The fraction is one IEEE division of
    * exact counts; matches the string oracle modulo xxhash64 collisions. */
  def overlapDecontaminate(s: SparkSession, d: String, n: Int = 5,
      tau: Double = 0.05): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val sh = documents(s, d).select(col("doc_id"),
      expr(s"explode(graft_shingle_hashes(split(regexp_replace(lower(text), '\\\\s+', ' '), ' '), $n)) AS h"))
    val bench = sh.filter(col("doc_id") < 20)
      .select(col("h")).distinct().withColumn("hit", lit(1))
    sh.filter(col("doc_id") >= 20)
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hits"))
      .withColumn("overlap_frac",
        col("n_hits").cast("double") / col("n_shingles"))
      .withColumn("contaminated", (col("overlap_frac") >= tau).cast("long"))
      .orderBy(col("doc_id"))
  }

  val overlapDecontaminateOracle: String =
    """WITH w AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS ws
      |  FROM documents),
      |d AS (SELECT doc_id, CASE WHEN len(ws) >= 5 THEN
      |    list_distinct(list_transform(generate_series(1, len(ws) - 4),
      |      i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]))
      |  ELSE [] END AS sh FROM w),
      |bench AS (SELECT DISTINCT unnest(sh) AS h FROM d WHERE doc_id < 20),
      |c AS (SELECT doc_id, unnest(sh) AS h FROM d WHERE doc_id >= 20)
      |SELECT c.doc_id, count(*) AS n_shingles,
      |  count(b.h) AS n_hits,
      |  CAST(count(b.h) AS DOUBLE) / count(*) AS overlap_frac,
      |  CAST(CASE WHEN CAST(count(b.h) AS DOUBLE) / count(*) >= 0.05
      |    THEN 1 ELSE 0 END AS BIGINT) AS contaminated
      |FROM c LEFT JOIN bench b ON c.h = b.h
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** d4 — BLOOM-FILTER decontamination: the sketch-backed twin of d3. d3
    * joins the corpus against the exact benchmark shingle set; at 100 TB the
    * production variant ships a fixed-size Bloom filter of the benchmark
    * shingles to every executor instead (kilobytes, not the shingle list),
    * accepting a deterministic false-positive rate for a corpus-side
    * membership test that never shuffles.
    *
    * The filter is PORTABLE so DuckDB re-derives it bit-for-bit (the q24/n5
    * technique): m = 2^14 bits, k = 2 probes per 5-gram shingle, bit
    * positions from independent hex slices of md5(shingle). The engine
    * models the bitset as the distinct set-bit positions (a few-KB broadcast
    * relation — the relational encoding of the same array an executor-local
    * filter would hold); corpus membership is two broadcast LEFT SEMI joins
    * (p1 set AND p2 set), then a per-doc count of flagged distinct shingles.
    * Output includes Bloom false positives by design — identically on both
    * engines, so the hash gate still pins it exactly. */
  def bloomDecontaminate(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val W = "split(regexp_replace(lower(text), '\\\\s+', ' '), ' ')"
    // ONE fused native pass per document (graft_shingle_md5_hashes: shingle
    // bytes streamed straight into md5, distinct 60-bit prefixes out); both
    // probe positions are then bit-slices of the prefix, exactly equal to
    // the oracle's hex-substring derivation: hex chars 1-4 are prefix bits
    // 59-44, chars 5-8 are bits 43-28, and `% 16384` keeps the low 14 bits
    // of either slice. The interpreted concat_ws→md5→conv chain benched
    // 18 s warm at sf0.1; the fused expression is ~1 s.
    val pos = documents(s, d)
      .select(col("doc_id"),
        explode(expr(s"graft_shingle_md5_hashes($W, 5)")).as("h"))
      .select(col("doc_id"),
        (shiftright(col("h"), 44) % 16384).as("p1"),
        (shiftright(col("h"), 28) % 16384).as("p2"))
    val bits = pos.filter(col("doc_id") < 20)
      .select(explode(array(col("p1"), col("p2"))).as("pos")).distinct()
    pos.filter(col("doc_id") >= 20)
      .join(broadcast(bits.as("b1")), col("p1") === col("b1.pos"), "left_semi")
      .join(broadcast(bits.as("b2")), col("p2") === col("b2.pos"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_flagged"))
      .orderBy(col("doc_id"))
  }

  val bloomDecontaminateOracle: String =
    """WITH w AS (SELECT doc_id,
      |    string_split(regexp_replace(lower(text), '\s+', ' ', 'g'), ' ') AS ws
      |  FROM documents),
      |sh AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= 5 THEN
      |    list_distinct(list_transform(generate_series(1, len(ws) - 4),
      |      i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4]))
      |  ELSE [] END) AS s FROM w),
      |p AS (SELECT doc_id,
      |    CAST('0x' || substr(md5(s), 1, 4) AS BIGINT) % 16384 AS p1,
      |    CAST('0x' || substr(md5(s), 5, 4) AS BIGINT) % 16384 AS p2
      |  FROM sh),
      |bits AS (SELECT DISTINCT pos FROM
      |  (SELECT unnest([p1, p2]) AS pos FROM p WHERE doc_id < 20))
      |SELECT doc_id, count(*) AS n_flagged
      |FROM p WHERE doc_id >= 20
      |  AND p1 IN (SELECT pos FROM bits) AND p2 IN (SELECT pos FROM bits)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d5 — PARAGRAPH-level dedup (the CCNet/RefinedWeb boilerplate-removal
    * step): documents are segmented into fixed 10-word "paragraphs", every
    * segment that already occurred anywhere earlier in the corpus (first
    * occurrence = min (doc_id, seg_idx)) is dropped, and the surviving
    * segments are reassembled in order into a cleaned document. This is the
    * sub-document twin of d1: exact dedup at segment granularity, the
    * operator that strips repeated headers/footers/navigation chrome from a
    * crawled corpus while keeping the unique remainder of each page.
    *
    * Scale shape: the first-occurrence decision partitions by the segment's
    * 8-byte xxhash64 — content-hash cardinality is ~|corpus segments|, so
    * the window has unbounded parallelism and no hot partition (contrast
    * t9's forbidden token-window, whose partitions hold O(corpus) rows).
    * Each segment crosses exactly two exchanges: once hashed to its
    * content-hash reducer for the keep decision, once re-keyed by doc_id
    * for reassembly — the minimum for an operator whose output is
    * reconstructed documents. The oracle groups on the segment STRING
    * itself, so the output matches modulo 64-bit collisions (d1's rule). */
  def paragraphDedup(s: SparkSession, d: String): DataFrame =
    paragraphDedupDf(documents(s, d)).orderBy(col("doc_id"))

  /** Operator form of d5 for pipeline composition: `docs` needs `doc_id`
    * and `text`; returns (doc_id, n_kept, clean_text), dropping documents
    * whose every segment was boilerplate. */
  def paragraphDedupDf(docs: DataFrame, segWords: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val W = "split(text, ' ')"
    val segs = docs.select(
      col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, CAST(ceil(size($W) / ${segWords}.0) AS INT) - 1), " +
          s"i -> array_join(slice($W, i * $segWords + 1, $segWords), ' '))"))
        .as(Seq("seg_idx", "seg")))
    val firstWin = Window.partitionBy(xxhash64(col("seg")))
      .orderBy(col("doc_id"), col("seg_idx"))
    segs
      .withColumn("rn", row_number().over(firstWin))
      .filter(col("rn") === 1)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        expr("array_join(transform(array_sort(collect_list(struct(seg_idx, seg))), x -> x.seg), ' ')")
          .as("clean_text"))
  }

  val paragraphDedupOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |seg AS (SELECT doc_id, i - 1 AS seg_idx,
      |    array_to_string(ws[(i-1)*10+1 : i*10], ' ') AS seg
      |  FROM w, LATERAL unnest(generate_series(1,
      |    CAST(ceil(len(ws) / 10.0) AS INT))) AS t(i)),
      |r AS (SELECT doc_id, seg_idx, seg,
      |    row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      |  FROM seg)
      |SELECT doc_id, count(*) AS n_kept,
      |  string_agg(seg, ' ' ORDER BY seg_idx) AS clean_text
      |FROM r WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d7 — CONTAINMENT dedup via PREFIX FILTERING: ordered pairs (a, b)
    * where ≥ 50% of a's distinct word trigrams also occur in b — the
    * ASYMMETRIC near-dup (a quote, excerpt, or wholesale inclusion of a
    * inside b) that the MinHash/SimHash family structurally misses:
    * containment(a→b) can be high while Jaccard(a,b) is tiny, so no
    * symmetric-similarity LSH bucket ever pairs them.
    *
    * Candidate generation is the published prefix-filter guarantee plus
    * PPJoin's two candidate-pruning filters (Xiao, Wang, Lin, Yu,
    * "Efficient Similarity Joins for Near Duplicate Detection", WWW '08):
    *
    *   - PREFIX: order all trigrams by (corpus frequency, trigram); if
    *     |a∩b| ≥ t = ⌈|a|/2⌉ then b must share one of a's first
    *     |a| − t + 1 trigrams in that order (pigeonhole) — so probing
    *     only those prefix trigrams against the inverted index finds
    *     every qualifying pair, and rare-first ordering keeps the probe
    *     lists off the hot keys;
    *   - LENGTH: |a∩b| ≤ |b|, so any b with 2·|b| < |a| can be skipped
    *     at the index probe — in a fixed-vocabulary corpus this alone
    *     removes every (long a, short b) pairing;
    *   - POSITIONAL: a probe trigram at rank i of a matching rank j of b
    *     bounds the remaining overlap by 1 + min(|a|−i, |b|−j) (every
    *     other common trigram ranks AFTER both, in the shared global
    *     order); pairs whose bound misses t are dropped BEFORE the pair
    *     distinct. Completeness: the FIRST common trigram in global
    *     order lies in a's prefix and realizes the bound, so a
    *     qualifying pair always survives through at least that probe.
    *
    * Verification computes the exact intersection on the per-document
    * sorted trigram arrays; the threshold test is integer (2·|∩| ≥ |a|),
    * the reported containment one IEEE division. The filters prune
    * CANDIDATES only — the verified output is unchanged (d7's oracle is
    * the brute-force pair join).
    *
    * Scale shape: the trigram equi-joins are keyed by `xxhash64(trigram)`
    * (8-byte shuffle, d1's discipline; a hash collision only adds a false
    * candidate that verification discards). Candidate pairs carry ids
    * only; the trigram arrays join back per matched doc id. The ranked
    * posting table feeds both the probe prefixes and the index side, so
    * it is cached. Measured at sf10 (SCALE.md r8): the adversarial
    * fixed-vocabulary case was 374.9 s on the prefix filter alone.
    *
    * ROUND 9: the operator now DISPATCHES between two strategies on the
    * corpus's measured df profile (see [[containmentDirectEligible]]) —
    * profiling showed the "adversarial" rehearsal corpus has max trigram
    * df 25 at sf0.1 (nothing is frequent; the 31-token vocabulary still
    * yields 27k distinct trigrams), so the prefix machinery's ranked
    * window + candidate distinct + per-pair array join-back was pure
    * overhead there. In that benign regime [[containmentDedupDirect]]
    * computes every |a∩b| exactly from one incidence self-join; the
    * PPJoin prefix path remains the high-df strategy. Both produce the
    * identical verified output (spec-pinned), so the oracle is shared. */
  def containmentDedup(s: SparkSession, d: String): DataFrame = {
    // DF-PROFILE DISPATCH (VERDICT r8 item 3): the two strategies below
    // have opposite worst cases, and one tiny partial+final aggregate over
    // the posting lengths decides which regime the corpus is in —
    //   Σdf  = total trigram incidences (the corpus size in shingles),
    //   Σdf² = exact row count of an incidence self-join on the trigram —
    // the same shape as e7/e9's count-driven self-scaling.
    //
    // r14 (guide §2.4): ONE persisted incidence table serves the profile
    // aggregate AND both sides of the direct join — before this each
    // consumer re-scanned and re-SHINGLED the corpus (3 passes; the
    // shingle expression dominates the scan). The result is eagerly
    // pinned so the corpus-sized cache releases NOW (the g1/t10/q59
    // discipline); the lazy plan-shape surface stays
    // [[containmentDedupDirect]], which PlanSpec gates directly.
    val (out, e) = containmentDedupDispatch(s, d)
    try out.localCheckpoint(true)
    finally { e.unpersist(false); () }
  }

  /** The LAZY dispatch seam: runs the df-profile aggregate and returns the
    * chosen strategy's un-executed frame plus the persisted incidence cache
    * (a no-op handle when the prefix branch already released it). Split out
    * (ADVICE r14) so PlanSpec can gate the SHIPPED dispatch path's plan —
    * the registered query's eager localCheckpoint truncates it — and so the
    * prefix branch unpersists the incidence cache BEFORE the prefix builder
    * derives its own posting table (the old shape kept a corpus-sized cache
    * pinned through exactly the high-df regime the prefix path exists for,
    * doubling peak memory/disk there). */
  private[graft] def containmentDedupDispatch(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val e = containmentIncidences(s, d)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val st = e.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .agg(sum(col("df")).as("s1"), sum(col("df") * col("df")).as("s2"))
        .head()
      if (containmentDirectEligible(st.getLong(0), st.getLong(1)))
        (containmentDedupDirectOn(e), e)
      else {
        // the incidence cache served only the profile aggregate here —
        // release it before the prefix machinery builds its own tables
        e.unpersist(false)
        (containmentDedupPrefix(s, d), e)
      }
    } catch {
      // a throw after persist leaves no caller holding `e` to release it
      case t: Throwable => e.unpersist(false); throw t
    }
  }

  /** The (Σdf, Σdf²) profile aggregate the dispatch reads — Σdf² is also
    * the DIRECT strategy's exact candidate row volume, which the r11 sf30
    * law attribution probed (`graft.examples.ContainProbe`, a dev main
    * since removed; commit a49360d is the last to have it). */
  private[graft] def containmentDfProfile(s: SparkSession, d: String): (Long, Long) = {
    val e = containmentIncidences(s, d)
    val st = e.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .agg(sum(col("df")).as("s1"), sum(col("df") * col("df")).as("s2")).head()
    (st.getLong(0), st.getLong(1))
  }

  /** Direct path eligibility: Σdf²/Σdf is the df-WEIGHTED mean posting
    * length — the expected index-list length a random incidence equi-joins.
    * At ≤ 64× the corpus incidence count, the direct self-join shuffles a
    * bounded-constant multiple of the corpus in 24-byte rows and is
    * strictly cheaper than the prefix machinery (ranked window + candidate
    * distinct + per-pair array join-back); beyond it the df² blow-up
    * dominates (stopword-trigram regime) and prefix filtering's
    * selectivity pays for itself. Measured on the rehearsal corpus
    * (SCALE.md r9): Σdf²/Σdf ≈ 11, so the gate and rehearsal take the
    * direct path; a synthetic stopword corpus trips the prefix path. */
  private[graft] def containmentDirectEligible(sumDf: Long, sumDf2: Long): Boolean =
    sumDf2 <= 64L * sumDf

  /** One row per (doc, distinct trigram hash), with the doc's set size —
    * the posting/incidence table both containment strategies read. */
  private def containmentIncidences(s: SparkSession, d: String): DataFrame =
    containmentShingles(s, d)
      .select(col("doc_id"), size(col("sgs")).cast("long").as("sz"),
        explode(col("sgs")).as("h"))

  /** DIRECT strategy: |a∩b| is computed EXACTLY by the incidence
    * equi-join itself — join the posting table with itself on the trigram
    * hash, group by the ordered pair, count. No candidate set, no ranked
    * window, no per-pair array join-back: every shuffled row is 24 bytes
    * of (id, id, size), and row volume is exactly Σdf² (bounded by the
    * eligibility rule). PPJoin's length filter (2·|b| ≥ |a|) still prunes
    * before the pair aggregation; a pair sharing zero trigrams can never
    * qualify (threshold ≥ 1), so completeness is structural. The
    * per-pair count is a partial+final aggregation — map-side combine
    * collapses same-pair rows before the shuffle.
    *
    * Partitioning is deliberately left to AQE (r11 sf30 decade check):
    * an explicit `repartition(P, h)` on both join inputs — tried to
    * spread the Σdf² join volume — made sf10 3× SLOWER (24 → 80 s),
    * because a user-specified shuffle opts the join out of AQE's
    * skew-join splitting, and the trigram df distribution is exactly the
    * skew that optimization exists for. The sf30 residual (161 s on a
    * provably ×3 row volume — the removed ContainProbe, last in commit
    * a49360d, pinned Σdf² at exactly 3.0×)
    * is single-JVM memory pressure on the 32-reducer pair aggregation,
    * recorded in SCALE.md; on a real cluster the same plan gets more
    * reducers from a production shuffle-partition default. */
  private[graft] def containmentDedupDirect(s: SparkSession, d: String): DataFrame =
    containmentDedupDirectOn(containmentIncidences(s, d))

  /** Direct strategy over an explicit (possibly persisted) incidence
    * table — the seam [[containmentDedup]] feeds its shared cache
    * through. */
  private def containmentDedupDirectOn(e: DataFrame): DataFrame = {
    val probe = e.select(col("doc_id").as("a_id"), col("sz").as("sa"), col("h"))
    val index = e.select(col("doc_id").as("b_id"), col("sz").as("sb"), col("h"))
    probe.join(index, "h")
      .filter(col("a_id") =!= col("b_id") && lit(2L) * col("sb") >= col("sa"))
      .groupBy(col("a_id"), col("b_id"), col("sa"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(lit(2L) * col("n_shared") >= col("sa"))
      .select(col("a_id"), col("b_id"), col("sa").as("size_a"), col("n_shared"),
        (col("n_shared").cast("double") / col("sa")).as("containment"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** PREFIX strategy (the high-df regime): PPJoin candidates + native
    * merge-walk verification — see [[containmentCandidates]]. */
  private[graft] def containmentDedupPrefix(s: SparkSession, d: String): DataFrame =
    containmentCandidates(s, d).select(col("a_id"), col("b_id"))
      .join(containmentShingles(s, d)
        .select(col("doc_id").as("a_id"), col("sgs").as("a_sgs")), "a_id")
      .join(containmentShingles(s, d)
        .select(col("doc_id").as("b_id"), col("sgs").as("b_sgs")), "b_id")
      .select(col("a_id"), col("b_id"),
        size(col("a_sgs")).cast("long").as("size_a"),
        // native sorted merge-walk: array_intersect hashes + materializes
        // the intersection per pair only for size() to discard it — on the
        // sf10 candidate volume that allocation was the verify stage
        expr("graft_intersect_count(a_sgs, b_sgs)").as("n_shared"))
      .filter(lit(2L) * col("n_shared") >= col("size_a"))
      .withColumn("containment", col("n_shared").cast("double") / col("size_a"))
      .orderBy(col("a_id"), col("b_id"))

  /** n1's native shingle path: sorted distinct xxhash64(trigram) per doc in
    * one codegen'd loop — set sizes equal the string-set sizes the oracle
    * computes, absent 64-bit collisions (d1's documented caveat). */
  private def containmentShingles(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    documents(s, d)
      .select(col("doc_id"),
        expr("graft_shingle_hashes(split(text, ' '), 3)").as("sgs"))
      .filter(size(col("sgs")) > 0)
  }

  /** d7's candidate pairs after prefix + length + positional filtering —
    * exposed for the SCALE.md candidate-count comparison (the dev probe
    * measures this against the prefix-only volume). */
  private[graft] def containmentCandidates(s: SparkSession, d: String,
      positional: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val exploded = containmentShingles(s, d)
      .select(col("doc_id"), size(col("sgs")).as("sz"), explode(col("sgs")).as("h"))
    val dfc = exploded.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // every doc's trigrams ranked rare-first in ONE shared global order —
    // both the probe prefixes and the full inverted index read this
    val ranked = exploded.join(dfc, "h")
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val prefixes = ranked.filter(col("rk") <= expr("sz div 2 + 1"))
      .select(col("doc_id").as("a_id"), col("sz").as("sa"),
        col("rk").as("pa"), col("h"))
    val index = ranked
      .select(col("doc_id").as("b_id"), col("sz").as("sb"),
        col("rk").as("pb"), col("h"))
    val probed = prefixes.join(index, "h")
      .filter(col("a_id") =!= col("b_id"))
      // length filter: t ≤ |a∩b| ≤ |b| ⇒ 2·|b| ≥ |a|
      .filter(lit(2L) * col("sb") >= col("sa"))
    val filtered =
      if (positional)
        // positional filter: overlap ≤ 1 + min(sa−pa, sb−pb); need ≥ ⌈sa/2⌉
        probed.filter(lit(1L) + least(col("sa") - col("pa"), col("sb") - col("pb")) >=
          expr("(sa + 1) div 2"))
      else probed
    filtered.select(col("a_id"), col("b_id")).distinct()
  }

  val containmentDedupOracle: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |s AS (SELECT doc_id, list_distinct(list_transform(range(1, len(ws) - 1),
      |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS sgs
      |  FROM w WHERE len(ws) >= 3)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
      |  CAST(len(a.sgs) AS BIGINT) AS size_a,
      |  CAST(len(list_intersect(a.sgs, b.sgs)) AS BIGINT) AS n_shared,
      |  CAST(CAST(len(list_intersect(a.sgs, b.sgs)) AS BIGINT) AS DOUBLE)
      |    / len(a.sgs) AS containment
      |FROM s a JOIN s b ON a.doc_id <> b.doc_id
      |WHERE 2 * len(list_intersect(a.sgs, b.sgs)) >= len(a.sgs)
      |ORDER BY a_id, b_id""".stripMargin

  /** d10 — INCREMENTAL INGEST DEDUP: the daily-batch shape (new crawl vs
    * resident corpus) rather than d1's full-corpus backfill. The corpus is
    * the md5-bucket-<800 docs (deterministic stand-in for "already
    * ingested"), the batch is the rest; every batch doc gets a verdict —
    * `dup_of_corpus` (content hash already resident), `dup_in_batch`
    * (a lower-id batch doc has the same hash), or `kept`. Reports count +
    * id-sum per verdict so the oracle pins exact membership.
    *
    * Scale shape: the corpus side reduces to DISTINCT 8-byte hashes before
    * a hash-key left join (at 100 TB this is the bloom/bucketed lookup
    * path — the join key is never text); in-batch first-wins is a
    * partial+final min on the hash, not a window. */
  def incrementalDedup(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 8), 16, 10)
      .cast("long") % 1000
    val docs = documents(s, d)
      .select(col("doc_id"), xxhash64(normText).as("h"), bucket.as("b"))
    val existing = docs.filter(col("b") < 800)
      .select(col("h")).distinct().withColumn("in_corpus", lit(1))
    // The corpus has no natural exact dups (the d1 precedent), so the
    // batch synthesizes the incremental shape deterministically: fresh
    // docs, re-crawls of resident docs (every 7th corpus doc, re-idd),
    // and an in-batch double (every 11th batch doc, re-idd)
    val fresh = docs.filter(col("b") >= 800)
    val batch = fresh
      .unionByName(docs.filter(col("b") < 800 && col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 2000000L))
      .unionByName(fresh.filter(col("doc_id") % 11 === 0)
        .withColumn("doc_id", col("doc_id") + 3000000L))
    val firstIds = batch.groupBy(col("h")).agg(min(col("doc_id")).as("first_id"))
    batch
      .join(existing, Seq("h"), "left")
      .join(firstIds, "h")
      .withColumn("verdict",
        when(col("in_corpus").isNotNull, lit("dup_of_corpus"))
          .when(col("doc_id") === col("first_id"), lit("kept"))
          .otherwise(lit("dup_in_batch")))
      .groupBy(col("verdict"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("verdict"))
  }

  /** d10 oracle — same verdict logic on the normalized-text key itself
    * (matches xxhash64 grouping modulo 64-bit collisions, the d1
    * precedent). */
  val incrementalDedupOracle: String =
    """WITH docs AS (SELECT doc_id,
      |    regexp_replace(lower(text), '\s+', ' ', 'g') AS nt,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
      |      % 1000 AS b
      |  FROM documents),
      |existing AS (SELECT DISTINCT nt FROM docs WHERE b < 800),
      |batch AS (SELECT doc_id, nt FROM docs WHERE b >= 800
      |  UNION ALL SELECT doc_id + 2000000, nt FROM docs WHERE b < 800 AND doc_id % 7 = 0
      |  UNION ALL SELECT doc_id + 3000000, nt FROM docs WHERE b >= 800 AND doc_id % 11 = 0),
      |f AS (SELECT nt, min(doc_id) AS first_id FROM batch GROUP BY nt),
      |v AS (SELECT bt.doc_id,
      |    CASE WHEN e.nt IS NOT NULL THEN 'dup_of_corpus'
      |         WHEN bt.doc_id = f.first_id THEN 'kept'
      |         ELSE 'dup_in_batch' END AS verdict
      |  FROM batch bt LEFT JOIN existing e ON e.nt = bt.nt
      |  JOIN f ON f.nt = bt.nt)
      |SELECT verdict, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
      |FROM v GROUP BY 1 ORDER BY verdict""".stripMargin

  /** d11 — EXACT SUBSTRING DUPLICATION PROFILE (winnowing): the
    * character-level twin of d1. Lee et al. 2021 ("Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499) remove verbatim
    * substrings ≥ 50 tokens found anywhere else in the corpus via a suffix
    * array; a suffix array is a single-machine structure, so the
    * distributed re-expression is winnowing fingerprints
    * (Schleimer–Wilkerson–Aiken 2003): hash every k-char window, keep the
    * minimum hash of each run of w consecutive windows
    * ([[graft.functions.WinnowHashes]], one codegen'd O(n) deque pass per
    * document). Content-defined selection makes detection
    * ALIGNMENT-ROBUST: any verbatim run of ≥ k + w − 1 chars (k=20, w=16 ⇒
    * 35 chars) shared by two documents selects at least one identical
    * fingerprint in both copies wherever the copies sit — the guarantee
    * fixed-stride position sampling cannot give, while storing only
    * ~2/(w+1) of all window hashes.
    *
    * Per-doc report: distinct fingerprint count, fingerprints shared with
    * ≥ 1 other document, and their ratio (one IEEE division of exact
    * integers — deterministic).
    *
    * Scale shape: the shuffle key is the 60-bit fingerprint (8-byte long,
    * d1's discipline; the oracle re-derives identical values from
    * `md5()`). Full window text never crosses the wire. Two exchanges —
    * (fingerprint) for the document-frequency count and (doc_id) for the
    * per-doc fold — plus one fingerprint-keyed equi-join of two narrow
    * (id, long) tables; all aggregates partial+final. Fingerprinting is a
    * per-row generator (no shuffle), linear in corpus bytes. */
  def substringDedup(s: SparkSession, d: String): DataFrame =
    substringDedupDf(s, documents(s, d))

  /** d11 on an explicit (doc_id, text) frame — spec seam for planted-run
    * recall tests. The expression emits per-doc DISTINCT fingerprints, so
    * the per-fingerprint row count below is exactly its document
    * frequency. */
  private[graft] def substringDedupDf(s: SparkSession, docs: DataFrame,
      k: Int = 20, w: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val fps = docs.select(col("doc_id"),
      explode(expr(s"graft_winnow_hashes(text, $k, $w)")).as("fp"))
    val freq = fps.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
    fps.join(freq, "fp")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fingerprints"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_dup_fingerprints"))
      .withColumn("dup_ratio",
        col("n_dup_fingerprints").cast("double") / col("n_fingerprints"))
      .orderBy(col("doc_id"))
  }

  /** d11 oracle — re-derives the winnowing selection in SQL: per-position
    * 15-hex md5 prefixes (lexicographic min ≡ numeric min for fixed-width
    * hex), per-window list_min, distinct per doc. */
  val substringDedupOracle: String =
    """WITH hs AS (SELECT doc_id,
      |    list_transform(generate_series(1, greatest(length(text)-19, 1)),
      |      p -> substr(md5(substr(text, CAST(p AS INT), 20)), 1, 15)) AS h
      |  FROM documents),
      |sel AS (SELECT doc_id, unnest(list_distinct(
      |    list_transform(generate_series(1, greatest(len(h)-15, 1)),
      |      i -> list_min(list_slice(h, CAST(i AS INT), CAST(i AS INT)+15))))) AS fp
      |  FROM hs),
      |f AS (SELECT fp, count(*) AS nd FROM sel GROUP BY fp)
      |SELECT doc_id, count(*) AS n_fingerprints,
      |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_fingerprints,
      |  CAST(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS dup_ratio
      |FROM sel JOIN f USING (fp)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d12 — CONTENT-DEFINED CHUNK DEDUP (the FastCDC/rsync model applied
    * to tokens): cut every document into variable-length chunks at
    * content-defined boundaries (after token i iff hash(token_i) ≡ 0
    * mod 16 — expected chunk ≈ 16 tokens), fingerprint each chunk, and
    * account the TOKEN SAVINGS of chunk-level dedup under
    * first-occurrence-keeps semantics (d1's rule lifted to chunks: the
    * globally first occurrence — smallest doc_id — is kept; every other
    * occurrence, including repeats inside the keeper, is dedupable).
    * This is the storage/token-budget accounting step between d1 (whole
    * docs) and d11 (fingerprint profile): d11 reports WHERE text repeats,
    * d12 reports HOW MANY TOKENS chunk dedup would save. Content-defined
    * boundaries make the chunking alignment-robust: an insertion early
    * in a copy shifts positions but not the downstream cut points.
    *
    * Scale shape: chunking is ALL per-row higher-order expressions (one
    * native hash pass + span algebra — no explode until chunks exist, no
    * window); the shuffle keys are 8-byte chunk fingerprints (d1's
    * discipline: 15-hex md5 prefix as BIGINT); `oc` is a (doc, sig)
    * partial+final aggregation and `fd` re-aggregates it (identical
    * exchange → ReuseExchange), joined back on the fingerprint —
    * AQE-skew-splittable for pathological chunks. */
  def cdcChunkDedup(s: SparkSession, d: String, mask: Int = 16): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Views.sql(s, documents(s, d), "graft_docs_cdc_v",
      s"""WITH w AS (SELECT doc_id, split(lower(text), ' ') AS ws
        |    FROM graft_docs_cdc_v),
        |h AS (SELECT doc_id, ws,
        |    filter(transform(graft_md5_prefix_hashes(ws),
        |        (t, i) -> CASE WHEN t % $mask = 0 THEN i + 1 ELSE -1 END),
        |      p -> p > 0) AS cuts
        |  FROM w WHERE size(ws) > 0),
        |ck AS (SELECT doc_id, ws,
        |    filter(zip_with(concat(array(0), cuts), concat(cuts, array(size(ws))),
        |      (st, en) -> struct(st AS st, en AS en)), c -> c.en > c.st) AS spans
        |  FROM h),
        |ch AS (SELECT doc_id,
        |    CAST(conv(substring(md5(array_join(
        |      slice(ws, sp.st + 1, sp.en - sp.st), ' ')), 1, 15), 16, 10) AS BIGINT)
        |      AS sig,
        |    CAST(sp.en - sp.st AS BIGINT) AS ntok
        |  FROM ck LATERAL VIEW explode(spans) t AS sp),
        |oc AS (SELECT doc_id, sig, ntok, count(1) AS o
        |  FROM ch GROUP BY doc_id, sig, ntok),
        |fd AS (SELECT sig, min(doc_id) AS first_doc FROM oc GROUP BY sig),
        |j AS (SELECT oc.doc_id, oc.ntok, oc.o,
        |    oc.o - CASE WHEN oc.doc_id = fd.first_doc THEN 1 ELSE 0 END AS dup_o
        |  FROM oc JOIN fd ON oc.sig = fd.sig)
        |SELECT doc_id, sum(o) AS n_chunks, sum(dup_o) AS n_dup_chunks,
        |  sum(o * ntok) AS n_tokens, sum(dup_o * ntok) AS dup_tokens,
        |  CAST(sum(dup_o * ntok) AS DOUBLE) / sum(o * ntok) AS dup_token_ratio
        |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)
  }

  /** d12 oracle — DuckDB re-derives cut points (same 15-hex md5-prefix
    * token hashes), spans, chunk fingerprints, and the first-occurrence
    * accounting from scratch. */
  val cdcChunkDedupOracle: String =
    """WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS ws
      |    FROM documents),
      |h AS (SELECT doc_id, ws,
      |    list_filter(generate_series(1, len(ws)),
      |      i -> CAST('0x' || substr(md5(ws[i]), 1, 15) AS BIGINT) % 16 = 0)
      |      AS cuts
      |  FROM w WHERE len(ws) > 0),
      |sp AS (SELECT doc_id, ws, list_prepend(0, cuts) AS sts,
      |    list_append(cuts, len(ws)) AS ens FROM h),
      |ch AS (SELECT doc_id,
      |    CAST('0x' || substr(md5(array_to_string(
      |      list_slice(ws, CAST(sts[k] + 1 AS INT), CAST(ens[k] AS INT)), ' ')),
      |      1, 15) AS BIGINT) AS sig,
      |    CAST(ens[k] - sts[k] AS BIGINT) AS ntok
      |  FROM sp, unnest(generate_series(1, len(sts))) AS t(k)
      |  WHERE ens[k] > sts[k]),
      |oc AS (SELECT doc_id, sig, ntok, count(*) AS o
      |  FROM ch GROUP BY doc_id, sig, ntok),
      |fd AS (SELECT sig, min(doc_id) AS first_doc FROM oc GROUP BY sig),
      |j AS (SELECT oc.doc_id, oc.ntok, oc.o,
      |    oc.o - CASE WHEN oc.doc_id = fd.first_doc THEN 1 ELSE 0 END AS dup_o
      |  FROM oc JOIN fd ON oc.sig = fd.sig)
      |SELECT doc_id, CAST(sum(o) AS BIGINT) AS n_chunks,
      |  CAST(sum(dup_o) AS BIGINT) AS n_dup_chunks,
      |  CAST(sum(o * ntok) AS BIGINT) AS n_tokens,
      |  CAST(sum(dup_o * ntok) AS BIGINT) AS dup_tokens,
      |  CAST(sum(dup_o * ntok) AS DOUBLE) / sum(o * ntok) AS dup_token_ratio
      |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** d14 — CROSS-SOURCE DUPLICATION MATRIX: for every source pair, how
    * many distinct (normalized) texts they SHARE, plus each side's
    * distinct-text count and the shared fraction of the smaller side in
    * exact ppm — the provenance statistic that tells a curation pipeline
    * WHICH sources are mirrors/aggregators of which (d1 says how much is
    * duplicated; d14 says where it flows between sources). The corpus has
    * no natural cross-source copies at any SF, so every third document is
    * mirrored into a synthetic aggregator source (the d1 planted-dupe
    * discipline): the matrix then has one nonzero row per original
    * source, all oracle-checked.
    *
    * Scale shape: texts fold to xxhash64 signatures pre-shuffle (d1's
    * rule — only (source, hash) pairs cross the wire), the distinct is
    * partial+final, and the pair join runs on the DEDUPED (source, hash)
    * table where per-hash fanout is bounded by |sources| — never a
    * text-keyed or corpus×corpus join. Per-source totals re-join
    * broadcast. The ≤ |sources|²-row result is eagerly pinned so the
    * persisted signature table releases NOW (the g2 discipline). The
    * oracle groups by normalized text itself — values never surface, so
    * engine-specific hashing stays gate-checkable (the d1 trick). */
  def crossSourceDupMatrix(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val mirrored = docs.filter(col("doc_id") % 3 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        lit("xmirror").as("source"), col("text"))
    val sigs = docs.unionByName(mirrored)
      .select(col("source"), xxhash64(normText).as("h")).distinct()
      .persist()
    val counts = sigs.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val out = sigs.select(col("source").as("src_a"), col("h"))
      .join(sigs.select(col("source").as("src_b"), col("h")), "h")
      .filter(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("shared_texts"))
      .join(broadcast(counts.select(col("source").as("src_a"),
        col("n").as("n_a"))), "src_a")
      .join(broadcast(counts.select(col("source").as("src_b"),
        col("n").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"),
        col("shared_texts"),
        expr("(shared_texts * 1000000) div least(n_a, n_b)")
          .as("containment_ppm"))
      .orderBy(col("src_a"), col("src_b"))
      .localCheckpoint(true)
    sigs.unpersist(false)
    out
  }

  val crossSourceDupMatrixOracle: String =
    """WITH ad AS (SELECT doc_id, source, text FROM documents
      |  UNION ALL SELECT doc_id + 2000000, 'xmirror', text
      |  FROM documents WHERE doc_id % 3 = 0),
      |sigs AS (SELECT DISTINCT source,
      |    regexp_replace(lower(text), '\s+', ' ', 'g') AS nt FROM ad),
      |c AS (SELECT source, count(*) AS n FROM sigs GROUP BY source),
      |p AS (SELECT a.source AS src_a, b.source AS src_b,
      |    count(*) AS shared_texts
      |  FROM sigs a JOIN sigs b ON a.nt = b.nt AND a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT src_a, src_b, ca.n AS n_a, cb.n AS n_b, shared_texts,
      |  CAST((shared_texts * 1000000) // least(ca.n, cb.n) AS BIGINT)
      |    AS containment_ppm
      |FROM p JOIN c ca ON ca.source = src_a JOIN c cb ON cb.source = src_b
      |ORDER BY src_a, src_b""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "d14_cross_source_dup" ->
      ((s: SparkSession, d: String) => crossSourceDupMatrix(s, d)),
    "d12_cdc_chunk_dedup" -> ((s: SparkSession, d: String) => cdcChunkDedup(s, d)),
    "d11_substring_dedup" -> (substringDedup _),
    "d10_incremental_dedup" -> (incrementalDedup _),
    "d7_containment_dedup" -> (containmentDedup _),
    "d1_exact_dedup" -> (exactDedup _),
    "d2_dedup_stats" -> (dedupStats _),
    "d3_decontaminate" -> ((s: SparkSession, d: String) => decontaminate(s, d)),
    "d4_bloom_decontaminate" -> (bloomDecontaminate _),
    "d5_paragraph_dedup" -> (paragraphDedup _),
    "d6_overlap_decontaminate" -> ((s: SparkSession, d: String) => overlapDecontaminate(s, d))
  )

  val oracles: Map[String, String] = Map(
    "d14_cross_source_dup" -> crossSourceDupMatrixOracle,
    "d12_cdc_chunk_dedup" -> cdcChunkDedupOracle,
    "d11_substring_dedup" -> substringDedupOracle,
    "d10_incremental_dedup" -> incrementalDedupOracle,
    "d7_containment_dedup" -> containmentDedupOracle,
    "d1_exact_dedup" -> exactDedupOracle,
    "d2_dedup_stats" -> dedupStatsOracle,
    "d3_decontaminate" -> decontaminateOracle,
    "d4_bloom_decontaminate" -> bloomDecontaminateOracle,
    "d5_paragraph_dedup" -> paragraphDedupOracle,
    "d6_overlap_decontaminate" -> overlapDecontaminateOracle
  )
}
