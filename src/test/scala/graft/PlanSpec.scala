package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Catalog

/** Plan-quality regression guards: the physical plans that make these
  * queries scale must not silently degrade. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  private def plan(name: String): String =
    Catalog.byName(name).run(spark, d).queryExecution.executedPlan.toString

  /** Optimized logical plan — where forced join hints survive as
    * `strategy=broadcast` markers even when the physical planner would
    * have picked broadcast on its own size estimate. */
  private def logical(name: String): String =
    Catalog.byName(name).run(spark, d).queryExecution.optimizedPlan.toString

  test("q01: shipdate filter reaches the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("l_shipdate"), "scan should mention the filter column")
    assert("DataFilters: \\[[^\\]]*l_shipdate".r.findFirstIn(p).isDefined,
      "shipdate predicate must be a data filter on the scan")
  }

  test("q19: both dims broadcast, no shuffle join") {
    val p = plan("q19_join_3way")
    assert("BroadcastHashJoin".r.findAllIn(p).size === 2)
    assert(!p.contains("SortMergeJoin"))
  }

  // Brute-force kNN scores every (query, vector) pair: a condition-free
  // cross join (only `query_id != vec_id`) with the 10 query vectors
  // broadcast. It is the one nested-loop join the benchmark's query_mix
  // runs (its traced `plans.bnlj_joins` 1), as the spine × assets densify
  // is tx_hourly's (TransactionsPipelineSpec).
  test("q30: brute-force kNN is query_mix's one nested-loop join, query side broadcast") {
    val p = plan("q30_knn_bruteforce")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === 1)
    assert(p.contains("BroadcastNestedLoopJoin BuildLeft, Cross"), p)
  }

  test("q59: binned range join is an equi join, not a nested loop") {
    val p = plan("q59_interval_overlap")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "range join must not fall back to a nested loop")
  }

  test("q25: as-of join is window-based, no join operator at all") {
    val p = plan("q25_asof_join")
    assert(!p.contains("Join"), "union+window merge should produce no join")
    assert(p.contains("RunningWindowFunction") || p.contains("Window"))
  }

  test("q52: global top-k is TakeOrderedAndProject, not a global sort") {
    val p = plan("q52_global_topk")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-k must use distributed partial top-k")
  }

  test("q28/q29/q92: sketch-banded dedup plans are pure equi joins") {
    for (q <- Seq("q28_minhash_lsh", "q29_simhash", "q92_simhash_wide")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must band, not cross")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q must equi-join")
    }
  }

  test("q67: banded near-dup plan has no cartesian/nested-loop join") {
    val p = plan("q67_embedding_neardup")
    assert(!p.contains("CartesianProduct"),
      "near-dup candidates must come from the LSH band equi-join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "near-dup verify must be an equi join on candidate keys")
    // The banks frame is fact-derived (n×288 rows): a forced broadcast
    // hint would collect it on the driver at any scale. The optimizer is
    // free to broadcast while its size ESTIMATE is under threshold (that
    // grows with the data); a hint is not.
    assert(!logical("q67_embedding_neardup").contains("strategy=broadcast"),
      "band self-join must not force-broadcast the fact-derived banks frame")
  }

  test("q101: daily HLL sketches partial-aggregate map-side") {
    // The whole point of the sketch path is that events are touched
    // once and the 7-day fanout carries ~kB sketches — that requires
    // the daily HLL build to combine map-side before its exchange.
    val p = plan("q101_rolling_distinct_sketch")
    assert(p.contains("partial_hll_sketch_agg"),
      "daily HLL build must map-side combine (partial aggregation)")
  }

  test("q102: stratified reservoir ships at most k rows per map task") {
    val p = plan("q102_stratified_reservoir")
    assert(p.contains("partial_graft_topk"),
      "reservoir must be the k-bounded aggregate, not a sort/row_number")
    assert(!p.contains("Window"), "no global-sort window in the scale path")
  }

  test("q114/q115: funnel and cohort chains stay equi-join, no forced broadcast") {
    for (q <- Seq("q114_funnel", "q115_cohort_retention")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"$q must chain equi joins on its grouping keys")
      // every joined frame is fact-derived (per-user / per-cohort rows
      // that grow with the data) — AQE may broadcast at small scale
      // from runtime sizes, but a forced hint would not reverse at 100×
      assert(!logical(q).contains("strategy=broadcast"),
        s"$q must not force-broadcast fact-derived stage frames")
    }
  }

  test("q116: one sequence window over raw events; matrix windows see pairs") {
    val p = plan("q116_transition_matrix")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    // the lead() window is the only operator that sees raw events; the
    // share-of-total window runs after the pair aggregation, whose
    // output is bounded by |event_type|^2 — so exactly two Windows, and
    // the pair count partial-aggregates map-side before its shuffle
    assert("Window \\[".r.findAllIn(p).size === 2, "lead + share windows only")
    assert(p.contains("partial_count"), "pair counting must map-side combine")
  }

  test("q117: resample is the only fact pass — obs exchange is reused") {
    // AQE deduplicates the two identical obs subtrees at RUNTIME (stage
    // reuse), so this pin must execute the query and read the final
    // adaptive plan — the static plan still shows two scans
    val df = Catalog.byName("q117_gap_fill").run(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    // the hour spine's bounds MUST come from the resampled frame, not a
    // second scan of raw events: one FileScan, one reused exchange
    assert("FileScan parquet".r.findAllIn(p).size === 1,
      "gap fill must scan the fact exactly once")
    assert(p.contains("partial_sum"), "resample must map-side combine")
    // all four neighbor lookups collapse into one Window operator over
    // the calendar-bounded spine (no re-sort between frames)
    assert("Window \\[".r.findAllIn(p).size === 1)
  }

  test("q118: anomaly scoring windows share one sort over the resample") {
    val p = plan("q118_rolling_anomaly")
    assert("FileScan parquet".r.findAllIn(p).size === 1)
    assert(p.contains("partial_sum"), "resample must map-side combine")
    // count/Σv/Σv² windows all use the same (event_type, h) spec: one
    // Sort feeds the chain — any second Sort means a spec drifted
    assert("\\) Sort \\[".r.findAllIn(p).size <= 2,
      "rolling windows must share the resample's sort order")
  }

  test("q119: cube expands before the shuffle and map-side combines") {
    val p = plan("q119_cube")
    assert(p.contains("Expand"), "cube must plan as Expand (2^k slices)")
    assert(p.contains("partial_count") && p.contains("partial_sum"),
      "cube aggregate must partial-aggregate after the expand")
    assert(p.contains("BroadcastHashJoin"), "customer dim should broadcast")
  }

  test("q120: iterations run off checkpointed frames, no fact re-scan") {
    // the static edge frame and seed ranks are localCheckpoint-ed, so
    // the 5-round job's own plan must contain NO parquet scan at all —
    // any FileScan here means an iteration's lineage reached back to
    // the raw fact (2×iterations scans at 100 TB)
    val df = Catalog.byName("q120_pagerank").run(spark, d)
    val p = df.queryExecution.executedPlan.toString
    assert("FileScan parquet".r.findAllIn(p).size === 0,
      "pagerank iterations must not re-derive edges from the raw scans")
    assert(p.contains("partial_sum"), "inflow sums must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("q121: intersect/except plan as hash semi/anti joins + distinct") {
    val p = plan("q121_set_ops")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      "set ops must lower to semi/anti joins, not row-comparing loops")
  }

  test("q122: fuzzy-key join runs over the dictionary, not the fact") {
    val p = plan("q122_fuzzy_keys")
    // the self-join's BOTH inputs must be the distinct-key aggregate
    // (vocabulary-sized); a join whose input is the raw part scan grows
    // quadratically with duplicated keys
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "blocked edit-distance join must stay equi on the block key")
    assert("HashAggregate\\(keys=\\[p_name".r.findAllIn(p).size >= 2,
      "both join sides must aggregate to the key dictionary first")
    assert(p.contains("levenshtein"),
      "distance must evaluate as a join residual, post-blocking")
  }

  test("q123: ewma offset fanout is an equi join over one fact pass") {
    // the trailing window is an equi join on (type, h−off), NOT a range
    // join; and both branches must share ONE obs subtree (runtime
    // exchange reuse — needs the executed adaptive plan, like q117)
    val df = Catalog.byName("q123_ewma").run(spark, d)
    df.collect()
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case other => other.toString
    }
    assert("FileScan parquet".r.findAllIn(p).size === 1,
      "ewma must scan the fact exactly once")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "offset spine must join equi, not as a range/nested loop")
    assert(p.contains("partial_sum"), "resample must map-side combine")
  }

  test("q124: rfm scores via broadcast breakpoints, no global sort") {
    val p = plan("q124_rfm")
    assert(!p.contains("Window"),
      "quartile scoring must not use ntile's single-partition sort")
    // the three 1-row frames (global max, breakpoints) cross in as
    // broadcasts — the only acceptable nested-loop shapes here
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 3)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q113: heavy-hitters summary partial-aggregates map-side") {
    // The sketch's entire value is that each map task ships ≤ k
    // counters into the shuffle instead of one row per distinct token.
    val p = plan("q113_heavy_hitters")
    assert(p.contains("partial_graft_heavy"),
      "MG summary must combine map-side before the exchange")
  }

  test("q106: PQ encode and ADC scan are equi joins over broadcast tables") {
    val p = plan("q106_pq_adc")
    assert(!p.contains("CartesianProduct"),
      "codes/LUT joins must be equi joins on (m, cid)")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("partial_graft_topk"),
      "per-query top-5 must be the map-side bounded aggregate")
  }

  test("q109: bloom semi-join reduction filters the fact scan pre-shuffle") {
    // The scalar-subquery bloom must land as a Filter on the lineitem
    // (fact) side — pruning BEFORE the join's exchange is the whole
    // point; a bloom evaluated after the join would be dead weight.
    val p = plan("q109_bloom_prune")
    assert(p.contains("might_contain(Subquery") ||
      p.contains("might_contain(scalar-subquery"),
      "bloom must arrive as a scalar subquery (the InjectRuntimeFilter shape)")
    val factFilter = p.linesIterator.exists(l =>
      l.contains("might_contain") && l.contains("xxhash64(l_orderkey"))
    assert(factFilter, "bloom prune must filter the fact side's l_orderkey")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
  }

  test("q108: semantic dedup prunes within clusters via equi joins only") {
    // The checkpoint barrier keeps the k-bounded centroid cross join out
    // of this plan, so everything visible here — the within-cluster pair
    // join on centroid_id and the survivor left join — must be a hash
    // equi join, and nothing in it may carry a forced-broadcast hint
    // (every frame is fact-derived and grows with the corpus).
    val p = plan("q108_semdedup")
    assert(!p.contains("CartesianProduct"),
      "within-cluster pairs must come from the centroid_id equi-join")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "semantic dedup must not fall back to a nested loop")
    assert(!logical("q108_semdedup").contains("strategy=broadcast"),
      "no forced broadcast of fact-derived frames in the prune plan")
  }

  test("q68: full agg_pnl composite is bounded at 10 shuffle exchanges") {
    // Structural minimum for the reference's dependency shape: 4 grouping
    // aggregates (hourly base + trades/nft/campaign dims), 3 user-window
    // families (the chain alternates user → timestamp → user → timestamp,
    // so the user partitioning is rebuilt twice, exactly as in the
    // reference), 2 rank (timestamp) families, 1 final range sort. The
    // ~30 window columns themselves add NO exchanges beyond these.
    // Still 10 after the stage-3 de-hinting: at test scale the planner
    // broadcasts the three joins from its own size estimates, and at
    // 100× those estimates grow and flip to shuffle joins landing on the
    // existing (user_id, timestamp) partitioning.
    val p = plan("q68_agg_pnl")
    val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(shuffles <= 10,
      s"agg_pnl must share window partitionings (one exchange per " +
        s"user/timestamp family), got $shuffles shuffles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
    // Stage-3's trades/nft/campaign frames derive from the events FACT
    // (per user-hour granularity): forcing them broadcast would collect
    // the whole frame on the driver at 100× (OOM). AQE may still pick
    // broadcast at small scale from its runtime size — that choice
    // reverses with the data; a hint does not.
    assert(!logical("q68_agg_pnl").contains("strategy=broadcast"),
      "agg_pnl must not force-broadcast fact-derived join sides")
  }

  test("q75: referral as-of join is an equi join with a residual bound") {
    val p = plan("q75_referral_rewards")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "authority=referee must be the join key; block_time>=referral_" +
        "timestamp must be a residual predicate, not a theta join")
    assert(!logical("q75_referral_rewards").contains("strategy=broadcast"),
      "no forced broadcast anywhere in the referral chain")
  }

  test("q79: sessionization shares one user exchange end-to-end") {
    // lag + cumulative session count + per-session groupBy all cluster
    // on user_id: HashPartitioning(user_id) satisfies the groupBy's
    // (user_id, session_seq) clustering, so the whole chain needs ONE
    // hash exchange (plus the output range sort).
    val p = plan("q79_sessionize")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 1, s"sessionization must reuse the user " +
      s"partitioning across window and groupBy, got $hashEx hash exchanges")
  }

  test("q81: bounded top-k aggregates map-side before the exchange") {
    val p = plan("q81_topk_agg")
    assert(p.contains("ObjectHashAggregate"),
      "graft_topk must run as an object hash aggregate")
    assert(p.contains("partial_graft_topk"),
      "the plan must show the map-side partial aggregation that bounds " +
        "the shuffle at k rows per map task per group")
  }

  test("q83: decontamination is a gram equi-join, no forced broadcast") {
    val p = plan("q83_decontaminate")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "train×eval overlap must join on the gram, never pairwise docs")
    // the eval-gram side is corpus-derived: AQE may broadcast it from
    // its runtime size, a hint must not
    assert(!logical("q83_decontaminate").contains("strategy=broadcast"))
  }

  test("q84: packing layout reuses one hash exchange per language stream") {
    val p = plan("q84_pack_sequences")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 1, s"pack offsets are one window over (lang, doc_id); " +
      s"got $hashEx hash exchanges")
  }

  test("q85/q86: corpus never shuffles on the 5-value lang key") {
    // the rates dim (≤ one row per language) must broadcast into the
    // per-doc pass; a sort-merge join here partitions the whole corpus
    // across 5 keys
    for (q <- Seq("q85_mixture_resample", "q86_epoch_upsample")) {
      val p = plan(q)
      assert(!p.contains("SortMergeJoin"),
        s"$q: per-doc rate lookup must be a broadcast hash join")
    }
  }

  test("q89: repetition ratios are shuffle-free up to the presentation sort") {
    val p = plan("q89_repetition_ratio")
    // per-row array math: the ONLY exchange allowed is the final
    // orderBy's range partitioning — a hash exchange would mean the
    // cheapest quality gate started shuffling the corpus
    assert(!p.contains("Exchange hashpartitioning"),
      "q89 must stay a scan→project pipeline")
  }

  test("q253: one gram list per n and one split per document") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, StringSplit}
    val lp = Catalog.byName("q253_max_repeated_ngram").run(spark, d)
      .queryExecution.optimizedPlan
    def count(f: PartialFunction[org.apache.spark.sql.catalyst.expressions.Expression, Unit]) =
      lp.collect { case n => n.expressions.map(_.collect(f).size).sum }.sum
    // HOFs are CodegenFallback: a gram list written twice is built twice
    assert(count { case _: ArrayTransform => () } === 12,
      "each n's gram list must appear once (12 n, not 24)")
    assert(count { case _: StringSplit => () } === 1,
      "the token array must be projected once, not re-split per n")
  }

  test("q90: n-gram novelty is a gram equi-join, no doc-pair blowup") {
    val p = plan("q90_ngram_novelty")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "novelty must join on the gram, never compare documents pairwise")
  }

  test("q93: BM25 never shuffles tokens; top-k is TakeOrderedAndProject") {
    val p = plan("q93_bm25")
    // tf comes from per-row filter(words, …), so the only exchanges are
    // the 1-row stats agg (SinglePartition) and its broadcast — a hash
    // exchange would mean an exploded token shuffle snuck back in
    assert(!p.contains("Exchange hashpartitioning"),
      "q93 must compute tf per-row, not via explode+groupBy")
    assert(p.contains("TakeOrderedAndProject"),
      "q93 top-20 must be TakeOrderedAndProject, not a global sort")
  }

  test("q94/q96: chunker and scrub are scan→project pipelines") {
    for (q <- Seq("q94_chunk_windows", "q96_regex_scrub")) {
      val p = plan(q)
      assert(!p.contains("Exchange hashpartitioning"),
        s"$q must not shuffle before the presentation sort")
    }
  }

  test("q95: vocab top-50 is TakeOrderedAndProject; window sees 50 rows") {
    val p = plan("q95_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"),
      "q95 must TakeOrdered the vocab, never globally sort the counts")
  }

  test("q98: substring dedup joins on the gram key, never doc×doc") {
    val p = plan("q98_substring_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "dup-span detection must be a gram-key equi join")
    // the dup-gram side is fact-derived (one row per distinct shared
    // gram): a forced broadcast would collect it on the driver at scale
    assert(!logical("q98_substring_dedup").contains("strategy=broadcast"),
      "no forced broadcast of the fact-derived dup-gram frame")
  }

  test("q100: split assignment is row-local — no pre-agg shuffle") {
    // the ONLY exchanges are the lang×split aggregation and the
    // per-lang share window; a third would mean the hash-split
    // projection itself started shuffling corpus rows
    val p = plan("q100_stratified_split")
    val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(p).size
    assert(shuffles <= 3,
      s"split must assign per-row and aggregate once, got $shuffles")
  }

  test("q101: rolling-distinct fanout stays equi-shaped, no range join") {
    val p = plan("q101_rolling_distinct_sketch")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the 7-day window must come from sequence+explode fanout, not a " +
        "day-range theta join")
  }

  test("q103: classifier scoring is a scan→project pipeline") {
    val p = plan("q103_quality_classifier")
    assert(!p.contains("Exchange hashpartitioning"),
      "quality scoring must ride the scan — per-row aggregate(), " +
        "no token shuffle")
  }

  test("q127: posting-list aggregation is k-bounded before the exchange") {
    val p = plan("q127_inverted_index")
    assert(p.contains("ObjectHashAggregate"),
      "the posting build must run as an object hash aggregate")
    assert(p.contains("partial_graft_topk"),
      "postings must map-side combine at ≤ k rows per task per token — " +
        "an unbounded collect_list here is the hot-token executor killer")
    assert(!p.contains("collect_list"),
      "no unbounded list aggregation may appear anywhere in the plan")
  }

  test("q128: sparse cosine joins on the gram key, never doc×doc") {
    val p = plan("q128_sparse_cosine")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "candidate pairs must come from the gram-key equi join")
    // the tf/norms frames are fact-derived: forcing them broadcast would
    // collect a corpus-sized frame on the driver at scale
    assert(!logical("q128_sparse_cosine").contains("strategy=broadcast"),
      "no forced broadcast of fact-derived tf/norm frames")
    // the capped gram-TF frame feeds three consumers; the cache makes
    // single-computation a contract, not an exchange-reuse courtesy
    assert(p.contains("InMemoryTableScan"),
      "the shared capped frame must be cached, not recomputed per consumer")
  }

  test("q129: BPE pair stats aggregate the dictionary, then take top-50") {
    val p = plan("q129_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-50 must be distributed partial top-k, not a full sort")
  }

  test("q132: token budget has no global sort over document rows") {
    // the only single-partition window runs over the ≤21-row bucket
    // frame; document rows see a PARTITIONED window + a broadcast join
    val p = plan("q132_token_budget")
    assert(p.contains("BroadcastHashJoin"),
      "bucket offsets must broadcast back, not shuffle the corpus")
    val globalSorts = "Exchange rangepartitioning".r.findAllIn(p).size
    assert(globalSorts <= 1,
      s"only the presentation sort may range-shuffle, got $globalSorts")
  }

  test("q133: winsorize clips via broadcast stats — no window over facts") {
    val p = plan("q133_winsorize")
    assert(p.contains("BroadcastHashJoin"),
      "per-type stats must broadcast back to the fact scan")
    assert(!p.contains("Window"),
      "clipping must be row-local, not a percentile window per row")
  }

  test("q134: random projection is a pure scan→project pipeline") {
    val p = plan("q134_random_projection")
    assert(!p.contains("Exchange hashpartitioning"),
      "projection must ride the scan — no shuffle of vector rows")
  }

  test("q135: skyline runs partitioned windows; singleton only for buckets") {
    val p = plan("q135_pareto_frontier")
    assert(p.contains("BroadcastHashJoin"),
      "bucket prefix-max must broadcast back, not shuffle the corpus")
    // exactly one SinglePartition exchange is allowed: the ≤bucket-count
    // offsets frame; document rows must never funnel into one partition
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 1, s"document rows reached a global window: $singles")
  }

  test("q137: bigram dictionary broadcasts; shared bigram frame is cached") {
    val p = plan("q137_bigram_familiarity")
    assert(p.contains("BroadcastHashJoin"),
      "the charset²-bounded dictionary must broadcast, not shuffle-join " +
        "the corpus bigram frame")
    assert(p.contains("InMemoryTableScan"),
      "the bigram frame feeds dictionary + scoring; cache is the contract")
  }

  test("q138: quantile bins assign row-locally off broadcast CDF offsets") {
    val p = plan("q138_cdf_quantile_bins")
    assert(p.contains("BroadcastHashJoin"),
      "the |distinct-values| CDF frame must broadcast back to the scan")
    // exactly two bounded singletons are allowed: the |distinct-values|
    // freq frame's running window, and the global-total aggregate
    // (which exchanges one partial row per partition, not data rows)
    val singles = "Exchange SinglePartition".r.findAllIn(p).size
    assert(singles <= 2, s"document rows reached a global window: $singles")
  }

  test("q139: closed-form variance is one aggregation, no window") {
    val p = plan("q139_group_variance")
    assert(!p.contains("Window"),
      "variance must come from one sums pass, not a centered second pass")
  }

  test("q141: adjacent pairs are built in-row — no positional self-join") {
    val p = plan("q141_continuation_counts")
    assert(!p.contains("Join"),
      "bigram pairs must come from the in-row array transform")
  }

  test("q142: centroid broadcasts; top-50 is TakeOrderedAndProject") {
    val p = plan("q142_centroid_outliers")
    assert(p.contains("BroadcastHashJoin"),
      "the |labels|-bounded centroid frame must broadcast; fact vectors " +
        "must never shuffle")
    assert(p.contains("TakeOrderedAndProject"),
      "global top-50 must be distributed partial top-k, not a full sort")
    assert(!p.contains("CartesianProduct"))
  }

  test("q143: segment frequency joins on the segment key, never broadcast") {
    val p = plan("q143_boilerplate_prune")
    assert(!p.contains("CartesianProduct"))
    // the frequency frame is corpus-sized: forcing it broadcast would
    // collect a corpus-sized frame on the driver at scale
    assert(!logical("q143_boilerplate_prune").contains("strategy=broadcast"),
      "no forced broadcast of the corpus-sized segment-frequency frame")
    assert(p.contains("InMemoryTableScan"),
      "the segment frame feeds frequency + keep join; cache is the contract")
  }

  test("q144: three lags ride ONE user exchange") {
    val p = plan("q144_next_event_dataset")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 1,
      s"ctx1/ctx2/ctx3 must share one user_id window partitioning, got $hashEx")
  }

  test("q145: LOO encoding clips via broadcast stats — no window over facts") {
    val p = plan("q145_loo_target_encoding")
    assert(p.contains("BroadcastHashJoin"),
      "the |categories| stats frame must broadcast back to the fact scan")
    assert(!p.contains("Window"),
      "the encoding must be row-local off group sums, not a per-row window")
  }

  test("q146: profile is expanded scan + 1-row string-extrema frame — " +
      "no window, no data-sized join") {
    val p = plan("q146_column_profile")
    // the only join is the cross of two 1-row aggregate frames (the
    // string min/max split keeps the Expand pipeline hash-aggregated);
    // a shuffle join would mean a data-sized frame leaked past its agg
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      "column stats must fold into aggregation passes, not shuffle joins")
    assert(p.contains("Expand"),
      "the three countDistincts should expand the one scan, not re-scan")
  }

  test("q147: FK check is a broadcast anti join; no shuffle joins") {
    val p = plan("q147_constraint_checks")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "orphan detection must anti-join against the broadcast dim")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q148: heavy-key list is the k-bounded aggregate, not a sort") {
    val p = plan("q148_skew_report")
    assert(p.contains("partial_graft_topk"),
      "top keys must map-side combine at k rows per task")
    assert(!p.contains("Exchange rangepartitioning"),
      "no global sort may appear in the skew report")
  }

  test("q150: both retrieval paths use bounded top-k aggregates") {
    val p = plan("q150_ann_recall")
    assert(p.contains("partial_graft_topk"),
      "truth and approx top-5 must map-side combine at k rows per task")
    assert(!p.contains("SortMergeJoin"),
      "query sides are broadcast; the corpus must never shuffle-join")
  }

  test("q151: drift ranks by TakeOrderedAndProject off the dictionary") {
    val p = plan("q151_token_drift")
    assert(p.contains("TakeOrderedAndProject"),
      "top-20 drifted tokens must be distributed partial top-k")
    assert(!p.contains("SortMergeJoin"),
      "the 1-row totals frame must broadcast, never shuffle-join")
  }

  test("q152: purge and proof are broadcast anti/left joins") {
    val p = plan("q152_deletion_audit")
    assert(p.contains("LeftAnti"), "the purge must be an anti join")
    assert(!p.contains("SortMergeJoin"),
      "the deletion list is the broadcast side everywhere")
  }

  test("q155: as-of lookup is an entity-key equi join with a residual") {
    val p = plan("q155_scd2_asof_lookup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the interval predicate must ride the user_id equi join as a " +
        "residual, never become the join condition itself")
  }

  test("q156: weighted median windows partition on the group key") {
    val p = plan("q156_weighted_median")
    assert(!p.contains("Exchange SinglePartition"),
      "both weight windows must partition on source — no global window")
  }

  test("q157: multi-probe candidates come from the bucket equi join") {
    val p = plan("q157_multiprobe_lsh")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "probes must equi-join buckets, never scan all pairs")
    assert(p.contains("partial_graft_topk"),
      "per-query top-5 must map-side combine at k rows per task")
  }

  test("q158: bootstrap replica lanes combine map-side before any exchange") {
    val p = plan("q158_bootstrap_ci")
    // the row-fanout formulation: the (digest-group, lane) explode is
    // row-local and feeds a PARTIAL aggregate on (event_type, b), so
    // what reaches each exchange is ≤ |types|×32 rows per task — the
    // lane fanout itself never crosses a shuffle. Three aggregation
    // levels (replica sums, replica-mean collect, point estimate) is
    // the contract; a resampling implementation would ship the 32×
    // blowup through the exchange instead.
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx <= 3,
      s"replica sums + CI collect + point stats, got $hashEx exchanges")
    // pin the SHAPE, not the vocabulary (ADVICE r10: every hash-agg
    // plan contains "partial_" somewhere): the tree prints parents
    // above children, so the segment after the LOWEST exchange is the
    // scan-side branch — the lane-weight partial aggregate must sit
    // there, i.e. map-side combine happens before the first shuffle
    // off the events scan, not after some later exchange.
    val belowLowestExchange = p.substring(p.lastIndexOf("Exchange"))
    assert(belowLowestExchange.contains("partial_sum"),
      "lane weights must partial-aggregate below the lowest exchange " +
        "(map-side combine on the scan branch)")
    assert(!p.contains("CartesianProduct"))
  }

  test("q159/q164: CMS grid probes broadcast — no shuffle join, no cartesian") {
    Seq("q159_countmin", "q164_join_size_estimate").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q: sketch probes must never cross-join data frames")
    }
    assert(plan("q159_countmin").contains("BroadcastHashJoin"),
      "the d×w grid is structurally bounded — it must broadcast")
  }

  test("q166: hard-negative top-k is bounded before the exchange") {
    val p = plan("q166_hard_negatives")
    assert(p.contains("partial_graft_topk"),
      "candidates must reduce to k per map task before shuffling")
  }

  test("q167: Hilbert index is row-local; bucketing joins only the CDF frames") {
    val p = plan("q167_hilbert_layout")
    // the unrolled curve itself is row-local arithmetic; the CDF-device
    // bucketing (round 11, de-weaking the global ntile sort) adds
    // exactly two bounded joins — the below-count equi join on the
    // ≤65536-key frequency frame and the broadcast cross of the 1-row
    // total — and nothing else
    assert(!p.contains("CartesianProduct"))
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      "only the 1-row total frame may ride a nested-loop cross")
  }

  test("q171: PMI pair generation is an equi join on doc_id, not doc×doc") {
    val p = plan("q171_cooccurrence_pmi")
    assert(!p.contains("CartesianProduct"))
    // the only nested-loop is the 1-row n_docs stats frame; the pair
    // self-join itself must be an equi join keyed on doc_id
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      "hot-vocab pairs must come from the doc_id equi join")
  }

  test("q168: zone-map summary is aggregation-only — no join, two scans") {
    val p = plan("q168_zone_map_prune")
    assert(!p.contains("Join"))
  }

  test("q175: salted aggregation shuffles twice — (key,salt) then key") {
    val p = plan("q175_salted_agg")
    assert("Exchange hashpartitioning".r.findAllIn(p).size === 2,
      "two-phase form: one exchange per aggregation level")
    assert(!p.contains("Join"))
  }

  test("q182: island windows partition on user_id — no global sort") {
    val p = plan("q182_interval_coverage")
    assert(!p.contains("Exchange SinglePartition"),
      "gaps-and-islands must never move all intervals to one partition")
    assert(!p.contains("Join"))
  }

  test("q183: pair generation is basket-local; dims and supports broadcast") {
    val p = plan("q183_assoc_rules")
    assert(!p.contains("CartesianProduct"),
      "pairs must come from the order-key equi self-join")
    // the only nested-loop is the single-row basket-count frame
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1)
    assert(p.contains("BroadcastHashJoin"),
      "the part dimension and the |brands|-row supports must broadcast")
  }

  test("q184: bucket assignment is a broadcast of one boundary row") {
    val p = plan("q184_equidepth_histogram")
    // the 1-row boundary frame rides a broadcast nested-loop cross join
    // (plus the two bounded-frame broadcasts of the r17 rank-containment
    // boundary pass); the fact table itself must never shuffle before
    // its bucket aggregate
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size === 3)
    // r17: the exact octiles replay on (v, c) ranks — the boxed
    // Percentile object buffer must never come back
    assert(!p.contains("percentile("),
      "boundary pass must ride the value-count frame, not the object buffer")
    // the only single-partition operators (the running-rank window and
    // the total) sit over the |distinct v|-bounded aggregate, never raw
    // fact rows
    val lines = p.linesIterator.toVector
    val sp = lines.zipWithIndex.filter(_._1.contains("Exchange SinglePartition"))
    assert(sp.nonEmpty, "running ranks need the bounded-frame exchange")
    sp.foreach { case (_, i) =>
      assert(lines.slice(i + 1, i + 3).exists(_.contains("HashAggregate")),
        "single-partition exchanges must sit over the value-count frame")
    }
  }

  test("q185: survivorship windows partition on the blocking key") {
    val p = plan("q185_survivorship")
    assert(!p.contains("Exchange SinglePartition"),
      "block-key windows must never collapse to one partition")
    assert(!p.contains("CartesianProduct"))
  }

  test("q186: rendezvous routing has no join — row-local argmax only") {
    val p = plan("q186_rendezvous_shard")
    assert(!p.contains("Join"), "HRW hashing is coordination-free")
    // same shape pin as q158: the partial aggregate must sit BELOW the
    // lowest exchange (the scan-side branch), proving shard stats
    // combine map-side before any shuffle — "contains partial_"
    // anywhere is vacuously true of every hash-agg plan.
    val belowLowestExchange = p.substring(p.lastIndexOf("Exchange"))
    assert(belowLowestExchange.contains("partial_count"),
      "shard stats must partial-aggregate below the lowest exchange")
  }

  test("q188: drift profile is one pass — the epoch split is a grouping key") {
    val p = plan("q188_snapshot_drift")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"))
    val scans = p.linesIterator.count(_.contains("FileScan parquet"))
    assert(scans <= 2,
      s"A and B profiles must come from one scanned profile frame, got $scans scans")
  }

  test("q189: Gini rank window partitions on event_type") {
    val p = plan("q189_gini_concentration")
    assert(!p.contains("Exchange SinglePartition"),
      "the rank runs on the per-type user frame, never one partition")
    assert(!p.contains("Join"))
  }

  test("q191: attribution candidates come from the binned equi join") {
    val p = plan("q191_linear_attribution")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the 24h bound must ride the (user, day) equi join as a residual")
  }

  test("q192: confusion totals broadcast — no sort-merge join") {
    val p = plan("q192_langid_confusion")
    assert(!p.contains("SortMergeJoin"),
      "the ≤|langs|² cell frame joins its totals by broadcast")
  }

  test("q193: degree histogram is aggregation-only — no join") {
    val p = plan("q193_degree_histogram")
    assert(!p.contains("Join"))
  }

  test("q194: feature hashing needs no dimension table — zero joins") {
    val p = plan("q194_feature_hashing")
    assert(!p.contains("Join"),
      "the hashing trick's point is vocabulary-free featurization")
  }

  test("q199: boundary clipping is join-free — segments explode locally") {
    val p = plan("q199_twap")
    assert(!p.contains("Join"),
      "the 1h cap bounds segments to ≤2 hours; no hour-spine join")
    assert(!p.contains("Exchange SinglePartition"),
      "the lead window partitions on event_type")
  }

  test("q196: both candidate and truth sides are equi joins — no all-pairs") {
    val p = plan("q196_minhash_eval")
    assert(!p.contains("CartesianProduct"),
      "bands and gram keys carry the pairing; doc×doc never appears")
  }

  test("q195: as-of pairing rides the (user, day) equi join") {
    val p = plan("q195_conversion_latency")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the 24h bound must stay a residual on the binned equi join")
  }

  test("column pruning: q03 scans only the needed lineitem columns") {
    val p = plan("q03_top_revenue_orders")
    val scan = p.linesIterator
      .find(l => l.contains("FileScan parquet") && l.contains("l_orderkey"))
      .getOrElse(fail("no lineitem scan found"))
    assert(!scan.contains("l_comment") && !scan.contains("l_shipdate"),
      s"unneeded columns read: $scan")
  }

  /** A WindowExec with an empty partitionSpec moves EVERY input row to
    * one partition — fatal if the input is fact-sized, fine if the
    * frame was already bounded by an aggregation or a limit below it.
    * `true` = every leafward path from `n` hits an aggregate/limit
    * before reaching a file scan. */
  private def boundedBelow(n: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    val cls = n.getClass.getSimpleName
    if (cls.contains("Aggregate") || cls.contains("Limit") ||
        cls.contains("TakeOrdered") || cls.contains("LocalTableScan")) true
    else if (cls.contains("FileSourceScan") || cls.contains("BatchScan") ||
             cls.contains("RowDataSourceScan")) false
    else if (n.children.isEmpty) true
    else n.children.forall(boundedBelow)
  }

  test("suite-wide: no single-partition WindowExec over a fact-sized frame") {
    // the round-10 q107/q167 lesson as a standing guard: a global-order
    // window is only admissible above a frame some aggregation or limit
    // has already bounded (the CDF device's frequency frame, a top-k's
    // limited frame) — NEVER directly over a scanned fact table.
    // Streaming queries are excluded (their run() executes streams and
    // their result frame is a sink read-back, not the streaming plan).
    import org.apache.spark.sql.execution.window.WindowExec
    val streaming = QueryRun.streamingNames
    val offenders = Catalog.all
      .filterNot(q => streaming(q.name))
      .flatMap { q =>
        val sp = q.run(spark, d).queryExecution.sparkPlan
        val bad = sp.collect {
          case w: WindowExec if w.partitionSpec.isEmpty && !boundedBelow(w.child) => w
        }
        if (bad.nonEmpty) Some(q.name) else None
      }
    assert(offenders.isEmpty,
      s"single-partition WindowExec over an unbounded frame in: $offenders")
  }

  test("q210: nearest as-of is window-based — no join, one user partitioning") {
    val p = plan("q210_asof_nearest")
    assert(!p.contains("Join"),
      "both as-of directions ride the union+window merge, never a theta join")
    assert(!p.contains("Exchange SinglePartition"),
      "windows partition on user_id")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(ex <= 1, s"backward+forward frames must share ONE shuffle, got $ex")
  }

  test("q211: per-dim quantization stats broadcast back — no shuffle join") {
    val p = plan("q211_int8_quantize")
    assert(p.contains("BroadcastHashJoin"),
      "the 64-row min/max frame must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("q213: prefix-filtered join stays equi-shaped — no all-pairs fallback") {
    val p = plan("q213_ppjoin")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"),
      "candidate generation and verify must both be shingle equi joins")
    // both windows (doc size, rarity rank) partition on doc_id
    assert(!p.contains("Exchange SinglePartition"),
      "no stage may collapse the shingle frame to one partition")
  }

  test("q214: skyline dictionary joins AQE-broadcast at runtime, " +
      "never hint-forced") {
    // r12: the distinct-minCol dictionary joins carry NO broadcast hint
    // (a continuous minCol makes the dictionary fact-sized — a forced
    // broadcast would OOM the driver at real scale). The contract is
    // that AQE picks broadcast AT RUNTIME when the dictionary is
    // actually small — so assert on the FINAL adaptive plan, post-run.
    val df = Catalog.byName("q214_skyline").run(spark, d)
    df.collect()
    val whole = df.queryExecution.executedPlan.toString
    assert(whole.contains("isFinalPlan=true"))
    // toString shows BOTH the final and the initial plan — assert on the
    // final section only (the initial plan legitimately shows the SMJ
    // that AQE then converts)
    val p = whole.split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"),
      "AQE must convert the small dictionary joins to broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "no residual shuffle or all-pairs join in the executed frontier plan")
    // the remaining forced hints are the two BOUNDED frames only
    // (ntileByCdf's 1-row total; the ≤buckets-row prefix-max frame) —
    // counting them in the logical plan is unreliable (shared subtrees
    // duplicate hint nodes), so the contract is held by the source
    // (Relational.paretoFrontier2d carries no dictionary hints) and the
    // final-plan assertions above
  }

  test("q215: OHLC bars are ONE map-side-combined aggregate") {
    val p = plan("q215_ohlc_bars")
    assert(!p.contains("Join"), "no join: min_by/max_by carry open/close")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      "no window: first/last tick ride the aggregate's arg-struct")
    val hashEx = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(hashEx == 1, s"one shuffle to the (type, hour) groups, got $hashEx")
    assert(p.contains("partial_min_by") || p.contains("partial_"),
      "open/close partials must combine map-side")
  }

  test("q216: AUC rank-sum touches the fact table once, windows partitioned") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = Catalog.byName("q216_auc").run(spark, d)
      .queryExecution.sparkPlan
    val scans = sp.collect {
      case s if s.getClass.getSimpleName.contains("FileSourceScan") => s }
    assert(scans.size == 1, s"one documents scan, got ${scans.size}")
    val globals = sp.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globals.isEmpty, "the below-count window partitions on source")
  }

  test("q217/q218: audit rollups are pure aggregates — no window, no join beyond the 1-row total") {
    val p17 = plan("q217_calibration")
    assert(!p17.contains("WindowExec"), "bins come from ONE aggregate")
    val p18 = plan("q218_k_anonymity")
    assert(!p18.contains("Join") && !p18.contains("WindowExec"),
      "cell sizes then k-bands: two stacked aggregates, nothing else")
  }

  test("q219: CUSUM windows all partition on event_type over the hourly frame") {
    import org.apache.spark.sql.execution.window.WindowExec
    val sp = Catalog.byName("q219_cusum").run(spark, d).queryExecution.sparkPlan
    val globals = sp.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globals.isEmpty, "no global window anywhere in the detector")
    val scans = sp.collect {
      case s if s.getClass.getSimpleName.contains("FileSourceScan") => s }
    assert(scans.size == 1, s"one events scan (the resample), got ${scans.size}")
  }

  test("q107/q167: the only global window runs over the CDF frequency frame") {
    import org.apache.spark.sql.execution.window.WindowExec
    for (q <- Seq("q107_zorder_layout", "q167_hilbert_layout")) {
      val sp = Catalog.byName(q).run(spark, d).queryExecution.sparkPlan
      val globals = sp.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      assert(globals.size === 1, s"$q: expected exactly the CDF running sum")
      assert(boundedBelow(globals.head.child),
        s"$q: the global window must sit above the |distinct key| aggregate")
    }
  }

  test("q224: perceptual-hash candidates come from an equi band join, never all-pairs") {
    val p = plan("q224_phash_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "band pigeonhole must plan as an equi join — an all-pairs fallback " +
        "destroys the whole point of banding")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "expected a hash/merge equi join")
  }

  test("q234: video decode is a pure per-partition pipeline — no join, " +
      "no shuffle of frame bytes") {
    val p = plan("q234_video_keyframes")
    assert(!p.contains("Join"), "keyframe stats are row-local per video")
    // the only exchange is the final presentation sort; frame payloads
    // never shuffle (encode→decode happen inside one mapPartitions
    // chain, so the rangepartitioning exchange moves ONLY the 7-column
    // stat rows)
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"frame bytes must not shuffle, got $exchanges")
  }

  test("q235: SymSpell candidates come from the variant equi join, " +
      "never all-pairs; verify is codegen'd levenshtein") {
    val p = plan("q235_typo_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "deletion-neighborhood join must be an equi join on variants")
    assert(p.contains("levenshtein"),
      "exact edit-distance verification must survive in the plan")
    assert(p.contains("InMemoryTableScan"),
      "the distinct-vocabulary frame feeds variants AND verify; cache " +
        "is the contract (recomputing the dictionary doubles the scan)")
  }

  test("q236: video scene-dedup candidates come from the keyframe band " +
      "equi join, never all-pairs; keyframe frame is cached") {
    val p = plan("q236_video_scene_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "keyframe pigeonhole must plan as an equi join")
    assert(p.contains("InMemoryTableScan"),
      "the decoded keyframe frame feeds both join sides; one decode pass " +
        "is the contract")
  }

  test("q221/q226: the media/regex scans stay single-pass with aggregate rollups") {
    // q221: one documents scan (regex work is row-local), no join at all
    val p221 = Catalog.byName("q221_pii_redact").run(spark, d)
      .queryExecution.sparkPlan
    assert(p221.collect {
      case s if s.getClass.getSimpleName.contains("FileSourceScan") => s
    }.size === 1, "PII redaction must read the corpus exactly once")
    assert(!p221.toString.contains("Join"), "no join anywhere in q221")
    // q226: the decode emits per-window rows; segmentation windows are
    // per-doc partitioned (gaps-and-islands), never global
    import org.apache.spark.sql.execution.window.WindowExec
    val p226 = Catalog.byName("q226_audio_activity").run(spark, d)
      .queryExecution.sparkPlan
    val globals = p226.collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w }
    assert(globals.isEmpty, "q226 windows must all partition by doc_id")
  }

  test("q260/q261: LM dictionaries join by hash equi join; only the " +
      "structurally bounded frames are force-broadcast") {
    // q260's trigram/bigram dictionaries are corpus-sized — they must
    // NOT carry a broadcast hint (at 100 TB they outgrow any executor);
    // the one allowed hint is the 1-row vocabulary scalar
    val l260 = logical("q260_lm_perplexity_filter")
    assert("strategy=broadcast".r.findAllIn(l260).size <= 1,
      "only the 1-row vocab scalar may be force-broadcast in q260")
    val p260 = plan("q260_lm_perplexity_filter")
    assert(!p260.contains("BroadcastNestedLoopJoin") ||
      "BroadcastNestedLoopJoin".r.findAllIn(p260).size <= 1,
      "q260: at most the scalar cross join may be a broadcast nest")
    assert(p260.contains("InMemoryTableScan"),
      "q260: the per-doc trigram frame feeds dicts AND scoring from one " +
        "cached pass over raw text")
    // q261's model is ≤1024 rows by construction (hashed buckets) — the
    // broadcast hint is the POINT; the scoring join must be hash equi
    val p261 = plan("q261_dsir_importance_sampling")
    assert(p261.contains("BroadcastHashJoin"),
      "q261: bucket-model scoring join should be a broadcast hash join")
    assert(!p261.contains("CartesianProduct"),
      "q261: no unbounded cross joins")
  }

  test("q267: the fact scan is dynamically pruned by the dim's months") {
    val p = plan("q267_dynamic_partition_pruning")
    assert(p.contains("dynamicpruning"),
      "PartitionFilters must carry the runtime dim-value filter — " +
        "without it the layout reads all ~83 month partitions")
    assert(p.contains("BroadcastHashJoin"),
      "the month dim must broadcast (it feeds the pruning subquery)")
  }

  test("q297: runtime dim keys prune the V2 scan to matching id runs") {
    val df = Catalog.byName("q297_dsv2_runtime_filter").run(spark, d)
    df.collect() // execute: runtime filters only materialize at run time
    val adaptive = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("dynamicpruning"),
      "the join key must host a DynamicPruningExpression on the V2 scan")
    assert(s.contains("BroadcastHashJoin"),
      "the 5-nation dim must broadcast (it feeds the pruning subquery)")
    // and the pruning must have ACTUALLY reached the connector: the
    // scan's output is the 5 dim-matched ticks, not the 200k feed.
    // (QueryStageExec nodes are AQE LEAVES — their materialized plan
    // hangs off `plan`, not `children` — so flatten through them.)
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case n => n }.flatMap {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: nodes(q.plan)
        case n => Seq(n)
      }
    val scan = nodes(adaptive).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.toString.contains("graft_ticks") => b
    }
    assert(scan.nonEmpty, "BatchScanExec for graft_ticks not found")
    // 5 dim-matched ticks, counted twice: the global sort's range
    // partitioner SAMPLES the scan output to pick bounds, then the
    // shuffle reads it again — both passes hit the pruned scan. What
    // matters is the ceiling: an unpruned scan would show ~200k/400k.
    val out = scan.head.metrics("numOutputRows").value
    assert(out > 0L && out <= 10L,
      s"SupportsRuntimeFiltering must re-plan partitions to the dim's " +
        s"tick ids — got $out output rows (unpruned would be ~200k)")
  }

  test("q299/q300: aggregate and top-N collapse into the V2 scan") {
    val p299 = plan("q299_dsv2_agg_pushdown")
    assert(p299.contains("AGGPUSHED"),
      "COUNT/MIN/MAX must answer from the connector's closed forms")
    assert(!p299.contains("HashAggregate") && !p299.contains("SortAggregate"),
      "complete pushdown leaves NO aggregate operator in the plan")
    val p300 = plan("q300_dsv2_topn_pushdown")
    assert(p300.contains("range=[2000000,2000050)") &&
      p300.contains("limit=50"),
      s"ORDER BY tick_id LIMIT 50 must truncate the generated range:\n$p300")
  }

  test("q303: LIMIT 50 OFFSET 100 collapses into the V2 scan as " +
      "front + tail range truncation") {
    val p = plan("q303_dsv2_offset_pushdown")
    // Spark's composition order: TopN(limit + offset) first, then
    // OFFSET m — so the scan records limit=150 offset=100 and its final
    // range is the 50-row page window
    assert(p.contains("range=[2000100,2000150)"),
      s"the scan range must be the page window, not the filtered feed:\n$p")
    assert(p.contains("limit=150") && p.contains("offset=100"),
      s"both truncations must reach the connector:\n$p")
    // fully pushed ⇒ Spark keeps no sort machinery; the page is never
    // materialized-then-skipped
    assert(!p.contains("TakeOrderedAndProject"),
      s"a fully pushed top-N + offset must drop TakeOrdered:\n$p")
  }

  test("q301: grouped aggregate pushes PARTIALLY — the scan returns " +
      "per-partition group partials, a FINAL aggregate survives") {
    val df = Catalog.byName("q301_dsv2_grouped_agg_pushdown").run(spark, d)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("AGGPUSHED GROUPED(symbol) PARTIAL"),
      "the grouped aggregate must reach the connector as a partial push")
    // the OTHER half of the contract vs q299: Spark must KEEP a final
    // aggregate over the pushed partials, and the pushed COUNT column
    // must be combined by SUM (count-of-counts is wrong; sum-of-counts
    // is the decomposition)
    assert(s.contains("HashAggregate"),
      "partial pushdown must leave Spark's final aggregate in the plan")
    assert(s.contains("sum(agg_func_0"),
      s"the final aggregate must SUM the pushed count partials:\n$s")
    // and the scan must have emitted metadata-scale partials, not ticks
    val adaptive = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    def nodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.collect { case n => n }.flatMap {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: nodes(q.plan)
        case n => Seq(n)
      }
    val scan = nodes(adaptive).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec
        if b.toString.contains("graft_ticks") => b
    }
    assert(scan.nonEmpty, "BatchScanExec for graft_ticks not found")
    val out = scan.head.metrics("numOutputRows").value
    assert(out > 0L && out <= 64L, // ≤ 8 groups × 8 partitions
      s"grouped pushdown must emit per-partition partials, got $out " +
        "rows (an unpushed scan would generate 3.5M ticks)")
  }

  test("q263: the optimizer rewrites the declarative overlap join — " +
      "bin Generates appear, the nested loop is gone") {
    val p = plan("q263_auto_range_join")
    assert(!p.contains("NestedLoopJoin") && !p.contains("Cartesian"),
      "RangeJoinRule must remove the nested loop")
    assert("Generate ".r.findAllIn(p).size >= 2,
      "both sides must explode to bin copies")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"),
      "the rewritten join must be an equi join on the bin key")
  }

  test("q169: HLL sketches aggregate globally, never inside the " +
      "multi-distinct Expand") {
    // Mixed in one .agg, Catalyst's distinct rewrite attaches the four
    // HLL buffers (208 longs each) to the Expand's gid-0 branch whose
    // partial aggregate keys on the full 4-column tuple — one buffered
    // group per input row. Split, the sketch partial must have EMPTY
    // grouping keys (constant state, map-side combine).
    val p = plan("q169_profile_sketch")
    assert(
      "HashAggregate\\(keys=\\[\\], functions=\\[partial_approx_count_distinct"
        .r.findFirstIn(p).isDefined,
      "HLL partials must aggregate with empty grouping keys")
    assert(
      "HashAggregate\\(keys=\\[[^\\]]+\\], functions=\\[[^\\]]*approx_count_distinct"
        .r.findFirstIn(p).isEmpty,
      "no HLL aggregate may run keyed on the Expand's gid tuple")
  }

  test("q146: the profile's Expand pipeline hash-aggregates — string " +
      "extrema must not demote it to a keyed SortAggregate") {
    // min/max on a string column has an immutable UTF8String buffer;
    // mixed into the multi-distinct aggregate it forces SortAggregate
    // over the 4×-expanded scan, i.e. a full sort on the
    // (custkey, totalprice, priority, gid) tuple. The string extrema
    // live in their own KEYLESS aggregate (sort-free by construction).
    val p = plan("q146_column_profile")
    assert("SortAggregate\\(key=\\[[^\\]]".r.findFirstIn(p).isEmpty,
      "no SortAggregate with non-empty grouping keys in the profile plan")
    assert(p.contains("Expand") && p.contains("HashAggregate"),
      "the distinct counts still run through a hash-aggregated Expand")
  }
}
