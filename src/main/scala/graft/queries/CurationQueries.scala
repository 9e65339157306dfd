package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.types._
import QH._

/** Round-9 corpus-curation operator families: retrieval-index builds,
  * sparse similarity joins, tokenizer-training statistics, sketch set
  * algebra, and budgeted selection. Each is a shape a 100 TB
  * training-data pipeline runs daily, expressed so the heavy frames stay
  * equi-join / single-aggregation shaped and nothing data-sized reaches
  * the driver.
  */
object CurationQueries {

  /** (doc_id, gram) term frequencies over word 3-gram shingles — the
    * sparse feature space the index/similarity ops below share. Word
    * n-grams (not unigrams) keep the posting lists short: the corpus
    * vocabulary is tiny, so every unigram posting would be corpus-sized,
    * while 3-gram document frequency stays ~poisson-small — the same
    * reason shingle features are standard for near-dup candidate
    * generation at scale.
    */
  private def gramTf(docs: DataFrame): DataFrame =
    docs
      // the shingle guard (same convention as DedupQueries.shingles):
      // a 1–2 word doc makes sequence(1, size-2) DESCENDING —
      // sequence(1,0)=[1,0] — and slice(words, 0, 3) throws, where the
      // oracle's RANGE(1, LEN-1) is just empty. Shorter docs have no
      // 3-grams, so filtering them is semantics-preserving.
      // words is hoisted to its own projection: referenced inside the
      // transform lambda as `split(text, ' ')` it would re-tokenize the
      // document PER GRAM ELEMENT (HOFs don't codegen or hoist common
      // subexpressions — the q105 graft_minhash_row lesson), turning
      // gram extraction O(len²) per doc
      .withColumn("ws", split(col("text"), " "))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"),
        explode(expr(
          "transform(sequence(1, size(ws) - 2), i -> concat_ws(' ', slice(ws, i, 3)))"))
          .as("gram"))
      // shuffle ONCE, by gram: hashpartitioning(gram) satisfies the
      // (doc_id, gram) tf aggregation (a subset of the grouping key
      // co-locates every group) AND the df window/self-join that
      // follow, so the old ENSURE_REQUIREMENTS exchange on
      // (doc_id, gram) plus a second on (gram) collapse to this one.
      // Losing the map-side partial combine costs ~nothing: tf per
      // (doc_id, gram) is intrinsically ~1 (a doc rarely repeats a
      // 3-gram), and the hot-gram skew exposure is unchanged — the df
      // window stage was already partitioned by gram.
      .repartition(col("gram"))
      .groupBy("doc_id", "gram")
      .agg(count(lit(1)).as("tf"))

  val qs: Seq[Q] = Seq(
    // INVERTED INDEX build: token -> (document frequency, bounded posting
    // list). The posting head is the 16 SMALLEST doc_ids, built with the
    // bounded aggregate [[graft.expressions.BoundedTopK]] (graft_topk on
    // ord = -doc_id): an unbounded collect_list is the classic scale
    // failure — one hot token materializes its full corpus-sized posting
    // row on a single executor BEFORE any slice can truncate it. The
    // bounded aggregate holds ≤ 16 pairs per map task and combines
    // map-side, so the shuffle carries O(partitions × 16) rows per token
    // (PlanSpec pins partial_graft_topk before the exchange). df is
    // computed over the FULL pair set, so the cap is display truncation,
    // not a statistics change. The head is serialized comma-joined (the
    // q47 convention): the driver's comparator can't sort array cells,
    // and the string form stays injective for integer ids.
    Q("q127_inverted_index",
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            explode(split(col("text"), " ")).as("token"))
          .distinct()
          .groupBy("token")
          .agg(
            count(lit(1)).as("doc_freq"),
            // BoundedTopK keeps the k LARGEST ords in (ord desc, id asc)
            // order, so ord = -doc_id yields the 16 smallest ids already
            // ascending — no re-sort needed
            expr("graft_topk(cast(-doc_id as double), doc_id, 16)")
              .as("top"))
          .select(col("token"), col("doc_freq"),
            concat_ws(",", expr("transform(top, x -> cast(x.id as string))"))
              .as("postings_head"))
          .orderBy("token"),
      Some("""
        WITH pairs AS (
          SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS token
          FROM documents)
        SELECT token, COUNT(*) AS doc_freq,
          ARRAY_TO_STRING((LIST(doc_id ORDER BY doc_id))[1:16], ',')
            AS postings_head
        FROM pairs GROUP BY token ORDER BY token""")),

    // SPARSE COSINE similarity join over 3-gram term-count vectors: the
    // inverted-index route to all-pairs document similarity. Candidates
    // come from an equi join on the gram key (only docs SHARING a gram
    // meet), dot products are exact integer sums, and the norms join is
    // a second equi join — no doc x doc cartesian anywhere. Grams with
    // document frequency > 1000 are dropped from the vectors (idf-zero
    // weighting): a stopword-gram's posting list is corpus-sized, its
    // candidate contribution quadratic, its cosine contribution ~none —
    // the standard df-cap that keeps the join linear in corpus size.
    // All arithmetic on exact integers; sqrt/division are single
    // correctly-rounded IEEE ops, so the cosine hash-matches DuckDB.
    Q("q128_sparse_cosine",
      (s, d) => {
        val tf = gramTf(t(s, d, "documents"))
        // cached because it feeds THREE consumers (norms + both join
        // sides): without the cache the split/explode/groupBy/window
        // pipeline recomputes per consumer — exchange reuse covers the
        // self-join today but only as an optimizer courtesy; the cache
        // makes single-computation a contract (same reason
        // DedupQueries.jaccardPairs caches its shingle frame).
        // PlanSpec pins the InMemoryTableScan reuse.
        val capped = tf
          .withColumn("df", count(lit(1)).over(
            org.apache.spark.sql.expressions.Window.partitionBy("gram")))
          .filter(col("df") <= 1000)
          .drop("df")
          .cache()
        val norms = capped.groupBy("doc_id")
          .agg(sum(col("tf") * col("tf")).as("sq"))
        val dots = capped.as("a")
          .join(capped.as("b"),
            col("a.gram") === col("b.gram") &&
              col("a.doc_id") < col("b.doc_id"))
          .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
        dots
          .join(norms.withColumnRenamed("doc_id", "doc_a")
            .withColumnRenamed("sq", "sq_a"), "doc_a")
          .join(norms.withColumnRenamed("doc_id", "doc_b")
            .withColumnRenamed("sq", "sq_b"), "doc_b")
          .withColumn("cosine",
            col("dot").cast("double") / (sqrt(col("sq_a")) * sqrt(col("sq_b"))))
          .filter(col("cosine") >= 0.5)
          .select(col("doc_a"), col("doc_b"), col("dot").cast("long").as("dot"),
            round(col("cosine"), 6).as("cosine"))
          .orderBy("doc_a", "doc_b")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS ws FROM documents),
        grams AS (
          SELECT doc_id, UNNEST(LIST_TRANSFORM(RANGE(1, LEN(ws) - 1),
            i -> ws[CAST(i AS INT)] || ' ' || ws[CAST(i AS INT) + 1]
              || ' ' || ws[CAST(i AS INT) + 2])) AS gram
          FROM toks),
        tf AS (
          SELECT doc_id, gram, COUNT(*) AS tf FROM grams GROUP BY 1, 2),
        capped AS (
          SELECT * FROM (
            SELECT doc_id, gram, tf,
              COUNT(*) OVER (PARTITION BY gram) AS df FROM tf)
          WHERE df <= 1000),
        nrm AS (
          SELECT doc_id, SUM(tf * tf) AS sq FROM capped GROUP BY 1),
        dots AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            SUM(a.tf * b.tf) AS dot
          FROM capped a JOIN capped b
            ON a.gram = b.gram AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT doc_a, doc_b, CAST(dot AS BIGINT) AS dot,
          ROUND(CAST(dot AS DOUBLE) / (SQRT(na.sq) * SQRT(nb.sq)), 6) AS cosine
        FROM dots
        JOIN nrm na ON na.doc_id = doc_a
        JOIN nrm nb ON nb.doc_id = doc_b
        WHERE CAST(dot AS DOUBLE) / (SQRT(na.sq) * SQRT(nb.sq)) >= 0.5
        ORDER BY doc_a, doc_b""")),

    // BPE-style pair statistics — the inner loop of tokenizer training.
    // The scale trick: aggregate the corpus to its WORD DICTIONARY first
    // (one shuffle over corpus tokens -> vocabulary-sized frame), then
    // explode character pairs of the dictionary weighted by word count.
    // Pair extraction runs over |vocab| rows, not |corpus| tokens — at
    // 100 TB the dictionary is millions of rows where the corpus is
    // trillions of tokens, so the per-iteration cost collapses. Global
    // top-50 lowers to TakeOrderedAndProject (no full sort).
    Q("q129_bpe_pairs",
      (s, d) =>
        t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) >= 2)
          .groupBy("word")
          .agg(count(lit(1)).as("wc"))
          .select(
            explode(expr(
              "transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))"))
              .as("pair"),
            col("wc"))
          .groupBy("pair")
          .agg(sum(col("wc")).cast("long").as("cnt"))
          .orderBy(desc("cnt"), asc("pair"))
          .limit(50),
      Some("""
        WITH w AS (
          SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents),
        wc AS (
          SELECT word, COUNT(*) AS wc FROM w
          WHERE LENGTH(word) >= 2 GROUP BY word),
        p AS (
          SELECT UNNEST(LIST_TRANSFORM(RANGE(1, LENGTH(word)),
            i -> SUBSTR(word, CAST(i AS INT), 2))) AS pair, wc
          FROM wc)
        SELECT pair, CAST(SUM(wc) AS BIGINT) AS cnt
        FROM p GROUP BY pair ORDER BY cnt DESC, pair LIMIT 50""")),

    // SKETCH SET ALGEBRA: audience-overlap estimation via HLL
    // inclusion-exclusion. Exact per-pair intersection needs the
    // distinct (user, type) pair frame joined to itself — fine here,
    // quadratic-in-users at 100 TB. The sketch path touches events ONCE
    // (one HLL per type), then does ALL pairwise set algebra on the
    // |types|^2 sketch frame — the mergeable-state shape that makes
    // overlap matrices tractable. Both paths run; the oracle recomputes
    // the exact one and the estimate must land inside the gate bound
    // (the q99/q101 device: DataSketches HLL build is item-idempotent
    // and union is register-max, so the booleans are deterministic on
    // fixed data under any partitioning or merge order).
    Q("q130_hll_set_algebra",
      (s, d) => {
        val du = t(s, d, "events")
          .select(col("event_type"), col("user_id")).distinct()
        val perType = t(s, d, "events")
          .groupBy("event_type")
          .agg(
            hll_sketch_agg(col("user_id")).as("sk"),
            countDistinct(col("user_id")).as("n_exact"))
        val inter = du.as("a")
          .join(du.as("b"),
            col("a.user_id") === col("b.user_id") &&
              col("a.event_type") < col("b.event_type"))
          .groupBy(col("a.event_type").as("type_a"),
            col("b.event_type").as("type_b"))
          .agg(count(lit(1)).as("n_inter_exact"))
        inter
          .join(perType.select(col("event_type").as("type_a"),
            col("sk").as("sk_a"), col("n_exact").as("n_a")), "type_a")
          .join(perType.select(col("event_type").as("type_b"),
            col("sk").as("sk_b"), col("n_exact").as("n_b")), "type_b")
          .withColumn("est_inter",
            hll_sketch_estimate(col("sk_a")) +
              hll_sketch_estimate(col("sk_b")) -
              hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))))
          .select(
            col("type_a"), col("type_b"),
            col("n_a"), col("n_b"), col("n_inter_exact"),
            (abs(col("est_inter") - col("n_inter_exact")) <=
              (col("n_a") + col("n_b") - col("n_inter_exact")) * lit(0.1)
                + lit(5.0)).as("inter_ok"))
          .orderBy("type_a", "type_b")
      },
      Some("""
        WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
        n AS (SELECT event_type, COUNT(*) AS n FROM du GROUP BY 1),
        i AS (
          SELECT a.event_type AS type_a, b.event_type AS type_b,
            COUNT(*) AS n_inter_exact
          FROM du a JOIN du b
            ON a.user_id = b.user_id AND a.event_type < b.event_type
          GROUP BY 1, 2)
        SELECT i.type_a, i.type_b, na.n AS n_a, nb.n AS n_b,
          i.n_inter_exact, TRUE AS inter_ok
        FROM i
        JOIN n na ON na.event_type = i.type_a
        JOIN n nb ON nb.event_type = i.type_b
        ORDER BY type_a, type_b""")),

    // BUCKETED (SMB) co-located join — the write-once-join-many layout
    // for repeated fact-fact joins: both sides bucketed AND sorted on
    // the join key into the same bucket count, so every later join reads
    // co-located buckets with ZERO shuffle exchange (BucketingSpec pins
    // the exchange-free plan shape; this query is the driver-gated proof
    // that the bucketed route returns byte-identical RESULTS to the
    // plain join the oracle runs). At 100 TB this converts the dominant
    // hourly cost — reshuffling the fact pair — into a one-time layout.
    Q("q131_bucketed_join",
      (s, d) => { Q131.layout(s, d); Q131.join(s) },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_items,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_qty,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_price
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // TOKEN-BUDGET curation: keep the highest-quality documents until a
    // fixed token budget is exhausted — the selection step after scoring
    // in every curated-pretraining recipe. A global running total is
    // inherently sequential, so the scale shape is a TWO-LEVEL PREFIX
    // SUM: (1) value-bucket the score (monotone bucketing, so bucket
    // order refines global order), (2) per-bucket token totals -> a
    // <=21-row frame whose running offsets are a bounded single-partition
    // window, (3) per-bucket cumulative sums (partitioned window, fully
    // parallel) + broadcast offsets = exact global cumulative sums with
    // no global sort and no single-partition pass over data rows.
    Q("q132_token_budget",
      (s, d) => {
        val budget = 15000L
        val scored = t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
          .select(
            col("doc_id"),
            size(col("words")).cast("long").as("tokens"),
            (size(array_distinct(col("words"))).cast("double")
              / size(col("words"))).as("score"))
          .withColumn("bucket", floor(col("score") * 20).cast("int"))
        val offsets = scored
          .groupBy("bucket").agg(sum(col("tokens")).as("btok"))
          .withColumn("offset",
            coalesce(
              sum(col("btok")).over(org.apache.spark.sql.expressions.Window
                .orderBy(desc("bucket"))
                .rowsBetween(Long.MinValue, -1)),
              lit(0L)))
          .select(col("bucket"), col("offset"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket")
          .orderBy(desc("score"), asc("doc_id"))
        scored
          .withColumn("cum_in_bucket", sum(col("tokens")).over(w))
          .join(broadcast(offsets), "bucket")
          .withColumn("cum_tokens", col("offset") + col("cum_in_bucket"))
          .filter(col("cum_tokens") - col("tokens") < budget)
          .select(col("doc_id"), col("tokens"), col("score"),
            col("cum_tokens"))
          .orderBy(desc("score"), asc("doc_id"))
      },
      Some("""
        WITH s AS (
          SELECT doc_id,
            CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS tokens,
            CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
              / LEN(STRING_SPLIT(text, ' ')) AS score
          FROM documents),
        c AS (
          SELECT doc_id, tokens, score,
            CAST(SUM(tokens) OVER (ORDER BY score DESC, doc_id
              ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
          FROM s)
        SELECT doc_id, tokens, score, cum_tokens
        FROM c WHERE cum_tokens - tokens < 15000
        ORDER BY score DESC, doc_id""")),

    // WINSORIZED robust scaling — outlier clipping before feature
    // normalization, the standard guard in front of model-based quality
    // scoring. The two-pass broadcast shape: pass 1 aggregates exact
    // per-group p01/p99 (a |groups|-row frame — bounded by the group
    // key's cardinality, never by corpus size), pass 2 broadcasts it
    // back and clips row-local. No window function ever touches the
    // fact rows, so the clip stage is a scan→project pipeline; the
    // exact interpolated percentile is the q99 device.
    Q("q133_winsorize",
      (s, d) => {
        val ev = t(s, d, "events")
        val stats = ev.groupBy("event_type")
          .agg(
            expr("percentile(value, 0.01D)").as("p01"),
            expr("percentile(value, 0.99D)").as("p99"))
        ev.join(broadcast(stats), "event_type")
          .select(
            col("event_id"), col("event_type"), col("value"),
            round(greatest(col("p01"), least(col("p99"), col("value"))), 6)
              .as("clipped"),
            (col("value") > col("p99")).as("was_high"),
            (col("value") < col("p01")).as("was_low"))
          .orderBy("event_id")
      },
      Some("""
        WITH stats AS (
          SELECT event_type,
            QUANTILE_CONT(value, 0.01) AS p01,
            QUANTILE_CONT(value, 0.99) AS p99
          FROM events GROUP BY event_type)
        SELECT event_id, e.event_type, value,
          ROUND(GREATEST(p01, LEAST(p99, value)), 6) AS clipped,
          value > p99 AS was_high,
          value < p01 AS was_low
        FROM events e JOIN stats USING (event_type)
        ORDER BY event_id""")),

    // RANDOM-PROJECTION dimensionality reduction (Achlioptas sparse
    // {+1,-1,0} projection): 64-dim embeddings -> 8-dim codes in ONE
    // scan->project pass — zero shuffles, zero UDFs, the projection
    // matrix is a deterministic closed-form function of (i, j) computed
    // inside codegen'd higher-order array functions (nothing to
    // broadcast or look up). Components are first snapped to 2^-20
    // dyadics (the q78 device, ops/Vectors.quantized): signed sums of
    // dyadic terms are EXACT in double — order-free, engine-free, no
    // decimal accumulator, no tolerance. This is the cheap pre-filter
    // in front of the exact ANN paths (q30/q73/q106): at 100 TB the
    // 8-dim codes are what gets indexed — 8x less shuffle bytes than
    // raw vectors.
    // The 8 components are emitted as SCALAR double columns p0..p7 (not
    // an array): the gate comparator hashes scalar cells, and the dyadic
    // arithmetic makes each component bit-identical across engines. An
    // empty embedding degrades to 0.0 exactly like the oracle's COALESCE
    // (the guard also dodges sequence(0,-1)'s descending-sequence edge).
    Q("q134_random_projection",
      (s, d) =>
        t(s, d, "embeddings")
          .select(
            Seq(col("vec_id"), col("label")) ++
              (0 to 7).map { j =>
                expr(s"""
                  if(size(embedding) <= 0, 0.0d,
                    aggregate(sequence(0, size(embedding) - 1), 0.0d,
                      (acc, i) -> acc +
                        round(cast(element_at(embedding, i + 1) as double)
                          * 1048576d) / 1048576d *
                        (case pmod(i * 31 + $j * 17, 3)
                           when 0 then 1.0d when 1 then -1.0d
                           else 0.0d end)))
                """).as(s"p$j")
              }: _*)
          .orderBy("vec_id"),
      Some {
        val comps = (0 to 7).map { j =>
          s"""COALESCE(LIST_SUM(LIST_TRANSFORM(RANGE(0, LEN(embedding)),
             |  i -> ROUND(CAST(embedding[CAST(i AS INT) + 1] AS DOUBLE)
             |      * 1048576) / 1048576 *
             |    (CASE (i * 31 + $j * 17) % 3
             |       WHEN 0 THEN CAST(1.0 AS DOUBLE)
             |       WHEN 1 THEN CAST(-1.0 AS DOUBLE)
             |       ELSE CAST(0.0 AS DOUBLE) END))), 0.0) AS p$j"""
            .stripMargin
        }.mkString(",\n")
        s"""
        SELECT vec_id, label,
        $comps
        FROM embeddings ORDER BY vec_id"""
      }),

    // PARETO FRONTIER (2-D skyline): the documents no other document
    // beats on BOTH axes (more tokens AND >= score) — multi-criteria
    // corpus selection without collapsing axes into one weight. The
    // naive global form is a single-partition running max over a
    // token-ordered window; the scale shape here is the q132 two-level
    // device applied to PREFIX-MAX: (1) value-bucket tokens (monotone),
    // (2) per-bucket max score -> a bucket-count-sized frame whose
    // strictly-higher-bucket prefix max is a bounded single-partition
    // window, (3) within-bucket strictly-greater-tokens running max as
    // a PARTITIONED range window + the broadcast bucket prefix. A doc
    // survives iff every doc with strictly more tokens scores below it.
    Q("q135_pareto_frontier",
      (s, d) => {
        val scored = t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
          .select(
            col("doc_id"),
            size(col("words")).cast("long").as("tokens"),
            (size(array_distinct(col("words"))).cast("double")
              / size(col("words"))).as("score"))
          .withColumn("bucket", floor(col("tokens") / 8).cast("int"))
        val hi = scored
          .groupBy("bucket").agg(max(col("score")).as("bmax"))
          .withColumn("hi_above",
            max(col("bmax")).over(org.apache.spark.sql.expressions.Window
              .orderBy(desc("bucket")).rowsBetween(Long.MinValue, -1)))
          .select(col("bucket"), col("hi_above"))
        val wIn = org.apache.spark.sql.expressions.Window
          .partitionBy("bucket").orderBy(desc("tokens"))
          .rangeBetween(Long.MinValue, -1)
        scored
          .withColumn("hi_in", max(col("score")).over(wIn))
          .join(broadcast(hi), "bucket")
          .withColumn("hi_all",
            greatest(coalesce(col("hi_in"), lit(-1.0)),
              coalesce(col("hi_above"), lit(-1.0))))
          .filter(col("hi_all") < col("score"))
          .select(col("doc_id"), col("tokens"), col("score"))
          .orderBy(desc("tokens"), asc("doc_id"))
      },
      Some("""
        WITH s AS (
          SELECT doc_id,
            CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS tokens,
            CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS DOUBLE)
              / LEN(STRING_SPLIT(text, ' ')) AS score
          FROM documents),
        m AS (
          SELECT doc_id, tokens, score,
            MAX(score) OVER (ORDER BY tokens
              RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS hi
          FROM s)
        SELECT doc_id, tokens, score FROM m
        WHERE hi IS NULL OR hi < score
        ORDER BY tokens DESC, doc_id""")),

    // PER-SOURCE QUOTA CAP — "domain capping": no single source may
    // contribute more than k documents, and WHICH k is a deterministic
    // uniform draw (the portable-md5 order of q100/q82, reproducible in
    // any engine and stable under corpus growth within a source only
    // appending docs with new ids). One partitioned window on the
    // source key — the partition carries one source's docs; the hot-
    // source ceiling is the point of the operator itself.
    Q("q136_quota_cap",
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("source")
          .orderBy(asc("h"), asc("doc_id"))
        t(s, d, "documents")
          .withColumn("h", md5(col("doc_id").cast("string")))
          .withColumn("pick_rank", row_number().over(w))
          .filter(col("pick_rank") <= 20)
          .select(col("source"), col("pick_rank").cast("long")
            .as("pick_rank"), col("doc_id"))
          .orderBy("source", "pick_rank")
      },
      Some("""
        SELECT source,
          CAST(ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
            AS pick_rank,
          doc_id
        FROM documents
        QUALIFY pick_rank <= 20
        ORDER BY source, pick_rank""")),

    // SURVIVORSHIP / GOLDEN RECORD — the resolution step AFTER dedup
    // detection (q26/q77 find the groups; something must then pick
    // the copy to keep and merge the rest): block documents on a
    // cheap deterministic key (md5 of the 50-char prefix — the MDM
    // "blocking key", same role as q28's bands), and within each
    // multi-member block elect the canonical record by quality
    // (longest text, doc_id tie-break) while merging member fields
    // (source spread, total bytes, earliest id). One window pass over
    // the blocked frame — partitioned by block key, so per-partition
    // work is bounded by block size, never corpus size — then a
    // block-keyed aggregation; the golden⋈merged join is |blocks|-
    // sized on both sides. No doc×doc comparison anywhere: the block
    // key carries all the grouping.
    Q("q185_survivorship",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val blocked = t(s, d, "documents")
          .withColumn("blk", md5(substring(col("text"), 1, 50)))
          .withColumn("rn", row_number().over(
            Window.partitionBy("blk")
              .orderBy(col("n_chars").desc, col("doc_id"))))
          .withColumn("n_members",
            count(lit(1)).over(Window.partitionBy("blk")))
          .filter(col("n_members") > 1)
        val golden = blocked.filter(col("rn") === 1)
          .select(col("blk"), col("doc_id").as("canonical_doc"),
            col("source").as("canonical_source"),
            col("n_chars").as("canonical_chars"), col("n_members"))
        val merged = blocked.groupBy("blk")
          .agg(countDistinct(col("source")).as("n_sources"),
            sum(col("n_chars")).cast("long").as("total_chars"),
            min(col("doc_id")).as("first_doc"))
        golden.join(merged, "blk")
          .select(col("blk"), col("n_members"), col("canonical_doc"),
            col("canonical_source"), col("canonical_chars"),
            col("n_sources"), col("total_chars"), col("first_doc"))
          .orderBy("blk")
      },
      Some("""
        WITH blocked AS (
          SELECT doc_id, source, n_chars,
            MD5(SUBSTRING(text, 1, 50)) AS blk,
            ROW_NUMBER() OVER (PARTITION BY MD5(SUBSTRING(text, 1, 50))
              ORDER BY n_chars DESC, doc_id) AS rn,
            COUNT(*) OVER (PARTITION BY MD5(SUBSTRING(text, 1, 50)))
              AS n_members
          FROM documents),
        multi AS (SELECT * FROM blocked WHERE n_members > 1),
        golden AS (
          SELECT blk, doc_id AS canonical_doc, source AS canonical_source,
            n_chars AS canonical_chars, n_members
          FROM multi WHERE rn = 1),
        merged AS (
          SELECT blk, COUNT(DISTINCT source) AS n_sources,
            CAST(SUM(n_chars) AS BIGINT) AS total_chars,
            MIN(doc_id) AS first_doc
          FROM multi GROUP BY blk)
        SELECT g.blk, g.n_members, g.canonical_doc, g.canonical_source,
          g.canonical_chars, m.n_sources, m.total_chars, m.first_doc
        FROM golden g JOIN merged m USING (blk) ORDER BY g.blk""")),

    // BPE MERGE APPLICATION — the other half of q129: that query
    // computes pair statistics; this one runs the tokenizer-training
    // INNER LOOP, two rounds of "pick the most frequent adjacent pair,
    // rewrite the whole corpus merging it". Each round is one pair
    // aggregation (dictionary-sized output, top-1 via a 1-row sorted
    // limit) broadcast back into a corpus-wide scan→regexp_replace
    // rewrite — the corpus is touched once per round, exactly the
    // production BPE shape where round count (vocab size) is the knob.
    // Cross-engine determinism: pair counts come from lead() over the
    // same tokenization; the rewrite is leftmost non-overlapping global
    // replace in BOTH regex engines (Java replaceAll ≡ RE2 'g'), the
    // space-padded pattern keeps matches token-aligned, and the picked
    // tokens are regex-safe by the explicit [a-z_]+ filter (part of the
    // operator's contract, mirrored in the oracle).
    Q("q202_bpe_merge_rounds",
      (s, d) => {
        // adjacent pairs are ROW-LOCAL (a doc's tokens live in its own
        // row), so the pair stream is a projection — the old
        // posexplode → lead() window paid an exchange + sort of the
        // whole token stream on (doc_id, i) per round for what
        // transform over the hoisted words array computes in place
        // (r17; the docSignatures device). Identical pair multiset:
        // lead over (doc_id, i) is exactly (w_i, w_{i+1}) within the
        // doc. The words array is its own projection (never re-split
        // inside the lambda — the q128 lesson); the size guard stands
        // in for lead's trailing NULL.
        def pairsOf(df: DataFrame, charset: String): DataFrame =
          df.select(split(trim(col("t")), " ").as("ws"))
            .filter(size(col("ws")) >= 2)
            .select(explode(expr(
              """transform(sequence(1, size(ws) - 1),
                 i -> struct(element_at(ws, i) as a,
                             element_at(ws, i + 1) as b))""")).as("p"))
            .filter(col("p.a").rlike(charset) && col("p.b").rlike(charset))
            .groupBy(concat(col("p.a"), lit(" "), col("p.b")).as("pat"),
              concat(col("p.a"), lit("_"), col("p.b")).as("rep"))
            .agg(count(lit(1)).as("cnt"))
            .orderBy(col("cnt").desc, col("pat")).limit(1)
        def applyMerge(df: DataFrame, p: DataFrame): DataFrame =
          df.crossJoin(broadcast(p))
            .select(col("doc_id"),
              regexp_replace(col("t"),
                concat(lit(" "), col("pat"), lit(" ")),
                concat(lit(" "), col("rep"), lit(" "))).as("t"))
        // token counts stay IN-PLAN (1-row aggregates cross-joined onto
        // the 1-row pair picks) — no driver-side scalar extraction
        def tokensOf(df: DataFrame): DataFrame =
          df.agg(sum(size(split(trim(col("t")), " "))).cast("long")
            .as("tokens_after"))
        val r0 = t(s, d, "documents")
          .select(col("doc_id"),
            concat(lit(" "), col("text"), lit(" ")).as("t"))
        val p1 = pairsOf(r0, "^[a-z]+$")
        // the round-1 rewrite feeds three consumers (round-2 pair
        // stats, the round-2 rewrite, its own token count) and is an
        // expensive derivation (corpus-wide regexp rewrite), so it is
        // cached per the q128 convention — this is what makes "one
        // corpus pass per round" a contract rather than a hope (the
        // uncached plan re-ran the rewrite per consumer)
        val r1 = applyMerge(r0, p1).cache()
        val p2 = pairsOf(r1, "^[a-z_]+$")
        val r2 = applyMerge(r1, p2)
        val row1 = p1.crossJoin(tokensOf(r1))
          .select(lit(1).as("round"), col("pat").as("merged"),
            col("cnt").as("pair_count"), col("tokens_after"))
        val row2 = p2.crossJoin(tokensOf(r2))
          .select(lit(2).as("round"), col("pat").as("merged"),
            col("cnt").as("pair_count"), col("tokens_after"))
        row1.union(row2).orderBy("round")
      },
      Some("""
        WITH r0 AS (SELECT doc_id, ' ' || text || ' ' AS t FROM documents),
        p1 AS (
          SELECT a || ' ' || b AS pat, a || '_' || b AS rep, COUNT(*) AS cnt
          FROM (
            SELECT doc_id, w AS a,
              LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) AS b
            FROM (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(t), ' ')) AS w,
                    UNNEST(RANGE(1, LEN(STRING_SPLIT(TRIM(t), ' ')) + 1)) AS i
                  FROM r0))
          WHERE b IS NOT NULL AND REGEXP_MATCHES(a, '^[a-z]+$')
            AND REGEXP_MATCHES(b, '^[a-z]+$')
          GROUP BY 1, 2 ORDER BY cnt DESC, pat LIMIT 1),
        r1 AS (
          SELECT doc_id,
            REGEXP_REPLACE(t, ' ' || pat || ' ', ' ' || rep || ' ', 'g') AS t
          FROM r0 CROSS JOIN p1),
        p2 AS (
          SELECT a || ' ' || b AS pat, a || '_' || b AS rep, COUNT(*) AS cnt
          FROM (
            SELECT doc_id, w AS a,
              LEAD(w) OVER (PARTITION BY doc_id ORDER BY i) AS b
            FROM (SELECT doc_id, UNNEST(STRING_SPLIT(TRIM(t), ' ')) AS w,
                    UNNEST(RANGE(1, LEN(STRING_SPLIT(TRIM(t), ' ')) + 1)) AS i
                  FROM r1))
          WHERE b IS NOT NULL AND REGEXP_MATCHES(a, '^[a-z_]+$')
            AND REGEXP_MATCHES(b, '^[a-z_]+$')
          GROUP BY 1, 2 ORDER BY cnt DESC, pat LIMIT 1),
        r2 AS (
          SELECT doc_id,
            REGEXP_REPLACE(t, ' ' || pat || ' ', ' ' || rep || ' ', 'g') AS t
          FROM r1 CROSS JOIN p2)
        SELECT 1 AS round, (SELECT pat FROM p1) AS merged,
          (SELECT cnt FROM p1) AS pair_count,
          (SELECT CAST(SUM(LEN(STRING_SPLIT(TRIM(t), ' '))) AS BIGINT)
           FROM r1) AS tokens_after
        UNION ALL
        SELECT 2, (SELECT pat FROM p2), (SELECT cnt FROM p2),
          (SELECT CAST(SUM(LEN(STRING_SPLIT(TRIM(t), ' '))) AS BIGINT)
           FROM r2)
        ORDER BY round""")),

    // CRAWL-FRONTIER URL DEDUP — the normalization every crawler runs
    // before "have we seen this URL?": the same page arrives as casing
    // variants, default-port forms, fragment-bearing links, dot-segment
    // relative paths, and permuted query strings. Canonicalization is
    // fully DECLARATIVE (parse_url + lower + dot-segment regex +
    // array_sort over query params — codegen'd string ops, no UDF, no
    // mapPartitions), so the frontier dedup is a scan→project→agg that
    // scales with the URL stream. Variants synthesize from residues
    // (pages shared across ~7 docs create genuine duplicates); the
    // oracle reasons in residue space, so the gate verifies the REAL
    // parser produced exactly the canonical classes the residues
    // predict — wrong dot-segment resolution or unsorted params split
    // or fuse classes and hash-fail.
    Q("q256_url_frontier_dedup",
      (s, d) => {
        val variant = col("doc_id") % 5
        val dom = concat(lit("site"), (col("doc_id") % 53).cast("string"),
          lit(".example"))
        val page = (col("doc_id") / lit(7)).cast("long")
        val raw = when(variant === 0,
            concat(lit("https://"), dom, lit("/a/p"), page))
          .when(variant === 1,
            concat(lit("https://"), upper(dom), lit("/a/./x/../p"), page))
          .when(variant === 2,
            concat(lit("https://"), dom, lit(":443/a/p"), page))
          .when(variant === 3,
            concat(lit("https://"), dom, lit("/a/p"), page, lit("#sec2")))
          .otherwise(
            concat(lit("https://"), dom, lit("/a/p"), page,
              lit("?b=2&a=1")))
        val urls = t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), raw.as("url"))
        val host = lower(parse_url(col("url"), lit("HOST")))
        // dot-segment resolution for the crawl grammar: "/./" collapses,
        // "/seg/../" unwinds one level (applied to a fixed point for
        // nested forms — two passes cover this corpus's single level)
        val path0 = parse_url(col("url"), lit("PATH"))
        val path = regexp_replace(regexp_replace(
          regexp_replace(path0, lit("/\\./"), lit("/")),
          lit("/[^/]+/\\.\\./"), lit("/")),
          lit("/[^/]+/\\.\\./"), lit("/"))
        val q0 = parse_url(col("url"), lit("QUERY"))
        val query = when(q0.isNull || q0 === "", lit(""))
          .otherwise(concat(lit("?"),
            array_join(array_sort(split(q0, "&")), "&")))
        val canon = concat(lit("https://"), host, path, query)
        urls.withColumn("canonical", canon)
          .withColumn("domain", host)
          .groupBy("domain")
          .agg(count(lit(1)).as("n_raw"),
            countDistinct(col("canonical")).as("n_canonical"))
          .orderBy("domain")
      },
      Some("""
        WITH u AS (
          SELECT doc_id,
            'site' || CAST(doc_id % 53 AS VARCHAR) || '.example' AS domain,
            doc_id // 7 AS page,
            doc_id % 5 = 4 AS has_query
          FROM documents)
        SELECT domain, COUNT(*) AS n_raw,
          COUNT(DISTINCT (page, has_query)) AS n_canonical
        FROM u GROUP BY domain ORDER BY domain""")),

    // ROBOTS.TXT CRAWL FILTERING — the admission gate between q256's
    // frontier and q241's fetch: every domain publishes a REAL
    // robots.txt (comments, a distractor bot group, the `*` group,
    // unknown directives), ops/RobotsTxt parses the RFC 9309 grammar
    // once per DOMAIN (dictionary-sized next to the URL stream), and
    // each URL is decided by the RFC's precedence — longest matching
    // prefix governs, Allow wins ties — evaluated DECLARATIVELY as an
    // aggregate() fold over the rules array column, so the per-URL hot
    // path has no Scala in it. The residue design forces the
    // precedence logic to matter: on dom%3=0 domains `Allow: /a/p`
    // (len 4) overrides both `Disallow: /a/` (3) and, on dom%4=1
    // domains, `Disallow: /` (1) — a parser that picks first-match or
    // ignores Allow fuses whole residue classes and hash-fails.
    Q("q257_robots_filtering",
      (s, d) => {
        import graft.ops.RobotsTxt
        val urls = t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"),
            (col("doc_id") % 53).cast("long").as("dom"),
            when(col("doc_id") % 7 === 0,
              concat(lit("/private/x"), col("doc_id")))
              .otherwise(concat(lit("/a/p"),
                (col("doc_id") / lit(7)).cast("long"))).as("path"))
        val domains = urls.select("dom").distinct()
        val rulesSchema = StructType(Seq(
          StructField("dom", LongType, nullable = false),
          StructField("rules", ArrayType(StructType(Seq(
            StructField("prefix", StringType, nullable = false),
            StructField("allow", BooleanType, nullable = false))),
            containsNull = false), nullable = false)))
        val parsed = domains.mapPartitions { rows =>
          rows.map { r =>
            val dom = r.getLong(0)
            val txt = new StringBuilder()
              .append(s"# crawl policy for site$dom.example\n")
              .append("User-agent: other-bot\nDisallow: /\n\n")
              .append("User-agent: *\n")
              .append("Disallow: /private/\n")
            if (dom % 3 == 0) txt.append("Disallow: /a/\nAllow: /a/p\n")
            if (dom % 4 == 1) txt.append("Disallow: /\n")
            txt.append("Crawl-delay: 10\n")
            val rules = RobotsTxt.parse(txt.toString)
            Row(dom, rules.map(ru => Row(ru.prefix, ru.allow)))
          }
        }(Encoders.row(rulesSchema))
        urls.join(broadcast(parsed), Seq("dom"))
          .withColumn("allowed", expr("""
            aggregate(
              filter(rules, r -> startswith(path, r.prefix)),
              named_struct('len', -1, 'allow', true),
              (acc, r) -> IF(length(r.prefix) > acc.len
                  OR (length(r.prefix) = acc.len AND r.allow),
                named_struct('len', length(r.prefix), 'allow', r.allow),
                acc),
              acc -> acc.allow)"""))
          .groupBy("dom")
          .agg(sum(col("allowed").cast("long")).as("n_allowed"),
            sum((!col("allowed")).cast("long")).as("n_blocked"))
          .orderBy("dom")
      },
      Some("""
        WITH u AS (
          SELECT doc_id, doc_id % 53 AS dom,
            doc_id % 7 = 0 AS is_private
          FROM documents),
        dec AS (
          SELECT dom,
            -- RFC longest-match closed form for this rule synthesis:
            -- /private/ paths always blocked; /a/pN allowed unless the
            -- whole site is disallowed (dom%4=1) WITHOUT the longer
            -- Allow /a/p present (dom%3=0)
            CASE WHEN is_private THEN FALSE
              WHEN dom % 4 = 1 AND dom % 3 <> 0 THEN FALSE
              ELSE TRUE END AS allowed
          FROM u)
        SELECT dom, CAST(SUM(CASE WHEN allowed THEN 1 ELSE 0 END) AS BIGINT)
            AS n_allowed,
          CAST(SUM(CASE WHEN allowed THEN 0 ELSE 1 END) AS BIGINT)
            AS n_blocked
        FROM dec GROUP BY dom ORDER BY dom""")),

    // CRAWL POLITENESS SCHEDULING — the per-domain rate plan the
    // frontier (q256) feeds after robots admission (q257): fetches on
    // one domain must be ≥ `delay` apart, so the schedule is the
    // SEQUENTIAL recurrence fetch_i = max(arrival_i, fetch_{i−1} +
    // delay). A driver loop (or per-key streaming state, q229's shape)
    // would serialize it; the batch form SOLVES the recurrence
    // algebraically — fetch_i = i·delay + max_{k≤i}(arrival_k −
    // k·delay) — turning the dependency chain into ONE running max
    // over a per-domain window: a single shuffle on domain, linear
    // work, exact integer arithmetic. The oracle evaluates the same
    // closed form, so a wrong unrolling (off-by-one in the index
    // algebra) hash-fails on every domain.
    Q("q258_crawl_scheduler",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val urls = t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"),
            (col("doc_id") % 53).cast("long").as("dom"),
            ((col("doc_id") * 37) % 1000).cast("long").as("arrival_s"),
            (lit(2) + col("doc_id") % 53 % 5).cast("long").as("delay_s"))
        val w = Window.partitionBy("dom")
          .orderBy(col("arrival_s"), col("doc_id"))
        val cum = Window.partitionBy("dom")
          .orderBy(col("arrival_s"), col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val scheduled = urls
          .withColumn("i", row_number().over(w).cast("long") - 1L)
          .withColumn("base", col("arrival_s") - col("i") * col("delay_s"))
          .withColumn("fetch_s",
            col("i") * col("delay_s") + max(col("base")).over(cum))
        scheduled.groupBy("dom").agg(
          count(lit(1)).as("n_urls"),
          (max(col("fetch_s")) - min(col("arrival_s"))).as("makespan_s"),
          sum(col("fetch_s") - col("arrival_s")).as("total_wait_s"))
          .orderBy("dom")
      },
      Some("""
        WITH u AS (
          SELECT doc_id, doc_id % 53 AS dom,
            (doc_id * 37) % 1000 AS arrival_s,
            2 + (doc_id % 53) % 5 AS delay_s
          FROM documents),
        r AS (
          SELECT *, ROW_NUMBER() OVER
              (PARTITION BY dom ORDER BY arrival_s, doc_id) - 1 AS i
          FROM u),
        f AS (
          SELECT dom, arrival_s,
            i * delay_s + MAX(arrival_s - i * delay_s) OVER
              (PARTITION BY dom ORDER BY arrival_s, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS fetch_s
          FROM r)
        SELECT dom, COUNT(*) AS n_urls,
          CAST(MAX(fetch_s) - MIN(arrival_s) AS BIGINT) AS makespan_s,
          CAST(SUM(fetch_s - arrival_s) AS BIGINT) AS total_wait_s
        FROM f GROUP BY dom ORDER BY dom""")),

    // LM-PERPLEXITY QUALITY FILTER — the CCNet-style gate (Wenzek et
    // al. 2019) that buckets documents into head/middle/tail by how
    // surprising an n-gram language model finds them: train a trigram
    // model on the corpus, score each doc's cross-entropy, tier on
    // bits-per-trigram. The float trap: true log-prob sums are
    // accumulation-order- and libm-dependent (Spark computes log2 as
    // ln(x)/ln(2), so even floor(log2(8)) can land on 2 via
    // 2.9999999999999996 — engines would hash-mismatch). The exact
    // form used here: per-trigram surprise in WHOLE BITS,
    //   bits = floor(log2((c2 + V) div (c3 + 1)))
    // where +1/+V is add-one smoothing, c2 = Σ_w3 c3(w1 w2 w3)
    // guarantees the ratio ≥ 1, the division is INTEGER division, and
    // floor(log2(k)) of an exact integer is its binary-string length
    // minus 1 (conv(k,10,2) ↔ printf('%b',k)) — every quantity up to
    // the final bits-per-trigram division is an integer, so the score
    // is bit-equal under any partitioning and any libm.
    // Scale shape: one map-side-combined groupBy collapses token
    // volume to per-doc DISTINCT (big, tg) counts (the only pass over
    // raw text); the trigram/bigram dictionaries are corpus-dict-sized
    // and joined by hash EQUI joins on their own keys — NOT broadcast
    // (a 100 TB corpus's trigram dictionary outgrows any executor);
    // the only broadcast is the 1-row vocabulary scalar.
    Q("q260_lm_perplexity_filter",
      (s, d) => {
        val tri = t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"), explode(expr(
            """transform(sequence(1, size(w) - 2), i -> named_struct(
              'big', concat_ws(' ', element_at(w, i), element_at(w, i + 1)),
              'tg', concat_ws(' ', element_at(w, i), element_at(w, i + 1),
                              element_at(w, i + 2))))""")).as("g"))
          .select(col("doc_id"), col("g.big").as("big"), col("g.tg").as("tg"))
          // shuffle ONCE, by tg (the q128 gramTf device): tg determines
          // both big (its prefix) and — with doc_id — the group, so
          // hashpartitioning(tg) satisfies the (doc, big, tg) count, the
          // d3 dictionary aggregation AND the tg-keyed scoring join; the
          // cached frame's partitioning makes all three exchange-free.
          // Hot-trigram skew exposure is unchanged — d3's exchange was
          // already tg-keyed.
          .repartition(col("tg"))
          .groupBy("doc_id", "big", "tg").agg(count(lit(1)).as("k"))
          // feeds both dictionaries AND the scoring join: cache makes
          // single-computation a contract (q137 convention)
          .cache()
        val d3 = tri.groupBy("tg").agg(sum(col("k")).as("c3"))
        val d2 = tri.groupBy("big").agg(sum(col("k")).as("c2"))
        // vocabulary = distinct continuations, derived from the trigram
        // DICTIONARY (bounded by dict size, not corpus size)
        val vv = d3.agg(
          countDistinct(substring_index(col("tg"), " ", -1)).as("v"))
        tri.join(d3, "tg").join(d2, "big").crossJoin(broadcast(vv))
          .withColumn("q", expr("(c2 + v) div (c3 + 1)"))
          .withColumn("bits", (length(conv(col("q"), 10, 2)) - 1).cast("long"))
          .groupBy("doc_id")
          .agg(sum(col("k")).as("n_trigrams"),
            sum(col("k") * col("bits")).as("total_bits"))
          .select(col("doc_id"), col("n_trigrams"), col("total_bits"),
            // the one IEEE op: exact-integer / exact-integer
            (col("total_bits").cast("double") /
              col("n_trigrams").cast("double")).as("bits_per_trigram"),
            // tier thresholds compared in INTEGER space (4 and 9
            // bits/trigram), so the bucketing never touches a float
            when(col("total_bits") <= col("n_trigrams") * 4, "head")
              .when(col("total_bits") <= col("n_trigrams") * 9, "middle")
              .otherwise("tail").as("tier"))
          .orderBy("doc_id")
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS w FROM documents
          WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
        tri AS (
          SELECT doc_id,
            UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
              i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]))
              AS big,
            UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w) - 1),
              i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]
                   || ' ' || w[CAST(i AS INT) + 2])) AS tg
          FROM toks),
        tc AS (SELECT doc_id, big, tg, COUNT(*) AS k FROM tri GROUP BY ALL),
        d3 AS (SELECT tg, CAST(SUM(k) AS BIGINT) AS c3 FROM tc GROUP BY tg),
        d2 AS (SELECT big, CAST(SUM(k) AS BIGINT) AS c2 FROM tc GROUP BY big),
        vv AS (SELECT COUNT(DISTINCT STRING_SPLIT(tg, ' ')[3]) AS v FROM d3),
        sc AS (
          SELECT doc_id, k,
            LENGTH(printf('%b', (c2 + v) // (c3 + 1))) - 1 AS bits
          FROM tc JOIN d3 USING (tg) JOIN d2 USING (big), vv)
        SELECT doc_id,
          CAST(SUM(k) AS BIGINT) AS n_trigrams,
          CAST(SUM(k * bits) AS BIGINT) AS total_bits,
          CAST(CAST(SUM(k * bits) AS BIGINT) AS DOUBLE)
            / CAST(CAST(SUM(k) AS BIGINT) AS DOUBLE) AS bits_per_trigram,
          CASE WHEN SUM(k * bits) <= 4 * SUM(k) THEN 'head'
               WHEN SUM(k * bits) <= 9 * SUM(k) THEN 'middle'
               ELSE 'tail' END AS tier
        FROM sc GROUP BY doc_id ORDER BY doc_id""")),

    // DSIR IMPORTANCE RESAMPLING (Xie et al. 2023, "Data Selection for
    // Language Models via Importance Resampling") — select raw-corpus
    // documents that look like a target domain by the likelihood ratio
    // of two hashed-n-gram bag-of-words models: here target = the
    // corpus's English documents, raw = everything, features = word
    // bigrams hashed into B=1024 buckets (q194's portable-md5 bucket
    // convention, so the featurizer needs NO vocabulary pass and runs
    // identically on every shard with zero coordination). The same
    // float trap as q260 — Σ k·(log p_t − log p_r) is libm/order-
    // dependent — handled the same way: the per-bucket log-ratio of
    // the two add-one-smoothed multinomials,
    //   log2( ((c_t+1)/(N_t+B)) / ((c_r+1)/(N_r+B)) ),
    // is approximated to ±1 by a DIFFERENCE OF BIT LENGTHS of the two
    // cross-multiplied integers, so the per-doc score is an exact
    // integer under any partitioning. Products stay < 2^63 while both
    // corpus token counts are < ~3·10⁹ (true through sf1 by 10⁴×);
    // the 100 TB path widens the two products to decimal(38,0) and
    // takes bit length off the decimal's digit string. Selection is
    // deterministic resampling-without-replacement per source: top-5
    // by (score, doc_id) through an ordinary partitioned window.
    Q("q261_dsir_importance_sampling",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val B = 1024
        val kb = t(s, d, "documents")
          .select(col("doc_id"), col("source"), col("lang"),
            split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 2)
          .select(col("doc_id"), col("source"), col("lang"),
            explode(expr(
              """transform(sequence(1, size(w) - 1),
                 i -> concat_ws(' ', element_at(w, i), element_at(w, i + 1)))"""))
              .as("big"))
          .withColumn("bucket", expr(
            "cast(conv(substring(md5(big), 1, 13), 16, 10) as bigint) % 1024"))
          .groupBy(col("doc_id"), col("source"), col("lang"), col("bucket"))
          .agg(count(lit(1)).as("k"))
          .cache() // feeds both models and the scoring join once
        val raw = kb.groupBy("bucket").agg(sum(col("k")).as("cr"))
        val tgt = kb.filter(col("lang") === "en")
          .groupBy("bucket").agg(sum(col("k")).as("ct"))
        // bucket dictionaries are ≤ B rows — the ONE structurally
        // bounded broadcast (vs q260's corpus-sized trigram dict)
        val model = raw.join(tgt, Seq("bucket"), "left")
          .na.fill(0L, Seq("ct"))
          .crossJoin(raw.agg(sum(col("cr")).as("nr")))
          .crossJoin(tgt.agg(sum(col("ct")).as("nt")))
          .withColumn("gain",
            (length(conv(expr(s"(ct + 1) * (nr + $B)"), 10, 2)) -
              length(conv(expr(s"(cr + 1) * (nt + $B)"), 10, 2)))
              .cast("long"))
          .select(col("bucket"), col("gain"))
        val scored = kb.join(broadcast(model), "bucket")
          .groupBy(col("doc_id"), col("source"))
          .agg(sum(col("k")).as("n_feats"),
            sum(col("k") * col("gain")).as("score"))
        val w5 = Window.partitionBy("source")
          .orderBy(col("score").desc, col("doc_id"))
        scored
          .withColumn("selected", row_number().over(w5) <= 5)
          .select(col("doc_id"), col("source"), col("n_feats"),
            col("score"), col("selected"))
          .orderBy("doc_id")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, source, lang, STRING_SPLIT(text, ' ') AS w
          FROM documents WHERE LEN(STRING_SPLIT(text, ' ')) >= 2),
        bg AS (
          SELECT doc_id, source, lang,
            UNNEST(LIST_TRANSFORM(RANGE(1, LEN(w)),
              i -> w[CAST(i AS INT)] || ' ' || w[CAST(i AS INT) + 1]))
              AS big
          FROM docs),
        kb AS (
          SELECT doc_id, source, lang,
            CAST(LIST_REDUCE(
              LIST_TRANSFORM(SPLIT(SUBSTRING(MD5(big), 1, 13), ''),
                x -> CAST(POSITION(x IN '0123456789abcdef') - 1 AS BIGINT)),
              (a, x) -> a * 16 + x) % 1024 AS BIGINT) AS bucket,
            COUNT(*) AS k
          FROM bg GROUP BY doc_id, source, lang, big
          -- same (doc, bigram)->bucket granularity as Spark's groupBy:
          -- collapse to (doc, bucket) below
        ),
        kbb AS (
          SELECT doc_id, source, lang, bucket, CAST(SUM(k) AS BIGINT) AS k
          FROM kb GROUP BY 1, 2, 3, 4),
        raw AS (SELECT bucket, CAST(SUM(k) AS BIGINT) AS cr
                FROM kbb GROUP BY bucket),
        tgt AS (SELECT bucket, CAST(SUM(k) AS BIGINT) AS ct
                FROM kbb WHERE lang = 'en' GROUP BY bucket),
        nn AS (SELECT (SELECT CAST(SUM(cr) AS BIGINT) FROM raw) AS nr,
                      (SELECT COALESCE(CAST(SUM(ct) AS BIGINT), 0) FROM tgt) AS nt),
        model AS (
          SELECT raw.bucket,
            CAST(LENGTH(printf('%b', (COALESCE(ct, 0) + 1) * (nr + 1024)))
               - LENGTH(printf('%b', (cr + 1) * (nt + 1024))) AS BIGINT)
              AS gain
          FROM raw LEFT JOIN tgt USING (bucket), nn),
        scored AS (
          SELECT doc_id, source,
            CAST(SUM(k) AS BIGINT) AS n_feats,
            CAST(SUM(k * gain) AS BIGINT) AS score
          FROM kbb JOIN model USING (bucket) GROUP BY doc_id, source)
        SELECT doc_id, source, n_feats, score,
          ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY score DESC, doc_id) <= 5 AS selected
        FROM scored ORDER BY doc_id"""))
  )
}

/** q131's two phases, exposed separately so the scale sweep can time
  * them apart (round-12 verdict item 5): [[layout]] is the ONE-TIME
  * bucketed write (write-once cost, scales with data rewritten) and
  * [[join]] is the steady-state exchange-free SMB join the layout
  * buys (the cost every later run pays — the number the 12× scale
  * gate is actually about). The q131 query entry composes both, which
  * is the end-to-end correctness contract; BucketingSpec pins the
  * exchange-free plan shape of the join half. */
object Q131 {
  import org.apache.spark.sql.functions._
  import QH._

  def layout(s: org.apache.spark.sql.SparkSession, d: String): Unit = {
    graft.tables.Bucketing.writeBucketed(
      t(s, d, "lineitem").select("l_orderkey", "l_quantity",
        "l_extendedprice"),
      // 32 buckets = one per core of the target session: bucket count
      // caps join parallelism (each SMB join task reads one co-located
      // bucket pair), so 8 buckets left 3/4 of the machine idle and
      // made the steady-state join scale with data/8, not data/cores
      "g131_lineitem", "l_orderkey", 32, sortCols = Seq("l_orderkey"))
    graft.tables.Bucketing.writeBucketed(
      t(s, d, "orders").select("o_orderkey", "o_orderpriority"),
      "g131_orders", "o_orderkey", 32, sortCols = Seq("o_orderkey"))
  }

  def join(s: org.apache.spark.sql.SparkSession): DataFrame =
    s.table("g131_lineitem")
      .join(s.table("g131_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderpriority")
}
