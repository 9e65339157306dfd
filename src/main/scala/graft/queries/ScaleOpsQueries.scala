package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import QH._

/** Round-10 extension: cluster-operations operators — the planning /
  * estimation layer a 100 TB deployment runs around its data jobs, plus
  * sketch machinery whose estimates are DETERMINISTIC (not just bounded),
  * so the oracle gate hash-compares the estimates themselves rather than
  * boolean error contracts. Shared device: every "random" hash is the
  * portable-md5 uniform (q66/q82/q158 convention), reproducible bit-wise
  * in any engine.
  */
object ScaleOpsQueries {

  /** Portable CMS bucket: first 13 hex digits of md5("tok#j") mod w.
    * Spark side (conv) ↔ DuckDB side (hex-char LIST_REDUCE, q158 device). */
  private def bucketSpark(tok: String, j: String, w: Int): String =
    s"cast(conv(substring(md5(concat($tok, '#', cast($j as string))), 1, 13), 16, 10) as bigint) % $w"

  private def bucketDuck(tok: String, j: String, w: Int): String =
    s"""CAST(LIST_REDUCE(LIST_TRANSFORM(SPLIT(SUBSTRING(MD5($tok || '#' || CAST($j AS VARCHAR)), 1, 13), ''),
       |  c -> CAST(POSITION(c IN '0123456789abcdef') - 1 AS BIGINT)),
       |  (a, x) -> a * 16 + x) AS BIGINT) % $w""".stripMargin

  val qs: Seq[Q] = Seq(
    // COUNT-MIN SKETCH frequency estimation — the d×w grid that answers
    // "how often does token X occur" from O(d·w) state instead of a
    // |vocabulary|-sized dictionary. Unlike Misra–Gries (q113), whose
    // counter VALUES depend on merge order (gate = boolean bounds), CMS
    // cell counts are plain sums — order-free, exact, deterministic —
    // so the oracle recomputes the SAME grid in DuckDB and the gate
    // hash-compares the estimates themselves. Scale shape: the corpus
    // collapses to its (token, count) dictionary first (q129/q137
    // dictionary-first convention — the only pass over raw token
    // volume is one map-side-combined groupBy); the grid aggregation
    // then shuffles at most d·w = 1024 rows regardless of corpus size,
    // and the probe side joins |heavy|·d rows against the broadcast
    // grid. est ≥ true is the CMS one-sided guarantee — pinned as a
    // gate column; the estimate value itself is pinned by the hash.
    Q("q159_countmin",
      (s, d) => {
        val D = 4; val W = 256
        val exact = t(s, d, "documents")
          .select(explode(split(col("text"), " ")).as("tok"))
          .groupBy("tok").agg(count(lit(1)).as("cnt"))
          .cache() // feeds grid, total, and probe — one computation
        val total = exact.agg(sum(col("cnt")).as("n"))
        val grid = exact
          .select(col("tok"), col("cnt"),
            explode(expr(s"sequence(0, ${D - 1})")).as("j"))
          .withColumn("b", expr(bucketSpark("tok", "j", W)))
          .groupBy("j", "b").agg(sum(col("cnt")).as("cell"))
        val probes = exact.crossJoin(broadcast(total))
          .filter(col("cnt") > col("n") / lit(100.0d))
          .select(col("tok"), col("cnt"),
            explode(expr(s"sequence(0, ${D - 1})")).as("j"))
          .withColumn("b", expr(bucketSpark("tok", "j", W)))
        probes.join(broadcast(grid), Seq("j", "b"))
          .groupBy("tok", "cnt").agg(min(col("cell")).as("est"))
          .select(col("tok"), col("cnt"), col("est"),
            (col("est") >= col("cnt")).as("lower_bound_ok"))
          .orderBy(col("cnt").desc, col("tok"))
      },
      Some(s"""
        WITH toks AS (
          SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents),
        e AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM e),
        g0 AS (SELECT tok, cnt, UNNEST(RANGE(0, 4)) AS j FROM e),
        grid AS (
          SELECT j, ${bucketDuck("tok", "j", 256)} AS b,
            CAST(SUM(cnt) AS BIGINT) AS cell
          FROM g0 GROUP BY 1, 2),
        heavy AS (
          SELECT tok, cnt, UNNEST(RANGE(0, 4)) AS j
          FROM e, tot WHERE cnt > n / 100.0),
        probe AS (
          SELECT tok, cnt, j, ${bucketDuck("tok", "j", 256)} AS b FROM heavy)
        SELECT p.tok, p.cnt, MIN(g.cell) AS est, TRUE AS lower_bound_ok
        FROM probe p JOIN grid g ON p.j = g.j AND p.b = g.b
        GROUP BY p.tok, p.cnt
        ORDER BY p.cnt DESC, p.tok""")),

    // SMALL-FILE COMPACTION PLANNER — the nightly OPTIMIZE job's first
    // half: walk each partition's file inventory in file order and cut
    // contiguous compaction groups every time the running size crosses
    // the 512 MB target. The frame is METADATA-sized (one row per file
    // — millions of rows at 100 TB, never data-sized), so the per-
    // partition prefix-sum window is cheap and the partition key keeps
    // any one window task at the partition's file count. All arithmetic
    // is integer (sizes carried as exact integer bytes after one
    // round-to-integer per file; group cut by integer division) — no
    // decimal division rounding to diverge between engines. Exclusive
    // prefix sum ⇒ the first file of every partition opens group 0, and
    // a group may overshoot the target by at most one file — the
    // standard greedy coalesce semantics.
    Q("q160_compaction_plan",
      (s, d) => {
        val files = t(s, d, "orders").select(
          date_trunc("month", col("o_orderdate")).cast("date").as("part"),
          col("o_orderkey").as("file_id"),
          // file size in BYTES: o_totalprice is a 2-decimal double, so
          // ×1000 then round lands on an exact integer in both engines
          // (the product is within an ulp of an integer, never at a .5
          // tie) — files come out 1–550 MB, the realistic inventory mix
          expr("cast(round(o_totalprice * 1000, 0) as bigint)").as("bytes"))
        val w = Window.partitionBy("part").orderBy("file_id")
          .rowsBetween(Long.MinValue, -1)
        files
          .withColumn("cb", coalesce(sum(col("bytes")).over(w), lit(0L)))
          .withColumn("grp", expr("cb div 512000000"))
          .groupBy("part", "grp")
          .agg(count(lit(1)).as("n_files"),
            (sum(col("bytes")).cast("double") / lit(1000000.0d)).as("mb"))
          .orderBy("part", "grp")
      },
      Some("""
        WITH files AS (
          SELECT CAST(DATE_TRUNC('month', o_orderdate) AS DATE) AS part,
            o_orderkey AS file_id,
            CAST(ROUND(o_totalprice * 1000, 0) AS BIGINT) AS bytes
          FROM orders),
        c AS (
          SELECT part, file_id, bytes,
            COALESCE(SUM(bytes) OVER (PARTITION BY part ORDER BY file_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          FROM files)
        SELECT part, CAST(cb // 512000000 AS BIGINT) AS grp, COUNT(*) AS n_files,
          CAST(SUM(bytes) AS DOUBLE) / 1000000.0 AS mb
        FROM c GROUP BY 1, 2 ORDER BY 1, 2""")),

    // LEAKAGE-SAFE TEMPORAL SPLIT with embargo — the time-series
    // train/test cut that drops a buffer zone after the training
    // horizon so near-boundary rows can't leak label information
    // backwards (standard purged/embargoed CV semantics). Cutoffs are
    // derived from the data's own [min, max] span (70% train, 2%
    // embargo) in integer microseconds — the min/max agg is one
    // broadcastable row, assignment is row-local arithmetic, and the
    // one double multiply per cutoff is the same IEEE op in both
    // engines. Output is the audit frame: per (split, event_type) row
    // and distinct-user counts — the class-balance check run before
    // any model sees the split.
    Q("q161_embargo_split",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(expr("unix_micros(ts)").as("us"),
            col("event_type"), col("user_id"))
        val span = ev.agg(min(col("us")).as("t0"), max(col("us")).as("t1"))
        ev.crossJoin(broadcast(span))
          .withColumn("lo",
            col("t0") + expr("cast(floor((t1 - t0) * 0.70d) as bigint)"))
          .withColumn("hi",
            col("t0") + expr("cast(floor((t1 - t0) * 0.72d) as bigint)"))
          .withColumn("split",
            when(col("us") < col("lo"), lit("train"))
              .when(col("us") >= col("hi"), lit("test"))
              .otherwise(lit("embargo")))
          .groupBy("split", "event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("split", "event_type")
      },
      Some("""
        WITH ev AS (
          SELECT EPOCH_US(ts) AS us, event_type, user_id FROM events),
        span AS (SELECT MIN(us) AS t0, MAX(us) AS t1 FROM ev),
        tagged AS (
          SELECT event_type, user_id,
            CASE WHEN us < t0 + CAST(FLOOR((t1 - t0) * 0.70) AS BIGINT)
                   THEN 'train'
                 WHEN us >= t0 + CAST(FLOOR((t1 - t0) * 0.72) AS BIGINT)
                   THEN 'test'
                 ELSE 'embargo' END AS split
          FROM ev, span)
        SELECT split, event_type, COUNT(*) AS n,
          COUNT(DISTINCT user_id) AS n_users
        FROM tagged GROUP BY 1, 2 ORDER BY 1, 2""")),

    // RECIPROCAL-RANK-FUSION hybrid retrieval — fuse a lexical ranking
    // (term-overlap over documents) with a dense ranking (cosine to a
    // query embedding) into one list: rrf = Σ 1/(60+rank). The arms
    // rank on EXACT keys — the lexical score is all-integer (matched
    // terms, total tf), the dense sim is the q30 round-6 cosine — so
    // ranks are reproducible and the fused float is a sum of ≤2
    // single-division terms evaluated in one fixed order: bit-equal
    // across engines. Scale shape: each arm reduces to its top-50
    // BEFORE the fusion join (rank windows run over arm-local frames;
    // at 100 TB the arms' candidate generation is bucketed retrieval —
    // q31/q93 — and fusion stays a join of two k-row lists per query).
    Q("q162_rrf_fusion",
      (s, d) => {
        val terms = Seq("spark", "window", "merge")
        val lexBase = t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
          .select(col("doc_id") +: terms.map(tm =>
            expr(s"size(filter(words, w -> w = '$tm'))").as(s"tf_$tm")): _*)
          .withColumn("matched",
            terms.map(tm => (col(s"tf_$tm") > 0).cast("int")).reduce(_ + _))
          .withColumn("total_tf", terms.map(tm => col(s"tf_$tm")).reduce(_ + _))
          .filter(col("matched") > 0)
        val wl = Window.orderBy(col("matched").desc, col("total_tf").desc,
          col("doc_id"))
        val lex = lexBase.withColumn("lex_rank", row_number().over(wl))
          .filter(col("lex_rank") <= 50).select("doc_id", "lex_rank")
        val emb = t(s, d, "embeddings")
          .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        val qv = emb.filter(col("vec_id") === 0)
          .select(col("v").as("qv"))
        val dotExpr =
          """aggregate(zip_with(v, qv, (a, b) -> a * b), 0d, (acc, x) -> acc + x)
            | / (sqrt(aggregate(transform(v, x -> x * x), 0d, (acc, x) -> acc + x))
            |    * sqrt(aggregate(transform(qv, x -> x * x), 0d, (acc, x) -> acc + x)))
            |""".stripMargin
        val wd = Window.orderBy(col("sim").desc, col("vec_id"))
        val dense = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(qv))
          .withColumn("sim", round(expr(dotExpr), 6))
          .withColumn("dense_rank", row_number().over(wd))
          .filter(col("dense_rank") <= 50)
          .select(col("vec_id").as("doc_id"), col("dense_rank"))
        lex.join(dense, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("lex_rank"), col("dense_rank"),
            round(
              coalesce(lit(1.0d) / (lit(60) + col("lex_rank")), lit(0.0d)) +
                coalesce(lit(1.0d) / (lit(60) + col("dense_rank")), lit(0.0d)),
              6).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(20)
      },
      Some("""
        WITH lt AS (
          SELECT doc_id,
            LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x = 'spark')) AS tf_spark,
            LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x = 'window')) AS tf_window,
            LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x = 'merge')) AS tf_merge
          FROM documents),
        lexb AS (
          SELECT doc_id,
            (CASE WHEN tf_spark > 0 THEN 1 ELSE 0 END +
             CASE WHEN tf_window > 0 THEN 1 ELSE 0 END +
             CASE WHEN tf_merge > 0 THEN 1 ELSE 0 END) AS matched,
            tf_spark + tf_window + tf_merge AS total_tf
          FROM lt),
        lex AS (
          SELECT doc_id, CAST(ROW_NUMBER() OVER (ORDER BY matched DESC,
            total_tf DESC, doc_id) AS INT) AS lex_rank
          FROM lexb WHERE matched > 0
          QUALIFY lex_rank <= 50),
        n AS (
          SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
            SQRT(LIST_SUM(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
              x -> x * x))) AS nrm
          FROM embeddings),
        dense AS (
          SELECT e.vec_id AS doc_id, CAST(ROW_NUMBER() OVER (ORDER BY
            ROUND(LIST_DOT_PRODUCT(q.v, e.v) / (q.nrm * e.nrm), 6) DESC,
            e.vec_id) AS INT) AS dense_rank
          FROM n q JOIN n e ON q.vec_id = 0 AND e.vec_id != 0
          QUALIFY dense_rank <= 50)
        SELECT doc_id, lex_rank, dense_rank,
          ROUND(COALESCE(1.0 / (60 + lex_rank), 0.0) +
                COALESCE(1.0 / (60 + dense_rank), 0.0), 6) AS rrf
        FROM lex FULL OUTER JOIN dense USING (doc_id)
        ORDER BY rrf DESC, doc_id LIMIT 20""")),

    // GROUP-WISE OLS in one aggregation pass — the per-segment trend
    // line (tokens vs characters here) via the closed normal-equation
    // form: slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²). All four sums are
    // INTEGER sums accumulated exactly (decimal(38,0) ↔ HUGEINT — the
    // q139 variance device generalized to two variables), so numerator
    // and denominator are exact integers in both engines before the one
    // cast→divide tail of correctly-rounded IEEE ops. No second
    // centered pass, no window, no per-group iteration — a 100 TB
    // regression is the same single map-side-combined groupBy as a sum.
    // The intercept reuses the ROUNDED slope on both sides so the gate
    // compares identical arithmetic, not re-derived values.
    Q("q163_group_ols",
      (s, d) => {
        val X = "cast(n_chars as decimal(38,0))"
        val Y = "cast(size(split(text, ' ')) as decimal(38,0))"
        t(s, d, "documents")
          .groupBy("source")
          .agg(count(lit(1)).cast("long").as("n"),
            sum(expr(X)).as("sx"), sum(expr(Y)).as("sy"),
            sum(expr(s"$X * $X")).as("sxx"),
            sum(expr(s"$X * $Y")).as("sxy"))
          .withColumn("slope", round(
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"),
            6))
          .withColumn("intercept", round(
            (col("sy").cast("double") - col("slope") * col("sx").cast("double"))
              / col("n"), 6))
          .select(col("source"), col("n"), col("slope"), col("intercept"))
          .orderBy("source")
      },
      Some("""
        WITH s AS (
          SELECT source, COUNT(*) AS n,
            SUM(CAST(n_chars AS HUGEINT)) AS sx,
            SUM(CAST(LEN(STRING_SPLIT(text, ' ')) AS HUGEINT)) AS sy,
            SUM(CAST(n_chars AS HUGEINT) * CAST(n_chars AS HUGEINT)) AS sxx,
            SUM(CAST(n_chars AS HUGEINT)
              * CAST(LEN(STRING_SPLIT(text, ' ')) AS HUGEINT)) AS sxy
          FROM documents GROUP BY source),
        sl AS (
          SELECT source, CAST(n AS BIGINT) AS n,
            ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
              / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
            sx, sy
          FROM s)
        SELECT source, n, slope,
          ROUND((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n, 6)
            AS intercept
        FROM sl ORDER BY source""")),

    // JOIN-SIZE FORECAST from frequency sketches — predict a join's
    // output cardinality BEFORE running it (the planner question that
    // decides broadcast vs shuffle vs salting): |A ⋈ B on k| =
    // Σ_k c_A(k)·c_B(k), estimated by the CMS inner product
    // min_j Σ_b gridA[j][b]·gridB[j][b] — an upper bound (AMS/CM
    // guarantee), deterministic given the hash, so the oracle
    // recomputes the SAME estimate and the gate hash-compares it.
    // Forecast rows: the events×events self-join on user_id (the
    // session-blowup forecast) and events×orders on user=cust. The
    // per-key count frames are the only corpus-sized aggregations; the
    // grids are j×w ≤ 2048 rows, the inner products join grid-to-grid.
    Q("q164_join_size_estimate",
      (s, d) => {
        val D = 4; val W = 512
        def grid(df: org.apache.spark.sql.DataFrame, key: String) =
          df.groupBy(col(key).cast("string").as("k"))
            .agg(count(lit(1)).as("c"))
            .select(col("k"), col("c"),
              explode(expr(s"sequence(0, ${D - 1})")).as("j"))
            .withColumn("b", expr(bucketSpark("k", "j", W)))
            .groupBy("j", "b").agg(sum(col("c")).as("cell"))
        def exactSize(a: org.apache.spark.sql.DataFrame, ka: String,
            b: org.apache.spark.sql.DataFrame, kb: String) = {
          val ca = a.groupBy(col(ka).cast("string").as("k"))
            .agg(count(lit(1)).as("ca"))
          val cb = b.groupBy(col(kb).cast("string").as("k"))
            .agg(count(lit(1)).as("cb"))
          ca.join(cb, "k").agg(sum(col("ca") * col("cb")).as("exact_pairs"))
        }
        def inner(ga: org.apache.spark.sql.DataFrame,
            gb: org.apache.spark.sql.DataFrame) =
          ga.join(gb.withColumnRenamed("cell", "cell_b"), Seq("j", "b"))
            .groupBy("j").agg(sum(col("cell") * col("cell_b")).as("ip"))
            .agg(min(col("ip")).as("est_pairs"))
        val ev = t(s, d, "events"); val ord = t(s, d, "orders")
        val ge = grid(ev, "user_id"); val go = grid(ord, "o_custkey")
        val r1 = exactSize(ev, "user_id", ev, "user_id")
          .crossJoin(inner(ge, ge))
          .select(lit("events_self_user").as("join_name"),
            col("exact_pairs"), col("est_pairs"))
        val r2 = exactSize(ev, "user_id", ord, "o_custkey")
          .crossJoin(inner(ge, go))
          .select(lit("events_orders_cust").as("join_name"),
            col("exact_pairs"), col("est_pairs"))
        r1.union(r2)
          .withColumn("upper_bound_ok", col("est_pairs") >= col("exact_pairs"))
          .orderBy("join_name")
      },
      Some(s"""
        WITH ec AS (
          SELECT CAST(user_id AS VARCHAR) AS k, COUNT(*) AS c
          FROM events GROUP BY 1),
        oc AS (
          SELECT CAST(o_custkey AS VARCHAR) AS k, COUNT(*) AS c
          FROM orders GROUP BY 1),
        eg AS (
          SELECT j, ${bucketDuck("k", "j", 512)} AS b,
            CAST(SUM(c) AS BIGINT) AS cell
          FROM (SELECT k, c, UNNEST(RANGE(0, 4)) AS j FROM ec) GROUP BY 1, 2),
        og AS (
          SELECT j, ${bucketDuck("k", "j", 512)} AS b,
            CAST(SUM(c) AS BIGINT) AS cell
          FROM (SELECT k, c, UNNEST(RANGE(0, 4)) AS j FROM oc) GROUP BY 1, 2),
        ips AS (
          SELECT 'events_self_user' AS join_name,
            CAST(MIN(ip) AS BIGINT) AS est_pairs FROM (
              SELECT a.j, SUM(a.cell * b.cell) AS ip
              FROM eg a JOIN eg b ON a.j = b.j AND a.b = b.b GROUP BY a.j)
          UNION ALL
          SELECT 'events_orders_cust',
            CAST(MIN(ip) AS BIGINT) FROM (
              SELECT a.j, SUM(a.cell * b.cell) AS ip
              FROM eg a JOIN og b ON a.j = b.j AND a.b = b.b GROUP BY a.j)),
        exacts AS (
          SELECT 'events_self_user' AS join_name,
            CAST(SUM(a.c * b.c) AS BIGINT) AS exact_pairs
          FROM ec a JOIN ec b ON a.k = b.k
          UNION ALL
          SELECT 'events_orders_cust', CAST(SUM(a.c * b.c) AS BIGINT)
          FROM ec a JOIN oc b ON a.k = b.k)
        SELECT join_name, exact_pairs, est_pairs, TRUE AS upper_bound_ok
        FROM exacts JOIN ips USING (join_name)
        ORDER BY join_name""")),

    // WEIGHTED RANGE-PARTITION PLANNER — compute the 8 boundary ranges
    // a repartitionByRange would need to balance BYTES (not rows) when
    // key weights are skewed: cut the key space where cumulative weight
    // crosses each 1/8 of the total. The q138 CDF device lifted to the
    // planner: the corpus collapses to its (key, weight) frequency
    // frame first (the only corpus-sized pass, map-side combined), the
    // prefix sum runs over that |distinct keys|-bounded frame, and the
    // bucket cut is pure integer arithmetic — (cb·8) div total — so
    // both engines agree exactly. A bucket overshoots perfect balance
    // by at most one key's weight (greedy cut granularity), which the
    // spec pins; the gate hash-compares the boundary keys themselves.
    Q("q165_range_planner",
      (s, d) => {
        val freq = t(s, d, "lineitem")
          .groupBy(col("l_partkey").as("k"))
          .agg(sum(col("l_quantity").cast("long")).as("w"))
        val win = Window.orderBy("k").rowsBetween(Long.MinValue, -1)
        val tot = freq.agg(sum(col("w")).as("tw"))
        freq
          .withColumn("cb", coalesce(sum(col("w")).over(win), lit(0L)))
          .crossJoin(broadcast(tot))
          .withColumn("bucket",
            least(lit(7L), expr("(cb * 8) div tw")))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n_keys"), sum(col("w")).as("total_w"),
            min(col("k")).as("lo_key"), max(col("k")).as("hi_key"))
          .orderBy("bucket")
      },
      Some("""
        WITH f AS (
          SELECT l_partkey AS k, SUM(CAST(l_quantity AS BIGINT)) AS w
          FROM lineitem GROUP BY 1),
        c AS (
          SELECT k, w, COALESCE(SUM(w) OVER (ORDER BY k
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
          FROM f),
        tw AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM f)
        SELECT LEAST(7, CAST((cb * 8) // tw AS BIGINT)) AS bucket,
          COUNT(*) AS n_keys, CAST(SUM(w) AS BIGINT) AS total_w,
          MIN(k) AS lo_key, MAX(k) AS hi_key
        FROM c, tw GROUP BY 1 ORDER BY 1""")),

    // HARD-NEGATIVE MINING — the contrastive-training data op: for each
    // query vector, the most-similar vectors with a DIFFERENT label
    // (similar but wrong = the informative negatives). The per-query
    // top-3 is the bounded aggregate ([[graft.expressions.BoundedTopK]],
    // q81 device): each map task reduces its candidate slice to ≤3
    // before the exchange, so at 100 TB the shuffle carries
    // O(tasks × 3) rows per query rather than every candidate — the
    // same reason q31's ANN uses it. Label filtering happens BEFORE
    // scoring (no wasted dot products on same-label pairs). Sims are
    // the q30 round-6 cosine, so ranks are engine-reproducible.
    Q("q166_hard_negatives",
      (s, d) => {
        val all = t(s, d, "embeddings")
          .select(col("vec_id"), col("label"),
            col("embedding").cast("array<double>").as("v"))
        val q = all.filter(col("vec_id") < 20)
          .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
            col("v").as("qv"))
        val dotExpr =
          """aggregate(zip_with(v, qv, (a, b) -> a * b), 0d, (acc, x) -> acc + x)
            | / (sqrt(aggregate(transform(v, x -> x * x), 0d, (acc, x) -> acc + x))
            |    * sqrt(aggregate(transform(qv, x -> x * x), 0d, (acc, x) -> acc + x)))
            |""".stripMargin
        broadcast(q).crossJoin(all)
          .filter(col("label") =!= col("qlabel"))
          .withColumn("sim", round(expr(dotExpr), 6))
          .groupBy("query_id")
          .agg(expr("graft_topk(sim, vec_id, 3)").as("top"))
          .select(col("query_id"), posexplode(col("top")).as(Seq("rk0", "p")))
          .select(col("query_id"), (col("rk0") + 1).cast("integer").as("rk"),
            col("p.id").as("neg_id"), col("p.ord").as("sim"))
          .orderBy("query_id", "rk")
      },
      Some("""
        WITH n AS (
          SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
            SQRT(LIST_SUM(LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
              x -> x * x))) AS nrm
          FROM embeddings),
        pairs AS (
          SELECT q.vec_id AS query_id, e.vec_id AS neg_id,
            ROUND(LIST_DOT_PRODUCT(q.v, e.v) / (q.nrm * e.nrm), 6) AS sim
          FROM n q JOIN n e ON q.vec_id < 20 AND e.label != q.label)
        SELECT query_id, CAST(rk AS INTEGER) AS rk, neg_id, sim
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                ORDER BY sim DESC, neg_id) AS rk FROM pairs)
        WHERE rk <= 3 ORDER BY query_id, rk""")),

    // HILBERT-CURVE LAYOUT — the q107 Z-order upgrade (SURVEY §7.7
    // item 5): same clustered-write diagnostic, better locality
    // constant (the Hilbert walk never takes the Z-curve's long
    // diagonal jumps, so a contiguous index range maps to a tighter
    // x/y tile → tighter zone maps → more file pruning). The index is
    // the canonical xy2d unrolled into 8 straight-line CASE/arithmetic
    // steps — ALL-INTEGER, generated once and spliced verbatim into
    // both engines (Spark withColumn chain inside whole-stage codegen;
    // DuckDB CTE chain), so the gate hash-compares the curve itself.
    // The XOR in d += s²·((3rx)^ry) is algebraized to
    // 3rx + ry − 2·rx·ry (bit-identical for rx,ry ∈ {0,1}) to dodge
    // engine XOR syntax differences. Bucketing mirrors q107's ntile so
    // the two layouts stay comparable row-for-row.
    Q("q167_hilbert_layout",
      (s, d) => {
        val base = t(s, d, "events")
          .select(col("event_id"),
            expr("cast(user_id % 256 as int)").as("x0"),
            expr("cast((unix_micros(ts) div 60000000) % 256 as int)").as("y0"))
          .withColumn("d0", lit(0))
        val hil = hilbertSteps.foldLeft(base) { case (df, (name, e)) =>
          df.withColumn(name, expr(e))
        }
        // Lineage fence (measured, round 11): the CDF device joins on
        // d8, and join-planning rules (PartitionPruning,
        // InjectRuntimeFilter) track a join key's lineage by
        // SUBSTITUTING through projects — the 8-step chain references
        // each prior column 2–3×, so substitution expands the tree
        // exponentially and the two rules alone burned 18.6 s of pure
        // driver planning (0 effective runs). A lazy localCheckpoint
        // materializes the curve column once — which is also what a
        // real layout-assignment write job does — and planning drops
        // to <0.5 s. The fenced frame is 4 narrow columns.
        val fenced = hil.select(col("event_id"), col("x0"), col("y0"),
          col("d8")).localCheckpoint(false)
        // CDF-device bucket cuts (see q107): d8 is 16-bit, so the only
        // global window runs over a ≤65536-row frequency frame — never
        // the fact rows (the round-10 `weak` flag on this query).
        graft.ops.Relational
          .ntileByCdf(fenced, col("d8"), col("event_id"), 16)
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min(col("x0")).as("u_min"), max(col("x0")).as("u_max"),
            min(col("y0")).as("m_min"), max(col("y0")).as("m_max"))
          .orderBy("bucket")
      },
      Some {
        val ctes = hilbertSteps.zipWithIndex.map { case ((name, e), i) =>
          s"h${i + 1} AS (SELECT *, $e AS $name FROM h$i)"
        }
        s"""
        WITH h0 AS (
          SELECT event_id, CAST(user_id % 256 AS INT) AS x0,
            CAST((EPOCH_US(ts) // 60000000) % 256 AS INT) AS y0, 0 AS d0
          FROM events),
        ${ctes.mkString(",\n        ")},
        bk AS (
          SELECT x0, y0, NTILE(16) OVER (ORDER BY d8, event_id) AS bucket
          FROM h${hilbertSteps.size})
        SELECT bucket, COUNT(*) AS n,
          MIN(x0) AS u_min, MAX(x0) AS u_max,
          MIN(y0) AS m_min, MAX(y0) AS m_max
        FROM bk GROUP BY bucket ORDER BY bucket"""
      }),

    // ZONE-MAP PRUNING EFFECTIVENESS — the why-you-sort diagnostic:
    // simulate two physical layouts of the same table (files cut by
    // arrival order vs files cut by the predicate column) and measure
    // how many files a min/max zone map would let a quarter-range scan
    // skip. Pure metadata math once the per-file min/max frame exists —
    // one aggregation per layout over the fact table (map-side
    // combined, |files| rows out), then a |files|-sized summary. The
    // arrival layout scans everything (every file spans the full date
    // range); the date-cut layout prunes all but the predicate's
    // months — the measured gap IS the argument for q107/q167 ordered
    // writes.
    Q("q168_zone_map_prune",
      (s, d) => {
        val lo = lit(java.sql.Date.valueOf("1998-04-01"))
        val hi = lit(java.sql.Date.valueOf("1998-06-30"))
        val li = t(s, d, "lineitem")
          .select(col("l_orderkey"), to_date(col("l_shipdate")).as("sd"))
        def layout(name: String, fileId: org.apache.spark.sql.Column) =
          li.withColumn("file_id", fileId)
            .groupBy("file_id")
            .agg(min(col("sd")).as("f_min"), max(col("sd")).as("f_max"),
              count(lit(1)).as("f_rows"),
              sum((col("sd") >= lo && col("sd") <= hi).cast("long"))
                .as("f_match"))
            .agg(count(lit(1)).as("n_files"),
              sum((col("f_max") < lo || col("f_min") > hi).cast("long"))
                .as("files_pruned"),
              sum(when(col("f_max") >= lo && col("f_min") <= hi,
                col("f_rows")).otherwise(lit(0L))).as("rows_scanned"),
              sum(col("f_match")).as("matching_rows"))
            .select(lit(name).as("layout"), col("n_files"),
              col("files_pruned"), col("rows_scanned"), col("matching_rows"))
        layout("arrival_order", expr("l_orderkey div 2048"))
          .union(layout("date_clustered",
            expr("(year(sd) * 12 + month(sd))").cast("long")))
          .orderBy("layout")
      },
      Some("""
        WITH li AS (
          SELECT l_orderkey, CAST(l_shipdate AS DATE) AS sd FROM lineitem),
        fa AS (
          SELECT CAST(l_orderkey // 2048 AS BIGINT) AS file_id,
            MIN(sd) AS f_min, MAX(sd) AS f_max, COUNT(*) AS f_rows,
            SUM(CASE WHEN sd BETWEEN DATE '1998-04-01' AND DATE '1998-06-30'
              THEN 1 ELSE 0 END) AS f_match
          FROM li GROUP BY 1),
        fb AS (
          SELECT CAST(YEAR(sd) * 12 + MONTH(sd) AS BIGINT) AS file_id,
            MIN(sd) AS f_min, MAX(sd) AS f_max, COUNT(*) AS f_rows,
            SUM(CASE WHEN sd BETWEEN DATE '1998-04-01' AND DATE '1998-06-30'
              THEN 1 ELSE 0 END) AS f_match
          FROM li GROUP BY 1),
        s AS (
          SELECT 'arrival_order' AS layout, COUNT(*) AS n_files,
            SUM(CASE WHEN f_max < DATE '1998-04-01'
              OR f_min > DATE '1998-06-30' THEN 1 ELSE 0 END) AS files_pruned,
            SUM(CASE WHEN f_max >= DATE '1998-04-01'
              AND f_min <= DATE '1998-06-30' THEN f_rows ELSE 0 END)
              AS rows_scanned,
            SUM(f_match) AS matching_rows
          FROM fa
          UNION ALL
          SELECT 'date_clustered', COUNT(*),
            SUM(CASE WHEN f_max < DATE '1998-04-01'
              OR f_min > DATE '1998-06-30' THEN 1 ELSE 0 END),
            SUM(CASE WHEN f_max >= DATE '1998-04-01'
              AND f_min <= DATE '1998-06-30' THEN f_rows ELSE 0 END),
            SUM(f_match)
          FROM fb)
        SELECT layout, n_files,
          CAST(files_pruned AS BIGINT) AS files_pruned,
          CAST(rows_scanned AS BIGINT) AS rows_scanned,
          CAST(matching_rows AS BIGINT) AS matching_rows
        FROM s ORDER BY layout""")),

    // SKETCHED COLUMN PROFILE — the 100 TB form of q146's profiler
    // (SURVEY §7.7 item 4 closed): per-column distinct counts via
    // HyperLogLog++ instead of exact countDistinct, so the profile is
    // ONE pass of constant-state mergeable aggregates with no
    // distinct-expand shuffle. HLL registers are order-free max-merges
    // — the estimate is DETERMINISTIC on fixed data — so the gate's
    // boolean error-contract columns (|est − exact| ≤ 15 % · exact,
    // triple the configured 5 % rsd) cannot flake; the exact columns
    // double as the evidence and are what a real deployment deletes.
    Q("q169_profile_sketch",
      (s, d) => {
        val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority")
        // Exact and HLL halves aggregate SEPARATELY: mixing them makes
        // Catalyst's multi-distinct Expand carry the four 208-long HLL
        // buffers on the gid-0 branch, whose partial aggregate keys on
        // the full 4-column tuple (~one group per row). Split, the HLL
        // pass is 4 constant-state sketches with map-side partials and
        // the distinct pass is the plain Expand with count-only state;
        // both are 1-row frames joined for free. Estimates are
        // identical — HLL register max-merge is order-free.
        val exact = t(s, d, "orders").agg(
          countDistinct(col(cols.head)).as(s"x_${cols.head}"),
          cols.tail.map(c => countDistinct(col(c)).as(s"x_$c")): _*)
        val approx = t(s, d, "orders").agg(
          approx_count_distinct(col(cols.head), 0.05).as(s"a_${cols.head}"),
          cols.tail.map(c =>
            approx_count_distinct(col(c), 0.05).as(s"a_$c")): _*)
        exact.crossJoin(broadcast(approx))
          .selectExpr(s"stack(${cols.size}, " +
            cols.map(c => s"'$c', x_$c, a_$c").mkString(", ") +
            ") as (column_name, exact_distinct, approx_distinct)")
          .select(col("column_name"), col("exact_distinct"),
            (abs(col("approx_distinct") - col("exact_distinct")) <=
              col("exact_distinct") * lit(0.15d)).as("hll_ok"))
          .orderBy("column_name")
      },
      Some("""
        SELECT column_name, exact_distinct, TRUE AS hll_ok FROM (
          SELECT 'o_orderkey' AS column_name,
            COUNT(DISTINCT o_orderkey) AS exact_distinct FROM orders
          UNION ALL SELECT 'o_custkey', COUNT(DISTINCT o_custkey) FROM orders
          UNION ALL SELECT 'o_orderstatus', COUNT(DISTINCT o_orderstatus)
            FROM orders
          UNION ALL SELECT 'o_orderpriority', COUNT(DISTINCT o_orderpriority)
            FROM orders)
        ORDER BY column_name""")),

    // TWO-SAMPLE KOLMOGOROV–SMIRNOV, exactly — drift detection between
    // two sub-corpora (en vs de document lengths) with NO floats until
    // the last line: D = max|F₁−F₂| is computed as the integer
    // max|cum₁·n₂ − cum₂·n₁| over the merged value-frequency frame, so
    // the statistic is an exact rational both engines agree on
    // bit-wise. The corpus collapses to per-value counts first (q138
    // device); the merged CDF walk is one window over that bounded
    // frame. The D ≥ c(α)·√((n₁+n₂)/(n₁n₂)) rejection test compares
    // via sqrt — the one libm op that IS correctly rounded everywhere.
    Q("q170_ks_test",
      (s, d) => {
        val docs = t(s, d, "documents").filter(col("lang").isin("en", "de"))
        val freq = docs.groupBy(col("n_chars").as("v"))
          .agg(sum((col("lang") === "en").cast("long")).as("c1"),
            sum((col("lang") === "de").cast("long")).as("c2"))
        val w = Window.orderBy("v").rowsBetween(Long.MinValue, 0)
        val tot = docs.agg(
          sum((col("lang") === "en").cast("long")).as("n1"),
          sum((col("lang") === "de").cast("long")).as("n2"))
        freq
          .withColumn("f1", sum(col("c1")).over(w))
          .withColumn("f2", sum(col("c2")).over(w))
          .crossJoin(broadcast(tot))
          .agg(max(abs(col("f1") * col("n2") - col("f2") * col("n1")))
            .as("d_num"))
          .crossJoin(broadcast(tot))
          .select(col("n1"), col("n2"), col("d_num"),
            round(col("d_num").cast("double") /
              (col("n1") * col("n2")).cast("double"), 6).as("d_stat"),
            (col("d_num").cast("double") / (col("n1") * col("n2")).cast("double")
              > lit(1.358d) * sqrt((col("n1") + col("n2")).cast("double") /
                (col("n1") * col("n2")).cast("double"))).as("reject_05"))
      },
      Some("""
        WITH docs AS (
          SELECT n_chars AS v, lang FROM documents WHERE lang IN ('en', 'de')),
        f AS (
          SELECT v, SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS c1,
            SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS c2
          FROM docs GROUP BY v),
        t AS (
          SELECT CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
              AS n1,
            CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS n2
          FROM docs),
        c AS (
          SELECT SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS f1,
            SUM(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
              AND CURRENT ROW) AS f2
          FROM f),
        dm AS (
          SELECT CAST(MAX(ABS(f1 * n2 - f2 * n1)) AS BIGINT) AS d_num
          FROM c, t)
        SELECT n1, n2, d_num,
          ROUND(CAST(d_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE), 6) AS d_stat,
          CAST(d_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE)
            > 1.358 * SQRT(CAST(n1 + n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE))
            AS reject_05
        FROM dm, t""")),

    // CO-OCCURRENCE PMI over the hot vocabulary — the association
    // statistic behind phrase mining and embedding evaluation, shaped
    // so the pair space can't explode: tokens are first capped to the
    // top-50 by document frequency (deterministic df-desc/token tie
    // break, broadcast), so the per-doc self-join generates at most
    // C(50,2) pairs per document and the aggregate is bounded by
    // |vocab|² regardless of corpus size. PMI's log is NOT
    // cross-engine-reproducible (libm), so the gate carries the exact
    // integer ratio r = (n·c_xy·10⁶) div (c_x·c_y) — a monotone
    // transform of PMI with identical ordering — and leaves the log to
    // the consumer.
    Q("q171_cooccurrence_pmi",
      (s, d) => {
        // per-doc token dedup is ROW-LOCAL (doc_id is unique per row),
        // so array_distinct replaces the .distinct() that exchanged the
        // entire token occurrence stream on (doc_id, tok) (r17; the
        // docSignatures device) — identical row set, zero exchange
        val docTok = t(s, d, "documents")
          .select(col("doc_id"),
            explode(array_distinct(split(col("text"), " "))).as("tok"))
        val nDocs = t(s, d, "documents").agg(count(lit(1)).as("n"))
        val wdf = Window.orderBy(col("df").desc, col("tok"))
        val hot = docTok.groupBy("tok").agg(count(lit(1)).as("df"))
          .withColumn("rk", row_number().over(wdf))
          .filter(col("rk") <= 50)
          .select("tok", "df")
        val hotDocs = docTok.join(broadcast(hot), "tok")
        val pairs = hotDocs.alias("a")
          .join(hotDocs.alias("b"), Seq("doc_id"))
          .filter(col("a.tok") < col("b.tok"))
          .groupBy(col("a.tok").as("tok1"), col("b.tok").as("tok2"),
            col("a.df").as("df1"), col("b.df").as("df2"))
          .agg(count(lit(1)).as("c_xy"))
        pairs.crossJoin(broadcast(nDocs))
          .withColumn("ratio",
            expr("(c_xy * n * 1000000) div (df1 * df2)"))
          .select(col("tok1"), col("tok2"), col("c_xy"), col("ratio"))
          .orderBy(col("ratio").desc, col("tok1"), col("tok2"))
          .limit(20)
      },
      Some("""
        WITH dt AS (
          SELECT DISTINCT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
          FROM documents),
        nd AS (SELECT COUNT(*) AS n FROM documents),
        hot AS (
          SELECT tok, df FROM (
            SELECT tok, COUNT(*) AS df,
              ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
            FROM dt GROUP BY tok)
          WHERE rk <= 50),
        hd AS (SELECT doc_id, tok, df FROM dt JOIN hot USING (tok)),
        pairs AS (
          SELECT a.tok AS tok1, b.tok AS tok2, a.df AS df1, b.df AS df2,
            COUNT(*) AS c_xy
          FROM hd a JOIN hd b ON a.doc_id = b.doc_id AND a.tok < b.tok
          GROUP BY 1, 2, 3, 4)
        SELECT tok1, tok2, c_xy,
          CAST((c_xy * n * 1000000) // (df1 * df2) AS BIGINT) AS ratio
        FROM pairs, nd
        ORDER BY ratio DESC, tok1, tok2 LIMIT 20""")),

    // LAST-TOUCH ATTRIBUTION — join every conversion to the most recent
    // preceding non-conversion touch of the same user. The as-of lookup
    // is a per-user window (max prior timestamp among touches), NOT a
    // range join: one shuffle on user_id, prior_us carried row-locally,
    // then one equi join back on (user, us) to resolve the touch row.
    // The resolve join takes min(event_id) to stay deterministic even
    // if two touches ever share a microsecond. Gap is integer
    // microseconds div 10⁶ — no float time arithmetic.
    Q("q172_last_touch_attribution",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("unix_micros(ts)").as("us"))
        val w = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Long.MinValue, -1)
        val withPrior = ev.withColumn("prior_us",
          max(when(col("event_type") =!= "purchase", col("us"))).over(w))
        val touches = ev.filter(col("event_type") =!= "purchase")
          .groupBy(col("user_id"), col("us").as("prior_us"))
          .agg(min(col("event_id")).as("touch_event_id"))
        withPrior.filter(col("event_type") === "purchase" &&
            col("prior_us").isNotNull)
          .join(touches, Seq("user_id", "prior_us"))
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("touch_event_id"),
            expr("(us - prior_us) div 1000000").as("gap_sec"))
          .orderBy("purchase_id")
      },
      Some("""
        WITH ev AS (
          SELECT event_id, user_id, event_type, EPOCH_US(ts) AS us
          FROM events),
        p AS (
          SELECT event_id, user_id, event_type, us,
            MAX(CASE WHEN event_type != 'purchase' THEN us END)
              OVER (PARTITION BY user_id ORDER BY us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_us
          FROM ev),
        touches AS (
          SELECT user_id, us AS prior_us, MIN(event_id) AS touch_event_id
          FROM ev WHERE event_type != 'purchase' GROUP BY 1, 2)
        SELECT p.event_id AS purchase_id, p.user_id, t.touch_event_id,
          CAST((p.us - p.prior_us) // 1000000 AS BIGINT) AS gap_sec
        FROM p JOIN touches t ON p.user_id = t.user_id
          AND p.prior_us = t.prior_us
        WHERE p.event_type = 'purchase'
        ORDER BY purchase_id""")),

    // TRIANGLE COUNT + TRANSITIVITY on the co-supply backbone — the
    // third graph operator (after q77's connected components and
    // q120's PageRank): project the part→supplier bipartite onto a
    // supplier graph (edge weight = shared parts), keep the ≥150-
    // shared-parts backbone (the sparsifying cap that bounds the
    // projected edge set the way q128 caps df — an unthresholded
    // projection of a hot part is the classic quadratic blowup), then
    // count triangles with the DEGREE-ORIENTED join: every edge points
    // low→high in (degree, id) order, so each triangle is generated
    // exactly once and the wedge join fans out by min-degree, not max
    // (the standard distributed-triangle trick). Wedge count is the
    // closed form Σ deg(deg−1)/2 — all integers; transitivity's one
    // division is the only float.
    Q("q173_triangle_count",
      (s, d) => {
        val ps = t(s, d, "lineitem")
          .select(col("l_partkey").as("p"), col("l_suppkey").as("s"))
          .distinct()
        val edges = ps.alias("a").join(ps.alias("b"), Seq("p"))
          .filter(col("a.s") < col("b.s"))
          .groupBy(col("a.s").as("u"), col("b.s").as("v"))
          .agg(count(lit(1)).as("w"))
          .filter(col("w") >= 150)
          .select("u", "v")
          .cache() // degrees + orientation + wedge join all read it
        val deg = edges.select(col("u").as("n"))
          .union(edges.select(col("v").as("n")))
          .groupBy("n").agg(count(lit(1)).as("deg"))
        val dg = deg.cache()
        // orient by (deg, id): lower endpoint first. localCheckpoint
        // severs the lineage: `oriented` feeds BOTH wedge sides and the
        // closing semi join — left as lazy lineage, each of those three
        // references re-expands the edges⋈deg⋈deg subtree and the plan
        // multiplies (the q120 exponential-plan trap; the audit caught
        // 300+ exchanges here before the cut)
        val oriented = edges
          .join(dg.withColumnRenamed("n", "u").withColumnRenamed("deg", "du"),
            "u")
          .join(dg.withColumnRenamed("n", "v").withColumnRenamed("deg", "dv"),
            "v")
          .select(
            when(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")), col("u"))
              .otherwise(col("v")).as("a"),
            when(col("du") < col("dv") ||
              (col("du") === col("dv") && col("u") < col("v")), col("v"))
              .otherwise(col("u")).as("b"))
          .localCheckpoint()
        val wedges2 = oriented.alias("e1")
          .join(oriented.alias("e2"), col("e1.b") === col("e2.a"))
          .select(col("e1.a").as("x"), col("e1.b").as("y"),
            col("e2.b").as("z"))
        val tri = wedges2
          .join(oriented.select(col("a").as("x"), col("b").as("z")),
            Seq("x", "z"), "left_semi")
          .agg(count(lit(1)).as("n_triangles"))
        val stats = edges.agg(count(lit(1)).as("n_edges"))
          .crossJoin(dg.agg(count(lit(1)).as("n_nodes"),
            sum(expr("deg * (deg - 1)")).as("w2")))
        stats.crossJoin(tri)
          .select(col("n_nodes"), col("n_edges"),
            col("n_triangles"),
            (col("w2") / lit(2)).cast("long").as("n_wedges"),
            round(lit(3.0d) * col("n_triangles") /
              greatest((col("w2") / lit(2)).cast("double"), lit(1.0d)), 6)
              .as("transitivity"))
      },
      Some("""
        WITH ps AS (
          SELECT DISTINCT l_partkey AS p, l_suppkey AS s FROM lineitem),
        edges AS (
          SELECT a.s AS u, b.s AS v
          FROM ps a JOIN ps b ON a.p = b.p AND a.s < b.s
          GROUP BY 1, 2 HAVING COUNT(*) >= 150),
        deg AS (
          SELECT n, COUNT(*) AS deg FROM (
            SELECT u AS n FROM edges UNION ALL SELECT v FROM edges)
          GROUP BY n),
        o AS (
          SELECT CASE WHEN du.deg < dv.deg
              OR (du.deg = dv.deg AND u < v) THEN u ELSE v END AS a,
            CASE WHEN du.deg < dv.deg
              OR (du.deg = dv.deg AND u < v) THEN v ELSE u END AS b
          FROM edges JOIN deg du ON du.n = u JOIN deg dv ON dv.n = v),
        tri AS (
          SELECT COUNT(*) AS n_triangles
          FROM (SELECT e1.a AS x, e2.b AS z
                FROM o e1 JOIN o e2 ON e1.b = e2.a) w
          WHERE EXISTS (SELECT 1 FROM o WHERE o.a = w.x AND o.b = w.z)),
        st AS (
          SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
            (SELECT COUNT(*) FROM edges) AS n_edges,
            (SELECT CAST(SUM(deg * (deg - 1)) AS BIGINT) FROM deg) AS w2)
        SELECT n_nodes, n_edges, n_triangles,
          CAST(w2 // 2 AS BIGINT) AS n_wedges,
          ROUND(3.0 * n_triangles /
            GREATEST(CAST(w2 AS DOUBLE) / 2, 1.0), 6) AS transitivity
        FROM st, tri""")),

    // INCREMENTAL AGGREGATE MAINTENANCE — the lakehouse IVM contract:
    // a materialized aggregate plus a new partition's PARTIAL
    // aggregate, merged by re-aggregation, must equal the full
    // recompute. The query computes the merged form (base = all days
    // before the newest, delta = the newest day, both reduced to
    // per-group partials BEFORE the union — the delta pass touches one
    // partition's data, never the history); the DuckDB oracle computes
    // the flat full-recompute GROUP BY — so the driver's hash equality
    // IS the maintenance-equals-recompute proof. Sums are
    // decimal-accumulated (QH.decSum convention) to stay order-free.
    Q("q174_incremental_agg",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(to_date(col("ts")).as("day"), col("event_type"),
            col("value"))
        val cut = ev.agg(max(col("day")).as("d_max"))
        val tagged = ev.crossJoin(broadcast(cut))
        def partial(df: org.apache.spark.sql.DataFrame) =
          df.groupBy("event_type")
            .agg(count(lit(1)).as("pn"), sum(col("value").cast(DEC)).as("ps"))
        val base = partial(tagged.filter(col("day") < col("d_max")))
        val delta = partial(tagged.filter(col("day") === col("d_max")))
          .cache() // merged union + the delta_rows column
        base.union(delta)
          .groupBy("event_type")
          .agg(sum(col("pn")).cast("long").as("n_total"),
            sum(col("ps")).cast("string").cast("double").as("total_value"))
          .join(delta.select(col("event_type"), col("pn").as("delta_rows")),
            Seq("event_type"), "left")
          .select(col("event_type"), col("n_total"), col("total_value"),
            coalesce(col("delta_rows"), lit(0L)).as("delta_rows"))
          .orderBy("event_type")
      },
      Some("""
        WITH ev AS (
          SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type,
            value
          FROM events),
        cut AS (SELECT MAX(day) AS d_max FROM ev)
        SELECT event_type, COUNT(*) AS n_total,
          CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
            AS total_value,
          CAST(SUM(CASE WHEN day = d_max THEN 1 ELSE 0 END) AS BIGINT)
            AS delta_rows
        FROM ev, cut GROUP BY event_type ORDER BY event_type""")),

    // TWO-PHASE SALTED AGGREGATION — the skew device q110 applies to
    // joins, applied to a hot-key groupBy: aggregate on (key, salt)
    // first so the hot key's rows spread over 16 reducers, then merge
    // the 16 partials per key. For algebraic aggregates
    // (count/sum/min/max) the merge is exact, which is what the gate
    // proves: the oracle computes the PLAIN one-phase GROUP BY and the
    // hash must match — salting is invisible in the result, visible
    // only in the shuffle layout (PlanSpec pins the two-exchange
    // shape). Salt is the portable event_id residue, not rand(), so
    // the intermediate frame is reproducible too. Sums decimal-
    // accumulate (decSum) to stay order-free under the extra merge.
    Q("q175_salted_agg",
      (s, d) => {
        val ev = t(s, d, "events")
          .withColumn("salt", pmod(col("event_id"), lit(16)))
        val partials = ev.groupBy("event_type", "salt")
          .agg(count(lit(1)).as("pn"), sum(col("value").cast(DEC)).as("ps"),
            min(col("value")).as("pmin"), max(col("value")).as("pmax"))
        partials.groupBy("event_type")
          .agg(sum(col("pn")).cast("long").as("n"),
            sum(col("ps")).cast("string").cast("double").as("total"),
            min(col("pmin")).as("v_min"), max(col("pmax")).as("v_max"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
            AS total,
          MIN(value) AS v_min, MAX(value) AS v_max
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // DATA RECONCILIATION REPORT — the ledger-vs-shadow diff every
    // migration and replication pipeline runs: full-outer join two
    // copies on the business key, classify each key as matched /
    // value_mismatch / missing_in_shadow, and report counts plus the
    // absolute value drift. The shadow here is a deterministic
    // perturbation of orders (0.1 % of keys dropped, 0.2 % price-
    // shifted) so both engines build the identical scenario. One
    // equi join on the key — at 100 TB this is the bucketed-join
    // use case (q131): reconciliation re-runs nightly against the
    // same key, so both sides should be bucket-laid on it.
    Q("q176_reconciliation",
      (s, d) => {
        val a = t(s, d, "orders")
          .select(col("o_orderkey").as("k"), col("o_totalprice").as("va"))
        val b = t(s, d, "orders")
          .filter(col("o_orderkey") % 1000 =!= 0)
          .select(col("o_orderkey").as("k"),
            when(col("o_orderkey") % 500 === 0, col("o_totalprice") + 1.0d)
              .otherwise(col("o_totalprice")).as("vb"))
        a.join(b, Seq("k"), "full_outer")
          .select(
            when(col("vb").isNull, lit("missing_in_shadow"))
              .when(col("va") === col("vb"), lit("matched"))
              .otherwise(lit("value_mismatch")).as("status"),
            coalesce(abs(col("va") - col("vb")), lit(0.0d)).as("drift"))
          .groupBy("status")
          .agg(count(lit(1)).as("n_keys"),
            sum(col("drift").cast(DEC)).cast("string").cast("double")
              .as("total_drift"))
          .orderBy("status")
      },
      Some("""
        WITH a AS (SELECT o_orderkey AS k, o_totalprice AS va FROM orders),
        b AS (
          SELECT o_orderkey AS k,
            CASE WHEN o_orderkey % 500 = 0 THEN o_totalprice + 1.0
              ELSE o_totalprice END AS vb
          FROM orders WHERE o_orderkey % 1000 != 0),
        j AS (
          SELECT CASE WHEN vb IS NULL THEN 'missing_in_shadow'
              WHEN va = vb THEN 'matched'
              ELSE 'value_mismatch' END AS status,
            COALESCE(ABS(va - vb), 0.0) AS drift
          FROM a FULL OUTER JOIN b USING (k))
        SELECT status, COUNT(*) AS n_keys,
          CAST(CAST(SUM(CAST(drift AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
            AS total_drift
        FROM j GROUP BY status ORDER BY status""")),

    // SOURCE-VOCABULARY OVERLAP MATRIX — corpus-level dedup triage:
    // pairwise Jaccard between sources' token vocabularies answers
    // "which two crawls are near-copies" BEFORE any doc-level pass.
    // Dictionary-first: the corpus collapses to distinct (source,
    // token) — bounded by Σ|vocab|, not token volume — intersections
    // come from the token-key equi self-join (never source×source over
    // docs), and unions are inclusion–exclusion from the same counts.
    // All integers until the one final division, rounded to 6.
    Q("q177_source_overlap",
      (s, d) => {
        val st = t(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .distinct()
          .cache() // sizes + intersections read the same frame
        val sizes = st.groupBy("source").agg(count(lit(1)).as("vs"))
        val inter = st.alias("a").join(st.alias("b"), Seq("tok"))
          .filter(col("a.source") < col("b.source"))
          .groupBy(col("a.source").as("src1"), col("b.source").as("src2"))
          .agg(count(lit(1)).as("inter"))
        inter
          .join(broadcast(sizes.withColumnRenamed("source", "src1")
            .withColumnRenamed("vs", "v1")), "src1")
          .join(broadcast(sizes.withColumnRenamed("source", "src2")
            .withColumnRenamed("vs", "v2")), "src2")
          .select(col("src1"), col("src2"), col("inter"),
            (col("v1") + col("v2") - col("inter")).as("un"),
            round(col("inter").cast("double") /
              (col("v1") + col("v2") - col("inter")).cast("double"), 6)
              .as("jaccard"))
          .orderBy(col("jaccard").desc, col("src1"), col("src2"))
          .limit(25)
      },
      Some("""
        WITH st AS (
          SELECT DISTINCT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok
          FROM documents),
        sizes AS (SELECT source, COUNT(*) AS vs FROM st GROUP BY source),
        inter AS (
          SELECT a.source AS src1, b.source AS src2, COUNT(*) AS inter
          FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
          GROUP BY 1, 2)
        SELECT src1, src2, inter,
          CAST(v1.vs + v2.vs - inter AS BIGINT) AS un,
          ROUND(CAST(inter AS DOUBLE) /
            CAST(v1.vs + v2.vs - inter AS DOUBLE), 6) AS jaccard
        FROM inter
          JOIN sizes v1 ON v1.source = src1
          JOIN sizes v2 ON v2.source = src2
        ORDER BY jaccard DESC, src1, src2 LIMIT 25""")),

    // BLOOM-FILTER CALIBRATION — measure the runtime filter q109 relies
    // on against its two contracts on real data: (1) NO false
    // negatives, ever (a bloom miss is proof of absence — the property
    // that makes pre-shuffle pruning safe), and (2) the false-positive
    // rate stays near its design point. The filter can't be rebuilt in
    // DuckDB, but it doesn't need to be: Spark's bloom is hash-
    // deterministic on fixed data, so the contract BOOLEANS are stable
    // and the exact member/probe counts are ordinary aggregates the
    // oracle recomputes. Probes are the disjoint key set (non-urgent
    // orders), so every hit among them is by definition a false
    // positive — fp counting without any join. Capacity (200k) is
    // sized with 6× headroom over the sf0.1 member count: an
    // undersized bloom saturates and the FPR contract fails — which
    // the sf0.1 robustness sweep caught at the original 20k.
    Q("q178_bloom_fpr",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders_fpr")
        s.sql("""
          WITH dim AS (
            SELECT o_orderkey FROM orders_fpr
            WHERE o_orderpriority = '1-URGENT'),
          bf AS (SELECT graft_bloom_agg(xxhash64(o_orderkey),
                   CAST(200000 AS BIGINT)) AS b
                 FROM dim),
          member_hits AS (
            SELECT COUNT(*) AS n_members,
              SUM(CASE WHEN graft_might_contain(
                (SELECT b FROM bf), xxhash64(o_orderkey))
                THEN 1 ELSE 0 END) AS hits
            FROM dim),
          probe_hits AS (
            SELECT COUNT(*) AS n_probes,
              SUM(CASE WHEN graft_might_contain(
                (SELECT b FROM bf), xxhash64(o_orderkey))
                THEN 1 ELSE 0 END) AS fps
            FROM orders_fpr WHERE o_orderpriority != '1-URGENT')
          SELECT CAST(n_members AS BIGINT) AS n_members,
            CAST(n_probes AS BIGINT) AS n_probes,
            (hits = n_members) AS no_false_negatives,
            (CAST(fps AS DOUBLE) / n_probes <= 0.05) AS fpr_ok
          FROM member_hits, probe_hits""")
      },
      Some("""
        SELECT
          (SELECT COUNT(*) FROM orders
             WHERE o_orderpriority = '1-URGENT') AS n_members,
          (SELECT COUNT(*) FROM orders
             WHERE o_orderpriority != '1-URGENT') AS n_probes,
          TRUE AS no_false_negatives, TRUE AS fpr_ok""")),

    // χ² FEATURE SELECTION — rank tokens by association with a class
    // (lang = 'en') from 2×2 contingency counts: the classic
    // vocabulary-selection pass before training a cheap classifier
    // (q103's feature side, made supervised). Dictionary-first: per
    // (token, class) document counts — bounded by vocabulary — capped
    // to the top-200-df tokens (q171's cap device) before scoring.
    // χ² = n(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) is computed from EXACT
    // integer products (fits a long through sf0.1; the in-code note
    // marks the decimal switch for larger corpora), then one
    // cast→divide→round tail both engines execute identically.
    Q("q179_chi2_tokens",
      (s, d) => {
        val docs = t(s, d, "documents")
        val n = docs.agg(count(lit(1)).as("n"),
          sum((col("lang") === "en").cast("long")).as("n_en"))
        val dt = docs
          .select(col("doc_id"), (col("lang") === "en").as("is_en"),
            explode(split(col("text"), " ")).as("tok"))
          .distinct()
        val wdf = Window.orderBy(col("df").desc, col("tok"))
        val counts = dt.groupBy("tok")
          .agg(count(lit(1)).as("df"),
            sum(col("is_en").cast("long")).as("a"))
          .withColumn("rk", row_number().over(wdf))
          .filter(col("rk") <= 200)
        counts.crossJoin(broadcast(n))
          .withColumn("b", col("df") - col("a"))
          .withColumn("c", col("n_en") - col("a"))
          .withColumn("dd", col("n") - col("n_en") - col("b"))
          .withColumn("num",
            col("n") * (col("a") * col("dd") - col("b") * col("c")) *
              (col("a") * col("dd") - col("b") * col("c")))
          .withColumn("den", greatest(
            (col("a") + col("b")) * (col("c") + col("dd")) *
              (col("a") + col("c")) * (col("b") + col("dd")), lit(1L)))
          .select(col("tok"), col("a").as("en_docs"), col("b").as("other_docs"),
            round(col("num").cast("double") / col("den").cast("double"), 6)
              .as("chi2"))
          .orderBy(col("chi2").desc, col("tok"))
          .limit(20)
      },
      Some("""
        WITH docs AS (SELECT doc_id, lang, text FROM documents),
        n AS (
          SELECT COUNT(*) AS n,
            CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
              AS n_en
          FROM docs),
        dt AS (
          SELECT DISTINCT doc_id, lang = 'en' AS is_en,
            UNNEST(STRING_SPLIT(text, ' ')) AS tok
          FROM docs),
        counts AS (
          SELECT tok, df, a FROM (
            SELECT tok, COUNT(*) AS df,
              CAST(SUM(CASE WHEN is_en THEN 1 ELSE 0 END) AS BIGINT) AS a,
              ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, tok) AS rk
            FROM dt GROUP BY tok)
          WHERE rk <= 200),
        sc AS (
          SELECT tok, a, df - a AS b, n_en - a AS c,
            n - n_en - (df - a) AS dd, n
          FROM counts, n)
        SELECT tok, a AS en_docs, b AS other_docs,
          ROUND(CAST(n * (a * dd - b * c) * (a * dd - b * c) AS DOUBLE) /
            CAST(GREATEST((a + b) * (c + dd) * (a + c) * (b + dd), 1)
              AS DOUBLE), 6) AS chi2
        FROM sc
        ORDER BY chi2 DESC, tok LIMIT 20""")),

    // ORDER-FREE TABLE DIGEST — the checksum that lets two replicas be
    // compared WITHOUT moving rows (the q176 reconciliation's cheap
    // first stage: digests differ → then run the row-level diff): each
    // row folds to a portable md5-derived integer fingerprint over its
    // KEY + CATEGORICAL columns (floats stay out of the fingerprint —
    // engine float-formatting must never decide a checksum), and the
    // per-group digest is the exact decimal/HUGEINT SUM of
    // fingerprints — commutative and associative, so ANY partitioning,
    // replica layout, or merge order yields the identical digest. One
    // map-side-combined aggregation; digests travel as strings so the
    // gate compares integers, not float-cast artifacts.
    Q("q180_table_digest",
      (s, d) => {
        val fp = "cast(conv(substring(md5(concat_ws('|', " +
          "cast(event_id as string), cast(user_id as string), event_type" +
          ")), 1, 13), 16, 10) as decimal(38,0))"
        t(s, d, "events")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            sum(expr(fp)).cast("decimal(38,0)").cast("string").as("digest"))
          .orderBy("event_type")
      },
      Some("""
        WITH fp AS (
          SELECT event_type,
            LIST_REDUCE(LIST_TRANSFORM(SPLIT(SUBSTRING(MD5(
              CAST(event_id AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)
                || '|' || event_type), 1, 13), ''),
              c -> CAST(POSITION(c IN '0123456789abcdef') - 1 AS HUGEINT)),
              (a, x) -> a * 16 + x) AS f
          FROM events)
        SELECT event_type, COUNT(*) AS n_rows,
          CAST(SUM(f) AS VARCHAR) AS digest
        FROM fp GROUP BY event_type ORDER BY event_type""")),

    // TWO-PROPORTION Z-TEST — the experiment readout: did arm A convert
    // differently from arm B? Arms are the deterministic user-id parity
    // (a hash split in production — q100's device); conversion is any
    // purchase event. Everything is four integer counts until the z²
    // statistic's one fixed sequence of IEEE divisions, and the
    // significance verdict compares against the χ²₁ 95 % critical
    // value — both engines execute the identical float tail, so even
    // the boolean is hash-stable. One aggregation pass over events
    // (conditional sums), no join, no window.
    Q("q181_ab_ztest",
      (s, d) =>
        t(s, d, "events")
          .select((col("user_id") % 2 === 0).as("arm_a"),
            (col("event_type") === "purchase").cast("long").as("conv"))
          .agg(
            sum(col("arm_a").cast("long")).as("n_a"),
            sum(when(col("arm_a"), col("conv")).otherwise(0L)).as("conv_a"),
            sum((!col("arm_a")).cast("long")).as("n_b"),
            sum(when(!col("arm_a"), col("conv")).otherwise(0L)).as("conv_b"))
          .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
            round(
              pow(col("conv_a").cast("double") / col("n_a") -
                col("conv_b").cast("double") / col("n_b"), 2) /
                (((col("conv_a") + col("conv_b")).cast("double") /
                  (col("n_a") + col("n_b"))) *
                  (lit(1.0d) - (col("conv_a") + col("conv_b")).cast("double") /
                    (col("n_a") + col("n_b"))) *
                  (lit(1.0d) / col("n_a") + lit(1.0d) / col("n_b"))), 6)
              .as("z2"))
          .withColumn("significant_95", col("z2") > lit(3.8415d)),
      Some("""
        WITH c AS (
          SELECT
            CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_a,
            CAST(SUM(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
              THEN 1 ELSE 0 END) AS BIGINT) AS conv_a,
            CAST(SUM(CASE WHEN user_id % 2 != 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS n_b,
            CAST(SUM(CASE WHEN user_id % 2 != 0 AND event_type = 'purchase'
              THEN 1 ELSE 0 END) AS BIGINT) AS conv_b
          FROM events)
        SELECT n_a, conv_a, n_b, conv_b,
          ROUND(
            POW(CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b, 2)
            / ((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (1.0 / n_a + 1.0 / n_b)), 6) AS z2,
          ROUND(
            POW(CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b, 2)
            / ((CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / (n_a + n_b))
               * (1.0 / n_a + 1.0 / n_b)), 6) > 3.8415 AS significant_95
        FROM c""")),

    // EQUI-DEPTH HISTOGRAM — the ANALYZE-TABLE statistic the q164/q165
    // planners consume: 8 buckets of l_extendedprice bounded by the
    // exact interpolated octile boundaries (the q99/q133 percentile
    // device, identical interpolation in both engines), each bucket
    // carrying count / NDV / min / max. Two passes over the fact
    // table: one aggregation collapses it to a single 7-element
    // boundary array (broadcast back — no window, no sort), then one
    // scan assigns bucket = |{b : b < v}| row-locally via a
    // higher-order filter over the broadcast array and aggregates.
    // Equi-DEPTH (not equi-width) is what selectivity estimation
    // needs under skew: every bucket has the same mass, so a range
    // predicate's selectivity is (buckets covered)/8 regardless of
    // how the values clump.
    //
    // Exact-vs-sketch contract (the q146/q169 pattern): exact
    // percentile buffers the column per final aggregate — fine at
    // bench scale and required for the cross-engine hash gate, but at
    // 100 TB the boundary pass is the mergeable GK sketch already in
    // tree (q99_sketch_bounds, expressions/GKQuantile) with this query
    // kept as the oracle-gated exact companion. The scan-side bucket
    // assignment below is the part that runs at data scale and it is
    // row-local either way.
    Q("q184_equidepth_histogram",
      (s, d) => {
        val li = t(s, d, "lineitem")
        // Boundary pass = the stock exact `percentile` REPLAYED on the
        // value-count frame (r17; guide §2.3 shuffle fewer bytes + §4
        // expression choice): the ObjectAggregate buffered ~|distinct
        // prices| boxed (Double → count) map entries per partial and
        // merged them on ONE reducer (2.3 s of the query's 2.8 s
        // standalone). Same numbers, three cheap operators instead:
        // (1) codegen hash-agg to (v, c) — the only pass over fact
        // rows; (2) running ranks over THAT bounded frame (the q138
        // CDF device: the one single-partition window is |distinct|-
        // sized, never corpus-sized); (3) each octile k finds the two
        // values whose rank intervals [lo_r, hi_r) contain floor/ceil
        // of pos_k = 0.125k·(n−1) via a 7-row broadcast containment
        // join, then interpolates with EXACTLY percentile's formula
        // (rhi−pos)·vlo + (pos−rlo)·vhi — bit-identical output
        // (ResolutionOpsSpec pins equality against the stock
        // aggregate). At 100 TB the mergeable-sketch path stays
        // q99/GKQuantile; this exact companion now costs one
        // map-side-combined aggregation instead of a driver-scale
        // object merge.
        val vc = li.where(col("l_extendedprice").isNotNull)
          .groupBy(col("l_extendedprice").as("v"))
          .agg(count(lit(1)).as("c"))
        val cum = vc
          .withColumn("hi_r", sum(col("c")).over(
            org.apache.spark.sql.expressions.Window.orderBy("v")))
          .withColumn("lo_r", col("hi_r") - col("c"))
        val ks = s.range(1, 8).toDF("id")
          .crossJoin(broadcast(vc.agg(sum(col("c")).as("n"))))
          .select(col("id"),
            (col("id").cast("double") * lit(0.125d)).as("p"), col("n"))
          .withColumn("pos", col("p") * (col("n") - 1).cast("double"))
          .withColumn("rlo", floor(col("pos")).cast("long"))
          .withColumn("rhi", ceil(col("pos")).cast("long"))
        val hitLo = col("rlo") >= col("lo_r") && col("rlo") < col("hi_r")
        val hitHi = col("rhi") >= col("lo_r") && col("rhi") < col("hi_r")
        val bnds = cum.join(broadcast(ks), hitLo || hitHi)
          .groupBy("id")
          .agg(max(when(hitLo, col("v"))).as("vlo"),
            max(when(hitHi, col("v"))).as("vhi"),
            max(col("pos")).as("pos"),
            max(col("rlo")).as("rlo"),
            max(col("rhi")).as("rhi"))
          .select(col("id"),
            when(col("rlo") === col("rhi"), col("vlo"))
              .otherwise(
                (col("rhi").cast("double") - col("pos")) * col("vlo") +
                  (col("pos") - col("rlo").cast("double")) * col("vhi"))
              .as("b"))
          .agg(expr(
            "transform(array_sort(collect_list(struct(id, b))), x -> x.b)")
            .as("bnds"))
        li.select(col("l_extendedprice").as("v"), col("l_partkey"))
          .crossJoin(broadcast(bnds))
          // bucket = #bounds strictly below v. Written as a SUM of 7
          // comparisons, not size(filter(bnds, b -> b < v)): the
          // higher-order filter() is a non-codegen expression and broke
          // whole-stage codegen exactly at the per-row hot path (the
          // plan's bucket Project carried no codegen star — guide §"
          // expressions and codegen"); the unrolled form is identical
          // on a sorted bounds array (null v: both yield bucket 0).
          .select(col("v"), col("l_partkey"),
            (0 until 7).map(k =>
              when(col("bnds").getItem(k) < col("v"), 1).otherwise(0))
              .reduce(_ + _).as("bucket"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("cnt"),
            countDistinct(col("l_partkey")).as("ndv"),
            round(min(col("v")), 2).as("lo"),
            round(max(col("v")), 2).as("hi"))
          .orderBy("bucket")
      },
      Some("""
        WITH qs AS (
          SELECT UNNEST(QUANTILE_CONT(l_extendedprice,
            [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875])) AS q
          FROM lineitem),
        assigned AS (
          SELECT l_extendedprice AS v, l_partkey,
            (SELECT COUNT(*) FROM qs WHERE q < v) AS bucket
          FROM lineitem)
        SELECT CAST(bucket AS INT) AS bucket, COUNT(*) AS cnt,
          COUNT(DISTINCT l_partkey) AS ndv,
          ROUND(MIN(v), 2) AS lo, ROUND(MAX(v), 2) AS hi
        FROM assigned GROUP BY 1 ORDER BY 1""")),

    // RENDEZVOUS (highest-random-weight) SHARDING — the coordination-
    // free shard router: each document hashes once per shard
    // (portable-md5, the q66/q158 device) and lands on the shard with
    // the highest weight; removing a shard reassigns ONLY that
    // shard's documents (the minimal-disruption property consistent
    // hashing is used for), with no ring state to store or rebalance.
    // The whole operator is a row-local scan→project (the 8-hash array
    // and its argmax never leave the row) followed by one 8-group
    // aggregation — zero joins, zero windows, embarrassingly parallel
    // at any scale. Tie-break: array_position takes the FIRST maximum
    // (= lowest shard id), mirrored by the oracle's ORDER BY wt DESC,
    // shard.
    Q("q186_rendezvous_shard",
      (s, d) => {
        t(s, d, "documents")
          .withColumn("wts", expr("""
            transform(sequence(0, 7), s ->
              cast(conv(substring(md5(concat(cast(doc_id as string), '#',
                cast(s as string))), 1, 13), 16, 10) as bigint))"""))
          .select(col("doc_id"), col("n_chars"),
            (array_position(col("wts"), array_max(col("wts"))) - 1)
              .cast("int").as("shard"))
          .groupBy("shard")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("total_chars"),
            min(col("doc_id")).as("min_doc"),
            max(col("doc_id")).as("max_doc"))
          .orderBy("shard")
      },
      Some("""
        WITH w AS (
          SELECT doc_id, n_chars, s.s AS shard,
            LIST_REDUCE(
              LIST_TRANSFORM(SPLIT(SUBSTRING(MD5(
                CAST(doc_id AS VARCHAR) || '#' || CAST(s.s AS VARCHAR)),
                1, 13), ''),
                c -> CAST(POSITION(c IN '0123456789abcdef') - 1 AS BIGINT)),
              (a, x) -> a * 16 + x) AS wt
          FROM documents CROSS JOIN (SELECT UNNEST(RANGE(0, 8)) AS s) s),
        ranked AS (
          SELECT doc_id, n_chars, shard,
            ROW_NUMBER() OVER (PARTITION BY doc_id
              ORDER BY wt DESC, shard) AS rn
          FROM w)
        SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
        FROM ranked WHERE rn = 1 GROUP BY shard ORDER BY shard""")),

    // LINEAR (multi-touch) ATTRIBUTION — q172's last-touch twin with
    // split credit: every view/click in the 24 h before a purchase
    // shares the conversion equally (1/k each). The trailing window
    // becomes an EQUI join by probing each purchase's day and the
    // previous day (the q59/q123 binned-interval device) with the
    // exact 24 h bound as a residual — the fanout per purchase is the
    // user's touches in ≤ 2 calendar days, never a per-user history
    // blowup. The 1/k split happens off a pid-partitioned window
    // count; the credit sum accumulates the identical IEEE 1/k terms
    // in decimal(28,18), so the total is order-free and hash-stable.
    Q("q191_linear_attribution",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = t(s, d, "events")
        val touches = ev.filter(col("event_type").isin("view", "click"))
          .select(col("user_id"), col("event_type").as("touch_type"),
            col("ts").as("tts"), date_trunc("day", col("ts")).as("td"))
        val probe = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("pid"), col("user_id"),
            col("ts").as("pts"))
          .withColumn("o", explode(sequence(lit(0), lit(1))))
          .select(col("pid"), col("user_id"), col("pts"),
            (date_trunc("day", col("pts"))
              - expr("INTERVAL '1' DAY") * col("o")).as("td"))
        val cand = probe.join(touches, Seq("user_id", "td"))
          .filter(col("tts") <= col("pts") &&
            col("tts") > col("pts") - expr("INTERVAL '1' DAY"))
          .select(col("pid"), col("touch_type"))
        cand
          .withColumn("n_touch",
            count(lit(1)).over(Window.partitionBy("pid")))
          .groupBy("touch_type")
          .agg(count(lit(1)).as("n_credited"),
            sum(when(col("n_touch") > 1, 1L).otherwise(0L)).as("n_shared"),
            round(sum((lit(1.0) / col("n_touch")).cast("decimal(28,18)"))
              .cast("string").cast("double"), 6).as("credit"))
          .orderBy("touch_type")
      },
      Some("""
        WITH touches AS (
          SELECT user_id, event_type AS touch_type, ts AS tts,
            DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS td
          FROM events WHERE event_type IN ('view', 'click')),
        purchases AS (
          SELECT event_id AS pid, user_id, ts AS pts
          FROM events WHERE event_type = 'purchase'),
        probe AS (
          SELECT pid, user_id, pts,
            DATE_TRUNC('day', CAST(pts AS TIMESTAMP))
              - o.o * INTERVAL 1 DAY AS td
          FROM purchases CROSS JOIN (SELECT UNNEST(RANGE(0, 2)) AS o) o),
        cand AS (
          SELECT p.pid, t.touch_type
          FROM probe p JOIN touches t
            ON t.user_id = p.user_id AND t.td = p.td
          WHERE t.tts <= p.pts AND t.tts > p.pts - INTERVAL 1 DAY),
        k AS (SELECT pid, COUNT(*) AS n_touch FROM cand GROUP BY 1),
        credit AS (
          SELECT c.touch_type, k.n_touch FROM cand c JOIN k USING (pid))
        SELECT touch_type, COUNT(*) AS n_credited,
          CAST(SUM(CASE WHEN n_touch > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_shared,
          ROUND(CAST(CAST(SUM(CAST(CAST(1.0 AS DOUBLE) / n_touch
            AS DECIMAL(28,18))) AS VARCHAR) AS DOUBLE), 6) AS credit
        FROM credit GROUP BY 1 ORDER BY 1""")),

    // SKYLINE / PARETO FRONTIER — the multi-objective selection
    // primitive (cheapest part at every size level: minimize
    // p_retailprice, maximize p_size; a part survives iff nothing is
    // simultaneously ≤ price and ≥ size with one strict). The naive
    // formulation is an all-pairs dominance NOT EXISTS (the oracle,
    // which stays independent brute force) — no 100 TB shape. The scale
    // device composes two existing ones: (1) bucket the DISTINCT-price
    // dictionary into 32 monotone range buckets via ntileByCdf (equal
    // prices always share a bucket, so bucket(q) < bucket(r) ⟹
    // q.price < r.price strictly); (2) per (bucket, price) group-max of
    // size, then a PARTITIONED running max inside each bucket plus a
    // 32-row bucket-prefix frame broadcast back. A row is on the
    // frontier iff it holds its price's max size AND beats the combined
    // strictly-lower-price max — every window is bucket-local or
    // 32-row, the fact frame never globally sorts, and cross-bucket
    // dominance is a broadcast join. Frontier rows of random data are
    // O(log n): the output is metadata-sized however large the input.
    Q("q214_skyline",
      (s, d) => graft.ops.Relational.paretoFrontier2d(
          t(s, d, "part")
            .select(col("p_partkey"), col("p_size"), col("p_retailprice")),
          "p_retailprice", "p_size")
        .select("p_partkey", "p_size", "p_retailprice")
        .orderBy("p_partkey"),
      Some("""
        SELECT r.p_partkey, r.p_size, r.p_retailprice
        FROM part r
        WHERE NOT EXISTS (
          SELECT 1 FROM part q
          WHERE q.p_retailprice <= r.p_retailprice
            AND q.p_size >= r.p_size
            AND (q.p_retailprice < r.p_retailprice OR q.p_size > r.p_size))
        ORDER BY r.p_partkey""")),

    // SKETCHED SOURCE OVERLAP — the mergeable-HLL scale path of q177's
    // exact vocabulary overlap, and the operation that shows WHY
    // sketches must merge: per-source HLL sketches are built in ONE
    // dictionary pass, then every pairwise union/intersection estimate
    // is hll_union of two BINARY registers on the |sources|² frame — no
    // token re-scan per pair, which is what makes all-pairs overlap
    // feasible when sources are corpora of 10¹⁰ tokens each.
    // Intersection rides inclusion–exclusion (î = â + b̂ − û). Gate
    // discipline is q169's: HLL register merges are order-free max()es
    // so the estimates are deterministic, but only the EXACT counts and
    // the error-contract booleans are surfaced (|î − i| ≤ 15 % of the
    // size sum — triple the three compounded 5 % rsd's); a real
    // deployment deletes the exact columns and keeps the sketches.
    Q("q220_sketch_overlap",
      (s, d) => {
        val st = t(s, d, "documents")
          .select(col("source"), explode(split(col("text"), " ")).as("tok"))
          .distinct()
          .cache() // sketch build + exact evidence read the same frame
        val sk = st.groupBy("source").agg(
          hll_sketch_agg(col("tok"), lit(14)).as("sk"),
          count(lit(1)).as("v")) // st is distinct: count == exact distinct
        val pairs = sk.alias("a").crossJoin(broadcast(sk.alias("b")))
          .filter(col("a.source") < col("b.source"))
          .select(col("a.source").as("src1"), col("b.source").as("src2"),
            col("a.v").as("v1"), col("b.v").as("v2"),
            hll_sketch_estimate(col("a.sk")).as("e1"),
            hll_sketch_estimate(col("b.sk")).as("e2"),
            hll_sketch_estimate(hll_union(col("a.sk"), col("b.sk")))
              .as("eu"))
        val exact = st.alias("x").join(st.alias("y"), Seq("tok"))
          .filter(col("x.source") < col("y.source"))
          .groupBy(col("x.source").as("src1"), col("y.source").as("src2"))
          .agg(count(lit(1)).as("inter"))
        pairs.join(exact, Seq("src1", "src2"), "left")
          .select(col("src1"), col("src2"),
            coalesce(col("inter"), lit(0L)).as("inter"),
            (col("v1") + col("v2") - coalesce(col("inter"), lit(0L)))
              .as("un"),
            (abs(col("e1") + col("e2") - col("eu")
                - coalesce(col("inter"), lit(0L)).cast("double"))
              <= (col("v1") + col("v2")).cast("double") * lit(0.15d))
              .as("inter_ok"),
            (abs(col("eu") - (col("v1") + col("v2")
                - coalesce(col("inter"), lit(0L))).cast("double"))
              <= (col("v1") + col("v2")).cast("double") * lit(0.15d))
              .as("union_ok"))
          .orderBy("src1", "src2")
      },
      Some("""
        WITH st AS (
          SELECT DISTINCT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok
          FROM documents),
        sizes AS (SELECT source, COUNT(*) AS v FROM st GROUP BY source),
        inter AS (
          SELECT a.source AS src1, b.source AS src2, COUNT(*) AS inter
          FROM st a JOIN st b USING (tok)
          WHERE a.source < b.source GROUP BY 1, 2),
        pairs AS (
          SELECT sa.source AS src1, sb.source AS src2, sa.v AS v1,
            sb.v AS v2, COALESCE(i.inter, 0) AS inter
          FROM sizes sa JOIN sizes sb ON sa.source < sb.source
          LEFT JOIN inter i ON i.src1 = sa.source AND i.src2 = sb.source)
        SELECT src1, src2, CAST(inter AS BIGINT) AS inter,
          CAST(v1 + v2 - inter AS BIGINT) AS un,
          TRUE AS inter_ok, TRUE AS union_ok
        FROM pairs ORDER BY src1, src2""")),

    // DICTIONARY-ENCODING PLANNER — the choose-your-column-encoding
    // decision every columnar layout job makes (parquet/ORC dictionary
    // pages, warehouse ENCODE clauses): for each candidate string
    // column, ONE unpivoted scan builds the value-frequency dictionary,
    // and the per-column verdict is closed-form integer arithmetic —
    // raw bytes vs (distinct-value bytes + n·⌈log₂ distinct⌉ bits of
    // codes). ⌈log₂⌉ is computed portably as LENGTH(BIN(distinct−1))
    // (no engine's float log touches the gate). The four arms are
    // chosen to exercise both verdicts: low-cardinality event_type
    // (dict wins big), mid-cardinality props/user_id, and a unique
    // event key (dict LOSES — the distinct pages cost more than they
    // save). Scale shape: the fact table is read once; everything
    // after the (col, val) dictionary is |columns|-bounded. At 100 TB
    // the exact distinct swaps for the q169 HLL profile; the gate
    // keeps the exact form.
    Q("q227_dict_encoding_plan",
      (s, d) => {
        val unp = t(s, d, "events").select(expr(
          "stack(4, 'event_type', event_type, 'props', props, " +
            "'user_id_str', cast(user_id as string), " +
            "'event_key', concat(cast(event_id as string), ':', event_type)) " +
            "as (col_name, val)"))
          .filter(col("val").isNotNull)
        val vf = unp.groupBy("col_name", "val")
          .agg(count(lit(1)).as("cnt"))
          .select(col("col_name"), col("cnt"),
            octet_length(col("val")).cast("long").as("len"))
        val prof = vf.groupBy("col_name").agg(
          sum("cnt").as("n_rows"),
          count(lit(1)).as("n_distinct"),
          sum(col("len") * col("cnt")).as("raw_bytes"),
          sum("len").as("distinct_bytes"))
        prof
          .withColumn("code_bits",
            when(col("n_distinct") <= 1, lit(1L))
              .otherwise(length(bin(col("n_distinct") - 1)).cast("long")))
          .withColumn("dict_bytes", col("distinct_bytes") +
            expr("(n_rows * code_bits + 7) DIV 8"))
          .select(col("col_name"), col("n_rows"), col("n_distinct"),
            col("raw_bytes"), col("code_bits"), col("dict_bytes"),
            (col("dict_bytes") < col("raw_bytes")).as("dict_wins"))
          .orderBy("col_name")
      },
      Some("""
        WITH unp AS (
          SELECT 'event_type' AS col_name, event_type AS val FROM events
          UNION ALL
          SELECT 'props', props FROM events
          UNION ALL
          SELECT 'user_id_str', CAST(user_id AS VARCHAR) FROM events
          UNION ALL
          SELECT 'event_key',
            CAST(event_id AS VARCHAR) || ':' || event_type FROM events),
        vf AS (
          SELECT col_name, val, COUNT(*) AS cnt, STRLEN(val) AS len
          FROM unp WHERE val IS NOT NULL
          GROUP BY col_name, val, STRLEN(val)),
        prof AS (
          SELECT col_name,
            CAST(SUM(cnt) AS BIGINT) AS n_rows,
            COUNT(*) AS n_distinct,
            CAST(SUM(len * cnt) AS BIGINT) AS raw_bytes,
            CAST(SUM(len) AS BIGINT) AS distinct_bytes
          FROM vf GROUP BY 1),
        bits AS (
          SELECT *, CAST(CASE WHEN n_distinct <= 1 THEN 1
            ELSE LENGTH(BIN(n_distinct - 1)) END AS BIGINT) AS code_bits
          FROM prof)
        SELECT col_name, n_rows, n_distinct, raw_bytes, code_bits,
          CAST(distinct_bytes + (n_rows * code_bits + 7) // 8 AS BIGINT)
            AS dict_bytes,
          (distinct_bytes + (n_rows * code_bits + 7) // 8) < raw_bytes
            AS dict_wins
        FROM bits ORDER BY col_name""")),

    // INCREMENTAL JOIN MAINTENANCE — q174's IVM device extended from
    // aggregates to JOINS: a materialized join view V = F ⋈ D absorbs
    // new data via the delta algebra ΔV = ΔF⋈D ∪ F⋈ΔD ∪ ΔF⋈ΔD — the
    // base view is NEVER re-joined or re-scanned; only its aggregate
    // partials merge with the three delta terms' partials (partials
    // stay DECIMAL until the final surface cast, so re-aggregation is
    // exact). At scale the deltas are batch-sized: ΔF⋈D shuffles only
    // the delta, F⋈ΔD broadcasts ΔD, ΔF⋈ΔD is tiny. The oracle is the
    // FLAT recompute over everything, so the hash gate IS the proof
    // that the delta algebra loses and duplicates nothing (the
    // maintenance-≡-recompute contract).
    Q("q230_incremental_join",
      (s, d) => {
        val L = t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"))
        val O = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"))
        val lOld = L.filter(col("l_orderkey") % 5 =!= 0)
        val lNew = L.filter(col("l_orderkey") % 5 === 0)
        val oOld = O.filter(col("o_orderkey") % 7 =!= 0)
        val oNew = O.filter(col("o_orderkey") % 7 === 0)
        def part(lf: org.apache.spark.sql.DataFrame,
                 of: org.apache.spark.sql.DataFrame, bcast: Boolean) = {
          val j = if (bcast) lf.join(broadcast(of),
              col("l_orderkey") === col("o_orderkey"))
            else lf.join(of, col("l_orderkey") === col("o_orderkey"))
          j.groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"),
              sum(col("l_extendedprice").cast(DEC)).as("rev"))
        }
        part(lOld, oOld, bcast = false)
          .unionByName(part(lNew, oOld, bcast = false))
          .unionByName(part(lOld, oNew, bcast = true))
          .unionByName(part(lNew, oNew, bcast = true))
          .groupBy("o_orderpriority")
          .agg(sum("n").as("n_items"),
            sum("rev").cast(DEC).cast("string").cast("double")
              .as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""
        SELECT o_orderpriority, COUNT(*) AS n_items,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6)))
            AS VARCHAR) AS DOUBLE) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // DELETION-VECTOR READ — the merge-on-read delete exercised END TO
    // END through the table format (the storage twin of q152's deletion
    // audit): documents land in a manifest table partitioned by lang,
    // two right-to-be-forgotten batches arrive as VECTOR deletes
    // (doc_id % 7 = 0, then doc_id % 11 = 3 — the second ACCUMULATES
    // onto partitions the first already touched), no data file is
    // rewritten (O(deleted keys) I/O — the shape a daily GDPR drip
    // needs at 100 TB), and the snapshot read anti-joins the sidecars
    // per touched partition. The oracle states the post-delete table
    // directly; the gate therefore proves hidden rows stay hidden
    // across accumulated vectors. Compaction/upsert materialization is
    // pinned by ManifestStoreSpec (resurrection, clearing, GC).
    Q("q242_vector_delete_read",
      (s, d) => {
        val root = graft.core.ScratchDirs.create("q242_")
        val docs = t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars"), lit(1L).as("seq"))
        graft.graph.ManifestStore.upsert(
          root, Seq("doc_id"), "seq", Nil, Seq("lang"))(docs)
        val keyCols = docs.select(col("doc_id"), col("lang"))
        graft.graph.ManifestStore.deleteKeysVector(
          root, Seq("doc_id"), Seq("lang"))(
          keyCols.filter(col("doc_id") % 7 === 0))
        graft.graph.ManifestStore.deleteKeysVector(
          root, Seq("doc_id"), Seq("lang"))(
          keyCols.filter(col("doc_id") % 11 === 3))
        graft.graph.ManifestStore.read(s, root)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            min(col("doc_id")).as("min_doc"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          MIN(doc_id) AS min_doc
        FROM documents
        WHERE doc_id % 7 <> 0 AND doc_id % 11 <> 3
        GROUP BY lang ORDER BY lang""")),

    // CHANGE DATA FEED — the table format's OUTPUT side of CDC (q38/q88
    // APPLY the feed; this query PRODUCES one): commit v1 lands the
    // corpus, commit v2 upserts a mixed batch (updates on the %5
    // residue bump n_chars by 1000 and seq to 2; brand-new keys on the
    // %50 residue insert at +10⁹), and ManifestStore.changes(v1, v2)
    // diffs the two retained versions ROW-LEVEL — reading only
    // partitions whose manifest entry moved (carry-forward by
    // reference makes unchanged partitions free), full-outer-joining
    // on the key within them, and classifying insert/update/delete
    // with post-/pre-images. Unchanged rows inside rewritten
    // partitions must produce NOTHING — that is the hash-compare the
    // oracle pins, alongside the per-class row accounting.
    Q("q245_change_data_feed",
      (s, d) => {
        val root = graft.core.ScratchDirs.create("q245_")
        val docs = t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars"), lit(1L).as("seq"))
        graft.graph.ManifestStore.upsert(
          root, Seq("doc_id"), "seq", Nil, Seq("lang"))(docs)
        val updates = docs.filter(col("doc_id") % 5 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("seq", lit(2L))
        val inserts = docs.filter(col("doc_id") % 50 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000000L)
          .withColumn("n_chars", col("n_chars") + 7L)
        graft.graph.ManifestStore.upsert(
          root, Seq("doc_id"), "seq", Nil, Seq("lang"))(
          updates.unionByName(inserts))
        graft.graph.ManifestStore.changes(s, root, 1L, 2L, Seq("doc_id"))
          .groupBy(col("_change_type").as("change_type"), col("lang"))
          .agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("sum_chars"))
          .orderBy("change_type", "lang")
      },
      Some("""
        WITH feed AS (
          SELECT 'update' AS change_type, lang, n_chars + 1000 AS n_chars
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT 'insert', lang, n_chars + 7
          FROM documents WHERE doc_id % 50 = 0)
        SELECT change_type, lang, COUNT(*) AS n,
          CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM feed GROUP BY 1, 2 ORDER BY change_type, lang""")),

    // INCREMENTAL VIEW MAINTENANCE OFF THE CHANGE FEED — what the feed
    // is FOR: a downstream per-lang aggregate is maintained by applying
    // q245's row-level deltas to the PREVIOUS materialization instead
    // of rescanning the table — the q174/q230 incremental-maintenance
    // algebra with the manifest's CDF as the delta source. Commit v2
    // carries updates (%5: +1000 chars, including every %50 doc — the
    // overlap the delta algebra must not double-count), inserts (new
    // keys at +10⁹, +7 chars), and a COW delete (%9 non-%5 docs leave).
    // Maintenance: old agg (from readVersion v1) + feed deltas, where
    // an update contributes (post − pre) via the feed's post-image and
    // the pre-image RECOVERED from the v1 snapshot by key — count
    // unchanged, sum shifted. The gate proves maintained ≡ recompute:
    // the oracle states the FINAL table directly, so any missed or
    // double-counted delta class hash-fails.
    Q("q254_incremental_view_maintenance",
      (s, d) => {
        val root = graft.core.ScratchDirs.create("q254_")
        val M = graft.graph.ManifestStore
        val docs = t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
            col("n_chars").cast("long").as("n_chars"), lit(1L).as("seq"))
        M.upsert(root, Seq("doc_id"), "seq", Nil, Seq("lang"))(docs)
        // v2: one upsert with updates + inserts …
        val updates = docs.filter(col("doc_id") % 5 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L)
          .withColumn("seq", lit(2L))
        val inserts = docs.filter(col("doc_id") % 50 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000000L)
          .withColumn("n_chars", col("n_chars") + 7L)
        M.upsert(root, Seq("doc_id"), "seq", Nil, Seq("lang"))(
          updates.unionByName(inserts))
        // … then v3: a COW delete, so the feed window (v2, v3) would
        // only see deletes — maintenance below consumes (v1, v2) FIRST,
        // which is why it runs before the delete commit
        // ONE v1 read shared by the aggregate and the pre-image lookup
        // (everything below folds into the localCheckpoint, so no
        // .cache() — pinned blocks would outlive their single use)
        val v1 = M.readVersion(s, root, 1L).cache()
        val aggV1 = v1
          .groupBy("lang").agg(count(lit(1)).as("n"),
            sum(col("n_chars")).as("chars"))
        val feed12 = M.changes(s, root, 1L, 2L, Seq("doc_id"))
        val v1ByKey = v1
          .select(col("doc_id"), col("n_chars").as("pre_chars"))
        // delta per lang from the feed: inserts add (1, chars); updates
        // add (0, post − pre); deletes would add (−1, −pre)
        val deltas = feed12
          .join(v1ByKey, Seq("doc_id"), "left")
          .groupBy("lang").agg(
            sum(when(col("_change_type") === "insert", 1L)
              .when(col("_change_type") === "delete", -1L)
              .otherwise(0L)).as("dn"),
            sum(when(col("_change_type") === "insert", col("n_chars"))
              .when(col("_change_type") === "delete", -col("pre_chars"))
              .otherwise(col("n_chars") - col("pre_chars"))).as("dchars"))
        val maintained = aggV1.alias("a")
          .join(deltas.alias("f"), Seq("lang"), "full_outer")
          .select(col("lang"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n_docs"),
            (coalesce(col("chars"), lit(0L)) +
              coalesce(col("dchars"), lit(0L))).as("total_chars"))
          // MATERIALIZE before the next commit: v1 leaves the GC grace
          // window when v3 publishes (manifests and generations are
          // retained current+previous only), so a lazy plan over the v1
          // snapshot would read deleted files. This is the real
          // operational rule of consuming a change feed: finish reading
          // a version before the retention horizon passes it.
          .localCheckpoint(true)
        v1.unpersist(blocking = false) // folded into the checkpoint above
        // now the v3 delete; maintain THROUGH it with the (v2, v3) feed
        M.deleteKeys(root, Seq("doc_id"), Seq("lang"))(
          docs.filter(col("doc_id") % 9 === 0 && col("doc_id") % 5 =!= 0)
            .select("doc_id", "lang"))
        val v2ByKey = M.readVersion(s, root, 2L)
          .select(col("doc_id"), col("n_chars").as("pre_chars"))
        val deltas23 = M.changes(s, root, 2L, 3L, Seq("doc_id"))
          .join(v2ByKey, Seq("doc_id"), "left")
          .groupBy("lang").agg(
            sum(when(col("_change_type") === "insert", 1L)
              .when(col("_change_type") === "delete", -1L)
              .otherwise(0L)).as("dn"),
            sum(when(col("_change_type") === "insert", col("n_chars"))
              .when(col("_change_type") === "delete", -col("pre_chars"))
              .otherwise(col("n_chars") - col("pre_chars"))).as("dchars"))
        maintained.alias("m")
          .join(deltas23.alias("g"), Seq("lang"), "full_outer")
          .select(col("lang"),
            (coalesce(col("n_docs"), lit(0L)) +
              coalesce(col("dn"), lit(0L))).as("n_docs"),
            (coalesce(col("total_chars"), lit(0L)) +
              coalesce(col("dchars"), lit(0L))).as("total_chars"))
          .orderBy("lang")
      },
      Some("""
        WITH final_t AS (
          SELECT lang,
            CASE WHEN doc_id % 5 = 0 THEN n_chars + 1000 ELSE n_chars END
              AS n_chars
          FROM documents
          WHERE NOT (doc_id % 9 = 0 AND doc_id % 5 <> 0)
          UNION ALL
          SELECT lang, n_chars + 7 FROM documents WHERE doc_id % 50 = 0)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM final_t GROUP BY lang ORDER BY lang"""))
  )

  /** Canonical Hilbert xy2d (order 8, 256×256 grid) unrolled to named
    * straight-line steps in ENGINE-NEUTRAL SQL: column (x_i, y_i, d_i)
    * chains with only CASE / integer arithmetic, spliced verbatim into
    * the Spark plan and the DuckDB oracle of q167. The rotation flip
    * uses the full grid constant (n−1 = 255), per the canonical
    * algorithm; (3rx)^ry is algebraized to 3rx + ry − 2·rx·ry. */
  // lazy: referenced by the qs initializer above its definition site
  private[graft] lazy val hilbertSteps: Seq[(String, String)] =
    (0 until 8).flatMap { i =>
      val s = 1 << (7 - i)
      val j = i + 1
      Seq(
        s"rx$j" -> s"CASE WHEN (x$i & $s) > 0 THEN 1 ELSE 0 END",
        s"ry$j" -> s"CASE WHEN (y$i & $s) > 0 THEN 1 ELSE 0 END",
        s"d$j" -> s"d$i + ${s * s} * (3 * rx$j + ry$j - 2 * rx$j * ry$j)",
        s"x$j" -> (s"CASE WHEN ry$j = 1 THEN x$i WHEN rx$j = 0 THEN y$i " +
          s"ELSE 255 - y$i END"),
        s"y$j" -> (s"CASE WHEN ry$j = 1 THEN y$i WHEN rx$j = 0 THEN x$i " +
          s"ELSE 255 - x$i END"))
    }
}
