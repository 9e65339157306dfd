package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QH._

/** Join operator families (SURVEY.md §2.4): dim joins, anti/semi, time
  * offset, interval containment, spine densification, as-of. Small dims
  * are broadcast explicitly; the as-of join uses the union+window merge
  * (linear, no theta-join blowup at scale).
  */
object JoinQueries {

  val qs: Seq[Q] = Seq(
    // J2 multi-hop dim join with broadcast (orderbook:98–102).
    Q("q19_join_3way",
      (s, d) => {
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        val r = t(s, d, "region")
        c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_cust"),
            decSum(col("c_acctbal")).as("total_bal"))
          .orderBy("r_name")
      },
      Some("""
        SELECT r_name, COUNT(*) AS n_cust,
          CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS total_bal
        FROM customer
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name""")),

    // J3 left anti join (transactions:1556–1560 MM exclusion).
    Q("q20_anti_join",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey, c_name FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        ORDER BY c_custkey""")),

    // Left semi join (whitelist filter, orderbook:98–102 / rewards:101–103).
    Q("q21_semi_join",
      (s, d) => {
        val c = t(s, d, "customer")
        val o = t(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
        c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""
        SELECT c_custkey, c_mktsegment FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
          WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
        ORDER BY c_custkey""")),

    // J10 spine densification: hour spine × dims, left join facts, fill 0
    // (transactions:837–842, mm-uptime-v3:102–113).
    Q("q22_spine_densify",
      (s, d) => {
        val ev = t(s, d, "events")
        val spine = ev
          .agg(date_trunc("hour", min(col("ts"))).as("mn"),
            date_trunc("hour", max(col("ts"))).as("mx"))
          .select(explode(expr("sequence(mn, mx, interval 1 hour)")).as("h"))
        val types = ev.select(col("event_type")).distinct()
        val counts = ev
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        spine.crossJoin(broadcast(types))
          .join(counts, Seq("h", "event_type"), "left")
          .select(col("h"), col("event_type"),
            coalesce(col("cnt"), lit(0L)).as("cnt"))
          .orderBy("h", "event_type")
      },
      Some("""
        WITH b AS (
          SELECT CAST(DATE_TRUNC('hour', CAST(MIN(ts) AS TIMESTAMP)) AS TIMESTAMP) AS mn,
                 CAST(DATE_TRUNC('hour', CAST(MAX(ts) AS TIMESTAMP)) AS TIMESTAMP) AS mx
          FROM events),
        spine AS (SELECT UNNEST(GENERATE_SERIES(mn, mx, INTERVAL 1 HOUR)) AS h FROM b),
        types AS (SELECT DISTINCT event_type FROM events),
        counts AS (
          SELECT CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
                 event_type, COUNT(*) AS cnt
          FROM events GROUP BY 1, 2)
        SELECT s.h, t.event_type, COALESCE(c.cnt, 0) AS cnt
        FROM spine s CROSS JOIN types t
        LEFT JOIN counts c ON c.h = s.h AND c.event_type = t.event_type
        ORDER BY s.h, t.event_type""")),

    // J5 offset equi join: current hour ↔ prior hour (transactions:1023–1044).
    Q("q23_offset_join",
      (s, d) => {
        val hourly = t(s, d, "events")
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val prev = hourly.select(col("h").as("ph"),
          col("event_type").as("pt"), col("cnt").as("prev_cnt"))
        hourly.join(prev,
            col("h") === col("ph") + expr("interval 1 hour") &&
              col("event_type") === col("pt"), "left")
          .select(col("h"), col("event_type"), col("cnt"), col("prev_cnt"))
          .orderBy("h", "event_type")
      },
      Some("""
        WITH hourly AS (
          SELECT CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
                 event_type, COUNT(*) AS cnt
          FROM events GROUP BY 1, 2)
        SELECT a.h, a.event_type, a.cnt, b.cnt AS prev_cnt
        FROM hourly a
        LEFT JOIN hourly b
          ON a.h = b.h + INTERVAL 1 HOUR AND a.event_type = b.event_type
        ORDER BY a.h, a.event_type""")),

    // J7 interval containment: equi key + range residual (amplitude:186–197).
    Q("q24_interval_containment",
      (s, d) => {
        val o = t(s, d, "orders")
        val l = t(s, d, "lineitem")
        l.join(o, col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") >= col("o_orderdate") &&
            col("l_shipdate") < col("o_orderdate") + expr("interval 60 days"))
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n_shipped_60d"))
          .orderBy("o_orderkey")
      },
      Some("""
        SELECT o_orderkey, COUNT(*) AS n_shipped_60d
        FROM lineitem JOIN orders
          ON l_orderkey = o_orderkey
          AND l_shipdate >= o_orderdate
          AND l_shipdate < o_orderdate + INTERVAL 60 DAY
        GROUP BY o_orderkey ORDER BY o_orderkey""")),

    // J6 as-of join: latest prior 'view' per 'purchase', same user
    // (rewards:275–288 trades-after-referral). Spark impl is the
    // union+window merge: one shuffle on user_id, linear at scale —
    // no theta-join blowup.
    Q("q25_asof_join",
      (s, d) => {
        val ev = t(s, d, "events")
          .filter(col("event_type").isin("view", "purchase"))
        // views sort before purchases at equal ts => inclusive (<=) as-of
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"),
            when(col("event_type") === "view", 0).otherwise(1),
            col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev.withColumn("prior_view_ts",
            last(when(col("event_type") === "view", col("ts")), ignoreNulls = true).over(w))
          .withColumn("prior_view_id",
            last(when(col("event_type") === "view", col("event_id")), ignoreNulls = true).over(w))
          .filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            col("prior_view_ts"), col("prior_view_id"))
          .orderBy("purchase_id")
      },
      Some("""
        SELECT p.event_id AS purchase_id, p.user_id,
          v.ts AS prior_view_ts, v.event_id AS prior_view_id
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN LATERAL (
          SELECT CAST(e.ts AS TIMESTAMP) AS ts, e.event_id
          FROM events e
          WHERE e.user_id = p.user_id AND e.event_type = 'view'
            AND e.ts <= p.ts
          ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) v ON TRUE
        ORDER BY purchase_id""")),

    // J8 self interval-overlap join via bin bucketing — the Spark-native
    // replacement for Databricks' RANGE_JOIN hint (mm-uptime-v2:35–73):
    // 30-min view/click activity windows per user, overlap pairs counted
    // and measured without a quadratic theta join.
    Q("q59_interval_overlap",
      (s, d) => {
        val ev = t(s, d, "events")
        def side(tpe: String, p: String) = ev.filter(col("event_type") === tpe)
          .select(col("user_id"), col("ts").as(s"${p}_start"),
            (col("ts") + expr("interval 30 minutes")).as(s"${p}_end"))
        val v = side("view", "v")
        val c = side("click", "c")
        graft.ops.Relational.rangeJoinBinned(v, c,
            col("v_start"), col("v_end"), col("c_start"), col("c_end"),
            Seq("user_id"), binSeconds = 1800L)
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_overlap"),
            sum(unix_timestamp(least(col("v_end"), col("c_end")))
              - unix_timestamp(greatest(col("v_start"), col("c_start"))))
              .as("overlap_secs"))
          .orderBy("user_id")
      },
      Some("""
        WITH v AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS s,
                 CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS e
          FROM events WHERE event_type = 'view'),
        c AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS s,
                 CAST(ts AS TIMESTAMP) + INTERVAL 30 MINUTE AS e
          FROM events WHERE event_type = 'click')
        SELECT v.user_id, COUNT(*) AS n_overlap,
          CAST(SUM(CAST(FLOOR(EPOCH(LEAST(v.e, c.e))) AS BIGINT)
            - CAST(FLOOR(EPOCH(GREATEST(v.s, c.s))) AS BIGINT)) AS BIGINT)
            AS overlap_secs
        FROM v JOIN c ON v.user_id = c.user_id
          AND v.s < c.e AND v.e > c.s
        GROUP BY v.user_id ORDER BY v.user_id""")),

    // SEMI-JOIN REDUCTION with a bloom filter — the shuffle-volume
    // optimization that matters most at 100 TB: when a selective dim
    // filter survives only a sliver of join keys, shuffling the whole
    // fact side to discover non-matches is wasted I/O. Build a bloom
    // over the dim keys (graft_bloom_agg — Spark's own
    // BloomFilterAggregate, bounded bytes regardless of dim size),
    // deliver it to the fact side as a SCALAR SUBQUERY (exactly the
    // plan InjectRuntimeFilter produces when its multi-GB thresholds
    // fire), and prune the fact scan BEFORE its exchange. False
    // positives pass the bloom and die in the exact join, so the
    // result is IDENTICAL to the plain join — the oracle is the plain
    // join. xxhash64 only needs to agree between build and probe,
    // never with the oracle engine.
    Q("q109_bloom_prune",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders_bp")
        t(s, d, "lineitem").createOrReplaceTempView("lineitem_bp")
        s.sql("""
          WITH dim AS (
            SELECT o_orderkey FROM orders_bp
            WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
          SELECT l.l_returnflag, COUNT(*) AS n,
            CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6)))
              AS STRING) AS DOUBLE) AS rev
          FROM lineitem_bp l
          JOIN dim ON l.l_orderkey = dim.o_orderkey
          WHERE graft_might_contain(
            (SELECT graft_bloom_agg(xxhash64(o_orderkey)) FROM dim),
            xxhash64(l.l_orderkey))
          GROUP BY l.l_returnflag ORDER BY l.l_returnflag""")
      },
      Some("""
        WITH dim AS (
          SELECT o_orderkey FROM orders
          WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000)
        SELECT l.l_returnflag, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,6)))
            AS VARCHAR) AS DOUBLE) AS rev
        FROM lineitem l JOIN dim ON l.l_orderkey = dim.o_orderkey
        GROUP BY l.l_returnflag ORDER BY l.l_returnflag""")),

    // SALTED skew join, oracle-gated on real data (the shuffle-shape
    // bound lives in OpsScaleSpec; this row gates the SEMANTICS): the
    // events fact joins a per-type rates dim on `event_type` — a
    // 5-value key, the canonical hot-key shape where one reducer
    // receives a fifth of 100 TB. [[graft.ops.Relational.saltedJoin]]
    // appends pmod(xxhash64(event_id), 16) to the fact key and
    // explodes the dim across all 16 salts, so each hot key spreads
    // over 16 reducers; the salt derives from a COLUMN, never rand(),
    // so retries/replays/AQE re-plans see identical rows. The result
    // is provably the plain join — which is the oracle.
    Q("q110_salted_join",
      (s, d) => {
        import s.implicits._
        val ev = t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("event_type"))
        val rates = Seq(("click", 10L), ("view", 1L), ("purchase", 100L),
          ("signup", 50L), ("error", -20L)).toDF("event_type", "pts")
        graft.ops.Relational.saltedJoin(
            ev, rates, Seq("event_type"), col("event_id"), nSalts = 16)
          .groupBy("user_id")
          .agg(sum(col("pts")).as("score"), count(lit(1)).as("n_events"))
          .orderBy("user_id")
      },
      Some("""
        WITH rates(event_type, pts) AS (VALUES
          ('click', 10), ('view', 1), ('purchase', 100),
          ('signup', 50), ('error', -20))
        SELECT user_id, CAST(SUM(pts) AS BIGINT) AS score,
          COUNT(*) AS n_events
        FROM events e JOIN rates r USING (event_type)
        GROUP BY user_id ORDER BY user_id""")),

    // J6 completion — NEAREST as-of (pandas merge_asof direction=
    // 'nearest'): each purchase pairs with whichever view is closest in
    // time, looking BOTH ways; ties at equal distance resolve backward
    // (the causal side). Same union+window device as q25, run in both
    // frame directions over ONE user_id partitioning — still a single
    // shuffle, no theta join; the nearest choice is row-local CASE
    // arithmetic on the two candidates, integer microseconds
    // throughout. (At equal timestamps views sort before purchases, so
    // an equal-ts view is a 0-delta BACKWARD candidate and the forward
    // frame starts strictly after — mirrored by the oracle's <= / >
    // bounds.)
    Q("q210_asof_nearest",
      (s, d) => {
        val ev = t(s, d, "events")
          .filter(col("event_type").isin("view", "purchase"))
        val ord = Window.partitionBy("user_id")
          .orderBy(col("ts"),
            when(col("event_type") === "view", 0).otherwise(1),
            col("event_id"))
        val back = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val fwd = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val vTs = when(col("event_type") === "view", col("ts"))
        val vId = when(col("event_type") === "view", col("event_id"))
        val cand = ev
          .withColumn("b_ts", last(vTs, ignoreNulls = true).over(back))
          .withColumn("b_id", last(vId, ignoreNulls = true).over(back))
          .withColumn("f_ts", first(vTs, ignoreNulls = true).over(fwd))
          .withColumn("f_id", first(vId, ignoreNulls = true).over(fwd))
          .filter(col("event_type") === "purchase")
        val bd = unix_micros(col("ts")) - unix_micros(col("b_ts"))
        val fd = unix_micros(col("f_ts")) - unix_micros(col("ts"))
        cand.select(
          col("event_id").as("purchase_id"), col("user_id"),
          when(col("b_id").isNull && col("f_id").isNull, lit(null))
            .when(col("f_id").isNull, col("b_id"))
            .when(col("b_id").isNull, col("f_id"))
            .when(fd < bd, col("f_id")).otherwise(col("b_id")).as("view_id"),
          when(col("b_id").isNull && col("f_id").isNull,
            lit(null).cast("string"))
            .when(col("f_id").isNull, lit("backward"))
            .when(col("b_id").isNull, lit("forward"))
            .when(fd < bd, lit("forward")).otherwise(lit("backward"))
            .as("direction"),
          when(col("b_id").isNull && col("f_id").isNull,
            lit(null).cast("long"))
            .when(col("f_id").isNull, bd)
            .when(col("b_id").isNull, fd)
            .otherwise(least(bd, fd)).as("delta_us"))
          .orderBy("purchase_id")
      },
      Some("""
        SELECT p.event_id AS purchase_id, p.user_id,
          CASE
            WHEN b.event_id IS NULL AND f.event_id IS NULL THEN NULL
            WHEN f.event_id IS NULL THEN b.event_id
            WHEN b.event_id IS NULL THEN f.event_id
            WHEN EPOCH_US(f.ts) - EPOCH_US(CAST(p.ts AS TIMESTAMP))
                 < EPOCH_US(CAST(p.ts AS TIMESTAMP)) - EPOCH_US(b.ts) THEN f.event_id
            ELSE b.event_id END AS view_id,
          CASE
            WHEN b.event_id IS NULL AND f.event_id IS NULL THEN NULL
            WHEN f.event_id IS NULL THEN 'backward'
            WHEN b.event_id IS NULL THEN 'forward'
            WHEN EPOCH_US(f.ts) - EPOCH_US(CAST(p.ts AS TIMESTAMP))
                 < EPOCH_US(CAST(p.ts AS TIMESTAMP)) - EPOCH_US(b.ts) THEN 'forward'
            ELSE 'backward' END AS direction,
          CASE
            WHEN b.event_id IS NULL AND f.event_id IS NULL THEN NULL
            WHEN f.event_id IS NULL THEN
              EPOCH_US(CAST(p.ts AS TIMESTAMP)) - EPOCH_US(b.ts)
            WHEN b.event_id IS NULL THEN
              EPOCH_US(f.ts) - EPOCH_US(CAST(p.ts AS TIMESTAMP))
            ELSE LEAST(EPOCH_US(CAST(p.ts AS TIMESTAMP)) - EPOCH_US(b.ts),
                       EPOCH_US(f.ts) - EPOCH_US(CAST(p.ts AS TIMESTAMP)))
            END AS delta_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        LEFT JOIN LATERAL (
          SELECT CAST(e.ts AS TIMESTAMP) AS ts, e.event_id FROM events e
          WHERE e.user_id = p.user_id AND e.event_type = 'view'
            AND e.ts <= p.ts
          ORDER BY e.ts DESC, e.event_id DESC LIMIT 1) b ON TRUE
        LEFT JOIN LATERAL (
          SELECT CAST(e.ts AS TIMESTAMP) AS ts, e.event_id FROM events e
          WHERE e.user_id = p.user_id AND e.event_type = 'view'
            AND e.ts > p.ts
          ORDER BY e.ts ASC, e.event_id ASC LIMIT 1) f ON TRUE
        ORDER BY purchase_id""")),

    // AUTOMATIC RANGE JOIN — the optimizer-extension path for interval
    // overlap: the join below is written as the PLAIN declarative theta
    // predicate `a.lo < b.hi AND b.lo < a.hi` (what a user migrating a
    // SQL workload actually writes), and graft.plans.RangeJoinRule
    // (injected via SparkSessionExtensions, gated by
    // spark.graft.rangeJoin.binWidth) rewrites it into the binned equi
    // join q59/q182 build BY HAND — bin explode on both sides, bin
    // equality + one anchor bin per pair, residual predicate kept.
    // Without the rule this plans as BroadcastNestedLoopJoin: O(n·m)
    // predicate evaluations and a whole-side broadcast — no 100 TB
    // shape. RangeJoinRuleSpec pins plan shape and result equivalence;
    // RangeJoinProperties fuzzes the bin arithmetic at the corners.
    // The interval families stretch with doc_id (lo ≈ 37·id), so
    // overlap density per row is CONSTANT at every corpus size —
    // output and candidates grow linearly, never quadratically.
    Q("q263_auto_range_join",
      (s, d) => {
        val a = t(s, d, "documents").select(
          col("doc_id").cast("long").as("a_id"),
          (col("doc_id") * 37).as("lo"))
          .withColumn("hi", col("lo") + 50L + col("a_id") % 500)
        val b = t(s, d, "documents").select(
          col("doc_id").cast("long").as("b_id"),
          (col("doc_id") * 37 + 11).as("lo"),
          (col("doc_id") * 37 + 41 + (col("doc_id") % 300)).as("hi"))
        a.join(b, a("lo") < b("hi") && b("lo") < a("hi"))
          .groupBy(col("a_id"))
          .agg(count(lit(1)).as("n_overlap"),
            min(col("b_id")).as("first_b"),
            sum(b("hi") - b("lo")).as("sum_spans"))
          .orderBy("a_id")
      },
      Some("""
        WITH a AS (
          SELECT doc_id AS a_id, doc_id * 37 AS lo,
                 doc_id * 37 + 50 + doc_id % 500 AS hi
          FROM documents),
        b AS (
          SELECT doc_id AS b_id, doc_id * 37 + 11 AS lo,
                 doc_id * 37 + 41 + (doc_id % 300) AS hi
          FROM documents)
        SELECT a_id, COUNT(*) AS n_overlap, MIN(b_id) AS first_b,
          CAST(SUM(b.hi - b.lo) AS BIGINT) AS sum_spans
        FROM a JOIN b ON a.lo < b.hi AND b.lo < a.hi
        GROUP BY a_id ORDER BY a_id""")),

    // PHYSICAL AS-OF JOIN — q25's semantics executed by the custom
    // operator (plans/AsOfJoinExec via ops/AsOf.joinAsOf): one shuffle
    // per side on the key, (key, time) sort, then an O(|L|+|R|)
    // merge-scan holding ONE candidate row — no window over the union,
    // no inequality-join candidate blow-up before a top-1. The oracle
    // is DuckDB's NATIVE `ASOF LEFT JOIN`, so the gate compares two
    // independent implementations of the operator itself. The right
    // side pre-aggregates to one row per (user, μs): duplicate
    // timestamps inside a key would make "latest right row" sort-order
    // ambiguous in ANY as-of engine — the dedup makes the contract
    // total, for this engine and the oracle alike.
    Q("q265_physical_asof",
      (s, d) => {
        val v = t(s, d, "events").filter(col("event_type") === "view")
          .groupBy(col("user_id").as("v_user"),
            unix_micros(col("ts")).as("vt"))
          .agg(max(col("event_id")).as("prior_view_id"))
        val p = t(s, d, "events").filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("user_id"),
            unix_micros(col("ts")).as("pt"))
        graft.ops.AsOf.joinAsOf(p, v,
          Seq(p("user_id") -> v("v_user")), p("pt"), v("vt"))
          .select(col("purchase_id"), col("user_id"),
            (col("pt") - col("vt")).as("gap_us"), col("prior_view_id"))
          .orderBy("purchase_id")
      },
      Some("""
        WITH v AS (
          SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS vt,
                 MAX(event_id) AS prior_view_id
          FROM events WHERE event_type = 'view' GROUP BY 1, 2),
        p AS (
          SELECT event_id AS purchase_id, user_id,
                 epoch_us(CAST(ts AS TIMESTAMP)) AS pt
          FROM events WHERE event_type = 'purchase')
        SELECT purchase_id, p.user_id, pt - vt AS gap_us, prior_view_id
        FROM p ASOF LEFT JOIN v
          ON p.user_id = v.user_id AND v.vt <= p.pt
        ORDER BY purchase_id""")),

    // DYNAMIC PARTITION PRUNING — the scan-elimination feature a
    // partitioned 100 TB fact table lives on: the fact is laid out
    // partitioned by ship month (one-time layout, memoized per JVM à
    // la q97/q104's staging — rig, not operator), the dim side is the
    // filtered month set of 1996's URGENT orders, and the fact scan
    // must be pruned AT RUNTIME by the broadcasted dim values
    // (`dynamicpruningexpression` in the scan's PartitionFilters,
    // pinned by PlanSpec) — reading ~12 of ~83 month partitions
    // instead of all of them. Catalyst does the pruning; the query's
    // job is to be SHAPED so it can (join on the partition column,
    // selective broadcastable dim). The oracle states the same join
    // over the unpartitioned table — layout must never change results.
    Q("q267_dynamic_partition_pruning",
      (s, d) => {
        val staged = StreamRig.stage(d, "q267", t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"),
            col("l_discount"),
            date_format(col("l_shipdate"), "yyyy-MM").as("ship_month")),
          "ship_month")
        val fact = s.read.schema(staged.schema).parquet(staged.dir)
        val months = t(s, d, "orders")
          .filter(col("o_orderpriority") === "1-URGENT" &&
            year(col("o_orderdate")) === 1996)
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .distinct()
        fact.join(months, fact("ship_month") === months("month"))
          .groupBy(col("ship_month"))
          .agg(count(lit(1)).as("n_items"),
            decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("revenue"))
          .orderBy("ship_month")
      },
      Some("""
        WITH months AS (
          SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS month
          FROM orders
          WHERE o_orderpriority = '1-URGENT'
            AND EXTRACT(year FROM o_orderdate) = 1996)
        SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
          COUNT(*) AS n_items,
          CAST(CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
            AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS revenue
        FROM lineitem
        JOIN months ON strftime(l_shipdate, '%Y-%m') = month
        GROUP BY 1 ORDER BY 1"""))
  )
}
