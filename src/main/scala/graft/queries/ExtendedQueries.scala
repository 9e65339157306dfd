package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QH._

/** Second coverage wave: the SURVEY.md §2 families not exercised by the
  * core corpus — selectExpr/JSON (P2), SQL-string + regex predicates
  * (P4/P6), array_contains (P7), null handling (P8), bucketing chains
  * (P9), inline literal tables (S3), spark.sql entry (S4), sorted
  * collect_list (A8), unpivot (A14), exclusive-start / weighted /
  * global windows (W5/W12/W13), rank-change (W9), serving reshape with
  * KV sort key + TTL (K4/K5), weekly epoch + fixed-point decode (§2.8).
  */
object ExtendedQueries {

  val qs: Seq[Q] = Seq(
    // P2 selectExpr + JSON extraction from a string column.
    Q("q42_selectexpr_json",
      (s, d) =>
        t(s, d, "events")
          .selectExpr("event_id",
            "get_json_object(props, '$.k') AS k_str",
            "cast(get_json_object(props, '$.k') AS int) AS k")
          .orderBy("event_id"),
      Some("""
        SELECT event_id,
          JSON_EXTRACT_STRING(props, '$.k') AS k_str,
          CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k
        FROM events ORDER BY event_id""")),

    // P4 SQL-string filter + P6 rlike/like predicates
    // (transactions:353, :465–471, :1010).
    Q("q43_regex_filter",
      (s, d) =>
        t(s, d, "orders")
          .filter("o_orderkey % 10 = 3")
          .filter(col("o_orderpriority").rlike("^[12]-"))
          .filter(col("o_orderstatus").like("F%"))
          .select("o_orderkey", "o_orderpriority", "o_orderstatus")
          .orderBy("o_orderkey"),
      Some("""
        SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
        WHERE o_orderkey % 10 = 3
          AND REGEXP_MATCHES(o_orderpriority, '^[12]-')
          AND o_orderstatus LIKE 'F%'
        ORDER BY o_orderkey""")),

    // P7 array_contains on an array column (transactions:667–669).
    Q("q44_array_contains",
      (s, d) =>
        t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
          .groupBy("lang")
          .agg(
            sum(when(array_contains(col("words"), "the"), 1).otherwise(0))
              .cast("long").as("has_the"),
            count(lit(1)).as("n"))
          .orderBy("lang"),
      Some("""
        SELECT lang,
          CAST(SUM(CASE WHEN LIST_CONTAINS(STRING_SPLIT(text, ' '), 'the')
            THEN 1 ELSE 0 END) AS BIGINT) AS has_the,
          COUNT(*) AS n
        FROM documents GROUP BY lang ORDER BY lang""")),

    // S3 inline literal DataFrame joined to facts (orderbook:290–419
    // mm_market_params idiom).
    Q("q45_inline_table",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val weights = Seq(
          ("AFRICA", 0.10), ("AMERICA", 0.25), ("ASIA", 0.30),
          ("EUROPE", 0.20), ("MIDDLE EAST", 0.15))
          .toDF("r_name", "weight")
        val c = t(s, d, "customer")
        val n = t(s, d, "nation")
        val r = t(s, d, "region")
        c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name").agg(count(lit(1)).as("n_cust"))
          .join(broadcast(weights), Seq("r_name"), "left")
          .select(col("r_name"), col("n_cust"), col("weight"),
            (col("n_cust") * col("weight")).as("weighted_cust"))
          .orderBy("r_name")
      },
      Some("""
        WITH weights(r_name, weight) AS (VALUES
          ('AFRICA', 0.10::DOUBLE), ('AMERICA', 0.25::DOUBLE),
          ('ASIA', 0.30::DOUBLE), ('EUROPE', 0.20::DOUBLE),
          ('MIDDLE EAST', 0.15::DOUBLE)),
        agg AS (
          SELECT r_name, COUNT(*) AS n_cust
          FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name)
        SELECT a.r_name, a.n_cust, w.weight, a.n_cust * w.weight AS weighted_cust
        FROM agg a LEFT JOIN weights w USING (r_name)
        ORDER BY a.r_name""")),

    // S4 SQL text entry over registered views (transactions:837–839,
    // competitor-stats:60–69).
    Q("q46_sql_entry",
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("lineitem_v")
        s.sql("""
          SELECT l_returnflag, COUNT(*) AS n,
            CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS sum_qty
          FROM lineitem_v GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // A8 collect_list, deterministically sorted (zetadex-serving-v2.py:628).
    // The list is serialized to a comma-joined string: the driver's
    // pandas comparator cannot hash array cells, and the string form is
    // engine-portable while remaining injective for integer ids.
    Q("q47_collect_sorted",
      (s, d) =>
        t(s, d, "customer")
          .groupBy("c_nationkey")
          .agg(sort_array(collect_list(col("c_custkey"))).as("ids"),
            count(lit(1)).as("n"))
          .select(col("c_nationkey"),
            concat_ws(",", expr("transform(ids, x -> cast(x AS string))"))
              .as("cust_ids"),
            col("n"))
          .orderBy("c_nationkey"),
      Some("""
        SELECT c_nationkey,
          ARRAY_TO_STRING(LIST(c_custkey ORDER BY c_custkey), ',') AS cust_ids,
          COUNT(*) AS n
        FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""")),

    // A14 wide→long unpivot via the codegen'd stack generator
    // (zetadex-serving-v2.py:510–554 union-loop, re-expressed one-pass).
    Q("q48_unpivot_metrics",
      (s, d) => {
        val wide = t(s, d, "orders")
          .groupBy("o_orderpriority")
          .agg(
            min(col("o_totalprice")).as("min_price"),
            max(col("o_totalprice")).as("max_price"),
            decAvg(col("o_totalprice")).as("avg_price"))
        graft.ops.Relational.unpivotMetrics(
            Seq("o_orderpriority"),
            Seq("min_price", "max_price", "avg_price"))(wide)
          .orderBy("o_orderpriority", "metric")
      },
      Some("""
        WITH wide AS (
          SELECT o_orderpriority,
            MIN(o_totalprice) AS min_price, MAX(o_totalprice) AS max_price,
            CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS avg_price
          FROM orders GROUP BY o_orderpriority)
        SELECT o_orderpriority, metric, value FROM (
          SELECT o_orderpriority, 'min_price' AS metric, min_price AS value FROM wide
          UNION ALL
          SELECT o_orderpriority, 'max_price', max_price FROM wide
          UNION ALL
          SELECT o_orderpriority, 'avg_price', avg_price FROM wide)
        ORDER BY o_orderpriority, metric""")),

    // K4/K5 serving reshape: camelCase, composite KV sort key, TTL column
    // (zetadex-serving-v2.py:352–359, :598).
    Q("q49_serving_reshape",
      (s, d) => {
        val hourly = t(s, d, "events")
          .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
          .agg(count(lit(1)).as("event_count"),
            decSum(col("value")).as("total_value"))
        graft.ops.Relational.camelCaseAll(
          hourly.select(
            col("hour_ts"), col("event_type"), col("event_count"),
            col("total_value"),
            graft.ops.Relational.kvSortKey(
              unix_timestamp(col("hour_ts")).cast("string"), col("event_type"))
              .as("sort_key"),
            (unix_timestamp(col("hour_ts")) + lit(14L * 86400L)).as("ttl")))
          .orderBy("hourTs", "eventType")
      },
      Some("""
        WITH hourly AS (
          SELECT CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hour_ts,
                 event_type, COUNT(*) AS event_count,
                 CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS total_value
          FROM events GROUP BY 1, 2)
        SELECT hour_ts AS "hourTs", event_type AS "eventType",
          event_count AS "eventCount", total_value AS "totalValue",
          CONCAT_WS('#', CAST(CAST(FLOOR(EPOCH(hour_ts)) AS BIGINT) AS VARCHAR),
            event_type) AS "sortKey",
          CAST(FLOOR(EPOCH(hour_ts)) AS BIGINT) + 14 * 86400 AS "ttl"
        FROM hourly ORDER BY "hourTs", "eventType"""")),

    // W5 exclusive-start trailing range window (transactions:1508–1523
    // Dietz weighting: -24h+1h .. 0).
    Q("q50_window_excl_range",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(unix_timestamp(col("ts")))
          .rangeBetween(-86400L + 3600L, 0L)
        t(s, d, "events")
          .select(col("event_id"),
            decSum(col("value"), w).as("dietz_sum"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id,
          CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (PARTITION BY user_id
            ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT)
            RANGE BETWEEN 82800 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS dietz_sum
        FROM events ORDER BY event_id""")),

    // W9 rank-change = rank − first(rank) over trailing window
    // (transactions:1664–1694).
    Q("q51_rank_change",
      (s, d) => {
        val hourly = t(s, d, "events")
          .groupBy(date_trunc("hour", col("ts")).as("h"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
        val rankW = Window.partitionBy("h")
          .orderBy(col("cnt").desc, col("event_type"))
        val histW = Window.partitionBy("event_type")
          .orderBy(unix_timestamp(col("h")))
          .rangeBetween(-86400L, 0L)
        hourly.withColumn("rk", rank().over(rankW))
          .withColumn("rank_24h_ago", first(col("rk")).over(histW))
          .withColumn("rank_change", col("rk") - col("rank_24h_ago"))
          .select("h", "event_type", "cnt", "rk", "rank_24h_ago", "rank_change")
          .orderBy("h", "event_type")
      },
      Some("""
        WITH hourly AS (
          SELECT CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
                 event_type, COUNT(*) AS cnt
          FROM events GROUP BY 1, 2),
        ranked AS (
          SELECT h, event_type, cnt,
            CAST(RANK() OVER (PARTITION BY h ORDER BY cnt DESC, event_type)
              AS INTEGER) AS rk
          FROM hourly)
        SELECT h, event_type, cnt, rk,
          FIRST_VALUE(rk) OVER (PARTITION BY event_type
            ORDER BY CAST(FLOOR(EPOCH(h)) AS BIGINT)
            RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS rank_24h_ago,
          rk - FIRST_VALUE(rk) OVER (PARTITION BY event_type
            ORDER BY CAST(FLOOR(EPOCH(h)) AS BIGINT)
            RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS rank_change
        FROM ranked ORDER BY h, event_type""")),

    // W13 global (empty-partition) window — top-100 overall
    // (zetadex-serving-v2.py:433). NOT implemented as a global
    // row_number window (which sorts the whole table into one
    // partition): orderBy+limit plans as TakeOrderedAndProject —
    // per-partition partial top-k, then a 100-row merge — and the rank
    // is stamped on the tiny result.
    Q("q52_global_topk",
      (s, d) =>
        t(s, d, "events")
          .orderBy(col("value").desc, col("event_id"))
          .limit(100)
          .withColumn("rn", row_number().over(
            Window.orderBy(col("value").desc, col("event_id"))))
          .select("rn", "event_id", "value")
          .orderBy("rn"),
      Some("""
        SELECT CAST(rn AS INTEGER) AS rn, event_id, value FROM (
          SELECT event_id, value,
            ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS rn
          FROM events)
        WHERE rn <= 100 ORDER BY rn""")),

    // W12 size-weighted price over trailing window (mm-uptime-v2:116–139).
    Q("q54_weighted_window",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(unix_timestamp(col("ts")))
          .rangeBetween(-86400L, 0L)
        t(s, d, "events")
          .withColumn("k", expr("cast(get_json_object(props, '$.k') AS int)"))
          .withColumn("den", decSum(col("k"), w))
          .withColumn("num",
            decSum(col("value") * col("k"), w))
          .select(col("event_id"),
            when(col("den") > 0, col("num") / col("den")).as("wavg_24h"))
          .orderBy("event_id")
      },
      Some("""
        WITH e AS (SELECT event_id, user_id, ts, value,
          CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k FROM events)
        SELECT event_id,
          CASE WHEN CAST(CAST(SUM(CAST(k AS DECIMAL(28,6))) OVER w AS VARCHAR) AS DOUBLE) > 0
            THEN CAST(CAST(SUM(CAST(value * k AS DECIMAL(28,6))) OVER w AS VARCHAR) AS DOUBLE)
              / CAST(CAST(SUM(CAST(k AS DECIMAL(28,6))) OVER w AS VARCHAR) AS DOUBLE)
          END AS wavg_24h
        FROM e
        WINDOW w AS (PARTITION BY user_id
          ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT)
          RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    // Weekly reward epoch anchored Friday 08:00 UTC (transactions:715–718).
    Q("q56_weekly_epoch",
      (s, d) =>
        t(s, d, "events")
          .withColumn("epoch", graft.ops.Relational.epochOf(col("ts")))
          .groupBy("epoch")
          .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
          .orderBy("epoch"),
      Some("""
        SELECT CAST(DATE_TRUNC('week', CAST(ts AS TIMESTAMP) - INTERVAL 104 HOUR)
            AS TIMESTAMP) + INTERVAL 104 HOUR AS epoch,
          COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1 ORDER BY epoch""")),

    // P9 when/otherwise bucketing chain + fixed-point decode
    // (transactions:1909–1928 fee tiers, :20–21 PRICE_FACTOR).
    Q("q57_fee_tiers",
      (s, d) =>
        // The per-row JSON parse is the cost here; the test corpus's
        // single-row-group parquet gives the scan one partition, which
        // would serialize the parse on one core without the spread.
        QH.spread(s, col("event_id"))(t(s, d, "events"))
          .withColumn("k", expr("cast(get_json_object(props, '$.k') AS int)"))
          .withColumn("price", graft.ops.Relational.fixedPoint(col("k") * lit(1000000L), 1e6))
          .withColumn("tier",
            when(col("price") >= 90, 0)
              .when(col("price") >= 70, 1)
              .when(col("price") >= 50, 2)
              .when(col("price") >= 30, 3)
              .otherwise(4))
          .groupBy("tier")
          .agg(count(lit(1)).as("n"), decSum(col("value")).as("total_value"))
          .orderBy("tier"),
      Some("""
        WITH e AS (SELECT value,
          CAST(CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) * 1000000
            AS DOUBLE) / 1e6 AS price FROM events)
        SELECT CASE WHEN price >= 90 THEN 0 WHEN price >= 70 THEN 1
          WHEN price >= 50 THEN 2 WHEN price >= 30 THEN 3 ELSE 4 END AS tier,
          COUNT(*) AS n,
          CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS total_value
        FROM e GROUP BY 1 ORDER BY tier""")),

    // P8 null handling: lead-induced nulls → coalesce/fillna
    // (transactions:842, :1045–1046; amplitude:164 null→max-date). The
    // sentinel is 2200-01-01 rather than the reference's 9999-12-31:
    // semantics are identical (any far-future bound), but 9999 overflows
    // nanosecond-epoch timestamp representations downstream.
    Q("q58_null_handling",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .withColumn("next_ts", lead(col("ts"), 1).over(w))
          .withColumn("usage_end",
            coalesce(col("next_ts"), lit("2200-01-01 00:00:00").cast("timestamp")))
          .withColumn("next_value", lead(col("value"), 1).over(w))
          .na.fill(Map("next_value" -> -1.0))
          .select("event_id", "usage_end", "next_value")
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id,
          COALESCE(LEAD(CAST(ts AS TIMESTAMP), 1) OVER w,
            TIMESTAMP '2200-01-01 00:00:00') AS usage_end,
          COALESCE(LEAD(value, 1) OVER w, -1.0) AS next_value
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY event_id""")),

    // The agg_pnl composite (transactions:1486–1878, the reference's
    // heaviest table): cumulative equity (W6) → trailing-window anchor
    // (W8) → period PnL → tie-broken leaderboard rank (W1) + rank-change
    // inputs, all sharing one user partitioning so the window stages
    // reuse a single exchange.
    Q("q60_pnl_leaderboard",
      (s, d) => {
        val wCum = Window.partitionBy("user_id")
          .orderBy(unix_timestamp(col("ts")), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val w24 = Window.partitionBy("user_id")
          .orderBy(unix_timestamp(col("ts")))
          .rangeBetween(-86400L, 0L)
        val equityed = t(s, d, "events")
          .withColumn("equity",
            decSum(col("value"), wCum))
        val withAnchor = equityed
          .withColumn("equity_24h_ago", first(col("equity")).over(w24))
          .withColumn("pnl_24h", col("equity") - col("equity_24h_ago"))
        val latest = withAnchor
          .withColumn("__rn", row_number().over(Window.partitionBy("user_id")
            .orderBy(col("ts").desc, col("event_id").desc)))
          .filter(col("__rn") === 1)
        latest
          .withColumn("rank", rank().over(
            Window.orderBy(col("pnl_24h").desc, col("user_id"))))
          .select(col("rank"), col("user_id"), col("equity"),
            col("pnl_24h"))
          .orderBy("rank")
      },
      Some("""
        WITH eq AS (
          SELECT user_id, ts, event_id,
            CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (
              PARTITION BY user_id
              ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT), event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
              AS equity
          FROM events),
        anch AS (
          SELECT user_id, ts, event_id, equity,
            equity - FIRST_VALUE(equity) OVER (
              PARTITION BY user_id
              ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT)
              RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS pnl_24h
          FROM eq),
        latest AS (
          SELECT user_id, equity, pnl_24h FROM anch
          QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY ts DESC, event_id DESC) = 1)
        SELECT CAST(RANK() OVER (ORDER BY pnl_24h DESC, user_id) AS INTEGER)
            AS rank,
          user_id, equity, pnl_24h
        FROM latest ORDER BY rank""")),

    // Modified-Dietz 24h ROI with the reference's $100 fudge factor
    // (transactions:1577–1655): flows in the trailing day are weighted by
    // their remaining fraction of the period. The windowed weighted-flow
    // sum Σ v·(t−T+86400)/86400 is decomposed into two decimal-exact
    // window sums (Σ v·t and Σ v) so it stays order-insensitive.
    Q("q63_dietz_roi",
      (s, d) => {
        val wCum = Window.partitionBy("user_id")
          .orderBy(unix_timestamp(col("ts")), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val w24 = Window.partitionBy("user_id")
          .orderBy(unix_timestamp(col("ts")))
          .rangeBetween(-86400L, 0L)
        // t is rebased to a constant epoch so the per-row value*t product
        // stays ≤ ~1e9: large doubles (ulp > 1e-6) round to decimal(28,6)
        // differently across engines; small exact products do not.
        val df = t(s, d, "events")
          .withColumn("t",
            unix_timestamp(col("ts")) - lit(1704067200L))
          .withColumn("equity",
            decSum(col("value"), wCum))
          .withColumn("equity_24h_ago", first(col("equity")).over(w24))
          .withColumn("pnl_24h", col("equity") - col("equity_24h_ago"))
          .withColumn("s1",
            decSum(col("value") * col("t"), w24))
          .withColumn("s0",
            decSum(col("value"), w24))
          .withColumn("weighted_flows",
            (col("s1") + (lit(86400.0) - col("t")) * col("s0")) / 86400.0)
          .withColumn("dietz_denom",
            col("equity_24h_ago") + col("weighted_flows") + 100.0)
          .withColumn("roi_24h",
            when(col("dietz_denom") =!= 0.0,
              col("pnl_24h") / col("dietz_denom")))
        df.select("event_id", "user_id", "pnl_24h", "roi_24h")
          .orderBy("event_id")
      },
      Some("""
        WITH base AS (
          SELECT event_id, user_id, value,
            CAST(FLOOR(EPOCH(ts)) AS BIGINT) - 1704067200 AS t, ts
          FROM events),
        eq AS (
          SELECT *, CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (
              PARTITION BY user_id ORDER BY t, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
              AS equity
          FROM base),
        win AS (
          SELECT event_id, user_id, t, equity,
            FIRST_VALUE(equity) OVER w AS equity_24h_ago,
            CAST(CAST(SUM(CAST(value * t AS DECIMAL(28,6))) OVER w AS VARCHAR) AS DOUBLE) AS s1,
            CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER w AS VARCHAR) AS DOUBLE) AS s0
          FROM eq
          WINDOW w AS (PARTITION BY user_id ORDER BY t
            RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW))
        SELECT event_id, user_id,
          equity - equity_24h_ago AS pnl_24h,
          CASE WHEN equity_24h_ago + (s1 + (86400.0 - t) * s0) / 86400.0 + 100.0
                 != 0.0
            THEN (equity - equity_24h_ago)
              / (equity_24h_ago + (s1 + (86400.0 - t) * s0) / 86400.0 + 100.0)
          END AS roi_24h
        FROM win ORDER BY event_id""")),

    // A4 first with ignoreNulls (prices:210–215): first non-null lagged
    // value per user in time order.
    Q("q64_first_ignorenulls",
      (s, d) => {
        val wOrd = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val wAll = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .withColumn("prev_value", lag(col("value"), 1).over(wOrd))
          .select(col("event_id"),
            first(col("prev_value"), ignoreNulls = true).over(wAll)
              .as("first_prev"))
          .orderBy("event_id")
      },
      Some("""
        WITH l AS (
          SELECT event_id, user_id, ts,
            LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS prev_value
          FROM events)
        SELECT event_id,
          FIRST_VALUE(prev_value IGNORE NULLS) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_prev
        FROM l ORDER BY event_id""")),

    // P10 time-relative snapshot filter with an injectable as-of clock
    // (zetadex-serving-v2.py:348–351 `current_timestamp - 2h` — replaced
    // by graft.core.Conf.asOf so replays and oracles are deterministic).
    Q("q65_snapshot_asof",
      (s, d) => {
        val conf = graft.core.Conf.ForTests
        t(s, d, "events")
          .groupBy(date_trunc("hour", col("ts")).as("timestamp"),
            col("event_type"))
          .agg(count(lit(1)).as("n"))
          .filter(col("timestamp") ===
            date_trunc("hour", conf.asOfTs - expr("interval 2 hours")))
          .orderBy("event_type")
      },
      Some("""
        SELECT CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
            AS timestamp,
          event_type, COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
        HAVING CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
          = DATE_TRUNC('hour', TIMESTAMP '2024-01-30 12:00:00' - INTERVAL 2 HOUR)
        ORDER BY event_type""")),

    // A13 two-level re-aggregation (rewards:206–225, madwars:266–291):
    // hourly per-(user, type) counts re-aggregated to per-user totals.
    // The level-1 sum stays DECIMAL all the way into level 2 — a
    // decimal→double→decimal round-trip between the levels double-rounds
    // (binary64 ulp > 1e-6 past ~2^33) and diverges across engines; cast
    // to double exactly once, at the very end, on both sides.
    Q("q71_two_level_agg",
      (s, d) => {
        val lvl1 = t(s, d, "events")
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("h"),
            col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("value").cast(DEC)).as("v"))
        lvl1.groupBy("user_id")
          .agg(sum(col("n")).as("total_events"),
            countDistinct(col("event_type")).as("n_types"),
            max(col("n")).as("busiest_cell"),
            sum(col("v")).cast("string").cast("double").as("total_value"))
          .orderBy("user_id")
      },
      Some("""
        WITH lvl1 AS (
          SELECT user_id, DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h,
            event_type, COUNT(*) AS n,
            SUM(CAST(value AS DECIMAL(28,6))) AS v
          FROM events GROUP BY 1, 2, 3)
        SELECT user_id, CAST(SUM(n) AS BIGINT) AS total_events,
          COUNT(DISTINCT event_type) AS n_types,
          MAX(n) AS busiest_cell,
          CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS total_value
        FROM lvl1 GROUP BY user_id ORDER BY user_id""")),

    // J9 self equi join bid×ask in the same quote window
    // (mm-uptime-v3:85–94, orderbook:510–527): per-(user, hour) click
    // side joined to view side, spread = ask − bid.
    Q("q72_bid_ask_self_join",
      (s, d) => {
        val ev = t(s, d, "events")
          .withColumn("h", date_trunc("hour", col("ts")))
        val bid = ev.filter(col("event_type") === "click")
          .groupBy("user_id", "h").agg(decAvg(col("value")).as("bid"))
        val ask = ev.filter(col("event_type") === "view")
          .groupBy("user_id", "h").agg(decAvg(col("value")).as("ask"))
        bid.join(ask, Seq("user_id", "h"))
          .select(col("user_id"), col("h"), col("bid"), col("ask"),
            (col("ask") - col("bid")).as("spread"))
          .orderBy("user_id", "h")
      },
      Some("""
        WITH ev AS (
          SELECT user_id, DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h,
            event_type, value
          FROM events),
        bid AS (
          SELECT user_id, h,
            CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
              / COUNT(*) AS bid
          FROM ev WHERE event_type = 'click' GROUP BY 1, 2),
        ask AS (
          SELECT user_id, h,
            CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
              / COUNT(*) AS ask
          FROM ev WHERE event_type = 'view' GROUP BY 1, 2)
        SELECT user_id, CAST(h AS TIMESTAMP) AS h, bid, ask, ask - bid AS spread
        FROM bid JOIN ask USING (user_id, h)
        ORDER BY user_id, h""")),

    // Gap-based sessionization — the second canonical session form next
    // to AmplitudePipeline's connect-window attribution (AM:141–197): a
    // new session opens after a >30-minute silence; session id is the
    // running count of session-opens (W3 lag + W6 cumulative, one
    // shared user partitioning → one exchange), then per-session
    // aggregates. The standard product-analytics/training-data shape at
    // any scale: no self-join, no interval table.
    Q("q79_sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        val wCum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .withColumn("prev_ts", lag(col("ts"), 1).over(w))
          .withColumn("new_sess",
            when(col("prev_ts").isNull ||
              unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800,
              1).otherwise(0))
          .withColumn("session_seq", sum(col("new_sess")).over(wCum))
          .groupBy("user_id", "session_seq")
          .agg(min(col("ts")).as("session_start"),
            max(col("ts")).as("session_end"),
            count(lit(1)).as("n_events"),
            (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
              .as("duration_sec"))
          .orderBy("user_id", "session_seq")
      },
      Some("""
        WITH e AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
            CAST(FLOOR(EPOCH(CAST(ts AS TIMESTAMP))) AS BIGINT) AS t
          FROM events),
        flagged AS (
          SELECT user_id, ts, event_id, t,
            CASE WHEN LAG(t, 1) OVER w IS NULL OR t - LAG(t, 1) OVER w > 1800
              THEN 1 ELSE 0 END AS new_sess
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessed AS (
          SELECT user_id, ts, t,
            CAST(SUM(new_sess) OVER (PARTITION BY user_id
              ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_seq
          FROM flagged)
        SELECT user_id, session_seq,
          MIN(ts) AS session_start, MAX(ts) AS session_end,
          COUNT(*) AS n_events,
          MAX(t) - MIN(t) AS duration_sec
        FROM sessed GROUP BY 1, 2
        ORDER BY user_id, session_seq""")),

    // Top-k per group as a BOUNDED AGGREGATE ([[graft.expressions
    // .BoundedTopK]]) instead of the row_number window (O2/q12): the
    // window form must shuffle EVERY row to its group before ranking;
    // the aggregate reduces each map task's slice to ≤ k pairs before
    // the exchange (ObjectHashAggregate with a partial_graft_topk map
    // side, asserted in PlanSpec), so the shuffle carries
    // O(partitions × k) rows per group — TakeOrderedAndProject's
    // leverage, per group. Same result as the window form, which the
    // oracle runs.
    Q("q81_topk_agg",
      (s, d) =>
        t(s, d, "events")
          .groupBy("user_id")
          .agg(expr("graft_topk(value, event_id, 3)").as("top"))
          .select(col("user_id"),
            posexplode(col("top")).as(Seq("rk0", "p")))
          .select(col("user_id"),
            (col("rk0") + 1).cast("integer").as("rk"),
            col("p.ord").as("value"), col("p.id").as("event_id"))
          .orderBy("user_id", "rk"),
      Some("""
        SELECT user_id, CAST(rk AS INTEGER) AS rk, value, event_id
        FROM (SELECT user_id, value, event_id,
          ROW_NUMBER() OVER (PARTITION BY user_id
            ORDER BY value DESC, event_id) AS rk
          FROM events)
        WHERE rk <= 3 ORDER BY user_id, rk""")),

    // Deterministic WEIGHTED sampling — the data-mixing op of a training
    // corpus (upweight high-quality documents without replacement):
    // Efraimidis–Spirakis order statistics, key = u^(1/w) with u a
    // hash-derived uniform, top-k by key = a weighted sample. Engineered
    // for cross-engine exactness: u = first 13 md5 hex digits / 2⁵²
    // (exact in a double) and weights are POWERS OF TWO so the key is a
    // chain of IEEE-correctly-rounded sqrt calls — libm pow/ln are NOT
    // bit-reproducible across engines, sqrt is. The top-k is the
    // bounded aggregate (q81), so the sample never shuffles more than
    // k·tasks rows. Weight tiers: 4× for long docs with stopword
    // evidence, 2× for either, 1× otherwise.
    Q("q82_weighted_sample",
      (s, d) => {
        val stopList = "('the', 'and', 'of', 'a', 'in', 'to', 'is')"
        val scored = t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
          .withColumn("has_stop",
            expr(s"size(filter(words, w -> w IN $stopList)) > 0"))
          .withColumn("is_long", col("n_chars") >= 150)
          .withColumn("w",
            when(col("has_stop") && col("is_long"), 4)
              .when(col("has_stop") || col("is_long"), 2)
              .otherwise(1))
          .withColumn("u",
            expr("cast(conv(substring(md5(cast(doc_id AS string)), 1, 13)," +
              " 16, 10) AS bigint)").cast("double") / lit(4503599627370496.0))
          .withColumn("key",
            when(col("w") === 4, sqrt(sqrt(col("u"))))
              .when(col("w") === 2, sqrt(col("u")))
              .otherwise(col("u")))
        scored
          .agg(expr("graft_topk(key, doc_id, 100)").as("top"))
          .select(posexplode(col("top")).as(Seq("rk0", "p")))
          .select((col("rk0") + 1).cast("integer").as("rk"),
            col("p.id").as("doc_id"), round(col("p.ord"), 6).as("key"))
          .orderBy("rk")
      },
      Some("""
        WITH scored AS (
          SELECT doc_id,
            LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
              x -> x IN ('the', 'and', 'of', 'a', 'in', 'to', 'is'))) > 0
              AS has_stop,
            n_chars >= 150 AS is_long
          FROM documents),
        keyed AS (
          SELECT doc_id,
            CASE WHEN has_stop AND is_long THEN 4
              WHEN has_stop OR is_long THEN 2 ELSE 1 END AS w,
            CAST(LIST_REDUCE(
              LIST_TRANSFORM(SPLIT(SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 13), ''),
                c -> CAST(POSITION(c IN '0123456789abcdef') - 1 AS BIGINT)),
              (a, x) -> a * 16 + x) AS DOUBLE) / 4503599627370496.0 AS u
          FROM scored),
        es AS (
          SELECT doc_id,
            CASE WHEN w = 4 THEN SQRT(SQRT(u))
              WHEN w = 2 THEN SQRT(u) ELSE u END AS key
          FROM keyed)
        SELECT CAST(rk AS INTEGER) AS rk, doc_id, ROUND(key, 6) AS key
        FROM (SELECT doc_id, key,
          ROW_NUMBER() OVER (ORDER BY key DESC, doc_id) AS rk FROM es)
        WHERE rk <= 100 ORDER BY rk""")),

    // Deterministic hash sampling — the rand(seed) replacement
    // (madwars-pipeline.py:60); exactly reproducible in any engine.
    Q("q66_deterministic_sample",
      (s, d) =>
        graft.ops.Relational.deterministicSample(col("event_id"), 4)(
          t(s, d, "events"))
          .select("event_id", "user_id", "event_type")
          .orderBy("event_id"),
      Some("""
        SELECT event_id, user_id, event_type FROM events
        WHERE MD5(CAST(event_id AS VARCHAR)) < '4'
        ORDER BY event_id""")),

    // MERGEABLE SKETCHES with their error contracts pinned on real data
    // — the 100 TB replacements for two aggregations that do not scale
    // exactly: COUNT(DISTINCT) (expands to a two-level shuffle of every
    // distinct pair) and exact percentiles (buffers every value of a
    // group in one task). HyperLogLog++ (`approx_count_distinct`) and
    // the Greenwald–Khanna summary (`percentile_approx`) are one-pass,
    // constant-state, merge-associative — partial-aggregated map-side
    // like any sum.
    //
    // Gate design: approximate values cannot hash-match a DuckDB
    // oracle, so the query emits the EXACT statistics (which the oracle
    // recomputes) plus BOOLEAN error-contract columns the oracle
    // expects to be TRUE. Both booleans are deterministic, not flaky:
    // HLL's registers are order-insensitive (max-merge), and GK's rank
    // error ≤ n/accuracy is a worst-case guarantee holding under ANY
    // partial-merge order — the sketch value may vary run to run inside
    // the band, the band membership cannot. The exact columns double as
    // the proof the band is meaningful (p50_sketch sits inside the
    // exact [p45, p55] envelope at 1% guaranteed rank error). At scale
    // the exact columns are what you delete, keeping the sketches.
    Q("q99_sketch_bounds",
      (s, d) =>
        t(s, d, "events")
          .groupBy("event_type")
          .agg(
            countDistinct(col("user_id")).as("n_users_exact"),
            approx_count_distinct(col("user_id"), 0.02).as("hll"),
            expr("percentile(value, array(0.45D, 0.5D, 0.55D))").as("pex"),
            percentile_approx(col("value"), lit(0.5), lit(100))
              .as("p50_sketch"),
            count(lit(1)).as("n"))
          .select(col("event_type"), col("n_users_exact"),
            (abs(col("hll") - col("n_users_exact")) <=
              col("n_users_exact") * lit(0.1)).as("hll_ok"),
            round(element_at(col("pex"), 2), 6).as("p50_exact"),
            (col("p50_sketch") >= element_at(col("pex"), 1) &&
              col("p50_sketch") <= element_at(col("pex"), 3)).as("p50_ok"),
            col("n"))
          .orderBy("event_type"),
      Some("""
        SELECT event_type,
          COUNT(DISTINCT user_id) AS n_users_exact,
          TRUE AS hll_ok,
          ROUND(QUANTILE_CONT(value, 0.5), 6) AS p50_exact,
          TRUE AS p50_ok,
          COUNT(*) AS n
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // ROLLING DISTINCT over time via mergeable sketches — the pattern
    // q99's HLL unlocks and the reason mergeability matters: distinct
    // counts don't decompose over windows (a user active on 5 of the 7
    // days must count once), so the exact rolling form must touch every
    // EVENT 7 times. The sketch form pre-aggregates ONE DataSketches HLL
    // per day (events touched once) and then unions 7 daily sketches
    // per window day — O(days × 7) sketch merges instead of O(events ×
    // 7) rows, the standard at-scale shape for "7-day active users".
    // Both paths run here; the oracle recomputes the exact one, and the
    // sketch estimate must land within 10% of it (default lgConfigK=12
    // HLL has ~1.6% rsd; the bound is deterministic on fixed data since
    // sketch build is item-wise and union is register-max, both
    // insensitive to duplicate order and merge order).
    Q("q101_rolling_distinct_sketch",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(to_date(col("ts")).as("day"), col("user_id"))
        val days = ev.select(col("day")).distinct()
        // exact rolling 7-day: each event row fans out to the 7 window
        // days it contributes to — an equi-join-shaped expansion (no
        // range join), correct at any scale but 7× the event rows
        val exact = ev
          .withColumn("window_day",
            explode(expr("sequence(day, date_add(day, 6))")))
          .groupBy("window_day")
          .agg(countDistinct(col("user_id")).as("n_users_7d"))
        // sketch rolling 7-day: daily HLL first (events touched once),
        // then the 7× fanout carries 1.5 kB sketches, not events
        val sketch = ev
          .groupBy("day").agg(hll_sketch_agg(col("user_id")).as("hll"))
          .withColumn("window_day",
            explode(expr("sequence(day, date_add(day, 6))")))
          .groupBy("window_day")
          .agg(hll_sketch_estimate(hll_union_agg(col("hll"))).as("est"))
        exact.join(sketch, Seq("window_day"))
          .join(days.withColumnRenamed("day", "window_day"),
            Seq("window_day")) // only days that exist in the data
          .select(col("window_day").as("day"), col("n_users_7d"),
            (abs(col("est") - col("n_users_7d")) <=
              col("n_users_7d") * lit(0.1)).as("sketch_ok"))
          .orderBy("day")
      },
      Some("""
        WITH e AS (
          SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
          FROM events),
        days AS (SELECT DISTINCT day FROM e)
        SELECT d.day, COUNT(DISTINCT e.user_id) AS n_users_7d,
          TRUE AS sketch_ok
        FROM days d JOIN e ON e.day BETWEEN d.day - 6 AND d.day
        GROUP BY d.day ORDER BY d.day""")),

    // STRATIFIED RESERVOIR — k documents per language, deterministic:
    // rank key is the md5-prefix uniform (the q82 device), selection is
    // the k-BOUNDED native top-k aggregate (expressions/BoundedTopK),
    // so every map task ships at most k rows per stratum into the
    // shuffle — reservoir sampling's fixed-memory guarantee,
    // DISTRIBUTED, which the row_number()-over-full-sort form (the
    // oracle) cannot give at 100 TB. Deterministic hash keys make the
    // "reservoir" reproducible across engines and re-runs.
    Q("q102_stratified_reservoir",
      (s, d) => {
        // u = first 13 md5 hex digits as an integer (exact in a double);
        // BoundedTopK keeps the k LARGEST ords, so rank on -u == k
        // smallest md5 prefixes == the oracle's ORDER BY md5 ascending
        val u = conv(substring(md5(col("doc_id").cast("string")), 1, 13),
          16, 10).cast("long")
        t(s, d, "documents")
          .withColumn("neg_u", -u.cast("double"))
          .groupBy("lang")
          .agg(expr("graft_topk(neg_u, doc_id, 5)").as("top"))
          .select(col("lang"), posexplode(col("top")).as(Seq("rk0", "p")))
          .select(col("lang"), (col("rk0") + 1).cast("integer").as("rk"),
            col("p.id").as("doc_id"))
          .orderBy("lang", "rk")
      },
      Some("""
        SELECT lang, CAST(rk AS INTEGER) AS rk, doc_id
        FROM (SELECT lang, doc_id,
          ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id)
            AS rk
          FROM documents)
        WHERE rk <= 5 ORDER BY lang, rk""")),

    // Z-ORDER layout — the multi-dimensional file-clustering technique
    // (interleave the bits of two scan dimensions, range-partition files
    // by the resulting curve position) that single-column sorting can't
    // give: files sorted by time span EVERY user, so a user-predicate
    // scan reads them all; files bucketed along the Z-curve have
    // bounded min/max spans in BOTH dimensions at once, so parquet
    // row-group stats prune on EITHER predicate. The z-value is pure
    // per-row bit arithmetic (shift/mask inside one `aggregate` over 16
    // bit positions — identical integer math in the oracle); the bucket
    // assignment in production is `repartitionByRange(zval)` at write
    // time, here surfaced as the per-bucket stats REPORT whose bounded
    // u/d spans ARE the pruning guarantee being claimed. Bucket cuts
    // mirror the range partitioner via the CDF device
    // (Relational.ntileByCdf): the only global window runs over the
    // |distinct zval| frequency frame, never the fact rows — NTILE's
    // single-partition global sort of the whole events table was the
    // round-10 `weak` flag on this query.
    Q("q107_zorder_layout",
      (s, d) => {
        val z = "aggregate(sequence(0, 15), 0L, (acc, i) -> acc + " +
          "shiftleft(shiftright(a, i) & 1, 2 * i) + " +
          "shiftleft(shiftright(b, i) & 1, 2 * i + 1))"
        val zed = t(s, d, "events")
          .withColumn("a", pmod(col("user_id"), lit(65536)))
          .withColumn("b",
            datediff(to_date(col("ts")), lit("2024-01-01")).cast("long"))
          .withColumn("zval", expr(z))
          // lineage fence before the CDF join — the q167 lesson (the
          // join planner substitutes the curve expression through
          // projects when tracking the key's lineage; materializing
          // the 4 narrow columns once is what a layout write job does
          // anyway)
          .select(col("event_id"), col("a"), col("b"), col("zval"))
          .localCheckpoint(false)
        graft.ops.Relational
          .ntileByCdf(zed, col("zval"), col("event_id"), 16)
          // ntileByCdf emits BIGINT buckets — same as DuckDB NTILE
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"),
            min(col("a")).as("u_min"), max(col("a")).as("u_max"),
            min(col("b")).as("d_min"), max(col("b")).as("d_max"))
          .orderBy("bucket")
      },
      Some("""
        WITH z AS (
          SELECT event_id, user_id % 65536 AS a,
            DATEDIFF('day', DATE '2024-01-01',
              CAST(CAST(ts AS TIMESTAMP) AS DATE)) AS b
          FROM events),
        zv AS (
          SELECT event_id, a, b,
            LIST_SUM([(((a >> i) & 1) << (2 * i)) +
                      (((b >> i) & 1) << (2 * i + 1))
                      for i in GENERATE_SERIES(0, 15)]) AS zval
          FROM z),
        bk AS (
          SELECT a, b, NTILE(16) OVER (ORDER BY zval, event_id) AS bucket
          FROM zv)
        SELECT bucket, COUNT(*) AS n,
          MIN(a) AS u_min, MAX(a) AS u_max,
          CAST(MIN(b) AS BIGINT) AS d_min, CAST(MAX(b) AS BIGINT) AS d_max
        FROM bk GROUP BY bucket ORDER BY bucket""")),

    // PIVOT (long→wide) — the inverse of q48's unpivot and the one
    // reshape family the suite lacked: one wide row per day, one column
    // per event type. The values list is EXPLICIT, which is the scale
    // decision: `pivot(col)` with no list first runs a DISTINCT and
    // `collect()`s it on the driver to learn the output schema — an
    // unbounded driver dependency and a full extra job at 100 TB.
    // With the list, this is ONE grouping aggregate whose map-side
    // partials are already wide (no per-type shuffle fanout). Missing
    // day×type combos surface as null from pivot-count; coalesce to 0
    // to match the oracle's FILTER form.
    Q("q111_pivot_wide",
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val wide = t(s, d, "events")
          .groupBy(date_trunc("day", col("ts")).as("day"))
          .pivot("event_type", types)
          .agg(count(lit(1)))
        wide.select(col("day") +:
          types.map(v => coalesce(col(v), lit(0L)).as(v)): _*)
          .orderBy("day")
      },
      Some("""
        SELECT CAST(DATE_TRUNC('day', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
            AS day,
          COUNT(*) FILTER (event_type = 'click') AS click,
          COUNT(*) FILTER (event_type = 'error') AS error,
          COUNT(*) FILTER (event_type = 'purchase') AS purchase,
          COUNT(*) FILTER (event_type = 'signup') AS signup,
          COUNT(*) FILTER (event_type = 'view') AS view
        FROM events GROUP BY 1 ORDER BY day""")),

    // DATA PROFILING — the `ANALYZE TABLE`-shaped corpus-intake pass:
    // per-stratum count, distinct entities, range, mean, standard
    // deviation, and a cross-column correlation, all in ONE scan. The
    // scale trick is how the MOMENTS are computed: stddev_samp/corr
    // accumulate doubles in partition order, so their last bits differ
    // run-to-run under AQE/retries — unacceptable for a gated artifact.
    // Instead every moment (Σx, Σx², Σy, Σy², Σxy) is an EXACT decimal
    // sum (the QH.decSum device: inputs rounded once to 6 decimals at
    // the cast, products exact in decimal(37,12), sums order-free),
    // surfaced to double through the string cast, and the textbook
    // formulas run on those exact moments identically in both engines.
    // Distributed shape: plain partial-aggregating groupBy — map-side
    // combine ships 9 numbers per stratum, never rows.
    Q("q112_profile",
      (s, d) => {
        val xd = col("value").cast("decimal(18,6)")
        val yd = col("user_id").cast("decimal(18,6)")
        def d2(c: org.apache.spark.sql.Column) =
          sum(c).cast("string").cast("double")
        t(s, d, "events")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("n_users"),
            min(col("value")).as("vmin"), max(col("value")).as("vmax"),
            d2(xd).as("sx"), d2(xd * xd).as("sx2"),
            d2(yd).as("sy"), d2(yd * yd).as("sy2"), d2(xd * yd).as("sxy"))
          .select(col("event_type"), col("n"), col("n_users"),
            col("vmin"), col("vmax"),
            round(col("sx") / col("n"), 6).as("mean_v"),
            round(sqrt((col("sx2") - col("sx") * col("sx") / col("n"))
              / (col("n") - lit(1))), 6).as("std_v"),
            round((col("n") * col("sxy") - col("sx") * col("sy"))
              / sqrt((col("n") * col("sx2") - col("sx") * col("sx"))
                * (col("n") * col("sy2") - col("sy") * col("sy"))), 6)
              .as("corr_vu"))
          .orderBy("event_type")
      },
      Some("""
        WITH m AS (
          SELECT event_type, COUNT(*) AS n,
            COUNT(DISTINCT user_id) AS n_users,
            MIN(value) AS vmin, MAX(value) AS vmax,
            CAST(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS VARCHAR)
              AS DOUBLE) AS sx,
            -- DECIMAL(28,6) operands force int128 storage: at sf0.1 the
            -- squared terms overflow DuckDB's int64-backed DECIMAL(18)
            -- multiply (Spark auto-widens the product type; DuckDB does
            -- not widen the STORAGE)
            CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))
              * CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sx2,
            CAST(CAST(SUM(CAST(user_id AS DECIMAL(18,6))) AS VARCHAR)
              AS DOUBLE) AS sy,
            CAST(CAST(SUM(CAST(user_id AS DECIMAL(28,6))
              * CAST(user_id AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sy2,
            CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))
              * CAST(user_id AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS sxy
          FROM events GROUP BY event_type)
        SELECT event_type, n, n_users, vmin, vmax,
          ROUND(sx / n, 6) AS mean_v,
          ROUND(SQRT((sx2 - sx * sx / n) / (n - 1)), 6) AS std_v,
          ROUND((n * sxy - sx * sy) /
            SQRT((n * sx2 - sx * sx) * (n * sy2 - sy * sy)), 6) AS corr_vu
        FROM m ORDER BY event_type""")),

    // VARIANT SHREDDING — Spark 4's open-ended semi-structured type, the
    // engine answer to "the telemetry schema changes weekly": events
    // carry a nested JSON payload (synthesized here from typed columns
    // so the oracle can reason from the generators; fields go MISSING
    // on a fixed residue, the way real telemetry does), `parse_json`
    // turns it into a binary VARIANT once, and typed paths shred out
    // via `variant_get` — `try_variant_get` absorbs the missing-field
    // case as NULL instead of failing the batch. Unlike
    // get_json_object (q42's device), VARIANT parses once per row and
    // every extraction is a binary-offset walk — the difference between
    // O(paths) JSON re-parses and one parse at 100 TB. The aggregate
    // gates both the values and the missing-field accounting.
    Q("q244_variant_shred",
      (s, d) => {
        val ev = t(s, d, "events").select(col("event_id"),
          col("event_type"), col("value"))
        val js = to_json(struct(
          struct(
            when(col("event_id") % 2 === 0, lit("android"))
              .otherwise(lit("ios")).as("os"),
            // missing on the %3 residue: to_json drops null fields
            when(col("event_id") % 3 =!= 0,
              (col("event_id") % 7 + 10).cast("int")).as("ver")
          ).as("device"),
          col("value").as("amount")))
        ev.withColumn("v", parse_json(js))
          .select(col("event_id"),
            expr("variant_get(v, '$.device.os', 'string')").as("os"),
            expr("try_variant_get(v, '$.device.ver', 'int')").as("ver"),
            expr("variant_get(v, '$.amount', 'double')").as("amount"))
          .groupBy("os")
          .agg(count(lit(1)).as("n"),
            sum(col("ver").isNull.cast("long")).as("n_missing_ver"),
            sum(col("ver")).cast("long").as("sum_ver"),
            decSum(col("amount")).as("total_amount"))
          .orderBy("os")
      },
      Some("""
        WITH e AS (
          SELECT CASE WHEN event_id % 2 = 0 THEN 'android' ELSE 'ios' END
              AS os,
            CASE WHEN event_id % 3 <> 0 THEN event_id % 7 + 10 END AS ver,
            value AS amount
          FROM events)
        SELECT os, COUNT(*) AS n,
          CAST(SUM(CASE WHEN ver IS NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_missing_ver,
          CAST(SUM(ver) AS BIGINT) AS sum_ver,
          CAST(CAST(SUM(CAST(amount AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
            AS total_amount
        FROM e GROUP BY os ORDER BY os""")),

    // CORRELATED SCALAR SUBQUERY (the TPC-H Q17 shape) — the SQL-entry
    // operator family q46 opens, pushed to the construct users actually
    // migrate with: a per-group scalar subquery correlated on the outer
    // row's key, which Catalyst DECORRELATES into an aggregate-then-join
    // (never a per-row re-execution — that is the plan property that
    // makes the construct survive 100 TB; the oracle runs the same
    // correlated text natively). Numerics: l_quantity is integer-valued,
    // so AVG is an exact integer sum over a count — one IEEE division,
    // identical in both engines; the revenue sum goes through the
    // decimal string round-trip as everywhere.
    Q("q283_correlated_subquery",
      (s, d) => {
        t(s, d, "lineitem").createOrReplaceTempView("lineitem_q283")
        s.sql("""
          SELECT COUNT(*) AS n_small,
            CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6)))
              AS STRING) AS DOUBLE) AS small_lot_revenue
          FROM lineitem_q283 l
          WHERE l.l_quantity < 0.5 * (
            SELECT AVG(l2.l_quantity) FROM lineitem_q283 l2
            WHERE l2.l_partkey = l.l_partkey)""")
      },
      Some("""
        SELECT COUNT(*) AS n_small,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6)))
            AS VARCHAR) AS DOUBLE) AS small_lot_revenue
        FROM lineitem l
        WHERE l.l_quantity < 0.5 * (
          SELECT AVG(l2.l_quantity) FROM lineitem l2
          WHERE l2.l_partkey = l.l_partkey)""")),

    // GROUPING SETS — the general form behind q08's ROLLUP and q119's
    // CUBE: an explicit, non-hierarchical set list ((nation, segment),
    // (segment), ()) — the shape marts use when the two totals they
    // need are NOT a prefix chain. Spark 4's Dataset `groupingSets`
    // API (not SQL text) drives it; `grouping_id()` disambiguates the
    // all-NULL total row from a genuinely NULL key, surfaced as the
    // same most-significant-first bitmask both engines emit. One
    // expanded hash aggregate — each input row replicates once per
    // set, map-side combined, no join.
    Q("q286_grouping_sets",
      (s, d) =>
        t(s, d, "customer")
          .groupingSets(
            Seq(Seq(col("c_nationkey"), col("c_mktsegment")),
              Seq(col("c_mktsegment")), Seq()),
            col("c_nationkey"), col("c_mktsegment"))
          .agg(grouping_id().cast("long").as("gid"),
            count(lit(1)).as("n"),
            QH.decSum(col("c_acctbal")).as("bal_sum"))
          .select(col("c_nationkey").cast("long").as("nation"),
            col("c_mktsegment").as("segment"), col("gid"), col("n"),
            round(col("bal_sum"), 6).as("bal_sum"))
          .orderBy("gid", "nation", "segment"),
      Some("""
        SELECT CAST(c_nationkey AS BIGINT) AS nation,
          c_mktsegment AS segment,
          CAST(GROUPING(c_nationkey, c_mktsegment) AS BIGINT) AS gid,
          COUNT(*) AS n,
          ROUND(CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6)))
            AS VARCHAR) AS DOUBLE), 6) AS bal_sum
        FROM customer
        GROUP BY GROUPING SETS ((c_nationkey, c_mktsegment),
          (c_mktsegment), ())
        ORDER BY gid, nation, segment""")),

    // NATIVE RECURSIVE CTE — Spark 4's WITH RECURSIVE (UnionLoop) under
    // the hard gate: the hierarchy walk q266/q280 hand-roll as driver
    // loops, written as the ANSI construct BOTH engines execute
    // natively — the last SQL-surface family a migrating user would
    // reach for. The hierarchy is synthetic but structural: parent(k) =
    // k div 10 (a decimal-trie org chart over customer keys), and the
    // query rolls each account balance up each node's ancestor chain —
    // per-node recursion depth is log10(maxkey), so the loop is bounded
    // by the KEY WIDTH, not the data; the anchor set is a deterministic
    // 10% key slice so the recursion's total row count stays inside the
    // engine's cteRecursionRowLimit at every scale factor. Ancestors that are not customers
    // drop at the join identically in both engines; sums ride the
    // decimal string round-trip.
    Q("q290_recursive_cte",
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("customer_q290")
        s.sql("""
          WITH RECURSIVE anc(ck, node) AS (
            SELECT c_custkey, c_custkey FROM customer_q290
            WHERE c_custkey % 10 = 3
            UNION ALL
            SELECT ck, node DIV 10 FROM anc WHERE node >= 10)
          SELECT a.ck AS c_custkey, COUNT(*) AS chain_len,
            CAST(CAST(SUM(CAST(p.c_acctbal AS DECIMAL(28,6)))
              AS STRING) AS DOUBLE) AS chain_bal
          FROM anc a JOIN customer_q290 p ON a.node = p.c_custkey
          GROUP BY a.ck ORDER BY c_custkey""")
      },
      Some("""
        WITH RECURSIVE anc(ck, node) AS (
          SELECT c_custkey, c_custkey FROM customer
          WHERE c_custkey % 10 = 3
          UNION ALL
          SELECT ck, node // 10 FROM anc WHERE node >= 10)
        SELECT a.ck AS c_custkey, COUNT(*) AS chain_len,
          CAST(CAST(SUM(CAST(p.c_acctbal AS DECIMAL(28,6)))
            AS VARCHAR) AS DOUBLE) AS chain_bal
        FROM anc a JOIN customer p ON a.node = p.c_custkey
        GROUP BY a.ck ORDER BY c_custkey""")),

    // NATIVE Dataset.unpivot — the A14 family's modern form (q48 builds
    // the long frame with an explicit stack expression, the shape the
    // reference's Python loop implies; this is the first-class API a
    // Spark-4 user would actually write): wide per-priority aggregates
    // melt into (priority, metric, value) rows through ONE generator —
    // no union of selects, one pass. Values round to 6dp pre-melt so
    // the gate hashes whole millionths (avg comes from the decimal
    // ratio). Oracle = DuckDB's native UNPIVOT, so both engines run
    // their own first-class melt operator.
    Q("q291_native_unpivot",
      (s, d) => {
        val wide = t(s, d, "orders")
          .groupBy("o_orderpriority")
          .agg(
            round(min(col("o_totalprice")), 6).as("min_price"),
            round(max(col("o_totalprice")), 6).as("max_price"),
            round(QH.decAvg(col("o_totalprice")), 6).as("avg_price"))
        wide.unpivot(
          Array(col("o_orderpriority")),
          Array(col("min_price"), col("max_price"), col("avg_price")),
          "metric", "value")
          .orderBy("o_orderpriority", "metric")
      },
      Some("""
        WITH wide AS (
          SELECT o_orderpriority,
            ROUND(MIN(o_totalprice), 6) AS min_price,
            ROUND(MAX(o_totalprice), 6) AS max_price,
            ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
              AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS avg_price
          FROM orders GROUP BY o_orderpriority)
        UNPIVOT wide
        ON min_price, max_price, avg_price
        INTO NAME metric VALUE value
        ORDER BY o_orderpriority, metric""")),

    // LATERAL JOIN — the correlated-derived-table form of top-k per
    // group (q12 is the window form, q52 the global form): for each
    // nation, the 3 richest customers via JOIN LATERAL (... ORDER BY
    // ... LIMIT 3). Catalyst decorrelates the per-row subquery into a
    // rank-filter join (the same WindowGroupLimit lowering q12 pins) —
    // the construct is ergonomics, the plan is the scalable one. Both
    // engines execute their native LATERAL.
    Q("q293_lateral_topk",
      (s, d) => {
        t(s, d, "customer").createOrReplaceTempView("customer_q293")
        t(s, d, "nation").createOrReplaceTempView("nation_q293")
        s.sql("""
          SELECT n.n_name, t.c_custkey, t.c_acctbal
          FROM nation_q293 n
          JOIN LATERAL (
            SELECT c_custkey, c_acctbal FROM customer_q293 c
            WHERE c.c_nationkey = n.n_nationkey
            ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
          ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""")
      },
      Some("""
        SELECT n.n_name, t.c_custkey, t.c_acctbal
        FROM nation n
        JOIN LATERAL (
          SELECT c_custkey, c_acctbal FROM customer c
          WHERE c.c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t ON TRUE
        ORDER BY n.n_name, t.c_acctbal DESC, t.c_custkey""")),

    // Dataset.transpose — Spark 4's first-class matrix flip (the
    // inverse direction of q291's melt): the 5-priority × 3-metric
    // aggregate frame flips so METRICS become rows and priorities
    // become columns — the report orientation BI wants without a
    // pivot's aggregate detour. Priorities are the closed TPC-H
    // enumeration, so the transposed schema is fixed at every scale
    // factor; the oracle states each output cell as a scalar subquery
    // (DuckDB has no transpose — stating the result cell-by-cell IS the
    // independent check).
    Q("q294_transpose",
      (s, d) =>
        t(s, d, "orders")
          .groupBy("o_orderpriority")
          .agg(
            round(min(col("o_totalprice")), 6).as("min_price"),
            round(max(col("o_totalprice")), 6).as("max_price"),
            round(QH.decAvg(col("o_totalprice")), 6).as("avg_price"))
          .orderBy("o_orderpriority")
          .transpose()
          .orderBy("key"),
      Some("""
        WITH wide AS (
          SELECT o_orderpriority AS p,
            ROUND(MIN(o_totalprice), 6) AS mn,
            ROUND(MAX(o_totalprice), 6) AS mx,
            ROUND(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
              AS VARCHAR) AS DOUBLE) / COUNT(*), 6) AS av
          FROM orders GROUP BY o_orderpriority),
        m AS (SELECT * FROM (VALUES ('avg_price'), ('max_price'),
          ('min_price')) AS t(key))
        SELECT m.key,
          (SELECT CASE m.key WHEN 'min_price' THEN mn
             WHEN 'max_price' THEN mx ELSE av END FROM wide
           WHERE p = '1-URGENT') AS "1-URGENT",
          (SELECT CASE m.key WHEN 'min_price' THEN mn
             WHEN 'max_price' THEN mx ELSE av END FROM wide
           WHERE p = '2-HIGH') AS "2-HIGH",
          (SELECT CASE m.key WHEN 'min_price' THEN mn
             WHEN 'max_price' THEN mx ELSE av END FROM wide
           WHERE p = '3-MEDIUM') AS "3-MEDIUM",
          (SELECT CASE m.key WHEN 'min_price' THEN mn
             WHEN 'max_price' THEN mx ELSE av END FROM wide
           WHERE p = '4-NOT SPECIFIED') AS "4-NOT SPECIFIED",
          (SELECT CASE m.key WHEN 'min_price' THEN mn
             WHEN 'max_price' THEN mx ELSE av END FROM wide
           WHERE p = '5-LOW') AS "5-LOW"
        FROM m ORDER BY m.key""")),

    // FILTER-clause aggregates — the ANSI form of conditional
    // aggregation (q05 is the CASE-WHEN form the reference's notebooks
    // use; this is what a user migrating modern SQL writes): multiple
    // differently-filtered aggregates in ONE hash-agg pass, no
    // self-joins, no CASE scaffolding. Both engines run their native
    // FILTER clause.
    Q("q295_filter_clause_agg",
      (s, d) => {
        t(s, d, "orders").createOrReplaceTempView("orders_q295")
        s.sql("""
          SELECT o_orderpriority,
            COUNT(*) AS n,
            COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
            COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_large,
            CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
              FILTER (WHERE o_orderstatus = 'O') AS STRING) AS DOUBLE)
              AS open_total
          FROM orders_q295
          GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some("""
        SELECT o_orderpriority,
          COUNT(*) AS n,
          COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
          COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_large,
          CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6)))
            FILTER (WHERE o_orderstatus = 'O') AS VARCHAR) AS DOUBLE)
            AS open_total
        FROM orders
        GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // NULL-SAFE EQUALITY JOIN (<=> / IS NOT DISTINCT FROM) — the join
    // operator nullable business keys force on every warehouse: a
    // plain equi join silently DROPS null-keyed rows on both sides,
    // while the null-safe form pairs them — and Spark still plans it
    // as a hash join (EqualNullSafe is a join key, not a residual).
    // Nulls are synthesized deterministically with NULLIF on a stable
    // slice so the gate covers the null-bucket row explicitly.
    Q("q296_nullsafe_join",
      (s, d) => {
        val o = t(s, d, "orders")
          .select(nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("pk"),
            col("o_totalprice"))
        val dim = t(s, d, "orders")
          .groupBy(nullif(col("o_orderpriority"), lit("3-MEDIUM")).as("dk"))
          .agg(count(lit(1)).as("dim_n"))
        o.join(dim, col("pk") <=> col("dk"))
          .groupBy("pk")
          .agg(count(lit(1)).as("n"), first(col("dim_n")).as("dim_n"))
          .orderBy(col("pk").asc_nulls_first)
      },
      Some("""
        WITH o AS (
          SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS pk, o_totalprice
          FROM orders),
        dim AS (
          SELECT NULLIF(o_orderpriority, '3-MEDIUM') AS dk,
            COUNT(*) AS dim_n
          FROM orders GROUP BY 1)
        SELECT o.pk, COUNT(*) AS n, MIN(dim.dim_n) AS dim_n
        FROM o JOIN dim ON o.pk IS NOT DISTINCT FROM dim.dk
        GROUP BY o.pk ORDER BY o.pk NULLS FIRST"""))
  )
}
