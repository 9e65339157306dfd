package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QH._

/** Window-function operator families (SURVEY.md §2.6) over the events
  * fact table. Each distinct (partitionBy, orderBy) pair is one
  * shuffle+sort stage; queries sharing a spec reuse the exchange.
  */
object WindowQueries {

  val qs: Seq[Q] = Seq(
    // W1 multi-key rank leaderboard (transactions:1525–1545, :1656–1663).
    Q("q11_rank_leaderboard",
      (s, d) =>
        t(s, d, "customer")
          .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
            rank().over(Window.partitionBy("c_nationkey")
              .orderBy(col("c_acctbal").desc, col("c_custkey"))).as("bal_rank"))
          .orderBy("c_nationkey", "bal_rank"),
      Some("""
        SELECT c_custkey, c_nationkey, c_acctbal,
          CAST(RANK() OVER (PARTITION BY c_nationkey
            ORDER BY c_acctbal DESC, c_custkey) AS INTEGER) AS bal_rank
        FROM customer ORDER BY c_nationkey, bal_rank""")),

    // W2/O2 top-1 per key via row_number (transactions:1941–1945).
    Q("q12_latest_per_user",
      (s, d) =>
        t(s, d, "events")
          .withColumn("__rn", row_number().over(Window.partitionBy("user_id")
            .orderBy(col("ts").desc, col("event_id").desc)))
          .filter(col("__rn") === 1)
          .select("user_id", "event_id", "ts", "event_type", "value")
          .orderBy("user_id"),
      Some("""
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value
        FROM events
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id
          ORDER BY ts DESC, event_id DESC) = 1
        ORDER BY user_id""")),

    // W3 lead/lag (amplitude:164, mm-uptime-v2:82–87).
    Q("q13_lead_lag",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        t(s, d, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            lag(col("value"), 1).over(w).as("prev_value"),
            lead(col("value"), 1).over(w).as("next_value"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id, user_id, value,
          LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value,
          LEAD(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_value
        FROM events ORDER BY event_id""")),

    // W4 trailing 24h event-time range window (transactions:845–853).
    Q("q14_rolling_24h",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(unix_timestamp(col("ts")))
          .rangeBetween(-86400L, 0L)
        t(s, d, "events")
          .select(col("event_id"),
            decSum(col("value"), w).as("rolling_24h"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id,
          CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (PARTITION BY user_id
            ORDER BY CAST(FLOOR(EPOCH(ts)) AS BIGINT)
            RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS rolling_24h
        FROM events ORDER BY event_id""")),

    // W6 cumulative sum (transactions:1000–1004 deposit cumsum).
    Q("q15_cumsum",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .select(col("event_id"),
            decSum(col("value"), w).as("cum_value"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id,
          CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS cum_value
        FROM events ORDER BY event_id""")),

    // W10 share-of-total: row value / partition total (rewards:105–107).
    // Note for low-cardinality partitions at 100 TB (here: 5 event
    // types): the same result comes from groupBy totals + broadcast
    // join, avoiding 5 giant window partitions — RewardsPipeline keys
    // its cohort windows on (epoch, asset, side) where cardinality is
    // high enough for the window form.
    Q("q16_share_of_total",
      (s, d) => {
        val w = Window.partitionBy("event_type")
        t(s, d, "events")
          .select(col("event_id"),
            (col("value") / decSum(col("value"), w))
              .as("share"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id,
          value / CAST(CAST(SUM(CAST(value AS DECIMAL(28,6)))
            OVER (PARTITION BY event_type) AS VARCHAR) AS DOUBLE) AS share
        FROM events ORDER BY event_id""")),

    // W8 first() over a window = lagged/anchor value (transactions:1561–1576).
    Q("q17_first_in_window",
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        t(s, d, "events")
          .select(col("event_id"),
            first(col("value")).over(w).as("first_value"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id,
          FIRST_VALUE(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_value
        FROM events ORDER BY event_id""")),

    // W11 conditional min/max over partition (mm-uptime-v3:36–41 best bid/ask).
    Q("q18_cond_window_minmax",
      (s, d) => {
        val w = Window.partitionBy("user_id")
        t(s, d, "events")
          .select(col("event_id"), col("user_id"),
            min(when(col("event_type") === "purchase", col("value")))
              .over(w).as("min_purchase"),
            max(when(col("event_type") === "click", col("value")))
              .over(w).as("max_click"))
          .orderBy("event_id")
      },
      Some("""
        SELECT event_id, user_id,
          MIN(CASE WHEN event_type = 'purchase' THEN value END)
            OVER (PARTITION BY user_id) AS min_purchase,
          MAX(CASE WHEN event_type = 'click' THEN value END)
            OVER (PARTITION BY user_id) AS max_click
        FROM events ORDER BY event_id""")),

    // W7 exclusive-of-first cumulative (madwars:130–136, :243–247): the
    // reference's `rowsBetween(unboundedPreceding + 1, 0)` intent —
    // cumulative sum skipping the partition's first snapshot — via
    // [[graft.ops.Relational.cumulativeExclusiveOfFirst]] (see its doc
    // for why the literal construction is a no-op in PySpark and
    // rejected by Scala Spark).
    Q("q69_cum_excl_first",
      (s, d) =>
        t(s, d, "events")
          .select(col("event_id"),
            graft.ops.Relational.cumulativeExclusiveOfFirst(
              Seq("user_id"), Seq(col("ts"), col("event_id")))(
              col("value").cast(DEC))
              .cast("string").cast("double").as("cum_excl_first"))
          .orderBy("event_id"),
      Some("""
        SELECT event_id,
          CASE WHEN ROW_NUMBER() OVER wo = 1 THEN NULL
            ELSE CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) OVER wc
              - FIRST_VALUE(CAST(value AS DECIMAL(28,6))) OVER wc
              AS VARCHAR) AS DOUBLE)
          END AS cum_excl_first
        FROM events
        WINDOW
          wo AS (PARTITION BY user_id ORDER BY ts, event_id),
          wc AS (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY event_id""")),

    // W-family completion: percent_rank / cume_dist / nth_value — the
    // distribution-rank trio q11–q18 doesn't touch. One spec (spend
    // desc, user tiebreak) serves all three, so the whole query is a
    // single shuffle+sort; the ordering is total (user_id breaks
    // ties), which makes nth_value's default running frame
    // deterministic. percent_rank/cume_dist are ratios of small ints —
    // bit-identical across engines with no rounding discipline.
    Q("q125_rank_distribution",
      (s, d) => {
        val spend = t(s, d, "events")
          .groupBy("event_type", "user_id")
          .agg(round(decSum(col("value")), 6).as("v"))
        val w = Window.partitionBy("event_type")
          .orderBy(col("v").desc, col("user_id"))
        spend.select(col("event_type"), col("user_id"), col("v"),
            percent_rank().over(w).as("pr"),
            cume_dist().over(w).as("cd"),
            nth_value(col("v"), 3).over(w).as("third_v"))
          .orderBy("event_type", "user_id")
      },
      Some("""
        WITH spend AS (
          SELECT event_type, user_id,
            ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR)
              AS DOUBLE), 6) AS v
          FROM events GROUP BY 1, 2)
        SELECT event_type, user_id, v,
          PERCENT_RANK() OVER w AS pr,
          CUME_DIST() OVER w AS cd,
          NTH_VALUE(v, 3) OVER w AS third_v
        FROM spend
        WINDOW w AS (PARTITION BY event_type ORDER BY v DESC, user_id)
        ORDER BY event_type, user_id"""))
  )
}
