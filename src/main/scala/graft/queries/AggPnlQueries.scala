package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.core.Conf
import graft.pipelines.TransactionsPipeline
import QH._

/** The reference's heaviest gold table at full width: `agg_pnl`
  * (zetadex-transactions-helius-pipeline.py:1486–1878), re-expressed
  * over the events corpus. The leaderboard body is the pipeline's own
  * `agg_pnl` TableDef ([[TransactionsPipeline.aggPnl]]: trailing
  * anchors, Modified-Dietz flows, PnL/ROI, 7 tie-broken ranks and their
  * changes), applied to an events-derived hourly frame, the way q75
  * resolves RewardsPipeline. Around it q68 adds the stages the compact
  * table lacks, mirroring the reference stage for stage:
  *
  *   hourly snapshots → cumulative equity / deposit cumsums (W6) →
  *   the `agg_pnl` TableDef → offset-hour trades join (J5,
  *   TX:1736–1742) + nft-multiplier / campaign left joins (J11,
  *   TX:1743–1744) → z-score formula (TX:1750–1763) → windowed
  *   volume / multiplier / z-score sums + 4 z-score ranks and changes
  *   (TX:1764–1816) → 53-column projection (TX:1817–1877).
  *
  * Shuffle economy: every trailing/cumulative window shares one
  * partitioning per user family and every rank one partitioning on
  * timestamp, so the ~30 window columns add no exchanges of their own.
  * PlanSpec bounds the physical plan at 10 hash/range exchanges and
  * asserts that the optimized plan force-broadcasts no join side; the
  * plan has exactly 10 at sf0.001.
  *
  * Determinism: the TableDef runs on the [[Conf.ForTests]] clock, and
  * every double sum is decimal-accumulated ([[QH.decSum]]), so the
  * output does not depend on accumulation order and hash-matches the
  * oracle.
  */
object AggPnlQueries {

  val qs: Seq[Q] = Seq(
    Q("q68_agg_pnl",
      (s, d) => {
        import s.implicits._
        val ev = t(s, d, "events")

        // Hourly snapshot frame (cleaned_pnl analog): one conditional
        // aggregate per flow kind (purchase=deposit flow, click=taker
        // volume, view=maker volume), then the cumulative series.
        val base = ev
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("timestamp"))
          .agg(
            decSum(col("value")).as("value_delta"),
            decSum(when(col("event_type") === "purchase", col("value"))
              .otherwise(0.0)).as("deposit_amount"),
            decSum(when(col("event_type") === "click", col("value"))
              .otherwise(0.0)).as("taker_volume_raw"),
            decSum(when(col("event_type") === "view", col("value"))
              .otherwise(0.0)).as("maker_volume_raw"))
        val wCum = Window.partitionBy("user_id").orderBy(col("timestamp"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val hourly = base
          .withColumn("equity", decSum(col("value_delta"), wCum))
          .withColumn("deposit_cumsum", decSum(col("deposit_amount"), wCum))
          .withColumn("cumulative_pnl", col("equity") - col("deposit_cumsum"))

        // Stages 1–2: the pipeline's leaderboard body. No account is
        // labeled a market maker, and the anti join against the empty
        // label frame optimizes away.
        val emptyLabels = Seq.empty[(Long, String)].toDF("pub_key", "label")
        val f2 = TransactionsPipeline.aggPnl(Conf.ForTests)
          .transform(Seq(hourly.withColumnRenamed("user_id", "authority"), emptyLabels))
          .withColumnRenamed("authority", "user_id")
          .withColumn("t", unix_timestamp(col("timestamp")))

        // Window specs of stages 4–5: one (user_id, t) partitioning
        // serves all trailing/cumulative frames.
        def trail(sec: Long): WindowSpec = Window.partitionBy("user_id")
          .orderBy(col("t")).rangeBetween(-sec, 0)
        val w24 = trail(86400L); val w7d = trail(604800L)
        val w30 = trail(2592000L)
        val wAll = Window.partitionBy("user_id").orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def rankW(order: Column*): WindowSpec =
          Window.partitionBy("timestamp").orderBy(order: _*)

        // Stage 3: prior-hour trades (offset equi join, J5), nft
        // multiplier and campaign score joins. All three frames derive
        // from the events FACT (per user-hour granularity), so they are
        // deliberately NOT broadcast-hinted: at 100× the driver would
        // have to collect and ship the whole per-user-hour frame (OOM).
        // AQE picks broadcast when the built side is actually small and
        // a shuffle join when it is not; the shuffle case lands on the
        // same (user_id, timestamp) keys the window stages already
        // partitioned by.
        val trades = base.select(col("user_id").as("b_user"),
          col("timestamp").as("b_ts"),
          col("taker_volume_raw").as("tv_prev"),
          col("maker_volume_raw").as("mv_prev"))
        val nft = ev.filter(col("event_type") === "signup")
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("timestamp"))
          .agg(count(lit(1)).as("nft_burns"))
          .select(col("user_id"), col("timestamp"),
            (lit(1.0) + least(col("nft_burns"), lit(5L)).cast("double") * lit(0.1))
              .as("nft_multiplier"))
        val campaign = ev.filter(col("event_type") === "error")
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("timestamp"))
          .agg(decSum(col("value")).as("campaign_z_raw"))

        val f3 = f2
          .join(trades,
            col("user_id") === col("b_user") &&
              col("timestamp") === col("b_ts") + expr("interval 1 hour"),
            "left")
          .drop("b_user", "b_ts")
          .join(nft, Seq("timestamp", "user_id"), "left")
          .join(campaign, Seq("timestamp", "user_id"), "left")
          .withColumn("taker_volume", coalesce(col("tv_prev"), lit(0.0)))
          .withColumn("maker_volume", coalesce(col("mv_prev"), lit(0.0)))
          .withColumn("z_multiplier_nft", coalesce(col("nft_multiplier"), lit(1.0)))
          .withColumn("campaign_z_score", coalesce(col("campaign_z_raw"), lit(0.0)))
          .withColumn("z_multiplier", when(col("pnl_24h_rank") <= 100,
            lit(2.0) - (col("pnl_24h_rank") - 1) * lit(0.01)).otherwise(lit(1.0)))
          .withColumn("z_score",
            (col("z_multiplier") * col("z_multiplier_nft")) *
              (lit(1.0) * col("taker_volume") + lit(0.2) * col("maker_volume")) +
              col("campaign_z_score"))

        // Stage 4: windowed volumes / multipliers / z-scores (back on
        // the shared user partitioning) then the 4 z-score ranks +
        // changes.
        val f4 = f3
          .withColumn("maker_volume_24h", decSum(col("maker_volume"), w24))
          .withColumn("maker_volume_7d", decSum(col("maker_volume"), w7d))
          .withColumn("maker_volume_30d", decSum(col("maker_volume"), w30))
          .withColumn("maker_volume_alltime", decSum(col("maker_volume"), wAll))
          .withColumn("taker_volume_24h", decSum(col("taker_volume"), w24))
          .withColumn("taker_volume_7d", decSum(col("taker_volume"), w7d))
          .withColumn("taker_volume_30d", decSum(col("taker_volume"), w30))
          .withColumn("taker_volume_alltime", decSum(col("taker_volume"), wAll))
          .withColumn("z_multiplier_24h", col("z_multiplier"))
          .withColumn("z_multiplier_7d",
            decSum(col("z_multiplier"), w7d) / count(lit(1)).over(w7d))
          .withColumn("z_multiplier_30d",
            decSum(col("z_multiplier"), w30) / count(lit(1)).over(w30))
          .withColumn("z_multiplier_alltime",
            decSum(col("z_multiplier"), wAll) / count(lit(1)).over(wAll))
          .withColumn("z_score_24h", decSum(col("z_score"), w24))
          .withColumn("z_score_7d", decSum(col("z_score"), w7d))
          .withColumn("z_score_30d", decSum(col("z_score"), w30))
          .withColumn("z_score_alltime", decSum(col("z_score"), wAll))

        val f5 = f4
          .withColumn("z_score_24h_rank", rank().over(
            rankW(col("z_score_24h").desc, col("pnl_24h").desc, col("user_id"))))
          .withColumn("z_score_7d_rank", rank().over(
            rankW(col("z_score_7d").desc, col("pnl_7d").desc, col("user_id"))))
          .withColumn("z_score_30d_rank", rank().over(
            rankW(col("z_score_30d").desc, col("pnl_30d").desc, col("user_id"))))
          .withColumn("z_score_alltime_rank", rank().over(
            rankW(col("z_score_alltime").desc, col("pnl_alltime").desc,
              col("user_id"))))
          .withColumn("z_score_24h_rank_change",
            -(col("z_score_24h_rank") - first(col("z_score_24h_rank")).over(w24)))
          .withColumn("z_score_7d_rank_change",
            -(col("z_score_7d_rank") - first(col("z_score_7d_rank")).over(w7d)))
          .withColumn("z_score_30d_rank_change",
            -(col("z_score_30d_rank") - first(col("z_score_30d_rank")).over(w30)))
          .withColumn("z_score_alltime_rank_change",
            -(col("z_score_alltime_rank")
              - first(col("z_score_alltime_rank")).over(wAll)))
          .withColumn("fee_tier",
            when(col("taker_volume_30d") >= 1200.0, 0)
              .when(col("taker_volume_30d") >= 900.0, 1)
              .when(col("taker_volume_30d") >= 600.0, 2)
              .when(col("taker_volume_30d") >= 300.0, 3)
              .otherwise(4))

        f5.select(
          col("timestamp"), col("user_id"),
          col("equity"), col("cumulative_pnl"), col("deposit_cumsum"),
          col("pnl_24h"), col("pnl_7d"), col("pnl_30d"), col("pnl_alltime"),
          col("roi_24h"), col("roi_7d"), col("roi_30d"),
          col("pnl_24h_rank"), col("pnl_7d_rank"), col("pnl_30d_rank"),
          col("pnl_alltime_rank"),
          col("roi_24h_rank"), col("roi_7d_rank"), col("roi_30d_rank"),
          col("pnl_24h_rank_change"), col("pnl_7d_rank_change"),
          col("pnl_30d_rank_change"), col("pnl_alltime_rank_change"),
          col("roi_24h_rank_change"), col("roi_7d_rank_change"),
          col("roi_30d_rank_change"),
          col("maker_volume_24h"), col("maker_volume_7d"),
          col("maker_volume_30d"), col("maker_volume_alltime"),
          col("taker_volume_24h"), col("taker_volume_7d"),
          col("taker_volume_30d"), col("taker_volume_alltime"),
          col("z_multiplier_24h"), col("z_multiplier_7d"),
          col("z_multiplier_30d"), col("z_multiplier_alltime"),
          col("z_multiplier_nft"), col("z_score"),
          col("z_score_24h"), col("z_score_7d"), col("z_score_30d"),
          col("z_score_alltime"),
          col("z_score_24h_rank"), col("z_score_7d_rank"),
          col("z_score_30d_rank"), col("z_score_alltime_rank"),
          col("z_score_24h_rank_change"), col("z_score_7d_rank_change"),
          col("z_score_30d_rank_change"), col("z_score_alltime_rank_change"),
          col("fee_tier"), col("date_"))
          .orderBy("timestamp", "user_id")
      },
      Some("""
        WITH base AS (
          SELECT user_id,
            CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS timestamp,
            CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS value_delta,
            CAST(CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS deposit_amount,
            CAST(CAST(SUM(CAST(CASE WHEN event_type = 'click' THEN value ELSE 0.0 END AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS taker_volume_raw,
            CAST(CAST(SUM(CAST(CASE WHEN event_type = 'view' THEN value ELSE 0.0 END AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS maker_volume_raw
          FROM events GROUP BY 1, 2),
        base2 AS (
          SELECT *, CAST(FLOOR(EPOCH(timestamp)) AS BIGINT) - 1704067200 AS t
          FROM base),
        c1 AS (
          SELECT *,
            CAST(CAST(SUM(CAST(value_delta AS DECIMAL(28,6))) OVER wall AS VARCHAR) AS DOUBLE) AS equity,
            CAST(CAST(SUM(CAST(deposit_amount AS DECIMAL(28,6))) OVER wall AS VARCHAR) AS DOUBLE) AS deposit_cumsum
          FROM base2
          WINDOW wall AS (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        c2 AS (SELECT *, equity - deposit_cumsum AS cumulative_pnl FROM c1),
        c3 AS (
          SELECT *,
            FIRST_VALUE(cumulative_pnl) OVER w24 AS cum_lag_24h,
            FIRST_VALUE(cumulative_pnl) OVER w7d AS cum_lag_7d,
            FIRST_VALUE(cumulative_pnl) OVER w30 AS cum_lag_30d,
            FIRST_VALUE(cumulative_pnl) OVER wall AS cum_lag_alltime,
            FIRST_VALUE(equity) OVER w24 AS equity_lag_24h,
            FIRST_VALUE(equity) OVER w7d AS equity_lag_7d,
            FIRST_VALUE(equity) OVER w30 AS equity_lag_30d,
            CAST(CAST(SUM(CAST(deposit_amount AS DECIMAL(28,6))) OVER w24x AS VARCHAR) AS DOUBLE) AS s0_24,
            CAST(CAST(SUM(CAST(deposit_amount * t AS DECIMAL(28,6))) OVER w24x AS VARCHAR) AS DOUBLE) AS s1_24,
            CAST(CAST(SUM(CAST(deposit_amount AS DECIMAL(28,6))) OVER w7dx AS VARCHAR) AS DOUBLE) AS s0_7,
            CAST(CAST(SUM(CAST(deposit_amount * t AS DECIMAL(28,6))) OVER w7dx AS VARCHAR) AS DOUBLE) AS s1_7,
            CAST(CAST(SUM(CAST(deposit_amount AS DECIMAL(28,6))) OVER w30x AS VARCHAR) AS DOUBLE) AS s0_30,
            CAST(CAST(SUM(CAST(deposit_amount * t AS DECIMAL(28,6))) OVER w30x AS VARCHAR) AS DOUBLE) AS s1_30
          FROM c2
          WINDOW
            w24 AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW),
            w7d AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW),
            w30 AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW),
            wall AS (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            w24x AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 82800 PRECEDING AND CURRENT ROW),
            w7dx AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 601200 PRECEDING AND CURRENT ROW),
            w30x AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 2588400 PRECEDING AND CURRENT ROW)),
        c4 AS (
          SELECT *,
            cumulative_pnl - cum_lag_24h AS pnl_24h,
            cumulative_pnl - cum_lag_7d AS pnl_7d,
            cumulative_pnl - cum_lag_30d AS pnl_30d,
            cumulative_pnl - cum_lag_alltime AS pnl_alltime,
            (2548800 * s0_24 - s1_24) / 86400.0 AS dw_24h,
            (2548800 * s0_7 - s1_7) / 604800.0 AS dw_7d,
            (2548800 * s0_30 - s1_30) / 2592000.0 AS dw_30d
          FROM c3),
        c5 AS (
          SELECT *,
            CASE WHEN pnl_24h = 0.0 THEN 0.0 ELSE pnl_24h / (100.0 + equity_lag_24h + dw_24h) END AS roi_24h,
            CASE WHEN pnl_7d = 0.0 THEN 0.0 ELSE pnl_7d / (100.0 + equity_lag_7d + dw_7d) END AS roi_7d,
            CASE WHEN pnl_30d = 0.0 THEN 0.0 ELSE pnl_30d / (100.0 + equity_lag_30d + dw_30d) END AS roi_30d
          FROM c4),
        c6 AS (
          SELECT *,
            CAST(RANK() OVER (PARTITION BY timestamp ORDER BY pnl_24h DESC, roi_24h DESC, user_id) AS INTEGER) AS pnl_24h_rank,
            CAST(RANK() OVER (PARTITION BY timestamp ORDER BY pnl_7d DESC, roi_7d DESC, user_id) AS INTEGER) AS pnl_7d_rank,
            CAST(RANK() OVER (PARTITION BY timestamp ORDER BY pnl_30d DESC, roi_30d DESC, user_id) AS INTEGER) AS pnl_30d_rank,
            CAST(RANK() OVER (PARTITION BY timestamp ORDER BY pnl_alltime DESC, user_id) AS INTEGER) AS pnl_alltime_rank,
            CAST(RANK() OVER (PARTITION BY timestamp ORDER BY roi_24h DESC, pnl_24h DESC, user_id) AS INTEGER) AS roi_24h_rank,
            CAST(RANK() OVER (PARTITION BY timestamp ORDER BY roi_7d DESC, pnl_7d DESC, user_id) AS INTEGER) AS roi_7d_rank,
            CAST(RANK() OVER (PARTITION BY timestamp ORDER BY roi_30d DESC, pnl_30d DESC, user_id) AS INTEGER) AS roi_30d_rank
          FROM c5),
        c7 AS (
          SELECT *,
            CAST(-(pnl_24h_rank - FIRST_VALUE(pnl_24h_rank) OVER w24) AS INTEGER) AS pnl_24h_rank_change,
            CAST(-(pnl_7d_rank - FIRST_VALUE(pnl_7d_rank) OVER w7d) AS INTEGER) AS pnl_7d_rank_change,
            CAST(-(pnl_30d_rank - FIRST_VALUE(pnl_30d_rank) OVER w30) AS INTEGER) AS pnl_30d_rank_change,
            CAST(-(pnl_alltime_rank - FIRST_VALUE(pnl_alltime_rank) OVER wall) AS INTEGER) AS pnl_alltime_rank_change,
            CAST(-(roi_24h_rank - FIRST_VALUE(roi_24h_rank) OVER w24) AS INTEGER) AS roi_24h_rank_change,
            CAST(-(roi_7d_rank - FIRST_VALUE(roi_7d_rank) OVER w7d) AS INTEGER) AS roi_7d_rank_change,
            CAST(-(roi_30d_rank - FIRST_VALUE(roi_30d_rank) OVER w30) AS INTEGER) AS roi_30d_rank_change
          FROM c6
          WINDOW
            w24 AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW),
            w7d AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW),
            w30 AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW),
            wall AS (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        tr AS (
          SELECT user_id AS b_user, timestamp AS b_ts,
            taker_volume_raw AS tv_prev, maker_volume_raw AS mv_prev
          FROM base),
        nft AS (
          SELECT user_id,
            CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS timestamp,
            -- ::DOUBLE literals: DuckDB numeric literals are DECIMAL and
            -- would compute this chain exactly, diverging from Spark's
            -- binary64 arithmetic in the last ulp
            1.0::DOUBLE + LEAST(COUNT(*), 5) * 0.1::DOUBLE AS nft_multiplier
          FROM events WHERE event_type = 'signup' GROUP BY 1, 2),
        cmp AS (
          SELECT user_id,
            CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS timestamp,
            CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS campaign_z_raw
          FROM events WHERE event_type = 'error' GROUP BY 1, 2),
        c8 AS (
          SELECT c7.*,
            COALESCE(tr.tv_prev, 0.0) AS taker_volume,
            COALESCE(tr.mv_prev, 0.0) AS maker_volume,
            COALESCE(nft.nft_multiplier, 1.0) AS z_multiplier_nft,
            COALESCE(cmp.campaign_z_raw, 0.0) AS campaign_z_score
          FROM c7
          LEFT JOIN tr ON c7.user_id = tr.b_user AND c7.timestamp = tr.b_ts + INTERVAL 1 HOUR
          LEFT JOIN nft ON c7.timestamp = nft.timestamp AND c7.user_id = nft.user_id
          LEFT JOIN cmp ON c7.timestamp = cmp.timestamp AND c7.user_id = cmp.user_id),
        c9 AS (
          SELECT *,
            CASE WHEN pnl_24h_rank <= 100
              THEN 2.0::DOUBLE - (pnl_24h_rank - 1) * 0.01::DOUBLE
              ELSE 1.0::DOUBLE END AS z_multiplier
          FROM c8),
        c10 AS (
          SELECT *,
            (z_multiplier * z_multiplier_nft)
              * (1.0::DOUBLE * taker_volume + 0.2::DOUBLE * maker_volume)
              + campaign_z_score AS z_score
          FROM c9),
        c11 AS (
          SELECT *,
            CAST(CAST(SUM(CAST(maker_volume AS DECIMAL(28,6))) OVER w24 AS VARCHAR) AS DOUBLE) AS maker_volume_24h,
            CAST(CAST(SUM(CAST(maker_volume AS DECIMAL(28,6))) OVER w7d AS VARCHAR) AS DOUBLE) AS maker_volume_7d,
            CAST(CAST(SUM(CAST(maker_volume AS DECIMAL(28,6))) OVER w30 AS VARCHAR) AS DOUBLE) AS maker_volume_30d,
            CAST(CAST(SUM(CAST(maker_volume AS DECIMAL(28,6))) OVER wall AS VARCHAR) AS DOUBLE) AS maker_volume_alltime,
            CAST(CAST(SUM(CAST(taker_volume AS DECIMAL(28,6))) OVER w24 AS VARCHAR) AS DOUBLE) AS taker_volume_24h,
            CAST(CAST(SUM(CAST(taker_volume AS DECIMAL(28,6))) OVER w7d AS VARCHAR) AS DOUBLE) AS taker_volume_7d,
            CAST(CAST(SUM(CAST(taker_volume AS DECIMAL(28,6))) OVER w30 AS VARCHAR) AS DOUBLE) AS taker_volume_30d,
            CAST(CAST(SUM(CAST(taker_volume AS DECIMAL(28,6))) OVER wall AS VARCHAR) AS DOUBLE) AS taker_volume_alltime,
            z_multiplier AS z_multiplier_24h,
            CAST(CAST(SUM(CAST(z_multiplier AS DECIMAL(28,6))) OVER w7d AS VARCHAR) AS DOUBLE) / (COUNT(*) OVER w7d) AS z_multiplier_7d,
            CAST(CAST(SUM(CAST(z_multiplier AS DECIMAL(28,6))) OVER w30 AS VARCHAR) AS DOUBLE) / (COUNT(*) OVER w30) AS z_multiplier_30d,
            CAST(CAST(SUM(CAST(z_multiplier AS DECIMAL(28,6))) OVER wall AS VARCHAR) AS DOUBLE) / (COUNT(*) OVER wall) AS z_multiplier_alltime,
            CAST(CAST(SUM(CAST(z_score AS DECIMAL(28,6))) OVER w24 AS VARCHAR) AS DOUBLE) AS z_score_24h,
            CAST(CAST(SUM(CAST(z_score AS DECIMAL(28,6))) OVER w7d AS VARCHAR) AS DOUBLE) AS z_score_7d,
            CAST(CAST(SUM(CAST(z_score AS DECIMAL(28,6))) OVER w30 AS VARCHAR) AS DOUBLE) AS z_score_30d,
            CAST(CAST(SUM(CAST(z_score AS DECIMAL(28,6))) OVER wall AS VARCHAR) AS DOUBLE) AS z_score_alltime
          FROM c10
          WINDOW
            w24 AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW),
            w7d AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW),
            w30 AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW),
            wall AS (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        c12 AS (
          SELECT *,
            CAST(RANK() OVER (PARTITION BY timestamp ORDER BY z_score_24h DESC, pnl_24h DESC, user_id) AS INTEGER) AS z_score_24h_rank,
            CAST(RANK() OVER (PARTITION BY timestamp ORDER BY z_score_7d DESC, pnl_7d DESC, user_id) AS INTEGER) AS z_score_7d_rank,
            CAST(RANK() OVER (PARTITION BY timestamp ORDER BY z_score_30d DESC, pnl_30d DESC, user_id) AS INTEGER) AS z_score_30d_rank,
            CAST(RANK() OVER (PARTITION BY timestamp ORDER BY z_score_alltime DESC, pnl_alltime DESC, user_id) AS INTEGER) AS z_score_alltime_rank
          FROM c11),
        c13 AS (
          SELECT *,
            CAST(-(z_score_24h_rank - FIRST_VALUE(z_score_24h_rank) OVER w24) AS INTEGER) AS z_score_24h_rank_change,
            CAST(-(z_score_7d_rank - FIRST_VALUE(z_score_7d_rank) OVER w7d) AS INTEGER) AS z_score_7d_rank_change,
            CAST(-(z_score_30d_rank - FIRST_VALUE(z_score_30d_rank) OVER w30) AS INTEGER) AS z_score_30d_rank_change,
            CAST(-(z_score_alltime_rank - FIRST_VALUE(z_score_alltime_rank) OVER wall) AS INTEGER) AS z_score_alltime_rank_change,
            CASE WHEN taker_volume_30d >= 1200.0 THEN 0
                 WHEN taker_volume_30d >= 900.0 THEN 1
                 WHEN taker_volume_30d >= 600.0 THEN 2
                 WHEN taker_volume_30d >= 300.0 THEN 3
                 ELSE 4 END AS fee_tier,
            CAST(DATE_TRUNC('day', timestamp) AS TIMESTAMP) AS date_
          FROM c12
          WINDOW
            w24 AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW),
            w7d AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW),
            w30 AS (PARTITION BY user_id ORDER BY t RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW),
            wall AS (PARTITION BY user_id ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        SELECT timestamp, user_id,
          equity, cumulative_pnl, deposit_cumsum,
          pnl_24h, pnl_7d, pnl_30d, pnl_alltime,
          roi_24h, roi_7d, roi_30d,
          pnl_24h_rank, pnl_7d_rank, pnl_30d_rank, pnl_alltime_rank,
          roi_24h_rank, roi_7d_rank, roi_30d_rank,
          pnl_24h_rank_change, pnl_7d_rank_change, pnl_30d_rank_change,
          pnl_alltime_rank_change,
          roi_24h_rank_change, roi_7d_rank_change, roi_30d_rank_change,
          maker_volume_24h, maker_volume_7d, maker_volume_30d, maker_volume_alltime,
          taker_volume_24h, taker_volume_7d, taker_volume_30d, taker_volume_alltime,
          z_multiplier_24h, z_multiplier_7d, z_multiplier_30d, z_multiplier_alltime,
          z_multiplier_nft, z_score,
          z_score_24h, z_score_7d, z_score_30d, z_score_alltime,
          z_score_24h_rank, z_score_7d_rank, z_score_30d_rank, z_score_alltime_rank,
          z_score_24h_rank_change, z_score_7d_rank_change, z_score_30d_rank_change,
          z_score_alltime_rank_change,
          fee_tier, date_
        FROM c13 ORDER BY timestamp, user_id"""))
  )
}
