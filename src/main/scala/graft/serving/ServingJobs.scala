package graft.serving

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Conf
import graft.ops.Relational

/** The serving notebooks re-expressed (zetadex-serving-v2.py, SURVEY.md
  * §3.3): snapshot a gold table at the as-of hour, reshape for KV access
  * (rollup totals, wide→long unpivot, camelCase, composite sort key,
  * TTL), and push through an [[EmbeddedKVSink]]. The reshape is pure
  * DataFrame code, so the correctness gate exercises it
  * (q49_serving_reshape).
  */
object ServingJobs {

  /** Serving projection applied before a write (zetadex-serving.py:
    * 212–221): timestamps → unix seconds, optional TTL counted from the
    * converted `ttlFrom` column. One `select`, like
    * [[Relational.camelCaseAll]]. */
  def servingProjection(df: DataFrame, ttlFrom: Option[String] = None,
                        ttl: String = "14 days"): DataFrame = {
    val seconds = df.schema.fields.toSeq
      .filter(_.dataType == org.apache.spark.sql.types.TimestampType)
      .map(f => f.name -> unix_timestamp(col(s"`${f.name}`")))
    val ttlCol = ttlFrom.map { c =>
      val from = seconds.toMap.getOrElse(c, col(s"`$c`"))
      "ttl" -> unix_timestamp(from.cast("timestamp") + expr(s"interval $ttl"))
    }
    Relational.setColumns(df, seconds ++ ttlCol: _*)
  }

  /** Leaderboard-style serving (S2:416–568): snapshot the hour at
    * `conf.asOf − lag`, add an ALL sentinel rollup over `dim`, unpivot
    * the metric columns, camelCase, and write keyed by (metric,
    * sortKey). Returns the served frame. */
  def serveSnapshot(gold: DataFrame, tsCol: String, dim: String,
                    metrics: Seq[String], conf: Conf, sink: EmbeddedKVSink,
                    table: String, lagHours: Int = 2): DataFrame = {
    val snapshot = gold.filter(col(tsCol) ===
      date_trunc("hour", conf.asOfTs - expr(s"interval $lagHours hours")))
    val withAll = Relational.rollupWithAll(dim, "ALL",
      metrics.map(m => sum(col(m).cast(graft.queries.QH.DEC))
        .cast("string").cast("double").as(m)))(
      snapshot.select((dim +: metrics).map(col): _*))
    val long = Relational.unpivotMetrics(Seq(dim), metrics)(withAll)
      .withColumn("sort_key",
        Relational.kvSortKey(col("metric"), col(dim)))
    val served = Relational.camelCaseAll(
      long.withColumn("snapshot_ts", conf.asOfTs))
    sink.write(servingProjection(served, ttlFrom = Some("snapshotTs")),
      table, hashKey = "metric", rangeKey = Some("sortKey"))
    served
  }

  /** Funding serving (S2:334–361): snapshot the funding gold at
    * `asOf − 2h` (the reference's watermark-lag delay), add the
    * `timestamp#asset` composite sort key, camelCase, write keyed by
    * margin account / authority. */
  def serveFunding(gold: DataFrame, conf: Conf, sink: EmbeddedKVSink,
                   table: String, lagHours: Int = 2): DataFrame = {
    val served = Relational.camelCaseAll(
      gold.filter(col("timestamp") ===
          date_trunc("hour", conf.asOfTs - expr(s"interval $lagHours hours")))
        .withColumn("timestamp#asset", Relational.kvSortKey(
          unix_timestamp(col("timestamp")).cast("string"), col("asset"))))
    sink.write(servingProjection(served), table,
      hashKey = "authority", rangeKey = Some("timestamp#asset"))
    served
  }

  /** Leaderboard serving (S2:416–568, `leaderboard_v2_s2`): the agg_pnl
    * snapshot reshaped to one row per (account, metric#timePeriod) with
    * per-period metric/rank payloads.
    *
    * The reference builds this as an 11-iteration union loop — 11 full
    * rescans of the gold table. Re-expressed Spark-first as ONE pass:
    * a literal array of 11 payload structs (metric × period, minus
    * roi#alltime) is exploded per input row, so the plan has a single
    * scan and NO Union node (asserted in ServingJobsSpec).
    */
  def serveLeaderboard(gold: DataFrame, conf: Conf, sink: EmbeddedKVSink,
                       table: String,
                       idCols: Seq[String] = Seq("user_id")): DataFrame = {
    val periodMap = Seq("24h" -> "TWENTY_FOUR_HOURS", "7d" -> "SEVEN_DAYS",
      "30d" -> "THIRTY_DAYS", "alltime" -> "ALL_TIME")
    val combos = for {
      metric <- Seq("pnl", "roi", "z_score")
      (period, periodName) <- periodMap
      if !(metric == "roi" && period == "alltime")
    } yield struct(
      lit(s"${metric.toUpperCase}#$periodName").as("metric#time_period"),
      col(s"pnl_$period").as("pnl"),
      (if (period == "alltime") lit(null).cast("double")
       else col(s"roi_$period")).as("roi"),
      col(s"z_score_$period").as("z_score"),
      (if (period == "24h") col("z_multiplier_24h")
       else col(s"z_multiplier_$period")).as("z_multiplier"),
      col(s"maker_volume_$period").as("maker_volume"),
      col(s"taker_volume_$period").as("taker_volume"),
      col(s"${metric}_${period}_rank").as("rank"),
      col(s"${metric}_${period}_rank_change").as("rank_change"))
    val snapshot = gold.filter(col("timestamp") ===
      date_trunc("hour", conf.asOfTs))
    val ids = (Seq("timestamp") ++ idCols :+ "z_multiplier_nft").map(col)
    val long = snapshot
      .select(ids :+ explode(array(combos: _*)).as("p"): _*)
      .select(ids :+ col("p.*"): _*)
    val served = Relational.camelCaseAll(long)
    sink.write(servingProjection(served), table,
      hashKey = "metric#timePeriod", rangeKey = Some("rank"))
    served
  }

  /** Hourly + daily PnL snapshot serving (S2:572–611 "PnL Historical"):
    * snapshot `cleaned_pnl` at the as-of hour, project the account
    * equity columns, camelCase, then write two KV tables keyed by
    * account with a numeric timestamp sort key —
    * `<table>_hourly_v2` with a 2-week TTL (datapoints expire), and
    * `<table>_daily_v2` keeping only midnight snapshots (no TTL — daily
    * history is retained). The daily filter runs on the SAME served
    * frame, exactly like the reference reuses `df` for both writes.
    * Returns the hourly served frame. */
  def servePnlSnapshots(cleanedPnl: DataFrame, conf: Conf,
                        sink: EmbeddedKVSink, table: String,
                        idCols: Seq[String] = Seq("authority")): DataFrame = {
    val snapshot = cleanedPnl.filter(col("timestamp") ===
      date_trunc("hour", conf.asOfTs))
    val cols = Seq("timestamp") ++ idCols ++
      Seq("balance", "unrealized_pnl", "equity", "cumulative_pnl")
    val served = Relational.camelCaseAll(snapshot.select(cols.map(col): _*))
    val account = served.columns(1) // camelCased idCols.head (after timestamp)
    sink.write(
      servingProjection(served, ttlFrom = Some("timestamp")),
      s"${table}_hourly_v2", hashKey = account, rangeKey = Some("timestamp"))
    sink.write(
      servingProjection(served.filter(hour(col("timestamp")) === 0)),
      s"${table}_daily_v2", hashKey = account, rangeKey = Some("timestamp"))
    served
  }

  /** Whole-table serving — camelCase + key write, no snapshot filter:
    * the fee_tiers push (S2:722–738, active) and the referrer/referee
    * rewards pushes (S2:692–721, present but commented out — same
    * shape) serve the full gold table keyed by account with a numeric
    * epoch/timestamp sort key. */
  def serveTable(gold: DataFrame, sink: EmbeddedKVSink, table: String,
                 hashKey: String, rangeKey: Option[String]): DataFrame = {
    val served = Relational.camelCaseAll(gold)
    sink.write(servingProjection(served), table, hashKey, rangeKey)
    served
  }

  /** All-time stats with historical backfill constants folded in
    * (S2:628–649: V1_VOLUME / v1_TRADE_COUNT added to the totals). */
  def serveAllTimeStats(hourly: DataFrame, volumeCol: String,
                        countCol: String, baseVolume: Double,
                        baseCount: Long, sink: EmbeddedKVSink,
                        table: String): DataFrame = {
    val totals = hourly.agg(
        (sum(col(volumeCol).cast(graft.queries.QH.DEC))
          .cast("string").cast("double") + baseVolume).as("total_volume"),
        (sum(col(countCol)) + baseCount).as("total_count"))
    val served = Relational.camelCaseAll(totals.withColumn("id", lit("ALL")))
    sink.write(served, table, hashKey = "id")
    served
  }
}
