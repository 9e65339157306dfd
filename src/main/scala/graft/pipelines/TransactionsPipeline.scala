package graft.pipelines

import java.time.temporal.ChronoUnit
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.Conf
import graft.graph.{Mode, Registry, TableDef}
import graft.ops.Relational
import graft.queries.QH.decSum

/** The reference's flagship pipeline re-expressed Spark-first: Solana
  * transactions → per-instruction silver tables → hourly gold aggregates
  * (zetadex-transactions-helius-pipeline.py, SURVEY.md §3.1).
  *
  * Input schema (bronze, FIXTURES.md §1 / transactions:255–278):
  * {{{
  * signature string,
  * instructions array<struct<
  *     name string, args map<string,string>,
  *     accounts struct<named map<string,string>, remaining array<string>>,
  *     program_id string,
  *     events array<struct<name string, event map<string,string>>>>>,
  * is_successful boolean, slot bigint, block_time timestamp, fee int
  * }}}
  *
  * All numeric decode is fixed-point (PRICE_FACTOR=1e6, SIZE_FACTOR=1e3,
  * transactions:20–21); maker fills come from `crank_event_queue`, taker
  * fills from `place_order*` with the place/trade event merge
  * (transactions:310–329) done as pure SQL instead of a Python UDF.
  */
object TransactionsPipeline {

  val PriceFactor = 1e6
  val SizeFactor = 1e3

  /** Assemble the DAG over a provided bronze source plus the two external
    * dimension tables every silver explosion joins in the reference:
    * `zetagroup_mapping` (zetagroup_pub_key → asset, transactions:332–336,
    * joined at :380–387 and :421–429) and `markets` (market_pub_key →
    * asset, :456, joined at :475–479 and :677–681). Both are small,
    * broadcast-joined dims; when absent an empty dim is used and the
    * asset column falls back to the event/args value via coalesce,
    * exactly like the reference's left-join-or-null semantics.
    */
  def build(spark: SparkSession, rawTransactions: () => DataFrame,
            zetagroupMapping: Option[() => DataFrame] = None,
            markets: Option[() => DataFrame] = None,
            rawPnl: Option[() => DataFrame] = None,
            rawBurnEvents: Option[() => DataFrame] = None,
            zpassNfts: Option[() => DataFrame] = None,
            pubkeyLabel: Option[() => DataFrame] = None,
            conf: Conf = Conf.ForTests): Registry = {
    val sp = spark
    import sp.implicits._
    val reg = new Registry(spark)
    reg.source("raw_transactions", rawTransactions)
    reg.source("raw_compressed_nft_burn_events", rawBurnEvents.getOrElse { () =>
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "signature string, " +
          "events struct<compressed: struct<assetId: array<string>>>, " +
          "feePayer string, timestamp timestamp, duration int")
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    })
    reg.source("dim_zpass_nfts", zpassNfts.getOrElse(
      () => Seq.empty[(String, String, Double, String)]
        .toDF("mint", "color", "multiplier", "season")))
    reg.source("zetagroup_mapping", zetagroupMapping.getOrElse(
      () => Seq.empty[(String, String)].toDF("zetagroup_pub_key", "asset")))
    reg.source("markets", markets.getOrElse(
      () => Seq.empty[(String, String)].toDF("market_pub_key", "asset")))
    reg.source("raw_pnl", rawPnl.getOrElse(
      () => Seq.empty[(java.sql.Timestamp, String, String, String, Double, Double)]
        .toDF("timestamp", "underlying", "owner_pub_key", "authority",
          "balance", "unrealized_pnl")))
    // market-maker account labels (zetadex_mainnet.pubkey_label,
    // transactions:1548) — the leaderboard excludes labeled accounts
    reg.source("pubkey_label", pubkeyLabel.getOrElse(
      () => Seq.empty[(String, String)].toDF("pub_key", "label")))

    // silver root (transactions:340–358): successful txs, derived
    // partition cols, positional instruction explosion kept lazy
    reg.register(TableDef("cleaned_transactions", Seq("raw_transactions"), {
      case Seq(raw) =>
        raw.filter(col("is_successful"))
          .withColumn("date_", to_date(col("block_time")))
          .withColumn("hour_", date_format(col("block_time"), "HH"))
    }, mode = Mode.Incremental))

    // one row per instruction with its index (transactions:376–377)
    reg.register(TableDef("exploded_ix", Seq("cleaned_transactions"), {
      case Seq(ct) =>
        ct.select(col("signature"), col("block_time"), col("date_"),
          posexplode(col("instructions"))
            .as(Seq("instruction_index", "instruction")))
    }, mode = Mode.Incremental))

    // deposits (transactions:362–400): named-account access + u64 decode
    // + zetagroup→asset broadcast dim join (transactions:380–387)
    reg.register(TableDef("cleaned_ix_deposit",
      Seq("exploded_ix", "zetagroup_mapping"), {
      case Seq(ix, zgm) =>
        ix.filter(col("instruction.name") === "deposit")
          .join(broadcast(zgm),
            col("instruction.accounts.named.zeta_group")
              === zgm("zetagroup_pub_key"),
            "left")
          .select(
            col("signature"), col("instruction_index"), col("block_time"),
            col("instruction.accounts.named.authority").as("authority"),
            Relational.fixedPoint(col("instruction.args.amount"), PriceFactor)
              .as("amount"),
            col("asset"),
            col("date_"))
    }, mode = Mode.Incremental))

    // order placement (transactions:446–501): regex family filter,
    // price/size decode, weekly epoch, market→asset broadcast dim join
    // with coalesce fallback to the instruction args
    // (transactions:475–479: coalesce(markets.asset, upper(event.asset)))
    reg.register(TableDef("cleaned_ix_place_order",
      Seq("exploded_ix", "markets"), {
      case Seq(ix, mkts) =>
        ix.filter(col("instruction.name")
            .rlike("^place_(perp_)?order(_v[0-9]+)?$"))
          .join(broadcast(mkts.withColumnRenamed("asset", "market_asset")),
            col("instruction.accounts.named.market") === col("market_pub_key"),
            "left")
          .select(
            col("signature"), col("instruction_index"), col("block_time"),
            col("instruction.accounts.named.authority").as("authority"),
            coalesce(col("market_asset"), upper(col("instruction.args.asset")))
              .as("asset"),
            Relational.fixedPoint(col("instruction.args.price"), PriceFactor)
              .as("price"),
            Relational.fixedPoint(col("instruction.args.size"), SizeFactor)
              .as("size"),
            col("instruction.args.side").as("side"),
            Relational.epochOf(col("block_time")).as("epoch"),
            col("date_"))
    }, mode = Mode.Incremental))

    // trades (transactions:637–719): maker fills = every trade event of a
    // crank; taker fills = place_order's place event merged with its first
    // trade event ({**place, **trade}, the §2.9 SQL rewrite)
    reg.register(TableDef("cleaned_ix_trade",
      Seq("exploded_ix", "markets"), {
      case Seq(ix, mkts) =>
        val maker = ix
          .filter(col("instruction.name") === "crank_event_queue")
          .select(col("signature"), col("instruction_index"),
            col("block_time"), col("date_"),
            col("instruction.accounts.named.market").as("market_key"),
            explode(expr(
              "filter(instruction.events, x -> x.name LIKE 'trade_event%')"))
              .as("ev"))
          .select(col("signature"), col("instruction_index"),
            col("block_time"), col("date_"), col("market_key"),
            col("ev.event").as("event"), lit(false).as("is_taker"))
        val taker = ix
          .filter(col("instruction.name")
            .rlike("^(place_(perp_)?order(_v[0-9]+)?|execute_trigger_order(_v[0-9]+)?)$"))
          .withColumn("place", expr(
            "try_element_at(filter(instruction.events, x -> x.name = 'place_order_event'), 1).event"))
          .withColumn("trade", expr(
            "try_element_at(filter(instruction.events, x -> x.name LIKE 'trade_event%'), 1).event"))
          .filter(col("trade").isNotNull) // place without fill is not a trade
          .select(col("signature"), col("instruction_index"),
            col("block_time"), col("date_"),
            col("instruction.accounts.named.market").as("market_key"),
            map_concat(
              expr("map_filter(place, (k, v) -> NOT array_contains(map_keys(trade), k))"),
              col("trade")).as("event"),
            lit(true).as("is_taker"))
        // market→asset broadcast dim join after the union
        // (transactions:677–681), falling back to the event's asset
        maker.unionByName(taker)
          .join(broadcast(mkts.withColumnRenamed("asset", "market_asset")),
            col("market_key") === col("market_pub_key"), "left")
          .select(
            col("signature"), col("instruction_index"), col("block_time"),
            col("event.user").as("authority"),
            coalesce(col("market_asset"), upper(col("event.asset")))
              .as("asset"),
            Relational.fixedPoint(col("event.price"), PriceFactor).as("price"),
            Relational.fixedPoint(col("event.size"), SizeFactor).as("size"),
            col("is_taker"),
            (Relational.fixedPoint(col("event.price"), PriceFactor)
              * Relational.fixedPoint(col("event.size"), SizeFactor))
              .as("volume"),
            Relational.epochOf(col("block_time")).as("epoch"),
            col("date_"))
    }, mode = Mode.Incremental))

    // withdrawals (transactions:404–442): deposit's mirror, same
    // zetagroup dim join (transactions:421–429)
    reg.register(TableDef("cleaned_ix_withdraw",
      Seq("exploded_ix", "zetagroup_mapping"), {
      case Seq(ix, zgm) =>
        ix.filter(col("instruction.name") === "withdraw")
          .join(broadcast(zgm),
            col("instruction.accounts.named.zeta_group")
              === zgm("zetagroup_pub_key"),
            "left")
          .select(
            col("signature"), col("instruction_index"), col("block_time"),
            col("instruction.accounts.named.authority").as("authority"),
            Relational.fixedPoint(col("instruction.args.amount"), PriceFactor)
              .as("amount"),
            col("asset"),
            col("date_"))
    }, mode = Mode.Incremental))

    // order completions (transactions:505–555): cancel/expire/fill events
    reg.register(TableDef("cleaned_ix_order_complete", Seq("exploded_ix"), {
      case Seq(ix) =>
        ix.filter(col("instruction.name").rlike(
            "^(crank_event_queue|cancel_order.*|place_(perp_)?order(_v[0-9]+)?)$"))
          .select(col("signature"), col("instruction_index"),
            col("block_time"), col("date_"),
            explode(expr(
              "filter(instruction.events, x -> x.name = 'order_complete_event')"))
              .as("ev"))
          .select(col("signature"), col("instruction_index"), col("block_time"),
            col("ev.event.user").as("authority"),
            col("ev.event.asset").as("asset"),
            col("ev.event.order_complete_type").as("order_complete_type"),
            Relational.fixedPoint(col("ev.event.unfilled_size"), SizeFactor)
              .as("unfilled_size"),
            col("date_"))
    }, mode = Mode.Incremental))

    // liquidations (transactions:559–624)
    reg.register(TableDef("cleaned_ix_liquidate", Seq("exploded_ix"), {
      case Seq(ix) =>
        ix.filter(col("instruction.name").startsWith("liquidate"))
          .select(col("signature"), col("instruction_index"),
            col("block_time"), col("date_"),
            explode(expr(
              "filter(instruction.events, x -> x.name = 'liquidation_event')"))
              .as("ev"))
          .select(col("signature"), col("instruction_index"), col("block_time"),
            col("ev.event.liquidator").as("liquidator"),
            col("ev.event.liquidatee").as("liquidatee"),
            col("ev.event.asset").as("asset"),
            Relational.fixedPoint(col("ev.event.size"), SizeFactor).as("size"),
            Relational.fixedPoint(col("ev.event.reward"), PriceFactor)
              .as("liquidator_reward"),
            col("date_"))
    }, mode = Mode.Incremental))

    // funding applications (transactions:723–758)
    reg.register(TableDef("cleaned_ix_funding", Seq("exploded_ix"), {
      case Seq(ix) =>
        ix.filter(col("instruction.name") === "apply_funding")
          .select(col("signature"), col("instruction_index"),
            col("block_time"), col("date_"),
            explode(expr(
              "filter(instruction.events, x -> x.name = 'apply_funding_event')"))
              .as("ev"))
          .select(col("signature"), col("instruction_index"), col("block_time"),
            col("ev.event.user").as("authority"),
            col("ev.event.asset").as("asset"),
            Relational.fixedPoint(col("ev.event.balance_change"), PriceFactor)
              .as("balance_change"),
            col("date_"))
    }, mode = Mode.Incremental))

    // per-user hourly deposit/withdraw aggregates (transactions:858–910)
    reg.register(TableDef("agg_ix_deposit_user_1h", Seq("cleaned_ix_deposit"), {
      case Seq(dep) =>
        dep.groupBy(date_trunc("hour", col("block_time")).as("timestamp"),
            col("authority"))
          .agg(count(lit(1)).as("deposit_count"),
            sum(col("amount").cast(graft.queries.QH.DEC))
              .cast("string").cast("double").as("deposit_amount"))
    }, mode = Mode.Incremental))

    // global hourly taker-trade gold (transactions:796–818)
    reg.register(TableDef("agg_ix_trade_1h", Seq("cleaned_ix_trade"), {
      case Seq(tr) =>
        tr.filter(col("is_taker"))
          .groupBy(date_trunc("hour", col("block_time")).as("timestamp"))
          .agg(count(lit(1)).as("trade_count"),
            sum(col("volume").cast(graft.queries.QH.DEC))
              .cast("string").cast("double").as("volume"))
    }, mode = Mode.Incremental))

    // per-(user, asset) hourly funding gold (transactions:913–942)
    reg.register(TableDef("agg_funding_rate_user_asset_1h",
      Seq("cleaned_ix_funding"), { case Seq(f) =>
        f.groupBy(date_trunc("hour", col("block_time")).as("timestamp"),
            col("asset"), col("authority"))
          .agg(sum(col("balance_change").cast(graft.queries.QH.DEC))
            .cast("string").cast("double").as("balance_change"))
    }, mode = Mode.Incremental))

    // compressed-NFT burn family (transactions:160–245): nested-array
    // element dim join (J4), burn→multiplier interval, hour explosion
    // via sequence(), max of overlapping multipliers
    reg.register(TableDef("cleaned_compressed_nft_burn_events",
      Seq("raw_compressed_nft_burn_events", "dim_zpass_nfts"), {
      case Seq(raw, dim) =>
        raw.join(broadcast(dim),
            dim("mint") === expr("events.compressed['assetId'][0]"),
            "left")
          .select(col("signature"),
            expr("events.compressed.assetId[0]").as("mint"),
            col("feePayer").as("authority"),
            col("color"), col("multiplier"), col("season"),
            col("duration").as("duration_hours"),
            col("timestamp").as("start_timestamp"),
            expr("timestamp + INTERVAL 1 HOURS * duration")
              .as("end_timestamp"))
          .filter(col("signature") =!= Conf.ExcludedBurnSignature)
    }, mode = Mode.Incremental))

    reg.register(TableDef("agg_compressed_nft_burn_events_hourly",
      Seq("cleaned_compressed_nft_burn_events"), { case Seq(cl) =>
        cl.selectExpr(
            "EXPLODE(SEQUENCE(date_trunc('hour', start_timestamp), " +
              "date_trunc('hour', end_timestamp - INTERVAL 1 HOUR), " +
              "INTERVAL 1 HOUR)) AS timestamp",
            "authority", "multiplier")
          .groupBy(date_trunc("hour", col("timestamp")).as("timestamp"),
            col("authority"))
          .agg(max(col("multiplier")).as("multiplier")) // overlapping burns
    }, mode = Mode.Incremental))

    // per-user hourly withdraw aggregates (transactions:885–910)
    reg.register(TableDef("agg_ix_withdraw_user_1h", Seq("cleaned_ix_withdraw"), {
      case Seq(wd) =>
        wd.groupBy(date_trunc("hour", col("block_time")).as("timestamp"),
            col("authority"))
          .agg(count(lit(1)).as("withdraw_count"),
            sum(col("amount").cast(graft.queries.QH.DEC))
              .cast("string").cast("double").as("withdraw_amount"))
    }, mode = Mode.Incremental))

    // hourly margin-account snapshots + flow joins (transactions:990–1077):
    // authority fallback to the owner key, hour-truncated snapshot agg,
    // prior-hour deposit/withdraw offset joins (J5), cumulative flow sums,
    // equity and cumulative PnL. Window-function table → batch recompute
    // (the reference's own "ideally would be read_stream (TODO)").
    reg.register(TableDef("cleaned_pnl",
      Seq("raw_pnl", "agg_ix_deposit_user_1h", "agg_ix_withdraw_user_1h"), {
      case Seq(raw, dep, wd) =>
        val wCum = Window.partitionBy("authority").orderBy(col("timestamp"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val snapshots = Relational.setColumns(
          raw.filter(col("underlying").isNull), // V2 filter (TX:1011)
          "authority" -> coalesce(col("authority"), col("owner_pub_key")),
          "timestamp" -> date_trunc("hour", col("timestamp")))
        // one exchange on authority serves both the hourly aggregate and
        // the cumulative window; a (timestamp, authority) exchange for the
        // aggregate would need a second one on authority for the window
        val joined = snapshots.repartition(col("authority"))
          .groupBy("timestamp", "authority")
          .agg(sum(col("balance")).as("balance"),
            sum(col("unrealized_pnl")).as("unrealized_pnl"))
          .join(dep.select(col("authority").as("d_auth"),
              col("timestamp").as("d_ts"), col("deposit_amount")),
            col("authority") === col("d_auth") &&
              col("timestamp") === col("d_ts") + expr("interval 1 hour"),
            "left")
          .drop("d_auth", "d_ts", "deposit_count")
          .join(wd.select(col("authority").as("w_auth"),
              col("timestamp").as("w_ts"), col("withdraw_amount")),
            col("authority") === col("w_auth") &&
              col("timestamp") === col("w_ts") + expr("interval 1 hour"),
            "left")
          .drop("w_auth", "w_ts", "withdraw_count")
        val flows = Relational.setColumns(joined,
          "deposit_amount" -> coalesce(col("deposit_amount"), lit(0.0)),
          "withdraw_amount" -> coalesce(col("withdraw_amount"), lit(0.0)))
        val sums = Relational.setColumns(flows,
          "net_inflow" -> (col("deposit_amount") - col("withdraw_amount")),
          "deposit_amount_cumsum" -> sum(col("deposit_amount")).over(wCum),
          "withdraw_amount_cumsum" -> sum(col("withdraw_amount")).over(wCum),
          "equity" -> (col("balance") + col("unrealized_pnl")))
        Relational.setColumns(sums,
          "cumulative_pnl" -> (col("equity")
            - (col("deposit_amount_cumsum") - col("withdraw_amount_cumsum"))),
          "date_" -> date_trunc("day", col("timestamp")))
    }, mode = Mode.Full))

    reg.register(aggPnl(conf))

    // 30d-volume fee tiers, latest per user (transactions:1882–1947)
    reg.register(TableDef("fee_tiers", Seq("cleaned_ix_trade"), {
      case Seq(tr) =>
        val w30 = Relational.trailingWindow(Seq("authority"),
          col("block_time"), 30L * 86400L)
        val tiers = tr.filter(col("is_taker"))
          .withColumn("volume_30d", decSum(col("volume"), w30))
          .withColumn("fee_tier",
            when(col("volume_30d") >= 50000000.0, 7)
              .when(col("volume_30d") >= 10000000.0, 6)
              .when(col("volume_30d") >= 5000000.0, 5)
              .when(col("volume_30d") >= 2500000.0, 4)
              .when(col("volume_30d") >= 1000000.0, 3)
              .when(col("volume_30d") >= 500000.0, 2)
              .when(col("volume_30d") >= 100000.0, 1)
              .otherwise(0))
        Relational.applyChanges(Seq("authority"), col("block_time"),
          Seq(col("signature"), col("instruction_index")))(tiers)
          .select("authority", "block_time", "volume_30d", "fee_tier")
    }, mode = Mode.Full))

    // hourly gold (transactions:777–793)
    reg.register(TableDef("agg_ix_trade_asset_1h", Seq("cleaned_ix_trade"), {
      case Seq(tr) =>
        tr.groupBy(date_trunc("hour", col("block_time")).as("timestamp"),
            col("asset"))
          .agg(count(lit(1)).as("trade_count"),
            sum(col("volume").cast(graft.queries.QH.DEC)).cast("double")
              .as("volume"))
    }, mode = Mode.Incremental))

    // 24h rolling (transactions:821–855): spine × assets, fill, range window
    reg.register(TableDef("agg_ix_trade_asset_24h_rolling",
      Seq("agg_ix_trade_asset_1h"), { case Seq(h) =>
        val spine = Relational.timeSpine(h, col("timestamp"), alias = "timestamp")
        val assets = h.select("asset").distinct()
        val dense = Relational.densify(spine, assets, h,
          Seq("timestamp", "asset"),
          Map("trade_count" -> 0L, "volume" -> 0.0))
        val w = Relational.trailingWindow(Seq("asset"), col("timestamp"), 86400L)
        dense
          .withColumn("trade_count_24h", sum(col("trade_count")).over(w))
          .withColumn("volume_24h",
            sum(col("volume").cast(graft.queries.QH.DEC)).over(w).cast("double"))
      }, mode = Mode.Full))

    reg
  }

  /** Rebase epoch of the Dietz time axis (2024-01-01 UTC): keeps Σ v·t
    * small enough to accumulate exactly in decimal(28,6). */
  private val T0 = 1704067200L

  /** Leaderboard gold (transactions:1486–1878), the engine's one
    * `agg_pnl` body: [[build]] registers it over `cleaned_pnl`, and q68
    * ([[graft.queries.AggPnlQueries]]) applies it to its events-derived
    * hourly frame before adding the volume, z-score and dim-join stages.
    * MM left-anti exclusion (transactions:1556–1560: labeled accounts
    * never enter the ranks — removing them AFTER ranking would leave
    * holes in the rank sequence), then trailing anchors, exclusive-start
    * Dietz flows, PnL/ROI, 7 tie-broken ranks + rank changes, all on one
    * shared (authority, t) partitioning.
    *
    * The reference's `current_timestamp()` Dietz weights (TX:1581–1601)
    * use the injectable [[graft.core.Conf.asOf]] hour N₀, and the
    * weighted flow Σ v·(N₀−t)/period is decomposed into two decimal-exact
    * window sums, Σ v and Σ v·t, so it does not depend on accumulation
    * order and q68 hash-matches its oracle. */
  def aggPnl(conf: Conf): TableDef = {
    // the as-of hour on the rebased axis
    val n0 = conf.asOf.truncatedTo(ChronoUnit.HOURS).getEpochSecond - T0
    TableDef("agg_pnl", Seq("cleaned_pnl", "pubkey_label"), {
      case Seq(cpRaw, mm) =>
        // label table is a genuine dimension (hand-curated account list)
        // → broadcast is the right call at any scale
        val cp = cpRaw.join(broadcast(mm),
          cpRaw("authority") === mm("pub_key"), "left_anti")
        def trail(sec: Long) = Window.partitionBy("authority")
          .orderBy(col("t")).rangeBetween(-sec, 0)
        def excl(sec: Long) = Window.partitionBy("authority")
          .orderBy(col("t")).rangeBetween(-sec + 3600L, 0)
        val w24 = trail(86400L); val w7d = trail(604800L)
        val w30 = trail(2592000L)
        val wAll = Window.partitionBy("authority").orderBy(col("t"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        def rankW(order: org.apache.spark.sql.Column*) =
          Window.partitionBy("timestamp").orderBy(order: _*)
        val withT = Relational.setColumns(cp,
          "t" -> (unix_timestamp(col("timestamp")) - lit(T0)))
        def dw(sec: Long) = {
          val w = excl(sec)
          (lit(n0) * decSum(col("deposit_amount"), w)
            - decSum(col("deposit_amount") * col("t"), w)) / sec.toDouble
        }
        val lags = Relational.setColumns(withT,
          "cum_lag_24h" -> first(col("cumulative_pnl")).over(w24),
          "cum_lag_7d" -> first(col("cumulative_pnl")).over(w7d),
          "cum_lag_30d" -> first(col("cumulative_pnl")).over(w30),
          "cum_lag_alltime" -> first(col("cumulative_pnl")).over(wAll),
          "equity_lag_24h" -> first(col("equity")).over(w24),
          "equity_lag_7d" -> first(col("equity")).over(w7d),
          "equity_lag_30d" -> first(col("equity")).over(w30),
          "dw_24h" -> dw(86400L), "dw_7d" -> dw(604800L), "dw_30d" -> dw(2592000L))
        val pnl = Relational.setColumns(lags,
          "pnl_24h" -> (col("cumulative_pnl") - col("cum_lag_24h")),
          "pnl_7d" -> (col("cumulative_pnl") - col("cum_lag_7d")),
          "pnl_30d" -> (col("cumulative_pnl") - col("cum_lag_30d")),
          "pnl_alltime" -> (col("cumulative_pnl") - col("cum_lag_alltime")))
        def roi(p: String) = when(col(s"pnl_$p") === 0, lit(0.0)).otherwise(
          col(s"pnl_$p") / (lit(100.0) + col(s"equity_lag_$p") + col(s"dw_$p")))
        val base = Relational.setColumns(pnl,
          "roi_24h" -> roi("24h"), "roi_7d" -> roi("7d"), "roi_30d" -> roi("30d"))
        val ranked = Relational.setColumns(base,
          "pnl_24h_rank" -> rank().over(
            rankW(col("pnl_24h").desc, col("roi_24h").desc, col("authority"))),
          "pnl_7d_rank" -> rank().over(
            rankW(col("pnl_7d").desc, col("roi_7d").desc, col("authority"))),
          "pnl_30d_rank" -> rank().over(
            rankW(col("pnl_30d").desc, col("roi_30d").desc, col("authority"))),
          "pnl_alltime_rank" -> rank().over(
            rankW(col("pnl_alltime").desc, col("authority"))),
          "roi_24h_rank" -> rank().over(
            rankW(col("roi_24h").desc, col("pnl_24h").desc, col("authority"))),
          "roi_7d_rank" -> rank().over(
            rankW(col("roi_7d").desc, col("pnl_7d").desc, col("authority"))),
          "roi_30d_rank" -> rank().over(
            rankW(col("roi_30d").desc, col("pnl_30d").desc, col("authority"))))
        def change(r: String, w: org.apache.spark.sql.expressions.WindowSpec) =
          s"${r}_rank_change" -> -(col(s"${r}_rank") - first(col(s"${r}_rank")).over(w))
        Relational.setColumns(ranked,
          change("pnl_24h", w24), change("pnl_7d", w7d), change("pnl_30d", w30),
          change("pnl_alltime", wAll), change("roi_24h", w24),
          change("roi_7d", w7d), change("roi_30d", w30),
          "date_" -> date_trunc("day", col("timestamp")))
          .drop("t", "cum_lag_24h", "cum_lag_7d", "cum_lag_30d",
            "cum_lag_alltime", "dw_24h", "dw_7d", "dw_30d")
    }, mode = Mode.Full)
  }
}
