package graftbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, date_trunc, hour}
import org.apache.spark.sql.types.DoubleType
import graft.core.Conf
import graft.graph.{Registry, Runner}
import graft.pipelines.TransactionsPipeline
import graft.serving.{EmbeddedKVSink, EmbeddedKVStore, ServingJobs}
import graft.sources.JsonSource

/** The transactions medallion DAG driven through its public entry points:
  * bronze JSON via [[JsonSource]], the DAG from
  * [[TransactionsPipeline.build]], materialized by [[Runner.runBatch]],
  * then served into an [[EmbeddedKVSink]] by [[ServingJobs]]. */
object Tx {
  val TxDdl: String = "signature string, instructions array<struct<" +
    "name string, args map<string,string>, " +
    "accounts struct<named map<string,string>, remaining array<string>>, " +
    "program_id string, events array<struct<name string, " +
    "event map<string,string>>>>>, is_successful boolean, slot bigint, " +
    "block_time timestamp, fee int"
  val PnlDdl = "timestamp timestamp, underlying string, owner_pub_key string, " +
    "authority string, balance double, unrealized_pnl double"
  val BronzeDirs = Seq("raw_transactions", "raw_pnl", "dims")
  val Gold = Seq("agg_ix_deposit_user_1h", "agg_ix_trade_1h",
    "agg_funding_rate_user_asset_1h", "agg_compressed_nft_burn_events_hourly",
    "agg_ix_withdraw_user_1h", "agg_pnl", "fee_tiers", "agg_ix_trade_asset_1h",
    "agg_ix_trade_asset_24h_rolling")

  private val HourFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH")
    .withZone(ZoneOffset.UTC)
  def hourName(i: Instant): String = HourFmt.format(i)
  def hourStart(name: String): Instant = Instant.parse(name + ":00:00Z")

  def registry(spark: SparkSession, bronze: String, asOf: Instant): Registry = {
    def json(p: String, ddl: String) = () => JsonSource.batch(spark, s"$bronze/$p", ddl)
    TransactionsPipeline.build(spark, json("raw_transactions", TxDdl),
      zetagroupMapping = Some(json("dims/zetagroup_mapping.json",
        "zetagroup_pub_key string, asset string")),
      markets = Some(json("dims/markets.json", "market_pub_key string, asset string")),
      rawPnl = Some(json("raw_pnl", PnlDdl)),
      pubkeyLabel = Some(json("dims/pubkey_label.json", "pub_key string, label string")),
      conf = Conf(asOf))
  }

  /** A served KV table and the frame that fed it, keyed as written. */
  final case class Served(table: String, frame: DataFrame, keys: Seq[String])

  /** The serving writes of the reference's serving notebook, snapshotting
    * the hour of `conf.asOf`. */
  def serve(spark: SparkSession, tables: Map[String, String], conf: Conf,
            sink: EmbeddedKVSink): Seq[Served] = {
    def t(n: String) = spark.read.parquet(tables(n))
    val volume = ServingJobs.serveSnapshot(t("agg_ix_trade_asset_1h"), "timestamp",
      "asset", Seq("trade_count", "volume"), conf, sink, "volume_by_asset", lagHours = 0)
    val funding = ServingJobs.serveFunding(t("agg_funding_rate_user_asset_1h"),
      conf, sink, "funding", lagHours = 0)
    val pnl = ServingJobs.servePnlSnapshots(t("cleaned_pnl"), conf, sink, "pnl")
    val tiers = ServingJobs.serveTable(t("fee_tiers"), sink, "fee_tiers",
      "authority", None)
    val board = ServingJobs.serveTable(t("agg_pnl").filter(
      col("timestamp") === date_trunc("hour", conf.asOfTs)), sink, "leaderboard",
      "authority", Some("timestamp"))
    val stats = ServingJobs.serveAllTimeStats(t("agg_ix_trade_1h"), "volume",
      "trade_count", 0.0, 0L, sink, "all_time_stats")
    Seq(Served("volume_by_asset", volume, Seq("metric", "sortKey")),
      Served("funding", funding, Seq("authority", "timestamp#asset")),
      Served("pnl_hourly_v2", pnl, Seq("authority", "timestamp")),
      Served("pnl_daily_v2", pnl.filter(hour(col("timestamp")) === 0),
        Seq("authority", "timestamp")),
      Served("fee_tiers", tiers, Seq("authority")),
      Served("leaderboard", board, Seq("authority", "timestamp")),
      Served("all_time_stats", stats, Seq("id")))
  }

  /** Records the store's request counters for the tables just served. */
  def servingCounters(run: Run, storeId: String, served: Seq[Served]): Unit = {
    val store = EmbeddedKVStore(storeId)
    val items = served.map(s => store.itemWriteCount(s.table)).sum.toDouble
    val batches = served.map(s => store.batchWriteCount(s.table)).sum.toDouble
    run.layers("serving.items") = items
    run.layers("serving.batch_writes") = batches
    run.layers("serving.batch_fill") =
      if (batches == 0) 0.0 else items / (EmbeddedKVStore.MAX_BATCH * batches)
  }

  /** Every served table holds exactly one item per distinct key. */
  def checkServed(run: Run, storeId: String, served: Seq[Served]): Unit =
    served.foreach { s =>
      run.check(s"kv items of ${s.table}") {
        EmbeddedKVStore(storeId).itemCount(s.table) ==
          s.frame.select(s.keys.map(col): _*).distinct().count()
      }
    }

  /** `agg_ix_trade_1h` equals the generator's trade ledger for the hours
    * up to `lastHour`. */
  def checkLedger(run: Run, spark: SparkSession, table: String,
                  ledger: String, lastHour: String): Unit =
    run.check("agg_ix_trade_1h equals the generated trade ledger") {
      val want = Files.readAllLines(Paths.get(ledger)).asScala
        .map(_.split('\t')).filter(_(0) <= lastHour)
        .map(f => f(0) -> (f(1).toLong, BigDecimal(f(2)))).toMap
      val got = spark.read.parquet(table).collect().map { r =>
        hourName(r.getTimestamp(0).toInstant) ->
          (r.getLong(1), BigDecimal(r.getDouble(2)))
      }.toMap
      got.keySet == want.keySet && got.forall { case (h, (n, v)) =>
        val (wn, wv) = want(h)
        n == wn && (v - wv).abs <= BigDecimal("0.000001")
      }
    }

  /** Rows of a materialized table, doubles rounded to 9 significant
    * digits, sorted — for comparing two runs of the same DAG. */
  def canonical(spark: SparkSession, path: String): Seq[String] = {
    val df = spark.read.parquet(path)
    val doubles = df.schema.fields.filter(_.dataType == DoubleType).map(_.name).toSet
    df.collect().map { r: Row =>
      df.columns.indices.map { i =>
        if (r.isNullAt(i)) "null"
        else if (doubles(df.columns(i))) f"${r.getDouble(i)}%.9g"
        else r.get(i).toString
      }.mkString("|")
    }.toSeq.sorted
  }

  def bronzeBytes(bronze: String): Long = BronzeDirs.map(d => Main.bytes(s"$bronze/$d")).sum

  def lastHourOf(bronze: String): String =
    Files.list(Paths.get(s"$bronze/raw_transactions")).iterator.asScala
      .map(_.getFileName.toString.stripSuffix(".json")).max match {
      case day if day.length == 10 => day + "T23" // a whole-day file
      case h => h
    }

  def asOf(lastHour: String): Instant = hourStart(lastHour).plusSeconds(3599)
}

/** A small base history, then one bronze hour landed per operation and
  * the DAG re-run into the same output directory and served: fixed
  * per-node cost (planning, job scheduling, file commits, serving). */
final class TxHourly(run: Run) extends Workload {
  private val a = run.a
  private val trace = run.trace
  private val bronze = s"${a.data}/tx"
  private val out = s"${a.work}/hourly"
  private val storeId = s"graftbench-${a.seed}"
  private val sink = new EmbeddedKVSink(storeId)
  private var lastHour: String = _
  private var lastServed: Seq[Tx.Served] = Nil
  trace.tableRoot = new java.io.File(out).getAbsolutePath
  private lazy val ticks: Iterator[String] =
    Files.list(Paths.get(s"$bronze/ticks/raw_transactions")).iterator.asScala
      .map(_.getFileName.toString.stripSuffix(".json")).toSeq.sorted.iterator

  /** Bronze -> 20 tables -> KV items, snapshotting `hour`. */
  private def dag(spark: SparkSession, hour: String): Seq[Tx.Served] = {
    val asOf = Tx.asOf(hour)
    val reg = trace.span("pipelines.build_s")(Tx.registry(spark, bronze, asOf))
    val tables = trace.span("graph.run_batch_s")(Runner.runBatch(reg, out))
    trace.span("serving.write_s")(Tx.serve(spark, tables, Conf(asOf), sink))
  }

  /** Moves one hour's files from the generator's queue into the bronze. */
  private def land(h: String): Unit = Seq("raw_transactions", "raw_pnl").foreach { d =>
    Files.move(Paths.get(s"$bronze/ticks/$d/$h.json"), Paths.get(s"$bronze/$d/$h.json"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Set-up: the DAG built over the base history and its bronze sources
    * opened. */
  override def prepare(spark: SparkSession): Unit = {
    val reg = Tx.registry(spark, bronze, Tx.asOf(Tx.lastHourOf(bronze)))
    reg.sourceNames.foreach(reg.resolve)
  }

  /** The first run over the base history creates every table. */
  override def warmup(spark: SparkSession): Unit = {
    lastHour = Tx.lastHourOf(bronze)
    lastServed = dag(spark, lastHour)
  }

  override def measure(spark: SparkSession, deadline: Long): Unit =
    do {
      if (!ticks.hasNext) return
      val h = ticks.next()
      val t0 = System.currentTimeMillis
      land(h)
      lastHour = h
      var served: Seq[Tx.Served] = Nil
      run.op { served = dag(spark, h) }.foreach { _ =>
        run.passes += 1
        run.writtenBytes += run.bytesSince(out, t0)
        run.inputBytes += Tx.bronzeBytes(bronze)
        run.layers("graph.files_written") =
          Main.files(out).count(_.getName.startsWith("part-")).toDouble
        run.layers("graph.bytes_written") = Main.bytes(out).toDouble
        Tx.servingCounters(run, storeId, served)
        lastServed = served
      }
    } while (System.nanoTime < deadline)

  override def check(spark: SparkSession): Unit = {
    if (trace.on) {
      // bytes the JSON scans read per tick: the bronze only, not the
      // parquet tables that serving and later nodes read back
      val read = trace.values.getOrElse("sources.json_bytes_read", 0.0) / math.max(run.passes, 1)
      run.layers("sources.bronze_read_amp") = read / Tx.bronzeBytes(bronze)
      // the sources layer alone: the whole bronze parsed once
      val t0 = System.nanoTime
      Seq("raw_transactions" -> Tx.TxDdl, "raw_pnl" -> Tx.PnlDdl).foreach { case (d, ddl) =>
        JsonSource.batch(spark, s"$bronze/$d", ddl).write.format("noop").mode("overwrite").save()
      }
      run.layers("sources.json_scan_s") = (System.nanoTime - t0) / 1e9
    }
    Tx.checkServed(run, storeId, lastServed)
    Tx.checkLedger(run, spark, s"$out/agg_ix_trade_1h", s"$bronze/ledger.tsv", lastHour)
    // traced runs also rebuild the same bronze from scratch: the
    // hourly-maintained gold must equal that backfill
    if (trace.on) {
      val t0 = System.nanoTime
      val ref = Runner.runBatch(Tx.registry(spark, bronze, Tx.asOf(lastHour)),
        s"${a.work}/backfill")
      run.layers("graph.backfill_s") = (System.nanoTime - t0) / 1e9
      Tx.Gold.foreach { t =>
        run.check(s"hourly $t equals a backfill of the same bronze") {
          Tx.canonical(spark, s"$out/$t") == Tx.canonical(spark, ref(t))
        }
      }
    }
    EmbeddedKVStore.remove(storeId)
  }
}
