package graft

import java.sql.Timestamp
import java.time.Instant
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import graft.core.Conf
import graft.serving.{EmbeddedKVSink, EmbeddedKVStore, ServingJobs}
import graft.TestSpark.jobsIn

class ServingJobsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private def ts(s: String) = Timestamp.valueOf(s)

  /** A sink over a fresh store named `id`, and that store. */
  private def freshStore(id: String): (EmbeddedKVSink, EmbeddedKVStore) = {
    EmbeddedKVStore.remove(id)
    (new EmbeddedKVSink(id), EmbeddedKVStore(id))
  }

  test("serveSnapshot: as-of hour filter, ALL rollup, unpivot, KV write") {
    val sp = spark
    import sp.implicits._
    val gold = Seq(
      (ts("2024-01-30 10:00:00"), "SOL", 100.0, 10.0),
      (ts("2024-01-30 10:00:00"), "ETH", 50.0, 5.0),
      (ts("2024-01-30 09:00:00"), "SOL", 999.0, 99.0)) // wrong hour, dropped
      .toDF("timestamp", "asset", "volume", "fees")
    val conf = Conf(Instant.parse("2024-01-30T12:00:00Z"))
    val (sink, store) = freshStore("kv_servejobs")
    val served = ServingJobs.serveSnapshot(gold, "timestamp", "asset",
      Seq("volume", "fees"), conf, sink, "leaderboard")
    val rows = served.collect()
      .map(r => (r.getAs[String]("asset"), r.getAs[String]("metric")) ->
        r.getAs[Double]("value")).toMap
    assert(rows(("SOL", "volume")) === 100.0)
    assert(rows(("ALL", "volume")) === 150.0)
    assert(rows(("ALL", "fees")) === 15.0)
    assert(rows.size === 6) // 3 asset buckets x 2 metrics
    assert(store.itemCount("leaderboard") === 6)
    val back = store.query("leaderboard", "volume")
    assert(back.forall(_.contains("ttl")))
    // ttl = snapshot + 14 days in unix seconds
    val snapSecs = Instant.parse("2024-01-30T12:00:00Z").getEpochSecond
    assert(back.head("ttl") === snapSecs + 14 * 86400)
  }

  test("serveFunding snapshots asOf-2h with the composite sort key") {
    val sp = spark
    import sp.implicits._
    val gold = Seq(
      (ts("2024-01-30 10:00:00"), "SOL", "authA", 1.5),
      (ts("2024-01-30 09:00:00"), "SOL", "authA", 9.9)) // wrong hour
      .toDF("timestamp", "asset", "authority", "balance_change")
    val conf = Conf(Instant.parse("2024-01-30T12:00:00Z"))
    val (sink, store) = freshStore("kv_servefund")
    val served = ServingJobs.serveFunding(gold, conf, sink, "funding")
    val rows = served.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("timestamp#asset")
      === s"${ts("2024-01-30 10:00:00").getTime / 1000}#SOL")
    assert(rows.head.getAs[Double]("balanceChange") === 1.5)
    assert(store.itemCount("funding") === 1)
  }

  test("serveLeaderboard: one-pass 11-way period unpivot, no Union in plan") {
    val sp = spark
    import sp.implicits._
    // q68-shaped single-account snapshot with distinct per-period values
    val periods = Seq("24h", "7d", "30d", "alltime")
    val row = (Seq[Any](ts("2024-01-30 12:00:00"), 7L, 1.1) ++
      periods.zipWithIndex.flatMap { case (_, i) =>
        Seq[Any](10.0 + i, 0.1 + i, 100.0 + i, 1.0 + i, 5.0 + i, 6.0 + i)
      } ++ Seq[Any](1, 2, 3, 4, 5, 6, 7, -1, -2, -3, -4, -5, -6, -7,
        11, 12, 13, 14, -11, -12, -13, -14)).toArray
    val cols = Seq("timestamp", "user_id", "z_multiplier_nft") ++
      periods.flatMap(p => Seq(s"pnl_$p", s"roi_$p", s"z_score_$p",
        s"z_multiplier_$p", s"maker_volume_$p", s"taker_volume_$p")) ++
      Seq("pnl_24h_rank", "pnl_7d_rank", "pnl_30d_rank", "pnl_alltime_rank",
        "roi_24h_rank", "roi_7d_rank", "roi_30d_rank",
        "pnl_24h_rank_change", "pnl_7d_rank_change", "pnl_30d_rank_change",
        "pnl_alltime_rank_change", "roi_24h_rank_change",
        "roi_7d_rank_change", "roi_30d_rank_change",
        "z_score_24h_rank", "z_score_7d_rank", "z_score_30d_rank",
        "z_score_alltime_rank", "z_score_24h_rank_change",
        "z_score_7d_rank_change", "z_score_30d_rank_change",
        "z_score_alltime_rank_change")
    val schema = org.apache.spark.sql.types.StructType(cols.map {
      case "timestamp" => org.apache.spark.sql.types.StructField(
        "timestamp", org.apache.spark.sql.types.TimestampType)
      case "user_id" => org.apache.spark.sql.types.StructField(
        "user_id", org.apache.spark.sql.types.LongType)
      case c if c.endsWith("_rank") || c.endsWith("_rank_change") =>
        org.apache.spark.sql.types.StructField(
          c, org.apache.spark.sql.types.IntegerType)
      case c => org.apache.spark.sql.types.StructField(
        c, org.apache.spark.sql.types.DoubleType)
    })
    val gold = sp.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(row: _*)), schema)
    val conf = Conf(Instant.parse("2024-01-30T12:00:00Z"))
    val (sink, store) = freshStore("kv_serveleader")
    val served = ServingJobs.serveLeaderboard(gold, conf, sink,
      "leaderboard_v2")
    val rows = served.collect()
    assert(rows.length === 11, "3 metrics x 4 periods minus roi#alltime")
    val byKey = rows.map(r =>
      r.getAs[String]("metric#timePeriod") -> r).toMap
    assert(byKey("PNL#TWENTY_FOUR_HOURS").getAs[Int]("rank") === 1)
    assert(byKey("ROI#SEVEN_DAYS").getAs[Int]("rank") === 6)
    assert(byKey("Z_SCORE#ALL_TIME").getAs[Int]("rankChange") === -14)
    assert(byKey("PNL#ALL_TIME").isNullAt(
      byKey("PNL#ALL_TIME").fieldIndex("roi")), "no alltime roi")
    assert(byKey("PNL#SEVEN_DAYS").getAs[Double]("pnl") === 11.0)
    // the reference's union loop rescans 11x; the one-pass explode must
    // produce a plan without any Union node
    val plan = served.queryExecution.executedPlan.toString
    assert(!plan.contains("Union"), "one pass, not a union loop")
    assert(store.itemCount("leaderboard_v2") === 11)
    assert(store.get("leaderboard_v2", "PNL#ALL_TIME", Some(4)).get
      .get("roi").isEmpty, "a null attribute is not stored")
  }

  test("servePnlSnapshots: hourly with 2-week TTL, daily keeps midnight only " +
    "(S2:572–611)") {
    val sp = spark
    import sp.implicits._
    val pnl = Seq(
      (ts("2024-01-30 00:00:00"), "authA", 100.0, 5.0, 105.0, 3.0),
      (ts("2024-01-30 12:00:00"), "authA", 110.0, -5.0, 105.0, 1.5),
      (ts("2024-01-30 12:00:00"), "authB", 50.0, 0.0, 50.0, 0.0),
      (ts("2024-01-30 11:00:00"), "authA", 999.0, 0.0, 999.0, 9.9)) // wrong hr
      .toDF("timestamp", "authority", "balance", "unrealized_pnl",
        "equity", "cumulative_pnl")
    val conf = Conf(Instant.parse("2024-01-30T12:00:00Z"))
    val (sink, store) = freshStore("kv_servepnl")
    val served = ServingJobs.servePnlSnapshots(pnl, conf, sink,
      "cleaned_pnl")
    // snapshot = the as-of hour only
    assert(served.collect().map(_.getAs[String]("authority")).sorted
      === Array("authA", "authB"))
    assert(served.columns.toSeq === Seq("timestamp", "authority", "balance",
      "unrealizedPnl", "equity", "cumulativePnl"))
    assert(store.itemCount("cleaned_pnl_hourly_v2") === 2)
    val snapSecs = ts("2024-01-30 12:00:00").getTime / 1000
    assert(store.get("cleaned_pnl_hourly_v2", "authA", Some(snapSecs)).get
      .apply("ttl") === snapSecs + 14 * 86400)
    // daily keeps only hour-0 snapshots: the 12:00 as-of hour has none
    assert(store.itemCount("cleaned_pnl_daily_v2") === 0)
    // at midnight as-of, the daily table retains the row
    val confMidnight = Conf(Instant.parse("2024-01-30T00:00:00Z"))
    ServingJobs.servePnlSnapshots(pnl, confMidnight, sink, "cleaned_pnl")
    val daily = store.query("cleaned_pnl_daily_v2", "authA")
    assert(daily.size === 1)
    assert(!daily.head.contains("ttl"), "daily history never expires")
  }

  test("serveTable: whole-table camelCase push (fee_tiers / referral rewards)") {
    val sp = spark
    import sp.implicits._
    val tiers = Seq(("authA", ts("2024-01-30 10:00:00"), 123456.0, 1))
      .toDF("authority", "block_time", "volume_30d", "fee_tier")
    val (sink, store) = freshStore("kv_servetable")
    val served = ServingJobs.serveTable(tiers, sink,
      "fee_tiers", hashKey = "authority", rangeKey = Some("blockTime"))
    assert(served.columns.toSeq ===
      Seq("authority", "blockTime", "volume30d", "feeTier"))
    // timestamps serve as unix seconds (numeric sort key)
    val blockSecs = ts("2024-01-30 10:00:00").getTime / 1000
    assert(store.get("fee_tiers", "authA", Some(blockSecs)).get
      .apply("blockTime") === blockSecs)
  }

  // The sink collects the frame once and chunks every row on the driver,
  // so a serving write is one job over the frame as it is partitioned: no
  // exchange, no map stage.
  test("serveTable's write runs without a shuffle exchange") {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.util.QueryExecutionListener
    val sp = spark
    val (sink, store) = freshStore("kv_shufflefree")
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (f == "collect") writes.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sp.listenerManager.register(listener)
    val jobs = try jobsIn {
      ServingJobs.serveTable(sp.range(0, 100, 1, 4).select(col("id"),
        (col("id") * 2).as("v")), sink, "t", hashKey = "id", rangeKey = None)
    } finally sp.listenerManager.unregister(listener)
    assert(jobs === 1)
    assert(store.itemCount("t") === 100L)
    assert(writes.size === 1)
    assert(find(writes.peek)(_.isInstanceOf[ShuffleExchangeExec]).isEmpty,
      writes.peek.toString)
  }

  test("a column the store cannot serve fails before any Spark job") {
    import org.apache.spark.sql.functions.{col, lit}
    val sp = spark
    val (sink, store) = freshStore("kv_unservable")
    sink.write(sp.range(0, 10, 1, 2).toDF("id"), "t", "id")
    val df = sp.range(0, 10, 1, 2)
      .select(col("id"), lit(BigDecimal("1.5")).as("price"))
    var err: Throwable = null
    assert(jobsIn {
      err = intercept[IllegalArgumentException](sink.write(df, "t", "id"))
    } === 0)
    assert(err.getMessage.contains("'price'"), err.getMessage)
    assert(store.tableNames === Set("t"))
    assert(store.itemCount("t") === 10L)
    assert(store.get("t", 3L).get === Map("id" -> 3L))
  }

  test("serveAllTimeStats folds in the historical backfill constants") {
    val sp = spark
    import sp.implicits._
    val hourly = Seq(("SOL", 10.0, 2L), ("ETH", 5.0, 1L))
      .toDF("asset", "volume", "trade_count")
    val (sink, store) = freshStore("kv_servestats")
    val served = ServingJobs.serveAllTimeStats(hourly, "volume",
      "trade_count", baseVolume = 455316870.8536678, baseCount = 200322L,
      sink, "stats")
    val r = served.head()
    assert(r.getAs[Double]("totalVolume") === 455316870.8536678 + 15.0)
    assert(r.getAs[Long]("totalCount") === 200325L)
    assert(store.get("stats", "ALL").get.apply("totalCount") === 200325L)
  }

  // ---- KV key schema (KVTableSpec — zetadex-serving.py:40–175) ----

  test("KVTableSpec validation fails fast on bad key schemas") {
    val sp = spark
    import sp.implicits._
    import graft.serving.KVTableSpec
    val df = Seq((1L, ts("2024-01-01 00:00:00"), Seq(1, 2), BigDecimal(2)))
      .toDF("id", "observed_at", "tags", "amount")
    // missing column
    assertThrows[IllegalArgumentException](
      KVTableSpec("t", "nope").validate(df.schema))
    // raw temporal key: must go through servingProjection first
    assertThrows[IllegalArgumentException](
      KVTableSpec("t", "id", rangeKey = Some("observed_at"))
        .validate(df.schema))
    // non-scalar key
    assertThrows[IllegalArgumentException](
      KVTableSpec("t", "tags").validate(df.schema))
    // a DECIMAL key: the store serves no decimal values
    assertThrows[IllegalArgumentException](
      KVTableSpec("t", "amount").validate(df.schema))
    // ...and after servingProjection the temporal key becomes valid
    val projected = ServingJobs.servingProjection(df.drop("tags", "amount"))
    KVTableSpec("t", "id", rangeKey = Some("observed_at"))
      .validate(projected.schema)
  }

  test("a failed serve leaves the previously served table as it was") {
    import org.apache.spark.sql.functions._
    val sp = spark
    import sp.implicits._
    val (sink, store) = freshStore("kv_failed_serve")
    val first = sp.range(0, 100, 1, 4).select(col("id"), (col("id") * 2).as("v"))
    ServingJobs.serveTable(first, sink, "t", hashKey = "id", rangeKey = None)
    assert(store.itemCount("t") === 100L)
    // the second push fails in one task (ANSI division by zero)
    val failing = sp.range(0, 100, 1, 4).select(col("id"),
      when(col("id") === 77L, (lit(1) / lit(0)).cast("long"))
        .otherwise(col("id") * 3).as("v"))
    intercept[Exception] {
      ServingJobs.serveTable(failing, sink, "t", hashKey = "id", rangeKey = None)
    }
    def unchanged(): Unit = {
      assert(store.itemCount("t") === 100L)
      (0L until 100L).foreach(i => assert(store.get("t", i).get("v") === i * 2))
    }
    unchanged()
    // a bad key in one row of an otherwise valid push
    val nullKey = Seq((Some(1L), 2L), (None, 4L)).toDF("id", "v")
    intercept[IllegalArgumentException](sink.write(nullKey, "t", "id"))
    unchanged()
  }

  // ---- Embedded KV data plane (round-12: the last unexercised
  // reference surface — a real store shape behind the sink) ----

  test("embedded KV: batch-25 chunking — write count is ceil(n/25)") {
    val sp = spark
    import sp.implicits._
    import graft.serving.{EmbeddedKVSink, EmbeddedKVStore}
    val id = "kv_batch25"
    EmbeddedKVStore.remove(id)
    // the commit chunks all staged rows together → request count is
    // exactly ceil(103/25) = 5
    val n = 103
    val df = (1 to n).map(i => ("acct", i.toLong, i * 1.5))
      .toDF("account", "seq", "value")
    new EmbeddedKVSink(id).write(df, "pnl", "account", Some("seq"))
    val store = EmbeddedKVStore(id)
    assert(store.itemCount("pnl") === n.toLong)
    assert(store.itemWriteCount("pnl") === n.toLong)
    assert(store.batchWriteCount("pnl") === ((n + 24) / 25).toLong,
      "bulk push must chunk at the BatchWriteItem limit of 25")
    // the store itself enforces the limit (the client must chunk)
    val over = (1 to 26).map(i => Map[String, Any](
      "account" -> "x", "seq" -> i.toLong)).toSeq
    val e = intercept[IllegalArgumentException] {
      store.batchWrite("pnl", over)
    }
    assert(e.getMessage.contains("25"))
  }

  test("embedded KV: point lookup by (hash, range) round-trips a " +
      "served table; query(hash) sorts numerically by range key") {
    val sp = spark
    import sp.implicits._
    import graft.serving.{EmbeddedKVSink, EmbeddedKVStore}
    val id = "kv_serve_gate"
    EmbeddedKVStore.remove(id)
    val gold = Seq(
      (ts("2024-01-30 10:00:00"), "SOL", 100.0, 10.0),
      (ts("2024-01-30 10:00:00"), "ETH", 50.0, 5.0),
      (ts("2024-01-30 09:00:00"), "SOL", 999.0, 99.0)) // wrong hour
      .toDF("timestamp", "asset", "volume", "fees")
    val conf = Conf(Instant.parse("2024-01-30T12:00:00Z"))
    val sink = new EmbeddedKVSink(id)
    val served = ServingJobs.serveSnapshot(gold, "timestamp", "asset",
      Seq("volume", "fees"), conf, sink, "leaderboard")
    val store = EmbeddedKVStore(id)
    assert(store.itemCount("leaderboard") === 6L)
    // EVERY served row must read back by its full primary key with its
    // payload intact — the SV:190–234 point-lookup contract
    served.collect().foreach { r =>
      val item = store.get("leaderboard", r.getAs[String]("metric"),
        Some(r.getAs[String]("sortKey"))).getOrElse(
        fail(s"point lookup missed ${r.getAs[String]("sortKey")}"))
      assert(item("value") === r.getAs[Double]("value"))
      assert(item("asset") === r.getAs[String]("asset"))
    }
    assert(store.get("leaderboard", "volume", Some("no#such#key")).isEmpty)
    // item collection: one hash key, range-sorted — with a NUMERIC
    // range key, 2 must sort before 10 (a string sort would invert)
    EmbeddedKVStore.remove("kv_numsort")
    val numSink = new EmbeddedKVSink("kv_numsort")
    numSink.write(Seq(("acct", 10L, "late"), ("acct", 2L, "early"))
      .toDF("account", "seq", "tag"), "hist", "account", Some("seq"))
    val hist = EmbeddedKVStore("kv_numsort").query("hist", "acct")
    assert(hist.map(_("tag")) === Seq("early", "late"),
      "number range keys must sort numerically, not lexicographically")
    assert(EmbeddedKVStore("kv_numsort").get("hist", "acct", Some(10L)).get("tag")
      === "late")
  }

  test("embedded KV: PutItem upsert is last-write-wins; lookups " +
      "validate the key schema") {
    val sp = spark
    import sp.implicits._
    import graft.serving.{EmbeddedKVSink, EmbeddedKVStore}
    val id = "kv_upsert"
    EmbeddedKVStore.remove(id)
    val store = EmbeddedKVStore(id)
    val at = ts("2024-01-30 10:00:00")
    val df = Seq(("a", 1L, "v1", at)).toDF("h", "r", "payload", "at")
    new EmbeddedKVSink(id).write(df, "t", "h", Some("r"))
    // a timestamp column serves as epoch microseconds
    assert(store.get("t", "a", Some(1L)).get("at") === at.getTime * 1000L)
    store.batchWrite("t", Seq(Map("h" -> "a", "r" -> 1L, "payload" -> "v2")))
    assert(store.get("t", "a", Some(1L)).get("payload") === "v2",
      "re-putting a key must replace the item")
    assert(store.itemCount("t") === 1L)
    // key-schema discipline: a (hash,range) table rejects hash-only gets
    intercept[IllegalArgumentException] { store.get("t", "a") }
    intercept[IllegalStateException] { store.get("nope", "a", Some(1L)) }
    // int 1 and long 1 are the same NUMBER key, like DynamoDB's N type
    assert(store.get("t", "a", Some(1)).isDefined)
  }
}
