package graft

import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.{AmplitudePipeline, MMUptimePipeline}
import graft.core.ScratchDirs

class UptimeAmplitudeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private def ts(s: String) = Timestamp.valueOf(s)

  test("MM uptime: intervals, hourly overlap, median across makers") {
    val sp = spark
    import sp.implicits._
    // mm1 quotes two-sided 10:00–10:30 (next snapshot one-sided kills it);
    // mm2 two-sided the whole hour (10:00 snapshot + 1h default validity)
    val quotes = Seq(
      (ts("2024-01-05 10:00:00"), "mm1", "SOL", "bid", 99.0, 1.0),
      (ts("2024-01-05 10:00:00"), "mm1", "SOL", "ask", 101.0, 1.0),
      (ts("2024-01-05 10:30:00"), "mm1", "SOL", "bid", 99.0, 1.0), // ask gone
      (ts("2024-01-05 10:00:00"), "mm2", "SOL", "bid", 98.0, 1.0),
      (ts("2024-01-05 10:00:00"), "mm2", "SOL", "ask", 102.0, 1.0))
      .toDF("timestamp", "authority", "asset", "side", "price", "size")
    val reg = MMUptimePipeline.build(sp, () => quotes.toDF())
    val up = reg.resolve("uptime_hourly").collect()
      .map(r => (r.getAs[Timestamp]("hour_start").toString,
        r.getAs[String]("authority")) -> r.getAs[Double]("uptime_pct")).toMap
    assert(up(("2024-01-05 10:00:00.0", "mm1")) === 0.5)
    assert(up(("2024-01-05 10:00:00.0", "mm2")) === 1.0)
    val med = reg.resolve("uptime_asset_median").collect()
      .map(r => r.getAs[Timestamp]("hour_start").toString ->
        r.getAs[Double]("median_uptime")).toMap
    assert(med("2024-01-05 10:00:00.0") === 0.75)
  }

  // K3 end-to-end at its real site (U3:151–157): the published
  // cleaned_mm_uptime materializes through Runner.runBatch, and the
  // hourly re-run cadence is idempotent — unlike the reference's raw
  // append, which doubles rows on a cluster re-run.
  test("cleaned_mm_uptime hourly append is idempotent through the Runner") {
    val sp = spark
    import sp.implicits._
    val quotes = Seq(
      (ts("2024-01-05 10:00:00"), "mm1", "SOL", "bid", 99.0, 1.0),
      (ts("2024-01-05 10:00:00"), "mm1", "SOL", "ask", 101.0, 1.0))
      .toDF("timestamp", "authority", "asset", "side", "price", "size")
    val out = ScratchDirs.create("mm_k3")
    val reg = MMUptimePipeline.build(sp, () => quotes.toDF())
    graft.graph.Runner.runBatch(reg, out)
    val once = sp.read.parquet(s"$out/cleaned_mm_uptime").count()
    // the retried hourly run: same inputs, same partitions → same rows
    graft.graph.Runner.runBatch(
      MMUptimePipeline.build(sp, () => quotes.toDF()), out)
    val twice = sp.read.parquet(s"$out/cleaned_mm_uptime").count()
    assert(once > 0 && twice === once,
      "a re-run must replace its hour partitions, not double them")
  }

  test("Amplitude sessionization attributes events to connect windows") {
    val sp = spark
    import sp.implicits._
    val events = Seq(
      (ts("2024-01-05 09:00:00"), "dev1", "page_view", null.asInstanceOf[String]),
      (ts("2024-01-05 09:10:00"), "dev1", "wallet_connect", "walletA"),
      (ts("2024-01-05 09:20:00"), "dev1", "trade", null.asInstanceOf[String]),
      (ts("2024-01-05 09:30:00"), "dev1", "wallet_connect", "walletB"),
      (ts("2024-01-05 09:40:00"), "dev1", "trade", null.asInstanceOf[String]),
      (ts("2024-01-05 09:05:00"), "dev2", "trade", null.asInstanceOf[String]))
      .toDF("ts", "device_id", "event_type", "wallet")
    val reg = AmplitudePipeline.build(sp, () => events.toDF())
    val wc = reg.resolve("cleaned_wallet_connects").collect()
    assert(wc.length === 2)
    assert(wc.find(_.getAs[Int]("connect_seq") == 2).get
      .getAs[Timestamp]("usage_end").toString.startsWith("9999-12-31"))
    val attributed = reg.resolve("cleaned_amplitude_events").collect()
      .map(r => (r.getAs[Timestamp]("ts").toString,
        r.getAs[String]("event_type")) ->
        r.getAs[String]("attributed_wallet")).toMap
    assert(attributed(("2024-01-05 09:20:00.0", "trade")) === "walletA")
    assert(attributed(("2024-01-05 09:40:00.0", "trade")) === "walletB")
    assert(attributed(("2024-01-05 09:00:00.0", "page_view")) === null)
    assert(attributed(("2024-01-05 09:05:00.0", "trade")) === null)
  }
}
