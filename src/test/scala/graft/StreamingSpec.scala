package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import graft.core.ScratchDirs

case class Ev(k: String, seq: Long, v: String)
case class TsEv(ts: Timestamp, user: String, value: Double)
case class SEv(user_id: Long, ts: Timestamp, value: Double)

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ts(s: String) = Timestamp.valueOf(s)

  test("applyChangesStream: final state equals batch applyChanges under out-of-order arrival") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[Ev]
    val out = StreamingOps.applyChangesStream(Seq("k"), col("seq"))(mem.toDF())
    val q = out.writeStream.format("memory").queryName("acs")
      .outputMode("update").start()
    try {
      mem.addData(Ev("a", 2, "v2"), Ev("b", 1, "w1"))
      q.processAllAvailable()
      mem.addData(Ev("a", 1, "v1-late"), Ev("a", 3, "v3"), Ev("b", 4, "w4"))
      q.processAllAvailable()
      // memory sink in update mode appends updates; latest per key wins
      val state = sp.sql("SELECT * FROM acs").as[Ev].collect()
        .groupBy(_.k).map { case (k, rows) => k -> rows.maxBy(_.seq).v }
      assert(state === Map("a" -> "v3", "b" -> "w4"))
      // batch equivalence
      val batch = graft.ops.Relational.applyChanges(Seq("k"), col("seq"))(
        Seq(Ev("a", 2, "v2"), Ev("b", 1, "w1"), Ev("a", 1, "v1-late"),
          Ev("a", 3, "v3"), Ev("b", 4, "w4")).toDF())
        .as[Ev].collect().map(e => e.k -> e.v).toMap
      assert(batch === state)
    } finally q.stop()
  }

  test("streamDedup drops duplicate keys within the watermark") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[TsEv]
    val out = StreamingOps.streamDedup("ts", "1 hour", Seq("user"))(mem.toDF())
    val q = out.writeStream.format("memory").queryName("sdd")
      .outputMode("append").start()
    try {
      mem.addData(
        TsEv(ts("2024-01-01 10:00:00"), "u1", 1.0),
        TsEv(ts("2024-01-01 10:10:00"), "u1", 2.0), // dup key within watermark
        TsEv(ts("2024-01-01 10:20:00"), "u2", 3.0))
      q.processAllAvailable()
      val n = sp.sql("SELECT count(*) FROM sdd").head().getLong(0)
      assert(n === 2)
    } finally q.stop()
  }

  test("statefulSessions matches session_window semantics incl. late bridge") {
    import graft.streaming.SessionEvent
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[SessionEvent]
    // 2h lateness: events below the watermark are DROPPED by Spark before
    // they reach the state function, so the out-of-order bridge below
    // needs a watermark behind it
    val out = StreamingOps.statefulSessions(
      gapMinutes = 30, lateness = "2 hours")(mem.toDS())
    val q = out.writeStream.format("memory").queryName("sessfmgs")
      .outputMode("append").start()
    val batch1 = Seq(
      SessionEvent(1L, ts("2024-01-01 10:00:00"), 1.0),
      SessionEvent(1L, ts("2024-01-01 10:10:00"), 2.0), // merges with prev
      SessionEvent(2L, ts("2024-01-01 10:00:00"), 1.0),
      SessionEvent(2L, ts("2024-01-01 10:30:00"), 4.0), // EXACT gap → merges
      SessionEvent(3L, ts("2024-01-01 10:00:00"), 1.0),
      SessionEvent(3L, ts("2024-01-01 10:40:00"), 2.0)) // 40 min → separate
    // out-of-order (above-watermark) event that BRIDGES user 3's two
    // open sessions into one; the far-future user-9 event drives the
    // watermark to 12:00 so every earlier session closes
    val batch2 = Seq(
      SessionEvent(3L, ts("2024-01-01 10:20:00"), 4.0),
      SessionEvent(9L, ts("2024-01-01 14:00:00"), 0.5))
    try {
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val got = sp.sql(
        "SELECT user_id, session_start, session_end, n_events, total_value" +
          " FROM sessfmgs")
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString,
          r.getTimestamp(2).toString, r.getLong(3), r.getDouble(4)))
        .toSet
      assert(got === Set(
        (1L, "2024-01-01 10:00:00.0", "2024-01-01 10:40:00.0", 2L, 3.0),
        // exact-gap adjacency merges (session_window's rule)
        (2L, "2024-01-01 10:00:00.0", "2024-01-01 11:00:00.0", 2L, 5.0),
        (3L, "2024-01-01 10:00:00.0", "2024-01-01 11:10:00.0", 3L, 7.0)))
      // user 9's session end (14:30) is past the final watermark (12:00):
      // still open, not emitted
      assert(!got.exists(_._1 == 9L))
      // cross-validate against the declarative session_window (q87's
      // operator) over the same data with the same watermark cutoff
      val batchSw = (batch1 ++ batch2).toDS()
        .groupBy($"user_id", session_window($"ts", "30 minutes"))
        .agg(count(lit(1)).as("n"), sum($"value").as("tv"))
        .filter($"session_window.end" <= ts("2024-01-01 12:00:00"))
        .collect()
        .map(r => (r.getLong(0),
          r.getStruct(1).getTimestamp(0).toString,
          r.getStruct(1).getTimestamp(1).toString,
          r.getLong(2), r.getDouble(3)))
        .toSet
      assert(batchSw === got,
        "custom-state sessionizer diverges from session_window")
    } finally q.stop()
  }

  test("statefulSessions flushes a session whose end+gap EQUALS the final watermark") {
    import graft.streaming.SessionEvent
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[SessionEvent]
    // user 1's session is [10:00, 10:30); user 9's lone event pins the
    // final watermark to EXACTLY 10:30 (10:35 − 5 min lateness). The
    // event-time timeout only fires when wm STRICTLY exceeds the armed
    // timestamp, so arming at end+gap would strand this session forever
    // (session_window's `<=` eviction emits it) — the boundary case the
    // one-tick-early arm exists for.
    val out = StreamingOps.statefulSessions(
      gapMinutes = 30, lateness = "5 minutes")(mem.toDS())
    val q = out.writeStream.format("memory").queryName("sessboundary")
      .outputMode("append").start()
    try {
      mem.addData(SessionEvent(1L, ts("2024-01-01 10:00:00"), 1.0))
      q.processAllAvailable()
      mem.addData(SessionEvent(9L, ts("2024-01-01 10:35:00"), 0.5))
      q.processAllAvailable()
      val got = sp.sql("SELECT user_id, session_end FROM sessboundary")
        .collect().map(r => r.getLong(0) -> r.getTimestamp(1).toString).toSet
      assert(got === Set(1L -> "2024-01-01 10:30:00.0"),
        "end+gap == watermark must flush, matching session_window's <= rule")
    } finally q.stop()
  }

  test("chained multi-stateful: join feeding windowed agg runs as ONE " +
      "query with two state operators in one progress (q298's plan)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val clicks = MemoryStream[SEv]
    val purchases = MemoryStream[SEv]
    val out = graft.queries.StreamingQueries.chainedJoinAgg(
      clicks.toDF(), purchases.toDF())
    val q = out.writeStream.format("memory").queryName("chained298")
      .outputMode("append").start()
    try {
      // a click→purchase pair in the 10:00 window...
      clicks.addData(SEv(1L, ts("2024-01-01 10:00:00"), 0.0))
      purchases.addData(SEv(1L, ts("2024-01-01 10:05:00"), 7.25))
      q.processAllAvailable()
      // ...then both feeds advance to 13:00: global wm = 12:50, join
      // output wm = 12:20 (the 30-min click horizon) ≥ 11:00 → the
      // 10:00 window closes and flushes through BOTH operators; the
      // 13:00 pair's own window stays open
      clicks.addData(SEv(2L, ts("2024-01-01 13:00:00"), 0.0))
      purchases.addData(SEv(2L, ts("2024-01-01 13:00:00"), 9.5))
      q.processAllAvailable()
      val rows = sp.sql("SELECT * FROM chained298").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2)))
      assert(rows.toSeq === Seq((ts("2024-01-01 10:00:00"), 1L, 7.25)),
        "exactly the closed 10:00 window, with its joined pair")
      // the chaining pin: ONE StreamingQueryProgress carrying BOTH
      // stateful operators — the stream-stream join AND the window agg
      val withState = q.recentProgress.filter(_.stateOperators.length >= 2)
      assert(withState.nonEmpty,
        s"expected a progress with 2 state operators, got " +
          s"${q.recentProgress.map(_.stateOperators.map(_.operatorName).mkString("+")).toSeq}")
      val names = withState.last.stateOperators.map(_.operatorName).toSet
      assert(names.exists(_.contains("symmetricHashJoin")) &&
        names.exists(_.contains("stateStoreSave")),
        s"operators in one progress must be join + agg, got $names")
    } finally q.stop()
  }

  test("stream-stream join state survives a restart from the checkpoint") {
    // The operational contract of the AvailableNow cadence: each run
    // terminates, the NEXT run resumes from the checkpoint, and join
    // state carried in the state store must bridge the two processes.
    // A click arrives in run 1; its matching purchase only exists in a
    // file added AFTER run 1 terminated. The match can only be emitted
    // if run 2 restored the click from the checkpointed join state —
    // an in-memory-only join would emit nothing.
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    import graft.graph.{Mode, Registry, TableDef}
    val sp = spark
    val staged = ScratchDirs.create("ssj_restart_src_")
    val out = ScratchDirs.create("ssj_restart_out_")

    def writeSlice(rows: Seq[(String, Long, String, Long, Double)],
                   name: String, mtime: Long): Unit = {
      val tmp = ScratchDirs.create("ssj_slice_")
      sp.createDataFrame(rows).toDF("ts0", "user_id", "event_type",
          "event_id", "value")
        .select(col("ts0").cast("timestamp").as("ts"), col("user_id"),
          col("event_type"), col("event_id"), col("value"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = JFiles.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
      val dst = Paths.get(staged, name)
      JFiles.move(Paths.get(part), dst, StandardCopyOption.REPLACE_EXISTING)
      JFiles.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }

    // run 1: a click and an unrelated later click (advances nothing —
    // watermark delay is 2h, so nothing is ever late in this test)
    writeSlice(Seq(("2024-01-01 10:00:00", 1L, "click", 100L, 0.0)),
      "s1.parquet", 1700000000000L)
    writeSlice(Seq(("2024-01-01 11:00:00", 2L, "click", 101L, 0.0)),
      "s2.parquet", 1700000060000L)

    def runOnce(): Unit = {
      val schema = sp.read.parquet(staged).schema
      val reg = new Registry(sp)
      reg.source("clicks", () =>
        sp.read.parquet(staged).filter(col("event_type") === "click"))
      reg.source("purchases", () =>
        sp.read.parquet(staged).filter(col("event_type") === "purchase"))
      reg.register(TableDef("ssj_matches", Seq("clicks", "purchases"), {
        case Seq(c, p) =>
          val cw = c.withWatermark("ts", "2 hours")
            .select(col("user_id"), col("event_id").as("click_id"),
              col("ts").as("click_ts"))
          val pw = p.withWatermark("ts", "2 hours")
            .select(col("user_id").as("p_user"),
              col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
          cw.join(pw, col("user_id") === col("p_user") &&
            col("purchase_ts") >= col("click_ts") &&
            col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      }, mode = Mode.Incremental))
      def feed(tp: String) = () =>
        sp.readStream.schema(sp.read.parquet(staged).schema)
          .option("maxFilesPerTrigger", "1").parquet(staged)
          .filter(col("event_type") === tp)
      graft.graph.Runner.runStreamingThenFull(sp, reg,
        Map("clicks" -> feed("click"), "purchases" -> feed("purchase")), out)
    }

    runOnce()
    assert(sp.read.parquet(s"$out/ssj_matches").count() === 0,
      "no purchases have arrived yet")

    // the purchase lands AFTER run 1 terminated; only checkpointed
    // join state can pair it with click 100
    writeSlice(Seq(("2024-01-01 10:10:00", 1L, "purchase", 200L, 9.99)),
      "s3.parquet", 1700000120000L)
    runOnce()

    val got = sp.read.parquet(s"$out/ssj_matches")
      .select("click_id", "purchase_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((100L, 200L)),
      "run 2 must join the new purchase against the RESTORED click state" +
        " and must not re-emit or reprocess run 1's files")
  }

  test("rateLimit: bucket registers and pending buffer survive a restart") {
    // The order-sensitive counterpart of the join-restart test: e3's
    // REJECTION is only possible if run 2 restored the bucket level
    // left by run 1's e1 (a fresh bucket at e2 would admit all three).
    // cap = 2 tokens, cost = 1 token, refill 1 token / 6 h — e1..e3
    // land within 10 minutes, so only the restored level decides.
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    import graft.graph.{Mode, Registry, TableDef}
    val sp = spark
    val staged = ScratchDirs.create("rl_restart_src_")
    val out = ScratchDirs.create("rl_restart_out_")

    def writeSlice(rows: Seq[(String, Long, Long)], name: String,
                   mtime: Long): Unit = {
      val tmp = ScratchDirs.create("rl_slice_")
      sp.createDataFrame(rows).toDF("ts0", "user_id", "event_id")
        .select(col("ts0").cast("timestamp").as("ts"), col("user_id"),
          col("event_id"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = JFiles.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
      val dst = Paths.get(staged, name)
      JFiles.move(Paths.get(part), dst, StandardCopyOption.REPLACE_EXISTING)
      JFiles.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }

    def runOnce(): Unit = {
      val schema = sp.read.parquet(staged).schema
      val reg = new Registry(sp)
      reg.source("feed", () => sp.read.parquet(staged))
      reg.register(TableDef("decisions", Seq("feed"), {
        case Seq(ev) =>
          import sp.implicits._
          graft.streaming.StreamingOps.rateLimit(
            capUnits = 43200000000L, costUnits = 21600000000L,
            lateness = "5 minutes")(
            ev.select(col("user_id"), col("ts"), col("event_id"))
              .as[graft.streaming.RateEvent]).toDF()
      }, mode = Mode.Incremental))
      graft.graph.Runner.runStreamingThenFull(sp, reg,
        Map("feed" -> (() => sp.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(staged))), out)
    }

    writeSlice(Seq(("2024-01-01 10:00:00", 1L, 1L),
      ("2024-01-01 10:05:00", 1L, 2L), ("2024-01-01 10:10:00", 1L, 3L)),
      "s1.parquet", 1700000000000L)
    runOnce()
    val run1 = sp.read.parquet(s"$out/decisions")
      .collect().map(r => r.getLong(1) -> r.getBoolean(2)).toMap
    assert(run1 === Map(1L -> true),
      s"run 1 finalizes only e1 (watermark 10:05), got $run1")

    // a later event lands AFTER run 1 terminated; its watermark advance
    // finalizes e2/e3 against the RESTORED registers and buffer
    writeSlice(Seq(("2024-01-01 23:00:00", 1L, 4L)),
      "s2.parquet", 1700000060000L)
    runOnce()
    val run2 = sp.read.parquet(s"$out/decisions")
      .collect().map(r => r.getLong(1) -> r.getBoolean(2)).toMap
    assert(run2 === Map(1L -> true, 2L -> true, 3L -> false),
      s"e3 must be REJECTED by the restored bucket level, got $run2")
  }

  // The scheduled-trigger mode (transactions:926 — hourly cluster,
  // watermark sized to cluster-start lag): two simulated hours, each a
  // full runScheduled tick. Hour 2's landing includes an event for hour
  // 1's bucket that is LATE ACROSS THE TRIGGER BOUNDARY but inside the
  // watermark budget (must land in the old bucket) and one OLDER than
  // the budget (must be dropped exactly as mid-stream lateness would
  // be). The final table must equal the watermark-aware batch recompute.
  test("runScheduled: out-of-order data across trigger boundaries follows the watermark budget") {
    import java.nio.file.{Files => JFiles, Paths, StandardCopyOption}
    import graft.graph.{ManifestStore, Mode, Registry, Runner, TableDef,
      WriteMode}
    val sp = spark
    val staged = ScratchDirs.create("sched_src_")
    val out = ScratchDirs.create("sched_out_")
    var mtime = 1700000000000L
    def land(rows: Seq[(String, Double)], name: String): Unit = {
      val tmp = ScratchDirs.create("sched_slice_")
      sp.createDataFrame(rows).toDF("ts0", "value")
        .select(col("ts0").cast("timestamp").as("ts"), col("value"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = JFiles.list(Paths.get(tmp)).toArray.map(_.toString)
        .filter(p => p.endsWith(".parquet") && !p.contains("_SUCCESS")).head
      val dst = Paths.get(staged, name)
      JFiles.move(Paths.get(part), dst, StandardCopyOption.REPLACE_EXISTING)
      mtime += 60000L
      JFiles.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val ddl = "ts timestamp, value double"
    val reg = new Registry(sp)
    reg.source("feed", () => sp.read.schema(ddl).parquet(staged))
    // window() aggregation, NOT date_trunc: only a window key carries
    // the event-time watermark metadata that makes Spark DROP rows
    // older than the budget (a date_trunc key accepts any ancient row
    // and keeps its state forever — fine for the reference's
    // always-fresh feeds, wrong for proving budget enforcement). The
    // drop rule is "window end < watermark".
    reg.register(TableDef("hourly", Seq("feed"), { case Seq(f) =>
      f.withWatermark("ts", "2 hours")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(28,6)")).cast("string")
            .cast("double").as("s"))
        .select(col("window.start").as("hour_ts"), col("n"), col("s"))
    }, mode = Mode.Incremental,
      // update-mode re-emissions merge by bucket; the running count is
      // monotone per bucket, so it is the upsert sequence column
      writeMode = WriteMode.Upsert(Seq("hour_ts"), "n")))
    val feed = () => sp.readStream.schema(ddl)
      .option("maxFilesPerTrigger", "1").parquet(staged)

    Runner.runScheduled(sp, reg, Map("feed" -> feed), out, ticks = 2) {
      case 1 =>
        land(Seq(("2024-01-01 10:05:00", 1.0), ("2024-01-01 10:45:00", 2.0)),
          "h10.parquet")
        land(Seq(("2024-01-01 11:20:00", 4.0)), "h11.parquet")
        // tick-1 watermark commits at 11:20 − 2h = 09:20
      case 2 =>
        // late across the boundary, inside the budget (10:30 ≥ 09:20):
        // must merge into hour 10's bucket
        land(Seq(("2024-01-01 10:30:00", 8.0)), "late_ok.parquet")
        // beyond the budget (hour-window [08:00,09:00) ends before the
        // 09:20 watermark): dropped, exactly as a mid-stream too-late
        // row would be
        land(Seq(("2024-01-01 08:30:00", 100.0)), "late_dropped.parquet")
        land(Seq(("2024-01-01 12:10:00", 16.0)), "h12.parquet")
    }

    val got = ManifestStore.read(sp, s"$out/hourly")
      .select(hour(col("hour_ts")).as("h"), col("n"), col("s")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got === Map(
      10 -> (3L, 11.0), // 1 + 2 + the late-but-in-budget 8
      11 -> (1L, 4.0),
      12 -> (1L, 16.0)),
      "hour 10 must absorb the cross-tick late event; 08:30 must be dropped")
    // watermark-aware batch recompute: same result when the batch side
    // applies the same lateness rule (keep rows whose hour-window end
    // exceeds the tick-1 watermark of 09:20 ⇔ ts ≥ 09:00)
    val batch = sp.read.schema(ddl).parquet(staged)
      .filter(col("ts") >= lit("2024-01-01 09:00:00"))
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"))
      .agg(count(lit(1)).as("n"), sum("value").as("s"))
      .select(hour(col("hour_ts")).as("h"), col("n"), col("s")).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got === batch, "scheduled streaming ≡ watermark-aware batch")
  }

  // An Upsert boundary's foreachBatch runs several actions per
  // micro-batch (emptiness probe, a partitioned table's touched-partition
  // collect, merge).
  // Each action over an unpersisted batch re-runs the stateful stage,
  // and the operator's numRowsUpdated counts every key once per run.
  // One run per micro-batch means numRowsUpdated = keys updated.
  test("Upsert foreachBatch runs each micro-batch's stateful operator once") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    import scala.jdk.CollectionConverters._
    import graft.graph.{ManifestStore, Mode, Registry, Runner, TableDef,
      WriteMode}
    val sp = spark
    import sp.implicits._
    val dir = ScratchDirs.create("upsert_once_")
    val rows = (1 to 40).map(i => (s"k${i % 5}", i % 2)).toDF("k", "p")
    rows.write.parquet(s"$dir/feed")
    val reg = new Registry(sp)
    // 5 keys into an unpartitioned table, 10 into a partitioned one
    reg.register(TableDef("plain", Seq("feed"), { case Seq(f) =>
      f.groupBy("k").agg(count(lit(1)).as("n"))
    }, mode = Mode.Incremental, writeMode = WriteMode.Upsert(Seq("k"), "n")))
    reg.register(TableDef("parted", Seq("feed"), { case Seq(f) =>
      f.groupBy("k", "p").agg(count(lit(1)).as("n"))
    }, mode = Mode.Incremental, partitionCols = Seq("p"),
      writeMode = WriteMode.Upsert(Seq("k", "p"), "n")))
    val updated = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0)
          e.progress.stateOperators.foreach(o => updated.add(o.numRowsUpdated))
    }
    sp.streams.addListener(listener)
    try {
      Runner.runStreamingThenFull(sp, reg, Map("feed" -> (() =>
        sp.readStream.schema(rows.schema).parquet(s"$dir/feed"))), s"$dir/out")
      // progress events reach listeners asynchronously
      val deadline = System.nanoTime + 30L * 1000 * 1000 * 1000
      while (updated.size < 2 && System.nanoTime < deadline) Thread.sleep(50)
    } finally sp.streams.removeListener(listener)
    assert(updated.asScala.toSeq.sorted === Seq(5L, 10L))
    assert(ManifestStore.read(sp, s"$dir/out/plain").count() === 5)
    assert(ManifestStore.read(sp, s"$dir/out/parted").count() === 10)
  }

  // ---- round-12 soak: bounded state under a ProcessingTime trigger ----
  // AvailableNow proves catch-up semantics but not the claim a
  // PRODUCTION streaming deployment watches first: that state-store
  // rows stay O(active keys × lateness horizon) as micro-batches keep
  // coming (reference cadence note, transactions:926). Run the
  // sessionizer under ProcessingTime with continuous input across many
  // micro-batches and read the bound off lastProgress.stateOperators.
  test("soak: sessionizer state stays bounded over 10+ ProcessingTime " +
      "micro-batches of continuous input") {
    import graft.streaming.SessionEvent
    import org.apache.spark.sql.streaming.Trigger
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val mem = MemoryStream[SessionEvent]
    val activeKeys = 4
    val out = StreamingOps.statefulSessions(
      gapMinutes = 30, lateness = "10 minutes")(mem.toDS())
    val ckpt = ScratchDirs.create("soak_ckpt")
    val q = out.writeStream.format("memory").queryName("soak_sessions")
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    val rounds = 12
    try {
      // each round advances event time by 1h: every user opens a fresh
      // session and the moving watermark closes + EVICTS the previous
      // one — input grows linearly, live state must not
      (0 until rounds).foreach { b =>
        val base = ts("2024-01-01 00:00:00").getTime + b * 3600L * 1000
        mem.addData((1 to activeKeys).flatMap { u =>
          Seq(SessionEvent(u.toLong, new Timestamp(base), 1.0),
            SessionEvent(u.toLong, new Timestamp(base + 5 * 60 * 1000), 2.0))
        }: _*)
        q.processAllAvailable()
      }
      val progresses = q.recentProgress.filter(_.stateOperators.nonEmpty)
      assert(progresses.map(_.batchId).distinct.length >= 10,
        s"soak must span ≥10 micro-batches, got " +
          s"${progresses.map(_.batchId).distinct.length}")
      assert(progresses.map(_.numInputRows).sum ===
        (rounds * activeKeys * 2).toLong, "every input row processed")
      // THE bound: live state ≤ active keys × small horizon factor (the
      // open session per key plus the previous not-yet-evicted one) —
      // NEVER proportional to micro-batch count. A leak shows up here
      // as ~rounds×activeKeys.
      val finalState = progresses.last.stateOperators(0).numRowsTotal
      assert(finalState <= (activeKeys * 3).toLong,
        s"state rows grew to $finalState — leak: expected ≤ ${activeKeys * 3}")
      // and the bound held THROUGHOUT the run, not just at the end
      val peak = progresses.map(_.stateOperators(0).numRowsTotal).max
      assert(peak <= (activeKeys * 3).toLong,
        s"peak state $peak exceeded the active-keys×horizon bound")
      // eviction is real: ~one session per key per round was CREATED
      // (the memory sink shows them emitted), yet live state never
      // exceeded the horizon bound — closed sessions left the store.
      // (flatMapGroupsWithState does not report numRowsRemoved, so the
      // proof is emitted-count vs live-state, not the removal metric.)
      val emitted = sp.sql("SELECT COUNT(*) FROM soak_sessions").head().getLong(0)
      assert(emitted >= (rounds - 2).toLong * activeKeys,
        s"sessions must close and emit as the watermark advances, got $emitted")
      assert(emitted > peak,
        "emitted sessions exceed peak live state — state is evicted, not accumulated")
    } finally q.stop()
  }

  // ---- round-13: state off the heap — the RocksDB provider ----
  // q243 gates RESULT parity against the oracle; this test pins the
  // other half of the claim: the RocksDB provider actually ENGAGED
  // (its own metrics appear on the progress events, so a silent
  // fallback to the heap provider cannot pass) and the sessionizer's
  // eviction bound holds there identically — provider choice is an
  // executor-local storage detail, invisible to semantics.
  test("RocksDB state store: provider engages (its metrics report) and " +
      "the sessionizer bound holds off-heap") {
    import graft.streaming.SessionEvent
    import org.apache.spark.sql.streaming.Trigger
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val rig = graft.queries.StreamRig
    rig.withConfs(sp, rig.ProviderKey -> rig.RocksDbProvider) {
      val mem = MemoryStream[SessionEvent]
      val out = StreamingOps.statefulSessions(
        gapMinutes = 30, lateness = "10 minutes")(mem.toDS())
      val ckpt = ScratchDirs.create("rocks_ckpt")
      val q = out.writeStream.format("memory").queryName("rocks_sessions")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .start()
      try {
        val activeKeys = 4
        (0 until 6).foreach { b =>
          val base = ts("2024-01-01 00:00:00").getTime + b * 3600L * 1000
          mem.addData((1 to activeKeys).flatMap { u =>
            Seq(SessionEvent(u.toLong, new Timestamp(base), 1.0),
              SessionEvent(u.toLong, new Timestamp(base + 5 * 60 * 1000), 2.0))
          }: _*)
          q.processAllAvailable()
        }
        val progresses = q.recentProgress.filter(_.stateOperators.nonEmpty)
        assert(progresses.nonEmpty, "stateful progress events expected")
        // the engagement proof: RocksDB-prefixed custom metrics exist
        // only when the RocksDB provider served the state operator
        val metricKeys = progresses.last.stateOperators(0)
          .customMetrics.keySet()
        assert(metricKeys.stream().anyMatch(_.startsWith("rocksdb")),
          s"no rocksdb* metrics on the state operator — provider fell " +
            s"back silently? got $metricKeys")
        // same eviction bound as the heap-provider soak
        val peak = progresses.map(_.stateOperators(0).numRowsTotal).max
        assert(peak <= (activeKeys * 3).toLong,
          s"off-heap peak state $peak exceeded the active-keys bound")
        val emitted =
          sp.sql("SELECT COUNT(*) FROM rocks_sessions").head().getLong(0)
        assert(emitted >= 4L * activeKeys,
          "sessions must close and emit under RocksDB too")
      } finally q.stop()
    }
    // the rig's rocksDb flag (q243): the run checkpoints under the
    // RocksDB provider, and the session's own provider is restored
    val before = sp.conf.getOption(rig.ProviderKey)
    val q243 = SparkEntry.queries("q243_rocksdb_state_hourly")(sp, TestSpark.sf0001)
    val table = java.nio.file.Paths.get(new java.net.URI(q243.inputFiles.head))
      .getParent
    val offsets = table.getParent.resolve(
      s"_checkpoints/${table.getFileName}/offsets/0")
    assert(new String(java.nio.file.Files.readAllBytes(offsets), "UTF-8")
      .contains(rig.RocksDbProvider), "q243's checkpoint must name RocksDB")
    assert(sp.conf.getOption(rig.ProviderKey) === before,
      "the provider conf is restored after the run")
  }
}
