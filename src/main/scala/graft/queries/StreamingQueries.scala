package graft.queries

import org.apache.spark.sql.functions._
import graft.graph.{Mode, Registry, TableDef, WriteMode}
import QH._
import StreamRig._

/** Streaming semantics under the hard gate (SURVEY.md §2.11): the query
  * actually RUNS a Structured Streaming job — events streamed through the
  * DAG runner with `Trigger.AvailableNow`, a watermarked hourly
  * aggregation materialized to parquet — and the result is hash-compared
  * against the batch oracle.
  *
  * Two deliberate deviations from the batch formulation, both forced by
  * streaming-to-parquet semantics and mirrored exactly in the oracle:
  *
  *  - Grouping uses `window(ts, '1 hour')` instead of `date_trunc`: a
  *    parquet sink is append-only, and append-mode aggregation requires
  *    the grouping to carry event-time metadata, which only `window()`
  *    propagates (the reference's `date_trunc` form runs in update mode
  *    into Delta, transactions:783). `window.start` ≡ `date_trunc('hour')`.
  *  - Only windows closed by the final watermark (max event time − 5 min)
  *    are emitted — the in-flight trailing hour stays in state. The
  *    oracle applies the same cutoff (`hour + 1h ≤ max(ts) − 5 min`), so
  *    the comparison verifies the watermark semantics rather than
  *    papering over them.
  */
object StreamingQueries {

  /** q298's two-stateful-operator plan, shared with StreamingSpec's
    * progress pin: watermarked click/purchase feeds → stream×stream
    * inner range join → hourly purchase-time window aggregation. One
    * definition so the gated query and the two-operators-in-one-
    * progress spec can never drift apart. */
  private[graft] def chainedJoinAgg(c: org.apache.spark.sql.DataFrame,
      p: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cw = c.withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts").as("click_ts"))
    val pw = p.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    cw.join(pw, col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("INTERVAL 30 MINUTES"))
      .groupBy(window(col("purchase_ts"), "1 hour"))
      .agg(count(lit(1)).as("n_pairs"),
        decSum(col("purchase_value")).as("total_value"))
      .select(col("window.start").as("hour_ts"), col("n_pairs"),
        col("total_value"))
  }

  /** q70's node, which q243 reruns on the RocksDB provider: events
    * aggregated per closed event-hour window and event type. */
  private val eventsHourly = TableDef("events_hourly", Seq("events_feed"), {
    case Seq(ev) =>
      ev.withWatermark("ts", "5 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), decSum(col("value")).as("total_value"))
        .select(col("window.start").as("hour_ts"), col("event_type"),
          col("n"), col("total_value"))
  }, mode = Mode.Incremental)

  /** The oracle of q70 and q243: same node, same answer. */
  private val hourlyOracle = """
        WITH hourly AS (
          SELECT CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
              AS hour_ts,
            event_type, COUNT(*) AS n,
            CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
              AS total_value
          FROM events GROUP BY 1, 2),
        wm AS (
          SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 5 MINUTE AS w
          FROM events)
        SELECT hour_ts, event_type, n, total_value
        FROM hourly, wm
        WHERE hour_ts + INTERVAL 1 HOUR <= w
        ORDER BY hour_ts, event_type"""

  /** ONE oracle for BOTH sessionizers — q87 (`session_window`) and q91
    * (`flatMapGroupsWithState`): the whole point of the twin gate is
    * identical semantics, so the SQL must be literally shared, not
    * copied. The watermark cutoff floors max(ts) to MILLISECONDS before
    * subtracting the delay: Spark's watermark is ms-granular
    * (floor(max_event_µs / 1000) − delay), so an oracle keeping raw
    * microseconds would claim sessions in the sub-ms sliver that the
    * engine correctly still holds open. */
  private val sessionOracle = """
        WITH e AS (
          SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
          FROM events),
        flagged AS (
          SELECT user_id, ts, value, event_id,
            CASE WHEN LAG(ts) OVER w IS NULL
              OR ts - LAG(ts) OVER w > INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_sess
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        sessed AS (
          SELECT user_id, ts, value,
            SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
          FROM flagged),
        agg AS (
          SELECT user_id, MIN(ts) AS session_start,
            MAX(ts) + INTERVAL 30 MINUTE AS session_end,
            COUNT(*) AS n_events,
            CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
              AS total_value
          FROM sessed GROUP BY user_id, sid),
        wm AS (
          SELECT DATE_TRUNC('milliseconds', MAX(CAST(ts AS TIMESTAMP)))
            - INTERVAL 5 MINUTE AS w
          FROM events)
        SELECT user_id, session_start, session_end, n_events, total_value
        FROM agg, wm WHERE session_end <= w
        ORDER BY user_id, session_start"""

  val qs: Seq[Q] = Seq(
    Q("q70_streaming_hourly",
      (s, d) => runOverEvents(s, d, eventsHourly, eventsFeed(s, d))
        .orderBy("hour_ts", "event_type"),
      Some(hourlyOracle)),

    // ROCKSDB STATE STORE — q70's stateful aggregation with its state
    // moved OFF the JVM heap onto Spark's RocksDB provider (the ships-
    // with-Spark rocksdbjni), which is what makes week-long watermarks
    // and 10⁸-key session maps survivable at 100 TB: HDFS-backed
    // in-memory state is bounded by executor heap and rebuilt from the
    // full changelog on failure, RocksDB state spills to local SSD,
    // snapshots incrementally, and bounds memory via block-cache
    // config. Results must be IDENTICAL to the heap provider — the
    // provider is an executor-local storage detail, invisible to the
    // query semantics — so the oracle is q70's; the spec side
    // (StreamingSpec) additionally proves RocksDB actually engaged by
    // reading the provider's own metrics off lastProgress. The conf is
    // set per-query and restored: provider choice pins into the
    // CHECKPOINT at first start, so flipping it mid-lifetime on a real
    // pipeline means a new checkpoint (or Spark's offline repartition
    // tooling) — which is why it is a deploy-time decision, not a
    // runtime toggle.
    Q("q243_rocksdb_state_hourly",
      (s, d) => runOverEvents(s, d, eventsHourly, eventsFeed(s, d),
        rocksDb = true).orderBy("hour_ts", "event_type"),
      Some(hourlyOracle)),

    // S1 JSON landing-zone ingest under the hard gate: the events feed
    // is staged as hive-partitioned JSON (the bronze landing layout,
    // transactions:70–80), read back through [[graft.sources.JsonSource]]
    // with a declared DDL schema (never inferred — no sampling pass at
    // 100 TB) and partition columns recovered from the directory layout,
    // then aggregated and hash-compared against the oracle running on
    // the original parquet. Timestamps/doubles round-trip Spark's JSON
    // codec at full precision, which the bit-exact compare verifies.
    Q("q74_json_ingest",
      (s, d) => {
        val out = graft.core.ScratchDirs.create("q74_")
        graft.tables.Tables.events(s, d)
          .withColumn("date_", to_date(col("ts")))
          .write.mode("overwrite").partitionBy("date_").json(out)
        val ddl = "event_id bigint, ts timestamp, user_id bigint, " +
          "event_type string, value double, props string"
        val ingested = graft.sources.JsonSource.batch(s, out, ddl + ", date_ date")
        ingested
          .groupBy("date_", "event_type")
          .agg(count(lit(1)).as("n"), decSum(col("value")).as("total_value"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("date_", "event_type")
      },
      Some("""
        SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS date_, event_type,
          COUNT(*) AS n,
          CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
            AS total_value,
          COUNT(DISTINCT user_id) AS n_users
        FROM events GROUP BY 1, 2 ORDER BY date_, event_type""")),

    // Stream∪stream union with aligned watermarks, EXECUTED as a real
    // streaming job (orderbook:207–222 `cleaned_orderbook_all`: bids and
    // asks streams union under 1-minute watermarks, feeding the gold
    // aggregate). Two independent file-source streams each declare a
    // 1-minute watermark; the union's downstream windowed aggregate runs
    // under Spark's multi-watermark policy (global watermark = MIN of
    // the inputs — mirrored by LEAST() in the oracle), all fused into
    // one checkpointed AvailableNow query by the graph Runner.
    Q("q76_streaming_union",
      (s, d) => {
        val reg = new Registry(s)
        reg.source("bids_feed", () =>
          graft.tables.Tables.events(s, d)
            .filter(col("event_type") === "click"))
        reg.source("asks_feed", () =>
          graft.tables.Tables.events(s, d)
            .filter(col("event_type") === "view"))
        reg.register(TableDef("orderbook_all", Seq("bids_feed", "asks_feed"), {
          case Seq(bids, asks) =>
            val b = bids.withWatermark("ts", "1 minute")
              .withColumn("side", lit("bid"))
            val a = asks.withWatermark("ts", "1 minute")
              .withColumn("side", lit("ask"))
            b.unionByName(a) // streaming∪streaming (OB:216–222)
        }, mode = Mode.Incremental))
        reg.register(TableDef("agg_orderbook_union_hourly",
          Seq("orderbook_all"), { case Seq(all) =>
            all.groupBy(window(col("ts"), "1 hour"), col("side"))
              .agg(count(lit(1)).as("n"), decSum(col("value")).as("total_value"))
              .select(col("window.start").as("hour_ts"), col("side"),
                col("n"), col("total_value"))
        }, mode = Mode.Incremental))
        val events = eventsFeed(s, d)
        def feed(tp: String) = () => events().filter(col("event_type") === tp)
        run(s, reg, Map("bids_feed" -> feed("click"), "asks_feed" -> feed("view")),
          "agg_orderbook_union_hourly").orderBy("hour_ts", "side")
      },
      Some("""
        WITH sided AS (
          SELECT CAST(ts AS TIMESTAMP) AS ts, value,
            CASE WHEN event_type = 'click' THEN 'bid' ELSE 'ask' END AS side
          FROM events WHERE event_type IN ('click', 'view')),
        hourly AS (
          SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour_ts, side,
            COUNT(*) AS n,
            CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
              AS total_value
          FROM sided GROUP BY 1, 2),
        wm AS (
          SELECT LEAST(
            (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events
             WHERE event_type = 'click'),
            (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events
             WHERE event_type = 'view')) - INTERVAL 1 MINUTE AS w)
        SELECT hour_ts, side, n, total_value
        FROM hourly, wm
        WHERE hour_ts + INTERVAL 1 HOUR <= w
        ORDER BY hour_ts, side""")),

    // Gap-based sessionization EXECUTED as a streaming job via Spark's
    // native `session_window` — the streaming twin of the batch q79
    // (W3 lag + W6 cumsum). Declarative session windows are the scale
    // path: state is one merging interval per open (user, session) in
    // the state store, evicted the moment the watermark passes
    // session_end — no per-event state, no custom code. Session
    // semantics: a session spans [first_ts, last_ts + gap) and ADJACENT
    // windows merge — a new session opens only when the silence
    // STRICTLY exceeds the gap (verified against session_window's
    // merge rule in StreamingSpec; mirrored by `>` in the oracle) —
    // and only sessions closed by the final watermark
    // (max event time − 5 min) are emitted in append mode — the oracle
    // applies the same cutoff, verifying the watermark semantics.
    Q("q87_streaming_sessions",
      (s, d) => runOverEvents(s, d, TableDef("user_sessions", Seq("events_feed"), {
          case Seq(ev) =>
            ev.withWatermark("ts", "5 minutes")
              .groupBy(col("user_id"),
                session_window(col("ts"), "30 minutes"))
              .agg(count(lit(1)).as("n_events"),
                decSum(col("value")).as("total_value"))
              .select(col("user_id"),
                col("session_window.start").as("session_start"),
                col("session_window.end").as("session_end"),
                col("n_events"), col("total_value"))
        }, mode = Mode.Incremental), eventsFeed(s, d))
        .orderBy("user_id", "session_start"),
      Some(sessionOracle)),

    // §2.10 streaming CDC upsert under the hard gate (zetaflex-pipeline
    // .py:138–151 `apply_changes`): the events feed is staged as MULTIPLE
    // parquet files and streamed with `maxFilesPerTrigger=1`, so
    // Trigger.AvailableNow produces several micro-batches and the upserts
    // genuinely cross batch boundaries. The transform is the declarative
    // `max_by` state aggregation (StreamingOps.applyChangesStream — one
    // row per key in the state store, update-mode emission); the sink is
    // WriteMode.Upsert, whose foreachBatch MERGE keeps the max-(ts,
    // event_id) row per key across batches (ManifestStore.upsert). The
    // final table must hash-equal the batch apply_changes oracle (q38's
    // QUALIFY form) — batch ≡ final streaming state, the §2.11 contract.
    Q("q88_streaming_apply_changes",
      (s, d) => {
        val cols = Seq("user_id", "event_type", "event_id", "ts", "value")
        // exactly 2 staged files (hash on event_id, so every upsert key
        // spans batches) — micro-batch count is bounded and deterministic,
        // not a function of the corpus's date range. Two batches are the
        // MINIMUM that makes the upserts genuinely cross a batch
        // boundary, and each extra batch costs a full O(table)
        // foreachBatch MERGE rewrite (r16 fixed-cost diet; the merge
        // result is batch-count-invariant — max-(ts,event_id) per key).
        val staged = stageSlices(s, d, "q88", 2)(pmod(col("event_id"), lit(2)))
        runOverEvents(s, d, TableDef("latest_events", Seq("events_feed"), {
          case Seq(ev) =>
            graft.streaming.StreamingOps.applyChangesStream(
              Seq("user_id", "event_type"), col("ts"), Seq(col("event_id")))(
              ev.select(cols.map(col): _*))
        }, mode = Mode.Incremental,
          writeMode = WriteMode.Upsert(Seq("user_id", "event_type"), "ts",
            Seq("event_id"))), slicesFeed(s, staged))
          .select(cols.map(col): _*)
          .orderBy("user_id", "event_type")
      },
      Some("""
        SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events
        QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
          ORDER BY ts DESC, event_id DESC) = 1
        ORDER BY user_id, event_type""")),

    // STREAM×STREAM join under the hard gate — the one §2.11 join family
    // the reference never exercises (its streaming joins are all
    // stream-static dims, J1/J2) but any real-time engine needs:
    // two live feeds joined on key + event-time range (clicks to the
    // purchases that follow within 30 minutes). Both sides declare
    // watermarks and the range condition bounds BOTH event times, so
    // Spark derives state-eviction watermarks for each side — state
    // holds only the trailing 30-minute-plus-disorder horizon per key,
    // never the full history (the 100 TB contract: state is O(rate ×
    // horizon), not O(stream)).
    //
    // Staging makes the cross-batch state handoff DETERMINISTIC, not
    // probabilistic: clicks replay as two time-contiguous slices
    // (batches 1–2), purchases only in the final slice (batch 3). Every
    // single match therefore joins a batch-3 purchase against a click
    // held in the join STATE STORE from an earlier batch — with
    // coarse time slices and aligned feeds, a within-30-min pair would
    // almost never straddle a slice boundary and the state machinery
    // would go untested. Until the purchase side sees data, its
    // watermark node reports no progress, and Spark's multi-watermark
    // policy (global = MIN over inputs — the same policy q76's oracle
    // pins with LEAST) holds the global watermark at zero — so the
    // clicks provably survive in state, and no row is ever late. The
    // inner join then emits exactly the batch-join result, which is
    // what the oracle checks. In production with aligned feeds the same
    // range condition bounds BOTH sides' state to the 30-minute-plus-
    // disorder horizon per key — state is O(rate × horizon), not
    // O(stream).
    Q("q97_stream_stream_join",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // clicks in slices 0–1 by time, purchases all in slice 2 (staging
        // scaffolding, not the operator: ntile's global sort is
        // test-rig-only)
        val staged = stageSlices(s, d, "q97", 3)(
          when(col("event_type") === "purchase", 2).otherwise(
            ntile(2).over(Window.orderBy(col("ts"), col("event_id"))) - 1))
        val reg = clicksAndPurchases(s, d)
        reg.register(TableDef("click_purchases",
          Seq("clicks_feed", "purchases_feed"), {
            case Seq(c, p) =>
              val cw = c.withWatermark("ts", "10 minutes")
                .select(col("user_id"), col("event_id").as("click_id"),
                  col("ts").as("click_ts"))
              val pw = p.withWatermark("ts", "10 minutes")
                .select(col("user_id").as("p_user_id"),
                  col("event_id").as("purchase_id"),
                  col("ts").as("purchase_ts"),
                  col("value").as("purchase_value"))
              cw.join(pw, col("user_id") === col("p_user_id") &&
                  col("purchase_ts") >= col("click_ts") &&
                  col("purchase_ts") <= col("click_ts") +
                    expr("INTERVAL 30 MINUTES"))
                .select(col("user_id"), col("click_id"), col("click_ts"),
                  col("purchase_id"), col("purchase_ts"),
                  col("purchase_value"))
          }, mode = Mode.Incremental))
        run(s, reg, clickPurchaseFeeds(s, staged), "click_purchases")
          .orderBy("click_id", "purchase_id")
      },
      Some("""
        SELECT c.user_id, c.event_id AS click_id,
          CAST(c.ts AS TIMESTAMP) AS click_ts,
          p.event_id AS purchase_id,
          CAST(p.ts AS TIMESTAMP) AS purchase_ts,
          p.value AS purchase_value
        FROM events c JOIN events p
          ON c.user_id = p.user_id
         AND p.ts >= c.ts
         AND p.ts <= c.ts + INTERVAL 30 MINUTE
        WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        ORDER BY click_id, purchase_id""")),

    // CHAINED MULTI-STATEFUL — q97's stream×stream join FEEDING q70's
    // windowed aggregation in ONE streaming query (two stateful
    // operators in one StreamingQueryProgress — StreamingSpec pins it):
    // the attribution rollup a real-time pipeline actually serves,
    // click→purchase pairs reduced to purchase-hour revenue without a
    // bounce through storage. Spark supports stateful chaining since
    // 3.5 (SPARK-42376); the correctness subtlety is the DOWNSTREAM
    // WATERMARK: the join's output watermark is the MIN of its sides'
    // state watermarks, and the click side retains state up to the
    // 30-minute match horizon, so the aggregation's input watermark
    // lags the global one by exactly that interval — an hourly window
    // closes when global_wm − 30 min passes its end. The oracle
    // composes the batch join with the batch rollup and applies that
    // same cutoff (multi-watermark MIN over the two feeds, ms-floored,
    // − 10 min delay − 30 min join horizon). Same staged three-slice
    // replay as q97, so every emitted pair crosses the join state
    // store, and the trailing AvailableNow no-data batch flushes the
    // final closed windows through BOTH operators.
    Q("q298_chained_stateful",
      (s, d) => {
        // same two-slice rig as q275 (clicks batch 1, purchases batch 2;
        // r16 fixed-cost diet): every pair still crosses the join state
        // store, the trailing no-data batch still flushes the closed
        // windows through BOTH stateful operators, and the oracle's
        // global-watermark cutoff is slice-count-invariant. Three-slice
        // multi-batch click accumulation remains q97's gate.
        val staged = stageSlices(s, d, "q275", 2)(
          when(col("event_type") === "purchase", 1).otherwise(0))
        val reg = clicksAndPurchases(s, d)
          .register(TableDef("attributed_hourly",
            Seq("clicks_feed", "purchases_feed"), {
              case Seq(c, p) => chainedJoinAgg(c, p)
            }, mode = Mode.Incremental))
        run(s, reg, clickPurchaseFeeds(s, staged), "attributed_hourly")
          .orderBy("hour_ts")
      },
      Some("""
        WITH pairs AS (
          SELECT p.ts AS pts, p.value AS pv
          FROM events c JOIN events p
            ON c.user_id = p.user_id
           AND p.ts >= c.ts
           AND p.ts <= c.ts + INTERVAL 30 MINUTE
          WHERE c.event_type = 'click' AND p.event_type = 'purchase'),
        hourly AS (
          SELECT CAST(DATE_TRUNC('hour', CAST(pts AS TIMESTAMP)) AS TIMESTAMP)
              AS hour_ts,
            COUNT(*) AS n_pairs,
            CAST(CAST(SUM(CAST(pv AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
              AS total_value
          FROM pairs GROUP BY 1),
        wm AS (
          SELECT LEAST(
            (SELECT DATE_TRUNC('milliseconds', MAX(CAST(ts AS TIMESTAMP)))
               FROM events WHERE event_type = 'click'),
            (SELECT DATE_TRUNC('milliseconds', MAX(CAST(ts AS TIMESTAMP)))
               FROM events WHERE event_type = 'purchase'))
            - INTERVAL 10 MINUTE - INTERVAL 30 MINUTE AS w)
        SELECT hour_ts, n_pairs, total_value
        FROM hourly, wm WHERE hour_ts + INTERVAL 1 HOUR <= w
        ORDER BY hour_ts""")),

    // Stream×stream LEFT OUTER — q97's sibling where the semantics
    // under test are the NULL rows: an unmatched left row may only be
    // emitted once the watermark proves no matching right row can still
    // arrive (purchase_ts ≤ click_ts + 30 min, so the click expires —
    // and null-emits — when wm passes click_ts + 30 min). The engine
    // flushes expired state in the trailing no-data batch that
    // Trigger.AvailableNow runs after the watermark's final advance
    // (the same machinery that closes q70's windows); clicks younger
    // than the final watermark stay in state unemitted, and the oracle
    // applies the identical cutoff: matches always, nulls only where
    // click_ts + 30 min < min(max click ts, max purchase ts) − 10 min
    // (multi-watermark MIN policy, ms-floored like the session oracle).
    // Slices here are time-ALIGNED (both feeds advance together) —
    // cross-batch state handoff is q97's job; this gate pins the
    // expiry/emission rule.
    Q("q104_stream_outer_join",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // TWO aligned slices (r16 fixed-cost diet): this gate pins the
        // watermark expiry/emission rule, which needs a mid-stream
        // watermark advance (one slice boundary) plus the trailing
        // no-data flush — the third slice added a second identical
        // advance for a full micro-batch of fixed cost. Cross-batch
        // handoff coverage is q97's; the oracle cutoff is global and
        // slice-count-invariant.
        val staged = stageSlices(s, d, "q104", 2)(
          ntile(2).over(Window.orderBy(col("ts"), col("event_id"))) - 1)
        val reg = clicksAndPurchases(s, d)
        reg.register(TableDef("click_outcomes",
          Seq("clicks_feed", "purchases_feed"), {
            case Seq(c, p) =>
              val cw = c.withWatermark("ts", "10 minutes")
                .select(col("user_id"), col("event_id").as("click_id"),
                  col("ts").as("click_ts"))
              val pw = p.withWatermark("ts", "10 minutes")
                .select(col("user_id").as("p_user_id"),
                  col("event_id").as("purchase_id"),
                  col("ts").as("purchase_ts"),
                  col("value").as("purchase_value"))
              cw.join(pw, col("user_id") === col("p_user_id") &&
                  col("purchase_ts") >= col("click_ts") &&
                  col("purchase_ts") <= col("click_ts") +
                    expr("INTERVAL 30 MINUTES"),
                "left_outer")
                .select(col("user_id"), col("click_id"), col("click_ts"),
                  col("purchase_id"), col("purchase_ts"),
                  col("purchase_value"))
          }, mode = Mode.Incremental))
        run(s, reg, clickPurchaseFeeds(s, staged), "click_outcomes")
          .orderBy("click_id", "purchase_id")
      },
      Some("""
        WITH c AS (
          SELECT user_id, event_id AS click_id, CAST(ts AS TIMESTAMP) AS click_ts
          FROM events WHERE event_type = 'click'),
        p AS (
          SELECT user_id, event_id AS purchase_id,
            CAST(ts AS TIMESTAMP) AS purchase_ts, value AS purchase_value
          FROM events WHERE event_type = 'purchase'),
        wm AS (
          SELECT LEAST(
              DATE_TRUNC('milliseconds', (SELECT MAX(click_ts) FROM c)),
              DATE_TRUNC('milliseconds', (SELECT MAX(purchase_ts) FROM p)))
            - INTERVAL 10 MINUTE AS w),
        matched AS (
          SELECT c.user_id, c.click_id, c.click_ts,
            p.purchase_id, p.purchase_ts, p.purchase_value
          FROM c JOIN p ON c.user_id = p.user_id
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE)
        SELECT * FROM matched
        UNION ALL
        SELECT c.user_id, c.click_id, c.click_ts, NULL, NULL, NULL
        FROM c, wm
        WHERE c.click_id NOT IN (SELECT click_id FROM matched)
          AND c.click_ts + INTERVAL 30 MINUTE < wm.w
        ORDER BY click_id, purchase_id""")),

    // The CUSTOM-STATE sessionizer under the hard gate — q87's twin
    // through `flatMapGroupsWithState` instead of the declarative
    // `session_window` (StreamingOps.statefulSessions: interval-merging
    // per-key state, event-time timeouts, watermark eviction). Running
    // BOTH through the same oracle pins that the hand-rolled state
    // machine and Spark's native session operator implement identical
    // semantics on real data — the seam a user needs the moment a
    // session payload outgrows count/sum (capped sessions, per-session
    // sketches). Session sums accumulate as exact decimals in the state
    // store, so the result is bit-stable under any micro-batch order.
    Q("q91_stateful_sessions",
      (s, d) => {
        import s.implicits._
        runOverEvents(s, d, TableDef("user_sessions_custom", Seq("events_feed"), {
          case Seq(ev) =>
            graft.streaming.StreamingOps.statefulSessions(
              gapMinutes = 30, lateness = "5 minutes")(
              ev.select(col("user_id"), col("ts"), col("value"))
                .as[graft.streaming.SessionEvent]).toDF()
        }, mode = Mode.Incremental), eventsFeed(s, d))
          .orderBy("user_id", "session_start")
      },
      Some(sessionOracle)),

    // THE THIRD SESSIONIZER — Spark 4's transformWithState, the
    // arbitrary-stateful API that supersedes flatMapGroupsWithState
    // (named typed state variables, multiple first-class event-time
    // timers with a separate expiry callback, TTL). Running the SAME
    // 30-minute-gap semantics through all three stateful surfaces —
    // q87 session_window (declarative), q91 fMGWS (legacy custom
    // state), q251 transformWithState (current custom state) — under
    // ONE oracle is the strongest parity statement the streaming layer
    // can make: the operator API is an implementation detail, the
    // semantics are the contract. transformWithState requires the
    // RocksDB provider (named state/timers live in column families),
    // so this query also exercises q243's off-heap path under real
    // custom state.
    Q("q251_tws_sessions",
      (s, d) => {
        import s.implicits._
        runOverEvents(s, d, TableDef("user_sessions_tws", Seq("events_feed"), {
          case Seq(ev) =>
            graft.streaming.StreamingOps.sessionsViaTransformWithState(
              gapMinutes = 30, lateness = "5 minutes")(
              ev.select(col("user_id"), col("ts"), col("value"))
                .as[graft.streaming.SessionEvent]).toDF()
        }, mode = Mode.Incremental), eventsFeed(s, d), rocksDb = true)
          .orderBy("user_id", "session_start")
      },
      Some(sessionOracle)),

    // STREAMING EXPECTATIONS — the q147 constraint suite moved onto the
    // live feed: the streaming half of DLT's expect/expect_or_drop
    // surface (available to every reference notebook, though none uses
    // it — beyond-parity hardening of the same pipeline platform). Per
    // closed event-hour, row count + named violation
    // counters, materialized through the same checkpointed AvailableNow
    // run and watermark cutoff as q70. The counters are plain
    // conditional sums, so the state per window is a handful of longs —
    // a quality monitor adds no state cardinality beyond the clock
    // windows themselves. Oracle = the batch recomputation under the
    // same watermark cutoff (batch ≡ final-state).
    Q("q149_streaming_expectations",
      (s, d) =>
        runOverEvents(s, d, TableDef("events_quality_hourly", Seq("events_feed"), {
          case Seq(ev) =>
            ev.withWatermark("ts", "5 minutes")
              .groupBy(window(col("ts"), "1 hour"))
              .agg(
                count(lit(1)).as("n"),
                sum(when(col("value") > 400, 1).otherwise(0)).cast("long")
                  .as("range_violations"),
                sum(when(col("props").isNull, 1).otherwise(0)).cast("long")
                  .as("null_props_violations"),
                sum(when(col("user_id").isNull, 1).otherwise(0)).cast("long")
                  .as("null_user_violations"))
              .select(col("window.start").as("hour_ts"), col("n"),
                col("range_violations"), col("null_props_violations"),
                col("null_user_violations"))
        }, mode = Mode.Incremental), eventsFeed(s, d)).orderBy("hour_ts"),
      Some("""
        WITH hourly AS (
          SELECT CAST(DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP)
              AS hour_ts,
            COUNT(*) AS n,
            CAST(SUM(CASE WHEN value > 400 THEN 1 ELSE 0 END) AS BIGINT)
              AS range_violations,
            CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS null_props_violations,
            CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
              AS null_user_violations
          FROM events GROUP BY 1),
        wm AS (
          SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 5 MINUTE AS w
          FROM events)
        SELECT hour_ts, n, range_violations, null_props_violations,
          null_user_violations
        FROM hourly, wm
        WHERE hour_ts + INTERVAL 1 HOUR <= w
        ORDER BY hour_ts""")),

    // STREAMING PER-KEY RATE LIMITER — admission control as a stateful
    // operator (the dynamic cousin of the reference's fixed KV
    // throughput knobs): a token bucket per user, capacity 2 tokens,
    // refill 1 token / 6 h of EVENT time, 1 token per event, all in
    // exact integer µs-units. The operator semantics are the new thing
    // here: admission is ORDER-SENSITIVE (unlike sessions' commutative
    // interval merge), so StreamingOps.rateLimit buffers events across
    // micro-batches and folds them through the bucket only below the
    // watermark — a buffering SORTER in state, the pattern every
    // event-time-ordered recursion (CDC conflation, order-book replay)
    // needs. The feed is staged as three TIME-RANGE files streamed
    // with maxFilesPerTrigger=1, so finalization genuinely crosses
    // micro-batch boundaries (batch N's events are decided while batch
    // N+1 runs). Oracle: the same integer recursion as a recursive CTE
    // under the same watermark cutoff — NOT list_reduce, whose DuckDB
    // 1.0 lambda gives wrong folds when multiple groups share a
    // vectorized batch (measured: user 0 folds to 48/9 alone but 49/9
    // grouped; the recursive form matches a hand fold exactly).
    Q("q229_streaming_rate_limit",
      (s, d) => {
        // three TIME-RANGE slices (10-day bands from 2024-01-01, the
        // last open-ended), so the order-sensitive operator sees
        // genuinely time-ordered micro-batches
        val staged = stageSlices(s, d, "q229", 3)(least(lit(2), greatest(lit(0),
          floor(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) / 10))))
        runOverEvents(s, d, TableDef("admission_log", Seq("events_feed"), {
          case Seq(ev) =>
            import s.implicits._
            graft.streaming.StreamingOps.rateLimit(
              capUnits = 43200000000L, costUnits = 21600000000L,
              lateness = "5 minutes")(
              ev.select(col("user_id"), col("ts"), col("event_id"))
                .as[graft.streaming.RateEvent]).toDF()
        }, mode = Mode.Incremental), slicesFeed(s, staged))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sum(col("admitted").cast("long")).as("n_admitted"),
            sum((!col("admitted")).cast("long")).as("n_rejected"))
          .orderBy("user_id")
      },
      Some("""
        WITH RECURSIVE wm AS (
          SELECT DATE_TRUNC('milliseconds', MAX(CAST(ts AS TIMESTAMP)))
            - INTERVAL 5 MINUTE AS w FROM events),
        e AS (
          SELECT user_id, EPOCH_US(CAST(ts AS TIMESTAMP)) AS us,
            ROW_NUMBER() OVER (PARTITION BY user_id
              ORDER BY ts, event_id) AS rn
          FROM events, wm WHERE CAST(ts AS TIMESTAMP) < wm.w),
        step(user_id, rn, us, tok, adm, rej) AS (
          SELECT user_id, rn, us,
            CAST(43200000000 - 21600000000 AS BIGINT),
            CAST(1 AS BIGINT), CAST(0 AS BIGINT)
          FROM e WHERE rn = 1
          UNION ALL
          SELECT e.user_id, e.rn, e.us,
            CASE WHEN LEAST(43200000000, s.tok + (e.us - s.us))
                >= 21600000000
              THEN LEAST(43200000000, s.tok + (e.us - s.us)) - 21600000000
              ELSE LEAST(43200000000, s.tok + (e.us - s.us)) END,
            s.adm + CASE WHEN LEAST(43200000000, s.tok + (e.us - s.us))
              >= 21600000000 THEN 1 ELSE 0 END,
            s.rej + CASE WHEN LEAST(43200000000, s.tok + (e.us - s.us))
              < 21600000000 THEN 1 ELSE 0 END
          FROM step s JOIN e ON e.user_id = s.user_id AND e.rn = s.rn + 1),
        fin AS (
          SELECT user_id, MAX(rn) AS n_events,
            MAX_BY(adm, rn) AS n_admitted, MAX_BY(rej, rn) AS n_rejected
          FROM step GROUP BY user_id)
        SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
          CAST(n_admitted AS BIGINT) AS n_admitted,
          CAST(n_rejected AS BIGINT) AS n_rejected
        FROM fin ORDER BY user_id""")),

    // STREAMING ROW-PATTERN MATCHING — q232's MATCH_RECOGNIZE lowering
    // moved onto the live feed (Flink-CEP territory): the q229
    // buffering sorter feeds a RUN AUTOMATON held in three state
    // registers per user (last value, open run, previous closed run),
    // and a V-shape emits exactly when its up-run is CLOSED BY
    // EVIDENCE — the first finalized delta that breaks it. The batch
    // oracle is q232's adjacency chain under the same watermark cutoff
    // PLUS the closure condition (LEAD(dir, 2) IS NOT NULL: a
    // successor run exists ⟺ the stream saw the closing delta), so
    // the hash gate proves batch ≡ final-streaming-state for a
    // genuinely order-sensitive CEP operator across real micro-batch
    // boundaries. All match arithmetic is the same IEEE subtractions
    // the batch device runs, decimal-rounded on emission.
    Q("q233_streaming_pattern",
      (s, d) => {
        // q229's three time-range slices: the run automaton is
        // order-sensitive too
        val staged = stageSlices(s, d, "q233", 3)(least(lit(2), greatest(lit(0),
          floor(datediff(to_date(col("ts")), lit("2024-01-01").cast("date")) / 10))))
        runOverEvents(s, d, TableDef("vshape_matches", Seq("events_feed"), {
          case Seq(ev) =>
            import s.implicits._
            graft.streaming.StreamingOps.streamingVshape(
              minDrop = 100, lateness = "5 minutes")(
              ev.select(col("user_id"), col("ts"), col("event_id"),
                col("value")).as[graft.streaming.RateEvent2]).toDF()
        }, mode = Mode.Incremental), slicesFeed(s, staged))
          .select(col("user_id"),
            round(col("drop").cast(DEC), 6).as("drop"),
            round(col("rise").cast(DEC), 6).as("rise"))
          .groupBy("user_id").agg(
            count(lit(1)).as("n_v"),
            round(decSum(col("drop")), 6).as("total_drop"),
            round(decSum(col("rise")), 6).as("total_rise"))
          .orderBy("user_id")
      },
      Some("""
        WITH wm AS (
          SELECT DATE_TRUNC('milliseconds', MAX(CAST(ts AS TIMESTAMP)))
            - INTERVAL 5 MINUTE AS w FROM events),
        e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value
          FROM events, wm WHERE CAST(ts AS TIMESTAMP) < wm.w),
        d AS (
          SELECT user_id, ts, event_id, value,
            LAG(value) OVER w AS prev,
            SIGN(value - LAG(value) OVER w) AS dir
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        flagged AS (
          SELECT user_id, ts, event_id, value, prev, dir,
            CASE WHEN dir IS DISTINCT FROM LAG(dir) OVER
              (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 1 ELSE 0 END AS brk
          FROM d WHERE dir IS NOT NULL),
        runs AS (
          SELECT user_id, ts, event_id, value, prev, dir,
            SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING) AS run_id
          FROM flagged),
        agg AS (
          SELECT user_id, run_id, ANY_VALUE(dir) AS dir,
            FIRST(prev ORDER BY ts, event_id) AS v_first,
            LAST(value ORDER BY ts, event_id) AS v_last
          FROM runs GROUP BY user_id, run_id),
        adj AS (
          SELECT user_id, dir, v_first, v_last,
            LEAD(dir) OVER w2 AS next_dir,
            LEAD(v_last) OVER w2 AS next_last,
            LEAD(dir, 2) OVER w2 AS next2_dir
          FROM agg WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)),
        matches AS (
          SELECT user_id,
            ROUND(CAST(v_first - v_last AS DECIMAL(28,6)), 6) AS drop,
            ROUND(CAST(next_last - v_last AS DECIMAL(28,6)), 6) AS rise
          FROM adj
          WHERE dir = -1 AND next_dir = 1 AND next2_dir IS NOT NULL
            AND v_first - v_last >= 100)
        SELECT user_id, COUNT(*) AS n_v,
          ROUND(CAST(CAST(SUM(CAST(drop AS DECIMAL(28,6))) AS VARCHAR)
            AS DOUBLE), 6) AS total_drop,
          ROUND(CAST(CAST(SUM(CAST(rise AS DECIMAL(28,6))) AS VARCHAR)
            AS DOUBLE), 6) AS total_rise
        FROM matches GROUP BY user_id ORDER BY user_id""")),

    // Stream×stream LEFT SEMI — the third member of the q97/q104 join
    // family, and the one whose OUTPUT contract differs: a matched left
    // row is emitted exactly ONCE no matter how many right rows match
    // (the state store tracks a per-row matched flag), so the operator
    // is the streaming form of EXISTS — "clicks that converted", without
    // paying for the match multiplicity that the inner join (q97)
    // materializes. Same staging as q97: clicks replay in batches 1–2,
    // purchases only in batch 3, so every emit is a cross-batch state
    // hit and the matched-flag machinery provably engages; the MIN
    // multi-watermark policy holds clicks in state until the purchase
    // side advances. The oracle is the batch EXISTS — dedup semantics
    // pinned row-for-row, not just match counts. State at 100 TB: the
    // range condition bounds both sides to the 30-minute-plus-disorder
    // horizon per key, and the semi form stores no right-side rows in
    // the output buffer at all.
    Q("q275_stream_semi_join",
      (s, d) => {
        // TWO slices (r16 streaming fixed-cost diet, VERDICT Next #1c):
        // all clicks in batch 1, all purchases in batch 2. Every emit is
        // STILL a cross-batch state-store hit (a purchase can only match
        // a click already held in state from the earlier batch), which is
        // the property this gate needs engaged; the multi-click-batch
        // state ACCUMULATION declension stays q97's (which keeps its
        // three-slice rig). The dropped third slice bought no coverage
        // here and cost one full micro-batch of per-batch fixed cost
        // (~0.6–1 s measured: planning + state commits + sink commit).
        // Result is slice-count-invariant: the semi join emits exactly
        // the batch EXISTS rows, which is what the oracle replays.
        val staged = stageSlices(s, d, "q275", 2)(
          when(col("event_type") === "purchase", 1).otherwise(0))
        val reg = clicksAndPurchases(s, d)
        reg.register(TableDef("converted_clicks",
          Seq("clicks_feed", "purchases_feed"), {
            case Seq(c, p) =>
              val cw = c.withWatermark("ts", "10 minutes")
                .select(col("user_id"), col("event_id").as("click_id"),
                  col("ts").as("click_ts"))
              val pw = p.withWatermark("ts", "10 minutes")
                .select(col("user_id").as("p_user_id"),
                  col("ts").as("purchase_ts"))
              cw.join(pw, col("user_id") === col("p_user_id") &&
                  col("purchase_ts") >= col("click_ts") &&
                  col("purchase_ts") <= col("click_ts") +
                    expr("INTERVAL 30 MINUTES"),
                "left_semi")
          }, mode = Mode.Incremental))
        run(s, reg, clickPurchaseFeeds(s, staged), "converted_clicks")
          .orderBy("click_id")
      },
      Some("""
        SELECT c.user_id, c.event_id AS click_id,
          CAST(c.ts AS TIMESTAMP) AS click_ts
        FROM events c
        WHERE c.event_type = 'click' AND EXISTS (
          SELECT 1 FROM events p
          WHERE p.event_type = 'purchase'
            AND p.user_id = c.user_id
            AND p.ts >= c.ts
            AND p.ts <= c.ts + INTERVAL 30 MINUTE)
        ORDER BY click_id""")),

    // Stream×stream FULL OUTER — the last member of the streaming join
    // family (q97 inner, q104 left outer, q275 left semi): BOTH sides
    // null-emit once the watermark proves their match window closed.
    // The two eviction rules differ and the oracle pins each: a click
    // can match purchases up to click_ts + 30 min, so it null-emits
    // when wm passes click_ts + 30 min (q104's rule); a purchase can
    // only match EARLIER clicks (purchase_ts >= click_ts), so its
    // window closes the moment wm passes purchase_ts itself — the
    // asymmetry is the range condition's direction, and getting it
    // wrong double-emits or starves one side. Same q104 time-aligned
    // staging; the MIN multi-watermark policy and ms-floored cutoffs
    // are mirrored LEAST/DATE_TRUNC in the oracle.
    Q("q282_stream_full_outer",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // two aligned slices — the same staging as q104; see q104 for
        // the slice-count rationale
        val staged = stageSlices(s, d, "q104", 2)(
          ntile(2).over(Window.orderBy(col("ts"), col("event_id"))) - 1)
        val reg = clicksAndPurchases(s, d)
        reg.register(TableDef("click_purchase_ledger",
          Seq("clicks_feed", "purchases_feed"), {
            case Seq(c, p) =>
              val cw = c.withWatermark("ts", "10 minutes")
                .select(col("user_id"), col("event_id").as("click_id"),
                  col("ts").as("click_ts"))
              val pw = p.withWatermark("ts", "10 minutes")
                .select(col("user_id").as("p_user_id"),
                  col("event_id").as("purchase_id"),
                  col("ts").as("purchase_ts"),
                  col("value").as("purchase_value"))
              cw.join(pw, col("user_id") === col("p_user_id") &&
                  col("purchase_ts") >= col("click_ts") &&
                  col("purchase_ts") <= col("click_ts") +
                    expr("INTERVAL 30 MINUTES"),
                "full_outer")
                .select(
                  coalesce(col("user_id"), col("p_user_id")).as("uid"),
                  col("click_id"), col("click_ts"),
                  col("purchase_id"), col("purchase_ts"),
                  col("purchase_value"))
          }, mode = Mode.Incremental))
        run(s, reg, clickPurchaseFeeds(s, staged), "click_purchase_ledger")
          .orderBy("click_id", "purchase_id")
      },
      Some("""
        WITH c AS (
          SELECT user_id, event_id AS click_id,
            CAST(ts AS TIMESTAMP) AS click_ts
          FROM events WHERE event_type = 'click'),
        p AS (
          SELECT user_id, event_id AS purchase_id,
            CAST(ts AS TIMESTAMP) AS purchase_ts, value AS purchase_value
          FROM events WHERE event_type = 'purchase'),
        wm AS (
          SELECT LEAST(
              DATE_TRUNC('milliseconds', (SELECT MAX(click_ts) FROM c)),
              DATE_TRUNC('milliseconds', (SELECT MAX(purchase_ts) FROM p)))
            - INTERVAL 10 MINUTE AS w),
        matched AS (
          SELECT c.user_id AS uid, c.click_id, c.click_ts,
            p.purchase_id, p.purchase_ts, p.purchase_value
          FROM c JOIN p ON c.user_id = p.user_id
            AND p.purchase_ts >= c.click_ts
            AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE)
        SELECT * FROM matched
        UNION ALL
        SELECT c.user_id, c.click_id, c.click_ts, NULL, NULL, NULL
        FROM c, wm
        WHERE c.click_id NOT IN (SELECT click_id FROM matched)
          AND c.click_ts + INTERVAL 30 MINUTE < wm.w
        UNION ALL
        SELECT p.user_id, NULL, NULL,
          p.purchase_id, p.purchase_ts, p.purchase_value
        FROM p, wm
        WHERE p.purchase_id NOT IN (SELECT purchase_id FROM matched)
          AND p.purchase_ts < wm.w
        ORDER BY click_id, purchase_id""")),

    // STREAMING OVER THE CUSTOM DSv2 SOURCE — the q70 watermarked
    // hourly aggregation fed by `graft-ticks`' MicroBatchStream instead
    // of the file source: 200k generated ticks drain through REAL
    // rate-limited micro-batches (ratePerBatch = 80k → 3 batches under
    // SupportsAdmissionControl + SupportsTriggerAvailableNow, so
    // cross-batch aggregation state genuinely engages), and the oracle
    // replays the connector's integer generator with the identical
    // watermark cutoff. This closes the loop on the connector: batch
    // leg gated by q288, stream leg gated here — one source, two
    // execution modes, one answer.
    Q("q289_dsv2_stream_hourly",
      (s, d) => {
        val reg = new Registry(s)
        reg.source("ticks_feed", () =>
          s.read.format("graft-ticks").option("rows", 200000L).load())
        reg.register(TableDef("ticks_hourly", Seq("ticks_feed"), {
          case Seq(tk) =>
            tk.withColumn("ts", timestamp_seconds(col("ts_sec")))
              .withWatermark("ts", "10 minutes")
              .groupBy(window(col("ts"), "1 hour"), col("symbol"))
              .agg(count(lit(1)).as("n"),
                sum(col("px_cents") * col("qty")).as("notional_cents"))
              .select(col("window.start").cast("long").as("hour_sec"),
                col("symbol"), col("n"), col("notional_cents"))
        }, mode = Mode.Incremental))
        run(s, reg, Map("ticks_feed" -> (() =>
          s.readStream.format("graft-ticks").option("rows", 200000L)
            .option("ratePerBatch", 80000L).load())), "ticks_hourly")
          .orderBy("hour_sec", "symbol")
      },
      Some("""
        WITH ticks AS (
          SELECT i AS tick_id, 'S' || (i % 8) AS symbol,
            1700000000 + i AS ts_sec,
            10000 + (i * 37) % 2000 - 1000 AS px_cents,
            1 + (i * 7) % 100 AS qty
          FROM (SELECT UNNEST(GENERATE_SERIES(0, 199999)) AS i)),
        hourly AS (
          SELECT (ts_sec // 3600) * 3600 AS hour_sec, symbol,
            COUNT(*) AS n,
            CAST(SUM(px_cents * qty) AS BIGINT) AS notional_cents
          FROM ticks GROUP BY 1, 2),
        wm AS (SELECT MAX(ts_sec) - 600 AS w FROM ticks)
        SELECT CAST(hour_sec AS BIGINT) AS hour_sec, symbol, n,
          notional_cents
        FROM hourly, wm
        WHERE hour_sec + 3600 <= wm.w
        ORDER BY hour_sec, symbol""")),

    // DYNAMIC-GAP SESSION WINDOWS — session_window's second form: the
    // gap is a PER-EVENT expression (purchases hold a session open 30
    // minutes, everything else 10), the shape real engagement analytics
    // needs (checkout flows idle longer than browse flows). Each event
    // contributes the interval [ts, ts + gap(event)); overlapping
    // intervals merge, so the session end is the MAX member end, not
    // last_ts + constant. The oracle rebuilds exactly that: per-user
    // cumulative max of prior interval ends, a new session only when
    // the gap is STRICTLY exceeded (q87's pinned merge rule), session
    // end = MAX(ts + gap) within the island. Batch form — the streaming
    // leg is q87's machinery with this gap column swapped in.
    Q("q292_dynamic_gap_sessions",
      (s, d) =>
        t(s, d, "events")
          .groupBy(col("user_id"),
            session_window(col("ts"),
              when(col("event_type") === "purchase", "30 minutes")
                .otherwise("10 minutes")))
          .agg(count(lit(1)).as("n_events"),
            decSum(col("value")).as("total_value"))
          .select(col("user_id"),
            col("session_window.start").as("session_start"),
            col("session_window.end").as("session_end"),
            col("n_events"), col("total_value"))
          .orderBy("user_id", "session_start"),
      Some("""
        WITH ev AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
            CASE WHEN event_type = 'purchase' THEN 30 ELSE 10 END AS gap_min,
            event_id
          FROM events),
        marked AS (
          SELECT *,
            CASE WHEN ts > MAX(ts + gap_min * INTERVAL 1 MINUTE) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              OR MAX(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
            THEN 1 ELSE 0 END AS new_session
          FROM ev),
        sess AS (
          SELECT *, SUM(new_session) OVER (PARTITION BY user_id
            ORDER BY ts, event_id) AS sid
          FROM marked)
        SELECT user_id, MIN(ts) AS session_start,
          MAX(ts + gap_min * INTERVAL 1 MINUTE) AS session_end,
          COUNT(*) AS n_events,
          CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR)
            AS DOUBLE) AS total_value
        FROM sess GROUP BY user_id, sid
        ORDER BY user_id, session_start"""))
  )
}
