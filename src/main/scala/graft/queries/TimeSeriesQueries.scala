package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import QH._

/** Time-series operator families over the events stream: regular-grid
  * resampling with gap fill (linear interpolation between neighboring
  * observations) and rolling-statistics anomaly flagging. Both are the
  * batch-gold shape of the reference's monitoring surface (SURVEY §0:
  * platform-monitoring hourly rollups) extended with the standard
  * time-series post-processing a metrics consumer runs downstream.
  *
  * Scale shape shared by both: the ONLY pass over raw events is a
  * map-side-combined groupBy(event_type, hour) — the resample is the
  * compaction. Every window after that runs on the resampled frame,
  * whose row count is |event_type| × |hours| — a function of the grain
  * and the clock, NOT of the raw event volume. At 100 TB of events the
  * windows still see thousands of rows per type, so partitioning by
  * event_type (low cardinality) is safe: the per-partition work is
  * bounded by calendar time, not data size.
  */
object TimeSeriesQueries {

  val qs: Seq[Q] = Seq(
    // GAP FILL + LINEAR INTERPOLATION: hourly avg(value) per type on a
    // dense hour spine from each type's first to last observed hour;
    // missing hours are filled by interpolating linearly between the
    // nearest earlier and later observations (edges clamp to the
    // nearest observed value). The interpolation arithmetic runs on
    // 6-dp-rounded endpoints in an op order mirrored exactly by the
    // oracle, and both roundings are the oracle's own (roundScaled), so
    // the filled doubles hash-compare bit-identically, ties included.
    Q("q117_gap_fill",
      (s, d) => {
        val ev = t(s, d, "events")
          .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
            col("value"))
          // no-op on this data (keys are never null), but it matches the
          // null filter the left join infers on its build side — without
          // it the two obs subtrees differ by that filter and the scan
          // runs twice instead of reusing one exchange
          .filter(col("event_type").isNotNull && col("h").isNotNull)
        val obs = ev.groupBy("event_type", "h")
          .agg(roundScaled(decAvg(col("value")), 6).as("v_obs"))
        // bounds reference the non-key v_obs (always non-null, so the
        // when() is the identity): plain min(h)/max(h) would let the
        // optimizer drop the inner aggregate (h is one of its keys) and
        // rescan raw events just for bounds — the guard keeps the obs
        // subplan shared, so ONE fact scan feeds both branches via
        // exchange reuse
        val bounds = obs.groupBy("event_type")
          .agg(min(when(col("v_obs").isNotNull, col("h"))).as("h0"),
            max(when(col("v_obs").isNotNull, col("h"))).as("h1"))
        val spine = bounds.select(col("event_type"),
          explode(sequence(col("h0"), col("h1"), expr("INTERVAL 1 HOUR")))
            .as("h"))
        val filled = spine.join(obs, Seq("event_type", "h"), "left")
        val ord = Window.partitionBy("event_type").orderBy("h")
        val before = ord.rowsBetween(Window.unboundedPreceding, -1)
        val after = ord.rowsBetween(1, Window.unboundedFollowing)
        val prevV = last(col("v_obs"), ignoreNulls = true).over(before)
        val prevH = last(when(col("v_obs").isNotNull, col("h")),
          ignoreNulls = true).over(before)
        val nextV = first(col("v_obs"), ignoreNulls = true).over(after)
        val nextH = first(when(col("v_obs").isNotNull, col("h")),
          ignoreNulls = true).over(after)
        // exact integer-valued doubles: second-diffs of whole hours
        val dh = (unix_timestamp(col("h")) - unix_timestamp(prevH))
          .cast("double")
        val dtot = (unix_timestamp(nextH) - unix_timestamp(prevH))
          .cast("double")
        filled
          .select(col("event_type"), col("h"), col("v_obs"),
            when(col("v_obs").isNotNull, col("v_obs"))
              .when(prevV.isNull, nextV)
              .when(nextV.isNull, prevV)
              .otherwise(roundScaled(prevV + (nextV - prevV) * (dh / dtot), 6))
              .as("v_fill"),
            col("v_obs").isNull.as("is_gap"))
          .orderBy("event_type", "h")
      },
      Some("""
        WITH obs AS (
          SELECT event_type, DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h,
            ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR)
              AS DOUBLE) / COUNT(*), 6) AS v_obs
          FROM events GROUP BY 1, 2),
        bounds AS (
          SELECT event_type, MIN(h) AS h0, MAX(h) AS h1 FROM obs GROUP BY 1),
        spine AS (
          SELECT event_type,
            UNNEST(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
          FROM bounds),
        filled AS (
          SELECT s.event_type, s.h, o.v_obs
          FROM spine s LEFT JOIN obs o USING (event_type, h)),
        ctx AS (
          SELECT event_type, h, v_obs,
            LAST_VALUE(v_obs IGNORE NULLS) OVER w_before AS prev_v,
            LAST_VALUE(CASE WHEN v_obs IS NOT NULL THEN h END IGNORE NULLS)
              OVER w_before AS prev_h,
            FIRST_VALUE(v_obs IGNORE NULLS) OVER w_after AS next_v,
            FIRST_VALUE(CASE WHEN v_obs IS NOT NULL THEN h END IGNORE NULLS)
              OVER w_after AS next_h
          FROM filled
          WINDOW
            w_before AS (PARTITION BY event_type ORDER BY h
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
            w_after AS (PARTITION BY event_type ORDER BY h
              ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        SELECT event_type, h, v_obs,
          CASE WHEN v_obs IS NOT NULL THEN v_obs
               WHEN prev_v IS NULL THEN next_v
               WHEN next_v IS NULL THEN prev_v
               ELSE ROUND(prev_v + (next_v - prev_v) *
                 (CAST(DATE_DIFF('second', prev_h, h) AS DOUBLE) /
                  CAST(DATE_DIFF('second', prev_h, next_h) AS DOUBLE)), 6)
          END AS v_fill,
          v_obs IS NULL AS is_gap
        FROM ctx
        ORDER BY event_type, h""")),

    // ROLLING Z-SCORE ANOMALY FLAG: each hourly total is scored
    // against the trailing 24 observations (current row EXCLUDED, so
    // the anomaly cannot suppress itself); |z| > 3 with at least 12
    // points of history flags the hour. Variance is computed from
    // decimal-exact window sums (Σv, Σv²) with the double arithmetic
    // ((ssq − s²/n)/(n−1)) mirrored term-for-term in the oracle —
    // deterministic hash equality without trusting two engines'
    // internal stddev implementations to agree.
    Q("q118_rolling_anomaly",
      (s, d) => {
        val obs = t(s, d, "events")
          .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
            col("value"))
          .groupBy("event_type", "h")
          .agg(round(decSum(col("value")), 6).as("v"))
        val wf = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(-24, -1)
        val nD = col("n_win").cast("double")
        val scored = obs
          .withColumn("n_win", count(col("v")).over(wf))
          .withColumn("s",
            sum(col("v").cast(DEC)).over(wf).cast("string").cast("double"))
          .withColumn("ssq",
            sum((col("v") * col("v")).cast(DEC)).over(wf)
              .cast("string").cast("double"))
          // ANSI mode: the divisions must not run for empty/size-1
          // frames (n_win ≤ 1); guard at the history threshold, which
          // also matches what the oracle's CASE exposes
          .withColumn("mu", when(col("n_win") >= 12, col("s") / nD))
          .withColumn("variance",
            when(col("n_win") >= 12,
              (col("ssq") - col("s") * col("s") / nD) / (nD - lit(1.0))))
          .withColumn("z",
            when(col("n_win") >= 12 && col("variance") > 0,
              round((col("v") - col("mu")) / sqrt(col("variance")), 6)))
        scored
          .select(col("event_type"), col("h"), col("v"), col("n_win"),
            col("z"),
            coalesce(abs(col("z")) > 3, lit(false)).as("is_anomaly"))
          .orderBy("event_type", "h")
      },
      Some("""
        WITH obs AS (
          SELECT event_type, DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h,
            ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR)
              AS DOUBLE), 6) AS v
          FROM events GROUP BY 1, 2),
        ctx AS (
          SELECT event_type, h, v,
            COUNT(v) OVER w AS n_win,
            CAST(CAST(SUM(CAST(v AS DECIMAL(28,6))) OVER w AS VARCHAR)
              AS DOUBLE) AS s,
            CAST(CAST(SUM(CAST(v * v AS DECIMAL(28,6))) OVER w AS VARCHAR)
              AS DOUBLE) AS ssq
          FROM obs
          WINDOW w AS (PARTITION BY event_type ORDER BY h
            ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)),
        scored AS (
          SELECT event_type, h, v, n_win,
            s / CAST(n_win AS DOUBLE) AS mu,
            (ssq - s * s / CAST(n_win AS DOUBLE)) /
              (CAST(n_win AS DOUBLE) - 1.0) AS variance
          FROM ctx)
        SELECT event_type, h, v, n_win,
          CASE WHEN n_win >= 12 AND variance > 0
               THEN ROUND((v - mu) / SQRT(variance), 6) END AS z,
          COALESCE(ABS(CASE WHEN n_win >= 12 AND variance > 0
               THEN ROUND((v - mu) / SQRT(variance), 6) END) > 3, FALSE)
            AS is_anomaly
        FROM scored
        ORDER BY event_type, h""")),

    // EXPONENTIAL MOVING AVERAGE over the hourly series, adjust-style:
    // ewma(t) = Σ_k w^k·v(t−k) / Σ_k w^k over the trailing 13 hours
    // with PRESENT terms only (a gap drops out of numerator AND
    // denominator). The trailing window becomes an EQUI join by
    // exploding a 13-row offset spine against the anchor hours — the
    // J5 offset-join device generalized to a fanout, replacing a range
    // join; the fanout multiplies the calendar-bounded resample, never
    // raw events. Numerics: w = 0.5 and offsets ≤ 12 are chosen so
    // every weight 2^-k and product v·2^-k is EXACT in decimal(38,18)
    // (v carries 6 decimal digits, 2^-k needs k more, 6+12 = 18 — the
    // q78 dyadic-quantization trick), so the order-free decimal sums
    // hash-match the oracle with zero rounding ambiguity.
    Q("q123_ewma",
      (s, d) => {
        val obs = t(s, d, "events")
          .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
            col("value"))
          // no-op null filter matching what the join infers on its build
          // side, so both obs subtrees stay identical and the exchange
          // reuses (q117's device)
          .filter(col("event_type").isNotNull && col("h").isNotNull)
          .groupBy("event_type", "h")
          .agg(round(decAvg(col("value")), 6).as("v"))
        // the anchor spine carries its own hour's value through to the
        // output (v_now): besides being useful next to the smoothed
        // value, the reference keeps BOTH branches' obs subtrees
        // identical — project v away here and column pruning strips the
        // value aggregation from this branch, making it a different
        // subtree from the join side and a second fact scan instead of
        // one reused exchange (same device as q117's bounds)
        val anchored = obs
          .withColumn("off", explode(sequence(lit(0), lit(12))))
          .select(col("event_type"), col("h"), col("v").as("v_now"),
            (col("h") - expr("INTERVAL '1' HOUR") * col("off")).as("h_src"),
            col("off"))
        anchored
          .join(obs.select(col("event_type"), col("h").as("h_src"),
            col("v")), Seq("event_type", "h_src"))
          .withColumn("w", pow(lit(0.5), col("off")))
          .groupBy("event_type", "h")
          .agg(
            max(col("v_now")).as("v_now"),
            round(
              sum((col("v") * col("w")).cast("decimal(38,18)"))
                .cast("string").cast("double") /
              sum(col("w").cast("decimal(38,18)"))
                .cast("string").cast("double"), 6).as("ewma"),
            count(lit(1)).as("n_terms"))
          .select(col("event_type"), col("h"), col("v_now"), col("ewma"),
            col("n_terms"))
          .orderBy("event_type", "h")
      },
      Some("""
        WITH obs AS (
          SELECT event_type, DATE_TRUNC('hour', CAST(ts AS TIMESTAMP)) AS h,
            ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR)
              AS DOUBLE) / COUNT(*), 6) AS v
          FROM events GROUP BY 1, 2),
        offs AS (SELECT UNNEST(generate_series(0, 12)) AS off),
        anchored AS (
          SELECT o.event_type, o.h, o.v AS v_now, f.off,
            o.h - f.off * INTERVAL 1 HOUR AS h_src
          FROM obs o CROSS JOIN offs f),
        joined AS (
          SELECT a.event_type, a.h, a.v_now, POWER(0.5, a.off) AS w, s.v
          FROM anchored a JOIN obs s
            ON s.event_type = a.event_type AND s.h = a.h_src)
        SELECT event_type, h, MAX(v_now) AS v_now,
          ROUND(
            CAST(CAST(SUM(CAST(v * w AS DECIMAL(38,18))) AS VARCHAR)
              AS DOUBLE) /
            CAST(CAST(SUM(CAST(w AS DECIMAL(38,18))) AS VARCHAR)
              AS DOUBLE), 6) AS ewma,
          COUNT(*) AS n_terms
        FROM joined GROUP BY 1, 2
        ORDER BY event_type, h""")),

    // INTERVAL COVERAGE (gaps-and-islands): merge each user's
    // overlapping activity intervals into maximal covered spans and
    // report islands / covered seconds / total span — the uptime
    // computation at the heart of the reference's deprecated MM-uptime
    // notebook (zetadex-mm-uptime-pipeline-v2 [DEPRECATED].sql:120-180
    // merges quote intervals the same way), generalized to any
    // interval source. The classic algorithm: order intervals by
    // start, an island begins wherever start exceeds the running max
    // of all PRIOR ends (rows-frame ending at -1, so an interval
    // cannot glue itself), island id = running count of island starts,
    // then covered time = Σ per-island (max(end) − min(start)).
    // Scale shape: both windows partition on user_id — per-partition
    // work is one sort of that user's intervals, never a global sort;
    // the per-island and per-user aggregations are map-side-combined
    // groupBys. All arithmetic is integer epoch-seconds (exact).
    Q("q182_interval_coverage",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        // Duration clamp (ADVICE r10): value < -6 would invert the
        // interval (e < s) and produce negative covered seconds that
        // the brute-force spec (same formula) could never catch —
        // greatest(0, dur) keeps every interval well-formed, mirrored
        // in the oracle.
        val iv = t(s, d, "events").select(
          col("user_id"),
          unix_timestamp(col("ts")).as("s"),
          (unix_timestamp(col("ts")) + greatest(lit(0L), lit(60L) +
            floor(col("value") * 10).cast("long"))).as("e"),
          col("event_id"))
        val ord = Window.partitionBy("user_id")
          .orderBy("s", "e", "event_id")
        val prevMax = max(col("e")).over(
          ord.rowsBetween(Window.unboundedPreceding, -1))
        val islands = iv
          .withColumn("new_island",
            when(prevMax.isNull || col("s") > prevMax, 1).otherwise(0))
          .withColumn("island_id",
            sum(col("new_island")).over(
              ord.rowsBetween(Window.unboundedPreceding, 0)))
          .groupBy("user_id", "island_id")
          .agg(min(col("s")).as("is_"), max(col("e")).as("ie"))
        islands.groupBy("user_id")
          .agg(count(lit(1)).as("n_islands"),
            sum(col("ie") - col("is_")).cast("long").as("covered_s"),
            (max(col("ie")) - min(col("is_"))).cast("long").as("span_s"))
          .orderBy("user_id")
      },
      Some("""
        WITH iv AS (
          SELECT user_id,
            CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS s,
            CAST(FLOOR(EPOCH(ts)) AS BIGINT) + GREATEST(0, 60
              + CAST(FLOOR(value * 10) AS BIGINT)) AS e,
            event_id
          FROM events),
        marked AS (
          SELECT user_id, s, e, event_id,
            MAX(e) OVER (PARTITION BY user_id ORDER BY s, e, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
          FROM iv),
        islands AS (
          SELECT user_id, s, e,
            SUM(CASE WHEN prev_max IS NULL OR s > prev_max THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY s, e, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
          FROM marked),
        per_island AS (
          SELECT user_id, island_id, MIN(s) AS is_, MAX(e) AS ie
          FROM islands GROUP BY 1, 2)
        SELECT user_id, COUNT(*) AS n_islands,
          CAST(SUM(ie - is_) AS BIGINT) AS covered_s,
          CAST(MAX(ie) - MIN(is_) AS BIGINT) AS span_s
        FROM per_island GROUP BY 1 ORDER BY user_id""")),

    // SEASONAL INDEX by day-of-week: per (event_type, dow) the ratio of
    // the dow mean to the type's overall mean — the multiplicative
    // seasonal decomposition a monitoring consumer applies before
    // thresholding (q118's anomaly flag fires falsely on weekends
    // without it). Day-of-week is computed PORTABLY from epoch days
    // ((days + 4) mod 7, anchored to 1970-01-01 = Thursday) — engine
    // date functions disagree on week origin (Spark dayofweek is
    // 1=Sunday, DuckDB DOW is 0=Sunday), integer arithmetic does not.
    // Both aggregation levels are map-side-combined; the join joins a
    // ≤|types|×7 frame to a |types| frame — nothing data-sized
    // survives the first pass. The above_avg gate cross-multiplies
    // (s·nt > st·n ⟺ dow mean > overall mean) so no division feeds a
    // boolean.
    Q("q187_seasonal_index",
      (s, d) => {
        val base = t(s, d, "events").select(
          col("event_type"),
          expr("CAST((CAST(unix_timestamp(ts) AS BIGINT) DIV 86400 + 4) % 7 AS INT)")
            .as("dow"),
          col("value"))
        val dows = base.groupBy("event_type", "dow")
          .agg(count(lit(1)).as("n"), decSum(col("value")).as("s"))
        val tot = dows.groupBy("event_type")
          .agg(sum(col("n")).cast("long").as("nt"),
            decSum(col("s")).as("st"))
        dows.join(broadcast(tot), "event_type")
          .select(col("event_type"), col("dow"), col("n"),
            round(col("s") / col("n"), 6).as("dow_mean"),
            round((col("s") / col("n")) / (col("st") / col("nt")), 6)
              .as("seasonal_index"),
            (col("s") * col("nt") > col("st") * col("n")).as("above_avg"))
          .orderBy("event_type", "dow")
      },
      Some("""
        WITH base AS (
          SELECT event_type,
            CAST((CAST(FLOOR(EPOCH(ts) / 86400) AS BIGINT) + 4) % 7 AS INT)
              AS dow,
            value
          FROM events),
        dows AS (
          SELECT event_type, dow, COUNT(*) AS n,
            CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR)
              AS DOUBLE) AS s
          FROM base GROUP BY 1, 2),
        tot AS (
          SELECT event_type, CAST(SUM(n) AS BIGINT) AS nt,
            CAST(CAST(SUM(CAST(s AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
              AS st
          FROM dows GROUP BY 1)
        SELECT d.event_type, d.dow, d.n,
          ROUND(d.s / d.n, 6) AS dow_mean,
          ROUND((d.s / d.n) / (t.st / t.nt), 6) AS seasonal_index,
          (d.s * t.nt) > (t.st * d.n) AS above_avg
        FROM dows d JOIN tot t USING (event_type)
        ORDER BY event_type, dow""")),

    // TWAP — TIME-weighted average per (type, hour), the market-data
    // average q54's size-weighted window cannot express: each
    // observation holds from its timestamp until the next one of the
    // same type (capped at 1 h — a stale quote stops counting), and a
    // segment spanning an hour boundary contributes to BOTH hours
    // pro-rata. The boundary clipping is JOIN-FREE: the 1 h cap bounds
    // every segment to ≤ 2 hour buckets, so each segment explodes over
    // its own covered-hour sequence (never a spine join whose fanout
    // is |hours|). All durations are integer microseconds; the
    // value×duration products are EXACT decimals (value is 6 dp, the
    // factors are cast to decimal(16,6)×decimal(12,0) so no engine
    // hits the precision-overflow scale-reduction path), and one
    // rounded division ends the query. Windows partition on
    // event_type; the aggregation is map-side combined.
    Q("q199_twap",
      (s, d) => {
        val H = 3600000000L
        val ord = Window.partitionBy("event_type")
          .orderBy(col("ts"), col("event_id"))
        val seg = t(s, d, "events")
          .select(col("event_type"), col("event_id"), col("value"),
            col("ts"))
          .withColumn("t0", expr("unix_micros(ts)"))
          .withColumn("t1",
            least(coalesce(lead(col("t0"), 1).over(ord),
              col("t0") + H), col("t0") + H))
          .filter(col("t1") > col("t0"))
        seg
          .select(col("event_type"), col("value"), col("t0"), col("t1"),
            explode(expr(s"sequence(t0 div $H, (t1 - 1) div $H)")).as("h"))
          .select(col("event_type"), col("value"), col("h"),
            greatest(col("t0"), col("h") * H).as("c0"),
            least(col("t1"), (col("h") + 1) * H).as("c1"))
          .groupBy(col("event_type"), col("h").as("hour_id"))
          .agg(
            sum(col("c1") - col("c0")).cast("long").as("covered_us"),
            round(
              sum(col("value").cast("decimal(16,6)")
                * (col("c1") - col("c0")).cast("decimal(12,0)"))
                .cast("string").cast("double")
                / sum(col("c1") - col("c0")), 6).as("twap"))
          .orderBy("event_type", "hour_id")
      },
      Some("""
        WITH obs AS (
          SELECT event_type, event_id, value,
            EPOCH_US(CAST(ts AS TIMESTAMP)) AS t0,
            LEAD(EPOCH_US(CAST(ts AS TIMESTAMP))) OVER
              (PARTITION BY event_type ORDER BY ts, event_id) AS t1
          FROM events),
        seg AS (
          SELECT event_type, value, t0,
            LEAST(COALESCE(t1, t0 + 3600000000), t0 + 3600000000) AS t1
          FROM obs),
        hx AS (
          SELECT event_type, value, t0, t1,
            UNNEST(RANGE(t0 // 3600000000, (t1 - 1) // 3600000000 + 1)) AS h
          FROM seg WHERE t1 > t0),
        clipped AS (
          SELECT event_type, value, h,
            GREATEST(t0, h * 3600000000) AS c0,
            LEAST(t1, (h + 1) * 3600000000) AS c1
          FROM hx)
        SELECT event_type, CAST(h AS BIGINT) AS hour_id,
          CAST(SUM(c1 - c0) AS BIGINT) AS covered_us,
          ROUND(CAST(CAST(SUM(CAST(value AS DECIMAL(16,6))
            * CAST(c1 - c0 AS DECIMAL(12,0))) AS VARCHAR) AS DOUBLE)
            / SUM(c1 - c0), 6) AS twap
        FROM clipped
        GROUP BY 1, 2 ORDER BY 1, 2""")),

    // OHLC CANDLESTICK BARS — the canonical finance resample the
    // reference's DEX domain implies everywhere but never names: per
    // (instrument, hour), the first / max / min / last tick value plus
    // tick count. One hash aggregate, fully map-side combined: open and
    // close ride Spark's min_by/max_by with a (ts, event_id) STRUCT
    // ordering key, so first/last are total-ordered and deterministic
    // under any shuffle arrival (the partial aggregates keep the
    // arg-struct and merge exactly like min/max). No window, no sort,
    // no second pass — at 100 TB this is a single shuffle whose reduce
    // side is |instruments|×|hours| rows. All outputs are raw tick
    // doubles or counts (no accumulation), so the gate needs no decimal
    // discipline. Oracle mirrors first/last via ROW_NUMBER at both
    // ends, the engine-neutral spelling of arg-min/max with composite
    // tie-break.
    Q("q215_ohlc_bars",
      (s, d) => t(s, d, "events")
        .groupBy(col("event_type"),
          date_trunc("hour", col("ts")).as("bar_ts"))
        .agg(
          min_by(col("value"), struct(col("ts"), col("event_id")))
            .as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          max_by(col("value"), struct(col("ts"), col("event_id")))
            .as("close"),
          count(lit(1)).as("n_ticks"))
        .orderBy("event_type", "bar_ts"),
      Some("""
        WITH e AS (
          SELECT event_type, DATE_TRUNC('hour', ts) AS bar_ts, value,
            ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
              ORDER BY ts, event_id) AS rn_a,
            ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('hour', ts)
              ORDER BY ts DESC, event_id DESC) AS rn_z
          FROM events)
        SELECT event_type, bar_ts,
          MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
          MAX(value) AS high,
          MIN(value) AS low,
          MAX(CASE WHEN rn_z = 1 THEN value END) AS close,
          CAST(COUNT(*) AS BIGINT) AS n_ticks
        FROM e GROUP BY 1, 2 ORDER BY 1, 2""")),

    // CUSUM CHANGE-POINT DETECTION — the sequential drift detector q118's
    // rolling z-score cannot be: a rolling window forgets, CUSUM
    // accumulates. The recursion s_i = max(0, s_{i−1} + (x_i − μ)) looks
    // window-hostile, but it has a closed form: s_i = P_i − min_{j≤i} P_j
    // where P is the prefix sum of deviations — so the whole detector is
    // ONE prefix sum and ONE running min over the per-type HOURLY frame
    // (dictionary-sized after the q70-style resample; both windows
    // partition on event_type). Exactness: hourly sums are integer cents,
    // and μ = S/n is kept RATIONAL by scaling every prefix by n
    // (Q_i = n·ΣX_{≤i} − i·S), so flags fire on the integer comparison
    // 2·(Q_i − min Q) > n·S_mean-threshold — zero float anywhere until
    // the reported score's final mirrored division. At 10¹² rows the
    // scaled products pass 2⁶³, hence decimal(38,0) accumulation
    // (HUGEINT on the oracle side, native); the REPORTED scaled stat is
    // surfaced as bigint (≤1.1e17 at gate scale — the 100 TB surface
    // would keep it decimal).
    Q("q219_cusum",
      (s, d) => {
        val hourly = t(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("h"))
          .agg(sum(expr("cast(round(value * 100) as long)")).as("xc"))
        val w = Window.partitionBy("event_type").orderBy("h")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val byType = Window.partitionBy("event_type")
        val p = hourly
          .withColumn("i", row_number().over(
            Window.partitionBy("event_type").orderBy("h")))
          .withColumn("cum", sum(col("xc").cast("decimal(38,0)")).over(w))
          .withColumn("n", count(lit(1)).over(byType))
          .withColumn("s", sum(col("xc").cast("decimal(38,0)")).over(byType))
          // Q_i = n·cum_i − i·S: prefix deviation sum scaled by n
          .withColumn("q", col("n") * col("cum") - col("i") * col("s"))
          .withColumn("qmin", min(col("q")).over(w))
        p.select(col("event_type"), col("h"),
            (col("q") - col("qmin")).cast("long").as("cusum_scaled"),
            // alarm at h = μ/2 per accumulated unit: 2(Q−minQ) > |S|
            (((col("q") - col("qmin")) * 2) > abs(col("s"))).as("alarm"),
            round((col("q") - col("qmin")).cast("double")
              / (col("n").cast("double") * 100), 6).as("cusum_value"))
          .orderBy("event_type", "h")
      },
      Some("""
        WITH hourly AS (
          SELECT event_type, DATE_TRUNC('hour', ts) AS h,
            SUM(CAST(ROUND(value * 100) AS BIGINT)) AS xc
          FROM events GROUP BY 1, 2),
        p AS (
          SELECT event_type, h,
            ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS i,
            SUM(xc) OVER (PARTITION BY event_type ORDER BY h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
            COUNT(*) OVER (PARTITION BY event_type) AS n,
            SUM(xc) OVER (PARTITION BY event_type) AS s
          FROM hourly),
        q AS (
          SELECT event_type, h, n, s, n * cum - i * s AS qv FROM p),
        m AS (
          SELECT event_type, h, n, s, qv,
            MIN(qv) OVER (PARTITION BY event_type ORDER BY h
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS qmin
          FROM q)
        SELECT event_type, h,
          CAST(qv - qmin AS BIGINT) AS cusum_scaled,
          (qv - qmin) * 2 > ABS(s) AS alarm,
          ROUND(CAST(qv - qmin AS DOUBLE) / (CAST(n AS DOUBLE) * 100), 6)
            AS cusum_value
        FROM m ORDER BY event_type, h""")),

    // ROW-PATTERN MATCHING (MATCH_RECOGNIZE / CEP-lite) — SQL:2016's
    // missing-from-Spark operator family, lowered to the relational
    // devices the engine already owns: detect V-SHAPES (a strict-down
    // run immediately followed by a strict-up run, drop ≥ 100) in each
    // user's value sequence. The lowering is the general recipe for
    // DOWN+ UP+ patterns: (1) classify per-row direction with one
    // lag(); (2) gaps-and-islands the direction runs (the q226/q79
    // device); (3) reduce each run to its (dir, first, last) summary —
    // min_by/max_by on the (ts, event_id) struct, exact and
    // order-free; (4) match adjacent run pairs with ONE lead() over
    // the runs frame — rows shrink from events to runs before the
    // pattern join, so the match phase is dictionary-sized. Everything
    // partitions by user; no window ever sees the global frame, and a
    // streaming form would be the q229 buffering sorter feeding the
    // same run automaton. Drop/rise amounts decimal-accumulate.
    Q("q232_pattern_vshape",
      (s, d) => {
        graft.ops.Relational.vshapeMatches(
            t(s, d, "events"), "user_id", "ts", "event_id", "value", 100)
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
        WITH d AS (
          SELECT user_id, ts, event_id, value,
            LAG(value) OVER w AS prev,
            SIGN(value - LAG(value) OVER w) AS dir
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
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
            LEAD(v_last) OVER w2 AS next_last
          FROM agg WINDOW w2 AS (PARTITION BY user_id ORDER BY run_id)),
        matches AS (
          SELECT user_id,
            ROUND(CAST(v_first - v_last AS DECIMAL(28,6)), 6) AS drop,
            ROUND(CAST(next_last - v_last AS DECIMAL(28,6)), 6) AS rise
          FROM adj
          WHERE dir = -1 AND next_dir = 1 AND v_first - v_last >= 100)
        SELECT user_id, COUNT(*) AS n_v,
          ROUND(CAST(CAST(SUM(CAST(drop AS DECIMAL(28,6))) AS VARCHAR)
            AS DOUBLE), 6) AS total_drop,
          ROUND(CAST(CAST(SUM(CAST(rise AS DECIMAL(28,6))) AS VARCHAR)
            AS DOUBLE), 6) AS total_rise
        FROM matches GROUP BY user_id ORDER BY user_id""")),

    // BROWN'S DOUBLE-EXPONENTIAL SMOOTHING — the forecasting member of
    // the time-series family (q123 is the single-EWMA closed form; this
    // adds the TREND-aware recursion, which has no windowed closed form
    // and so exercises the per-key sequential-fold shape). The entire
    // recursion runs in INTEGER CENTS with floor halving (alpha = 1/2):
    // s_t = (x_t + s_{t-1}) // 2, s2_t = (s_t + s2_{t-1}) // 2 — every
    // intermediate is an exact BIGINT, so the two engines cannot drift
    // (a double recursion would accumulate rounding in engine-specific
    // order). The halving is SHIFTRIGHT on the Spark side: Spark's
    // `div` truncates toward zero while DuckDB's `//` floors, and the
    // two disagree exactly when a running sum goes negative — an
    // arithmetic right shift floors like `//` for every sign, so the
    // recursion is engine-exact without assuming nonnegative inputs
    // (round-13 advice: the old `div` silently leaned on event values
    // keeping every hourly cent sum >= 0). Level a = 2s - s2, trend
    // b = s - s2
    // (the alpha = 1/2 Brown identities), h-step forecast a + h*b.
    // Spark shape: hourly cent-sums (one map-side-combined agg), then
    // ONE fold per key via the `aggregate` higher-order function over
    // the sorted per-key series — the batch analog of
    // mapGroupsWithState, legitimate because a key's series is bounded
    // (<= hours in the retention window; at 100 TB keys scale out, the
    // per-key array does not). The oracle replays the identical
    // recursion as a DuckDB RECURSIVE CTE stepping row_number — two
    // independent sequential engines, bit-equal states.
    Q("q271_brown_smoothing",
      (s, d) => {
        val hourly = t(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("x"))
        hourly
          .groupBy("event_type")
          .agg(sort_array(collect_list(struct(col("hr"), col("x"))))
            .as("xs"))
          .select(col("event_type"),
            size(col("xs")).cast("long").as("n_hours"),
            expr("""
              aggregate(
                slice(xs, 2, size(xs) - 1),
                struct(xs[0].x AS s, xs[0].x AS s2),
                (acc, e) -> struct(
                  shiftright(e.x + acc.s, 1) AS s,
                  shiftright(shiftright(e.x + acc.s, 1) + acc.s2, 1) AS s2))
            """).as("st"))
          .select(col("event_type"), col("n_hours"),
            col("st.s").as("s"), col("st.s2").as("s2"),
            (col("st.s") * 2 - col("st.s2")).as("level_cents"),
            (col("st.s") - col("st.s2")).as("trend_cents"),
            (col("st.s") * 3 - col("st.s2") * 2).as("forecast1"),
            (col("st.s") * 5 - col("st.s2") * 4).as("forecast3"))
          .orderBy("event_type")
      },
      Some("""
        WITH RECURSIVE hourly AS (
          SELECT event_type, DATE_TRUNC('hour', ts) AS hr,
            CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        xr AS (
          SELECT event_type, x, ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY hr) AS rn
          FROM hourly),
        rec AS (
          SELECT event_type, rn, x AS s, x AS s2 FROM xr WHERE rn = 1
          UNION ALL
          SELECT x.event_type, x.rn,
            (x.x + r.s) // 2 AS s,
            (((x.x + r.s) // 2) + r.s2) // 2 AS s2
          FROM rec r JOIN xr x
            ON x.event_type = r.event_type AND x.rn = r.rn + 1),
        fin AS (
          SELECT r.event_type, r.rn, r.s, r.s2 FROM rec r
          JOIN (SELECT event_type, MAX(rn) AS m FROM rec GROUP BY 1) q
            ON r.event_type = q.event_type AND r.rn = q.m)
        SELECT event_type, CAST(rn AS BIGINT) AS n_hours, s, s2,
          s * 2 - s2 AS level_cents, s - s2 AS trend_cents,
          s * 3 - s2 * 2 AS forecast1, s * 5 - s2 * 4 AS forecast3
        FROM fin ORDER BY event_type""")),

    // THEIL–SEN ROBUST TREND — the estimator you reach for when q163's
    // per-group OLS is wrecked by outliers: slope = MEDIAN of all
    // pairwise slopes, 29% breakdown point, no residual assumptions.
    // Scale discipline: the pairwise frame is quadratic in the SERIES,
    // not the data — the hourly resample bounds each key at the
    // retention window's hour count regardless of corpus size, so the
    // self-join is (hours choose 2) per key forever. Exactness: x is
    // the integer hour index, y integer cents, each slope ONE IEEE
    // division, and the median an ORDER STATISTIC (lower median by
    // (slope, i, j) total order) — no interpolating percentile.
    Q("q284_theil_sen",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = t(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("y"))
          .withColumn("x", row_number().over(Window
            .partitionBy("event_type").orderBy("hr")).cast("long"))
          .select(col("event_type"), col("x"), col("y"))
        // pair generation parallelism: the row_number window above
        // leaves `hourly` in |event_type| partitions, so the O(hours²)
        // pair explosion would run on a handful of tasks. The series
        // side is BOUNDED by design (retention-window hours × types —
        // the doc-comment's scale contract), so broadcast it and
        // round-robin the probe side across the cluster: the quadratic
        // work fans out over all cores and the join needs no exchange
        // (guide §2.5 — skew from too few distinct partitioning keys).
        val a = hourly.repartition(col("event_type"), col("x"))
          .select(col("event_type"), col("x").as("xi"), col("y").as("yi"))
        val b = hourly.select(col("event_type"), col("x").as("xj"),
          col("y").as("yj"))
        val slopes = a.join(broadcast(b), Seq("event_type"))
          .filter(col("xi") < col("xj"))
          .select(col("event_type"), col("xi"), col("xj"),
            ((col("yj") - col("yi")).cast("double") /
              (col("xj") - col("xi")).cast("double")).as("slope"))
        val n = slopes.groupBy("event_type")
          .agg(count(lit(1)).as("m"))
        slopes
          .withColumn("rk", row_number().over(Window
            .partitionBy("event_type").orderBy("slope", "xi", "xj")))
          .join(n, Seq("event_type"))
          .filter(col("rk") === ((col("m") + 1) / 2).cast("int"))
          .select(col("event_type"), col("m"),
            col("slope").as("sen_slope_cents_per_hour"))
          .orderBy("event_type")
      },
      Some("""
        WITH hourly AS (
          SELECT event_type, DATE_TRUNC('hour', ts) AS hr,
            CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
          FROM events GROUP BY 1, 2),
        pts AS (
          SELECT event_type, y,
            CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
              AS BIGINT) AS x
          FROM hourly),
        slopes AS (
          SELECT a.event_type, a.x AS xi, b.x AS xj,
            CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE) AS slope
          FROM pts a JOIN pts b
            ON a.event_type = b.event_type AND a.x < b.x),
        n AS (SELECT event_type, COUNT(*) AS m FROM slopes GROUP BY 1),
        rk AS (
          SELECT event_type, slope, ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY slope, xi, xj) AS rk
          FROM slopes)
        SELECT rk.event_type, n.m,
          rk.slope AS sen_slope_cents_per_hour
        FROM rk JOIN n USING (event_type)
        WHERE rk.rk = CAST((n.m + 1) // 2 AS INT)
        ORDER BY rk.event_type""")),

    // MANN–KENDALL TREND TEST — the nonparametric companion: does the
    // series trend at all, asked without distributional assumptions?
    // S = sum of sign(y_j - y_i) over ordered pairs is PURE INTEGER
    // algebra on the same bounded pairwise frame as q284; the variance
    // carries the exact tie correction (grouped by tied value, all
    // integers), and the z-score's one sqrt is IEEE-correctly-rounded
    // in both engines (sqrt is exact-rounded by the standard — the one
    // transcendental-adjacent function that IS a cross-engine
    // contract). Continuity correction by sign of S, NULL z when S=0.
    Q("q285_mann_kendall",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = t(s, d, "events")
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hr"))
          .agg(sum(round(col("value") * 100, 0).cast("long")).as("y"))
          .withColumn("x", row_number().over(Window
            .partitionBy("event_type").orderBy("hr")).cast("long"))
          .select(col("event_type"), col("x"), col("y"))
        // same pair-explosion spread as q284: fan the bounded series
        // out of the window's |event_type| partitions and broadcast
        // the other side, so the O(hours²) sign sum uses every core
        val a = hourly.repartition(col("event_type"), col("x"))
          .select(col("event_type"), col("x").as("xi"), col("y").as("yi"))
        val b = hourly.select(col("event_type"), col("x").as("xj"),
          col("y").as("yj"))
        val sAgg = a.join(broadcast(b), Seq("event_type"))
          .filter(col("xi") < col("xj"))
          .groupBy("event_type")
          .agg(sum(signum((col("yj") - col("yi")).cast("double"))
            .cast("long")).as("s_stat"))
        val nF = hourly.groupBy("event_type").agg(count(lit(1)).as("n"))
        val ties = hourly.groupBy("event_type", "y")
          .agg(count(lit(1)).as("tcnt"))
          .filter(col("tcnt") > 1)
          .groupBy("event_type")
          .agg(sum(col("tcnt") * (col("tcnt") - 1) *
            (lit(2) * col("tcnt") + 5)).as("tie_term"))
        sAgg.join(nF, Seq("event_type"))
          .join(ties, Seq("event_type"), "left")
          .select(col("event_type"), col("s_stat"), col("n"),
            ((col("n") * (col("n") - 1) * (lit(2) * col("n") + 5) -
              coalesce(col("tie_term"), lit(0L))) / 18.0).as("var_s"))
          .withColumn("z",
            when(col("s_stat") > 0,
              (col("s_stat") - 1).cast("double") / sqrt(col("var_s")))
              .when(col("s_stat") < 0,
                (col("s_stat") + 1).cast("double") / sqrt(col("var_s")))
              .otherwise(lit(null).cast("double")))
          .orderBy("event_type")
      },
      Some("""
        WITH hourly AS (
          SELECT event_type, DATE_TRUNC('hour', ts) AS hr,
            CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
          FROM events GROUP BY 1, 2),
        pts AS (
          SELECT event_type, y,
            CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
              AS BIGINT) AS x
          FROM hourly),
        sagg AS (
          SELECT a.event_type,
            CAST(SUM(SIGN(b.y - a.y)) AS BIGINT) AS s_stat
          FROM pts a JOIN pts b
            ON a.event_type = b.event_type AND a.x < b.x
          GROUP BY 1),
        nf AS (SELECT event_type, COUNT(*) AS n FROM pts GROUP BY 1),
        ties AS (
          SELECT event_type,
            CAST(SUM(tcnt * (tcnt - 1) * (2 * tcnt + 5)) AS BIGINT)
              AS tie_term
          FROM (SELECT event_type, y, COUNT(*) AS tcnt FROM pts
                GROUP BY 1, 2 HAVING COUNT(*) > 1)
          GROUP BY 1)
        SELECT s.event_type, s.s_stat, n.n,
          (n.n * (n.n - 1) * (2 * n.n + 5)
            - COALESCE(t.tie_term, 0)) / 18.0 AS var_s,
          CASE WHEN s.s_stat > 0 THEN
              CAST(s.s_stat - 1 AS DOUBLE) / SQRT((n.n * (n.n - 1)
                * (2 * n.n + 5) - COALESCE(t.tie_term, 0)) / 18.0)
            WHEN s.s_stat < 0 THEN
              CAST(s.s_stat + 1 AS DOUBLE) / SQRT((n.n * (n.n - 1)
                * (2 * n.n + 5) - COALESCE(t.tie_term, 0)) / 18.0)
            ELSE NULL END AS z
        FROM sagg s JOIN nf n USING (event_type)
        LEFT JOIN ties t USING (event_type)
        ORDER BY s.event_type"""))
  )
}
