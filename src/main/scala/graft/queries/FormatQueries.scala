package graft.queries

import org.apache.spark.sql.functions._
import QH._

/** Round-13 ingest-format family: the landing-zone formats a real lake
  * receives beyond q74's JSON — CSV with malformed-row quarantine (the
  * PERMISSIVE + corrupt-record-column contract), Spark 4's native XML
  * source, and ORC as the second columnar format. Each query stages
  * REAL files of the format from table columns, reads them back through
  * the production read path (declared schema, never inferred at scale),
  * and gates the round trip against an oracle on the original parquet.
  */
object FormatQueries {

  val qs: Seq[Q] = Seq(
    // CSV LANDING ZONE WITH QUARANTINE — the oldest ETL contract there
    // is: upstream drops CSV, a fixed residue of rows arrives malformed
    // (a double field reading "12.3.4"), and the job must NEITHER fail
    // the batch NOR silently null the damage. PERMISSIVE mode with
    // columnNameOfCorruptRecord gives three-way row classification in
    // ONE pass: clean rows aggregate, malformed rows keep their RAW
    // LINE in the corrupt column for the quarantine table (the
    // QualityPipeline split at the source layer). The staged lines are
    // built explicitly (not via the CSV writer) so the malformation is
    // byte-precise; doubles round-trip via Spark's shortest-roundtrip
    // formatting, which the decimal-sum hash compare proves.
    Q("q248_csv_quarantine",
      (s, d) => {
        val out = graft.core.ScratchDirs.create("q248_")
        t(s, d, "events")
          .select(concat_ws(",",
            col("event_id"), col("event_type"),
            when(col("event_id") % 23 === 0, lit("12.3.4"))
              .otherwise(col("value").cast("string"))).as("value"))
          .write.mode("overwrite").text(out)
        val ingested = s.read
          .schema("event_id bigint, event_type string, value double, " +
            "_corrupt_record string")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .csv(out)
        ingested.groupBy("event_type").agg(
          sum(col("_corrupt_record").isNull.cast("long")).as("n_clean"),
          sum(col("_corrupt_record").isNotNull.cast("long"))
            .as("n_quarantined"),
          decSum(when(col("_corrupt_record").isNull, col("value"))
            .otherwise(lit(null))).as("total_value"))
          .orderBy("event_type")
      },
      Some("""
        SELECT event_type,
          CAST(SUM(CASE WHEN event_id % 23 <> 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clean,
          CAST(SUM(CASE WHEN event_id % 23 = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_quarantined,
          CAST(CAST(SUM(CASE WHEN event_id % 23 <> 0
            THEN CAST(value AS DECIMAL(28,6)) END) AS VARCHAR) AS DOUBLE)
            AS total_value
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // XML INGEST — Spark 4's NATIVE XML source (spark-xml folded into
    // spark-sql; feeds, sitemaps, and legacy B2B drops still arrive as
    // XML): documents staged as real <doc> row-tag XML, read back with
    // a DECLARED schema (inference at 100 TB means a sampling pass) and
    // aggregated per lang. String content survives XML escaping — the
    // source column carries arbitrary text, so the round trip exercises
    // entity encode/decode, pinned by the length sum.
    Q("q249_xml_ingest",
      (s, d) => {
        val out = graft.core.ScratchDirs.create("q249_")
        t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"), col("lang"),
            col("source"), col("n_chars").cast("long").as("n_chars"))
          .write.mode("overwrite").format("xml")
          .option("rowTag", "doc").save(out)
        s.read.format("xml")
          .schema("doc_id bigint, lang string, source string, n_chars bigint")
          .option("rowTag", "doc").load(out)
          .groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum(col("n_chars")).as("total_chars"),
            sum(length(col("source"))).as("source_len"))
          .orderBy("lang")
      },
      Some("""
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(n_chars) AS BIGINT) AS total_chars,
          CAST(SUM(LENGTH(source)) AS BIGINT) AS source_len
        FROM documents GROUP BY lang ORDER BY lang""")),

    // ORC ROUND TRIP — the second columnar format (native in Spark, the
    // Hive-lineage sibling of parquet): lineitem staged as zstd ORC
    // with per-column bloom filters (the write options a 100 TB table
    // would carry), read back and aggregated. Format parity is the
    // point: the SAME aggregate over the ORC copy must hash-match the
    // oracle running on the parquet original — columnar formats are an
    // encoding detail, never a semantics change.
    Q("q250_orc_roundtrip",
      (s, d) => {
        val out = graft.core.ScratchDirs.create("q250_")
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_returnflag"),
            col("l_quantity"), col("l_extendedprice"))
          .write.mode("overwrite")
          .option("compression", "zstd")
          .option("orc.bloom.filter.columns", "l_orderkey")
          .orc(out)
        s.read.orc(out)
          .filter(col("l_quantity") > 25)
          .groupBy("l_returnflag").agg(
            count(lit(1)).as("n"),
            decSum(col("l_extendedprice")).as("revenue"))
          .orderBy("l_returnflag")
      },
      Some("""
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS VARCHAR)
            AS DOUBLE) AS revenue
        FROM lineitem WHERE l_quantity > 25
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // SCHEMA-EVOLUTION LANDING ZONE — the mixed-vintage directory every
    // long-lived ingest accumulates: an upstream adds a column mid-year,
    // so one table's files carry TWO schemas. Batch A (events up to the
    // date cut) lands WITHOUT `quality_score`; batch B (after the cut)
    // lands WITH it. One mergeSchema read resolves the union schema,
    // old files surface the missing column as NULL, and the aggregate
    // must account for exactly the B-vintage rows — NULL-vs-0 telling
    // "absent by vintage" from "scored zero". (The manifest store
    // handles this at the table-format layer — unionSchema in the
    // commit log; this query gates the RAW-directory form a landing
    // zone hits before any table format exists.)
    Q("q252_schema_evolution",
      (s, d) => {
        val out = graft.core.ScratchDirs.create("q252_")
        val ev = t(s, d, "events")
          .select(col("event_id"), col("event_type"), col("value"),
            to_date(col("ts")).as("d_"))
        val cut = "1995-06-15"
        ev.filter(col("d_") <= lit(cut))
          .select("event_id", "event_type", "value")
          .write.mode("overwrite").parquet(s"$out/vintage=a")
        ev.filter(col("d_") > lit(cut))
          .withColumn("quality_score",
            (col("event_id") % 100).cast("double") / 100.0)
          .select("event_id", "event_type", "value", "quality_score")
          .write.mode("overwrite").parquet(s"$out/vintage=b")
        s.read.option("mergeSchema", "true")
          .option("basePath", out).parquet(out)
          .groupBy("event_type").agg(
            count(lit(1)).as("n"),
            sum(col("quality_score").isNull.cast("long")).as("n_unscored"),
            decSum(col("quality_score")).as("total_score"),
            decSum(col("value")).as("total_value"))
          .orderBy("event_type")
      },
      Some("""
        WITH e AS (
          SELECT event_id, event_type, value,
            CASE WHEN CAST(CAST(ts AS TIMESTAMP) AS DATE) > DATE '1995-06-15'
              THEN CAST(event_id % 100 AS DOUBLE) / 100.0 END
              AS quality_score
          FROM events)
        SELECT event_type, COUNT(*) AS n,
          CAST(SUM(CASE WHEN quality_score IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_unscored,
          CAST(CAST(SUM(CAST(quality_score AS DECIMAL(28,6))) AS VARCHAR)
            AS DOUBLE) AS total_score,
          CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)
            AS total_value
        FROM e GROUP BY event_type ORDER BY event_type""")),

    // CUSTOM DataSourceV2 CONNECTOR (graft.sources.TicksProvider) under
    // the hard gate: the tick_id range predicate must reach the
    // connector (SupportsPushDownFilters narrows the GENERATED id range
    // — rows outside it are never materialized, the source-side analog
    // of row-group pruning; TicksSourceSpec pins the pushdown and the
    // pruned read schema in the plan), while the symbol predicate is
    // DECLINED by the connector and correctly re-applied by Spark — the
    // split that makes pushdown safe. The oracle replays the
    // connector's integer generator formula over GENERATE_SERIES: a
    // wrong pushdown bound or a row materialized twice breaks the hash.
    Q("q288_dsv2_ticks",
      (s, d) =>
        s.read.format("graft.sources.TicksProvider")
          .option("rows", 200000L).option("parts", 8)
          .load()
          .filter(col("tick_id") >= 50000L && col("tick_id") < 150000L &&
            col("symbol") =!= "S3")
          .groupBy("symbol")
          .agg(count(lit(1)).as("n"),
            sum(col("px_cents") * col("qty")).as("notional_cents"),
            min(col("ts_sec")).as("first_ts"),
            max(col("ts_sec")).as("last_ts"))
          .orderBy("symbol"),
      Some("""
        WITH ticks AS (
          SELECT i AS tick_id, 'S' || (i % 8) AS symbol,
            1700000000 + i AS ts_sec,
            10000 + (i * 37) % 2000 - 1000 AS px_cents,
            1 + (i * 7) % 100 AS qty
          FROM (SELECT UNNEST(GENERATE_SERIES(0, 199999)) AS i))
        SELECT symbol, COUNT(*) AS n,
          CAST(SUM(px_cents * qty) AS BIGINT) AS notional_cents,
          CAST(MIN(ts_sec) AS BIGINT) AS first_ts,
          CAST(MAX(ts_sec) AS BIGINT) AS last_ts
        FROM ticks
        WHERE tick_id >= 50000 AND tick_id < 150000 AND symbol <> 'S3'
        GROUP BY symbol ORDER BY symbol""")),

    // RUNTIME FILTERING THROUGH THE V2 CONNECTOR — q267's dynamic
    // pruning, but with the FACT side behind the custom DataSourceV2
    // scan instead of a hive layout: the dim's selective filter is only
    // known at run time, Catalyst injects a DynamicPruningExpression on
    // the join key, and BatchScanExec hands the materialized dim keys
    // to the scan's SupportsRuntimeFiltering — which re-plans its input
    // partitions to cover ONLY the matching tick-id runs (the generator
    // analog of pruning partitions; at 100 TB this is the difference
    // between scanning the feed and scanning ~5 rows). PlanSpec pins
    // `dynamicpruning` inside the BatchScan's runtime filters;
    // TicksSourceSpec pins the run-coalescing re-plan itself. The dim
    // keys land in the tick-id space via an affine map so the oracle
    // replays the generator closed-form per dim row.
    Q("q297_dsv2_runtime_filter",
      (s, d) => {
        val fact = s.read.format("graft.sources.TicksProvider")
          .option("rows", 200000L).option("parts", 8)
          .load()
        val dim = t(s, d, "nation")
          .filter(col("n_regionkey") === 2)
          .select((col("n_nationkey").cast("long") * 7919L + 1234L)
            .as("tick_id"), col("n_name"))
        fact.join(broadcast(dim), "tick_id")
          .select(col("tick_id"), col("n_name"), col("symbol"),
            col("px_cents"), col("qty"),
            (col("px_cents") * col("qty")).as("notional_cents"))
          .orderBy("tick_id")
      },
      Some("""
        WITH dim AS (
          SELECT CAST(n_nationkey AS BIGINT) * 7919 + 1234 AS tick_id,
            n_name
          FROM nation WHERE n_regionkey = 2)
        SELECT tick_id, n_name, 'S' || (tick_id % 8) AS symbol,
          CAST(10000 + (tick_id * 37) % 2000 - 1000 AS BIGINT) AS px_cents,
          CAST(1 + (tick_id * 7) % 100 AS BIGINT) AS qty,
          CAST((10000 + (tick_id * 37) % 2000 - 1000) *
            (1 + (tick_id * 7) % 100) AS BIGINT) AS notional_cents
        FROM dim ORDER BY tick_id""")),

    // AGGREGATE PUSHDOWN INTO THE V2 CONNECTOR — the connector analog
    // of Spark answering COUNT/MIN/MAX from parquet footer statistics
    // (spark.sql.parquet.aggregatePushdown): tick_id and ts_sec are
    // affine in the generation variable, so over the filter-narrowed
    // range every one of these aggregates is an O(1) closed form of the
    // bounds — the scan emits ONE row and never generates a tick. At
    // 100 TB this is the difference between a metadata lookup and a
    // full-feed scan for the monitoring queries every pipeline runs
    // ("how many rows landed, what's the watermark"). PlanSpec pins
    // AGGPUSHED in the scan and the ABSENCE of any aggregate operator;
    // the 5M-row cap makes an unpushed plan visibly expensive, not just
    // wrong-shaped. The oracle recomputes over GENERATE_SERIES.
    Q("q299_dsv2_agg_pushdown",
      (s, d) =>
        s.read.format("graft.sources.TicksProvider")
          .option("rows", 5000000L).option("parts", 8)
          .load()
          .filter(col("tick_id") >= 1000000L && col("tick_id") < 4500000L)
          .agg(count(lit(1)).as("n"),
            min(col("tick_id")).as("min_id"),
            max(col("tick_id")).as("max_id"),
            min(col("ts_sec")).as("first_ts"),
            max(col("ts_sec")).as("last_ts")),
      Some("""
        WITH t AS (
          SELECT UNNEST(GENERATE_SERIES(1000000, 4499999)) AS i)
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          CAST(MIN(i) AS BIGINT) AS min_id,
          CAST(MAX(i) AS BIGINT) AS max_id,
          CAST(MIN(1700000000 + i) AS BIGINT) AS first_ts,
          CAST(MAX(1700000000 + i) AS BIGINT) AS last_ts
        FROM t""")),

    // PARTIAL (GROUPED) AGGREGATE PUSHDOWN — the other half of the V2
    // contract that q299 leaves untested: with GROUP BY symbol the
    // connector cannot answer completely (each partition only sees its
    // id slice), so supportCompletePushDown = false and every partition
    // returns per-group PARTIAL rows computed in closed form (symbol is
    // tick_id % 8 — count/min/max per residue class over a contiguous
    // range are integer formulas). Spark keeps a FINAL aggregate that
    // SUMs the pushed counts and re-min/maxes the endpoints — the exact
    // plan a columnar source produces from per-row-group footer stats.
    // PlanSpec pins the GROUPED PARTIAL scan description, the surviving
    // final aggregate, and the executed scan's output rows (≤ 8 per
    // partition vs 3.5M ticks). The oracle recomputes over
    // GENERATE_SERIES.
    Q("q301_dsv2_grouped_agg_pushdown",
      (s, d) =>
        s.read.format("graft.sources.TicksProvider")
          .option("rows", 5000000L).option("parts", 8)
          .load()
          .filter(col("tick_id") >= 1000000L && col("tick_id") < 4500000L)
          .groupBy("symbol")
          .agg(count(lit(1)).as("n"),
            min(col("tick_id")).as("min_id"),
            max(col("tick_id")).as("max_id"),
            min(col("ts_sec")).as("first_ts"),
            max(col("ts_sec")).as("last_ts"))
          .orderBy("symbol"),
      Some("""
        WITH t AS (
          SELECT UNNEST(GENERATE_SERIES(1000000, 4499999)) AS i)
        SELECT 'S' || (i % 8) AS symbol,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(MIN(i) AS BIGINT) AS min_id,
          CAST(MAX(i) AS BIGINT) AS max_id,
          CAST(MIN(1700000000 + i) AS BIGINT) AS first_ts,
          CAST(MAX(1700000000 + i) AS BIGINT) AS last_ts
        FROM t GROUP BY 1 ORDER BY symbol""")),

    // TOP-N PUSHDOWN INTO THE V2 CONNECTOR — ORDER BY tick_id LIMIT n
    // is a RANGE TRUNCATION for this source (generation order IS
    // tick_id order), so the sort+limit collapses into the scan: the
    // connector emits exactly the first n ids of the filtered range and
    // Spark drops its own TakeOrdered machinery (PlanSpec pins the
    // truncated range and limit marker in the scan description). The
    // declension rules matter as much as the acceptance: any other sort
    // column or direction is refused, because a wrong "fully pushed"
    // claim is silent row corruption, not a slow plan.
    Q("q300_dsv2_topn_pushdown",
      (s, d) =>
        s.read.format("graft.sources.TicksProvider")
          .option("rows", 5000000L).option("parts", 8)
          .load()
          .filter(col("tick_id") >= 2000000L)
          .orderBy("tick_id")
          .limit(50),
      Some("""
        WITH t AS (
          SELECT UNNEST(GENERATE_SERIES(2000000, 2000049)) AS i)
        SELECT i AS tick_id, 'S' || (i % 8) AS symbol,
          CAST(1700000000 + i AS BIGINT) AS ts_sec,
          CAST(10000 + (i * 37) % 2000 - 1000 AS BIGINT) AS px_cents,
          CAST(1 + (i * 7) % 100 AS BIGINT) AS qty
        FROM t ORDER BY tick_id""")),

    // OFFSET PUSHDOWN — the front-truncation dual of q300's top-N
    // pushdown, completing the limit/offset declension matrix on the V2
    // connector: ORDER BY tick_id LIMIT 50 OFFSET 100 collapses
    // entirely into the scan. Spark's pushdown rule fixes the
    // composition order (TopN with n + m rows first, then OFFSET m), so
    // the scan's final range is [filter_lo + 100, filter_lo + 150) and
    // the executed plan keeps no sort, limit, or offset operator —
    // pagination answered by range arithmetic, the page-k query a
    // 100 TB feed cannot afford to answer by scanning pages 1..k-1.
    // PlanSpec pins the offset marker and truncated range in the scan
    // description. The oracle replays the page window over
    // GENERATE_SERIES.
    Q("q303_dsv2_offset_pushdown",
      (s, d) =>
        s.read.format("graft.sources.TicksProvider")
          .option("rows", 5000000L).option("parts", 8)
          .load()
          .filter(col("tick_id") >= 2000000L)
          .orderBy("tick_id")
          .offset(100)
          .limit(50),
      Some("""
        WITH t AS (
          SELECT UNNEST(GENERATE_SERIES(2000100, 2000149)) AS i)
        SELECT i AS tick_id, 'S' || (i % 8) AS symbol,
          CAST(1700000000 + i AS BIGINT) AS ts_sec,
          CAST(10000 + (i * 37) % 2000 - 1000 AS BIGINT) AS px_cents,
          CAST(1 + (i * 7) % 100 AS BIGINT) AS qty
        FROM t ORDER BY tick_id"""))
  )
}
