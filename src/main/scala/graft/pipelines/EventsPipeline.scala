package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Mode, Registry, TableDef}
import graft.ops.Relational

/** Reference-shaped medallion pipeline over the events feed, assembled on
  * the [[graft.graph.Registry]] DAG — the engine's equivalent of a DLT
  * notebook (bronze → silver → gold → serving, SURVEY.md §0).
  *
  * Structure mirrors the transactions pipeline: bronze ingest
  * (raw_events), silver cleaning + dedup + derived partitions
  * (cleaned_events), gold hourly aggregates (agg_events_1h) and a
  * densified 24h rolling table (agg_events_24h_rolling,
  * transactions:821–855), and a serving projection (serving_events).
  * Every node is a pure `Seq[DataFrame] => DataFrame`, so the same
  * transforms run batch, each table materialized by the runner, and
  * incrementally under streaming sources.
  */
object EventsPipeline {

  def build(spark: SparkSession, sfDir: String): Registry = {
    val reg = new Registry(spark)

    reg.source("raw_events", () => graft.tables.Tables.load(spark, sfDir, "events"))

    reg.register(TableDef("cleaned_events", Seq("raw_events"), { case Seq(raw) =>
      val filtered = raw.filter(col("event_type").isNotNull && col("ts").isNotNull)
      // same dedup semantics in both modes: ids are unique per event;
      // streaming bounds its state with a watermark (zetaflex:86–88),
      // batch picks the deterministic min-id survivor
      val deduped =
        if (raw.isStreaming)
          graft.streaming.StreamingOps.streamDedup("ts", "1 hour",
            Seq("event_id"))(filtered)
        else Relational.dedupeExact(Seq("event_id"), col("event_id"))(filtered)
      deduped
        .withColumn("date_", to_date(col("ts")))
        .withColumn("hour_", date_format(col("ts"), "HH"))
    }, mode = Mode.Incremental))

    // gold aggregates are batch-recomputed from the materialized silver:
    // parquet boundaries are append-only, so update-mode streaming aggs
    // (proven equivalent in StreamingSpec via the memory sink) cannot
    // upsert into them — the same engine limit the reference works
    // around by forcing window golds to dlt.read (orderbook:571–574)
    reg.register(TableDef("agg_events_1h", Seq("cleaned_events"), { case Seq(ce) =>
      ce.groupBy(date_trunc("hour", col("ts")).as("timestamp"), col("event_type"))
        .agg(count(lit(1)).as("event_count"),
          graft.queries.QH.decSum(col("value")).as("volume"))
    }, mode = Mode.Full))

    // gold window table: forced batch, like the reference's window-function
    // gold tables (orderbook:571–574)
    reg.register(TableDef("agg_events_24h_rolling", Seq("agg_events_1h"), {
      case Seq(h) =>
        val spine = Relational.timeSpine(h, col("timestamp"), alias = "timestamp")
        val dims = h.select("event_type").distinct()
        val dense = Relational.densify(spine, dims, h,
          Seq("timestamp", "event_type"),
          Map("event_count" -> 0L, "volume" -> 0.0))
        val w = Relational.trailingWindow(Seq("event_type"), col("timestamp"), 86400L)
        dense
          .withColumn("event_count_24h", sum(col("event_count")).over(w))
          .withColumn("volume_24h",
            sum(col("volume").cast(graft.queries.QH.DEC)).over(w).cast("double"))
    }, mode = Mode.Full))

    reg.register(TableDef("serving_events", Seq("agg_events_24h_rolling"), {
      case Seq(roll) =>
        Relational.camelCaseAll(roll
          .withColumn("sort_key", Relational.kvSortKey(
            unix_timestamp(col("timestamp")).cast("string"), col("event_type"))))
    }, mode = Mode.Full))

    reg
  }

  /** Run the full DAG and serve the leaf table through a KV sink. */
  def serve(spark: SparkSession, sfDir: String,
            sink: graft.serving.EmbeddedKVSink): DataFrame = {
    val reg = build(spark, sfDir)
    val out = reg.resolve("serving_events")
    sink.write(graft.serving.ServingJobs.servingProjection(out),
      "serving_events",
      hashKey = "eventType", rangeKey = Some("sortKey"))
    out
  }
}
