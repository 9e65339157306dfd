package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.pipelines.EventsPipeline
import graft.serving.{EmbeddedKVSink, EmbeddedKVStore}
import graft.sources.JsonSource
import graft.core.ScratchDirs

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  test("medallion DAG resolves bronze→silver→gold→serving") {
    val reg = EventsPipeline.build(spark, d)
    assert(reg.topoOrder.head === "cleaned_events")
    val gold = reg.resolve("agg_events_24h_rolling")
    assert(gold.count() > 0)
    // densified: every (hour, type) cell exists
    val hours = gold.select("timestamp").distinct().count()
    val types = gold.select("event_type").distinct().count()
    assert(gold.count() === hours * types)
    // rolling sum never below the 1h value
    val bad = gold.filter(col("event_count_24h") < col("event_count")).count()
    assert(bad === 0)
  }

  test("serving_events writes through the KV sink with unix timestamps") {
    EmbeddedKVStore.remove("kv_serving_events")
    val served = EventsPipeline.serve(spark, d,
      new EmbeddedKVSink("kv_serving_events"))
    assert(served.columns.contains("sortKey"))
    val store = EmbeddedKVStore("kv_serving_events")
    assert(store.itemCount("serving_events") === served.count())
    val r = served.head()
    val item = store.get("serving_events", r.getAs[String]("eventType"),
      Some(r.getAs[String]("sortKey"))).get
    // timestamps converted to unix seconds (long), camelCase applied
    assert(item("timestamp") === r.getAs[java.sql.Timestamp]("timestamp")
      .getTime / 1000)
    assert(item.contains("eventCount24h"))
  }

  test("JsonSource discovers hive-partitioned landing-zone columns") {
    val dir = ScratchDirs.create("jsonhive")
    val part = java.nio.file.Path.of(s"$dir/year=2024/month=01/day=05/hour=09")
    Files.createDirectories(part)
    Files.writeString(part.resolve("batch1.json"),
      """{"id":1,"v":1.5}
        |{"id":2,"v":2.5}""".stripMargin)
    val df = JsonSource.batch(spark, dir, "id bigint, v double")
    // partition columns come from the directory layout (transactions:77)
    assert(df.columns.toSet === Set("id", "v", "year", "month", "day", "hour"))
    val r = df.orderBy("id").collect()
    assert(r.map(_.getAs[Int]("hour")).toSeq === Seq(9, 9))
  }

  test("JsonSource round-trips a fixed-schema landing zone, batch and stream") {
    val dir = ScratchDirs.create("jsonsrc")
    Files.writeString(java.nio.file.Path.of(s"$dir/part1.json"),
      """{"id":1,"ts":"2024-01-01T10:00:00Z","v":1.5}
        |{"id":2,"ts":"2024-01-01T11:00:00Z","v":2.5}""".stripMargin)
    val ddl = "id bigint, ts timestamp, v double"
    val b = JsonSource.batch(spark, dir, ddl)
    assert(b.count() === 2)
    // streaming read over the same landing zone
    val st = JsonSource.stream(spark, dir, ddl, maxFilesPerTrigger = 1)
    assert(st.isStreaming)
    val q = st.writeStream.format("memory").queryName("jsonsrc_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT count(*) FROM jsonsrc_t").head().getLong(0) === 2)
    } finally q.stop()
  }

  // The reference's Amplitude ingest reads compressed landing zones via
  // a `*.json.gz` glob (zetadex-amplitude-events-pipeline.py:126–136):
  // nested export dirs, gzip codec resolved per file extension. Spark
  // handles the codec natively, but the glob+codec path must be
  // EXERCISED — a broken glob or a codec regression would otherwise
  // surface only in production.
  test("JsonSource ingests gzip-compressed nested landing zones, batch and stream") {
    import java.util.zip.GZIPOutputStream
    val dir = ScratchDirs.create("jsongz")
    def writeGz(rel: String, lines: String): Unit = {
      val p = java.nio.file.Path.of(s"$dir/$rel")
      Files.createDirectories(p.getParent)
      val out = new GZIPOutputStream(Files.newOutputStream(p))
      try out.write(lines.getBytes("UTF-8")) finally out.close()
    }
    // the Amplitude export layout: <project>/<yyyy-MM>/<export>.json.gz
    writeGz("186037/2024-01/export_1.json.gz",
      """{"id":1,"v":1.5}
        |{"id":2,"v":2.5}""".stripMargin)
    writeGz("186037/2024-02/export_2.json.gz", """{"id":3,"v":3.5}""")
    val glob = s"$dir/*/*/*.json.gz"
    val ddl = "id bigint, v double"
    val b = JsonSource.batch(spark, glob, ddl)
    assert(b.select("id").collect().map(_.getLong(0)).toSet === Set(1L, 2L, 3L))
    // streaming over the same glob: each gz file is one unsplittable
    // unit (the codec is not seekable), picked up per micro-batch
    val st = JsonSource.stream(spark, glob, ddl, maxFilesPerTrigger = 1)
    assert(st.isStreaming)
    val q = st.writeStream.format("memory").queryName("jsongz_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("SELECT sum(id) FROM jsongz_t").head().getLong(0) === 6L)
    } finally q.stop()
  }
}
