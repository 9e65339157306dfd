package graft

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.{ManifestStore, Mode, Registry, Runner, TableDef, WriteMode}
import graft.pipelines.EventsPipeline

/** Streaming-vs-batch equivalence of the whole medallion DAG: the same
  * transforms produce identical gold tables whether the bronze source is
  * a batch scan or a micro-batched file stream. */
class RunnerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  test("streaming run (AvailableNow) equals batch run for the events DAG") {
    val reg = EventsPipeline.build(spark, d)
    val batchDir = Files.createTempDirectory("runner_batch").toString
    val streamDir = Files.createTempDirectory("runner_stream").toString

    val batchOut = Runner.runBatch(reg, batchDir)

    // stream the same parquet through a file-stream source;
    // the source needs a directory, so glob down to the one table
    val streamOut = Runner.runStreamingThenFull(spark, reg,
      Map("raw_events" -> (() =>
        graft.tables.Tables.normalize("events",
          spark.readStream.schema(
            spark.read.parquet(s"$d/events.parquet").schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(d)))),
      streamDir)

    for (tbl <- Seq("agg_events_24h_rolling", "serving_events")) {
      val b = spark.read.parquet(batchOut(tbl))
      val s = spark.read.parquet(streamOut(tbl))
      assert(b.count() === s.count(), tbl)
      assert(b.exceptAll(s).count() === 0, s"$tbl batch minus stream")
      assert(s.exceptAll(b).count() === 0, s"$tbl stream minus batch")
    }
  }

  // An Incremental boundary fed only by static sources (the
  // transactions DAG's agg_compressed_nft_burn_events_hourly) has no
  // stream to start; the streaming runner materializes it batch-style
  // next to the streamed boundaries, and its Full consumer reads it.
  test("runStreamingThenFull materializes a static-only Incremental boundary") {
    val sp = spark
    import sp.implicits._
    val in = Files.createTempDirectory("runner_static_in").toString
    val out = Files.createTempDirectory("runner_static_out").toString
    Seq((1L, 10L), (2L, 20L)).toDF("k", "v").write.mode("overwrite").parquet(in)
    val r = new Registry(sp)
    r.source("feed", () => sp.read.parquet(in))
    r.source("dim", () => Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "name"))
    r.register(TableDef("streamed", Seq("feed"), { case Seq(f) => f },
      mode = Mode.Incremental))
    r.register(TableDef("static_agg", Seq("dim"), { case Seq(dm) =>
      dm.agg(count(lit(1)).as("n"))
    }, mode = Mode.Incremental))
    r.register(TableDef("summary", Seq("static_agg"), { case Seq(a) =>
      a.select((col("n") * 10).as("n10"))
    }, mode = Mode.Full))
    val schema = sp.read.parquet(in).schema
    val paths = Runner.runStreamingThenFull(sp, r,
      Map("feed" -> (() => sp.readStream.schema(schema).parquet(in))), out)
    assert(sp.read.parquet(paths("streamed")).count() === 2L)
    assert(sp.read.parquet(paths("static_agg")).head().getLong(0) === 3L)
    assert(sp.read.parquet(paths("summary")).head().getLong(0) === 30L)
  }

  // K3 (zetadex-mm-uptime-pipeline-v3.sql:151–157): the hourly
  // `mode("append").saveAsTable` cadence, as idempotent dynamic partition
  // overwrite — a retried run must NOT double rows.
  test("WriteMode.Append: re-running the same batch does not double rows") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("runner_append").toString
    def reg(hours: Seq[(String, Long)]): Registry = {
      val r = new Registry(sp)
      r.source("uptime_feed", () => hours.toDF("hour_", "seconds_up"))
      r.register(TableDef("cleaned_mm_uptime", Seq("uptime_feed"),
        { case Seq(u) => u }, mode = Mode.Full,
        partitionCols = Seq("hour_"), writeMode = WriteMode.Append))
      r
    }
    Runner.runBatch(reg(Seq("h00" -> 10L, "h01" -> 20L)), out)
    // the retried hourly batch: h01 recomputed (new value) + new hour h02
    Runner.runBatch(reg(Seq("h01" -> 25L, "h02" -> 30L)), out)
    // and an exact re-run of that same batch (the idempotence claim)
    Runner.runBatch(reg(Seq("h01" -> 25L, "h02" -> 30L)), out)
    val got = sp.read.parquet(s"$out/cleaned_mm_uptime")
      .select("hour_", "seconds_up").as[(String, Long)].collect().toSet
    assert(got === Set("h00" -> 10L, "h01" -> 25L, "h02" -> 30L),
      "untouched partitions survive, recomputed ones replace, no doubles")
  }

  test("WriteMode.Upsert: batch runs merge into the existing table by key") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("runner_upsert").toString
    def reg(rows: Seq[(Long, Long, String)]): Registry = {
      val r = new Registry(sp)
      r.source("cdc_feed", () => rows.toDF("k", "seq", "v"))
      r.register(TableDef("latest", Seq("cdc_feed"),
        { case Seq(c) => c }, mode = Mode.Full,
        writeMode = WriteMode.Upsert(Seq("k"), "seq")))
      r
    }
    Runner.runBatch(reg(Seq((1L, 1L, "a"), (2L, 1L, "b"))), out)
    // newer seq wins, older loses, new key inserts; replay is idempotent
    Runner.runBatch(reg(Seq((1L, 5L, "A"), (2L, 0L, "stale"), (3L, 1L, "c"))), out)
    Runner.runBatch(reg(Seq((1L, 5L, "A"), (2L, 0L, "stale"), (3L, 1L, "c"))), out)
    val got = sp.read.parquet(s"$out/latest")
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(got === Set(1L -> "A", 2L -> "b", 3L -> "c"))
  }

  // The 100 TB shape: a partitioned upsert must not rewrite partitions
  // the batch doesn't touch — pinned PHYSICALLY (same parquet files, not
  // just same rows).
  test("WriteMode.Upsert with partitionCols leaves untouched partitions' files intact") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("runner_upsert_pruned").toString
    // bucket is a stable function of the key — the precondition for
    // partition-pruned merging
    def reg(rows: Seq[(Long, Long, String)]): Registry = {
      val r = new Registry(sp)
      r.source("cdc_feed", () => rows.toDF("k", "seq", "v")
        .withColumn("bucket", pmod(col("k"), lit(2)).cast("int")))
      r.register(TableDef("latest", Seq("cdc_feed"), { case Seq(c) => c },
        mode = Mode.Full, partitionCols = Seq("bucket"),
        writeMode = WriteMode.Upsert(Seq("k"), "seq")))
      r
    }
    // manifest layout (round 11): the table's files live under committed
    // generation dirs; "untouched" is now provable from the manifest
    // itself (the entry still points into the OLD generation) AND from
    // the physical file listing of that directory
    def fsOf = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(sp.sessionState.newHadoopConf())
    def entryOf(bucket: Int): String =
      ManifestStore.readManifest(fsOf, s"$out/latest").get
        .entries(s"bucket=$bucket")
    def filesOf(entry: String): Set[String] =
      fsOf.listStatus(new org.apache.hadoop.fs.Path(s"$out/latest/$entry"))
        .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
    Runner.runBatch(reg(Seq((1L, 1L, "a"), (2L, 1L, "b"), (4L, 1L, "d"))), out)
    val evenEntryBefore = entryOf(0)
    val evenFilesBefore = filesOf(evenEntryBefore)
    // second batch touches only odd keys → only bucket=1 rewrites
    Runner.runBatch(reg(Seq((1L, 5L, "A"), (3L, 1L, "c"))), out)
    assert(entryOf(0) === evenEntryBefore,
      "bucket=0 was not in the batch — it must carry forward by reference")
    assert(filesOf(evenEntryBefore) === evenFilesBefore,
      "bucket=0's physical files must be untouched")
    assert(entryOf(1) !== evenEntryBefore.replace("bucket=0", "bucket=1"))
    val got = ManifestStore.read(sp, s"$out/latest")
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(got === Set(1L -> "A", 2L -> "b", 3L -> "c", 4L -> "d"))
  }

  // A consumer of a stateful (Upsert/Append) table must read the
  // ACCUMULATED on-disk table, not re-derive the plan from this run's
  // sources — otherwise the second run's summary would only see the
  // second run's keys.
  test("downstream of an Upsert table reads merged history, not the run's plan") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("runner_upsert_dag").toString
    def reg(rows: Seq[(Long, Long, String)]): Registry = {
      val r = new Registry(sp)
      r.source("cdc_feed", () => rows.toDF("k", "seq", "v"))
      r.register(TableDef("latest", Seq("cdc_feed"), { case Seq(c) => c },
        mode = Mode.Full, writeMode = WriteMode.Upsert(Seq("k"), "seq")))
      r.register(TableDef("summary", Seq("latest"), { case Seq(l) =>
        l.agg(count(lit(1)).as("n_keys"))
      }, mode = Mode.Full))
      r
    }
    Runner.runBatch(reg(Seq((1L, 1L, "a"), (2L, 1L, "b"))), out)
    Runner.runBatch(reg(Seq((3L, 1L, "c"))), out)
    val n = sp.read.parquet(s"$out/summary").head().getLong(0)
    assert(n === 3L, "summary must count keys {1,2,3}, not just run 2's {3}")
  }

  // Crash window of the generation swap: target deleted, backup intact.
  // The next merge must restore the backup and converge, not treat the
  // table as empty.
  test("upsertParquet recovers the backup generation after a crashed swap") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("runner_upsert_crash").toString
    val path = s"$out/latest"
    Runner.upsertParquet(path, Seq("k"), "seq")(
      Seq((1L, 1L, "a"), (2L, 1L, "b")).toDF("k", "seq", "v"))
    // simulate the crash point between the two renames: the old
    // generation sits at .old, the target is gone
    Files.move(java.nio.file.Path.of(path), java.nio.file.Path.of(path + ".old"))
    Runner.upsertParquet(path, Seq("k"), "seq")(
      Seq((2L, 5L, "B")).toDF("k", "seq", "v"))
    val got = sp.read.parquet(path)
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(got === Set(1L -> "a", 2L -> "B"),
      "key 1 must survive via the restored backup generation")
  }

  // Pruned rewrite + schema evolution: a batch missing a column that
  // exists on disk must not erase that column from untouched keys in the
  // partitions it rewrites. (Partitioned upserts publish through the
  // manifest store since round 11 — readers resolve the manifest.)
  test("pruned upsert keeps on-disk columns absent from the batch") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("runner_upsert_evo").toString
    val path = s"$out/latest"
    ManifestStore.upsert(path, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 1L, "a", "x1", 0), (3L, 1L, "c", "x3", 0))
        .toDF("k", "seq", "v", "extra", "bucket"))
    // later producer drops 'extra'; batch touches bucket 0 via key 1 only
    ManifestStore.upsert(path, Seq("k"), "seq", Nil, Seq("bucket"))(
      Seq((1L, 5L, "A", 0)).toDF("k", "seq", "v", "bucket"))
    val rows = ManifestStore.read(sp, path)
      .select("k", "v", "extra").collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) null else r.getString(2))).toMap
    assert(rows(1L) === ("A", null), "updated key takes the batch's shape")
    assert(rows(3L) === ("c", "x3"),
      "untouched key in the rewritten partition keeps its extra column")
  }
}
