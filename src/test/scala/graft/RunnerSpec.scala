package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ScratchDirs
import graft.graph.{ManifestStore, Mode, Registry, Runner, TableDef, WriteMode}
import graft.pipelines.EventsPipeline

/** Streaming-vs-batch equivalence of the whole medallion DAG: the same
  * transforms produce identical gold tables whether the bronze source is
  * a batch scan or a micro-batched file stream. */
class RunnerSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  test("streaming run (AvailableNow) equals batch run for the events DAG") {
    val reg = EventsPipeline.build(spark, d)
    val batchDir = ScratchDirs.create("runner_batch")
    val streamDir = ScratchDirs.create("runner_stream")

    val batchOut = Runner.runBatch(reg, batchDir)

    // stream the same parquet through a file-stream source
    val streamOut = Runner.runStreamingThenFull(spark, reg,
      Map("raw_events" -> graft.queries.StreamRig.eventsFeed(spark, d)),
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
    val in = ScratchDirs.create("runner_static_in")
    val out = ScratchDirs.create("runner_static_out")
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

  // Each table is materialized once and its consumers read it back: a
  // run scans each source once, and a consumer's plan scans only the
  // written outputs of its deps, never their lineage.
  test("runBatch scans each source once; consumers plan from written deps") {
    val sp = spark
    import sp.implicits._
    val facts = ScratchDirs.create("runner_scan_facts")
    val dim = ScratchDirs.create("runner_scan_dim")
    val out = ScratchDirs.create("runner_scan_out")
    (1L to 100L).map(k => (k, k % 3)).toDF("k", "g")
      .write.mode("overwrite").parquet(facts)
    Seq((0L, "zero"), (1L, "one"), (2L, "two")).toDF("g", "label")
      .write.mode("overwrite").parquet(dim)
    val r = new Registry(sp)
    r.source("facts", () => sp.read.parquet(facts))
    r.source("dim", () => sp.read.parquet(dim))
    r.register(TableDef("base", Seq("facts"), { case Seq(f) =>
      f.filter(col("k") > 10) }))
    r.register(TableDef("by_g", Seq("base"), { case Seq(b) =>
      b.groupBy("g").agg(count(lit(1)).as("n")) }))
    r.register(TableDef("labeled", Seq("base", "dim"), { case Seq(b, d) =>
      b.join(d, "g") }))

    def dir(p: String) = new Path(p).toUri.getPath
    // (written table, the directories its plan scanned)
    val writes = new ConcurrentLinkedQueue[(String, Seq[String])]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical.collectFirst { case c: InsertIntoHadoopFsRelationCommand =>
          c.outputPath.getName
        }.foreach { table =>
          writes.add(table -> collectWithSubqueries(qe.executedPlan) {
            case s: FileSourceScanExec => s.relation.location.rootPaths.map(p => dir(p.toString))
          }.flatten)
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(sp.sparkContext)
    sp.listenerManager.register(listener)
    try {
      Runner.runBatch(r, out)
      ListenerBusDrain(sp.sparkContext)
    } finally sp.listenerManager.unregister(listener)

    val scanned = writes.asScala.toMap
    assert(scanned.keySet === Set("base", "by_g", "labeled"))
    val all = scanned.values.flatten.toSeq
    assert(all.count(_ == dir(facts)) === 1, "facts scanned once per run")
    assert(all.count(_ == dir(dim)) === 1, "dim scanned once per run")
    assert(scanned("by_g") === Seq(dir(s"$out/base")),
      "by_g reads base's output, not base's lineage")
    assert(scanned("labeled").toSet === Set(dir(s"$out/base"), dir(dim)))
  }

  // Each transform waits for the other to have started: a runner that
  // runs independent tables one after another fails after 30 s.
  test("runBatch runs independent tables concurrently") {
    val sp = spark
    import sp.implicits._
    val out = ScratchDirs.create("runner_concurrent")
    val aStarted, bStarted = new CountDownLatch(1)
    def meets(mine: CountDownLatch, other: CountDownLatch)
        : Seq[DataFrame] => DataFrame = { case Seq(f) =>
      mine.countDown()
      assert(other.await(30, TimeUnit.SECONDS),
        "the other table did not start while this one ran")
      f
    }
    val r = new Registry(sp)
    r.source("feed", () => Seq(1L, 2L).toDF("k"))
    r.register(TableDef("a", Seq("feed"), meets(aStarted, bStarted)))
    r.register(TableDef("b", Seq("feed"), meets(bStarted, aStarted)))
    val paths = Runner.runBatch(r, out)
    assert(sp.read.parquet(paths("a")).count() === 2L)
    assert(sp.read.parquet(paths("b")).count() === 2L)
  }

  // More ready tables than pool threads: the head of a 3-deep chain is
  // registered after 2× the pool of consumer-less leaves, and every leaf
  // waits for the head to have started. A runner that starts ready
  // tables in registration order fills the pool with leaves, so they
  // time out before the head gets a thread.
  test("runBatch starts the head of the longest chain before leaves registered ahead of it") {
    val sp = spark
    import sp.implicits._
    val out = ScratchDirs.create("runner_priority")
    val headStarted = new CountDownLatch(1)
    val late = new ConcurrentLinkedQueue[String]()
    val r = new Registry(sp)
    r.source("feed", () => Seq(1L, 2L).toDF("k"))
    val leaves = (1 to 2 * sp.sparkContext.defaultParallelism).map(i => s"leaf$i")
    leaves.foreach { n =>
      r.register(TableDef(n, Seq("feed"), { case Seq(f) =>
        if (!headStarted.await(5, TimeUnit.SECONDS)) late.add(n)
        f
      }))
    }
    r.register(TableDef("head", Seq("feed"), { case Seq(f) =>
      headStarted.countDown(); f
    }))
    r.register(TableDef("mid", Seq("head"), { case Seq(h) => h }))
    r.register(TableDef("tail", Seq("mid"), { case Seq(m) => m }))
    val paths = Runner.runBatch(r, out)
    assert(late.isEmpty, s"leaves started before the chain's head: ${late.asScala.mkString(", ")}")
    (leaves :+ "tail").foreach(t => assert(sp.read.parquet(paths(t)).count() === 2L))
  }

  test("a failing table rethrows its own exception and leaves its consumers unwritten") {
    val sp = spark
    import sp.implicits._
    val out = ScratchDirs.create("runner_failure")
    val boom = new IllegalStateException("boom")
    val r = new Registry(sp)
    r.source("feed", () => Seq(1L, 2L).toDF("k"))
    r.register(TableDef("bad", Seq("feed"), _ => throw boom))
    r.register(TableDef("after_bad", Seq("bad"), { case Seq(b) => b }))
    r.register(TableDef("good", Seq("feed"), { case Seq(f) => f }))
    val e = intercept[IllegalStateException](Runner.runBatch(r, out))
    assert(e eq boom)
    assert(!Files.exists(Paths.get(out, "bad")))
    assert(!Files.exists(Paths.get(out, "after_bad")))
    assert(sp.read.parquet(s"$out/good").count() === 2L,
      "an independent table still completes")
  }

  // K3 (zetadex-mm-uptime-pipeline-v3.sql:151–157): the hourly
  // `mode("append").saveAsTable` cadence, as idempotent dynamic partition
  // overwrite — a retried run must NOT double rows.
  test("WriteMode.Append: re-running the same batch does not double rows") {
    val sp = spark
    import sp.implicits._
    val out = ScratchDirs.create("runner_append")
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
    val out = ScratchDirs.create("runner_upsert")
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
    val got = ManifestStore.read(sp, s"$out/latest")
      .select("k", "v").as[(Long, String)].collect().toSet
    assert(got === Set(1L -> "A", 2L -> "b", 3L -> "c"))
  }

  // The 100 TB shape: a partitioned upsert must not rewrite partitions
  // the batch doesn't touch — pinned PHYSICALLY (same parquet files, not
  // just same rows).
  test("WriteMode.Upsert with partitionCols leaves untouched partitions' files intact") {
    val sp = spark
    import sp.implicits._
    val out = ScratchDirs.create("runner_upsert_pruned")
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
    val out = ScratchDirs.create("runner_upsert_dag")
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

  // Pruned rewrite + schema evolution: a batch missing a column that
  // exists on disk must not erase that column from untouched keys in the
  // partitions it rewrites — for a partitioned table and for an
  // unpartitioned one (its single partition is always rewritten).
  test("pruned upsert keeps on-disk columns absent from the batch") {
    val sp = spark
    import sp.implicits._
    for (parts <- Seq(Seq("bucket"), Nil)) {
      val out = ScratchDirs.create("runner_upsert_evo")
      val path = s"$out/latest"
      ManifestStore.upsert(path, Seq("k"), "seq", Nil, parts)(
        Seq((1L, 1L, "a", "x1", 0), (3L, 1L, "c", "x3", 0))
          .toDF("k", "seq", "v", "extra", "bucket"))
      // later producer drops 'extra'; batch touches bucket 0 via key 1 only
      ManifestStore.upsert(path, Seq("k"), "seq", Nil, parts)(
        Seq((1L, 5L, "A", 0)).toDF("k", "seq", "v", "bucket"))
      val rows = ManifestStore.read(sp, path)
        .select("k", "v", "extra").collect()
        .map(r => r.getLong(0) -> (r.getString(1),
          if (r.isNullAt(2)) null else r.getString(2))).toMap
      assert(rows(1L) === ("A", null),
        s"updated key takes the batch's shape (partitionCols=$parts)")
      assert(rows(3L) === ("c", "x3"),
        s"untouched key in the rewritten partition keeps its extra column " +
          s"(partitionCols=$parts)")
    }
  }
}
