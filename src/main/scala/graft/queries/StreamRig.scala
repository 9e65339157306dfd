package graft.queries

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.FileTime
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.core.ScratchDirs
import graft.graph.{Registry, Runner, TableDef}
import graft.tables.Tables

/** The run scaffold shared by the streaming queries: a DAG is run as one
  * `Trigger.AvailableNow` catch-up job through [[Runner.runStreamingThenFull]]
  * (the reference's hourly Auto Loader cadence, SURVEY.md §2.11) into a
  * scratch directory, and the query reads the materialized table back.
  */
object StreamRig {
  private[graft] val ProviderKey = "spark.sql.streaming.stateStore.providerClass"
  private[graft] val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Run `body` with the session confs in `kv` set, restoring each key's
    * previous value (or unsetting it) afterwards. */
  private[graft] def withConfs[A](s: SparkSession, kv: (String, String)*)(
      body: => A): A = {
    val prev = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Run `reg` with `feeds` as its streamed sources into a fresh scratch
    * directory and return the materialized `table`.
    *
    * The run uses 4 shuffle partitions (= state-store partitions). A
    * catch-up job over a bounded backlog wants FEW: each one is a
    * checkpointed state store with its own directory, commit and
    * snapshot overhead, and at 32 partitions on a 100k-row backlog that
    * machinery dominates the actual aggregation. This is the deployment
    * knob the reference tunes per pipeline cluster; a long-lived stream
    * over a large keyspace would size it up, which changes no semantics
    * (state is hash-partitioned by group key either way).
    *
    * `rocksDb` moves the state onto Spark's RocksDB provider for this run
    * only. The provider pins into the checkpoint at first start, so on a
    * real pipeline it is a deploy-time choice, not a runtime toggle. */
  def run(s: SparkSession, reg: Registry, feeds: Map[String, () => DataFrame],
          table: String, rocksDb: Boolean = false): DataFrame = {
    val out = ScratchDirs.create(s"${table}_")
    val confs = Seq("spark.sql.shuffle.partitions" -> "4") ++
      (if (rocksDb) Seq(ProviderKey -> RocksDbProvider) else Nil)
    val paths = withConfs(s, confs: _*) {
      Runner.runStreamingThenFull(s, reg, feeds, out)
    }
    s.read.parquet(paths(table))
  }

  /** Run the one-node DAG `t` over `events_feed`, whose batch twin is the
    * events table, streamed from `feed`. */
  def runOverEvents(s: SparkSession, d: String, t: TableDef,
                    feed: () => DataFrame, rocksDb: Boolean = false): DataFrame =
    run(s, new Registry(s).source("events_feed", () => Tables.events(s, d))
      .register(t), Map("events_feed" -> feed), t.name, rocksDb)

  /** The corpus's events table as a file stream, normalized like the
    * batch read. The file source needs a directory, so a glob picks the
    * one table out of the corpus dir. */
  def eventsFeed(s: SparkSession, d: String): () => DataFrame = {
    val schema = s.read.parquet(s"$d/events.parquet").schema
    () => Tables.normalize("events", s.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(d))
  }

  /** A registry holding the batch twins of the click and purchase feeds:
    * the events table filtered to each event type. */
  def clicksAndPurchases(s: SparkSession, d: String): Registry =
    new Registry(s).source("clicks_feed", () =>
        Tables.events(s, d).filter(col("event_type") === "click"))
      .source("purchases_feed", () =>
        Tables.events(s, d).filter(col("event_type") === "purchase"))

  /** Per-JVM staging cache, keyed by (tag, corpus, slice layout). A
    * staged layout is test-rig scaffolding, not the operator under test,
    * so the bench's untimed warm-up stages it once and every timed rep
    * reuses the directory. The timed region then measures the streaming
    * plan (micro-batch execution, state store, watermark machinery), not
    * a sort + partitioned-parquet write + mtime stamping repeated per
    * rep (round-12's q104 was 2.3× inflated by exactly that). Verify runs
    * each query once, so correctness runs see no change. */
  private val staged =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Int, String), String]()

  /** Stage the events table as `n` parquet slices, slice `b` holding the
    * rows whose `slice` value is `b` (one file each), and stamp slice
    * `b`'s files with mtime base + `b` minutes. FileStreamSource replays
    * in (mtime, path) order, so with `maxFilesPerTrigger = 1` (see
    * [[slicesFeed]]) each slice is one micro-batch, in slice order;
    * same-ms writes would leave that order unstable. Returns the staged
    * dir; callers sharing a `tag` and layout share one staging. */
  def stageSlices(s: SparkSession, d: String, tag: String, n: Int)(
      slice: Column): String =
    staged.computeIfAbsent((tag, d, n, slice.toString), _ => {
      val dir = ScratchDirs.create(s"${tag}_src_")
      Tables.events(s, d).withColumn("batch_", slice.cast("int"))
        .repartition(n, col("batch_"))
        .write.mode("overwrite").partitionBy("batch_").parquet(dir)
      for (b <- 0 until n) {
        val sliceDir = Paths.get(dir, s"batch_=$b")
        // a slice may be empty on a small corpus
        if (Files.isDirectory(sliceDir)) {
          val mtime = FileTime.fromMillis(1700000000000L + b * 60000L)
          val ls = Files.list(sliceDir)
          try ls.forEach(p => Files.setLastModifiedTime(p, mtime))
          finally ls.close()
        }
      }
      dir
    })

  /** A stream replaying the staged slices in `dir` one slice per
    * micro-batch. */
  def slicesFeed(s: SparkSession, dir: String): () => DataFrame = {
    val schema = s.read.parquet(dir).schema
    () => s.readStream.schema(schema).option("maxFilesPerTrigger", "1")
      .parquet(dir).drop("batch_")
  }

  /** The click and purchase feeds of [[clicksAndPurchases]], each
    * streamed from the staged slices. */
  def clickPurchaseFeeds(s: SparkSession, dir: String)
      : Map[String, () => DataFrame] = {
    val all = slicesFeed(s, dir)
    def feed(tp: String) = () => all().filter(col("event_type") === tp)
    Map("clicks_feed" -> feed("click"), "purchases_feed" -> feed("purchase"))
  }
}
