package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The query-run loop of the driver mains (Verify, Bench, BenchOne,
  * ScaleSweep): which queries run, in which shard and JVM, how caches are
  * swept between runs, and how one query is timed.
  *
  *  - The query list is the catalog sorted by name, filtered by
  *    `SPARK_GRAFT_ONLY` (comma-separated name prefixes: `q88` selects
  *    `q88_streaming_apply_changes`), then split round-robin into shards.
  *  - A sharded run forks one child JVM per shard. Children inherit this
  *    JVM's VM options, classpath and environment, the filter included. An
  *    unsharded run is one shard in this JVM.
  *  - The timed action writes every output column to the `noop` sink.
  *    Under `count()` Catalyst prunes every column the count does not
  *    need, so a count times a plan the query never runs.
  */
object QueryRun {
  type Query = (SparkSession, String) => DataFrame

  /** The session every driver main runs on: the tests' session factory, so
    * a plan pinned in a spec is the plan Verify dumps and Bench times. */
  def session(cpus: Int): SparkSession = graft.core.GraftSession.local(cpus)

  private val only: Option[Seq[String]] = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)

  /** Whether `SPARK_GRAFT_ONLY` selects `name`; unset selects everything. */
  def selects(name: String): Boolean = only.forall(_.exists(name.startsWith))

  /** The selected queries, sorted by name. */
  def queries: Seq[(String, Query)] =
    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => selects(q._1))

  /** Round-robin shard assignment over the SORTED query list, so heavy
    * late-alphabet families (similarity, streaming, text) spread evenly
    * instead of landing in one child. */
  private[graft] def shardOf(idx: Int, nShards: Int): Int = idx % nShards

  /** The shard count for a run that asks for `requested`: no more shards
    * than selected queries, so a subset forks no idle JVM. */
  def shardCount(requested: Int): Int = math.max(1, math.min(queries.size, requested))

  /** Shard `i` of `n` of the selected queries. */
  def shard(i: Int, n: Int): Seq[(String, Query)] =
    queries.zipWithIndex.collect { case (q, idx) if shardOf(idx, n) == i => q }

  /** This JVM's `(shard, of)` when it is a forked shard child. */
  def childShard: Option[(Int, Int)] = sys.env.get("SPARK_GRAFT_SHARD").map { s =>
    val Array(i, n) = s.split("/").map(_.toInt)
    (i, n)
  }

  /** Runs `main args` once per shard in child JVMs, each with
    * `SPARK_GRAFT_SHARD=i/n` and `SPARK_GRAFT_BENCH_OUT` naming its record
    * file. A timing run passes `sequential` (parallel shards would time
    * each other's contention); a correctness run starts every shard at
    * once. `done` gets each finished shard's record, in shard order. A
    * shard's record and log (in `java.io.tmpdir`) are deleted once it has
    * succeeded; a failed shard (nonzero exit, or a record still marked
    * partial) keeps both, and the exception, thrown after every shard has
    * run, names them. */
  def forkShards(main: String, args: Seq[String], n: Int, sequential: Boolean)(
      done: String => Unit): Unit = {
    val tag = main.stripPrefix("graft.").toLowerCase
    val java = Path.of(System.getProperty("java.home"), "bin", "java").toString
    val vmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-agentlib")) // a debugger port would clash
    val cmd = (Seq(java) ++ vmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), main) ++ args).asJava
    def start(i: Int) = {
      val rec = Files.createTempFile(s"${tag}_shard_$i", ".json")
      val log = Files.createTempFile(s"${tag}_shard_$i", ".log")
      // the child's stdout goes to the log: the parent's stdout is Bench's
      // one-line record
      val pb = new ProcessBuilder(cmd).redirectErrorStream(true).redirectOutput(log.toFile)
      pb.environment().put("SPARK_GRAFT_SHARD", s"$i/$n")
      pb.environment().put("SPARK_GRAFT_BENCH_OUT", rec.toString)
      System.err.println(s"[$tag] shard $i/$n starting (log: $log)")
      (i, rec, log, pb.start())
    }
    def finish(shard: (Int, Path, Path, Process)): Option[String] = {
      val (i, rec, log, p) = shard
      val rc = p.waitFor()
      val record = Files.readString(rec)
      if (rc == 0 && !record.contains("\"partial\":true")) {
        done(record)
        Files.delete(rec)
        Files.delete(log)
        None
      } else Some(s"$tag shard $i/$n failed (rc=$rc), record: $rec, log: $log")
    }
    val shards = (0 until n).iterator.map(start)
    val failed = (if (sequential) shards else shards.toList.iterator).flatMap(finish).toList
    if (failed.nonEmpty) throw new IllegalStateException(failed.mkString("; "))
  }

  /** Drops cached tables and the blocks pinned by a query's final
    * `localCheckpoint`, which outlive the query: across hundreds of runs
    * in one JVM they would stack into memory pressure that slows later
    * queries with eviction and GC. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** The timed action: every output column computed, nothing kept. */
  def fullOutput(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Runs [[fullOutput]] on `df` and returns the final adaptive plan
    * under the write. */
  def finalPlan(df: DataFrame): String = {
    val plan = Promise[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        qe.executedPlan.collectFirst { case w: V2TableWriteExec => w.query.toString }
          .foreach(plan.trySuccess)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    df.sparkSession.listenerManager.register(listener)
    try {
      fullOutput(df)
      Await.result(plan.future, 1.minute)
    } finally df.sparkSession.listenerManager.unregister(listener)
  }

  /** Timed repetitions per query AFTER the untimed warm-up run. The
    * recorded per-query number is the MIN across reps: steady-state plan
    * cost is the min by definition — external host contention (another
    * tenant's load spike, a GC storm elsewhere on the box) only ever
    * ADDS time, so one polluted rep cannot pollute the record the way
    * the round-9..11 time-once protocol let it (r11 forensics: an anti
    * join that costs 0.24 s clean was recorded at 20.7 s because the one
    * timed run landed on a load_avg-14 host spike). Overridable via
    * SPARK_GRAFT_BENCH_REPS for dev iteration. */
  private[graft] val DEFAULT_REPS = 3

  /** Adaptive rep policy (round-16, VERDICT r15 Next #1): min-of-N only
    * protects SUB-SECOND queries from contention spikes (a 50 ms spike
    * on a 0.3 s query is a 17% distortion; on a 4 s query it is noise),
    * while repeating multi-second queries is where the suite's wall
    * cost lives — the r15 top-20 queries were 80.9 s of min-sum but
    * ~325 s of bench wall under warm+3. So: queries whose WARM-UP run
    * took >= this threshold get MIN-OF-TWO timed reps; everything below
    * keeps min-of-`reps`. The warm-up duration (not the timed one)
    * makes the decision, so the policy is known before the first timed
    * rep and a query cannot straddle policies mid-measurement.
    *
    * Why 2 and not 1 above the floor (r16 in-round evidence): a
    * single-rep protocol run recorded q305 at 3.13 s where min-of-3
    * standalone gives 1.51 s — one polluted rep DOUBLED the recorded
    * value with nothing to reject it. */
  private[graft] val ADAPTIVE_REP_FLOOR_SEC = 2.0
  private[graft] val HEAVY_REPS = 2

  private[graft] def repsFor(warmSec: Double, reps: Int): Int =
    if (warmSec >= ADAPTIVE_REP_FLOOR_SEC) math.min(HEAVY_REPS, reps)
    else reps

  /** The recorded cost of a query: the min of its succeeded reps. */
  private[graft] def minOfReps(times: Seq[Double]): Double = times.min

  /** Contention gauge for one query, over SUCCEEDED reps only: a
    * fast-failing rep (50 ms exception) is neither steady-state nor
    * contention, and `allTimes.sum - best*n` would let it push the
    * product past the sum and SUBTRACT from the suite-level gauge.
    * Clamped at 0 against float jitter. */
  private[graft] def repDiscard(succeeded: Seq[Double], best: Double): Double =
    math.max(0.0, succeeded.sum - best * succeeded.size)

  /** Times one query. An untimed warm-up (`warmUp`, by default the timed
    * action itself: JIT, codegen, parquet footers) sets the rep count
    * through [[repsFor]]; a failed warm-up keeps the full count, since a
    * fast failure says nothing about plan cost. Then each rep builds the
    * query and runs [[fullOutput]]. Every run is followed by a [[sweep]].
    * Returns each rep's seconds, None for a rep that threw: a failed rep
    * must never enter the min. */
  def time(spark: SparkSession, query: () => DataFrame, reps: Int,
           warmUp: DataFrame => Unit = fullOutput): Seq[Option[Double]] = {
    def run(action: DataFrame => Unit): Option[Double] = {
      val t0 = System.nanoTime()
      val ok = try { action(query()); true } catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      sweep(spark)
      if (ok) Some(dt) else None
    }
    val warm = run(warmUp)
    (1 to math.max(1, warm.fold(reps)(repsFor(_, reps)))).map(_ => run(fullOutput))
  }

  /** Names that run a real checkpointed Structured Streaming query. A
    * time below [[STREAMING_FLOOR_SEC]] means the streaming machinery did
    * not run (a harness change broke the query into a no-op), so the
    * number would be fiction; it is named in the record, not dropped. */
  private[graft] val STREAMING_FLOOR_SEC = 0.25
  private[graft] def streamingNames: Set[String] =
    graft.queries.StreamingQueries.qs.map(_.name).toSet +
      "q105_incremental_neardup" + "q310_catalog_streaming_write"

  /** Streaming queries whose measured time is physically impossible for
    * a real checkpointed run. */
  private[graft] def streamingSuspects(results: Seq[(String, Double)],
                                       streaming: Set[String],
                                       floor: Double): Seq[String] =
    results.collect { case (n, dt) if streaming(n) && dt < floor => n }

  /** (peakUsedMb, maxMb) summed across the segmented JIT code-cache
    * pools. peak ≈ max means the cache filled and compilation stopped,
    * after which later queries run interpreted. */
  private[graft] def codeCacheMb(): (Long, Long) = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("CodeCache"))
    val peak = pools.map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum
    val max = pools.map(p => Option(p.getUsage).map(_.getMax).getOrElse(0L)).sum
    (peak / (1024 * 1024), max / (1024 * 1024))
  }
}
