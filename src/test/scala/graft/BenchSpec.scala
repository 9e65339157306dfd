package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ScratchDirs

/** Prints the conf of a fresh session, one `key<TAB>value` line per
  * entry: the one the driver mains build for 4 cpus (`driver`) or the
  * tests' (`tests`). */
object SessionConfChild {
  def main(args: Array[String]): Unit = {
    val spark = if (args(0) == "driver") QueryRun.session(4) else TestSpark.spark
    spark.conf.getAll.foreach { case (k, v) => println(s"$k\t$v") }
    spark.stop()
  }
}

/** Bench-contract guards — the driver parses a bounded stdout tail, so
  * the printed line's size is a CONTRACT, not a cosmetic choice (rounds
  * 8–9 shipped unparseable records when the full line outgrew the
  * capture). */
class BenchSpec extends AnyFunSuite {

  test("headline line stays under the driver's tail-capture budget") {
    // worst case: every catalog query at a 17-char double (the widest
    // `System.nanoTime`-derived seconds value observed)
    val names = graft.queries.Catalog.all.map(_.name)
    val headline = names.filter(Bench.isHeadline)
    assert(headline.size >= 15 && headline.size <= 25,
      s"headline subset drifted to ${headline.size} queries")
    val line = headline
      .map(n => "\"" + n + "\":123.456789012345678").mkString(",")
    // ~500 bytes of envelope fields (incl. r12's shard_loads + reps +
    // discarded_sec) + the sbt [success] trailer must also fit inside
    // the ~2000-byte capture window
    assert(line.length + 550 < 1900,
      s"printed headline line (${line.length} B + envelope) risks " +
        "truncation in the driver's stdout-tail capture")
  }

  test("every headline prefix matches exactly one catalog query family") {
    val names = graft.queries.Catalog.all.map(_.name)
    val unmatched = Bench.HEADLINE.filterNot(p =>
      names.exists(n => n.takeWhile(_ != '_') == p))
    assert(unmatched.isEmpty,
      s"headline prefixes with no catalog query: $unmatched")
  }

  test("streaming suspects: below-floor streaming runs are named") {
    val streaming = Set("q70_streaming_hourly", "q97_stream_stream_join")
    val results = Seq(
      "q70_streaming_hourly" -> 0.07,   // impossible: stale state
      "q97_stream_stream_join" -> 1.9,  // real run
      "q01_pricing_summary" -> 0.01)    // fast batch query: fine
    assert(QueryRun.streamingSuspects(results, streaming,
      QueryRun.STREAMING_FLOOR_SEC) === Seq("q70_streaming_hourly"))
  }

  test("all checkpointed streaming queries are in the suspect watch set") {
    val s = QueryRun.streamingNames
    for (q <- Seq("q70_streaming_hourly", "q87_streaming_sessions",
        "q88_streaming_apply_changes", "q91_stateful_sessions",
        "q97_stream_stream_join", "q104_stream_outer_join",
        "q105_incremental_neardup", "q149_streaming_expectations"))
      assert(s(q), s"$q missing from the streaming watch set")
  }

  test("shard assignment partitions the suite exactly, round-robin") {
    // sharded bench (round 11): every query runs in exactly one child
    // JVM, and consecutive sorted names land in different shards so the
    // heavy late-alphabet families spread instead of stacking
    val n = graft.queries.Catalog.all.size
    for (shards <- Seq(2, 4)) {
      val assign = (0 until n).map(QueryRun.shardOf(_, shards))
      assert(assign.toSet === (0 until shards).toSet)
      val sizes = assign.groupBy(identity).values.map(_.size)
      assert(sizes.max - sizes.min <= 1, "round-robin must balance ±1")
      assert(assign.sliding(2).forall(p => p(0) != p(1)),
        "adjacent sorted queries must land in different shards")
    }
  }

  test("min-of-reps discards contention spikes, keeps plan cost") {
    // round-12 protocol: a host-load spike inflates one rep; the min is
    // the steady-state plan cost (contention only ever adds time)
    assert(QueryRun.minOfReps(Seq(20.7, 0.24, 0.26)) === 0.24)
    assert(QueryRun.minOfReps(Seq(1.5)) === 1.5)
    assert(QueryRun.DEFAULT_REPS >= 2 && QueryRun.DEFAULT_REPS <= 3,
      "verdict-r11 mandated N=2–3 timed reps per query")
  }

  test("adaptive rep policy: sub-floor queries keep min-of-N, heavy " +
      "get min-of-2") {
    // round-16: min-of-N protects sub-second queries from contention
    // spikes; repeating multi-second queries is where the suite's wall
    // cost lives (r15 top-20 = 80.9s min-sum but ~325s of bench wall).
    // Heavy queries keep min-of-TWO, not one: a single-rep protocol
    // recorded one polluted rep as a query's steady-state cost (q305
    // 3.13s vs 1.51s min-of-3) with nothing to reject it.
    assert(QueryRun.repsFor(0.3, QueryRun.DEFAULT_REPS) === QueryRun.DEFAULT_REPS)
    assert(QueryRun.repsFor(1.99, 3) === 3)
    assert(QueryRun.repsFor(QueryRun.ADAPTIVE_REP_FLOOR_SEC, 3) === 2)
    assert(QueryRun.repsFor(5.6, 3) === 2)
    // a dev run with SPARK_GRAFT_BENCH_REPS=1 stays 1 everywhere
    assert(QueryRun.repsFor(5.6, 1) === 1)
  }

  test("repDiscard: succeeded-only, never negative") {
    // normal: two reps at 1.0 over a 0.5 best discard 1.0s of contention
    assert(QueryRun.repDiscard(Seq(0.5, 1.0, 1.0), 0.5) === 1.0)
    // a 50ms failed rep is EXCLUDED from `succeeded`; the gauge must not
    // see it (the old allTimes.sum - best*allTimes.size went NEGATIVE
    // here: (0.05+2.0+2.1) - 2.0*3 = -1.85)
    assert(math.abs(QueryRun.repDiscard(Seq(2.0, 2.1), 2.0) - 0.1) < 1e-9)
    // all reps failed → best is a failure min, nothing discardable
    assert(QueryRun.repDiscard(Nil, 0.05) === 0.0)
    // float jitter must clamp at zero, not undercut the suite sum
    assert(QueryRun.repDiscard(Seq(1.0), 1.0 + 1e-12) >= 0.0)
  }

  test("code-cache instrumentation reads the JIT pools of this JVM") {
    val (peak, max) = QueryRun.codeCacheMb()
    assert(peak > 0, "a warmed JVM has compiled code")
    assert(max >= peak, "peak usage cannot exceed the reserved cache")
    assert(max >= 200, "ReservedCodeCacheSize should be ≥ the JVM default")
  }

  /** Runs `main` in a JVM with this JVM's VM options and classpath, `env`
    * added and `tmp` as its `java.io.tmpdir`; returns its stdout. */
  private def fork(main: String, env: Map[String, String], tmp: Path,
                   args: String*): String = {
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val vm = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(a => a.startsWith("-agentlib") || a.startsWith("-Djava.io.tmpdir"))
    val pb = new ProcessBuilder((Seq(java) ++ vm ++ Seq(s"-Djava.io.tmpdir=$tmp",
        "-cp", System.getProperty("java.class.path"), main) ++ args).asJava)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
    pb.environment().putAll(env.asJava)
    val p = pb.start()
    val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
    assert(p.waitFor() === 0, s"$main exited nonzero")
    out
  }

  test("a query whose every rep throws is named in failed, not timed") {
    val out = Paths.get(ScratchDirs.create("bench_failed_"), "shard.json")
    val q01 = "q01_pricing_summary"
    Bench.runShard(TestSpark.spark, TestSpark.sf0001, 0,
      Seq(q01 -> SparkEntry.queries(q01),
        "q00_throws" -> ((_, _) => throw new IllegalStateException("boom"))), 1, out)
    val rec = new ObjectMapper().readTree(Files.readString(out))
    assert(rec.get("failed").elements().asScala.map(_.asText()).toSeq === Seq("q00_throws"))
    assert(rec.get("queries").fieldNames().asScala.toSeq === Seq(q01))
    assert(rec.get("n_queries").asInt() === 1)
    assert(rec.get("action").asText() === "noop")
    assert(!rec.has("partial"))
  }

  test("the timed action runs each query's own optimized plan with every output column") {
    // under count() Catalyst prunes every column the count does not need:
    // q253's n-gram projection vanished from the plan that was timed
    val spark = TestSpark.spark
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized(seen += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try for (q <- Seq("q253_max_repeated_ngram", "q68_agg_pnl",
        "q134_random_projection", "q98_substring_dedup")) {
      val df = SparkEntry.queries(q)(spark, TestSpark.sf0001)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      seen.synchronized(seen.clear())
      QueryRun.fullOutput(df)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      val written = seen.synchronized(seen.toList)
        .flatMap(_.optimizedPlan.collectFirst { case w: V2WriteCommand => w.query })
      assert(written.size === 1, s"$q: one write per timed action")
      assert(written.head.output.map(_.name) === df.columns.toSeq, q)
      assert(written.head.sameResult(df.queryExecution.optimizedPlan),
        s"$q: the timed plan is not the query's optimized plan")
    } finally spark.listenerManager.unregister(listener)
  }

  test("the driver session for 4 cpus has the test session's conf") {
    // both sessions fresh, each in its own JVM: the shared test session
    // carries catalogs and confs other suites set at runtime. Every key
    // is compared but the per-application identity ones.
    def conf(which: String) = fork("graft.SessionConfChild", Map.empty,
        Paths.get(ScratchDirs.create("session_conf_")), which)
      .linesIterator.filter(_.startsWith("spark.")).map { l =>
        val Array(k, v) = l.split("\t", 2)
        k -> v
      }.filterNot { case (k, _) =>
        k == "spark.master" || k.startsWith("spark.app.") ||
          k == "spark.driver.host" || k == "spark.driver.port"
      }.toMap
    val (driver, tests) = (conf("driver"), conf("tests"))
    val differ = (driver.keySet ++ tests.keySet).filter(k => driver.get(k) != tests.get(k))
    assert(driver.nonEmpty && differ.isEmpty,
      differ.map(k => s"$k: driver ${driver.get(k)}, tests ${tests.get(k)}").mkString("; "))
  }

  test("a 2-shard bench run prints one record and leaves no shard files") {
    val tmp = Paths.get(ScratchDirs.create("bench_fork_"))
    val full = tmp.resolve("full.json")
    val stdout = fork("graft.Bench", Map(
      "SPARK_GRAFT_ONLY" -> "q01_,q02_", "SPARK_GRAFT_BENCH_SHARDS" -> "2",
      "SPARK_GRAFT_BENCH_REPS" -> "1", "SPARK_GRAFT_SF_DIR" -> TestSpark.sf0001,
      "SPARK_GRAFT_CPUS" -> "2", "SPARK_GRAFT_BENCH_OUT" -> full.toString), tmp)
    val lines = stdout.linesIterator.filter(_.nonEmpty).toSeq
    assert(lines.size === 1, s"one stdout line, got: $stdout")
    val mapper = new ObjectMapper()
    val printed = mapper.readTree(lines.head)
    assert(printed.get("action").asText() === "noop")
    assert(printed.get("failed").size() === 0)
    assert(printed.get("queries").fieldNames().asScala.toSeq === Seq("q01_pricing_summary"),
      "the printed line carries the headline subset")
    val rec = mapper.readTree(Files.readString(full))
    assert(rec.get("shards").asInt() === 2 && !rec.has("partial"))
    assert(rec.get("queries").fieldNames().asScala.toSeq ===
      Seq("q01_pricing_summary", "q02_priority_stats"))
    val left = Files.list(tmp).iterator().asScala.map(_.getFileName.toString)
      .filter(f => f.startsWith("bench_shard_") || f.startsWith("verify_shard_")).toSeq
    assert(left.isEmpty, s"shard files left behind: $left")
  }
}
