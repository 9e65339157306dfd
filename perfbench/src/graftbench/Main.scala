package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Command-line arguments; see perfbench/run.py, which builds them. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, data: String, work: String,
                      cores: Int, result: String)

/** What one workload does. A run sets up [[Main.Setups]] times (session
  * start plus [[prepare]]), warms up once, then repeats [[measure]]'s
  * operations until the time budget is spent, and finally checks the
  * outputs. Only [[measure]]'s operations are timed. */
trait Workload {
  def prepare(spark: SparkSession): Unit = ()
  def warmup(spark: SparkSession): Unit
  def measure(spark: SparkSession, deadline: Long): Unit
  def check(spark: SparkSession): Unit
}

/** Measurements of one run, shared by the workloads. */
final class Run(val a: Args, val trace: Trace) {
  val ops = mutable.ArrayBuffer.empty[Double]
  var passes = 0
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  var writtenBytes = 0.0
  var inputBytes = 0.0
  /** Per-layer values a workload computes itself, already per pass. */
  val layers = mutable.LinkedHashMap.empty[String, Double]

  /** Times `body` as one operation and returns its seconds; a throw
    * counts as a failed operation. */
  def op(body: => Unit): Option[Double] = {
    attempted += 1
    System.gc() // every operation starts from a collected heap
    try {
      val s = trace.timed {
        val t0 = System.nanoTime
        body
        (System.nanoTime - t0) / 1e9
      }
      ops += s
      Some(s)
    } catch { case e: Exception => fail("operation", e); None }
  }

  /** One output check: attempted once, failed when `ok` is false. */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val good = try ok catch { case e: Exception => fail(name, e); return }
    if (!good) { failed += 1; errors += s"check failed: $name" }
  }

  def fail(what: String, e: Throwable): Unit = {
    failed += 1
    note(what, e)
  }

  /** Records an error that a later check counts. */
  def note(what: String, e: Throwable): Unit =
    errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Bytes of regular files under `dir` modified at or after `sinceMs`. */
  def bytesSince(dir: String, sinceMs: Long): Long = Main.files(dir)
    .filter(_.lastModified >= sinceMs).map(_.length).sum
}

object Main {
  val Setups = 3

  def files(dir: String): Seq[File] = {
    val d = new File(dir)
    if (!d.exists) Nil
    else if (d.isFile) Seq(d)
    else Option(d.listFiles).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) files(f.getPath) else Seq(f))
  }
  def bytes(dir: String): Long = files(dir).map(_.length).sum

  /** The benchmark's session: the engine's own factory, so it runs the
    * same result-affecting configuration as the test suite. */
  def session(a: Args): SparkSession = {
    val s = GraftSession.builder(shufflePartitions = a.cores)
      .master(s"local[${a.cores}]")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m("trace") == "1", m("data"), m("work"), m("cores").toInt, m("result"))
  }

  def workload(run: Run): Workload = run.a.workload match {
    case "tx_hourly" => new TxHourly(run)
    case "query_mix" => new QueryMix(run)
    case "selftest" => new SelfTest(run)
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val run = new Run(a, new Trace(a.trace))
    val wl = workload(run)
    var spark: SparkSession = null
    val setups = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime
      spark = session(a)
      wl.prepare(spark)
      (System.nanoTime - t0) / 1e9
    }
    run.trace.attach(spark)
    val w0 = System.nanoTime
    wl.warmup(spark)
    val warmup = (System.nanoTime - w0) / 1e9
    val m0 = System.nanoTime
    wl.measure(spark, m0 + (a.seconds * 1e9).toLong)
    run.trace.drain()
    val c0 = System.nanoTime
    wl.check(spark)
    spark.stop()
    val phases = Seq("setup" -> setups.sum, "warm-up" -> warmup,
      "measure" -> (c0 - m0) / 1e9, "check" -> (System.nanoTime - c0) / 1e9)

    val perPass = math.max(run.passes, 1).toDouble
    val traced = run.trace.values.map { case (k, v) => k -> v / perPass }
    // wall time of the operations spent outside Spark jobs: planning,
    // commits, bookkeeping between jobs
    if (a.trace) run.layers("graph.non_job_s") =
      (run.ops.sum - run.trace.values.getOrElse("spark.job_s", 0.0)) / perPass
    val jvm = JvmStats.peaks
    val layers = (traced ++ run.layers ++ jvm +
      ("jvm.warmup_s" -> warmup)).toSeq.sortBy(_._1)
    val json = Json.obj(Seq(
      "setup_s" -> Json.arr(setups.map(Json.num)),
      "ops" -> Json.arr(run.ops.toSeq.map(Json.num)),
      "passes" -> Json.num(run.passes),
      "attempted" -> Json.num(run.attempted),
      "failed" -> Json.num(run.failed),
      "errors" -> Json.arr(run.errors.toSeq.map(Json.str)),
      "written_bytes" -> Json.num(run.writtenBytes),
      "input_bytes" -> Json.num(run.inputBytes),
      "phases_s" -> Json.obj(phases.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })))
    Files.write(Paths.get(a.result), json.getBytes(StandardCharsets.UTF_8))
    System.exit(0)
  }
}

/** Peak memory of the JVM's heap and code-cache pools, in MB. */
object JvmStats {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._
  def peaks: Map[String, Double] = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    def mb(ps: Iterable[java.lang.management.MemoryPoolMXBean]) =
      ps.map(_.getPeakUsage.getUsed).sum / 1048576.0
    Map(
      "jvm.heap_peak_mb" -> mb(pools.filter(_.getType == MemoryType.HEAP)),
      "jvm.code_cache_peak_mb" -> mb(pools.filter(_.getName.contains("CodeHeap"))))
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def num(i: Int): String = i.toString
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
