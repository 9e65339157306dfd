package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import graft.QueryRun._

/** Round bench. The driver runs `runMain graft.Bench` once per round at
  * sf0.1 and reads the ONE printed JSON line.
  *
  * Sharded execution (round-11): 200 queries × (warm + timed) = 400
  * whole-stage-codegen executions in one JVM exhausts the JIT code cache
  * (round-10 forensics: late-alphabet queries inflated 4.6–28.9× while
  * early ones ran clean, gc 13.9 s — classic post-CodeCacheFull
  * interpreted-mode pattern). The fix is structural, not a bigger knob:
  * the suite is split round-robin across N sequential child JVMs
  * (`SPARK_GRAFT_BENCH_SHARDS`, default 4; 1 runs the one shard in this
  * JVM). Each shard writes its full per-query record; the parent merges
  * them, prints the bounded headline line, and writes the full record.
  * Per-JVM JIT code-cache peak occupancy is recorded so exhaustion is a
  * measurement (`code_cache_peak_mb` ~= `code_cache_max_mb` means the
  * cache filled) rather than a hypothesis.
  *
  * Contention-robust timing (round-12): each query's full output is
  * timed min-of-`reps` after the untimed warm-up ([[QueryRun.time]]).
  * The discarded wall-clock and the per-shard load_avg start/end
  * brackets go into the record so residual environmental noise is
  * attributable, not mysterious. A query whose every rep failed has no
  * cost: it is named in `failed` instead of `queries`.
  */
object Bench {
  /** Headline subset for the PRINTED one-line record: the driver captures
    * only a bounded stdout tail, and a 140-query line (~8 KB) truncates
    * past it — round 9's BENCH record was unparseable for exactly that
    * reason. One representative per heavy operator family; the FULL
    * per-query record always goes to the bench-out file (default
    * in-repo, so every round commits it). */
  private[graft] val HEADLINE = Set(
    "q01", "q06", "q11", "q19", "q26", "q28", "q30", "q52", "q70", "q77",
    "q87", "q88", "q92", "q97", "q105", "q110", "q120", "q127", "q128",
    "q131", "q203", "q209") // r11: image-codec + CDC-chunking families

  private[graft] def isHeadline(name: String): Boolean =
    HEADLINE(name.takeWhile(_ != '_'))

  private def qJson(rs: Seq[(String, Double)]): String =
    rs.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")

  private def names(ns: Seq[String]): String = ns.map("\"" + _ + "\"").mkString("[", ",", "]")

  /** Measurement conditions, embedded so every recorded bench line is
    * self-documenting (BASELINE.md "Bench method"): the per-query values
    * are min-of-`reps` of the timed `action`, `load_avg_start`/
    * `load_avg_end` bracket the run so a contended host is visible in the
    * record, and `discarded_sec` is the wall-clock the min rejected. */
  private def envJson(cpus: Int, gcSec: Double,
                      loadStart: Double, loadEnd: Double,
                      suspect: Seq[String], shards: Int,
                      cachePeakMb: Long, cacheMaxMb: Long,
                      reps: Int, discardedSec: Double,
                      failed: Seq[String]): String =
    s""""cpus":$cpus,"host_cpus":${ManagementFactory.getOperatingSystemMXBean.getAvailableProcessors},""" +
      s""""load_avg":$loadStart,""" +
      s""""load_avg_start":$loadStart,"load_avg_end":$loadEnd,""" +
      // Locale.ROOT: a comma-decimal default locale (fr_FR) would
      // render f"%.1f" as "12,3" and corrupt the JSON record
      s""""reps":$reps,"rep_policy":"min-of-reps<${ADAPTIVE_REP_FLOOR_SEC}s-warm;min-of-$HEAVY_REPS-above",""" +
      s""""discarded_sec":${String.format(java.util.Locale.ROOT, "%.1f", Double.box(discardedSec))},""" +
      s""""heap_max_mb":${Runtime.getRuntime.maxMemory / (1024 * 1024)},""" +
      s""""gc_total_sec":$gcSec,""" +
      s""""shards":$shards,""" +
      s""""code_cache_peak_mb":$cachePeakMb,""" +
      s""""code_cache_max_mb":$cacheMaxMb,""" +
      s""""streaming_suspect":${names(suspect)},""" +
      s""""action":"noop","failed":${names(failed)}"""

  private def gcSec(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def loadAvg(): Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private def warmup(spark: SparkSession, sfDir: String): Unit =
    // untimed warmup: JIT/codegen/parquet-footer caches, so the first
    // timed query isn't charged session startup
    try {
      import org.apache.spark.sql.functions._
      graft.tables.Tables.load(spark, sfDir, "lineitem")
        .groupBy("l_returnflag").count().count()
      spark.range(1000000L).select(sum(col("id"))).count()
    } catch { case _: Throwable => () }

  /** Times one shard's queries in this JVM and writes the shard record to
    * `out`: after each query a record marked partial (a killed run keeps
    * every number it measured), at the end the complete one. */
  private[graft] def runShard(spark: SparkSession, sfDir: String, shard: Int,
                              queries: Seq[(String, Query)], reps: Int, out: Path): Unit = {
    warmup(spark, sfDir)
    val loadStart = loadAvg()
    var results = Vector.empty[(String, Double)]
    var failed = Vector.empty[String]
    var discarded = 0.0
    def head = s"""{"metric":"shard","shard":$shard,"value":${results.map(_._2).sum},"unit":"sec",""" +
      s""""n_queries":${results.size},"queries":${qJson(results)},"sf":"$sfDir""""
    queries.foreach { case (name, fn) =>
      val succeeded = QueryRun.time(spark, () => fn(spark, sfDir), reps).flatten
      if (succeeded.isEmpty) failed :+= name
      else {
        val best = minOfReps(succeeded)
        discarded += repDiscard(succeeded, best)
        results :+= name -> best
      }
      Files.writeString(out, s"""$head,"partial":true}""" + "\n")
    }
    val (ccPeak, ccMax) = codeCacheMb()
    val suspect = streamingSuspects(results, streamingNames, STREAMING_FLOOR_SEC)
    Files.writeString(out, s"$head," + envJson(spark.sparkContext.defaultParallelism,
      gcSec(), loadStart, loadAvg(), suspect, 1, ccPeak, ccMax, reps, discarded, failed) + "}\n")
  }

  /** The merged record of the shard records: one line with every query,
    * or only the headline subset (the printed line). Each shard's load
    * brackets are kept, so a contention spike is attributable to the
    * slice of wall-clock it hit. */
  private def merged(shards: Seq[JsonNode], sfDir: String, headline: Boolean): String = {
    def all(k: String) = shards.map(_.get(k))
    def texts(k: String) = all(k).flatMap(_.elements().asScala.map(_.asText()))
    val results = all("queries").flatMap(_.properties().asScala.map(e => e.getKey -> e.getValue.asDouble()))
      .sortBy(_._1)
    val loads = shards.map(s => (s.get("load_avg_start").asDouble(), s.get("load_avg_end").asDouble()))
    val env = envJson(shards.head.get("cpus").asInt(), all("gc_total_sec").map(_.asDouble()).sum,
      loads.head._1, loads.last._2, texts("streaming_suspect"), shards.size,
      all("code_cache_peak_mb").map(_.asLong()).max, all("code_cache_max_mb").map(_.asLong()).max,
      all("reps").map(_.asInt()).max, all("discarded_sec").map(_.asDouble()).sum,
      texts("failed").sorted)
    s"""{"metric":"total","value":${results.map(_._2).sum},"unit":"sec","n_queries":${results.size},""" +
      s""""queries":${qJson(results.filter(r => !headline || isHeadline(r._1)))},"sf":"$sfDir",""" +
      s""""shard_loads":${loads.map { case (s, e) => s"[$s,$e]" }.mkString("[", ",", "]")},$env}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val out = Path.of(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full_latest.json"))
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", DEFAULT_REPS.toString).toInt
    def inThisJvm(i: Int, n: Int): Unit = {
      val spark = QueryRun.session(cpus)
      runShard(spark, sfDir, i, shard(i, n), reps, out)
      spark.stop()
    }
    val mapper = new ObjectMapper()
    childShard match {
      case Some((i, n)) => inThisJvm(i, n)
      case None =>
        val n = shardCount(sys.env.getOrElse("SPARK_GRAFT_BENCH_SHARDS", "4").toInt)
        val records =
          if (n == 1) { inThisJvm(0, 1); Seq(mapper.readTree(Files.readString(out))) }
          else {
            var done = Vector.empty[JsonNode]
            forkShards("graft.Bench", Nil, n, sequential = true) { rec =>
              done :+= mapper.readTree(rec)
              // a timeout kill mid-suite leaves the finished shards'
              // numbers in the record file, marked partial
              Files.writeString(out, merged(done, sfDir, headline = false).stripSuffix("}") +
                s""","partial":true,"shards_planned":$n}""" + "\n")
            }
            done
          }
        // printed record: headline subset only — MUST fit a caller's
        // bounded stdout-tail capture in one parseable line
        println(merged(records, sfDir, headline = true))
        Files.writeString(out, merged(records, sfDir, headline = false) + "\n")
    }
  }
}
