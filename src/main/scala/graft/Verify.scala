package graft
import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Sharded + incremental (round-16, after the r15 driver timeout left
  * `CORRECTNESS_r15.json = {}`): the single-JVM form ran all 309 queries
  * sequentially (839 s on the r15 judge's host) and wrote oracle_sql.json
  * LAST, so a timeout left nothing usable. Now:
  *
  *  - `oracle_sql.json` is written FIRST — it is a pure function of
  *    [[SparkEntry.oracleSql]], no Spark job needed — so any per-query
  *    outputs that do land are immediately checkable;
  *  - the query list is split round-robin across N child JVMs (default 4,
  *    `SPARK_GRAFT_VERIFY_SHARDS`; same assignment as Bench) which run in
  *    PARALLEL: this is a correctness dump, not a timing run, so
  *    contention between shards costs nothing — wall clock drops to
  *    roughly the heaviest shard. Each child builds the exact session the
  *    single-JVM form built (same master, same shuffle partitions — the
  *    session config is result-affecting surface and must not vary with
  *    shard count), and each query's parquet output appears the moment it
  *    finishes, so a timeout leaves every completed query verifiable
  *    instead of an empty record.
  */
object Verify {
  /** Run this JVM's share of the queries (every `idx % n == i`-th of the
    * sorted list, Bench.shardOf) into `outDir`. */
  private def runShard(sfDir: String, outDir: String, cpus: String,
                       i: Int, n: Int,
                       only: Option[Set[String]]): Unit = {
    val spark = graft.core.GraftSession.local(cpus.toInt)
    SparkEntry.queries.toSeq.sortBy(_._1).zipWithIndex
      .collect { case ((name, fn), idx) if Bench.shardOf(idx, n) == i => (name, fn) }
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
        finally {
          spark.catalog.clearCache()
          // sweep the query's leftover localCheckpoint blocks (see the
          // same hygiene in Bench): 100+ queries share this JVM
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = false))
        }
      }
    spark.stop()
  }

  private def writeOracleSql(outDir: String,
                             only: Option[Set[String]]): Unit = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // dev-only subset filter (comma-separated names); driver never sets it
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    new java.io.File(outDir).mkdirs()

    sys.env.get("SPARK_GRAFT_SHARD") match {
      case Some(spec) =>
        val Array(i, n) = spec.split("/").map(_.toInt)
        runShard(sfDir, outDir, cpus, i, n, only)
        return
      case None => ()
    }

    // the oracle map first: a killed run still leaves completed query
    // outputs checkable against it
    writeOracleSql(outDir, only)

    val nShards = sys.env.getOrElse("SPARK_GRAFT_VERIFY_SHARDS", "4").toInt
    if (nShards <= 1) {
      runShard(sfDir, outDir, cpus, 0, 1, only)
      return
    }

    // parallel children (correctness, not timing — contention is free).
    // VM options and classpath inherit from this JVM, same as Bench.
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val javaBin = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val vmArgs = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("-agentlib"))
      .toSeq
    val cp = System.getProperty("java.class.path")
    val procs = (0 until nShards).map { i =>
      val log = Files.createTempFile(s"verify_shard_$i", ".log")
      val cmd = (Seq(javaBin) ++ vmArgs ++
        Seq("-cp", cp, "graft.Verify", sfDir, outDir)).asJava
      val pb = new ProcessBuilder(cmd)
      pb.environment().put("SPARK_GRAFT_SHARD", s"$i/$nShards")
      pb.environment().put("SPARK_GRAFT_CPUS", cpus)
      sys.env.get("SPARK_GRAFT_ONLY")
        .foreach(pb.environment().put("SPARK_GRAFT_ONLY", _))
      pb.redirectOutput(log.toFile)
      pb.redirectErrorStream(true)
      System.err.println(s"[verify] shard $i/$nShards starting (log: $log)")
      (i, log, pb.start())
    }
    val failed = procs.map { case (i, log, p) => (i, log, p.waitFor()) }
      .filter(_._3 != 0)
    // loud, AFTER all shards ran: the surviving shards' outputs are on
    // disk either way — partial progress is never thrown away
    if (failed.nonEmpty)
      throw new IllegalStateException(failed.map { case (i, log, rc) =>
        s"verify shard $i/$nShards failed (rc=$rc) — log: $log"
      }.mkString("; "))
  }
}
