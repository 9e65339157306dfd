package graft

/** Dev tool: time a single catalog query (N timed runs after one warm-up),
  * on the session factory Bench and Verify use, so per-query optimization work
  * measures what the driver's bench will see.
  *
  * Usage: runMain graft.BenchOne <queryName> [sfDir] [runs]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.GraftSession.local(cpus.toInt)
    val fn = SparkEntry.queries(name)
    if (sys.env.contains("SPARK_GRAFT_EXPLAIN"))
      println(fn(spark, sfDir).queryExecution.executedPlan.toString)
    fn(spark, sfDir).count() // warm-up
    spark.catalog.clearCache()
    val times = (1 to runs).map { _ =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"$name%s: $dt%.2f s ($n rows)")
      dt
    }
    println(f"$name min=${times.min}%.2f median=${times.sorted.apply(runs / 2)}%.2f")
    spark.stop()
  }
}
