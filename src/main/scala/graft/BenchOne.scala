package graft

/** Dev tool: time a single catalog query the way Bench does
  * ([[QueryRun.time]]: an untimed warm-up, then min-of-`runs` full-output
  * runs, min-of-2 for a warm-up of 2 s or more), on the session Bench and
  * Verify use. The final adaptive plan of the warm-up run goes to stderr.
  *
  * Usage: runMain graft.BenchOne <queryName> [sfDir] [runs]
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 3
    val spark = QueryRun.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    val fn = SparkEntry.queries(name)
    val reps = QueryRun.time(spark, () => fn(spark, sfDir), runs,
      warmUp = df => System.err.println(QueryRun.finalPlan(df)))
    reps.foreach(r => println(r.fold(s"$name: failed")(dt => f"$name%s: $dt%.2f s")))
    val times = reps.flatten.sorted
    if (times.nonEmpty)
      println(f"$name min=${times.head}%.2f median=${times(times.size / 2)}%.2f")
    spark.stop()
  }
}
