package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory tuned for the graft engine.
  *
  * Defaults target a real multi-executor cluster: AQE (runtime coalescing,
  * skew-join splitting), nested-schema pruning (the reference selects deep
  * into `instructions.accounts.named.*` — zetadex-transactions-helius
  * -pipeline.py:388–399), parquet aggregate pushdown. Tests run the same
  * builder under `local[*]`; nothing here is local-mode specific.
  */
object GraftSession {

  /** Builder with engine defaults applied; caller may override any conf. */
  def builder(shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession
      .builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // parquet files with isAdjustedToUTC=false would otherwise infer
      // TIMESTAMP_NTZ, which streaming watermarks reject; load them as
      // session-UTC TIMESTAMP so batch and streaming see one type
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      // interval-overlap theta joins rewrite to binned equi joins
      // (plans/RangeJoinRule); width near the data's typical span —
      // rows explode to span/width + 1 bin copies
      .config(graft.plans.RangeJoinRule.WIDTH_KEY, "1024")
      .config("spark.ui.enabled", "false")
      // generated classes are cached per JVM, 100 by default; one run of
      // the transactions DAG compiles about 280 classes and one pass of
      // the benchmark's 12-query mix about 200, so a default-sized cache
      // evicts each class before its next use and every run recompiles
      // them all. 2000 holds either working set with over 2x headroom.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      // file:// through NIO instead of a forked chmod/readlink per file
      // (core/NioLocalFs), for FileSystem and FileContext alike
      .config("spark.hadoop.fs.file.impl", classOf[NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[NioLocalFs].getName)

  /** Local session for tests and ad-hoc runs. */
  def local(threads: Int = 4): SparkSession = {
    val s = builder(shufflePartitions = threads)
      .master(s"local[$threads]")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
