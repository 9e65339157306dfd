package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental JSON landing-zone ingest (SURVEY.md §2.1 S1): the Spark-
  * native stand-in for Databricks Auto Loader — a fixed DDL schema over a
  * (possibly hive-partitioned `year/month/day/hour`) JSON directory, read
  * either batch or as a file stream (zetadex-transactions-helius-pipeline
  * .py:70–80, :292–302).
  *
  * Design notes for scale: the schema is declared, never inferred (no
  * sampling pass over 100 TB); partition columns come from the directory
  * layout so partition pruning reaches the file listing; `maxFilesPerTrigger`
  * bounds micro-batch size in streaming mode (Auto Loader's
  * `cloudFiles.maxFilesPerTrigger` equivalent).
  */
object JsonSource {

  /** Batch read with fixed schema. `partitionCols` are derived from the
    * hive directory layout when present and dropped by callers that do
    * not want them (the reference drops year/month/day/hour post-ingest,
    * transactions:355). */
  def batch(spark: SparkSession, path: String, ddl: String): DataFrame =
    spark.read.schema(ddl).json(path)

  /** Streaming read: each micro-batch picks up newly arrived files.
    * Combine with [[graft.streaming.StreamingOps]] watermark helpers. */
  def stream(spark: SparkSession, path: String, ddl: String,
             maxFilesPerTrigger: Int = 1000): DataFrame =
    spark.readStream
      .schema(ddl)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .json(path)
}
