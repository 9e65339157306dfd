package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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

  /** Batch read that QUARANTINES malformed records instead of nulling
    * them silently (PERMISSIVE default) or dying on the first bad byte
    * (FAILFAST): returns (clean rows, corrupt raw lines). At a 100 TB
    * landing zone malformed producer output is a certainty, and the
    * reference's Auto Loader ingests with no rescue path — dropped rows
    * would be invisible. The corrupt frame carries the raw line for
    * replay after a producer fix.
    *
    * Implementation reads the landing zone as TEXT and parses with
    * `from_json` (a malformed line parses to a null struct): Spark
    * forbids projecting the internal `_corrupt_record` column on its
    * own from a raw JSON read, and the text route expresses the same
    * split declaratively — each returned frame plans its own
    * scan+parse+filter, pruned and pushed down independently. */
  def batchWithQuarantine(spark: SparkSession, path: String, ddl: String)
      : (DataFrame, DataFrame) = {
    import org.apache.spark.sql.types.{StringType, StructType}
    // from_json flags malformed input via a corrupt-record slot declared
    // INSIDE its schema (a bare malformed line otherwise parses to an
    // all-null struct, indistinguishable from legitimate nulls)
    val schema = StructType.fromDDL(ddl).add("_cr", StringType)
    val parsed = spark.read.text(path)
      .select(col("value").as("raw_line"),
        from_json(col("value"), schema,
          Map("mode" -> "PERMISSIVE",
            "columnNameOfCorruptRecord" -> "_cr")).as("r"))
    // a NULL struct (blank line, literal `null` JSON) carries no _cr
    // flag yet is not a data row — it must quarantine too, or it lands
    // in the clean frame as an all-null row (the silent-null path this
    // function exists to prevent)
    val clean = parsed.filter(col("r").isNotNull && col("r._cr").isNull)
      .select(col("r.*")).drop("_cr")
    val corrupt = parsed
      .filter(col("r").isNull || col("r._cr").isNotNull)
      .select(col("raw_line"))
    (clean, corrupt)
  }
}
