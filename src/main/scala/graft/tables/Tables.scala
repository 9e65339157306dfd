package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the engine's test corpus (TPC-H-ish star schema plus an
  * event stream, documents, and embeddings — see TESTDATA.md).
  *
  * Mirrors the reference's source surface (SURVEY.md §2.1): parquet scans
  * stand in for the Delta/Auto-Loader bronze reads. Filters and column
  * selection applied downstream reach the scan via Catalyst pushdown, so
  * loaders stay bare `spark.read.parquet`.
  */
object Tables {

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Parquet scan + schema normalization. The events table declares
    * TIMESTAMP(NANOS), which Spark's vectorized reader rejects — with
    * `spark.sql.legacy.parquet.nanosAsLong=true` (set by GraftSession /
    * Verify / Bench) it surfaces as nanos-since-epoch LongType, which we
    * floor-divide to micros (`div` = integer division: a double round-trip
    * would lose precision above 2^53). Matches the oracle's
    * `CAST(ts AS TIMESTAMP)` ns→us truncation. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    normalize(name, spark.read.parquet(s"$dir/$name.parquet"))

  /** ns-long → micros-timestamp conversion for the events feed; works on
    * batch and streaming frames alike. */
  def normalize(name: String, df: DataFrame): DataFrame =
    if (name == "events" &&
      df.schema.exists(f => f.name == "ts" &&
        f.dataType == org.apache.spark.sql.types.LongType))
      df.withColumn("ts",
        org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
    else df

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame     = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
