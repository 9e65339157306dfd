package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._

/** One verifiable query: a Spark-native implementation plus (where the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL
  * over the same parquet tables. Queries without an oracle get the
  * driver's weaker rows-only check.
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Catalog {
  /** Full query inventory, one entry per operator family of SURVEY.md §2
    * plus the beyond-parity training-data ops (dedup / similarity / text /
    * multimodal). */
  lazy val all: Seq[Q] =
    RelationalQueries.qs ++ WindowQueries.qs ++ JoinQueries.qs ++
      DedupQueries.qs ++ SimilarityQueries.qs ++ TextQueries.qs ++
      TextQueries.fertility ++
      CdcQueries.qs ++ MultimodalQueries.qs ++ ExtendedQueries.qs ++
      NestedQueries.qs ++ AggPnlQueries.qs ++ StreamingQueries.qs ++
      ReferralQueries.qs ++ FunnelQueries.qs ++ TimeSeriesQueries.qs ++
      GraphQueries.qs ++ CurationQueries.qs ++ StatsQueries.qs ++
      QualityQueries.qs ++ ScaleOpsQueries.qs ++ FormatQueries.qs ++
      CatalogQueries.qs

  lazy val byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}

/** Shared helpers keeping Spark results bit-identical to the DuckDB oracle. */
object QH {
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    graft.tables.Tables.load(s, dir, name)

  /** Exact decimal type wide enough for any sum in the corpus: inputs are
    * 2-decimal doubles ≤ 5e5, row counts ≤ 1e7 per group at bench scale. */
  val DEC = "decimal(28,6)"

  /** Order-insensitive exact double sum: accumulate in decimal, surface as
    * double. Oracle mirror: `CAST(CAST(SUM(CAST(x AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE)`.
    * Removes the accumulation-order nondeterminism of double sums, which
    * would otherwise make hash-comparison against the oracle flaky. */
  def decSum(c: Column): Column =
    sum(c.cast(DEC)).cast("string").cast("double")

  /** [[decSum]] over a window frame. Oracle mirror:
    * `CAST(CAST(SUM(CAST(x AS DECIMAL(28,6))) OVER w AS VARCHAR) AS DOUBLE)`. */
  def decSum(c: Column, w: WindowSpec): Column =
    sum(c.cast(DEC)).over(w).cast("string").cast("double")

  /** Exact average built from decSum / count. */
  def decAvg(c: Column): Column = decSum(c) / count(lit(1))

  /** Round a double to `digits` decimals the way the oracle's
    * `ROUND(DOUBLE, d)` does: scale by 10^d, round half away from zero,
    * scale back. Spark's `round(c, d)` rounds the double's decimal string
    * instead, and the two split on ties: 32.2283335 is stored just below
    * the tie, so ×1e6 gives 32228333.499999996 and the oracle rounds
    * down, while the string "32.2283335" rounds up. At scale 0 the string
    * and the double lie on the same side of any .5, so both engines round
    * the same scaled value. */
  def roundScaled(c: Column, digits: Int): Column = {
    val m = math.pow(10, digits)
    round(c * m) / m
  }

  /** Spread a CPU-heavy projection over the configured shuffle
    * parallelism. The count is EXPLICIT (the session's shuffle-partition
    * setting, so it follows deployment tuning) because an unnumbered
    * `repartition(col)` lets AQE coalesce a byte-small shuffle back to
    * one partition — which serializes compute-bound stages whose cost is
    * per-row work, not bytes (the test corpus's single-row-group parquet
    * cannot split at the scan either). */
  def spread(s: SparkSession, key: Column)(df: DataFrame): DataFrame =
    df.repartition(s.sessionState.conf.numShufflePartitions, key)
}
