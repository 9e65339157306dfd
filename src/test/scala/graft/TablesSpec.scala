package graft

import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.StreamRig
import graft.TestSpark.jobsIn
import graft.tables.Tables

/** The corpus contract: every table opens with its declared schema, which
  * is the schema of its file, and opening a table starts no Spark job. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val d = TestSpark.sf0001

  // An inferring read of each file is the reference: a generator that
  // changes a column's type fails here, not deep inside a query.
  test("each declared schema is the schema of the table's file") {
    assert(Tables.names === Seq("region", "nation", "customer", "supplier",
      "part", "orders", "lineitem", "events", "documents", "embeddings"))
    for (n <- Tables.names)
      assert(Tables.load(spark, d, n).schema ===
        spark.read.parquet(s"$d/$n.parquet").schema, n)
  }

  test("opening every corpus table starts no Spark job") {
    assert(jobsIn(Tables.names.foreach(n => Tables.load(spark, d, n).schema)) === 0)
  }

  // An inferring loader starts one footer-reading job per table a query
  // opens, before the query computes anything.
  test("building query_mix's batch queries starts no Spark job") {
    for (q <- Seq("q01_pricing_summary", "q11_rank_leaderboard",
        "q19_join_3way", "q38_apply_changes", "q32_text_stats",
        "q30_knn_bruteforce", "q253_max_repeated_ngram",
        "q263_auto_range_join"))
      assert(jobsIn(SparkEntry.queries(q)(spark, d)) === 0, q)
  }

  test("the streaming rig's feeds open without a Spark job") {
    val slices = StreamRig.stageSlices(spark, d, "tables_spec", 2)(
      pmod(col("event_id"), lit(2)))
    assert(slices.schema === spark.read.parquet(slices.dir).schema,
      "a staged layout's schema is the schema of its files")
    assert(jobsIn {
      StreamRig.eventsFeed(spark, d)()
      StreamRig.slicesFeed(spark, slices)()
    } === 0)
  }
}
