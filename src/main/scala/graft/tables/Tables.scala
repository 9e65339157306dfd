package graft.tables

import scala.collection.immutable.ListMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the engine's test corpus (TPC-H-ish star schema plus an
  * event stream, documents, and embeddings — see TESTDATA.md).
  *
  * Mirrors the reference's source surface (SURVEY.md §2.1): parquet scans
  * stand in for the Delta/Auto-Loader bronze reads, and like the
  * reference's sources (SURVEY.md §1.2) every table's schema is declared,
  * never inferred. A read with a declared schema opens the table without
  * a Spark job: an inferring `spark.read.parquet` starts one to read the
  * file footers before the query computes anything. Filters and column
  * selection applied downstream reach the scan via Catalyst pushdown.
  */
object Tables {

  /** The corpus contract: each table's schema, as Spark reads the
    * generated files under [[graft.core.GraftSession]]'s conf (timestamps
    * are session-UTC `TIMESTAMP`). TablesSpec checks it against the
    * files' own schemas. */
  val schemas: ListMap[String, StructType] = ListMap(
    "region" -> "r_regionkey INT, r_name STRING",
    "nation" -> "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer" -> ("c_custkey BIGINT, c_name STRING, c_nationkey INT, " +
      "c_acctbal DOUBLE, c_mktsegment STRING"),
    "supplier" -> "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part" -> ("p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, " +
      "p_size INT, p_retailprice DOUBLE"),
    "orders" -> ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem" -> ("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, " +
      "l_discount DOUBLE, l_tax DOUBLE, l_returnflag STRING, " +
      "l_linestatus STRING, l_shipdate TIMESTAMP"),
    "events" -> ("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"),
    "documents" -> "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings" -> "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"
  ).map { case (name, ddl) => name -> StructType.fromDDL(ddl) }

  val names: Seq[String] = schemas.keys.toSeq

  /** Parquet scan of corpus table `name` with its declared schema. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schemas(name)).parquet(s"$dir/$name.parquet")

  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
}
