package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import QH._

/** Round-15 SQL-catalog family: the graft table format behind a full
  * DataSourceV2 [[org.apache.spark.sql.connector.catalog.TableCatalog]]
  * (graft.sources.GraftCatalog) — CREATE/INSERT/SELECT plus the
  * row-level commands (DELETE / UPDATE / MERGE INTO) that make a table
  * format a TABLE rather than a directory of files. Each query stands
  * up a fresh single-use catalog over a temp root (catalog instances
  * are cached per name by Spark's CatalogManager, so reruns get a
  * fresh name, never a stale root), loads real corpus rows through the
  * V2 write path (range-clustered so every file lands with sharp
  * write-time zone maps), runs the SQL command under test, and gates
  * the table's final state against a DuckDB oracle computing the same
  * end state directly from the source parquet.
  *
  * Scale shape (GraftCatalogSpec pins the mechanics): INSERT commits
  * are manifest appends; DELETE/UPDATE/MERGE are group-based
  * copy-on-write where the runtime group filter narrows the rewrite to
  * exactly the files holding matching rows — untouched files carry
  * forward by reference, so command cost is O(affected files), not
  * O(table). A zone-map-decidable DELETE never runs a job at all
  * (metadata-only declension via SupportsDelete).
  */
object CatalogQueries {

  /** Register a fresh uniquely-named catalog over a temp root. */
  private def freshCatalog(s: SparkSession, tag: String): String = {
    val cat = s"graftcat_${tag}_" +
      java.util.UUID.randomUUID().toString.take(8)
    val root = graft.core.ScratchDirs.create(s"cat_${tag}_")
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.sql(s"CREATE NAMESPACE $cat.lab")
    cat
  }

  /** Exact decimal sum surfaced as double — SQL form of QH.decSum,
    * identical text on both engines. */
  private val SUMP =
    "CAST(CAST(SUM(CAST(%s AS DECIMAL(28,6))) AS STRING) AS DOUBLE)"

  val qs: Seq[Q] = Seq(
    // CREATE TABLE + INSERT INTO + SELECT through the catalog: the
    // round-trip DDL/DML floor every other command builds on. The
    // insert range-clusters on the filter column so the files land
    // with disjoint zone maps and the SELECT's range predicate prunes
    // files driver-side (advisory pruning — Spark still re-filters
    // rows; the executed-file pin lives in GraftCatalogSpec).
    Q("q304_catalog_sql_table",
      (s, d) => {
        val cat = freshCatalog(s, "t")
        s.sql(s"CREATE TABLE $cat.lab.ord (o_orderkey BIGINT, " +
          "o_custkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING)")
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
            col("o_orderstatus"))
          .repartitionByRange(8, col("o_orderkey"))
          .writeTo(s"$cat.lab.ord").append()
        s.sql(s"""
          SELECT o_orderstatus, COUNT(*) AS n,
            ${SUMP.format("o_totalprice")} AS total
          FROM $cat.lab.ord
          WHERE o_orderkey <= 30000
          GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      },
      Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS total
        FROM orders WHERE o_orderkey <= 30000
        GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // SQL DELETE FROM, copy-on-write path: the predicate is mixed
    // within files (quantity and returnflag do not follow the
    // o_orderkey clustering), so the metadata declension declines and
    // Spark plans the group-based rewrite — runtime group filter finds
    // the files with matching rows, exactly those are rewritten minus
    // the deleted rows, everything else carries by reference. The
    // oracle computes the surviving set directly.
    Q("q305_catalog_sql_delete",
      (s, d) => {
        val cat = freshCatalog(s, "del")
        s.sql(s"CREATE TABLE $cat.lab.li (l_orderkey BIGINT, " +
          "l_quantity DOUBLE, l_extendedprice DOUBLE, l_returnflag STRING)")
        t(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_quantity"),
            col("l_extendedprice"), col("l_returnflag"))
          .repartitionByRange(8, col("l_orderkey"))
          .writeTo(s"$cat.lab.li").append()
        s.sql(s"DELETE FROM $cat.lab.li " +
          "WHERE l_quantity < 10 AND l_returnflag = 'A'")
        s.sql(s"""
          SELECT l_returnflag, COUNT(*) AS n,
            ${SUMP.format("l_extendedprice")} AS revenue
          FROM $cat.lab.li GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""
        SELECT l_returnflag, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS revenue
        FROM lineitem WHERE NOT (l_quantity < 10 AND l_returnflag = 'A')
        GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // SQL UPDATE, copy-on-write: matched rows rewritten with the SET
    // expression applied, unmatched rows of affected files copied
    // through bit-identical, unaffected files untouched. The oracle is
    // the CASE WHEN image of the same update.
    Q("q306_catalog_sql_update",
      (s, d) => {
        val cat = freshCatalog(s, "upd")
        s.sql(s"CREATE TABLE $cat.lab.ord (o_orderkey BIGINT, " +
          "o_totalprice DOUBLE, o_orderstatus STRING)")
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            col("o_orderstatus"))
          .repartitionByRange(8, col("o_orderkey"))
          .writeTo(s"$cat.lab.ord").append()
        s.sql(s"UPDATE $cat.lab.ord " +
          "SET o_totalprice = o_totalprice * CAST(1.1 AS DOUBLE) " +
          "WHERE o_orderstatus = 'F'")
        s.sql(s"""
          SELECT o_orderstatus, COUNT(*) AS n,
            ${SUMP.format("o_totalprice")} AS total
          FROM $cat.lab.ord GROUP BY o_orderstatus ORDER BY o_orderstatus""")
      },
      Some("""
        SELECT o_orderstatus, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(CASE WHEN o_orderstatus = 'F'
            THEN o_totalprice * CAST(1.1 AS DOUBLE) ELSE o_totalprice END
            AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS total
        FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")),

    // MERGE INTO — the full three-clause upsert (conditional UPDATE,
    // fall-through DELETE, NOT MATCHED INSERT) against a unique-key
    // target, the CDC-apply written as ONE SQL command instead of the
    // applyChanges machinery. The oracle reconstructs the merged state
    // set-algebraically: kept-or-updated target rows plus inserted
    // source rows.
    Q("q307_catalog_sql_merge",
      (s, d) => {
        val cat = freshCatalog(s, "mrg")
        s.sql(s"CREATE TABLE $cat.lab.acct (k BIGINT, status STRING, " +
          "price DOUBLE)")
        val orders = t(s, d, "orders")
        orders.filter(col("o_orderkey") % 4 =!= 3)
          .select(col("o_orderkey").as("k"),
            col("o_orderstatus").as("status"),
            col("o_totalprice").as("price"))
          .repartitionByRange(8, col("k"))
          .writeTo(s"$cat.lab.acct").append()
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey").as("k"),
            (col("o_totalprice") + lit(100.0)).as("price"))
          .createOrReplaceTempView("q307_src")
        s.sql(s"""
          MERGE INTO $cat.lab.acct AS t USING q307_src AS s ON t.k = s.k
          WHEN MATCHED AND s.price > 150000 THEN UPDATE SET price = s.price
          WHEN MATCHED THEN DELETE
          WHEN NOT MATCHED THEN INSERT (k, status, price)
            VALUES (s.k, 'N', s.price)""")
        s.sql(s"""
          SELECT status, COUNT(*) AS n, ${SUMP.format("price")} AS total
          FROM $cat.lab.acct GROUP BY status ORDER BY status""")
      },
      Some("""
        WITH t AS (
          SELECT o_orderkey AS k, o_orderstatus AS status,
            o_totalprice AS price
          FROM orders WHERE o_orderkey % 4 <> 3),
        s AS (
          SELECT o_orderkey AS k,
            o_totalprice + CAST(100.0 AS DOUBLE) AS price
          FROM orders WHERE o_orderkey % 2 = 0),
        merged AS (
          SELECT t.k, t.status,
            CASE WHEN s.k IS NOT NULL AND s.price > 150000
              THEN s.price ELSE t.price END AS price
          FROM t LEFT JOIN s USING (k)
          WHERE s.k IS NULL OR s.price > 150000
          UNION ALL
          SELECT s.k, 'N' AS status, s.price
          FROM s LEFT JOIN t USING (k) WHERE t.k IS NULL)
        SELECT status, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(price AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS total
        FROM merged GROUP BY status ORDER BY status""")),

    // V2 FUNCTION CATALOG — catalog-scoped SQL functions, both halves
    // of the contract: fixed_point is a SCALAR function bound through
    // the magic `invoke` method (codegen compiles the call to a direct
    // unboxed invocation — the reference's integer-ticks × 10^-exp
    // decimal conversion as a first-class SQL function), xor64 is an
    // AGGREGATE function (newAggregationState/update/merge) whose XOR
    // merge is exactly associative-commutative, so Spark's partial
    // aggregation is lossless — the order-independent content
    // signature a dataset diff wants. The row hash under the XOR is
    // the portable-md5 device, so DuckDB replays the exact signature
    // with bit_xor.
    Q("q308_catalog_sql_functions",
      (s, d) => {
        val cat = freshCatalog(s, "fn")
        t(s, d, "lineitem").createOrReplaceTempView("q308_li")
        s.sql(s"""
          SELECT l_returnflag,
            $cat.lab.xor64(cast(conv(substring(md5(
              cast(l_orderkey as string) || '|' ||
              cast(l_linenumber as string)), 1, 15), 16, 10) as bigint))
              AS sig,
            CAST(CAST(SUM(CAST($cat.lab.fixed_point(
              CAST(ROUND(l_extendedprice * 100) AS BIGINT), 2)
              AS DECIMAL(28,6))) AS STRING) AS DOUBLE) AS total
          FROM q308_li GROUP BY l_returnflag ORDER BY l_returnflag""")
      },
      Some("""
        SELECT l_returnflag,
          BIT_XOR(LIST_REDUCE(
            LIST_TRANSFORM(SPLIT(SUBSTRING(MD5(
              CAST(l_orderkey AS VARCHAR) || '|' ||
              CAST(l_linenumber AS VARCHAR)), 1, 15), ''),
              c -> CAST(POSITION(c IN '0123456789abcdef') - 1 AS BIGINT)),
            (a, x) -> a * 16 + x)) AS sig,
          CAST(CAST(SUM(CAST(
            CAST(ROUND(l_extendedprice * 100) AS BIGINT) / POWER(10, 2)
            AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS total
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")),

    // SQL TIME TRAVEL — `VERSION AS OF` against the manifest's retained
    // window (current + the grace-window previous, the same snapshot a
    // concurrent reader of a just-replaced version holds): one query
    // reads the table BOTH after a DELETE and as the pre-delete
    // snapshot. At 100 TB this is a manifest-pointer read — time travel
    // costs one JSON lookup, never a data copy.
    Q("q309_catalog_time_travel",
      (s, d) => {
        val cat = freshCatalog(s, "tt")
        s.sql(s"CREATE TABLE $cat.lab.n (k BIGINT, name STRING, " +
          "region BIGINT)") // v1
        t(s, d, "nation")
          .select(col("n_nationkey").cast("long").as("k"),
            col("n_name").as("name"),
            col("n_regionkey").cast("long").as("region"))
          .coalesce(1)
          .writeTo(s"$cat.lab.n").append() // v2
        s.sql(s"DELETE FROM $cat.lab.n WHERE region = 2") // v3
        s.sql(s"""
          SELECT 'now' AS snap, COUNT(*) AS n, SUM(k) AS sum_k
          FROM $cat.lab.n
          UNION ALL
          SELECT 'v2' AS snap, COUNT(*) AS n, SUM(k) AS sum_k
          FROM $cat.lab.n VERSION AS OF 2
          ORDER BY snap""")
      },
      Some("""
        SELECT 'now' AS snap, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(n_nationkey) AS BIGINT) AS sum_k
        FROM nation WHERE n_regionkey <> 2
        UNION ALL
        SELECT 'v2' AS snap, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(n_nationkey) AS BIGINT) AS sum_k
        FROM nation
        ORDER BY snap""")),

    // STREAMING APPEND INTO A CATALOG TABLE — `writeStream.toTable`
    // through the V2 STREAMING_WRITE contract: each epoch's tasks stage
    // files under an epoch-suffixed generation dir and the epoch commit
    // publishes them WITH the `graft.lastEpoch.<queryId>` marker in the
    // manifest props, so a replayed micro-batch (driver restart inside
    // the sink-commit/checkpoint-commit window) is a detected no-op —
    // the transactional-sink exactly-once device, as one manifest
    // commit. The streamed files carry the same write-time zone maps as
    // batch inserts (GraftCatalogSpec pins both the epoch dedup and the
    // stats). The oracle recomputes the projection aggregate straight
    // from the events table.
    Q("q310_catalog_streaming_write",
      (s, d) => {
        val cat = freshCatalog(s, "sw")
        s.sql(s"CREATE TABLE $cat.lab.ev (event_id BIGINT, " +
          "event_type STRING, d DATE, value DOUBLE)")
        val ck = graft.core.ScratchDirs.create("q310_ck_")
        val q = StreamRig.eventsFeed(s, d)()
          .select(col("event_id"), col("event_type"),
            to_date(col("ts")).as("d"), col("value"))
          .writeStream
          .option("checkpointLocation", ck)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.lab.ev")
        q.awaitTermination()
        s.sql(s"""
          SELECT event_type, COUNT(*) AS n,
            ${SUMP.format("value")} AS total,
            MIN(d) AS first_d, MAX(d) AS last_d
          FROM $cat.lab.ev GROUP BY event_type ORDER BY event_type""")
      },
      Some("""
        SELECT event_type, COUNT(*) AS n,
          CAST(CAST(SUM(CAST(value AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS total,
          MIN(CAST(ts AS DATE)) AS first_d, MAX(CAST(ts AS DATE)) AS last_d
        FROM events GROUP BY event_type ORDER BY event_type""")),

    // SQL CALL PROCEDURES — the ProcedureCatalog leg of the V2 surface
    // (the OPTIMIZE verb every table format grows): two single-file
    // appends land two live files, `CALL cat.sys.compact('lab','li')`
    // rewrites them into ONE zone-mapped file through the normal
    // catalog write path (read via the plain store scan, so the
    // self-overwrite analyzes; one atomic manifest swap; the
    // pre-compact version stays time-travel-readable in the grace
    // window), and the procedure's RESULT SET reports
    // files_before/files_after/rows. The query returns that result row
    // crossed with a data-intact aggregate; the oracle knows all of it
    // from lineitem alone.
    Q("q311_catalog_compact_procedure",
      (s, d) => {
        val cat = freshCatalog(s, "cp")
        s.sql(s"CREATE TABLE $cat.lab.ord (o_orderkey BIGINT, " +
          "o_totalprice DOUBLE)")
        val ord = t(s, d, "orders")
          .select(col("o_orderkey"), col("o_totalprice"))
        ord.filter(col("o_orderkey") % 2 === 0).coalesce(1)
          .writeTo(s"$cat.lab.ord").append()
        ord.filter(col("o_orderkey") % 2 =!= 0).coalesce(1)
          .writeTo(s"$cat.lab.ord").append()
        val call = s.sql(s"CALL $cat.sys.compact('lab', 'ord')")
          .toDF("files_before", "files_after", "n_rows")
        val intact = s.sql(s"""
          SELECT COUNT(*) AS n, ${SUMP.format("o_totalprice")} AS total
          FROM $cat.lab.ord""")
        call.crossJoin(intact)
      },
      Some("""
        SELECT CAST(2 AS BIGINT) AS files_before,
          CAST(1 AS BIGINT) AS files_after,
          CAST(COUNT(*) AS BIGINT) AS n_rows,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(28,6))) AS VARCHAR) AS DOUBLE) AS total
        FROM orders"""))
  )
}
