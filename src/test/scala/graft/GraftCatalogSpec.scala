package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{Path => HPath}
import graft.graph.ManifestStore
import graft.sources.{FileStats, GraftPrune}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import graft.core.ScratchDirs

/** The SQL catalog over the graft table format (GraftCatalog /
  * GraftTable): DDL/DML round trips, the metadata-vs-rewrite DELETE
  * declension, copy-on-write group narrowing (untouched files carry by
  * reference), zone-map classification soundness, and interop with
  * ManifestStore.read. */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Fresh uniquely-named catalog (CatalogManager caches per name). */
  private def fresh(tag: String): (String, String) = {
    val cat = s"spec_${tag}_" + java.util.UUID.randomUUID().toString.take(8)
    val root = ScratchDirs.create(s"graft_catspec_$tag")
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE $cat.ns")
    (cat, root)
  }

  private def manifest(root: String, tbl: String): ManifestStore.Manifest = {
    val path = s"$root/ns/$tbl"
    val fs = new HPath(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    ManifestStore.readManifest(fs, path).get
  }

  /** Seed k=1..200 in two range files: file A holds k ≤ 100, file B
    * k > 100 (two single-partition inserts → exactly one file each). */
  private def seedTwoFiles(cat: String): Unit = {
    spark.sql(s"CREATE TABLE $cat.ns.t (k BIGINT, grp STRING, v DOUBLE)")
    def part(lo: Long, hi: Long) = spark.range(lo, hi + 1)
      .select(col("id").as("k"),
        concat(lit("g"), col("id") % 3).as("grp"),
        (col("id") * 1.5).as("v"))
      .coalesce(1)
    part(1, 100).writeTo(s"$cat.ns.t").append()
    part(101, 200).writeTo(s"$cat.ns.t").append()
  }

  test("DDL round trip: create, list, exists, insert, select, drop") {
    val (cat, _) = fresh("ddl")
    spark.sql(s"CREATE TABLE $cat.ns.a (k BIGINT, s STRING)")
    assert(spark.sql(s"SHOW TABLES IN $cat.ns").collect()
      .map(_.getString(1)).toSet == Set("a"))
    // empty table is readable with its schema
    assert(spark.table(s"$cat.ns.a").count() == 0)
    spark.sql(s"INSERT INTO $cat.ns.a VALUES (1, 'x'), (2, NULL), (3, 'z')")
    val got = spark.table(s"$cat.ns.a").orderBy("k")
      .collect().map(r => (r.getLong(0), Option(r.getString(1))))
    assert(got.toSeq == Seq((1L, Some("x")), (2L, None), (3L, Some("z"))))
    spark.sql(s"DROP TABLE $cat.ns.a")
    assert(spark.sql(s"SHOW TABLES IN $cat.ns").collect().isEmpty)
  }

  test("CREATE TABLE declensions: partitioning, nested types, and the " +
      "_file name are rejected at DDL time") {
    val (cat, _) = fresh("ddlx")
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ns.p (k BIGINT, d STRING) " +
        "PARTITIONED BY (d)")
    }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ns.n (k BIGINT, a ARRAY<BIGINT>)")
    }
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ns.f (k BIGINT, _file STRING)")
    }
    assert(spark.sql(s"SHOW TABLES IN $cat.ns").collect().isEmpty,
      "a rejected CREATE must leave nothing behind")
  }

  test("zone-map file pruning: a range predicate on the clustering " +
      "column skips files driver-side (advisory — rows still filtered)") {
    val (cat, _) = fresh("prune")
    seedTwoFiles(cat)
    val df = spark.table(s"$cat.ns.t").filter(col("k") >= 150)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("files=1/2"),
      s"k >= 150 must prune file A (k ≤ 100) from the scan:\n$plan")
    assert(df.count() == 51)
    // and the pruning is advisory: a predicate inside one file's range
    // still returns exact rows
    assert(spark.table(s"$cat.ns.t").filter(col("k") === 42).count() == 1)
  }

  test("metadata-only DELETE: a file-covering predicate drops entries " +
      "without running a rewrite; survivors carry by reference") {
    val (cat, root) = fresh("mdel")
    seedTwoFiles(cat)
    val before = manifest(root, "t")
    assert(before.entries.size == 2)
    val genDirsBefore = dataFiles(root)
    spark.sql(s"DELETE FROM $cat.ns.t WHERE k <= 100")
    val after = manifest(root, "t")
    assert(after.entries.size == 1, "file A must drop from the manifest")
    // survivor carries BY REFERENCE: same generation-relative path
    val survivor = after.entries.head._2
    assert(before.entries.values.toSet.contains(survivor),
      "the surviving file must be the same bytes, not a rewrite")
    // and NO new data file was written anywhere (pure metadata op)
    assert(dataFiles(root) == genDirsBefore,
      "a metadata delete must not stage any file")
    assert(spark.table(s"$cat.ns.t").count() == 100)
  }

  test("copy-on-write DELETE: a mixed predicate rewrites ONLY the " +
      "files holding matching rows (runtime group filter)") {
    val (cat, root) = fresh("cdel")
    seedTwoFiles(cat)
    val before = manifest(root, "t")
    // k in [40, 60] is mixed WITHIN file A and none-match for file B
    spark.sql(s"DELETE FROM $cat.ns.t WHERE k >= 40 AND k <= 60")
    val after = manifest(root, "t")
    assert(after.entries.size == 2)
    val beforeByKey = before.entries
    val carried = after.entries.filter { case (k, v) =>
      beforeByKey.get(k).contains(v)
    }
    assert(carried.size == 1,
      s"exactly one file (B) must carry by reference; " +
        s"before=${before.entries}, after=${after.entries}")
    assert(spark.table(s"$cat.ns.t").count() == 179)
    assert(spark.table(s"$cat.ns.t").filter(col("k").between(40, 60))
      .count() == 0)
  }

  test("UPDATE rewrites only affected groups and applies SET exactly") {
    val (cat, root) = fresh("upd")
    seedTwoFiles(cat)
    val before = manifest(root, "t")
    spark.sql(s"UPDATE $cat.ns.t SET v = v + CAST(1000 AS DOUBLE) " +
      "WHERE k >= 150 AND k <= 160")
    val after = manifest(root, "t")
    val carried = after.entries.count { case (k, v) =>
      before.entries.get(k).contains(v) }
    assert(carried == 1, "file A (k ≤ 100) must carry by reference")
    val got = spark.table(s"$cat.ns.t")
      .agg(sum(when(col("v") >= 1000, 1).otherwise(0)),
        count(lit(1))).collect().head
    assert(got.getLong(0) == 11L && got.getLong(1) == 200L)
    // spot-check an updated and an untouched row
    val r155 = spark.table(s"$cat.ns.t").filter(col("k") === 155)
      .select("v").collect().head.getDouble(0)
    assert(r155 == 155 * 1.5 + 1000)
    val r42 = spark.table(s"$cat.ns.t").filter(col("k") === 42)
      .select("v").collect().head.getDouble(0)
    assert(r42 == 42 * 1.5)
  }

  test("MERGE INTO: conditional update, fall-through delete, insert — " +
      "final state matches the set-algebraic image") {
    val (cat, _) = fresh("mrg")
    spark.sql(s"CREATE TABLE $cat.ns.t (k BIGINT, v DOUBLE)")
    spark.range(1, 11).select(col("id").as("k"),
      (col("id") * 10.0).as("v")).coalesce(1)
      .writeTo(s"$cat.ns.t").append()
    // source: keys 6..15; v' = k * 100
    spark.range(6, 16).select(col("id").as("k"),
      (col("id") * 100.0).as("v")).createOrReplaceTempView("mrg_src")
    spark.sql(s"""
      MERGE INTO $cat.ns.t AS t USING mrg_src AS s ON t.k = s.k
      WHEN MATCHED AND s.v >= 800 THEN UPDATE SET v = s.v
      WHEN MATCHED THEN DELETE
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""")
    // expected: 1..5 untouched (10k), 6..7 deleted (v'=600,700 < 800),
    // 8..10 updated to 800..1000, 11..15 inserted (1100..1500)
    val got = spark.table(s"$cat.ns.t").orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val want = (1L to 5L).map(k => (k, k * 10.0)) ++
      (8L to 10L).map(k => (k, k * 100.0)) ++
      (11L to 15L).map(k => (k, k * 100.0))
    assert(got == want)
  }

  test("TRUNCATE TABLE and INSERT OVERWRITE") {
    val (cat, root) = fresh("trunc")
    seedTwoFiles(cat)
    spark.sql(s"INSERT OVERWRITE $cat.ns.t " +
      "SELECT id AS k, 'g9' AS grp, CAST(0.0 AS DOUBLE) AS v " +
      "FROM range(300, 310)")
    assert(spark.table(s"$cat.ns.t").count() == 10,
      "INSERT OVERWRITE (truncate-style) replaces everything")
    spark.sql(s"TRUNCATE TABLE $cat.ns.t")
    assert(spark.table(s"$cat.ns.t").count() == 0)
    assert(manifest(root, "t").entries.isEmpty)
    // schema survives truncation
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (1, 'a', 1.0)")
    assert(spark.table(s"$cat.ns.t").count() == 1)
  }

  test("interop: ManifestStore.read reads a catalog table (same " +
      "format, file-keyed entries)") {
    val (cat, root) = fresh("iop")
    seedTwoFiles(cat)
    val viaStore = ManifestStore.read(spark, s"$root/ns/t")
    assert(viaStore.schema.fieldNames.toSeq == Seq("k", "grp", "v"))
    assert(viaStore.count() == 200)
    assert(viaStore.agg(sum("k")).collect().head.getLong(0) == 20100L)
  }

  test("empty INSERT is a no-op commit; DELETE matching nothing still " +
      "publishes consistently") {
    val (cat, root) = fresh("empty")
    seedTwoFiles(cat)
    val v0 = manifest(root, "t").version
    spark.range(0, 0).select(col("id").as("k"), lit("g").as("grp"),
      lit(0.0).as("v")).writeTo(s"$cat.ns.t").append()
    assert(manifest(root, "t").version == v0, "empty append must not commit")
    spark.sql(s"DELETE FROM $cat.ns.t WHERE k > 10000")
    assert(spark.table(s"$cat.ns.t").count() == 200)
  }

  test("VERSION AS OF reads the retained pre-delete snapshot; GC'd " +
      "versions and writes to a snapshot fail loudly") {
    val (cat, _) = fresh("tt")
    seedTwoFiles(cat) // v1 create, v2+v3 the two inserts
    spark.sql(s"DELETE FROM $cat.ns.t WHERE k <= 50") // v4
    assert(spark.table(s"$cat.ns.t").count() == 150)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ns.t VERSION AS OF 3")
      .collect().head.getLong(0) == 200,
      "the grace-window previous version must still serve the " +
        "pre-delete rows")
    // v2 aged out of the retained window (GC keeps current + previous)
    val gone = intercept[Exception] {
      spark.sql(s"SELECT COUNT(*) FROM $cat.ns.t VERSION AS OF 2").collect()
    }
    assert(gone.getMessage.contains("not retained") ||
      Option(gone.getCause).exists(_.getMessage.contains("not retained")))
    // a snapshot view is not a write target
    intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.ns.t VERSION AS OF 3 WHERE k > 0")
    }
  }

  test("FunctionCatalog: magic-invoke scalar and mergeable XOR " +
      "aggregate resolve and compute") {
    val (cat, _) = fresh("fn")
    val fp = spark.sql(s"SELECT $cat.ns.fixed_point(12345L, 2) AS v")
    assert(fp.collect().head.getDouble(0) == 123.45)
    // xor64 across a forced multi-partition aggregation: merge() runs
    val x = spark.range(0, 1000).repartition(7)
      .selectExpr(s"$cat.ns.xor64(id) AS sig").collect().head.getLong(0)
    assert(x == (0L until 1000L).reduce(_ ^ _))
    // nulls are skipped, not absorbed into the state
    val withNull = spark.sql(
      s"SELECT $cat.ns.xor64(x) FROM VALUES (CAST(5 AS BIGINT)), " +
        "(CAST(NULL AS BIGINT)), (CAST(9 AS BIGINT)) AS t(x)")
    assert(withNull.collect().head.getLong(0) == (5L ^ 9L))
    intercept[Exception] {
      spark.sql(s"SELECT $cat.ns.no_such_fn(1)").collect()
    }
  }

  test("streaming toTable appends with zone-mapped files, records the " +
      "epoch marker, and a REPLAYED epoch commit is a no-op") {
    val (cat, root) = fresh("sw")
    spark.sql(s"CREATE TABLE $cat.ns.s (k BIGINT, v DOUBLE)")
    val src = ScratchDirs.create("graft_catspec_swsrc")
    spark.range(1, 101).select(col("id").as("k"), (col("id") * 2.0).as("v"))
      .coalesce(1).write.mode("overwrite").parquet(src)
    val ck = ScratchDirs.create("graft_catspec_swck")
    val q = spark.readStream
      .schema("k BIGINT, v DOUBLE").parquet(src)
      .writeStream.option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable(s"$cat.ns.s")
    q.awaitTermination()
    assert(spark.table(s"$cat.ns.s").count() == 100)
    val m = manifest(root, "s")
    val epochKeys = m.props.keys.filter(_.startsWith("graft.lastEpoch."))
    assert(epochKeys.size == 1, s"expected one epoch marker, got ${m.props}")
    val lastEpoch = m.props(epochKeys.head).toLong
    // streamed files carry the same write-time zone maps as batch ones
    val st = graft.sources.GraftTableOps.statsOf(m, m.entries.head._1)
    assert(st.get("k").map(_._1.toLong).contains(1L) &&
      st.get("k").map(_._2.toLong).contains(100L), s"stats: $st")
    // REPLAY the committed epoch directly against the sink: the commit
    // must detect lastEpoch >= epochId and change NOTHING
    val sw = new graft.sources.GraftStreamingWrite(s"$root/ns/s",
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v DOUBLE"),
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, v DOUBLE"),
      epochKeys.head.stripPrefix("graft.lastEpoch."))
    sw.commit(lastEpoch, Array.empty)
    val m2 = manifest(root, "s")
    assert(m2.version == m.version && spark.table(s"$cat.ns.s").count() == 100,
      "a replayed epoch commit must publish nothing")
    // other writers PRESERVE the epoch marker (props carry forward)
    spark.sql(s"DELETE FROM $cat.ns.s WHERE k <= 10")
    assert(manifest(root, "s").props(epochKeys.head).toLong == lastEpoch,
      "a later DELETE must carry the streaming epoch marker forward")
  }

  test("CALL procedures: compact → one zone-mapped file (old snapshot " +
      "retained), snapshots lists the window, vacuum GCs aged orphans") {
    val (cat, root) = fresh("proc")
    seedTwoFiles(cat) // v1 create, v2 + v3 single-file inserts
    val res = spark.sql(s"CALL $cat.sys.compact('ns', 't')").collect().head
    assert((res.getLong(0), res.getLong(1), res.getLong(2)) == ((2L, 1L, 200L)))
    assert(spark.table(s"$cat.ns.t").count() == 200)
    val m = manifest(root, "t")
    assert(m.entries.size == 1)
    // compacted file carries FRESH write-time zone maps
    val st = graft.sources.GraftTableOps.statsOf(m, m.entries.head._1)
    assert(st("k") == (("1", "200")), s"stats: $st")
    // pre-compact snapshot still readable (grace window)
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ns.t VERSION AS OF 3")
      .collect().head.getLong(0) == 200)
    val snaps = spark.sql(s"CALL $cat.sys.snapshots('ns', 't')").collect()
    assert(snaps.map(_.getLong(0)).sorted.toSeq == Seq(3L, 4L),
      "retained window = current + previous")
    // vacuum with a zero grace: the first no-data commit moves the
    // window (keep = v4+v5 = the compacted gen only), the second's GC
    // pass then collects the two insert generations
    spark.conf.set("spark.graft.manifest.orphanGraceMs", "0")
    try {
      spark.sql(s"CALL $cat.sys.vacuum('ns', 't')").collect()
      val v2 = spark.sql(s"CALL $cat.sys.vacuum('ns', 't')").collect().head
      assert(v2.getLong(1) == 1L,
        s"after double vacuum only the live generation remains: $v2")
    } finally spark.conf.unset("spark.graft.manifest.orphanGraceMs")
    assert(spark.table(s"$cat.ns.t").count() == 200)
  }

  test("GraftPrune tri-state classification is sound on every filter " +
      "shape it accepts") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType),
      StructField("d", DoubleType)))
    def st(lo: Long, hi: Long, nulls: Long, rows: Long) = Map(
      "k" -> (lo.toString, hi.toString),
      FileStats.nullsKey("k") -> (nulls.toString, nulls.toString),
      FileStats.ROWS_KEY -> (rows.toString, rows.toString))
    import GraftPrune._
    // range exclusion / inclusion / mixed
    assert(classify(Seq(GreaterThan("k", 100L)), schema, st(1, 50, 0, 10))
      == NoneMatch)
    assert(classify(Seq(GreaterThan("k", 100L)), schema, st(101, 200, 0, 10))
      == AllMatch)
    assert(classify(Seq(GreaterThan("k", 100L)), schema, st(50, 200, 0, 10))
      == Mixed)
    // nulls block AllMatch for value predicates but not NoneMatch
    assert(classify(Seq(GreaterThan("k", 100L)), schema, st(101, 200, 3, 10))
      == Mixed)
    assert(classify(Seq(IsNull("k")), schema, st(1, 5, 0, 10)) == NoneMatch)
    assert(classify(Seq(IsNotNull("k")), schema, st(1, 5, 0, 10)) == AllMatch)
    // all-null column: bounds absent, value predicates match nothing
    val allNull = Map(
      FileStats.nullsKey("k") -> ("10", "10"),
      FileStats.ROWS_KEY -> ("10", "10"))
    assert(classify(Seq(EqualTo("k", 5L)), schema, allNull) == NoneMatch)
    assert(classify(Seq(IsNull("k")), schema, allNull) == AllMatch)
    // conjunction: any NoneMatch wins; Or needs both sides
    assert(classify(Seq(GreaterThan("k", 100L), LessThan("k", 0L)),
      schema, st(101, 200, 0, 10)) == NoneMatch)
    assert(one_(Or(LessThan("k", 0L), GreaterThan("k", 100L)),
      schema, st(101, 200, 0, 10)) == AllMatch)
    // unknown shapes stay Mixed (sound)
    assert(classify(Seq(StringContains("s", "x")), schema, st(1, 5, 0, 10))
      == Mixed)
    // In: all points outside → NoneMatch; point file in set → AllMatch
    assert(classify(Seq(In("k", Array(7L, 9L))), schema, st(10, 20, 0, 5))
      == NoneMatch)
    assert(classify(Seq(In("k", Array(15L, 99L))), schema, st(15, 15, 0, 5))
      == AllMatch)
  }
  private def one_(f: Filter, schema: StructType,
                   st: Map[String, (String, String)]): GraftPrune.Cls =
    GraftPrune.classify(Seq(f), schema, st)

  test("Not inversion respects three-valued logic: NoneMatch only " +
      "inverts to AllMatch when the negation is null-safe") {
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("s", StringType)))
    def st(lo: Long, hi: Long, nulls: Long, rows: Long) = Map(
      "k" -> (lo.toString, hi.toString),
      FileStats.nullsKey("k") -> (nulls.toString, nulls.toString),
      FileStats.ROWS_KEY -> (rows.toString, rows.toString))
    import GraftPrune._
    // the ADVICE case: `NOT (k = 5)` over a file whose non-null values
    // all avoid 5 but which holds NULLs — a NULL row satisfies NEITHER
    // side, so "all rows match NOT(k=5)" is false: must be Mixed, or a
    // metadata DELETE would drop NULL rows that survive
    assert(one_(Not(EqualTo("k", 5L)), schema, st(10, 20, 3, 10)) == Mixed)
    assert(one_(Not(In("k", Array(5L, 6L))), schema, st(10, 20, 3, 10))
      == Mixed)
    // zero nulls → the inversion is exact again
    assert(one_(Not(EqualTo("k", 5L)), schema, st(10, 20, 0, 10))
      == AllMatch)
    // null-aware shapes negate exactly even with nulls present
    assert(one_(Not(IsNull("k")), schema, st(10, 20, 3, 10)) == Mixed)
    assert(one_(Not(IsNull("k")), schema,
      Map(FileStats.nullsKey("k") -> ("0", "0"),
        FileStats.ROWS_KEY -> ("10", "10"),
        "k" -> ("1", "2"))) == AllMatch)
    // <=> matches nulls to neither side of a non-null literal, so
    // NOT(k <=> 5) IS satisfied by NULL rows: AllMatch stands
    assert(one_(Not(EqualNullSafe("k", 5L)), schema, st(10, 20, 3, 10))
      == AllMatch)
    // AllMatch -> NoneMatch stays exact (AllMatch already needs 0 nulls)
    assert(one_(Not(GreaterThan("k", 5L)), schema, st(10, 20, 0, 10))
      == NoneMatch)
  }

  test("double zone-map bounds use the total order: NaN is the largest " +
      "value and -0.0 sorts below 0.0 (IEEE `<` would mis-prune)") {
    val schema = StructType(Seq(StructField("d", DoubleType)))
    val stats = new FileStats(schema)
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(1)
    for (v <- Seq(1.0, Double.NaN, -0.0, 0.0, 2.5)) {
      row.update(0, v); stats.observe(row)
    }
    val r = stats.result()
    // NaN must land in the max (Spark/TotalOrdering treats it as the
    // largest double); under IEEE `<` it would vanish from the bounds
    // and `d > 1e9` would classify the file NoneMatch despite a
    // matching NaN row
    assert(r("d")._2 == "NaN")
    assert(r("d")._1 == "-0.0")
    import GraftPrune._
    assert(GraftPrune.classify(Seq(GreaterThan("d", 1e9)), schema,
      r) != NoneMatch)
    // and a file really containing only finite values still prunes
    val fin = new FileStats(schema)
    for (v <- Seq(1.0, 2.5)) { row.update(0, v); fin.observe(row) }
    assert(GraftPrune.classify(Seq(GreaterThan("d", 1e9)), schema,
      fin.result()) == NoneMatch)
  }

  test("manifest entry keys are generation-scoped: a re-minted task " +
      "file name from a fresh JVM can never evict an older entry") {
    val (cat, root) = fresh("keys")
    spark.sql(s"CREATE TABLE $cat.ns.t (k BIGINT)")
    val path = s"$root/ns/t"
    // two commits staging the IDENTICAL task file name (what two
    // different applications both writing part-00000-0.parquet produce)
    def stage(gen: String): Unit = {
      val m = manifest(root, "t")
      graft.sources.GraftTableOps.publishStaged(spark, path, m, gen,
        Seq(graft.sources.GraftFileCommit("part-00000-0.parquet", 1L,
          Map(FileStats.ROWS_KEY -> ("1", "1")))),
        replaced = Set.empty, extraProps = Map.empty)
    }
    stage("_gen/g00000002-aaaaaaaa")
    stage("_gen/g00000003-bbbbbbbb")
    val m = manifest(root, "t")
    assert(m.entries.size == 2, s"second commit evicted the first: ${m.entries}")
    assert(m.entries.keys.toSet.size == 2)
  }

  test("row-level scan-to-commit OCC: a COW write computed from a " +
      "stale snapshot fails loudly instead of resurrecting rows") {
    val (cat, root) = fresh("occ")
    spark.sql(s"CREATE TABLE $cat.ns.t (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (1), (2)")
    val path = s"$root/ns/t"
    val schema = StructType(Seq(StructField("k", LongType)))
    val op = new graft.sources.GraftRowLevelOperation(path, schema,
      org.apache.spark.sql.connector.write.RowLevelOperation.Command.DELETE)
    val scan = op.newScanBuilder(
      org.apache.spark.sql.util.CaseInsensitiveStringMap.empty()).build()
    scan.toBatch.planInputPartitions() // snapshot resolved, version recorded
    // the head moves between scan and commit
    spark.sql(s"INSERT INTO $cat.ns.t VALUES (3)")
    val write = new graft.sources.GraftBatchWrite(path, schema, schema,
      overwrite = false, rowLevel = Some(op))
    intercept[java.util.ConcurrentModificationException] {
      write.commit(Array.empty)
    }
  }

  test("runtime group filter parses the single-file EqualTo shape and " +
      "narrows the scan to exactly that file") {
    val (cat, root) = fresh("rtf")
    seedTwoFiles(cat)
    val m = manifest(root, "t")
    val oneRel = m.entries.values.toSeq.sorted.head
    val schema = spark.table(s"$cat.ns.t").schema
    val scan = new graft.sources.GraftScan(s"$root/ns/t", schema,
      schema, Array.empty, rowLevel = None)
    scan.filter(Array[Filter](EqualTo("_file", oneRel)))
    assert(scan.toBatch.planInputPartitions().length == 1)
  }

  test("a file in the earlier hand-built layout (all-optional fields, no " +
      "Spark row metadata) reads: rows, _file groups and COUNT(*)") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val (cat, root) = fresh("oldfmt")
    spark.sql(s"CREATE TABLE $cat.ns.t (k BIGINT, i INT, d DOUBLE, " +
      "s STRING, b BOOLEAN, dt DATE)")
    val path = s"$root/ns/t"
    val gen = "_gen/g00000002-0ldf0rma"
    val mt = MessageTypeParser.parseMessageType("""message graft {
      optional int64 k; optional int32 i; optional double d;
      optional binary s (STRING); optional boolean b;
      optional int32 dt (DATE); }""")
    val conf = spark.sessionState.newHadoopConf()
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new HPath(s"$path/$gen/part-00000-0.parquet"), conf))
      .withType(mt).withConf(conf).build()
    val day = java.time.LocalDate.of(2024, 1, 1)
    val g = new SimpleGroupFactory(mt)
    // row 2 is null in five types, row 3 in the sixth (k)
    w.write(g.newGroup().append("k", 1L).append("i", 10).append("d", 1.5)
      .append("s", "a").append("b", true).append("dt", day.toEpochDay.toInt))
    w.write(g.newGroup().append("k", 2L))
    w.write(g.newGroup().append("i", 30).append("d", 3.5).append("s", "c")
      .append("b", false).append("dt", day.plusDays(2).toEpochDay.toInt))
    w.close()
    graft.sources.GraftTableOps.publishStaged(spark, path,
      manifest(root, "t"), gen,
      Seq(graft.sources.GraftFileCommit("part-00000-0.parquet", 3L,
        Map("__rows" -> ("3", "3")))),
      replaced = Set.empty, extraProps = Map.empty)

    val rows = spark.sql(s"SELECT * FROM $cat.ns.t ORDER BY k NULLS FIRST")
      .collect().map(_.toSeq).toSeq
    assert(rows == Seq(
      Seq(null, 30, 3.5, "c", false, java.sql.Date.valueOf(day.plusDays(2))),
      Seq(1L, 10, 1.5, "a", true, java.sql.Date.valueOf(day)),
      Seq(2L, null, null, null, null, null)))
    assert(spark.sql(s"SELECT _file, count(*) FROM $cat.ns.t GROUP BY 1")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      == Seq((s"$gen/part-00000-0.parquet", 3L)))
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.ns.t")
      .collect().head.getLong(0) == 3L)
  }

  test("renameTable is exclusive (destination exists → loud failure) " +
      "and a clean rename carries the table") {
    val (cat, _) = fresh("ren")
    spark.sql(s"CREATE TABLE $cat.ns.a (k BIGINT)")
    spark.sql(s"INSERT INTO $cat.ns.a VALUES (7)")
    spark.sql(s"CREATE TABLE $cat.ns.b (k BIGINT)")
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.ns.a RENAME TO ns.b")
    }
    spark.sql(s"ALTER TABLE $cat.ns.a RENAME TO ns.c")
    assert(spark.table(s"$cat.ns.c").collect().map(_.getLong(0)).toSeq
      == Seq(7L))
  }

  test("namespace properties are rejected loudly, not silently dropped " +
      "(Spark's reserved owner property excepted)") {
    val (cat, _) = fresh("nsprops")
    intercept[Exception] {
      spark.sql(s"CREATE NAMESPACE $cat.ns2 WITH PROPERTIES ('x'='1')")
    }
    // plain CREATE NAMESPACE (Spark injects only the reserved owner)
    spark.sql(s"CREATE NAMESPACE $cat.ns3")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).contains("ns3"))
  }

  /** Every data file currently on disk under the table root. */
  private def dataFiles(root: String): Set[String] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(s"$root/ns/t"))
      .map(_.toString).filter(_.endsWith(".parquet")).toSet
  }
}
