package graft.sources

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.graph.ManifestStore

/** SQL `CALL` maintenance procedures for the graft catalog — the
  * [[org.apache.spark.sql.connector.catalog.ProcedureCatalog]] leg of
  * the V2 surface (the OPTIMIZE/VACUUM/DESCRIBE-HISTORY verbs every
  * table format grows), namespaced under `<catalog>.sys.*`:
  *
  *  - `compact(ns, tbl)`: rewrite the table's live files into one —
  *    the snapshot is read through the plain ManifestStore path (a
  *    parquet scan with no V2 self-reference, so the INSERT OVERWRITE
  *    back into the same table analyzes cleanly) and lands through the
  *    normal catalog write, so the compacted file carries fresh
  *    write-time zone maps and the swap is one atomic manifest commit;
  *    the pre-compact version stays readable in the grace window.
  *    (A production compactor would target a file SIZE rather than
  *    count-one — the seam is the same write path.)
  *  - `vacuum(ns, tbl)`: republish the current state (a no-data
  *    commit), which runs the publish-time GC pass — unreferenced
  *    generation dirs older than the orphan grace window collect, and
  *    the result row reports dirs before/after.
  *  - `snapshots(ns, tbl)`: one row per RETAINED manifest version
  *    (version, files, rows) — the DESCRIBE HISTORY of the retained
  *    window, answered entirely from manifest JSON.
  *
  * Each returns its summary as a result set via [[LocalScan]] (the
  * rows are metadata-sized by construction). Procedures are
  * driver-side orchestration; the only data movement is compact's
  * rewrite, which is O(table) by definition of compaction.
  */
object GraftProcedures {
  val names: Seq[String] = Seq("compact", "vacuum", "snapshots")

  def load(catName: String, root: String, name: String)
      : Option[UnboundProcedure] = name match {
    case "compact" => Some(new CompactProcedure(catName, root))
    case "vacuum" => Some(new VacuumProcedure(root))
    case "snapshots" => Some(new SnapshotsProcedure(root))
    case _ => None
  }

  private[sources] def tableArgs(input: InternalRow): (String, String) =
    (input.getUTF8String(0).toString, input.getUTF8String(1).toString)

  private[sources] val TABLE_PARAMS: Array[ProcedureParameter] = Array(
    ProcedureParameter.in("ns", StringType).build(),
    ProcedureParameter.in("tbl", StringType).build())

  private[sources] def resultScan(schema: StructType,
                                  data: Array[InternalRow]): Iterator[Scan] =
    Iterator.single(new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = data
    })

  private[sources] def rowsOf(m: ManifestStore.Manifest): Long =
    m.fileStats.values.flatMap(_.values)
      .flatMap(_.get(FileStats.ROWS_KEY)).map(_._1.toLong).sum

  private[sources] def genDirs(spark: SparkSession, root: String): Long = {
    val gen = new HPath(s"$root/_gen")
    val fs = gen.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(gen)) 0L else fs.listStatus(gen).count(_.isDirectory).toLong
  }
}

class CompactProcedure(catName: String, root: String)
    extends UnboundProcedure {
  override def name(): String = "compact"
  override def description(): String =
    "compact(ns, tbl): rewrite all live files into one zone-mapped file"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "compact"
      override def description(): String = CompactProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] =
        GraftProcedures.TABLE_PARAMS
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val (ns, tbl) = GraftProcedures.tableArgs(input)
        val path = s"$root/$ns/$tbl"
        val spark = SparkSession.active
        val before = GraftTableOps.manifestOf(spark, path)
        if (before.entries.size > 1) {
          // snapshot through the PLAIN store read (parquet scan, no V2
          // self-reference) so overwriting the table we read analyzes
          ManifestStore.read(spark, path)
            .coalesce(1)
            .writeTo(s"`$catName`.`$ns`.`$tbl`")
            .overwrite(lit(true))
        }
        val after = GraftTableOps.manifestOf(spark, path)
        val row = new GenericInternalRow(Array[Any](
          before.entries.size.toLong, after.entries.size.toLong,
          GraftProcedures.rowsOf(after)))
        scala.jdk.CollectionConverters.IteratorHasAsJava(
          GraftProcedures.resultScan(
            StructType.fromDDL(
              "files_before BIGINT, files_after BIGINT, rows BIGINT"),
            Array(row))).asJava
      }
    }
}

class VacuumProcedure(root: String) extends UnboundProcedure {
  override def name(): String = "vacuum"
  override def description(): String =
    "vacuum(ns, tbl): no-data commit that GCs aged unreferenced generations"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "vacuum"
      override def description(): String = VacuumProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] =
        GraftProcedures.TABLE_PARAMS
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val (ns, tbl) = GraftProcedures.tableArgs(input)
        val path = s"$root/$ns/$tbl"
        val spark = SparkSession.active
        val m = GraftTableOps.manifestOf(spark, path)
        val gensBefore = GraftProcedures.genDirs(spark, path)
        ManifestStore.publish(spark, path, m, Some(m))
        val gensAfter = GraftProcedures.genDirs(spark, path)
        val row = new GenericInternalRow(Array[Any](gensBefore, gensAfter))
        scala.jdk.CollectionConverters.IteratorHasAsJava(
          GraftProcedures.resultScan(
            StructType.fromDDL("gens_before BIGINT, gens_after BIGINT"),
            Array(row))).asJava
      }
    }
}

class SnapshotsProcedure(root: String) extends UnboundProcedure {
  override def name(): String = "snapshots"
  override def description(): String =
    "snapshots(ns, tbl): the retained manifest versions (version, files, rows)"
  override def bind(inputType: StructType): BoundProcedure =
    new BoundProcedure {
      override def name(): String = "snapshots"
      override def description(): String =
        SnapshotsProcedure.this.description()
      override def parameters(): Array[ProcedureParameter] =
        GraftProcedures.TABLE_PARAMS
      override def isDeterministic: Boolean = false
      override def call(input: InternalRow): java.util.Iterator[Scan] = {
        val (ns, tbl) = GraftProcedures.tableArgs(input)
        val path = s"$root/$ns/$tbl"
        val spark = SparkSession.active
        val fs = new HPath(path)
          .getFileSystem(spark.sessionState.newHadoopConf())
        val versions = ManifestStore.versions(fs, path)
        require(versions.nonEmpty, s"no table at $path")
        val rows = versions.toArray.flatMap(v =>
          ManifestStore.readManifestAt(fs, path, v)).map { m =>
          new GenericInternalRow(Array[Any](m.version,
            m.entries.size.toLong, GraftProcedures.rowsOf(m)))
            : InternalRow
        }
        scala.jdk.CollectionConverters.IteratorHasAsJava(
          GraftProcedures.resultScan(
            StructType.fromDDL("version BIGINT, files BIGINT, rows BIGINT"),
            rows)).asJava
      }
    }
}
