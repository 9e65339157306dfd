package graft.sources

import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.graph.ManifestStore

/** SQL face of the graft table format — a DataSourceV2 [[TableCatalog]]
  * over [[graft.graph.ManifestStore]] tables, so the format the DAG
  * runner materializes into is also ADDRESSABLE: register
  *
  *   spark.sql.catalog.lake      = graft.sources.GraftCatalog
  *   spark.sql.catalog.lake.root = <dir>
  *
  * and `CREATE TABLE lake.ns.t (...)`, `INSERT INTO`, `SELECT`,
  * `DELETE FROM`, `UPDATE`, `MERGE INTO`, `TRUNCATE TABLE` all work —
  * the Delta/Iceberg-class SQL surface, implemented on the PUBLIC V2
  * contracts only ([[SupportsRowLevelOperations]] for copy-on-write
  * DELETE/UPDATE/MERGE with runtime group filtering,
  * [[SupportsDelete]] for the metadata-only declension,
  * [[TruncatableTable]], SupportsTruncate overwrite).
  *
  * Catalog tables ARE ManifestStore tables (same `_manifest/vN.json`
  * commit log, same atomic rename publish, same GC/grace semantics —
  * `ManifestStore.read(spark, path)` reads one interchangeably), with
  * one layout difference: entries are keyed per FILE (`file=<name>` →
  * generation-relative path) instead of per hive partition tuple, and
  * every file carries write-time zone maps + null counts in
  * `fileStats` (see [[FileStats]]). Files are read and written by
  * Spark's own parquet reader and writer, as ManifestStore's are; the
  * catalog adds the manifest, the zone maps and the V2 surface. The
  * partitioned-upsert / deletion-vector surface stays on the Scala API
  * where its partition discipline lives; `CREATE TABLE ... PARTITIONED
  * BY` is rejected loudly rather than half-supported.
  *
  * Scale shape: every metadata decision (file pruning, metadata-only
  * delete, truncate) is a driver-side scan of |files| manifest
  * entries — no filesystem listing, no footer reads; data movement is
  * only ever the affected files (copy-on-write rewrites replace
  * exactly the file groups the runtime group filter matched).
  * Concurrency: commits go through [[ManifestStore.publish]]'s OCC
  * head-check + exclusive rename — a racing writer loses loudly with
  * `ConcurrentModificationException`, never silently.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with ProcedureCatalog {
  private var catName: String = _
  private var root: String = _

  private def spark: SparkSession = SparkSession.active
  private def fs: FileSystem =
    new HPath(root).getFileSystem(spark.sessionState.newHadoopConf())

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"graft catalog '$name' needs spark.sql.catalog.$name.root"))
  }
  override def name(): String = catName

  private def nsPath(ns: Array[String]): String =
    (root +: ns).mkString("/")
  private[sources] def tablePath(ident: Identifier): String =
    (root +: ident.namespace() :+ ident.name()).mkString("/")

  // ---- namespaces: one directory level per namespace segment --------
  override def listNamespaces(): Array[Array[String]] = {
    val r = new HPath(root)
    if (!fs.exists(r)) Array.empty
    else fs.listStatus(r).filter(_.isDirectory)
      .map(s => Array(s.getPath.getName)).sortBy(_.head)
  }
  override def listNamespaces(namespace: Array[String])
      : Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)
  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || fs.exists(new HPath(nsPath(namespace)))
  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] =
    if (namespaceExists(namespace)) util.Collections.emptyMap()
    else throw new NoSuchNamespaceException(namespace)
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    // consistent with alterNamespace: namespaces carry NO mutable
    // metadata, so user properties are rejected loudly instead of
    // silently dropped. Spark itself injects the reserved `owner`
    // property on every CREATE NAMESPACE — that one is ignored.
    val userProps = metadata.asScala.keys
      .filterNot(_ == SupportsNamespaces.PROP_OWNER)
    if (userProps.nonEmpty)
      throw new UnsupportedOperationException(
        "graft catalog namespaces carry no mutable metadata; " +
          s"got properties ${userProps.mkString(", ")}")
    if (namespaceExists(namespace))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(namespace)
    fs.mkdirs(new HPath(nsPath(namespace)))
  }
  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces carry no mutable metadata")
  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val p = new HPath(nsPath(namespace))
    if (!fs.exists(p)) false
    else {
      if (!cascade && listTables(namespace).nonEmpty)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty; " +
            "use DROP NAMESPACE ... CASCADE")
      fs.delete(p, true)
    }
  }

  // ---- tables --------------------------------------------------------
  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace))
      throw new NoSuchNamespaceException(namespace)
    val p = new HPath(nsPath(namespace))
    if (!fs.exists(p)) Array.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
      .filter(t => fs.exists(new HPath(t, "_manifest")))
      .map(t => Identifier.of(namespace, t.getName)).sortBy(_.name())
  }

  override def tableExists(ident: Identifier): Boolean =
    ManifestStore.currentVersion(fs, tablePath(ident)).isDefined

  override def loadTable(ident: Identifier): Table = {
    val path = tablePath(ident)
    val m = ManifestStore.readManifest(fs, path).getOrElse(
      throw new NoSuchTableException(ident))
    val schema = m.schema.getOrElse(throw new IllegalStateException(
      s"catalog table at $path records no schema (written by a " +
        "pre-schema ManifestStore? catalog tables always record one)"))
    new GraftTable(s"$catName.${(ident.namespace() :+ ident.name()).mkString(".")}",
      path, schema)
  }

  /** SQL time travel (`VERSION AS OF v`): serve a RETAINED manifest
    * version — current + grace-window previous, exactly the
    * [[ManifestStore.readManifestAt]] window a concurrent reader of a
    * just-replaced snapshot holds. Older versions are GC'd and fail
    * loudly. The returned table is read-only. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val path = tablePath(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"graft catalog versions are manifest numbers; got '$version'")
    }
    val m = ManifestStore.readManifestAt(fs, path, v).getOrElse(
      if (tableExists(ident)) throw new IllegalArgumentException(
        s"version $v of $ident is not retained (the manifest GC keeps " +
          "current + previous; read the CDF instead for history)")
      else throw new NoSuchTableException(ident))
    val schema = m.schema.getOrElse(throw new IllegalStateException(
      s"manifest v$v of $path records no schema"))
    new GraftTable(
      s"$catName.${(ident.namespace() :+ ident.name()).mkString(".")}@v$v",
      path, schema, asOf = Some(v))
  }

  // ---- functions (FunctionCatalog): namespace-scoped, fixed set ------
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespaceExists(namespace))
      GraftFunctions.names.map(Identifier.of(namespace, _)).toArray
    else throw new NoSuchNamespaceException(namespace)
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    GraftFunctions.load(ident.name()).getOrElse(
      throw new org.apache.spark.sql.catalyst.analysis
        .NoSuchFunctionException(ident))
  override def functionExists(ident: Identifier): Boolean =
    GraftFunctions.load(ident.name()).isDefined

  // ---- procedures (ProcedureCatalog): CALL <cat>.sys.<proc>(...) -----
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("sys"))
      GraftProcedures.names.map(Identifier.of(namespace, _)).toArray
    else Array.empty
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (ident.namespace().toSeq != Seq("sys"))
      throw new IllegalArgumentException(
        s"graft procedures live under $catName.sys; got $ident")
    GraftProcedures.load(catName, root, ident.name()).getOrElse(
      throw new IllegalArgumentException(s"no such procedure $ident — " +
        s"have: ${GraftProcedures.names.mkString(", ")}"))
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (partitions.nonEmpty) throw new UnsupportedOperationException(
      "graft catalog tables are file-keyed (zone-map pruned); " +
        "hive-partitioned tables live on the ManifestStore Scala API")
    GraftCatalog.validateSchema(schema)
    val path = tablePath(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // commit an EMPTY v1 whose only content is the schema — the same
    // "empty table is readable" contract ManifestStore.readSnapshot
    // documents; publish's head-check makes concurrent CREATE lose
    ManifestStore.publish(spark, path,
      ManifestStore.Manifest(1L, Map.empty, schemaJson = Some(schema.json)),
      None)
    new GraftTable(
      s"$catName.${(ident.namespace() :+ ident.name()).mkString(".")}",
      path, schema)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "graft catalog tables pin their CREATE TABLE schema; evolution " +
        "(widen-only unionByName) lives on the ManifestStore upsert API")

  override def dropTable(ident: Identifier): Boolean = {
    val p = new HPath(tablePath(ident))
    if (!tableExists(ident)) false else fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    // FileContext.rename with Rename.NONE is the commitRename device:
    // unlike exists-check + FileSystem.rename (which on overwriting
    // filesystems can clobber a table CREATEd between the check and the
    // rename), it fails atomically when the destination exists — the
    // same primitive ManifestStore.publish relies on for manifests.
    val conf = spark.sessionState.newHadoopConf()
    val uri = new HPath(root).toUri
    val fc =
      if (uri.getScheme == null)
        org.apache.hadoop.fs.FileContext.getFileContext(conf)
      else org.apache.hadoop.fs.FileContext.getFileContext(uri, conf)
    try fc.rename(new HPath(tablePath(oldIdent)),
      new HPath(tablePath(newIdent)),
      org.apache.hadoop.fs.Options.Rename.NONE)
    catch {
      case _: org.apache.hadoop.fs.FileAlreadyExistsException |
           _: java.nio.file.FileAlreadyExistsException =>
        throw new TableAlreadyExistsException(newIdent)
      case e: java.io.IOException
          if e.getMessage != null && e.getMessage.contains("already exists") =>
        throw new TableAlreadyExistsException(newIdent)
    }
  }
}

object GraftCatalog {
  private val NAME_RE = "[A-Za-z_][A-Za-z0-9_]*".r

  /** The column types [[FileStats]] and [[GraftPrune]] know. */
  val ColumnTypes: Set[DataType] =
    Set(LongType, IntegerType, DoubleType, StringType, BooleanType, DateType)

  /** CREATE TABLE gate: flat schemas over [[ColumnTypes]], with names that
    * can never collide with the stats pseudo-columns (`__rows`,
    * `<col>:nulls`) or the `_file` metadata column. Fails at DDL time,
    * not first INSERT. */
  def validateSchema(schema: StructType): Unit = {
    require(schema.nonEmpty, "graft catalog tables need at least one column")
    schema.fields.foreach { f =>
      require(NAME_RE.matches(f.name) && f.name != "_file",
        s"graft catalog column name '${f.name}' must match " +
          "[A-Za-z_][A-Za-z0-9_]* and not be the _file metadata column")
      if (!ColumnTypes.contains(f.dataType))
        throw new IllegalArgumentException(
          s"graft catalog cannot store column '${f.name}' of ${f.dataType}")
    }
  }
}
