package graft.sources

import java.util
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.hadoop.ParquetInputFormat
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.{FilePartition, OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetReadSupport, ParquetUtils, ParquetWriteSupport}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetPartitionReaderFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration
import graft.graph.ManifestStore

/** One graft-catalog table (see [[GraftCatalog]]): a file-keyed
  * ManifestStore table with the full V2 read/write/row-level surface.
  *
  * Read path: the scan resolves ONE manifest (snapshot semantics),
  * prunes FILES driver-side against the write-time zone maps + null
  * counts in `fileStats` (the pruning is advisory — every filter is
  * also returned residual and re-evaluated by Spark per row, the same
  * contract as parquet row-group skipping), and plans one file
  * partition per surviving file, read by Spark's own parquet reader
  * with the column projection.
  *
  * Write path: each task streams rows through Spark's own parquet
  * writer into its own file inside a nonce'd staging generation dir,
  * accumulating the file's zone maps as it writes ([[FileStats]],
  * footer-stats style); the driver-side commit assembles
  * manifest entries from the tasks' [[WriterCommitMessage]]s and
  * publishes through [[ManifestStore.publish]] — OCC head-check +
  * atomic rename, so a racing writer loses loudly and a crash leaves
  * only invisible orphans for the grace-window GC.
  *
  * Row-level DELETE/UPDATE/MERGE: group-based copy-on-write via
  * [[SupportsRowLevelOperations]]. The operation's scan implements
  * runtime group filtering on the `_file` metadata column
  * ([[SupportsRuntimeFiltering]]): Spark first runs the command's
  * condition to find the files that actually contain matching rows,
  * narrows the scan to exactly those groups, and the operation's write
  * then REPLACES exactly the scanned file set with the rewritten rows
  * — untouched files carry forward by reference, so a DELETE of one
  * key rewrites one file, not the table. The row-level scan must NOT
  * prune statically on pushed predicates: the plan above it filters
  * for the rows to KEEP (`NOT cond` for DELETE), and dropping a
  * provably-all-matching file from the scan would also drop it from
  * the replaced-group set — leaving deleted rows alive. File selection
  * in this mode belongs exclusively to the runtime group filter, whose
  * inner matching query runs on the NORMAL scan (which does prune).
  *
  * Metadata-only DELETE declension ([[SupportsDelete]]): when every
  * live file classifies as provably-all-matching or provably-none-
  * matching under the delete predicates (zone maps + null counts
  * decide), the delete is answered by dropping manifest entries — no
  * job runs, no file is read. Any file in between → `canDeleteWhere` =
  * false and Spark falls back to the copy-on-write rewrite above.
  */
class GraftTable(tableName: String, root: String, tableSchema: StructType,
                 asOf: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with SupportsRowLevelOperations with SupportsDelete
    with TruncatableTable with SupportsMetadataColumns {

  private def spark: SparkSession = SparkSession.active
  private def fsm = GraftTableOps.manifestOf(spark, root, asOf)
  private def requireWritable(what: String): Unit =
    require(asOf.isEmpty,
      s"$what on $tableName: a VERSION AS OF table is a snapshot view, " +
        "not a write target")

  override def name(): String = tableName
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    // TRUNCATE (not OVERWRITE_BY_FILTER): the write builder implements
    // exactly SupportsTruncate, so INSERT OVERWRITE's always-true
    // filter is supported and anything finer fails the capability
    // check up front instead of at build time
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.STREAMING_WRITE)

  override def metadataColumns(): Array[MetadataColumn] =
    Array(GraftTableOps.FileColumn)

  override def newScanBuilder(options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder =
    new GraftScanBuilder(root, tableSchema, rowLevel = None, asOf = asOf)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable("write")
    new GraftWriteBuilder(root, tableSchema, info.schema(), rowLevel = None,
      queryId = info.queryId())
  }

  // ---- SQL TRUNCATE TABLE: drop every entry, keep the schema ---------
  override def truncateTable(): Boolean = {
    requireWritable("TRUNCATE")
    val m = fsm
    ManifestStore.publish(spark, root, m.copy(entries = Map.empty), Some(m))
    true
  }

  // ---- metadata-only DELETE (SupportsDelete) --------------------------
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    val m = fsm
    m.deletes.isEmpty && m.entries.keys.forall { k =>
      GraftPrune.classify(filters, tableSchema,
        GraftTableOps.statsOf(m, k)) != GraftPrune.Mixed
    }
  }
  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable("DELETE")
    val m = fsm
    val drop = m.entries.keySet.filter { k =>
      GraftPrune.classify(filters, tableSchema,
        GraftTableOps.statsOf(m, k)) match {
        case GraftPrune.AllMatch => true
        case GraftPrune.NoneMatch => false
        case GraftPrune.Mixed => throw new IllegalStateException(
          s"deleteWhere called with a file the stats cannot decide ($k) " +
            "— canDeleteWhere must have returned false")
      }
    }
    ManifestStore.publish(spark, root, m.copy(entries = m.entries -- drop),
      Some(m))
  }

  // ---- row-level operations (copy-on-write DELETE/UPDATE/MERGE) ------
  override def newRowLevelOperationBuilder(info: RowLevelOperationInfo)
      : RowLevelOperationBuilder = {
    requireWritable(s"${info.command()}")
    new RowLevelOperationBuilder {
      override def build(): RowLevelOperation =
        new GraftRowLevelOperation(root, tableSchema, info.command())
    }
  }
}

object GraftTableOps {
  /** The `_file` metadata column (generation-relative file path): what
    * the row-level runtime group filter joins on, and a debugging
    * column in its own right (`SELECT _file, count(*) ... GROUP BY 1`).
    * Deliberately NOT preserved on row-level rewrite — rewritten rows
    * live in new files. */
  object FileColumn extends MetadataColumn {
    override def name(): String = "_file"
    override def dataType(): org.apache.spark.sql.types.DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String =
      "generation-relative path of the file holding the row"
  }

  def manifestOf(spark: SparkSession, root: String,
                 asOf: Option[Long] = None): ManifestStore.Manifest = {
    val fs = new HPath(root)
      .getFileSystem(spark.sessionState.newHadoopConf())
    asOf match {
      case Some(v) => ManifestStore.readManifestAt(fs, root, v).getOrElse(
        throw new IllegalStateException(
          s"version $v of $root is no longer retained"))
      case None => ManifestStore.readManifest(fs, root).getOrElse(
        throw new IllegalStateException(s"no committed manifest under $root"))
    }
  }

  /** A catalog entry's file stats: entries are one-file (`file=<name>` →
    * one generation-relative path), so the entry's stats are that single
    * file's map. Absent stats (foreign writer) → empty map → every
    * classification is Mixed/keep, the conservative direction. */
  def statsOf(m: ManifestStore.Manifest, key: String)
      : Map[String, (String, String)] =
    m.fileStats.get(key)
      .flatMap(files => m.entries.get(key).flatMap(files.get))
      .getOrElse(Map.empty)

  /** Shared commit assembly for the batch, row-level, and streaming
    * writes: staged task files become `file=<name>` entries carrying
    * their write-time stats, `replaced` entries drop (COW group swap /
    * overwrite), `extraProps` merge into the carried table props (the
    * streaming epoch marker). One publish, OCC-checked against `m`. */
  def publishStaged(spark: SparkSession, root: String,
                    m: ManifestStore.Manifest, genRel: String,
                    staged: Seq[GraftFileCommit], replaced: Set[String],
                    extraProps: Map[String, String]): Unit = {
    require(m.deletes.isEmpty,
      s"catalog write to $root: table carries partition deletion vectors")
    // entry keys are the GENERATION-RELATIVE path, not the bare file
    // name: Spark taskIds restart from 0 per application, so a write
    // from a fresh JVM against an existing table can re-mint a file
    // name already live in the manifest — a bare-name key would then
    // silently evict the unrelated old entry in the `--/++` below.
    // The genRel carries the commit's UUID nonce, so keys can never
    // collide across commits.
    val newEntries = staged.map(f => s"file=$genRel/${f.name}" -> s"$genRel/${f.name}")
    val newFileStats = staged.map(f =>
      s"file=$genRel/${f.name}" -> Map(s"$genRel/${f.name}" -> f.stats)).toMap
    ManifestStore.publish(spark, root, m.copy(
      entries = (m.entries -- replaced) ++ newEntries,
      fileStats = (m.fileStats -- replaced) ++ newFileStats,
      props = m.props ++ extraProps), Some(m))
  }

  /** A write's nonce'd staging generation, named for the head at STAGE
    * time (cosmetic — the nonce is what prevents clobber; entries point
    * at actual paths). */
  def stageGen(spark: SparkSession, root: String): String = {
    val guess = ManifestStore.currentVersion(
      new HPath(root).getFileSystem(spark.sessionState.newHadoopConf()),
      root).getOrElse(0L) + 1
    f"_gen/g$guess%08d-${java.util.UUID.randomUUID().toString.take(8)}"
  }

  /** The data columns a write carries: `writeSchema` may carry row-level
    * metadata attrs (e.g. _file), which are projected away; every table
    * column must be present (the catalog pins schemas, no partial
    * inserts). Returns the projection (None when it is the identity) and
    * the written schema. */
  def dataColumns(kind: String, writeSchema: StructType,
                  tableSchema: StructType): (Option[Array[Int]], StructType) = {
    val idx = writeSchema.fields.zipWithIndex
      .filter { case (f, _) => tableSchema.fieldNames.contains(f.name) }
      .map(_._2)
    require(idx.length == tableSchema.length,
      s"$kind schema ${writeSchema.fieldNames.mkString(",")} does not " +
        s"cover table columns ${tableSchema.fieldNames.mkString(",")}")
    (if (idx.length == writeSchema.length) None else Some(idx),
      StructType(idx.map(writeSchema.fields(_))))
  }

  /** The task-side writer for files under `genDirAbs`: Spark's parquet
    * [[OutputWriterFactory]], prepared on the driver by the call
    * `ParquetFileFormat` makes, and the job conf it set up. */
  def writerFactory(spark: SparkSession, genDirAbs: String,
                    dataSchema: StructType,
                    projIdx: Option[Array[Int]]): GraftDataWriterFactory = {
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    // all-optional fields, as Spark writes every parquet file
    val output = ParquetUtils.prepareWrite(sqlConf, job,
      StructType(dataSchema.map(_.copy(nullable = true))),
      new ParquetOptions(Map.empty[String, String], sqlConf))
    GraftDataWriterFactory(genDirAbs, dataSchema, projIdx, output,
      new SerializableConfiguration(job.getConfiguration))
  }

  /** Best-effort removal of an uncommitted staging dir (abort path /
    * empty append). Losing the race to delete is fine — an orphaned
    * stage is exactly what publish-time grace-window GC collects. */
  def cleanupStage(spark: SparkSession, root: String, genRel: String): Unit =
    try {
      val fs = new HPath(root)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val p = new HPath(s"$root/$genRel")
      if (fs.exists(p)) fs.delete(p, true)
    } catch { case _: Exception => () }
}

// =====================================================================
// Scan side
// =====================================================================

class GraftScanBuilder(root: String, tableSchema: StructType,
                       rowLevel: Option[GraftRowLevelOperation],
                       asOf: Option[Long] = None)
    extends ScanBuilder
    with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema
  private var usedForPruning: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // Normal scans USE supported predicates for driver-side file
    // pruning but report every filter back as residual — pruning is
    // advisory (a file-granularity skip), never a row-level claim, so
    // Spark re-evaluates everything: the parquet row-group-skipping
    // contract. Row-level scans use NOTHING statically (see the class
    // doc: the group set must not shrink on provably-all-matching
    // files); their file selection arrives via the runtime group
    // filter.
    if (rowLevel.isEmpty)
      usedForPruning = filters.filter(GraftPrune.supported(_, tableSchema))
    filters
  }
  override def pushedFilters(): Array[Filter] = usedForPruning
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan =
    new GraftScan(root, tableSchema, required, usedForPruning, rowLevel, asOf)
}

/** The catalog's scan: the manifest decides which files are read (one
  * snapshot, zone-map pruning, the runtime group filter); Spark's
  * parquet reader reads them. */
class GraftScan(root: String, tableSchema: StructType,
                required: StructType, pruneFilters: Array[Filter],
                rowLevel: Option[GraftRowLevelOperation],
                asOf: Option[Long] = None)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering {

  private def spark: SparkSession = SparkSession.active
  // ONE manifest per scan: snapshot semantics for the whole query
  private val m = GraftTableOps.manifestOf(spark, root, asOf)
  // the COW write commits against THIS snapshot or not at all
  rowLevel.foreach(_.recordScanVersion(m.version))
  require(m.deletes.isEmpty,
    s"catalog scan of $root: partition deletion vectors are the " +
      "partitioned Scala API's layer; catalog tables materialize " +
      "deletes via copy-on-write SQL DELETE")

  // metadata column handling: Spark appends requested metadata columns
  // after the data columns; anything in `required` that is not a table
  // column must be exactly the trailing `_file`
  private val dataProjection = StructType(
    required.fields.filter(f => tableSchema.fieldNames.contains(f.name)))
  private val emitFile = required.fieldNames.contains("_file")
  require(required.length == dataProjection.length + (if (emitFile) 1 else 0)
    && (!emitFile || required.fieldNames.last == "_file"),
    s"unexpected required schema ${required.fieldNames.mkString(",")} " +
      s"for table columns ${tableSchema.fieldNames.mkString(",")}")

  /** Live (entryKey, relPath) list after driver-side zone-map pruning —
    * replaced atomically by the runtime group filter (same immutable-
    * state device as TicksScan's RtState). */
  @volatile private var live: Seq[(String, String)] =
    m.entries.toSeq.sorted.filter { case (k, _) =>
      rowLevel.isDefined || // row-level scans never prune statically
        GraftPrune.classify(pruneFilters, tableSchema,
          GraftTableOps.statsOf(m, k)) != GraftPrune.NoneMatch
    }

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft_table $root files=${live.size}/${m.entries.size} " +
      s"pruned_by=${pruneFilters.mkString(",")} " +
      (if (rowLevel.isDefined) "ROWLEVEL " else "") +
      s"cols=${required.fieldNames.mkString(",")}"

  // runtime group filtering (row-level ops) — and harmless generally:
  // an In(_file, ...) narrows the live set to the named files
  override def filterAttributes(): Array[NamedReference] =
    if (rowLevel.isDefined) Array(Expressions.column("_file"))
    else Array.empty
  override def filter(filters: Array[Filter]): Unit = {
    val keep: Option[Set[String]] = filters.collectFirst {
      case In("_file", values) => values.map(String.valueOf(_)).toSet
      // a single-file rewrite arrives as EqualTo, not a 1-element In
      case EqualTo("_file", v) => Set(String.valueOf(v))
    }
    keep.foreach(k => live = live.filter { case (_, rel) => k(rel) })
    // an unparsed runtime predicate leaves the scan UNfiltered — always
    // correct (whole-table rewrite, never wrong rows) but it silently
    // loses the O(affected-files) bound; say so where an operator can
    // find it
    if (keep.isEmpty && filters.nonEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).debug(
        s"graft scan of $root: runtime group filters " +
          s"${filters.mkString(",")} have no recognized _file shape; " +
          "scan stays unnarrowed (correct but O(table) rewrite)")
  }

  /** One [[FilePartition]] per live file, its split the whole file:
    * the manifest records no file lengths and the driver lists nothing,
    * so the split is `[0, Long.MaxValue)`, which holds every row group's
    * midpoint; the reader opens the footer itself. A requested `_file`
    * is the file's partition value, appended by Spark's reader the way
    * it appends any partition column. */
  override def planInputPartitions(): Array[InputPartition] = {
    val parts = live.zipWithIndex.map { case ((_, rel), i) =>
      val value =
        if (emitFile) InternalRow(UTF8String.fromString(rel)) else InternalRow.empty
      FilePartition(i, Array(PartitionedFile(value,
        SparkPath.fromPathString(s"$root/$rel"), 0L, Long.MaxValue,
        Array.empty[String]))): InputPartition
    }.toArray
    // the row-level write replaces EXACTLY the files this scan planned
    rowLevel.foreach(_.recordScanned(live.map(_._1).toSet))
    parts
  }

  /** Spark's own parquet reader, its Hadoop conf set up as
    * `ParquetScan.createReaderFactory` sets it up. No filters are
    * pushed into the reader: file pruning is the manifest's, and Spark
    * re-filters every row. */
  override def createReaderFactory(): PartitionReaderFactory = {
    val sqlConf = spark.sessionState.conf
    val conf = spark.sessionState.newHadoopConf()
    conf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, dataProjection.json)
    conf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, dataProjection.json)
    conf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sqlConf.sessionLocalTimeZone)
    conf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sqlConf.nestedSchemaPruningEnabled)
    conf.setBoolean(SQLConf.CASE_SENSITIVE.key, sqlConf.caseSensitiveAnalysis)
    conf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sqlConf.isParquetBinaryAsString)
    conf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sqlConf.isParquetINT96AsTimestamp)
    conf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sqlConf.parquetInferTimestampNTZEnabled)
    conf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sqlConf.legacyParquetNanosAsLong)
    conf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sqlConf.parquetReaderRespectUnknownTypeAnnotation)
    ParquetPartitionReaderFactory(sqlConf,
      spark.sparkContext.broadcast(new SerializableConfiguration(conf)),
      tableSchema, dataProjection,
      StructType(required.fields.drop(dataProjection.length)),
      Array.empty, None, new ParquetOptions(Map.empty[String, String], sqlConf))
  }

  override def estimateStatistics(): Statistics = {
    val rows = live.map { case (k, _) =>
      GraftTableOps.statsOf(m, k).get(FileStats.ROWS_KEY)
        .map(_._1.toLong).getOrElse(0L)
    }.sum
    val width = required.fields.map(_.dataType match {
      case StringType => 24L
      case _ => 8L
    }).sum.max(1L)
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * width)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  }
}

// =====================================================================
// Write side
// =====================================================================

class GraftWriteBuilder(root: String, tableSchema: StructType,
                        writeSchema: StructType,
                        rowLevel: Option[GraftRowLevelOperation],
                        queryId: String = "")
    extends WriteBuilder with SupportsTruncate {
  private var overwrite = false
  override def truncate(): WriteBuilder = { overwrite = true; this }
  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new GraftBatchWrite(root, tableSchema, writeSchema, overwrite, rowLevel)
    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      require(rowLevel.isEmpty && !overwrite,
        "streaming writes to graft catalog tables are APPEND-mode")
      new GraftStreamingWrite(root, tableSchema, writeSchema, queryId)
    }
  }
}

/** One task's staged file: its name, row count, and write-time stats
  * (metadata-sized — rows never travel to the driver). */
case class GraftFileCommit(name: String, rows: Long,
                           stats: Map[String, (String, String)])
    extends WriterCommitMessage

class GraftBatchWrite(root: String, tableSchema: StructType,
                      writeSchema: StructType, overwrite: Boolean,
                      rowLevel: Option[GraftRowLevelOperation])
    extends BatchWrite {
  private def spark: SparkSession = SparkSession.active
  private val genRel = GraftTableOps.stageGen(spark, root)
  private val (projIdx, dataSchema) =
    GraftTableOps.dataColumns("write", writeSchema, tableSchema)

  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory =
    GraftTableOps.writerFactory(spark, s"$root/$genRel", dataSchema, projIdx)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val staged = messages.collect {
      case f: GraftFileCommit if f.rows > 0 => f
    }
    val m = GraftTableOps.manifestOf(spark, root)
    // scan-to-commit OCC for row-level rewrites: publish's head-check
    // only guards the publish call itself, but a COW rewrite was
    // computed from the SCAN's snapshot — if the head moved in between
    // (another DELETE/UPDATE committed), publishing would rewrite from
    // stale data: the loser must lose loudly, never silently. Plain
    // appends and INSERT OVERWRITE keep rebase-on-current (they carry
    // no scan-derived rows).
    rowLevel.flatMap(_.scanVersion).foreach { v =>
      if (m.version != v)
        throw new java.util.ConcurrentModificationException(
          s"row-level write to $root: manifest moved v$v -> " +
            s"v${m.version} between scan and commit; retry the command")
    }
    val replaced: Set[String] = rowLevel match {
      case Some(op) => Option(op.scanned).getOrElse(Set.empty)
      case None => if (overwrite) m.entries.keySet else Set.empty
    }
    if (staged.isEmpty && replaced.isEmpty) {
      // empty append: nothing changed, publish nothing (idempotent)
      GraftTableOps.cleanupStage(spark, root, genRel)
      return
    }
    GraftTableOps.publishStaged(spark, root, m, genRel, staged, replaced,
      extraProps = Map.empty)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftTableOps.cleanupStage(spark, root, genRel)
}

/** Streaming append into a catalog table (`writeStream.toTable`):
  * each epoch's tasks stage files under an epoch-suffixed generation
  * dir, and the epoch commit publishes them recording
  * `graft.lastEpoch.<queryId>` in the manifest's props — so a REPLAYED
  * micro-batch (driver restart between sink commit and checkpoint
  * commit, the classic duplicate window) detects its epoch as already
  * committed and becomes a no-op that just cleans its re-staged bytes:
  * the transactional-sink exactly-once device (Delta's `txn`), here as
  * a property of the same manifest commit the data rides. */
class GraftStreamingWrite(root: String, tableSchema: StructType,
                          writeSchema: StructType, queryId: String)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
  private def spark: SparkSession = SparkSession.active
  private val genBase = GraftTableOps.stageGen(spark, root)
  private def genRel(epochId: Long) = s"$genBase-e$epochId"
  private val epochKey = s"graft.lastEpoch.$queryId"
  private val (projIdx, dataSchema) =
    GraftTableOps.dataColumns("stream", writeSchema, tableSchema)

  override def createStreamingWriterFactory(info: PhysicalWriteInfo)
      : StreamingDataWriterFactory = {
    val factory = GraftTableOps.writerFactory(spark, s"$root/$genBase",
      dataSchema, projIdx)
    new StreamingDataWriterFactory {
      override def createWriter(partitionId: Int, taskId: Long,
                                epochId: Long): DataWriter[InternalRow] =
        factory.copy(genDirAbs = s"${factory.genDirAbs}-e$epochId")
          .createWriter(partitionId, taskId)
    }
  }

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val m = GraftTableOps.manifestOf(spark, root)
    if (m.props.get(epochKey).exists(_.toLong >= epochId)) {
      // replayed epoch: its effect is already in the table — drop the
      // re-staged bytes and succeed (idempotent sink commit)
      GraftTableOps.cleanupStage(spark, root, genRel(epochId))
      return
    }
    val staged = messages.collect {
      case f: GraftFileCommit if f.rows > 0 => f
    }
    GraftTableOps.publishStaged(spark, root, m, genRel(epochId),
      staged.toSeq, replaced = Set.empty,
      extraProps = Map(epochKey -> epochId.toString))
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit =
    GraftTableOps.cleanupStage(spark, root, genRel(epochId))
}

/** Task side of every catalog write: each task writes one parquet file
  * through Spark's own parquet writer, feeding each row to [[FileStats]]
  * first. */
case class GraftDataWriterFactory(genDirAbs: String, dataSchema: StructType,
                                  projIdx: Option[Array[Int]],
                                  output: OutputWriterFactory,
                                  conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val name = f"part-$partitionId%05d-$taskId.parquet"
    private var writer: OutputWriter = _
    private val stats = new FileStats(dataSchema)
    private var rows = 0L
    private val reuse = projIdx.map(_ => new GenericInternalRow(dataSchema.length))

    override def write(record: InternalRow): Unit = {
      if (writer == null) // lazy: an empty task stages no file at all
        writer = output.newInstance(s"$genDirAbs/$name", dataSchema,
          new TaskAttemptContextImpl(conf.value, new TaskAttemptID()))
      val row = projIdx match {
        case None => record
        case Some(idx) =>
          val r = reuse.get
          var i = 0
          while (i < idx.length) {
            r.update(i,
              if (record.isNullAt(idx(i))) null
              else record.get(idx(i), dataSchema.fields(i).dataType))
            i += 1
          }
          r
      }
      stats.observe(row)
      writer.write(row)
      rows += 1
    }
    override def commit(): WriterCommitMessage =
      if (writer == null) GraftFileCommit(name, 0L, Map.empty)
      else { writer.close(); GraftFileCommit(name, rows, stats.result()) }
    // a failed/superseded ATTEMPT deletes its own bytes: the staging
    // dir may become a LIVE generation at job commit, and an orphan
    // file inside a referenced generation is never GC'd (generation GC
    // is per-dir) — losing attempts must not leave dark bytes there
    override def abort(): Unit = if (writer != null) {
      writer.close()
      try {
        val p = new HPath(s"$genDirAbs/$name")
        p.getFileSystem(conf.value).delete(p, false)
      } catch { case _: Exception => () }
    }
    override def close(): Unit = ()
  }
}

// =====================================================================
// Row-level operation (copy-on-write)
// =====================================================================

class GraftRowLevelOperation(root: String, tableSchema: StructType,
                             cmd: RowLevelOperation.Command)
    extends RowLevelOperation {
  /** Entry keys the operation's scan planned — set at
    * planInputPartitions time, AFTER the runtime group filter narrowed
    * the live set; the write's commit replaces exactly these. Volatile
    * single-assignment (driver-side planning then driver-side commit). */
  @volatile private[sources] var scanned: Set[String] = _
  private[sources] def recordScanned(keys: Set[String]): Unit =
    scanned = keys

  /** Manifest version the operation's scan resolved — the snapshot the
    * rewrite is computed FROM. The write's commit fails loudly when the
    * head has moved past it (scan-to-commit OCC): publishing against a
    * newer head would rewrite from a stale snapshot, resurrecting a
    * concurrent writer's deletes and duplicating its survivors. */
  @volatile private[sources] var scanVersion: Option[Long] = None
  private[sources] def recordScanVersion(v: Long): Unit =
    scanVersion = Some(v)

  override def command(): RowLevelOperation.Command = cmd
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : ScanBuilder = new GraftScanBuilder(root, tableSchema, Some(this))
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(root, tableSchema, info.schema(), Some(this))
  override def requiredMetadataAttributes(): Array[NamedReference] =
    Array(Expressions.column("_file"))
  override def description(): String = s"graft COW $cmd on $root"
}

// =====================================================================
// Zone-map classification
// =====================================================================

/** Tri-state classification of a file's write-time stats against a
  * CONJUNCTION of V1 filters — the one function behind all three
  * metadata fast paths (scan file pruning, metadata-only DELETE,
  * canDeleteWhere):
  *
  *  - [[NoneMatch]]: no row of the file can satisfy the predicates —
  *    a scan skips the file; a delete keeps it untouched.
  *  - [[AllMatch]]:  every row provably satisfies them (bounds decide
  *    AND the null count is zero for value predicates — a null row
  *    satisfies no comparison, so "all match" needs no nulls) — a
  *    metadata delete drops the entry without reading a byte.
  *  - [[Mixed]]:     the stats cannot decide — scans read the file
  *    (Spark re-filters rows), metadata deletes decline.
  *
  * Soundness over sharpness everywhere: unknown filter shapes, absent
  * stats, and un-normalizable values all classify Mixed. */
object GraftPrune {
  sealed trait Cls
  case object NoneMatch extends Cls
  case object AllMatch extends Cls
  case object Mixed extends Cls

  /** Filters usable for pruning (everything else is Spark's to apply). */
  def supported(f: Filter, schema: StructType): Boolean = f match {
    case EqualTo(c, _) => colType(schema, c).isDefined
    case EqualNullSafe(c, _) => colType(schema, c).isDefined
    case GreaterThan(c, _) => colType(schema, c).isDefined
    case GreaterThanOrEqual(c, _) => colType(schema, c).isDefined
    case LessThan(c, _) => colType(schema, c).isDefined
    case LessThanOrEqual(c, _) => colType(schema, c).isDefined
    case In(c, _) => colType(schema, c).isDefined
    case IsNull(c) => colType(schema, c).isDefined
    case IsNotNull(c) => colType(schema, c).isDefined
    case And(l, r) => supported(l, schema) && supported(r, schema)
    case Or(l, r) => supported(l, schema) && supported(r, schema)
    case Not(c) => supported(c, schema)
    case _ => false
  }

  private def colType(schema: StructType, c: String): Option[DataType] =
    schema.fields.find(_.name == c).map(_.dataType)

  def classify(filters: Seq[Filter], schema: StructType,
               stats: Map[String, (String, String)]): Cls = {
    if (filters.isEmpty) return AllMatch
    val per = filters.map(one(_, schema, stats))
    if (per.contains(NoneMatch)) NoneMatch
    else if (per.forall(_ == AllMatch)) AllMatch
    else Mixed
  }

  private def one(f: Filter, schema: StructType,
                  stats: Map[String, (String, String)]): Cls = f match {
    case And(l, r) => classify(Seq(l, r), schema, stats)
    case Or(l, r) =>
      (one(l, schema, stats), one(r, schema, stats)) match {
        case (AllMatch, _) | (_, AllMatch) => AllMatch
        case (NoneMatch, NoneMatch) => NoneMatch
        case _ => Mixed
      }
    case Not(c) => one(c, schema, stats) match {
      // AllMatch -> NoneMatch is always sound: value-predicate AllMatch
      // already requires zero nulls, and the null-aware shapes
      // (IsNull/IsNotNull) negate exactly.
      case AllMatch => NoneMatch
      // NoneMatch -> AllMatch is NOT sound under SQL three-valued
      // logic for value predicates over a column with nulls: a NULL
      // row satisfies neither `c = 5` nor `NOT (c = 5)`, so a file
      // whose non-null values all avoid the literal but which carries
      // NULLs must classify Mixed — AllMatch here would let
      // deleteWhere drop NULL rows that survive the DELETE.
      case NoneMatch => if (negationNullSafe(c, stats)) AllMatch else Mixed
      case Mixed => Mixed
    }
    case IsNull(c) => nullness(c, stats) match {
      case Some((nulls, rows)) =>
        if (nulls == 0L) NoneMatch
        else if (nulls == rows) AllMatch
        else Mixed
      case None => Mixed
    }
    case IsNotNull(c) => nullness(c, stats) match {
      case Some((nulls, rows)) =>
        if (nulls == rows) NoneMatch
        else if (nulls == 0L) AllMatch
        else Mixed
      case None => Mixed
    }
    case EqualTo(c, v) => cmpRange(c, v, schema, stats) {
      case (lo, hi, vv, noNulls, ord) =>
        if (ord.lt(vv, lo) || ord.lt(hi, vv)) NoneMatch
        else if (ord.equiv(lo, hi) && ord.equiv(lo, vv) && noNulls) AllMatch
        else Mixed
    }
    // <=> with a non-null literal matches exactly the = rows (nulls
    // match neither); analyzer rewrites <=> NULL to IsNull-shaped plans
    // but handle the literal-null form anyway
    case EqualNullSafe(c, null) => one(IsNull(c), schema, stats)
    case EqualNullSafe(c, v) => one(EqualTo(c, v), schema, stats)
    case GreaterThan(c, v) => cmpRange(c, v, schema, stats) {
      case (lo, hi, vv, noNulls, ord) =>
        if (!ord.lt(vv, hi)) NoneMatch // hi <= v
        else if (ord.lt(vv, lo) && noNulls) AllMatch // lo > v
        else Mixed
    }
    case GreaterThanOrEqual(c, v) => cmpRange(c, v, schema, stats) {
      case (lo, hi, vv, noNulls, ord) =>
        if (ord.lt(hi, vv)) NoneMatch
        else if (!ord.lt(lo, vv) && noNulls) AllMatch // lo >= v
        else Mixed
    }
    case LessThan(c, v) => cmpRange(c, v, schema, stats) {
      case (lo, hi, vv, noNulls, ord) =>
        if (!ord.lt(lo, vv)) NoneMatch // lo >= v
        else if (ord.lt(hi, vv) && noNulls) AllMatch
        else Mixed
    }
    case LessThanOrEqual(c, v) => cmpRange(c, v, schema, stats) {
      case (lo, hi, vv, noNulls, ord) =>
        if (ord.lt(vv, lo)) NoneMatch
        else if (!ord.lt(vv, hi) && noNulls) AllMatch // hi <= v
        else Mixed
    }
    case In(c, vs) =>
      if (vs == null || vs.isEmpty) NoneMatch
      else {
        val per = vs.toSeq.map(v => one(EqualTo(c, v), schema, stats))
        if (per.forall(_ == NoneMatch)) NoneMatch
        // single-point file whose value is in the set (and no nulls)
        else if (per.contains(AllMatch)) AllMatch
        else Mixed
      }
    case _ => Mixed
  }

  /** Is `NOT f` exactly the row-complement of `f` on this file? True
    * when the shape is null-aware (IsNull/IsNotNull negate exactly;
    * `<=>` matches nulls to neither side of a non-null literal) or
    * when every column a value predicate references provably has zero
    * nulls in the file — otherwise NULL rows satisfy neither side and
    * NoneMatch(f) must NOT invert to AllMatch(NOT f). */
  private def negationNullSafe(f: Filter,
                               stats: Map[String, (String, String)])
      : Boolean = {
    def noNulls(c: String): Boolean = nullness(c, stats).exists(_._1 == 0L)
    f match {
      case IsNull(_) | IsNotNull(_) => true
      case EqualNullSafe(_, _) => true
      case And(l, r) => negationNullSafe(l, stats) && negationNullSafe(r, stats)
      case Or(l, r) => negationNullSafe(l, stats) && negationNullSafe(r, stats)
      case Not(c) => negationNullSafe(c, stats)
      case EqualTo(c, _) => noNulls(c)
      case GreaterThan(c, _) => noNulls(c)
      case GreaterThanOrEqual(c, _) => noNulls(c)
      case LessThan(c, _) => noNulls(c)
      case LessThanOrEqual(c, _) => noNulls(c)
      case In(c, _) => noNulls(c)
      case _ => false
    }
  }

  private def nullness(c: String, stats: Map[String, (String, String)])
      : Option[(Long, Long)] =
    for {
      n <- stats.get(FileStats.nullsKey(c))
      r <- stats.get(FileStats.ROWS_KEY)
    } yield (n._1.toLong, r._1.toLong)

  /** Resolve (lo, hi, value) into one comparable domain per type and
    * hand them to `k` with a no-nulls flag; any missing piece → Mixed.
    * Absent (min, max) with rows > 0 means the column was ALL NULL in
    * the file: no value predicate matches any row → NoneMatch. */
  private def cmpRange(c: String, v: Any, schema: StructType,
                       stats: Map[String, (String, String)])
                      (k: (Any, Any, Any, Boolean, Ordering[Any]) => Cls)
      : Cls = {
    val dt = schema.fields.find(_.name == c).map(_.dataType)
      .getOrElse(return Mixed)
    val noNulls = nullness(c, stats).exists(_._1 == 0L)
    stats.get(c) match {
      case None =>
        // stats carry bounds for every non-all-null column the writer
        // saw; absent bounds + known nulls == rows → provably no value
        nullness(c, stats) match {
          case Some((nulls, rows)) if nulls == rows && rows > 0 => NoneMatch
          case _ => Mixed
        }
      case Some((loS, hiS)) =>
        (parse(dt, loS), parse(dt, hiS), normalize(dt, v)) match {
          case (Some(lo), Some(hi), Some(vv)) =>
            k(lo, hi, vv, noNulls, orderingOf(dt))
          case _ => Mixed
        }
    }
  }

  private def parse(dt: DataType, s: String): Option[Any] = try dt match {
    case LongType | IntegerType | DateType => Some(s.toLong)
    case DoubleType => Some(s.toDouble)
    case BooleanType => Some(s.toBoolean)
    case StringType => Some(UTF8String.fromString(s))
    case _ => None
  } catch { case _: Exception => None }

  /** Filter literal → the same comparable domain as [[parse]]. */
  private def normalize(dt: DataType, v: Any): Option[Any] = (dt, v) match {
    case (_, null) => None
    case (LongType | IntegerType, n: java.lang.Number) => Some(n.longValue())
    case (DoubleType, n: java.lang.Number) => Some(n.doubleValue())
    case (BooleanType, b: java.lang.Boolean) => Some(b.booleanValue())
    case (StringType, s: String) => Some(UTF8String.fromString(s))
    case (StringType, s: UTF8String) => Some(s)
    case (DateType, d: java.sql.Date) => Some(d.toLocalDate.toEpochDay)
    case (DateType, d: java.time.LocalDate) => Some(d.toEpochDay)
    case _ => None
  }

  private def orderingOf(dt: DataType): Ordering[Any] = (dt match {
    case LongType | IntegerType | DateType => Ordering.Long
    case DoubleType => Ordering.Double.TotalOrdering
    case BooleanType => Ordering.Boolean
    case StringType =>
      new Ordering[UTF8String] { // UTF8 binary order = Spark's
        override def compare(a: UTF8String, b: UTF8String): Int =
          a.compareTo(b)
      }
    case other => throw new IllegalStateException(s"unreachable $other")
  }).asInstanceOf[Ordering[Any]]
}

// =====================================================================
// Write-time file statistics
// =====================================================================

/** One file's write-time statistics, exactly as they land in the
  * manifest: data columns' (min, max) plus the `__rows` /
  * `<col>:nulls` pseudo-entries. Columns that were all-null have no
  * (min, max) entry — absent bounds must KEEP (GraftPrune classifies
  * such a column Mixed). */
final class FileStats(schema: StructType) extends Serializable {
  import FileStats.{ROWS_KEY, nullsKey}
  private val n = schema.length
  private var rows = 0L
  private val nulls = new Array[Long](n)
  private val mins = new Array[Any](n)
  private val maxs = new Array[Any](n)

  def observe(row: InternalRow): Unit = {
    rows += 1
    var i = 0
    while (i < n) {
      if (row.isNullAt(i)) nulls(i) += 1
      else {
        schema.fields(i).dataType match {
          case LongType => obs(i, row.getLong(i))(_ < _)
          case IntegerType => obs(i, row.getInt(i))(_ < _)
          // total order (java.lang.Double.compare), NOT IEEE `<`:
          // NaN compares false both ways under `<` (a NaN row would
          // either poison or silently escape the bounds) and
          // -0.0 < 0.0 is false — while GraftPrune classifies with
          // Ordering.Double.TotalOrdering and Spark treats NaN as
          // the largest double, so bounds accumulated under IEEE `<`
          // could prune a file that holds matching rows
          case DoubleType =>
            obs(i, row.getDouble(i))(java.lang.Double.compare(_, _) < 0)
          case BooleanType => obs(i, row.getBoolean(i))(_ < _)
          case StringType =>
            // copy: Spark reuses UnsafeRow-backed UTF8String buffers
            obs(i, row.getUTF8String(i).clone())(_.compareTo(_) < 0)
          case DateType => obs(i, row.getInt(i))(_ < _)
          case dt => throw new IllegalStateException(s"unreachable $dt")
        }
      }
      i += 1
    }
  }
  private def obs[T](i: Int, v: T)(lt: (T, T) => Boolean): Unit = {
    if (mins(i) == null || lt(v, mins(i).asInstanceOf[T])) mins(i) = v
    if (maxs(i) == null || lt(maxs(i).asInstanceOf[T], v)) maxs(i) = v
  }

  def result(): Map[String, (String, String)] = {
    val b = Map.newBuilder[String, (String, String)]
    b += ROWS_KEY -> (rows.toString, rows.toString)
    var i = 0
    while (i < n) {
      val c = schema.fields(i).name
      b += nullsKey(c) -> (nulls(i).toString, nulls(i).toString)
      if (mins(i) != null)
        b += c -> (mins(i).toString, maxs(i).toString)
      i += 1
    }
    b.result()
  }
}

/** The stats map's pseudo-entries. Canonicalization (the format's
  * cross-layer contract): integers and dates (epoch days) as decimal
  * strings, doubles via Double.toString, strings raw, booleans
  * "false"/"true". String ordering is UTF8-binary (Spark's) — min/max
  * track [[UTF8String]] comparisons, NOT java.lang.String collation, so
  * a pruning decision made from the manifest agrees with what a Spark
  * filter would keep. Null counts ride along as the pseudo-column
  * `<col>:nulls` and the row count as `__rows` (the manifest's
  * fileStats value is a col → (min, max) map; the pseudo-entries keep
  * the format unchanged). */
object FileStats {
  val ROWS_KEY = "__rows"
  def nullsKey(col: String): String = s"$col:nulls"
}
