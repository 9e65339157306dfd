package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.column.ColumnReader
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter, RecordConsumer}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** Task-side parquet IO for the graft SQL catalog ([[GraftCatalog]]) —
  * the executor half of the table format's V2 surface, built on the
  * PUBLIC parquet-hadoop example API (no Spark-internal readers).
  *
  * A real columnar writer computes its zone maps WHILE writing (parquet
  * footer stats); this writer does the same — each file's per-column
  * (min, max) and null count accumulate as rows stream through, travel
  * to the driver inside the task's WriterCommitMessage, and land in the
  * manifest's `fileStats`, so the catalog's scan prunes files from
  * DRIVER-side metadata without ever opening a footer. At 100 TB that
  * is the difference between a manifest map-scan and 10⁶ footer reads
  * on every query.
  *
  * Type surface: flat schemas over {BIGINT, INT, DOUBLE, STRING,
  * BOOLEAN, DATE} — the projection types the reference's serving/gold
  * tables use. [[GraftCatalog.validateSchema]] rejects everything else
  * at CREATE TABLE, so files and readers can never disagree.
  *
  * Stats canonicalization (the format's cross-layer contract):
  * integers and dates (epoch days) as decimal strings, doubles via
  * Double.toString, strings raw, booleans "false"/"true". String
  * ordering is UTF8-binary (Spark's) — min/max track
  * [[UTF8String]] comparisons, NOT java.lang.String collation, so a
  * pruning decision made from the manifest agrees with what a Spark
  * filter would keep. Null counts ride along as the pseudo-column
  * `<col>:nulls` and the row count as `__rows` (the manifest's
  * fileStats value is a col → (min, max) map; the pseudo-entries keep
  * the format unchanged).
  */
object GraftParquetIO {

  val ROWS_KEY = "__rows"
  def nullsKey(col: String): String = s"$col:nulls"

  def messageType(schema: StructType, name: String = "graft"): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val t = f.dataType match {
        case LongType => Types.optional(PrimitiveTypeName.INT64)
        case IntegerType => Types.optional(PrimitiveTypeName.INT32)
        case DoubleType => Types.optional(PrimitiveTypeName.DOUBLE)
        case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN)
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case DateType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.dateType())
        case dt => throw new IllegalArgumentException(
          s"graft catalog cannot store column '${f.name}' of $dt")
      }
      b.addField(t.named(f.name))
    }
    b.named(name)
  }

  /** One file's write-time statistics, exactly as they land in the
    * manifest: data columns' (min, max) plus the `__rows` /
    * `<col>:nulls` pseudo-entries. Columns that were all-null have no
    * (min, max) entry — absent bounds must KEEP, the same rule as every
    * other stats layer in ManifestStore. */
  final class FileStats(schema: StructType) extends Serializable {
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

  /** Direct RecordConsumer write support: one startMessage/addX/
    * endMessage walk per [[InternalRow]], no intermediate Group object
    * and no UTF8 → java.lang.String → UTF8 round trip (strings go
    * bytes-to-bytes via [[Binary]]). The per-row Group allocation plus
    * the double string conversion were the example-API writer's
    * dominant constant (guide §1.2 "per-task work"). */
  private final class RowWriteSupport(mt: MessageType, schema: StructType)
      extends WriteSupport[InternalRow] {
    private var rc: RecordConsumer = _
    private val names = schema.fieldNames
    private val types = schema.fields.map(_.dataType)
    override def init(c: Configuration): WriteSupport.WriteContext =
      new WriteSupport.WriteContext(
        mt, java.util.Collections.emptyMap[String, String]())
    override def prepareForWrite(r: RecordConsumer): Unit = rc = r
    override def write(row: InternalRow): Unit = {
      rc.startMessage()
      var i = 0
      while (i < names.length) {
        if (!row.isNullAt(i)) {
          rc.startField(names(i), i)
          types(i) match {
            case LongType => rc.addLong(row.getLong(i))
            case IntegerType | DateType => rc.addInteger(row.getInt(i))
            case DoubleType => rc.addDouble(row.getDouble(i))
            case BooleanType => rc.addBoolean(row.getBoolean(i))
            case StringType =>
              // getBytes copies out of the (reused) row buffer in every
              // row-backed case, so the Binary may safely reference it
              rc.addBinary(
                Binary.fromConstantByteArray(row.getUTF8String(i).getBytes))
            case dt => throw new IllegalStateException(s"unreachable $dt")
          }
          rc.endField(names(i), i)
        }
        i += 1
      }
      rc.endMessage()
    }
  }

  private final class RowWriterBuilder(path: HPath, mt: MessageType,
                                       schema: StructType)
      extends ParquetWriter.Builder[InternalRow, RowWriterBuilder](path) {
    override def self(): RowWriterBuilder = this
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new RowWriteSupport(mt, schema)
  }

  /** Streaming file writer: InternalRow in, (rows, stats) out at close. */
  final class Writer(path: String, schema: StructType, conf: Configuration) {
    private val mt = messageType(schema)
    private val stats = new FileStats(schema)
    private val w = new RowWriterBuilder(new HPath(path), mt, schema)
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    def write(row: InternalRow): Unit = {
      stats.observe(row)
      w.write(row)
    }
    def close(): Map[String, (String, String)] = {
      w.close()
      stats.result()
    }
  }

  /** No-op converter tree: [[ColumnReadStoreImpl]] requires a record
    * converter, but the columnar reader pulls values straight off the
    * [[ColumnReader]]s (`getLong`/`getBinary`/…), so the converter is
    * construction scaffolding only. Flat schemas → one primitive child
    * per field. */
  private object NoopPrimitive extends PrimitiveConverter
  private object NoopRecord extends GroupConverter {
    override def getConverter(fieldIndex: Int): Converter = NoopPrimitive
    override def start(): Unit = ()
    override def end(): Unit = ()
  }

  /** Vectorized file reader: emits [[ColumnarBatch]]es of `projection`
    * (+ the constant `_file` metadata column when requested) straight
    * into Spark [[OnHeapColumnVector]]s via the PUBLIC parquet
    * column-reader API (ParquetFileReader → PageReadStore →
    * ColumnReadStoreImpl → ColumnReader per column).
    *
    * Why columnar: the example Group API materializes a fresh heap
    * Group per ROW plus a java.lang.String per string cell, a recorded
    * 5–10× constant over a native scan (ADVICE r15). Here each column decodes in a tight
    * per-type loop into a reused vector, Spark consumes the batch
    * through codegen's columnar path, and strings move bytes-to-bytes.
    * The type surface is the catalog's flat-optional six (max
    * definition level 1, no repetition), which keeps the per-value
    * loop branch-free except for the null test.
    *
    * An EMPTY projection (COUNT(*), or `_file`-only scans) never
    * decodes a value at all: row counts come from the row-group
    * metadata ([[PageReadStore.getRowCount]]). */
  final class ColumnarReader(path: String, fileSchema: StructType,
                             projection: StructType, conf: Configuration,
                             filePath: Option[String],
                             batchSize: Int = 4096) {
    private val mt = messageType(projection)
    private val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(path), conf))
    r.setRequestedSchema(mt)
    private val createdBy = r.getFooter.getFileMetaData.getCreatedBy
    private val cols = mt.getColumns
    private val vectors: Array[WritableColumnVector] =
      projection.fields.map(f =>
        new OnHeapColumnVector(batchSize, f.dataType): WritableColumnVector)
    private val fileVec: Option[ConstantColumnVector] = filePath.map { p =>
      val v = new ConstantColumnVector(batchSize, StringType)
      v.setUtf8String(UTF8String.fromString(p))
      v
    }
    private val batch = new ColumnarBatch(
      (vectors.toSeq ++ fileVec.toSeq).toArray[ColumnVector])

    private var readers: Array[ColumnReader] = _
    private var rowsLeftInGroup: Long = 0L

    /** Next batch or null at EOF. The returned batch's vectors are
      * REUSED across calls (reset per batch) — the scan contract: the
      * consumer finishes a batch before asking for the next. */
    def nextBatch(): ColumnarBatch = {
      if (rowsLeftInGroup == 0L) {
        val store: PageReadStore = r.readNextRowGroup()
        if (store == null) return null
        rowsLeftInGroup = store.getRowCount
        if (projection.nonEmpty) {
          val crs = new ColumnReadStoreImpl(store, NoopRecord, mt, createdBy)
          readers = new Array[ColumnReader](cols.size())
          var i = 0
          while (i < readers.length) {
            readers(i) = crs.getColumnReader(cols.get(i))
            i += 1
          }
        }
      }
      val n = math.min(batchSize.toLong, rowsLeftInGroup).toInt
      var i = 0
      while (i < vectors.length) {
        vectors(i).reset()
        fill(readers(i), vectors(i), projection.fields(i).dataType, n)
        i += 1
      }
      rowsLeftInGroup -= n
      batch.setNumRows(n)
      batch
    }

    private def fill(cr: ColumnReader, vec: WritableColumnVector,
                     dt: DataType, n: Int): Unit = {
      val maxDef = cr.getDescriptor.getMaxDefinitionLevel
      dt match {
        case LongType =>
          var j = 0
          while (j < n) {
            if (cr.getCurrentDefinitionLevel == maxDef)
              vec.putLong(j, cr.getLong)
            else vec.putNull(j)
            cr.consume(); j += 1
          }
        case IntegerType | DateType =>
          var j = 0
          while (j < n) {
            if (cr.getCurrentDefinitionLevel == maxDef)
              vec.putInt(j, cr.getInteger)
            else vec.putNull(j)
            cr.consume(); j += 1
          }
        case DoubleType =>
          var j = 0
          while (j < n) {
            if (cr.getCurrentDefinitionLevel == maxDef)
              vec.putDouble(j, cr.getDouble)
            else vec.putNull(j)
            cr.consume(); j += 1
          }
        case BooleanType =>
          var j = 0
          while (j < n) {
            if (cr.getCurrentDefinitionLevel == maxDef)
              vec.putBoolean(j, cr.getBoolean)
            else vec.putNull(j)
            cr.consume(); j += 1
          }
        case StringType =>
          var j = 0
          while (j < n) {
            if (cr.getCurrentDefinitionLevel == maxDef) {
              // getBytesUnsafe: no defensive copy — putByteArray copies
              // into the vector's own buffer immediately
              val b = cr.getBinary.getBytesUnsafe
              vec.putByteArray(j, b, 0, b.length)
            } else vec.putNull(j)
            cr.consume(); j += 1
          }
        case other => throw new IllegalStateException(s"unreachable $other")
      }
    }

    def close(): Unit = {
      batch.close()
      r.close()
    }
  }
}
