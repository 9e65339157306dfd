package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import graft.serving.{EmbeddedKVStore, KVTableSpec}

/** The WRITE half of the DataSourceV2 story (TicksProvider is the read
  * half): a transactional bulk load into the serving KV store via the
  * V2 commit protocol, written the way a cluster sink has to be. It is
  * the one serving data plane: [[graft.serving.EmbeddedKVSink]] and so
  * every serving job write through it —
  *
  *   spark.range(...).write.format("graft-kv")
  *     .option("store", id).option("table", t).option("hashKey", k)
  *     .option("rangeKey", r).save()
  *
  *  - Each task's [[DataWriter]] STAGES its rows into its
  *    [[WriterCommitMessage]]; nothing touches the store from
  *    executors. (On a real cluster the message would carry a staged
  *    object handle, not rows — the manifest pattern of every
  *    transactional file sink; the protocol shape is identical.)
  *  - [[BatchWrite.commit]] runs ONCE on the driver only after EVERY
  *    task succeeded, validates every staged key, (re)creates the
  *    table (a serving push is a full rewrite) and applies the staged
  *    items of all tasks, in task order, through the store's 25-item
  *    batch API with one idempotency token per batch — so the job needs
  *    no shuffle to fill its batches, and a partially failed job leaves
  *    the store UNTOUCHED, including a table an earlier push served
  *    (abort is a no-op because nothing was applied).
  */
class KVWriteProvider extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-kv"
  // write-only: schema comes from the DataFrame being written
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()
  override def supportsExternalMetadata(): Boolean = true
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new KVWriteTable(schema,
      properties.get("store"),
      properties.get("table"),
      properties.get("hashKey"),
      Option(properties.get("rangeKey")))
}

class KVWriteTable(writeSchema: StructType, store: String, kvTable: String,
    hashKey: String, rangeKey: Option[String])
    extends Table with SupportsWrite {
  require(store != null && kvTable != null && hashKey != null,
    "graft-kv requires options: store, table, hashKey")
  override def name(): String = s"graft_kv($store/$kvTable)"
  override def schema(): StructType = writeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new KVBatchWrite(info.schema(), store, kvTable, hashKey, rangeKey)
      }
    }
}

/** One task's staged rows. Bounded by contract (a serving load is
  * projection-sized — ServingJobs.servingProjection — not fact-sized) AND by
  * enforcement: [[KVDataWriterFactory.MaxStagedRowsPerTask]], because
  * staged rows travel through WriterCommitMessages to the driver and an
  * unbounded load would fail opaquely on spark.driver.maxResultSize or
  * OOM the driver instead of telling the user what they did wrong. */
case class KVStagedRows(taskId: Long, rows: Seq[Map[String, Any]])
  extends WriterCommitMessage

class KVBatchWrite(schema: StructType, store: String, kvTable: String,
    hashKey: String, rangeKey: Option[String]) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : DataWriterFactory = new KVDataWriterFactory(schema)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val spec = KVTableSpec(kvTable, hashKey, rangeKey)
    val staged = messages.map {
      case m: KVStagedRows => m
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    // Validate EVERYTHING before the first store mutation — the spec
    // against the written schema AND every staged item's primary key
    // (key extraction is the only data-dependent failure in the
    // store's write path). Validation runs against the SPEC, not the
    // table, so createTable happens only after it all passes: a failed
    // commit has zero observable side effects — no partial puts from
    // tasks 0..k, and no newly created empty table either (abort()
    // runs before anything touches the store).
    spec.validate(schema)
    staged.foreach(_.rows.foreach(EmbeddedKVStore.keyOf(spec, _)))
    val kv = EmbeddedKVStore(store)
    kv.createTable(spec, schema)
    // every task's rows in one stream, so only the last batch is partial
    staged.iterator.flatMap(_.rows).grouped(EmbeddedKVStore.MAX_BATCH)
      .zipWithIndex.foreach { case (batch, i) =>
        kv.batchWrite(kvTable, batch, Some(s"b$i"))
      }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  // nothing was applied — staged rows die with the messages
}

object KVDataWriterFactory {
  /** Hard per-task staging cap. At 25-item batches this is 4,000 WCU
    * requests per task — far beyond any serving projection, and small
    * enough that rows-in-commit-messages stays well under driver
    * memory and spark.driver.maxResultSize at any task count a serving
    * load runs with. */
  val MaxStagedRowsPerTask = 100000
}

class KVDataWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : DataWriter[InternalRow] = new DataWriter[InternalRow] {
    private val buf = Seq.newBuilder[Map[String, Any]]
    private val fields = schema.fields
    private var staged = 0

    override def write(record: InternalRow): Unit = {
      if (staged >= KVDataWriterFactory.MaxStagedRowsPerTask)
        throw new IllegalStateException(
          s"graft-kv task $taskId staged more than " +
            s"${KVDataWriterFactory.MaxStagedRowsPerTask} rows; a KV " +
            "serving load must be projection-sized. Aggregate/filter " +
            "to the serving projection first, or raise parallelism so " +
            "each task stages fewer rows.")
      staged += 1
      val m = Map.newBuilder[String, Any]
      var i = 0
      while (i < fields.length) {
        if (!record.isNullAt(i)) {
          val v = fields(i).dataType match {
            case LongType => record.getLong(i)
            case IntegerType => record.getInt(i)
            case DoubleType => record.getDouble(i)
            case FloatType => record.getFloat(i)
            case BooleanType => record.getBoolean(i)
            case StringType => record.getUTF8String(i).toString
            case TimestampType => record.getLong(i)
            case dt => throw new IllegalArgumentException(
              s"graft-kv cannot serve column '${fields(i).name}' of $dt")
          }
          m += fields(i).name -> v
        }
        i += 1
      }
      buf += m.result()
    }
    override def commit(): WriterCommitMessage =
      KVStagedRows(taskId, buf.result())
    override def abort(): Unit = ()
    override def close(): Unit = ()
  }
}
