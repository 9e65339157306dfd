package graft.graph

import java.util.concurrent.{Executors, LinkedBlockingQueue}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** DAG executors — the engine's stand-in for the DLT runtime's two
  * update modes (SURVEY.md §1.1, §2.11).
  *
  * Batch: every registered table is materialized once; its consumers read
  * the written table back, and tables whose dependencies are written run
  * at the same time.
  *
  * Streaming: tables flagged [[Mode.Incremental]] run as one fused
  * Structured Streaming query per leaf (micro-batch, Trigger.AvailableNow
  * for a catch-up run — the hourly-cluster cadence of the reference,
  * transactions:926); tables flagged [[Mode.Full]] are batch-recomputed
  * from the materialized incremental outputs afterwards, exactly like the
  * reference forces window-function gold tables to `dlt.read`
  * (orderbook:571–574).
  */
object Runner {

  /** Write one resolved table per its [[WriteMode]]. */
  private def writeTable(df: DataFrame, t: TableDef, path: String): Unit = {
    val parts = t.partitionCols
    t.writeMode match {
      case WriteMode.Overwrite =>
        val w = df.write.mode("overwrite")
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path)
      case WriteMode.Append =>
        // K3 idempotent append: overwrite ONLY the partitions this run
        // produced (mm-uptime's hourly cadence); a re-run of the same
        // batch replaces its own partitions instead of doubling rows
        require(parts.nonEmpty,
          s"WriteMode.Append needs partitionCols identifying the batch ($path)")
        df.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(parts: _*).parquet(path)
      case WriteMode.Upsert(keys, seqCol, tie) =>
        ManifestStore.upsert(path, keys, seqCol, tie, parts,
          checkEmpty = false)(df)
    }
  }

  /** Read back a table this runner wrote at `path`, with `schema`, the
    * schema the run planned for it: an Upsert table lives behind a
    * [[ManifestStore]] manifest (a reader must resolve the committed
    * generation — a raw path read would see no data, by design);
    * everything else is a parquet read. The schema is required: a read
    * without it starts a Spark job to infer one from the file footers,
    * re-types partition columns from directory names (string "00" → int
    * 0) and reorders them to the end, silently changing what consumers
    * see. An Append or Upsert table on disk also holds state beyond this
    * run's plan (earlier partitions, merged history), which is exactly
    * what its consumers must see. */
  def read(spark: SparkSession, t: TableDef, path: String,
           schema: StructType): DataFrame =
    t.writeMode match {
      case _: WriteMode.Upsert => ManifestStore.read(spark, path, Some(schema))
      case _ => spark.read.schema(schema).parquet(path)
    }

  /** Materialize `tables` (in topological order) under `outDir`. Each
    * table is planned from its inputs — a dep in `tables` is read back
    * from its written path, any other dep is loaded from `inputs` — and
    * written once per its [[WriteMode]]. So a table's plan never holds
    * another table's lineage, and every source is scanned once per
    * consumer table, not once per downstream path.
    *
    * A table starts once its deps are written, on a pool of
    * `defaultParallelism` threads: independent tables run at the same
    * time. When more tables are ready than threads are free, the one
    * heading the longest chain of tables below it starts first, ties in
    * `tables` order — a consumer-less leaf never holds a thread the
    * critical path is waiting for. A failed table's consumers are never
    * written; the other tables finish, then the first failure in
    * `tables` order — the failed table's own exception — is rethrown.
    * Returns each written table's read-back loader. */
  private def materialize(spark: SparkSession, tables: Seq[TableDef],
                          inputs: Map[String, () => DataFrame],
                          outDir: String): Map[String, () => DataFrame] = {
    val index = tables.map(_.name).zipWithIndex.toMap
    val consumers = tables.flatMap(t => t.deps.filter(index.contains).map(_ -> t))
      .groupMap(_._1)(_._2)
    // tables on the longest chain from a table to one nothing here reads
    val chain = tables.foldRight(Map.empty[String, Int]) { (t, m) =>
      m + (t.name -> (1 + consumers.getOrElse(t.name, Nil).map(c => m(c.name))
        .maxOption.getOrElse(0)))
    }
    val ready = mutable.PriorityQueue.empty[TableDef](
      Ordering.by((t: TableDef) => (chain(t.name), -index(t.name))))
    val unwritten = mutable.Map(tables.map(t => t.name -> t.deps.count(index.contains)): _*)
    val done = mutable.Map.empty[String, Try[() => DataFrame]]
    val finished = new LinkedBlockingQueue[(TableDef, Try[() => DataFrame])]()
    def complete(t: TableDef, result: Try[() => DataFrame]): Unit = {
      done(t.name) = result
      consumers.getOrElse(t.name, Nil).foreach { c =>
        unwritten(c.name) -= 1
        if (unwritten(c.name) == 0) ready.enqueue(c)
      }
    }
    def write(t: TableDef, deps: Seq[() => DataFrame]): () => DataFrame = {
      val df = t.transform(deps.map(_()))
      val path = s"$outDir/${t.name}"
      writeTable(df, t, path)
      () => read(spark, t, path, df.schema)
    }
    val threads = spark.sparkContext.defaultParallelism
    val pool = Executors.newFixedThreadPool(threads)
    try {
      tables.filter(t => unwritten(t.name) == 0).foreach(ready.enqueue(_))
      var running = 0
      while (ready.nonEmpty || running > 0) {
        while (ready.nonEmpty && running < threads) {
          val t = ready.dequeue()
          Try(t.deps.map(d => done.getOrElse(d, Try(inputs.getOrElse(d,
            throw new NoSuchElementException(s"unknown table $d")))).get)) match {
            case Failure(e) => complete(t, Failure(e))
            case Success(deps) =>
              running += 1
              // Throwable, not NonFatal: a StackOverflowError planning a
              // deep tree must fail its table, not hang this loop
              pool.execute(() => finished.put(t -> (try Success(write(t, deps))
                catch { case e: Throwable => Failure(e) })))
          }
        }
        if (running > 0) {
          val (t, result) = finished.take()
          running -= 1
          complete(t, result)
        }
      }
      tables.map(t => t.name -> done(t.name).get).toMap
    } finally pool.shutdown()
  }

  /** Materialize every registered table under `outDir/<name>`, honoring
    * each table's partition columns (the reference's
    * `partition_cols=["date_"]` convention, transactions:996) and write
    * mode, and return the paths ([[read]] reads a table back).
    *
    * Composition is plan-level inside a table and materialized between
    * tables: a consumer reads what its deps wrote, with the deps' plan
    * schemas — for Append/Upsert tables that is the full accumulated
    * table, matching how the streaming runner's Full tables read
    * materialized boundaries. Independent tables run concurrently; see
    * [[materialize]] for the failure contract. */
  def runBatch(reg: Registry, outDir: String): Map[String, String] = {
    val tables = reg.topoOrder.flatMap(reg.describe)
    materialize(reg.session, tables, reg.sourceLoaders, outDir)
    tables.map(t => t.name -> s"$outDir/${t.name}").toMap
  }

  /** Scheduled-trigger orchestration — the reference's operational mode:
    * a cluster kicks off on a cadence (hourly, transactions:926), each
    * run catches up on everything that arrived since the last one, and
    * terminates. Here: `ticks` invocations of [[runStreamingThenFull]]
    * against the SAME `outDir`, so every tick resumes each streaming
    * boundary from its checkpoint (offsets, watermark, join/agg state)
    * and processes only newly arrived data — `Trigger.AvailableNow`
    * restarted on a schedule IS DLT's scheduled-pipeline semantics. The
    * scheduler is injectable: `onTick(i)` runs before tick `i` (in
    * production a sleep-until-next-hour; in tests, landing the next
    * hour's files — simulated time, no wall-clock dependence).
    *
    * The watermark contract this mode imposes (and StreamingSpec
    * proves): event-time state survives between ticks, so data arriving
    * a tick late still lands IF the watermark delay covers the
    * inter-tick lag plus producer disorder — "watermark sized to
    * cluster-start lag". Data older than the budget is dropped by the
    * stateful operators exactly as it would be mid-stream; a cadence
    * change is therefore a watermark-sizing change, not a code change.
    * (An always-on deployment swaps AvailableNow for
    * `Trigger.ProcessingTime` in the boundary writers; the DAG,
    * checkpoints, and watermark budget are identical — catch-up per
    * tick vs. catch-up per micro-batch.)
    */
  def runScheduled(spark: SparkSession, reg: Registry,
                   streamSources: Map[String, () => DataFrame],
                   outDir: String, ticks: Int)(onTick: Int => Unit)
      : Map[String, String] = {
    require(ticks > 0, "runScheduled needs at least one tick")
    var last = Map.empty[String, String]
    (1 to ticks).foreach { i =>
      onTick(i)
      last = runStreamingThenFull(spark, reg, streamSources, outDir)
    }
    last
  }

  /** Run the DAG with streaming sources: every Incremental table fed by
    * a stream whose consumers include a Full table (or which has no
    * registered consumer) is a streaming MATERIALIZATION BOUNDARY — it
    * runs as one `writeStream` job (checkpointed under
    * `outDir/_checkpoints`), and Full tables then batch-read the
    * materialized parquet. Tables with no streamed input have no stream
    * to start (writeStream would throw WRITE_STREAM_NOT_ALLOWED): they
    * are materialized first, batch-style like [[runBatch]], and the
    * streamed tables read them back — the stream-static join pattern.
    *
    * `streamSources` must map every source name to a streaming DataFrame
    * factory; transforms are reused untouched — the engine's transforms
    * are mode-agnostic by construction. Returns the paths of the
    * materialized tables; [[runStreamingThenRead]] returns their
    * loaders.
    */
  def runStreamingThenFull(spark: SparkSession, reg: Registry,
                           streamSources: Map[String, () => DataFrame],
                           outDir: String): Map[String, String] =
    runStreamingThenRead(spark, reg, streamSources, outDir).map {
      case (name, _) => name -> s"$outDir/$name"
    }

  /** [[runStreamingThenFull]], returning each materialized table's
    * read-back loader instead of its path: [[read]] with the schema the
    * run planned for the table. */
  def runStreamingThenRead(spark: SparkSession, reg: Registry,
                           streamSources: Map[String, () => DataFrame],
                           outDir: String): Map[String, () => DataFrame] = {
    val defs = reg.topoOrder.flatMap(reg.describe)
    // a table is streamed when any of its inputs is
    val streamedNames = defs.foldLeft(streamSources.keySet) { (s, t) =>
      if (t.deps.exists(s)) s + t.name else s
    }
    val (streamed, static) = defs.partition(t => streamedNames(t.name))
    val staticOut = materialize(spark, static, reg.sourceLoaders, outDir)

    // boundaries: streamed incremental tables consumed by a Full table,
    // or by nothing (a streamed table's consumers are streamed too)
    val consumers = streamed.flatMap(t => t.deps.map(_ -> t)).groupMap(_._1)(_._2)
    val boundaries = streamed.filter(t => t.mode == Mode.Incremental &&
      consumers.get(t.name).forall(_.exists(_.mode == Mode.Full)))

    // one streaming resolver whose sources are the streaming frames;
    // sources NOT being streamed stay batch loaders
    val streamReg = new Registry(spark)
    (reg.sourceLoaders ++ staticOut ++ streamSources).foreach {
      case (n, f) => streamReg.source(n, f)
    }
    streamed.foreach(streamReg.register)

    val streamedOut = boundaries.map { t =>
      val path = s"$outDir/${t.name}"
      val checkpoint = s"$outDir/_checkpoints/${t.name}"
      val resolved = streamReg.resolve(t.name)
      val q = t.writeMode match {
        case WriteMode.Upsert(keys, seqCol, tie) =>
          // §2.10 streaming apply_changes as a sink: update-mode batches
          // carry the changed keys' latest rows; each micro-batch MERGEs
          // into the table (foreachBatch = the OSS seam where DLT calls
          // Delta MERGE, zetaflex-pipeline.py:138–151). Replay-safe: the
          // merge is idempotent, so at-least-once foreachBatch delivery
          // still converges to exactly the batch apply_changes result.
          // The batch is persisted because each upsert runs several
          // actions on it (the emptiness probe, a partitioned table's
          // touched-partition collect, the merge), and every action would
          // otherwise re-run the micro-batch's stateful plan and re-commit
          // its state.
          resolved.writeStream
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .foreachBatch { (batch: DataFrame, _: Long) =>
              batch.persist()
              try ManifestStore.upsert(path, keys, seqCol, tie, t.partitionCols)(batch)
              finally batch.unpersist()
            }
            .trigger(Trigger.AvailableNow())
            .start()
        case _ =>
          // parquet file sink: append-only with an exactly-once sink log
          resolved.writeStream
            .format("parquet")
            .option("path", path)
            .option("checkpointLocation", checkpoint)
            .trigger(Trigger.AvailableNow())
            .start()
      }
      q.awaitTermination()
      // the boundary's PLAN schema, for the same reason as runBatch:
      // consumers must not see directory-inference re-typing
      t.name -> (() => read(spark, t, path, resolved.schema))
    }.toMap
    // A terminated query's state-store providers stay loaded in the
    // executor cache (in-memory version maps + a maintenance thread
    // each); a long-lived shared JVM running many catch-up jobs
    // accumulates them into heap pressure on unrelated work. Providers
    // reload lazily from the checkpoint on the next run, so unloading
    // here is pure hygiene. Reflection because the API is private[sql];
    // a no-op if it ever disappears.
    try {
      val cls = Class.forName(
        "org.apache.spark.sql.execution.streaming.state.StateStore$")
      cls.getMethod("unloadAll").invoke(cls.getField("MODULE$").get(null))
    } catch { case _: Throwable => () }

    // Full tables batch-read the materialized tables; sources keep their
    // batch loaders
    val full = streamed.filter(_.mode == Mode.Full)
    staticOut ++ streamedOut ++
      materialize(spark, full, reg.sourceLoaders ++ staticOut ++ streamedOut, outDir)
  }
}
