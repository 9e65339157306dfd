package graft.graph

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger

/** DAG executors — the engine's stand-in for the DLT runtime's two
  * update modes (SURVEY.md §1.1, §2.11).
  *
  * Batch: topological materialization of every registered table.
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

  /** Write one resolved table per its [[WriteMode]]. Returns true when
    * the on-disk table now carries state BEYOND this run's plan (Append
    * accumulates partitions, Upsert merges history) — the signal that
    * downstream consumers must READ the materialized table rather than
    * re-derive its plan, or they would compute from this run's partial
    * view of an accumulating table. */
  private def writeTable(df: DataFrame, t: Option[TableDef],
                         path: String): Boolean = {
    val parts = t.map(_.partitionCols).getOrElse(Nil)
    t.map(_.writeMode).getOrElse(WriteMode.Overwrite) match {
      case WriteMode.Overwrite =>
        val w = df.write.mode("overwrite")
        (if (parts.nonEmpty) w.partitionBy(parts: _*) else w).parquet(path)
        false
      case WriteMode.Append =>
        // K3 idempotent append: overwrite ONLY the partitions this run
        // produced (mm-uptime's hourly cadence); a re-run of the same
        // batch replaces its own partitions instead of doubling rows
        require(parts.nonEmpty,
          s"WriteMode.Append needs partitionCols identifying the batch ($path)")
        df.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(parts: _*).parquet(path)
        true
      case WriteMode.Upsert(keys, seqCol, tie) =>
        // checkEmpty=false: a batch-mode plan is essentially never empty
        // and the emptiness probe would execute the full plan once more
        if (parts.nonEmpty)
          ManifestStore.upsert(path, keys, seqCol, tie, parts,
            checkEmpty = false)(df)
        else upsertParquet(path, keys, seqCol, tie, checkEmpty = false)(df)
        true
    }
  }

  /** How downstream consumers read a STATEFUL table back: partitioned
    * upsert tables live behind a [[ManifestStore]] manifest (readers
    * must resolve the committed generation — a raw path read would see
    * no data, by design); everything else is a plain parquet read. Both
    * pin the PLAN's schema, not directory inference — a read without it
    * re-types partition columns from directory names (string "00" →
    * int 0) and reorders them to the end, silently changing what
    * downstream consumers see. */
  private def shadowLoader(spark: SparkSession, t: Option[TableDef],
                           path: String,
                           planSchema: org.apache.spark.sql.types.StructType)
      : () => DataFrame =
    t match {
      case Some(td) if td.partitionCols.nonEmpty &&
          td.writeMode.isInstanceOf[WriteMode.Upsert] =>
        () => ManifestStore.read(spark, path, Some(planSchema))
      case _ => () => spark.read.schema(planSchema).parquet(path)
    }

  /** Materialize every table batch-style under `outDir`, in topo order,
    * honoring each table's partition columns (the reference's
    * `partition_cols=["date_"]` convention, transactions:996) and write
    * mode. After a STATEFUL table (Append/Upsert) is written, its name is
    * shadowed by a read of the materialized path, so downstream consumers
    * see the full accumulated table — matching how the streaming runner's
    * Full tables read materialized boundaries. Returns the materialized
    * paths. */
  def runBatch(reg: Registry, outDir: String): Map[String, String] = {
    val spark = reg.session
    val work = new Registry(spark)
    reg.sourceLoaders.foreach { case (n, f) => work.source(n, f) }
    reg.topoOrder.flatMap(reg.describe).foreach(work.register)
    reg.topoOrder.map { name =>
      val path = s"$outDir/$name"
      val df = work.resolve(name)
      val planSchema = df.schema
      val stateful = writeTable(df, work.describe(name), path)
      if (stateful)
        work.source(name, shadowLoader(spark, work.describe(name), path, planSchema))
      name -> path
    }.toMap
  }

  /** Merge `batch` into the parquet table at `path`, keeping the
    * max-`(seqCol, tieBreak)` row per `keys` — the parquet-native
    * `MERGE` used by [[WriteMode.Upsert]] tables and by the streaming
    * `foreachBatch` upsert sink. Copy-on-write with a two-rename swap:
    * the merged generation is staged, the old generation moves aside to
    * `<path>.old`, the new one renames into place, and only then is the
    * backup dropped — every crash point leaves either the old or the new
    * complete generation recoverable (the `.old` restore on entry), so a
    * replayed micro-batch merges against intact history. The rewrite is
    * O(table) per batch — correct anywhere, and the right default for
    * unpartitioned tables; a hive-partitioned table whose partition
    * columns are stable per key should use [[ManifestStore.upsert]],
    * which rewrites only touched partitions AND publishes them behind
    * one atomic manifest commit. Idempotent: re-delivering a
    * micro-batch cannot change the max row per key.
    */
  def upsertParquet(path: String, keys: Seq[String], seqCol: String,
                    tieBreak: Seq[String] = Nil, checkEmpty: Boolean = true)(
      batch: DataFrame): Unit = {
    val spark = batch.sparkSession
    val target = new HPath(path)
    val backup = new HPath(path + ".old")
    val fs = target.getFileSystem(spark.sessionState.newHadoopConf())
    // recovery: a crash between the two swap renames below leaves no
    // target but an intact backup — restore it before merging. The
    // restore MUST succeed or stop the merge: proceeding would treat
    // the table as empty and the later backup delete would destroy the
    // only surviving generation.
    if (!fs.exists(target) && fs.exists(backup) &&
        !fs.rename(backup, target))
      throw new java.io.IOException(s"upsert recovery rename failed for $path")
    // no-data micro-batches (watermark-advance triggers) must not pay an
    // O(table) rewrite — the merge result would be identical. Skipped in
    // batch mode (checkEmpty=false), where the probe would re-execute a
    // full plan that is essentially never empty.
    if (checkEmpty && batch.isEmpty) return
    val unioned =
      if (fs.exists(target))
        spark.read.parquet(path).unionByName(batch, allowMissingColumns = true)
      else batch
    val merged = graft.ops.Relational.applyChanges(
      keys, col(seqCol), tieBreak.map(col))(unioned)
    val staging = new HPath(path + ".staging")
    // the staging write MATERIALIZES the merge before the old generation
    // is touched — the read above is consumed entirely by this job
    merged.write.mode("overwrite").parquet(staging.toString)
    fs.delete(backup, true) // stale backup from a completed prior swap
    if (fs.exists(target) && !fs.rename(target, backup))
      throw new java.io.IOException(s"upsert swap: backup rename failed for $path")
    if (!fs.rename(staging, target))
      // old generation still intact at .old — recovered on next entry
      throw new java.io.IOException(s"upsert swap failed for $path")
    fs.delete(backup, true)
  }

  // The former `upsertParquetPruned` (dynamic-partition-overwrite merge)
  // lived here through round 10. Its per-partition commits meant a crash
  // mid-overwrite could expose a MIXED-generation table (its own
  // docstring conceded as much); [[ManifestStore.upsert]] replaces it
  // with the same O(touched partitions) pruned merge published behind a
  // single atomic manifest rename.

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

  /** Run the DAG with streaming sources: every Incremental table whose
    * consumers include a Full table (or which has no registered consumer)
    * is a streaming MATERIALIZATION BOUNDARY — it runs as one
    * `writeStream` job (checkpointed under `outDir/_checkpoints`), and
    * Full tables then batch-read the materialized parquet.
    *
    * `streamSources` must map every source name to a streaming DataFrame
    * factory; transforms are reused untouched — the engine's transforms
    * are mode-agnostic by construction.
    */
  def runStreamingThenFull(spark: SparkSession, reg: Registry,
                           streamSources: Map[String, () => DataFrame],
                           outDir: String): Map[String, String] = {
    val defs = reg.topoOrder.map(n => n -> reg.describe(n)).toMap
    val incremental = reg.topoOrder.filter(n => defs(n).exists(_.mode == Mode.Incremental))
    val full = reg.topoOrder.filter(n => defs(n).exists(_.mode == Mode.Full))

    // boundaries: incremental tables consumed by a Full table, or by nothing
    val consumers: Map[String, Seq[TableDef]] =
      reg.topoOrder.flatMap(n => defs(n)).flatMap(t => t.deps.map(_ -> t))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val boundaries = incremental.filter { n =>
      consumers.get(n).forall(_.isEmpty) ||
        consumers.getOrElse(n, Seq.empty).exists(_.mode == Mode.Full)
    }

    // one streaming resolver whose sources are the streaming frames;
    // sources NOT being streamed stay batch loaders — the stream-static
    // join pattern (a streaming table may read a dim batch-style)
    val streamReg = new Registry(spark)
    reg.sourceLoaders.foreach { case (n, f) =>
      if (!streamSources.contains(n)) streamReg.source(n, f)
    }
    streamSources.foreach { case (n, f) => streamReg.source(n, f) }
    reg.topoOrder.flatMap(defs(_)).foreach(streamReg.register)

    val written = boundaries.map { name =>
      val path = s"$outDir/$name"
      val checkpoint = s"$outDir/_checkpoints/$name"
      val resolved = streamReg.resolve(name)
      if (!resolved.isStreaming) {
        // a boundary over static sources only has no stream to start
        // (writeStream would throw WRITE_STREAM_NOT_ALLOWED): materialize
        // it like runBatch does, shadowing a stateful table for its
        // streaming consumers too
        if (writeTable(resolved, defs(name), path))
          streamReg.source(name, shadowLoader(spark, defs(name), path, resolved.schema))
      } else {
        val q = defs(name).map(_.writeMode).getOrElse(WriteMode.Overwrite) match {
          case WriteMode.Upsert(keys, seqCol, tie) =>
            // §2.10 streaming apply_changes as a sink: update-mode batches
            // carry the changed keys' latest rows; each micro-batch MERGEs
            // into the table (foreachBatch = the OSS seam where DLT calls
            // Delta MERGE, zetaflex-pipeline.py:138–151). Replay-safe: the
            // merge is idempotent, so at-least-once foreachBatch delivery
            // still converges to exactly the batch apply_changes result.
            val parts = defs(name).map(_.partitionCols).getOrElse(Nil)
            resolved.writeStream
              .outputMode("update")
              .option("checkpointLocation", checkpoint)
              .foreachBatch { (batch: DataFrame, _: Long) =>
                if (parts.nonEmpty)
                  ManifestStore.upsert(path, keys, seqCol, tie, parts)(batch)
                else upsertParquet(path, keys, seqCol, tie)(batch)
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
      }
      // the boundary's PLAN schema, for the same reason as runBatch:
      // consumers must not see directory-inference re-typing
      name -> (path, resolved.schema)
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

    // Full tables batch-read the materialized boundaries; static
    // sources (never streamed, never a boundary) keep their loaders
    val batchReg = new Registry(spark)
    reg.sourceLoaders.foreach { case (n, f) =>
      if (!written.contains(n)) batchReg.source(n, f)
    }
    written.foreach { case (n, (p, schema)) =>
      batchReg.source(n, shadowLoader(spark, defs(n), p, schema))
    }
    full.flatMap(defs(_)).foreach(batchReg.register)
    val fullOut = full.map { name =>
      val path = s"$outDir/$name"
      // same write dispatch and stateful-shadowing as runBatch: a Full
      // table with Append/Upsert semantics accumulates across runs, and
      // its consumers must read the accumulated table (with the plan's
      // schema — see runBatch)
      val df = batchReg.resolve(name)
      val planSchema = df.schema
      val stateful = writeTable(df, defs(name), path)
      if (stateful)
        batchReg.source(name, shadowLoader(spark, defs(name), path, planSchema))
      name -> path
    }.toMap
    written.view.mapValues(_._1).toMap ++ fullOut
  }
}
