package graftbench

import scala.collection.mutable
import org.apache.spark.GraftBenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SortExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Physical-plan shape counts, read from the final (adaptive) plan. */
object PlanShape {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r) // executed once, counted once
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def counts(p: SparkPlan): Map[String, Double] = {
    val ns = nodes(p)
    def n(f: SparkPlan => Boolean) = ns.count(f).toDouble
    Map(
      "plans.exchanges" -> n(_.isInstanceOf[ShuffleExchangeExec]),
      "plans.sorts" -> n(_.isInstanceOf[SortExec]),
      "plans.bnlj_joins" -> n(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "plans.codegen_stages" -> n(_.isInstanceOf[WholeStageCodegenExec]))
  }
}

/** Per-layer counters of one run.
  *
  * Spans wrap the benchmark's own calls into each layer of the program;
  * listeners registered on the benchmark's session count the Spark work
  * under them. Listener counts accumulate only inside [[timed]], so
  * warm-up and output checks stay out of them. With tracing off nothing
  * is registered and [[span]] is a plain call.
  */
final class Trace(val on: Boolean) {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  @volatile private var open = false
  private var session: SparkSession = _
  /** The output directory whose child directories are DAG tables. */
  @volatile var tableRoot: String = ""

  def add(k: String, v: Double): Unit = synchronized {
    sums(k) = sums.getOrElse(k, 0.0) + v
  }
  def values: Map[String, Double] = synchronized(sums.toMap)

  /** Times `body` under `k`, inside timed operations only. */
  def span[T](k: String)(body: => T): T =
    if (!on || !open) body
    else {
      val t0 = System.nanoTime
      try body finally add(k, (System.nanoTime - t0) / 1e9)
    }

  /** Delivers every listener event posted so far. */
  def drain(): Unit = if (on && session != null)
    GraftBenchBus.drain(session.sparkContext)

  /** Runs one timed operation with the listener counters open. */
  def timed[T](body: => T): T = {
    drain(); open = true
    try body finally { drain(); open = false }
  }

  /** Registers the listeners on the session the run measures. */
  def attach(spark: SparkSession): Unit = {
    session = spark
    if (!on) return
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, e.time)
      if (open) add("graph.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val t0 = jobStarts.remove(e.jobId)
      if (open && t0 != 0L) add("spark.job_s", (e.time - t0) / 1e3)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (open) {
      val m = e.taskMetrics
      add("graph.tasks", 1)
      if (m != null) {
        add("exec.cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("exec.spill_bytes", m.diskBytesSpilled.toDouble)
      }
    }
  }

  /** A graft catalog scan names its live and listed file counts. */
  private val FilesRe = """graft_table .* files=(\d+)/(\d+)""".r.unanchored

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = if (open) {
      val phases = qe.tracker.phases
      add("pipelines.plan_s", Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum / 1e3)
      qe.logical.collectFirst {
        case c: InsertIntoHadoopFsRelationCommand
            if c.outputPath.getParent.toUri.getPath == tableRoot =>
          c.outputPath.getName
      }.foreach(t => add(s"graph.node_s.$t", durationNs / 1e9))
      val plan = qe.executedPlan
      PlanShape.counts(plan).foreach { case (k, v) => add(k, v) }
      PlanShape.nodes(plan).foreach {
        case s: FileSourceScanExec if s.relation.fileFormat.isInstanceOf[JsonFileFormat] =>
          s.metrics.get("numOutputRows").foreach(m => add("sources.json_rows_read", m.value.toDouble))
          s.metrics.get("filesSize").foreach(m => add("sources.json_bytes_read", m.value.toDouble))
        case n =>
          n.simpleString(200) match {
            case FilesRe(live, all) =>
              add("sources.catalog_files_scanned", live.toDouble)
              add("sources.catalog_files_live", all.toDouble)
            case _ => ()
          }
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (open) {
        val p = e.progress
        add("streaming.batches", 1)
        if (p.numInputRows == 0) add("streaming.empty_batches", 1)
        val d = p.durationMs
        Seq("addBatch" -> "add_batch_s", "walCommit" -> "wal_commit_s",
          "commitOffsets" -> "commit_offsets_s",
          "queryPlanning" -> "query_planning_s").foreach { case (k, n) =>
          if (d.containsKey(k)) add(s"streaming.$n", d.get(k) / 1e3)
        }
        add("streaming.state_commit_s",
          p.stateOperators.map(_.commitTimeMs).sum / 1e3)
      }
  }
}
