package graftbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Properties of the benchmark itself, run by perfbench/tests: the
  * session resolves the range-join rewrite, and the timed full-output
  * action keeps every output column of each query in the mix. */
final class SelfTest(run: Run) extends Workload {
  private val corpus = s"${run.a.data}/corpus"
  private val seen = mutable.ArrayBuffer.empty[QueryExecution]

  override def warmup(spark: SparkSession): Unit =
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized(seen += qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

  override def measure(spark: SparkSession, deadline: Long): Unit =
    QueryMix.Names.foreach { n =>
      val df = QueryMix.query(n)(spark, corpus)
      run.op(QueryMix.fullOutput(df))
      org.apache.spark.GraftBenchBus.drain(spark.sparkContext)
      val last = seen.synchronized(seen.last)
      run.check(s"$n: the timed plan keeps every output column") {
        QueryMix.writtenColumns(last).contains(df.columns.toSeq)
      }
      if (n == "q263_auto_range_join")
        run.check(s"$n: no BroadcastNestedLoopJoin in the benchmark session") {
          PlanShape.counts(last.executedPlan)("plans.bnlj_joins") == 0
        }
    }

  override def check(spark: SparkSession): Unit = ()
}
