package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import graft.SparkEntry

/** A fixed list of catalog queries over a seeded corpus, each executed
  * for its full output. */
object QueryMix {
  /** Queries of the relational, window, join, CDC, text and similarity
    * modules, the catalog's SQL table and MERGE statements, and four named
    * ones: the n-gram projection q253, the range-join rewrite q263 and the
    * streaming pair q70 and q88. */
  val Names: Seq[String] = Seq(
    "q01_pricing_summary", "q11_rank_leaderboard", "q19_join_3way",
    "q38_apply_changes", "q32_text_stats", "q30_knn_bruteforce",
    "q304_catalog_sql_table", "q307_catalog_sql_merge",
    "q253_max_repeated_ngram", "q263_auto_range_join",
    "q70_streaming_hourly", "q88_streaming_apply_changes")

  /** The timed action: every output column of the query computed, nothing
    * kept. Unlike `count()`, the noop sink leaves Catalyst nothing to
    * prune. */
  def fullOutput(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def query(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  /** Output column names of the write node a full-output action ran. */
  def writtenColumns(qe: org.apache.spark.sql.execution.QueryExecution): Option[Seq[String]] =
    PlanShape.nodes(qe.executedPlan).collectFirst {
      case w: V2TableWriteExec => w.query.output.map(_.name)
    }
}

final class QueryMix(run: Run) extends Workload {
  private val a = run.a
  private val corpus = s"${a.data}/corpus"
  private val written = Seq(s"${a.work}/tmp", s"${a.work}/warehouse")
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Set-up: every corpus table opened and its schema read. */
  override def prepare(spark: SparkSession): Unit =
    graft.tables.Tables.names.foreach(n => graft.tables.Tables.load(spark, corpus, n).schema)

  /** Each query's warm-up writes its full output as parquet, which the
    * DuckDB oracle check reads after the run; a query that fails here
    * fails that check. */
  override def warmup(spark: SparkSession): Unit = {
    val oracle = SparkEntry.oracleSql
    val json = Json.obj(QueryMix.Names.map(n => n -> Json.str(oracle.getOrElse(n, ""))))
    Files.write(Paths.get(s"${a.work}/oracle.json"), json.getBytes(StandardCharsets.UTF_8))
    QueryMix.Names.foreach { n =>
      try QueryMix.query(n)(spark, corpus).write.mode("overwrite")
        .parquet(s"${a.work}/qout/$n")
      catch { case e: Exception => run.note(s"$n warm-up", e) }
    }
  }

  override def measure(spark: SparkSession, deadline: Long): Unit =
    do {
      QueryMix.Names.foreach { n =>
        val t0 = System.currentTimeMillis
        run.op(QueryMix.fullOutput(QueryMix.query(n)(spark, corpus))).foreach { s =>
          samples.getOrElseUpdate(n, mutable.ArrayBuffer.empty) += s
        }
        run.writtenBytes += written.map(run.bytesSince(_, t0)).sum
      }
      run.inputBytes += Main.bytes(corpus)
      run.passes += 1
    } while (System.nanoTime < deadline)

  override def check(spark: SparkSession): Unit =
    samples.foreach { case (n, xs) =>
      run.layers(s"queries.${n}_s") = xs.sorted.apply(xs.size / 2)
    }
}
