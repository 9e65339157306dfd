package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.core.ScratchDirs

/** Contract pins for the custom DataSourceV2 connector
  * (graft.sources.TicksProvider): pushdown REALLY narrows generation,
  * column pruning REALLY narrows the read schema, declined predicates
  * are REALLY re-applied by Spark, and partition planning covers the
  * range exactly once.
  */
class TicksSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def ticks(rows: Long = 1000L, parts: Int = 4) =
    spark.read.format("graft.sources.TicksProvider")
      .option("rows", rows).option("parts", parts).load()

  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan.toString
      case p => p.toString
    }
  }

  test("full scan: every row matches the generator formula, exactly once") {
    val rows = ticks(1000L).collect()
    assert(rows.length === 1000)
    assert(rows.map(_.getLong(0)).toSet === (0L until 1000L).toSet)
    val r = rows.find(_.getLong(0) === 123L).get
    assert(r.getString(1) === "S3")
    assert(r.getLong(2) === 1700000123L)
    assert(r.getLong(3) === 10000L + (123L * 37) % 2000 - 1000)
    assert(r.getLong(4) === 1L + (123L * 7) % 100)
  }

  test("tick_id range pushdown narrows generation and shows in the plan") {
    val df = ticks(100000L, 8)
      .filter(col("tick_id") >= 60000L && col("tick_id") < 60500L)
    val plan = executedPlan(df)
    assert(plan.contains("range=[60000,60500)"),
      s"pushdown did not reach the connector:\n$plan")
    assert(df.count() === 500L)
  }

  test("declined predicates are re-applied by Spark, not lost") {
    val df = ticks(1000L).filter(col("symbol") === "S5")
    val plan = executedPlan(df)
    // connector declines symbol predicates -> full range, Spark filters
    assert(plan.contains("range=[0,1000)"))
    assert(df.count() === 125L) // 1000 / 8 symbols
    assert(df.collect().forall(_.getString(1) == "S5"))
  }

  test("column pruning reaches the reader schema") {
    val df = ticks(1000L).select("symbol")
    val plan = executedPlan(df)
    assert(plan.contains("cols=symbol"),
      s"pruned schema did not reach the connector:\n$plan")
  }

  test("partition planning covers a narrowed range exactly once") {
    val df = ticks(100000L, 7)
      .filter(col("tick_id") >= 12345L && col("tick_id") <= 23456L)
    assert(df.count() === 23456L - 12345L + 1)
    assert(df.agg(countDistinct("tick_id")).head.getLong(0)
      === 23456L - 12345L + 1)
  }

  test("empty range after contradictory pushdown yields zero rows") {
    val df = ticks(1000L)
      .filter(col("tick_id") === 2000L) // beyond rows
    assert(df.count() === 0L)
  }

  test("micro-batch stream drains the cap under admission control, " +
      "exactly once") {
    val sp = spark
    val q = sp.readStream.format("graft-ticks")
      .option("rows", 5000L).option("parts", 4)
      .option("ratePerBatch", 1200L)
      .load()
      .writeStream.format("memory").queryName("ticks_sink")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val got = sp.sql("SELECT tick_id FROM ticks_sink").collect()
        .map(_.getLong(0))
      assert(got.length === 5000)
      assert(got.toSet === (0L until 5000L).toSet)
      // admission control: no batch exceeded the rate
      val sizes = q.recentProgress.toSeq.map(_.numInputRows).filter(_ > 0)
      assert(sizes.forall(_ <= 1200L), s"batch sizes: $sizes")
      assert(sizes.length >= 5) // ceil(5000/1200)
    } finally q.stop()
  }

  test("checkpoint restart resumes from the committed offset, no dup/loss") {
    val sp = spark
    val ckpt = ScratchDirs.create("graft_ticks_ckpt_")
    val out = ScratchDirs.create("graft_ticks_out_")
    def run(): Unit = {
      val q = sp.readStream.format("graft-ticks")
        .option("rows", 3000L).option("ratePerBatch", 700L)
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // drains fully
    run() // restart against the same checkpoint: nothing new to emit
    val rows = sp.read.parquet(out).select("tick_id").collect()
      .map(_.getLong(0))
    assert(rows.length === 3000)
    assert(rows.toSet === (0L until 3000L).toSet)
  }

  test("offsets carry the pushed range; a restart under a DIFFERENT " +
      "predicate fails loudly instead of reinterpreting them") {
    import graft.sources.{TicksOffset, TicksScanBuilder}
    import org.apache.spark.sql.sources.GreaterThanOrEqual
    // json round-trip
    val off = TicksOffset(42L, 10L, 900L)
    assert(TicksOffset.parse(off.json()) === off)
    // a scan narrowed to [100, 1000) rejects an offset checkpointed
    // under the unfiltered [0, 1000) range
    val b = new TicksScanBuilder(1000L, 4)
    b.pushFilters(Array(GreaterThanOrEqual("tick_id", 100L)))
    val stream = b.build()
      .asInstanceOf[org.apache.spark.sql.connector.read.streaming.MicroBatchStream]
    val e = intercept[IllegalStateException] {
      stream.deserializeOffset(TicksOffset(500L, 0L, 1000L).json())
    }
    assert(e.getMessage.contains("predicate changed"))
    // same predicate: accepted verbatim
    assert(stream.deserializeOffset(TicksOffset(500L, 100L, 1000L).json())
      === TicksOffset(500L, 100L, 1000L))
  }

  test("estimateStatistics reflects pushdown and pruning — the CBO " +
      "sees a filtered V2 scan as broadcast-sized") {
    import org.apache.spark.sql.connector.read.SupportsReportStatistics
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    def stats(narrow: Boolean, prune: Boolean) = {
      val b = new graft.sources.TicksScanBuilder(1000000L, 4)
      if (narrow) b.pushFilters(Array(
        GreaterThanOrEqual("tick_id", 0L), LessThan("tick_id", 1000L)))
      if (prune) b.pruneColumns(org.apache.spark.sql.types.StructType(
        TicksSource_schemaFields.take(1)))
      b.build().asInstanceOf[SupportsReportStatistics].estimateStatistics()
    }
    val full = stats(narrow = false, prune = false)
    val narrowed = stats(narrow = true, prune = false)
    val pruned = stats(narrow = true, prune = true)
    assert(full.numRows.getAsLong === 1000000L)
    assert(narrowed.numRows.getAsLong === 1000L)
    assert(narrowed.sizeInBytes.getAsLong < full.sizeInBytes.getAsLong)
    assert(pruned.sizeInBytes.getAsLong < narrowed.sizeInBytes.getAsLong)
    // the narrowed+pruned scan is far under any broadcast threshold
    assert(pruned.sizeInBytes.getAsLong < 10L * 1024 * 1024)
  }
  private def TicksSource_schemaFields =
    graft.sources.TicksSource.SCHEMA.fields.toSeq

  test("aggregate pushdown declension rules: group-by, non-affine " +
      "columns, and unsupported functions all fall back to a real scan") {
    import org.apache.spark.sql.functions.{count => cnt}
    // GROUP BY symbol: declined (grouping) → plan keeps an aggregate
    val grouped = ticks(10000L).groupBy("symbol").agg(cnt(lit(1)).as("n"))
    assert(executedPlan(grouped).contains("HashAggregate"))
    assert(grouped.collect().map(_.getLong(1)).sum === 10000L)
    // MIN over the PERIODIC column: declined (not affine — endpoints
    // would be wrong) → Spark aggregates real rows, value is exact
    val per = ticks(10000L).agg(min("px_cents").as("m"))
    assert(executedPlan(per).contains("Aggregate"))
    assert(per.head.getLong(0) ===
      (0L until 10000L).map(i => 10000L + (i * 37) % 2000 - 1000).min)
    // DESCENDING top-N: declined → TakeOrdered stays and the result is
    // the true tail of the range
    val desc = ticks(10000L).orderBy(col("tick_id").desc).limit(3)
    assert(executedPlan(desc).contains("TakeOrdered"))
    assert(desc.collect().map(_.getLong(0)).toSeq === Seq(9999L, 9998L, 9997L))
    // empty pushed range under aggregation: COUNT 0, MIN/MAX null
    val empty = ticks(1000L).filter(col("tick_id") >= 5000L)
      .agg(cnt(lit(1)).as("n"), min("tick_id").as("mn"), max("ts_sec").as("mx"))
    val r = empty.head
    assert(r.getLong(0) === 0L && r.isNullAt(1) && r.isNullAt(2))
  }

  test("runtime In-filter re-plans partitions to cover only matching " +
      "id runs; the streaming offsets stay put") {
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.In
    val b = new graft.sources.TicksScanBuilder(100000L, 8)
    val scan = b.build()
    val rf = scan.asInstanceOf[SupportsRuntimeFiltering]
    assert(rf.filterAttributes().map(_.describe()).toSeq === Seq("tick_id"))
    rf.filter(Array[org.apache.spark.sql.sources.Filter](In("tick_id",
      Array[Any](5L, 6L, 7L, 100L, 202L, 203L, 99999L, 123456L))))
    val parts = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.TicksRange])
    // 4 contiguous runs, out-of-range 123456 dropped
    assert(parts.toSeq === Seq(
      graft.sources.TicksRange(5L, 8L), graft.sources.TicksRange(100L, 101L),
      graft.sources.TicksRange(202L, 204L),
      graft.sources.TicksRange(99999L, 100000L)))
    // streaming leg is untouched by runtime filters
    val stream = scan.asInstanceOf[
      org.apache.spark.sql.connector.read.streaming.MicroBatchStream]
    assert(stream.initialOffset() === graft.sources.TicksOffset(0L, 0L, 100000L))
    assert(stream.latestOffset() === graft.sources.TicksOffset(100000L, 0L, 100000L))
  }

  test("runtime In-filter with DUPLICATE ids coalesces without " +
      "overlapping runs — the interface does not contract distinctness") {
    import org.apache.spark.sql.connector.read.SupportsRuntimeFiltering
    import org.apache.spark.sql.sources.In
    val b = new graft.sources.TicksScanBuilder(1000L, 4)
    val scan = b.build()
    scan.asInstanceOf[SupportsRuntimeFiltering].filter(
      Array[org.apache.spark.sql.sources.Filter](In("tick_id",
        Array[Any](5L, 5L, 6L, 6L, 6L, 9L, 9L))))
    val parts = scan.toBatch.planInputPartitions()
      .map(_.asInstanceOf[graft.sources.TicksRange])
    // [5,5,6] under the old advance loop emitted overlapping runs →
    // silently duplicated rows; distinct-first coalescing must not
    assert(parts.toSeq === Seq(
      graft.sources.TicksRange(5L, 7L), graft.sources.TicksRange(9L, 10L)))
  }

  test("legacy bare-decimal checkpoint offset fails with a " +
      "format-migration message, not 'not an offset'") {
    val e = intercept[IllegalArgumentException] {
      graft.sources.TicksOffset.parse("12345")
    }
    assert(e.getMessage.contains("format changed"))
    assert(e.getMessage.contains("new checkpoint"))
  }
}
