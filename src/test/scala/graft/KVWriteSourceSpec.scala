package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.serving.EmbeddedKVStore

/** Contract pins for the graft-kv DataSourceV2 WRITER: items land
  * exactly once through the 25-item batch API, retries cannot
  * double-count, and a failed job leaves the store untouched (staging
  * in commit messages, applying only at driver commit).
  */
class KVWriteSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bulk load lands exactly once, point lookups read back") {
    val sp = spark
    import sp.implicits._
    val sid = "kvw_ok"
    try {
      (0 until 60).map(i => (i.toLong, s"u$i", i * 1.5))
        .toDF("id", "name", "score")
        .repartition(4)
        .write.format("graft-kv")
        .option("store", sid).option("table", "users")
        .option("hashKey", "id")
        .mode("append").save()
      val kv = EmbeddedKVStore(sid)
      assert(kv.itemCount("users") === 60L)
      val got = kv.get("users", 17L).get
      assert(got("name") === "u17")
      assert(got("score") === 25.5)
    } finally EmbeddedKVStore.remove(sid)
  }

  test("the commit chunks every task's rows together: 60 rows over 4 " +
      "tasks are ceil(60/25) = 3 batches, not one partial batch per task") {
    val sp = spark
    import sp.implicits._
    val sid = "kvw_chunks"
    try {
      val df = (0 until 60).map(i => (i.toLong, s"u$i")).toDF("id", "name")
        .repartition(4)
      assert(df.rdd.getNumPartitions === 4)
      df.write.format("graft-kv")
        .option("store", sid).option("table", "users")
        .option("hashKey", "id")
        .mode("append").save()
      val kv = EmbeddedKVStore(sid)
      assert(kv.itemCount("users") === 60L)
      assert(kv.itemWriteCount("users") === 60L)
      assert(kv.batchWriteCount("users") === 3L)
    } finally EmbeddedKVStore.remove(sid)
  }

  test("a replayed commit counts no batch twice") {
    import graft.sources.{KVBatchWrite, KVStagedRows}
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    import org.apache.spark.sql.types._
    val sid = "kvw_replay"
    try {
      val schema = StructType(Seq(StructField("id", LongType)))
      val w = new KVBatchWrite(schema, sid, "t", "id", None)
      val tasks: Array[WriterCommitMessage] = (0 until 4).map(t => KVStagedRows(
        t.toLong, (0 until 15).map(i => Map[String, Any]("id" -> (t * 15L + i))))).toArray
      w.commit(tasks)
      w.commit(tasks)
      val kv = EmbeddedKVStore(sid)
      assert(kv.itemCount("t") === 60L)
      assert(kv.itemWriteCount("t") === 60L)
      assert(kv.batchWriteCount("t") === 3L)
    } finally EmbeddedKVStore.remove(sid)
  }

  test("hash+range table preserves both key parts") {
    val sp = spark
    import sp.implicits._
    val sid = "kvw_range"
    try {
      Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "c"))
        .toDF("uid", "ts", "v")
        .write.format("graft-kv")
        .option("store", sid).option("table", "tl")
        .option("hashKey", "uid").option("rangeKey", "ts")
        .mode("append").save()
      val kv = EmbeddedKVStore(sid)
      assert(kv.itemCount("tl") === 3L)
      assert(kv.get("tl", 1L, Some(20L)).get("v") === "b")
      assert(kv.query("tl", 1L).map(_("v")) === Seq("a", "b"))
    } finally EmbeddedKVStore.remove(sid)
  }

  test("a failing task leaves the store COMPLETELY untouched") {
    val sp = spark
    import sp.implicits._
    val sid = "kvw_abort"
    try {
      val df = sp.range(0, 100, 1, 4)
        .select(col("id"),
          when(col("id") === 77L,
            (lit(1) / lit(0)).cast("long")) // runtime error in one task
            .otherwise(col("id")).as("v"))
      // ANSI division by zero fails the job after the task stages rows
      intercept[Exception] {
        df.write.format("graft-kv")
          .option("store", sid).option("table", "t")
          .option("hashKey", "id")
          .mode("append").save()
      }
      // nothing was applied: commit never ran
      intercept[IllegalStateException] {
        EmbeddedKVStore(sid).itemCount("t")
      }
    } finally EmbeddedKVStore.remove(sid)
  }

  test("a bad row that only surfaces at DRIVER commit leaves the store " +
      "untouched too — keys validate before the first put") {
    // Null hash key passes every task stage (staging doesn't interpret
    // keys) and historically failed MID-commit, leaving earlier tasks'
    // rows applied. The commit now key-validates every staged item
    // before its first put, so the failed job applies NOTHING.
    import graft.sources.{KVBatchWrite, KVStagedRows}
    import org.apache.spark.sql.types._
    val sid = "kvw_commit_atomic"
    try {
      val schema = StructType(Seq(StructField("id", LongType),
        StructField("v", StringType)))
      val w = new KVBatchWrite(schema, sid, "t", "id", None)
      val good = KVStagedRows(0L,
        (0 until 30).map(i => Map[String, Any]("id" -> i.toLong, "v" -> "x")))
      val bad = KVStagedRows(1L,
        Seq(Map[String, Any]("v" -> "missing-hash-key")))
      intercept[IllegalArgumentException] {
        w.commit(Array(good, bad))
      }
      // all-or-nothing INCLUDING the control plane: validation runs
      // before createTable, so the failed commit did not apply task
      // 0's 30 valid rows AND did not leave a newly created empty
      // table behind either
      val e = intercept[IllegalStateException] {
        EmbeddedKVStore(sid).itemCount("t")
      }
      assert(e.getMessage.contains("does not exist"))
    } finally EmbeddedKVStore.remove(sid)
  }

  test("a task staging beyond the per-task cap fails with a clear " +
      "message, not a driver OOM") {
    import graft.sources.KVDataWriterFactory
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType)))
    val writer = new KVDataWriterFactory(schema).createWriter(0, 0L)
    var i = 0L
    while (i < KVDataWriterFactory.MaxStagedRowsPerTask) {
      writer.write(InternalRow(i)); i += 1
    }
    val e = intercept[IllegalStateException] {
      writer.write(InternalRow(i))
    }
    assert(e.getMessage.contains("projection-sized"))
  }
}
