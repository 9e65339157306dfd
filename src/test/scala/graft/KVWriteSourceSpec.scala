package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.serving.{EmbeddedKVSink, EmbeddedKVStore}

/** Contract pins for the KV serving WRITE ([[EmbeddedKVSink]]): items
  * land exactly once through the 25-item batch API, rows of every
  * partition are chunked together, and a failed job, a bad key or an
  * over-bound write leaves the store untouched (the frame is collected
  * and every item key-checked before the first put).
  */
class KVWriteSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("bulk load lands exactly once, point lookups read back") {
    val sp = spark
    import sp.implicits._
    val sid = "kvw_ok"
    try {
      val df = (0 until 60).map(i => (i.toLong, s"u$i", i * 1.5))
        .toDF("id", "name", "score")
        .repartition(4)
      new EmbeddedKVSink(sid).write(df, "users", "id")
      val kv = EmbeddedKVStore(sid)
      assert(kv.itemCount("users") === 60L)
      assert(kv.itemWriteCount("users") === 60L)
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
      new EmbeddedKVSink(sid).write(df, "users", "id")
      val kv = EmbeddedKVStore(sid)
      assert(kv.itemCount("users") === 60L)
      assert(kv.itemWriteCount("users") === 60L)
      assert(kv.batchWriteCount("users") === 3L)
    } finally EmbeddedKVStore.remove(sid)
  }

  test("hash+range table preserves both key parts") {
    val sp = spark
    import sp.implicits._
    val sid = "kvw_range"
    try {
      val df = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 10L, "c"))
        .toDF("uid", "ts", "v")
      new EmbeddedKVSink(sid).write(df, "tl", "uid", Some("ts"))
      val kv = EmbeddedKVStore(sid)
      assert(kv.itemCount("tl") === 3L)
      assert(kv.get("tl", 1L, Some(20L)).get("v") === "b")
      assert(kv.query("tl", 1L).map(_("v")) === Seq("a", "b"))
    } finally EmbeddedKVStore.remove(sid)
  }

  test("a failing task leaves the store COMPLETELY untouched") {
    val sp = spark
    val sid = "kvw_abort"
    try {
      val df = sp.range(0, 100, 1, 4)
        .select(col("id"),
          when(col("id") === 77L,
            (lit(1) / lit(0)).cast("long")) // runtime error in one task
            .otherwise(col("id")).as("v"))
      // ANSI division by zero fails the job; the other tasks' rows were
      // never applied
      intercept[Exception] {
        new EmbeddedKVSink(sid).write(df, "t", "id")
      }
      intercept[IllegalStateException] {
        EmbeddedKVStore(sid).itemCount("t")
      }
      assert(EmbeddedKVStore(sid).tableNames.isEmpty)
    } finally EmbeddedKVStore.remove(sid)
  }

  test("a bad row that only surfaces at DRIVER commit leaves the store " +
      "untouched too — keys validate before the first put") {
    // A null hash key passes every task (tasks don't interpret keys) and
    // surfaces only on the driver. Every item is key-validated before the
    // table is created and before its first put, so the write applies
    // NOTHING.
    val sp = spark
    import sp.implicits._
    val sid = "kvw_commit_atomic"
    try {
      val good = (0 until 30).map(i => (Option(i.toLong), "x"))
      val df = (good :+ ((None: Option[Long]) -> "missing-hash-key"))
        .toDF("id", "v").repartition(2)
      intercept[IllegalArgumentException] {
        new EmbeddedKVSink(sid).write(df, "t", "id")
      }
      // all-or-nothing INCLUDING the control plane: validation runs
      // before createTable, so the failed write did not apply the 30
      // valid rows AND did not leave a newly created empty table behind
      val e = intercept[IllegalStateException] {
        EmbeddedKVStore(sid).itemCount("t")
      }
      assert(e.getMessage.contains("does not exist"))
    } finally EmbeddedKVStore.remove(sid)
  }

  test("a task staging beyond the per-task cap fails with a clear " +
      "message, not a driver OOM") {
    // The cap bounds the whole write (EmbeddedKVSink.MaxRows rows): a frame
    // over it is a missing aggregate or filter, named in the error, and the
    // table already served stays as it was.
    val sp = spark
    val sid = "kvw_cap"
    try {
      val sink = new EmbeddedKVSink(sid)
      sink.write(sp.range(0, 10, 1, 2).select(col("id"), (col("id") * 2).as("v")),
        "t", "id")
      val over = sp.range(0, EmbeddedKVSink.MaxRows + 1L, 1, 4)
        .select(col("id"), lit(0L).as("v"))
      val e = intercept[IllegalStateException](sink.write(over, "t", "id"))
      assert(e.getMessage.contains("projection-sized"))
      val kv = EmbeddedKVStore(sid)
      assert(kv.itemCount("t") === 10L)
      (0L until 10L).foreach(i => assert(kv.get("t", i).get("v") === i * 2))
    } finally EmbeddedKVStore.remove(sid)
  }
}
