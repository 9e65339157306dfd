package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col
import graft.pipelines.CorpusPipeline
import graft.core.ScratchDirs

/** Hand-computed expectations over a small curation corpus: a quality
  * reject, an exact-dup pair, a near-dup pair, and clean keepers. */
class CorpusPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val long = "the quick brown fox jumps over the lazy dog and " +
    "keeps running through the quiet field in a long morning of patient " +
    "steady work that goes on and on without a pause for anyone at all"
  // near-dup of `long`: one word changed → 3-gram jaccard stays ≥ 0.6
  private val longNear = long.replace("quiet field", "quiet meadow")

  private def fixture = {
    val sp = spark
    import sp.implicits._
    Seq(
      (0L, long, "en", "web", 200L),          // kept (cluster canonical)
      (1L, longNear, "en", "web", 200L),      // near-dup of 0 → dropped
      (2L, long + ".", "en", "web", 200L),    // normalized exact dup of 0
      (3L, "tiny", "en", "web", 4L),          // quality reject (short)
      (4L, long + " extra tail words here to make it clearly distinct " +
        "from the first document in shingle space with many many new " +
        "phrases that overlap almost nowhere at all for jaccard purposes " +
        "plus further unrelated trailing content stretching the shingle " +
        "set far beyond the sixty percent overlap threshold easily",
        "en", "web", 400L))                   // kept
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  test("curation DAG: quality gate, exact dedup, near-dup cluster, verdicts") {
    val reg = CorpusPipeline.build(spark, () => fixture)
    val cur = reg.resolve("corpus_curation").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), Option(r.getString(2)))).toMap
    assert(cur(3L) === ((0, Some("quality"))))
    // doc 2 is an exact dup of doc 0 after punctuation normalization
    assert(cur(2L) === ((0, Some("exact_dup"))))
    // doc 1 near-dups doc 0; 0 is the canonical survivor
    assert(cur(1L) === ((0, Some("near_dup"))))
    assert(cur(0L) === ((1, None)))
    assert(cur(4L) === ((1, None)))

    val sample = reg.resolve("weighted_sample").collect()
    // only kept docs are sampled, ranked by the E-S key
    assert(sample.map(_.getLong(1)).toSet === Set(0L, 4L))
    assert(sample.map(_.getInt(0)).toSeq === Seq(1, 2))
  }

  test("budget selection and curriculum schedule compose on the DAG tail") {
    val reg = CorpusPipeline.build(spark, () => fixture)
    val mixedIds = reg.resolve("mixed").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val sel = reg.resolve("budget_selection").collect()
    // the fixture's kept docs total far under the 1000-token budget, so
    // selection must be exactly the mixed set, with reconcilable cumsums
    assert(sel.map(_.getLong(0)).toSet === mixedIds)
    val totalTok = sel.map(_.getLong(1)).sum
    assert(sel.map(_.getAs[Long]("cum_tokens")).max === totalTok,
      "the largest cumulative sum must equal the selected token total")
    val sched = reg.resolve("curriculum_schedule").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(sched.map(_._3).toSet === mixedIds)
    // slots are contiguous 1..n inside every band
    assert(sched.groupBy(_._2).forall { case (_, rows) =>
      rows.map(_._1).sorted.sameElements(1L to rows.size) })
  }

  test("benchmark decontamination quarantines kept docs sharing an 8-gram") {
    val sp = spark
    import sp.implicits._
    // the benchmark doc shares doc 4's tail verbatim (≥8 words) but
    // nothing with doc 0
    val bench = Seq((1000L,
      "plus further unrelated trailing content stretching the shingle " +
        "set far beyond the sixty percent overlap threshold easily"))
      .toDF("doc_id", "text")
    val reg = CorpusPipeline.build(spark, () => fixture, () => bench)
    val ready = reg.resolve("train_ready").collect().map(_.getLong(0)).toSet
    assert(ready === Set(0L), "doc 4 is contaminated, doc 0 stays")
    val sample = reg.resolve("weighted_sample").collect()
    assert(sample.map(_.getLong(1)).toSet === Set(0L))
  }

  test("mixing keeps the feasible set; packing lays docs end-to-end") {
    val reg = CorpusPipeline.build(spark, () => fixture)
    // single-language fixture: rate = 1, both kept docs survive mixing
    val packed = reg.resolve("packed").collect()
      .map(r => r.getLong(1) -> r).toMap
    assert(packed.keySet === Set(0L, 4L))
    val d0 = packed(0L); val d4 = packed(4L)
    assert(d0.getLong(3) === 0L, "first doc starts at offset 0")
    assert(d4.getLong(3) === d0.getLong(2),
      "doc 4 starts where doc 0's tokens end")
    assert(d0.getLong(4) === 0L && d4.getLong(4) === d4.getLong(3) / 256)
  }

  test("corpus products serve through the KV layer like the trading gold") {
    import graft.serving.{EmbeddedKVSink, EmbeddedKVStore}
    EmbeddedKVStore.remove("kv_corpus")
    val reg = CorpusPipeline.build(spark, () => fixture)
    val (packed, sample) =
      CorpusPipeline.serve(reg, new EmbeddedKVSink("kv_corpus"))
    val store = EmbeddedKVStore("kv_corpus")
    // the sink contract applied: camelCase, keys present
    assert(packed.columns.toSeq ===
      Seq("lang", "docId", "tokenCnt", "startOff", "packFirst", "packLast"))
    // served frame row-matches the DAG output it was built from
    val dag = reg.resolve("packed")
    assert(store.itemCount("corpus_packed") === dag.count())
    dag.select("lang", "doc_id", "start_off").collect().foreach { r =>
      assert(store.get("corpus_packed", r.getString(0), Some(r.getLong(1)))
        .get.apply("startOff") === r.getLong(2))
    }
    assert(store.itemCount("corpus_sample") === sample.count())
    val ranks = sample.select("rk").collect().map(_.getInt(0)).sorted.toSeq
    assert(ranks.map(rk => store.get("corpus_sample", rk).get.apply("docId"))
      === reg.resolve("weighted_sample").orderBy("rk")
        .collect().map(_.getLong(1)).toSeq)
  }

  test("the corpus DAG materializes end-to-end through Runner.runBatch") {
    val out = ScratchDirs.create("corpus_dag")
    val reg = CorpusPipeline.build(spark, () => fixture)
    val paths = graft.graph.Runner.runBatch(reg, out)
    assert(paths.keySet.contains("packed") && paths.keySet.contains(
      "weighted_sample"))
    val packed = spark.read.parquet(paths("packed"))
    assert(packed.count() === 2)
  }

  test("streaming run with a static benchmark dim equals the batch run") {
    val sp = spark
    import sp.implicits._
    val srcDir = ScratchDirs.create("corpus_src")
    fixture.write.mode("overwrite").parquet(s"$srcDir/docs")
    val bench = Seq((1000L,
      "plus further unrelated trailing content stretching the shingle " +
        "set far beyond the sixty percent overlap threshold easily"))
      .toDF("doc_id", "text")

    val batchOut = graft.graph.Runner.runBatch(
      CorpusPipeline.build(spark,
        () => spark.read.parquet(s"$srcDir/docs"), () => bench),
      ScratchDirs.create("corpus_b"))
    // documents streams; benchmark stays a static batch dim
    val streamOut = graft.graph.Runner.runStreamingThenFull(spark,
      CorpusPipeline.build(spark,
        () => spark.read.parquet(s"$srcDir/docs"), () => bench),
      Map("documents" -> (() =>
        spark.readStream.schema(fixture.schema).parquet(s"$srcDir/docs"))),
      ScratchDirs.create("corpus_s"))

    for (tbl <- Seq("train_ready", "packed")) {
      val b = spark.read.parquet(batchOut(tbl))
      val s = spark.read.parquet(streamOut(tbl))
      assert(b.exceptAll(s).count() === 0 && s.exceptAll(b).count() === 0,
        s"$tbl: stream/batch divergence")
    }
    assert(spark.read.parquet(streamOut("train_ready"))
      .select("doc_id").as[Long].collect().toSet === Set(0L))
  }

  test("DAG corpus_curation matches the oracle-gated q80 on real documents") {
    val reg = CorpusPipeline.build(spark,
      () => graft.tables.Tables.load(spark, TestSpark.sf0001, "documents"))
    val dag = reg.resolve("corpus_curation").orderBy("doc_id").collect()
    val q80 = graft.queries.Catalog.byName("q80_corpus_curation")
      .run(spark, TestSpark.sf0001).collect()
    assert(dag.length === q80.length)
    assert(dag.map(_.toSeq).toSeq === q80.map(_.toSeq).toSeq)
  }
}
