package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{Mode, Registry, TableDef}
import graft.ops.Relational

/** Training-corpus preparation as a dataflow DAG — the pipeline-API form
  * of the oracle-verified curation queries (q26/q28/q77/q80/q82/q83): a
  * `documents`-shaped source flows quality flags → exact dedup → banded
  * near-dup pairs → duplicate clusters → a per-document curation verdict
  * → benchmark decontamination → domain-mixture resampling → sequence
  * packing, plus a deterministic weighted sample of the kept set.
  *
  * Each stage prunes the next stage's input (the property that keeps the
  * whole pipeline sub-quadratic at 100 TB); every operator here is the
  * same shared implementation the hard-gated queries run, so the DAG
  * inherits their oracle coverage.
  */
object CorpusPipeline {

  val StopWords = Seq("the", "and", "of", "a", "in", "to", "is")
  private val stopList = StopWords.map(w => s"'$w'").mkString("(", ", ", ")")

  /** Distinct word-8-grams per doc — the q83 decontamination unit. */
  private def grams8(df: DataFrame): DataFrame =
    df.withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 8)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(words) - 7), " +
          "i -> concat_ws(' ', words[i-1], words[i], words[i+1], " +
          "words[i+2], words[i+3], words[i+4], words[i+5], words[i+6]))")))
        .as("gram"))

  /** @param documents (doc_id bigint, text string, n_chars bigint, …)
    * @param benchmark held-out eval docs (doc_id, text) — any training
    *                  doc sharing an 8-gram with one is quarantined */
  def build(spark: SparkSession, documents: () => DataFrame,
            benchmark: () => DataFrame = null,
            minChars: Int = 150, sampleK: Int = 100): Registry = {
    val reg = new Registry(spark)
    reg.source("documents", documents)
    reg.source("benchmark",
      if (benchmark != null) benchmark
      else () => documents().select("doc_id", "text").limit(0))

    // per-doc quality flags + token count (q32/q34 formulas)
    reg.register(TableDef("doc_flags", Seq("documents"), { case Seq(docs) =>
      docs
        .withColumn("words", split(col("text"), " "))
        .withColumn("token_cnt", size(col("words")).cast("long"))
        .withColumn("has_stop",
          expr(s"size(filter(words, w -> w IN $stopList)) > 0"))
        .withColumn("q_pass", col("n_chars") >= minChars && col("has_stop"))
    }, mode = Mode.Incremental))

    // exact dedup among quality passes: min doc_id per normalized
    // fingerprint (q36 normalization, q26 survivor rule)
    reg.register(TableDef("exact_survivors", Seq("doc_flags"), {
      case Seq(flags) =>
        Relational.dedupeExact(Seq("fp"), col("doc_id"))(
          flags.filter(col("q_pass")).withColumn("fp",
            md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))))
    }, mode = Mode.Full))

    // banded MinHash near-dup pairs among the survivors only (q28 path)
    reg.register(TableDef("neardup_pairs", Seq("exact_survivors"), {
      case Seq(surv) =>
        graft.queries.DedupQueries.minhashPairsOf(
          spark, surv.select("doc_id", "text"))
    }, mode = Mode.Full))

    // duplicate clusters: smallest reachable doc_id per component (q77)
    reg.register(TableDef("neardup_components", Seq("neardup_pairs"), {
      case Seq(pairs) =>
        Relational.connectedComponents(
          pairs.select("doc_a", "doc_b"), "doc_a", "doc_b")
          .select(col("node").as("doc_id"), col("comp").as("canonical_id"))
    }, mode = Mode.Full))

    // per-document verdict with the first applicable drop reason (q80)
    reg.register(TableDef("corpus_curation",
      Seq("doc_flags", "exact_survivors", "neardup_components"), {
      case Seq(flags, surv, comps) =>
        flags
          .join(surv.select(col("doc_id"), lit(1).as("exact_surv")),
            Seq("doc_id"), "left")
          .join(comps, Seq("doc_id"), "left")
          .withColumn("kept",
            when(!col("q_pass"), 0)
              .when(col("exact_surv").isNull, 0)
              .when(col("canonical_id").isNotNull &&
                col("canonical_id") =!= col("doc_id"), 0)
              .otherwise(1))
          .withColumn("drop_reason",
            when(!col("q_pass"), "quality")
              .when(col("exact_surv").isNull, "exact_dup")
              .when(col("canonical_id").isNotNull &&
                col("canonical_id") =!= col("doc_id"), "near_dup"))
          .select("doc_id", "kept", "drop_reason", "token_cnt")
    }, mode = Mode.Full))

    // benchmark decontamination of the kept set (q83): quarantine any
    // kept doc sharing an 8-gram with the held-out benchmark. Equi-join
    // on the gram — the benchmark side is tiny, so at scale this stays
    // one linear pass over the kept corpus.
    reg.register(TableDef("train_ready",
      Seq("corpus_curation", "doc_flags", "benchmark"), {
      case Seq(cur, flags, bench) =>
        val kept = flags.join(
          cur.filter(col("kept") === 1).select("doc_id"), Seq("doc_id"))
        val contaminated = grams8(kept.select("doc_id", "text"))
          .join(grams8(bench).select("gram").distinct(), "gram")
          .select("doc_id").distinct()
        kept.join(contaminated, Seq("doc_id"), "left_anti")
    }, mode = Mode.Full))

    // domain-mixture resampling of the decontaminated set (q85): largest
    // feasible total from per-language counts, deterministic u-hash
    // keep-rates, rates dim broadcast (bounded at one row per language)
    reg.register(TableDef("mixed", Seq("train_ready"), { case Seq(ready) =>
      val counts = ready.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .withColumn("mw", when(col("lang") === "en", 0.30).otherwise(0.175))
      val nMax = counts.agg(min(col("n_docs") / col("mw")).as("n_max"))
      val rates = counts.crossJoin(nMax)
        .withColumn("rate",
          least(lit(1.0), col("mw") * col("n_max") / col("n_docs")))
      ready
        .join(broadcast(rates.select("lang", "rate")), "lang")
        .withColumn("u",
          expr("cast(conv(substring(md5(cast(doc_id AS string)), 1, 13)," +
            " 16, 10) AS bigint)").cast("double") / lit(4503599627370496.0))
        .filter(col("u") < col("rate"))
        .drop("rate", "u")
    }, mode = Mode.Full))

    // sequence packing of the mixed corpus (q84): per language stream,
    // docs laid end-to-end in doc_id order, cut into 256-token windows
    reg.register(TableDef("packed", Seq("mixed"), { case Seq(mixed) =>
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("lang").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      mixed
        .select(col("lang"), col("doc_id"), col("token_cnt"))
        .withColumn("start_off", coalesce(sum("token_cnt").over(w), lit(0L)))
        .withColumn("pack_first", expr("start_off DIV 256"))
        .withColumn("pack_last",
          expr("(start_off + token_cnt - 1) DIV 256"))
    }, mode = Mode.Full))

    // deterministic weighted sample of the decontaminated kept set
    // (q82: E-S order statistics with power-of-two weights and the
    // bounded top-k)
    reg.register(TableDef("weighted_sample",
      Seq("train_ready"), { case Seq(ready) =>
        // weights must come from a signal NOT implied by the quality
        // gate (every train_ready doc already has has_stop and the
        // min-chars floor — tiers on those would collapse to a single
        // weight, i.e. a uniform sample): token-count buckets vary
        // across kept docs
        val kept = ready.select(col("doc_id"), col("token_cnt"))
        kept
          .withColumn("w",
            when(col("token_cnt") >= 64, 4)
              .when(col("token_cnt") >= 32, 2)
              .otherwise(1))
          .withColumn("u",
            expr("cast(conv(substring(md5(cast(doc_id AS string)), 1, 13)," +
              " 16, 10) AS bigint)").cast("double") / lit(4503599627370496.0))
          .withColumn("key",
            when(col("w") === 4, sqrt(sqrt(col("u"))))
              .when(col("w") === 2, sqrt(col("u")))
              .otherwise(col("u")))
          .agg(expr(s"graft_topk(key, doc_id, $sampleK)").as("top"))
          .select(posexplode(col("top")).as(Seq("rk0", "p")))
          .select((col("rk0") + 1).cast("integer").as("rk"),
            col("p.id").as("doc_id"), col("p.ord").as("key"))
      }, mode = Mode.Full))

    // token-budget selection over the mixed corpus (the q132 two-level
    // prefix-sum device): keep the highest-scoring docs until the token
    // budget is exhausted — score is the distinct-token ratio, buckets
    // are monotone in score, per-bucket cumsums run partitioned, and
    // only the ≤21-row bucket-offset frame ever sees a singleton window
    reg.register(TableDef("budget_selection",
      Seq("mixed"), { case Seq(mixed) =>
        import org.apache.spark.sql.expressions.Window
        val budget = 1000L
        val scored = mixed
          .withColumn("words", split(col("text"), " "))
          .select(col("doc_id"), col("token_cnt"),
            (size(array_distinct(col("words"))).cast("double")
              / size(col("words"))).as("score"))
          .withColumn("bucket", floor(col("score") * 20).cast("int"))
        val offsets = scored
          .groupBy("bucket").agg(sum(col("token_cnt")).as("btok"))
          .withColumn("offset", coalesce(
            sum(col("btok")).over(Window.orderBy(desc("bucket"))
              .rowsBetween(Long.MinValue, -1)), lit(0L)))
          .select(col("bucket"), col("offset"))
        val w = Window.partitionBy("bucket")
          .orderBy(desc("score"), asc("doc_id"))
        scored
          .withColumn("cum_in_bucket", sum(col("token_cnt")).over(w))
          .join(broadcast(offsets), "bucket")
          .withColumn("cum_tokens", col("offset") + col("cum_in_bucket"))
          .filter(col("cum_tokens") - col("token_cnt") < budget)
          .select("doc_id", "token_cnt", "score", "cum_tokens")
      }, mode = Mode.Full))

    // curriculum schedule of the budget selection (the q140 interleave):
    // difficulty bands by score, reproducible md5 slots inside each
    // band, emitted in (slot, band) order so every training window sees
    // the full difficulty mixture — the (slot, band) key IS the write
    // partitioning of the schedule
    reg.register(TableDef("curriculum_schedule",
      Seq("budget_selection"), { case Seq(sel) =>
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("band").orderBy(asc("h"), asc("doc_id"))
        sel
          .withColumn("band", floor(col("score") * 10).cast("int"))
          .withColumn("h", md5(col("doc_id").cast("string")))
          .withColumn("slot", row_number().over(w).cast("long"))
          .select("slot", "band", "doc_id", "token_cnt")
      }, mode = Mode.Full))

    reg
  }

  /** Serve the corpus products through the KV layer exactly the way the
    * trading gold tables go out (the fee-tiers whole-table shape,
    * [[graft.serving.ServingJobs.serveTable]]): `packed` keyed by
    * (lang, docId) so a training reader fetches one language stream in
    * pack order, `weighted_sample` keyed by rank. Returns the two served
    * frames (camelCased, unix timestamps — the sink contract). */
  def serve(reg: Registry, sink: graft.serving.EmbeddedKVSink)
      : (DataFrame, DataFrame) = {
    val packed = graft.serving.ServingJobs.serveTable(
      reg.resolve("packed"), sink, "corpus_packed",
      hashKey = "lang", rangeKey = Some("docId"))
    val sample = graft.serving.ServingJobs.serveTable(
      reg.resolve("weighted_sample"), sink, "corpus_sample",
      hashKey = "rk", rangeKey = None)
    (packed, sample)
  }
}
