package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** sf1 spot-sweep (round-12 verdict stretch item): the 2×-at-sf0.1 gate
  * cannot see an O(n log n) → O(n²) cliff; one decade of scale can.
  * This main DERIVES an sf1 dataset from the driver's sf0.1 tables
  * (10 key-shifted shards — see [[deriveSf1]] for why content is
  * perturbed, not cloned), times the full output ([[QueryRun.time]]) of
  * the most expensive clean-record queries at both scales in one JVM,
  * and writes
  * `BENCH_sf1_subset.json` with per-query ratios. Gate: no query
  * super-linear beyond 12× (data is 10×; the 1.2 allows log factors
  * and fixed-cost noise on sub-second queries).
  *
  * The testdata dirs are read-only; the derived shards land under
  * /tmp and are rebuilt on demand (SPARK_GRAFT_SF1_DIR overrides).
  */
object ScaleSweep {

  /** The 15 most expensive queries of the round-11 clean record
    * (bench_full_r11.json, descending) — the set the sweep watches. */
  val TOP15: Seq[String] = Seq(
    "q120_pagerank", "q104_stream_outer_join", "q97_stream_stream_join",
    "q128_sparse_cosine", "q105_incremental_neardup", "q196_minhash_eval",
    "q184_equidepth_histogram", "q88_streaming_apply_changes",
    "q229_streaming_rate_limit", "q173_triangle_count",
    "q80_corpus_curation", "q131_bucketed_join", "q213_ppjoin",
    "q77_neardup_clusters", "q87_streaming_sessions")

  /** Derive a larger scale from sf0.1 as `shards` key-shifted shards
    * (shard 0 = the original rows; 10 shards = sf1, 100 = sf10). Key
    * spaces scale like TPC-H's: fact and dimension
    * keys shift per shard so join fan-outs grow linearly; nation/region
    * stay fixed (they are fixed in TPC-H too). CONTENT perturbation
    * matters for the similarity/dedup queries: a naive 10× clone of
    * `documents` would give every doc 9 exact twins and blow candidate
    * pairs up ~100×, benchmarking a pathology instead of scale — so
    * each shard's text is word-rotated with a shard marker prepended
    * (cross-shard docs stop being near-dups; within-shard structure is
    * preserved exactly), and each embedding is cyclically rotated
    * (norms and pairwise-distance DISTRIBUTION preserved, neighbor
    * sets changed). Every per-shard device is a function of the shard
    * NUMBER, so the construction extends to any shard count — the
    * sf10 probe (round-13 verdict item 2) reuses it verbatim at 100. */
  def deriveSf1(spark: SparkSession, srcDir: String, dstDir: String,
                shards: Int = 10): Unit = {
    def src(t: String) = graft.tables.Tables.load(spark, srcDir, t)
    // single-FILE layout, exactly like the driver's testdata: several
    // queries stage/stream `<dir>/<t>.parquet` with file-glob options
    // that a directory-of-parts layout would break
    def writeOut(t: String)(df: DataFrame): Unit = {
      val tmp = s"$dstDir/.tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val tmpDir = java.nio.file.Path.of(tmp)
      val listing = java.nio.file.Files.list(tmpDir)
      val found =
        try {
          val part = listing.iterator()
          var f: java.nio.file.Path = null
          while (part.hasNext) {
            val p = part.next()
            if (p.getFileName.toString.endsWith(".parquet")) f = p
          }
          f
        } finally listing.close()
      require(found != null, s"no part file written for $t")
      val dst = java.nio.file.Path.of(s"$dstDir/$t.parquet")
      java.nio.file.Files.deleteIfExists(dst)
      java.nio.file.Files.move(found, dst)
      graft.core.ScratchDirs.deleteTree(tmpDir) // crc/_SUCCESS files
    }

    // one shard column crossed in, then per-table key shifts; all
    // expressions stay in codegen (this is a 6M-row ETL job, not a
    // driver loop)
    val shardDf = spark.range(shards.toLong).select(col("id").as("__shard"))
    def sharded(t: String): DataFrame = src(t).crossJoin(shardDf)
    def shift(c: String, step: Long) =
      (col(c) + col("__shard") * lit(step)).as(c)

    writeOut("region")(src("region"))
    writeOut("nation")(src("nation"))
    // customer identity columns track the SHIFTED key: a real 10×
    // registry has 10× distinct names/balances — cloning them verbatim
    // hands every identity-blocking key (q262's (nation, name-digits)
    // and (segment, balance) passes) 10 cross-shard twins and turns
    // linear candidate volume into the ×100 clone pathology this
    // derivation exists to avoid. Shard 0 stays verbatim (the
    // keep-sf0.1-bit-identical rule); shard k rewrites the name from
    // its own shifted key and lands the balance on a shard-distinct
    // cent value — both deterministic, so reruns are stable.
    writeOut("customer")(sharded("customer").select(
      shift("c_custkey", 1000000L),
      when(col("__shard") === 0, col("c_name"))
        .otherwise(format_string("Customer#%09d",
          col("c_custkey") + col("__shard") * lit(1000000L))).as("c_name"),
      col("c_nationkey"),
      when(col("__shard") === 0, col("c_acctbal"))
        .otherwise(col("c_acctbal") +
          col("__shard").cast("double") * lit(0.01)).as("c_acctbal"),
      col("c_mktsegment")))
    writeOut("supplier")(sharded("supplier").select(
      shift("s_suppkey", 100000L), col("s_name"), col("s_nationkey"),
      col("s_acctbal")))
    writeOut("part")(sharded("part").select(
      shift("p_partkey", 1000000L), col("p_name"), col("p_brand"),
      col("p_type"), col("p_size"), col("p_retailprice")))
    writeOut("orders")(sharded("orders").select(
      shift("o_orderkey", 10000000L), shift("o_custkey", 1000000L),
      col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
      col("o_orderpriority")))
    writeOut("lineitem")(sharded("lineitem").select(
      shift("l_orderkey", 10000000L), shift("l_partkey", 1000000L),
      shift("l_suppkey", 100000L), col("l_linenumber"), col("l_quantity"),
      col("l_extendedprice"), col("l_discount"), col("l_tax"),
      col("l_returnflag"), col("l_linestatus"), col("l_shipdate")))
    writeOut("events")(sharded("events").select(
      shift("event_id", 100000000L), col("ts"),
      shift("user_id", 10000000L), col("event_type"), col("value"),
      col("props")))
    // documents: shard 0 verbatim; shard k>0 suffixes a shard-varying
    // ~60% of words (selected by word hash + shard). This kills
    // cross-shard TOKEN-SET similarity (shared fraction ≈ 0.4² ≈ 0.16 →
    // Jaccard ≈ 0.09, far below every near-dup threshold) — a pure
    // word ROTATION does not (token multisets stay identical and the
    // clone pathology survives for MinHash/PPJoin-style measures, the
    // exact blowup this derivation must avoid) — while keeping ~40% of
    // words verbatim so stopword/vocabulary statistics (quality
    // scoring, language ID) stay realistic within every shard.
    val suffixed = concat_ws(" ", transform(split(col("text"), " "),
      w => when(pmod(xxhash64(w) + col("__shard"), lit(5)) < 3,
        concat(w, lit("~"), col("__shard").cast("string"))).otherwise(w)))
    // doc_id shift step is PRIME (not a power of ten): the multimodal
    // queries synthesize image/video content keyed on doc_id mod small
    // constants (256 scene seeds, 400 in q236), and a shift step that
    // is 0 or 128 mod 256 would land every shard's docs in the SAME
    // content classes — 10× docs per class ⇒ up to 100× candidate
    // pairs in the perceptual-dedup band joins, the exact clone
    // pathology the text suffixing avoids for token sets. An odd prime
    // step rotates the classes per shard, so duplication density stays
    // constant and pair counts grow linearly like a real 10× corpus.
    writeOut("documents")(sharded("documents").select(
      shift("doc_id", 10000019L),
      when(col("__shard") === 0, col("text")).otherwise(suffixed).as("text"),
      col("lang"), col("source"),
      when(col("__shard") === 0, col("n_chars"))
        .otherwise(length(suffixed).cast("long")).as("n_chars")))
    // embeddings: cyclic rotation + per-(shard, coordinate) SIGN FLIPS.
    // Both are isometries, so within-shard pairwise distances (and all
    // norms) are preserved exactly — each shard is a faithful replica
    // of the sf0.1 geometry. The sign flips are the load-bearing half
    // (round-13 lesson): these embeddings are SMOOTH across dims, so a
    // bare cyclic shift stays highly correlated with the original —
    // cos(v, rot(v)) ≈ 0.9 — and every vector acquired 9 cross-shard
    // near-duplicates, a 34× candidate blowup in the near-dup queries
    // that no real 10× corpus has. A ±1 mask keyed by (shard, dim)
    // decorrelates cross-shard copies (the correlation becomes a
    // random ± walk ≈ 0) while changing nothing within a shard.
    val dim = size(col("embedding"))
    val rot = pmod(col("__shard"), dim.cast("long"))
    val rotVec = concat(
      slice(col("embedding"), (rot + 1).cast("int"), (dim - rot).cast("int")),
      slice(col("embedding"), lit(1), rot.cast("int")))
    val signed = expr(
      "transform(__rot_emb, (x, j) -> x * cast(1 - 2 * pmod(xxhash64(__shard, j), 2) as int))")
    writeOut("embeddings")(sharded("embeddings")
      .withColumn("__rot_emb", rotVec)
      .select(
        shift("vec_id", 10000000L),
        when(col("__shard") === 0, col("embedding")).otherwise(signed)
          .as("embedding"),
        col("label")))
  }

  /** The pair-generating query families the sf10 probe adds to TOP15
    * (round-13 verdict item 2): the ones whose intermediate candidate
    * sets could hide a quadratic term the 10× gate's 1.2 residual is
    * too coarse to see. */
  val PairFamilies: Seq[String] = Seq(
    "q67_embedding_neardup", "q77_neardup_clusters",
    "q105_incremental_neardup", "q128_sparse_cosine", "q183_assoc_rules",
    "q224_phash_neardup", "q236_video_scene_dedup",
    "q240_incremental_video_dedup", "q302_budgeted_neardup")

  def main(args: Array[String]): Unit = {
    val sf01 = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sf1 = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft_sf1")
    // SPARK_GRAFT_SWEEP_SCALE=10 probes one decade further: base sf1,
    // target a 100-shard derivation (sf10), gate 15× (the 12× gate's
    // log-and-noise allowance, wider because sf1's fixed costs are
    // already amortized and a genuine quadratic shows as ~100×)
    val scale10 = sys.env.get("SPARK_GRAFT_SWEEP_SCALE").contains("10")
    val sf10 = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/graft_sf10")
    val out = sys.env.getOrElse("SPARK_GRAFT_SWEEP_OUT",
      if (scale10) "/root/repo/BENCH_sf10_subset.json"
      else "/root/repo/BENCH_sf1_subset.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = QueryRun.session(cpus.toInt)

    // the rebuild sentinel is the LAST table deriveSf1 writes — a
    // derivation killed mid-run must rebuild, not silently reuse the
    // half-built dataset (lineitem lands early; embeddings last)
    def ensureDerived(dst: String, shards: Int): Unit =
      if (!java.nio.file.Files.exists(
          java.nio.file.Path.of(s"$dst/embeddings.parquet"))) {
        System.err.println(s"[sweep] deriving ${shards}x sf0.1 into $dst ...")
        deriveSf1(spark, sf01, dst, shards)
      }
    ensureDerived(sf1, 10)
    if (scale10) ensureDerived(sf10, 100)
    // the decade under test: (base, target) dirs and the gate
    val (baseDir, targetDir, gate, metric) =
      if (scale10) (sf1, sf10, 15.0, "sf10_subset")
      else (sf01, sf1, 12.0, "sf1_subset")
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]

    // SPARK_GRAFT_SWEEP_NAMES overrides the watched set — the
    // full-suite sweep (round-12 verdict item 6) drives this main once
    // per shard of query names in separate JVMs (the Bench sharding
    // lesson: 200+ codegen'd queries × 6 executions in one JVM
    // exhausts the JIT code cache and the tail queries pay for it) and
    // merges the shard records into BENCH_sf1_full.json.
    val names = sys.env.get("SPARK_GRAFT_SWEEP_NAMES")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(if (scale10) (TOP15 ++ PairFamilies).distinct else TOP15)

    val results = names.flatMap { name =>
      try {
        // inside the try: a renamed TOP15 entry must cost ONE record
        // row, not the whole sweep
        val fn = SparkEntry.queries(name)
        // Bucketed queries (q131) split into LAYOUT and JOIN phases
        // (round-12 verdict item 5): the one-time bucketed write scales
        // with data rewritten by construction — folding it into the
        // timed region makes the record misrepresent the steady-state
        // exchange-free join the 12× gate actually watches. The layout
        // is timed ONCE per scale (it is a one-time cost by definition;
        // min-of-N would be dishonest for a write that in production
        // happens exactly once), the join like every other query, and
        // the gated ratio is the JOIN's.
        val bucketed = name == "q131_bucketed_join"
        // SYMMETRIC protocol at both scales: the untimed warm-up (JIT,
        // codegen, parquet footers — a cold single sf1 run would fold
        // first-read noise into exactly the ratio this sweep gates on),
        // then min-of-2 full-output runs (contention only ever adds).
        // The warm-up also counts the output rows, outside the timed
        // runs: a query whose RESULT grows super-linearly
        // (constant-duplication-density corpora make near-dup pair lists
        // quadratic) is doing more WORK, not planning worse — the record
        // carries the exoneration itself.
        // Returns (seconds, output rows, layout seconds) at `dir`.
        def at(dir: String): (Double, Long, Option[Double]) = {
          val layout = Option.when(bucketed) {
            val t0 = System.nanoTime()
            graft.queries.Q131.layout(spark, dir)
            (System.nanoTime() - t0) / 1e9
          }
          var rows = -1L
          val query = if (bucketed) () => graft.queries.Q131.join(spark) else () => fn(spark, dir)
          val reps = QueryRun.time(spark, query, 2,
            warmUp = df => { QueryRun.fullOutput(df); rows = df.count() }).flatten
          if (reps.isEmpty) throw new IllegalStateException(s"every timed run at $dir failed")
          (reps.min, rows, layout)
        }
        val (t01, r01, layout01) = at(baseDir)
        val (t1, r1, layout1) = at(targetDir)
        val ratio = t1 / t01
        val layoutNote = layout01.fold("")(l =>
          f" (layout sf0.1 $l%.2fs, sf1 ${layout1.get}%.2fs)")
        System.err.println(f"[sweep] $name%-32s sf0.1 $t01%7.2fs  sf1 $t1%7.2fs  ratio ${ratio}%5.1f x$layoutNote rows $r01->$r1")
        Some((name, t01, t1, ratio, layout01, layout1, r01, r1))
      } catch {
        case e: Throwable =>
          // one broken query must not lose the whole record — but it
          // must be LOUD in it (the merge below records the names)
          System.err.println(s"[sweep] $name FAILED: ${e.getMessage}")
          failed += name
          None
      }
    }
    // Locale.ROOT: comma-decimal locales would corrupt the JSON record
    def num(v: Double, digits: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${digits}f", Double.box(v))
    val qJson = results.map { case (n, a, b, r, l01, l1, r01, r1) =>
      val layout = (l01, l1) match {
        case (Some(x), Some(y)) =>
          s""","layout_sf01_sec":${num(x, 3)},"layout_sf1_sec":${num(y, 3)},"join_sf01_sec":${num(a, 3)},"join_sf1_sec":${num(b, 3)}"""
        case _ => ""
      }
      // MACHINE-DERIVED verdict (round-13 verdict item 8): the "output
      // grew faster than runtime" exoneration must be computed, not
      // hand-written into BASELINE.md after the fact. over-gate + row
      // growth ≥ runtime growth = the query did more WORK per the
      // result's own row counts ("output_bound": runtime per output row
      // is sublinear); over-gate without that cover = "cliff", the
      // thing the sweep exists to catch.
      val verdict =
        if (r <= gate) "ok"
        else if (r01 > 0 && r1 > 0 && r1.toDouble / r01 >= r) "output_bound"
        else "cliff"
      s""""$n":{"sf01_sec":${num(a, 3)},"sf1_sec":${num(b, 3)},"ratio":${num(r, 2)},"rows_sf01":$r01,"rows_sf1":$r1,"verdict":"$verdict"$layout}"""
    }.mkString("{", ",", "}")
    // an all-failed sweep must still write its (loudly empty) record —
    // maxBy on an empty seq would lose even the failure list
    val worst = if (results.nonEmpty) Some(results.maxBy(_._4)) else None
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      s"""{"metric":"$metric","n_queries":${results.size},""" +
        s""""sf01_total":${results.map(_._2).sum},"sf1_total":${results.map(_._3).sum},""" +
        s""""worst_ratio":${worst.fold("null")(w => num(w._4, 2))},""" +
        s""""worst_query":${worst.fold("null")(w => "\"" + w._1 + "\"")},""" +
        s""""gate_max_ratio":$gate,"action":"noop","failed":$failedJson,"queries":$qJson}"""
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Path.of(out), line + "\n")
    spark.stop()
  }
}
