package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import QH._

/** Near-duplicate detection for training-data pipelines: exact hash dedup,
  * exact n-gram Jaccard (ground truth), MinHash+LSH (the 100 TB scale
  * path), and SimHash. All shingle/minhash math stays inside codegen'd
  * higher-order functions — no UDFs, no driver-side loops.
  */
object DedupQueries {

  /** q105's per-JVM staging cache, keyed by sfDir (see the in-body
    * comment; same device as StreamRig.stageSlices). */
  private val q105Stage =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** doc_id → exploded distinct word-3-gram shingles. The repartition
    * spreads the shingle construction across cores: the documents
    * parquet is a single row group, so without it the whole CPU-bound
    * projection runs in one scan partition. */
  private[queries] def shingles(s: SparkSession, d: String): DataFrame =
    QH.spread(s, col("doc_id"))(t(s, d, "documents"))
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        "transform(sequence(1, size(words) - 2), " +
          "i -> concat_ws(' ', words[i-1], words[i], words[i+1]))")))
        .as("shingle"))

  /** Exact Jaccard over candidate pairs. `cand` must have columns
    * (doc_a, doc_b); pass None for all co-shingled pairs.
    *
    * Two verify shapes, one semantics — STRUCTURALLY, not by corpus
    * luck: [[shingles]] explodes `array_distinct`, so each (doc,
    * shingle) row is unique by construction and the co-shingle row
    * COUNT below equals the distinct-set intersection size that the
    * candidate branch computes. A shingle frame without that per-doc
    * dedup would break the equivalence (bag vs set multiplicity);
    * this helper only ever receives [[shingles]] output.
    *
    * With NO candidate set (q27, the
    * ground-truth demonstration) intersections come from the co-shingle
    * self-join — exact and deliberately quadratic in hot-shingle
    * frequency. WITH a candidate set (q213's prefix filtering) the
    * intersections come from per-PAIR set intersection over each doc's
    * collected shingle array: O(|candidates| × doc size), never
    * touching the co-shingle explosion that candidate generation exists
    * to avoid — a semi join AFTER the co join would still pay it (the
    * round-14 sf10 probe caught exactly that shape in q196, 23× at 10×
    * data). */
  private def jaccardPairs(s: SparkSession, d: String,
                           cand: Option[DataFrame]): DataFrame = {
    val sh = shingles(s, d).cache()
    val withSizes = cand match {
      case None =>
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
        sh.select(col("doc_id").as("doc_a"), col("shingle"))
          .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
            "shingle")
          .filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("n").as("na")),
            "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("n").as("nb")),
            "doc_b")
      case Some(c) =>
        // sets carry HASHED shingles (the q28 device: xxhash64 is
        // collision-free over these corpora, and only the intersection
        // COUNT is consumed) — 8-byte elements keep the candidate-
        // attach shuffle ~4× narrower than trigram strings, and the
        // set also yields both sizes for free (distinct shingles per
        // doc = set length), saving the separate sizes joins
        val sets = sh.groupBy("doc_id")
          .agg(collect_set(xxhash64(col("shingle"))).as("ss"))
        c.join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ssa")),
            "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ssb")),
            "doc_b")
          .select(col("doc_a"), col("doc_b"),
            size(array_intersect(col("ssa"), col("ssb"))).cast("long")
              .as("inter"),
            size(col("ssa")).cast("long").as("na"),
            size(col("ssb")).cast("long").as("nb"))
          .filter(col("inter") > 0)
    }
    withSizes
      .withColumn("jaccard", round(col("inter").cast("double")
        / (col("na") + col("nb") - col("inter")), 6))
      .filter(col("inter").cast("double")
        / (col("na") + col("nb") - col("inter")) >= 0.6)
      .select("doc_a", "doc_b", "jaccard")
      .orderBy("doc_a", "doc_b")
  }

  /** Oracle: exact 3-gram Jaccard ≥ 0.6 — shared by q27 (exact) and q28
    * (MinHash-LSH: 64 bands × 2 rows ⇒ miss probability ≤ (1−0.6²)⁶⁴ ≈
    * 4e-13 per true pair, so the LSH result equals the exact result). */
  private val jaccardOracle = """
    WITH docs AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents
      WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
    sh AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(
        [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
         for i in GENERATE_SERIES(1, LEN(words) - 2)])) AS shingle
      FROM docs),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b,
      ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6
    ORDER BY doc_a, doc_b"""

  // lazy: q29 is declared below qs (forward val reference is null at
  // object init; Catalog forces qs only after construction)
  lazy val qs: Seq[Q] = Seq(
    // FUZZY KEY CONSOLIDATION (sixth dedup modality: typo-distance).
    // Candidate dirty-key pairs for entity resolution: collapse the
    // fact to its DISTINCT-key dictionary first (the dictionary is
    // vocabulary-sized — it does not grow with fact rows), then a
    // prefix-blocked self-join over the dictionary with a length band
    // and a Levenshtein cap. The blocking is a declared
    // candidate-generation strategy exactly like q28's bands: pairs
    // that disagree in their first 4 chars or by >2 length are out of
    // scope by definition, which is what keeps the join equi-shaped —
    // an unblocked edit-distance join is all-pairs and has no 100 TB
    // shape. Distance arithmetic is integral, so the oracle gate is
    // exact with no float discipline needed.
    Q("q122_fuzzy_keys",
      (s, d) => {
        val keys = t(s, d, "part").groupBy(col("p_name"))
          .agg(count(lit(1)).as("n"))
        val a = keys.select(col("p_name").as("name_a"), col("n").as("n_a"),
          substring(col("p_name"), 1, 4).as("blk"))
        val b = keys.select(col("p_name").as("name_b"), col("n").as("n_b"),
          substring(col("p_name"), 1, 4).as("blk"))
        a.join(b, Seq("blk"))
          .filter(col("name_a") < col("name_b"))
          .filter(abs(length(col("name_a")) - length(col("name_b"))) <= 2)
          .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
          .filter(col("dist").between(1, 3))
          .select(col("name_a"), col("name_b"), col("dist"),
            col("n_a"), col("n_b"))
          .orderBy("name_a", "name_b")
      },
      Some("""
        WITH keys AS (
          SELECT p_name, COUNT(*) AS n FROM part GROUP BY p_name)
        SELECT a.p_name AS name_a, b.p_name AS name_b,
          CAST(LEVENSHTEIN(a.p_name, b.p_name) AS INTEGER) AS dist,
          a.n AS n_a, b.n AS n_b
        FROM keys a JOIN keys b
          ON SUBSTRING(a.p_name, 1, 4) = SUBSTRING(b.p_name, 1, 4)
          AND a.p_name < b.p_name
        WHERE ABS(LENGTH(a.p_name) - LENGTH(b.p_name)) <= 2
          AND LEVENSHTEIN(a.p_name, b.p_name) BETWEEN 1 AND 3
        ORDER BY name_a, name_b""")),

    // Exact dedup: first doc_id per md5(text) group.
    Q("q26_dedup_exact",
      (s, d) => {
        val docs = t(s, d, "documents").select(col("doc_id"),
          md5(col("text")).as("fp"))
        graft.ops.Relational.dedupeExact(Seq("fp"), col("doc_id"))(docs)
          .select("doc_id", "fp")
          .orderBy("doc_id")
      },
      Some("""
        SELECT doc_id, MD5(text) AS fp FROM documents
        QUALIFY ROW_NUMBER() OVER (PARTITION BY MD5(text) ORDER BY doc_id) = 1
        ORDER BY doc_id""")),

    // Ground-truth near-dup pairs: exact word-3-gram Jaccard ≥ 0.6.
    Q("q27_jaccard_pairs",
      (s, d) => jaccardPairs(s, d, None),
      Some(jaccardOracle)),

    // MinHash + LSH scale path: 128 permutations (xxhash64 seeded by
    // permutation index), 64 bands × 2 rows, candidate pairs from band
    // buckets, exact-Jaccard verification of candidates only. At 100 TB
    // the band self-join replaces the quadratic shingle self-join.
    //
    // Dataflow is explode-first so every heavy step is codegen'd and
    // row-parallel (no interpreted higher-order-function lambdas, no
    // per-doc shingle arrays materialized before the aggregate): words
    // are exploded with positions, a shingle is xxhash64 of three
    // consecutive words via lead() — any injective shingle encoding
    // yields the same Jaccard as the oracle's string trigrams — and the
    // single explicit repartition (explicit count: AQE would coalesce
    // the few-MB shuffle back to one partition and serialize the CPU
    // work) co-locates the window, the MinHash aggregate, and the
    // collect_set, so nothing shuffles again until the band join.
    // Duplicate shingles stay in for MinHash (min() is
    // dedup-insensitive) and are deduped by collect_set for the verify.
    Q("q28_minhash_lsh",
      (s, d) => minhashPairs(s, d).orderBy("doc_a", "doc_b"),
      Some(jaccardOracle)),

    // Near-dup CLUSTERING — the composition the pair queries stop short
    // of: verified near-dup pairs are only half a dedup pipeline; to
    // keep one document per duplicate group you need the transitive
    // closure (A~B, B~C ⇒ keep one of {A,B,C} even when A,C never
    // paired). Edges come from the banded MinHash path (q28 — the
    // 100 TB shape), components from iterative min-label propagation
    // ([[graft.ops.Relational.connectedComponents]]: distributed
    // join+min rounds, driver sees only the convergence counter), and
    // every document gets a canonical_id — itself for singletons, the
    // smallest reachable doc_id inside a cluster. `keep = doc_id ==
    // canonical_id` IS the dedup filter. Oracle: quadratic exact-Jaccard
    // pairs + a recursive-CTE transitive closure.
    Q("q77_neardup_clusters",
      (s, d) => {
        val comps = graft.ops.Relational.connectedComponents(
          minhashPairs(s, d).select("doc_a", "doc_b"), "doc_a", "doc_b")
        t(s, d, "documents").select(col("doc_id"))
          .join(comps.select(col("node").as("doc_id"),
            col("comp").as("canonical_id")), Seq("doc_id"), "left")
          .withColumn("canonical_id",
            coalesce(col("canonical_id"), col("doc_id")))
          .withColumn("keep",
            (col("doc_id") === col("canonical_id")).cast("int"))
          .orderBy("doc_id")
      },
      Some("""
        WITH RECURSIVE docs AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents
          WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
        sh AS (
          SELECT doc_id, UNNEST(LIST_DISTINCT(
            [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
             for i in GENERATE_SERIES(1, LEN(words) - 2)])) AS shingle
          FROM docs),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        co AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT doc_a, doc_b FROM co
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6),
        sym AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM sym
          UNION
          SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a),
        comp AS (
          SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
          FROM reach GROUP BY a)
        SELECT d.doc_id,
          COALESCE(c.component, d.doc_id) AS canonical_id,
          CAST(d.doc_id = COALESCE(c.component, d.doc_id) AS INT) AS keep
        FROM documents d LEFT JOIN comp c USING (doc_id)
        ORDER BY doc_id""")),

    // The end-to-end corpus-curation composition — what this engine is
    // FOR at 100 TB: every document flows quality gate (length +
    // stopword evidence) → exact dedup (normalized-fingerprint
    // min-survivor) → near-dup clustering over the SURVIVORS ONLY
    // (banded MinHash pairs + connected components — each stage prunes
    // the next stage's input, the composition that makes the pipeline
    // sub-quadratic end to end) → per-doc verdict with the first
    // applicable drop reason and the token count the kept set
    // contributes. Everything is a proven piece (q34/q36/q26/q28/q77);
    // the value here is the audited composition under one oracle.
    Q("q80_corpus_curation",
      (s, d) => {
        val stopList = "('the', 'and', 'of', 'a', 'in', 'to', 'is')"
        val flags = t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
          .withColumn("token_cnt", size(col("words")).cast("long"))
          .withColumn("stop_cnt",
            expr(s"size(filter(words, w -> w IN $stopList))"))
          .withColumn("q_pass", col("n_chars") >= 150 && col("stop_cnt") > 0)
        val surv = graft.ops.Relational.dedupeExact(Seq("fp"), col("doc_id"))(
          flags.filter(col("q_pass")).withColumn("fp",
            md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))))
        val comps = graft.ops.Relational.connectedComponents(
          minhashPairsOf(s, surv.select("doc_id", "text"))
            .select("doc_a", "doc_b"), "doc_a", "doc_b")
        flags
          .join(surv.select(col("doc_id"), lit(1).as("exact_surv")),
            Seq("doc_id"), "left")
          .join(comps.select(col("node").as("doc_id"),
            col("comp").as("canon")), Seq("doc_id"), "left")
          .withColumn("kept",
            when(!col("q_pass"), 0)
              .when(col("exact_surv").isNull, 0)
              .when(col("canon").isNotNull && col("canon") =!= col("doc_id"), 0)
              .otherwise(1))
          .withColumn("drop_reason",
            when(!col("q_pass"), "quality")
              .when(col("exact_surv").isNull, "exact_dup")
              .when(col("canon").isNotNull && col("canon") =!= col("doc_id"),
                "near_dup"))
          .select("doc_id", "kept", "drop_reason", "token_cnt")
          .orderBy("doc_id")
      },
      Some("""
        WITH RECURSIVE base AS (
          SELECT doc_id, text, n_chars, STRING_SPLIT(text, ' ') AS words
          FROM documents),
        flags AS (
          SELECT doc_id, text, words,
            CAST(LEN(words) AS BIGINT) AS token_cnt,
            (n_chars >= 150 AND LEN(LIST_FILTER(words,
              x -> x IN ('the', 'and', 'of', 'a', 'in', 'to', 'is'))) > 0)
              AS q_pass
          FROM base),
        surv AS (
          SELECT doc_id, words FROM (
            SELECT doc_id, words,
              MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')))
                AS fp
            FROM flags WHERE q_pass)
          QUALIFY ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id) = 1),
        sh AS (
          SELECT doc_id, UNNEST(LIST_DISTINCT(
            [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
             for i in GENERATE_SERIES(1, LEN(words) - 2)])) AS shingle
          FROM surv WHERE LEN(words) >= 3),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        co AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
          FROM sh a JOIN sh b USING (shingle)
          WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2),
        pairs AS (
          SELECT doc_a, doc_b FROM co
          JOIN sizes sa ON doc_a = sa.doc_id
          JOIN sizes sb ON doc_b = sb.doc_id
          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6),
        sym AS (
          SELECT doc_a AS a, doc_b AS b FROM pairs
          UNION SELECT doc_b, doc_a FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM sym
          UNION
          SELECT r.a, s2.b FROM reach r JOIN sym s2 ON r.b = s2.a),
        comp AS (
          SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
          FROM reach GROUP BY a)
        SELECT f.doc_id,
          CASE WHEN NOT f.q_pass THEN 0
            WHEN s.doc_id IS NULL THEN 0
            WHEN c.component IS NOT NULL AND c.component != f.doc_id THEN 0
            ELSE 1 END AS kept,
          CASE WHEN NOT f.q_pass THEN 'quality'
            WHEN s.doc_id IS NULL THEN 'exact_dup'
            WHEN c.component IS NOT NULL AND c.component != f.doc_id
              THEN 'near_dup' END AS drop_reason,
          f.token_cnt
        FROM flags f
        LEFT JOIN surv s USING (doc_id)
        LEFT JOIN comp c USING (doc_id)
        ORDER BY doc_id""")),

    // EXACT SUBSTRING dedup — the span-level sibling of q26 (whole-doc)
    // and q28 (whole-doc fuzzy): for every document, the fraction of its
    // 8-gram token positions whose gram also appears in ANOTHER document
    // ("Deduplicating Training Data Makes Language Models Better"-style
    // duplicated-span measurement at gram granularity, the signal used
    // to cut boilerplate and templated spans from training corpora).
    //
    // Scale shape — three shuffles, all map-side combined, never a
    // doc×doc pair: grams are built LINEARLY with lead() over the
    // exploded token stream (carrying the words array through a
    // stride-1 posexplode would copy the whole array per gram row —
    // O(len²) bytes per doc); a gram is cross-doc duplicated iff
    // min(doc_id) ≠ max(doc_id) — min/max partial-aggregate absorbs
    // hot boilerplate grams map-side where a countDistinct could not;
    // the gram→dup-gram equi-join then reuses the aggregation's hash
    // partitioning on the gram key. Gram identity is xxhash64 of the 8
    // words — as with q28's shingles, any injective encoding yields the
    // same counts as the oracle's string grams.
    Q("q98_substring_dedup",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val docs = t(s, d, "documents")
          .withColumn("n_grams",
            (size(split(col("text"), " ")) - 7).cast("long"))
          .filter(col("n_grams") >= 1)
        val grams = QH.spread(s, col("doc_id"))(docs)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val hashed = (1 to 7).foldLeft(grams)((df, i) =>
            df.withColumn(s"w$i", lead(col("w"), i).over(w)))
          .filter(col("w7").isNotNull)
          .select(col("doc_id"),
            xxhash64((col("w") +: (1 to 7).map(i => col(s"w$i"))): _*).as("g"))
        val dupGrams = hashed.groupBy("g")
          .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
          .filter(col("mn") =!= col("mx"))
          .select("g")
        val perDoc = hashed.join(dupGrams, Seq("g"))
          .groupBy("doc_id").agg(count(lit(1)).as("n_dup"))
        docs.select("doc_id", "n_grams")
          .join(perDoc, Seq("doc_id"), "left")
          .withColumn("n_dup", coalesce(col("n_dup"), lit(0L)))
          .withColumn("dup_frac",
            round(col("n_dup").cast("double") / col("n_grams"), 6))
          .orderBy("doc_id")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents),
        sized AS (
          SELECT doc_id, words, CAST(LEN(words) - 7 AS BIGINT) AS n_grams
          FROM docs WHERE LEN(words) >= 8),
        g AS (
          SELECT doc_id, UNNEST([ARRAY_TO_STRING(words[i : i + 7], ' ')
            for i in GENERATE_SERIES(1, LEN(words) - 7)]) AS gram
          FROM sized),
        dup AS (
          SELECT gram FROM g GROUP BY gram HAVING MIN(doc_id) <> MAX(doc_id)),
        cnt AS (
          SELECT doc_id, COUNT(*) AS n_dup
          FROM g JOIN dup USING (gram) GROUP BY doc_id)
        SELECT s.doc_id, s.n_grams,
          CAST(COALESCE(c.n_dup, 0) AS BIGINT) AS n_dup,
          ROUND(CAST(COALESCE(c.n_dup, 0) AS DOUBLE) / s.n_grams, 6)
            AS dup_frac
        FROM sized s LEFT JOIN cnt c USING (doc_id)
        ORDER BY s.doc_id""")),

    // INCREMENTAL near-dup — the production shape of corpus dedup:
    // "which of tonight's new documents duplicate the EXISTING corpus",
    // answered without recomputing anything pairwise over the corpus.
    // The history side builds its MinHash band index once per run with
    // the fast batch aggregate path ([[docSignatures]] — in production
    // this index is a materialized table maintained by the pipeline);
    // the increment arrives as a STREAM, computes its own signature
    // per-row (shingle/minhash as nested array lambdas over the token
    // array — window functions and aggregates don't exist on a stream,
    // and the increment is small by definition, so per-row interpreted
    // lambdas are the right trade where the corpus side must use the
    // codegen'd aggregate), and candidate generation + Jaccard verify
    // are two STATELESS stream-static equi joins: band match, then a
    // per-row array_intersect against the matched history doc's shingle
    // set. No watermark, no state store, no doc×doc pass — per
    // micro-batch cost is O(increment × matched bands).
    //
    // The per-row signature is BIT-IDENTICAL to the aggregate path:
    // shingle = xxhash64(w, w1, w2) over three strings, slot p =
    // min over shingles of xxhash64(shingle, CAST(p AS INT)) — the same
    // seed-42 XXH64 chain MinHashSignature documents. Band-duplicate
    // candidate rows collapse in the downstream Full `distinct` table
    // (the Runner's Incremental→Full boundary), mirroring q28's
    // candidate dedup. Intra-increment duplicates are out of scope by
    // construction (that's a q26/q28 pass over the tiny increment).
    Q("q105_incremental_neardup",
      (s, d) => {
        val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
        val history = t(s, d, "documents").filter(nib < "c")
        val incr = t(s, d, "documents").filter(nib >= "c")
        // staged ONCE per (JVM, sfDir): the staged increment layout is
        // test-rig scaffolding (slice the corpus into a replayable
        // feed), not the operator under test — re-writing it per timed
        // rep is the exact measurement pollution the r12 round removed
        // from q104 (StreamRig.stageSlices); Verify runs each
        // query once, so correctness runs see no change
        val staged = q105Stage.computeIfAbsent(d, _ => {
          val sd = graft.core.ScratchDirs.create("q105_src_")
          incr.write.mode("overwrite").parquet(sd)
          sd
        })
        val schema = s.read.parquet(staged).schema
        val reg = new graft.graph.Registry(s)
        reg.source("history_docs", () => history)
        reg.source("incr_feed", () => incr)
        reg.register(graft.graph.TableDef("incr_band_matches",
          Seq("incr_feed", "history_docs"), {
            case Seq(in, hist) =>
              // cached: the 128-permutation signature frame feeds TWO
              // consumers (the band index AND the shingle-set side of
              // the verify join) — uncached, the static side's MinHash
              // computation runs twice per micro-batch (q128's cache
              // rationale; at 100 TB the history side is the corpus)
              val histSig = docSignatures(s, hist).cache()
              val histBands = bandsOf(histSig)
                .withColumnRenamed("doc_id", "doc_hist")
              val histSets = histSig.select(col("doc_id").as("doc_hist"),
                col("hs").as("hs_hist"))
              val inSig = in
                .withColumn("words", split(col("text"), " "))
                .withColumn("shs", expr(
                  "transform(sequence(1, size(words) - 2), i -> " +
                    "xxhash64(element_at(words, i), element_at(words, i + 1), " +
                    "element_at(words, i + 2)))"))
                .filter(size(col("shs")) > 0)
                .withColumn("hs_new", array_distinct(col("shs")))
                // graft_minhash_row == the old transform(sequence(0,127),
                // p -> array_min(transform(shs, xxhash64(s, p)))) bit-
                // for-bit (see MinHashRowSignature), minus the per-
                // (shingle × permutation) lambda interpretation that
                // dominated this stateless streaming projection
                .withColumn("mh", expr("graft_minhash_row(shs, 128)"))
                .select(col("doc_id").as("doc_new"), col("hs_new"),
                  posexplode(expr("transform(sequence(0, 63), b -> " +
                    "struct(mh[2*b] as h1, mh[2*b+1] as h2))")))
                .select(col("doc_new"), col("hs_new"),
                  col("pos").as("band"), col("col.h1"), col("col.h2"))
              inSig.join(histBands, Seq("band", "h1", "h2"))
                .join(histSets, Seq("doc_hist"))
                .withColumn("inter",
                  size(array_intersect(col("hs_new"), col("hs_hist"))))
                .withColumn("jaccard", round(col("inter").cast("double")
                  / (size(col("hs_new")) + size(col("hs_hist"))
                    - col("inter")), 6))
                .filter(col("inter").cast("double")
                  / (size(col("hs_new")) + size(col("hs_hist"))
                    - col("inter")) >= 0.6)
                .select("doc_new", "doc_hist", "jaccard")
          }, mode = graft.graph.Mode.Incremental))
        reg.register(graft.graph.TableDef("incr_neardups",
          Seq("incr_band_matches"),
          { case Seq(m) => m.distinct() }, mode = graft.graph.Mode.Full))
        val out = graft.core.ScratchDirs.create("q105_")
        graft.graph.Runner.runStreamingThenFull(s, reg,
          Map("incr_feed" -> (() =>
            s.readStream.schema(schema).parquet(staged))),
          out)
        s.read.parquet(s"$out/incr_neardups")
          .orderBy("doc_new", "doc_hist")
      },
      Some("""
        WITH split_docs AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS words,
            SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'c' AS is_incr
          FROM documents
          WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
        sh AS (
          SELECT doc_id, is_incr, UNNEST(LIST_DISTINCT(
            [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
             for i in GENERATE_SERIES(1, LEN(words) - 2)])) AS shingle
          FROM split_docs),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        pairs AS (
          SELECT n.doc_id AS doc_new, h.doc_id AS doc_hist,
            COUNT(*) AS inter
          FROM sh n JOIN sh h USING (shingle)
          WHERE n.is_incr AND NOT h.is_incr
          GROUP BY 1, 2)
        SELECT doc_new, doc_hist,
          ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
        FROM pairs
        JOIN sizes sa ON doc_new = sa.doc_id
        JOIN sizes sb ON doc_hist = sb.doc_id
        WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6
        ORDER BY doc_new, doc_hist"""))
  ) :+ q29 :+ q92 :+ q196 :+ q213 :+ q235 :+ q262 :+ q279

  // PPJOIN-STYLE PREFIX-FILTERED EXACT SIMILARITY JOIN — the seventh
  // candidate-generation modality, and the one that is EXACT at scale:
  // q27's ground-truth join explodes on hot shingles (every co-shingled
  // pair is a candidate) and q28's MinHash-LSH trades a (negligible but
  // nonzero) miss probability for boundedness. Prefix filtering keeps
  // both properties: order every doc's shingles by one global rarity
  // total-order (document frequency asc, shingle asc), keep only the
  // first |x| − ⌈t·|x|⌉ + 1 of them, and self-join the PREFIXES — any
  // pair with Jaccard ≥ t provably shares a prefix token (if A∩B misses
  // prefix(A), the overlap fits inside A's suffix of ⌈t·|A|⌉ − 1 tokens,
  // contradicting J ≥ t ⟹ |A∩B| ≥ ⌈t·|A|⌉), so the candidate set is a
  // superset of the truth and the exact-Jaccard verify makes the result
  // identical to q27's. The 100 TB shape: candidates now come only from
  // RARE-token collisions — a stop-shingle shared by a million docs
  // falls outside every large doc's prefix instead of generating 10¹²
  // pairs — plus the length filter (J ≥ 3/5 forces 5·min ≥ 3·max of the
  // set sizes) prunes cross-size pairs before the verify. Every
  // threshold comparison is integral (t = 3/5 exactly: prefix bound via
  // (3·sz + 4) div 5), so the filter never inherits a float-rounding
  // hazard. PPJoinSpec pins losslessness against the unfiltered join on
  // randomized corpora.
  private lazy val q213: Q = Q("q213_ppjoin",
    (s, d) => jaccardPairs(s, d,
      Some(prefixFilterCandidates(shingles(s, d), 3, 5))),
    Some(jaccardOracle))

  /** Prefix-filtered candidate pairs for an exact Jaccard ≥ tNum/tDen
    * similarity join over a (doc_id, shingle) frame — distinct shingles
    * per doc. All bounds are integral in (tNum, tDen); see q213's
    * derivation. Returns (doc_a, doc_b), doc_a < doc_b, a provable
    * superset of every pair meeting the threshold. */
  private[graft] def prefixFilterCandidates(sh: DataFrame,
                                            tNum: Int, tDen: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tNum > 0 && tDen >= tNum, s"threshold $tNum/$tDen not in (0,1]")
    // document frequency as a WINDOW over the shingle partition — one
    // exchange on shingle, versus the aggregate-then-join-back shape
    // (two exchanges of the full frame on the same key). Same skew
    // profile as the aggregate: a hot shingle is one big partition
    // either way, and the prefix filter exists precisely so hot
    // shingles never reach the candidate join.
    val withDf = sh.withColumn("df",
      count(lit(1)).over(Window.partitionBy("shingle")))
    // minimum overlap for a doc of size sz: ceil(tNum·sz/tDen); prefix
    // keeps sz − that + 1 rarest shingles
    val minOv = (col("sz") * tNum + lit(tDen - 1)).cast("long") // numer
    // sz declares the SAME (partition, order) spec as rk so both land
    // in one WindowExec over one doc_id sort (r17; an unordered count
    // window forced a second sort of the frame by doc_id alone) — the
    // explicit full frame makes the ordered count the whole-partition
    // count, value-identical to the unordered form
    val byRarity = Window.partitionBy("doc_id")
      .orderBy(col("df"), col("shingle"))
    val prefix = withDf
      .withColumn("sz", count(lit(1)).over(byRarity.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rk", row_number().over(byRarity))
      .filter(col("rk") <= col("sz") - floor(minOv / tDen).cast("long") + 1)
      .select(col("doc_id"), col("sz"), col("shingle"))
    prefix
      .select(col("doc_id").as("doc_a"), col("sz").as("sa"), col("shingle"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("sz").as("sb"),
        col("shingle")), "shingle")
      .filter(col("doc_a") < col("doc_b"))
      // length filter: J ≥ t forces tDen·min(|a|,|b|) ≥ tNum·max(|a|,|b|)
      .filter(least(col("sa"), col("sb")) * tDen >=
        greatest(col("sa"), col("sb")) * tNum)
      .select("doc_a", "doc_b").distinct()
  }

  /** MinHash + LSH verified near-dup pairs (the q28 body, reused by the
    * q77 clustering and the q80 curation composition): returns
    * (doc_a, doc_b, jaccard), doc_a < doc_b. */
  private[queries] def minhashPairs(s: SparkSession, d: String): DataFrame =
    minhashPairsOf(s, t(s, d, "documents"))

  /** Per-document MinHash state: `(doc_id, mh: 128-slot signature,
    * hs: distinct shingle-hash set)`. Shared by the pair queries and
    * the q105 static-index side. */
  private[graft] def docSignatures(s: SparkSession,
                                   documents: DataFrame): DataFrame =
    // One ROW-LOCAL projection — no explode, no window, no aggregate,
    // no exchange: a document's shingles all live in its own row, so
    // the old posexplode → lead-window → groupBy pipeline (an exchange
    // + sort over every word token of the corpus, then a second
    // aggregation pass) was three shuffled operators computing what a
    // per-row expression can. graft_minhash_row is bit-identical to the
    // graft_minhash aggregate (ExpressionsSpec pins agg == HOF == row),
    // and array_distinct(shs) is collect_set(sh) up to order — every
    // consumer (array_intersect, size) is set-shaped. Same shape the
    // q105 stream side has used since r16; the batch path never caught
    // up. Docs with <3 words emit nothing, as before.
    QH.spread(s, col("doc_id"))(documents)
      .withColumn("words", split(col("text"), " "))
      .filter(size(col("words")) >= 3)
      .withColumn("shs", expr(
        "transform(sequence(1, size(words) - 2), i -> " +
          "xxhash64(element_at(words, i), element_at(words, i + 1), " +
          "element_at(words, i + 2)))"))
      .select(col("doc_id"),
        expr("graft_minhash_row(shs, 128)").as("mh"),
        array_distinct(col("shs")).as("hs"))

  /** The 64×2 band table of a signature frame: (doc_id, band, h1, h2). */
  private def bandsOf(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), posexplode(expr(
      "transform(sequence(0, 63), b -> struct(mh[2*b] as h1, mh[2*b+1] as h2))")))
      .select(col("doc_id"), col("pos").as("band"),
        col("col.h1"), col("col.h2"))

  /** MinHash-LSH pairs over an arbitrary (doc_id, text, …) frame — the
    * curation pipeline ([[graft.pipelines.CorpusPipeline]]) near-dups
    * only the documents that survived its earlier stages. */
  private[graft] def minhashPairsOf(s: SparkSession,
                                    documents: DataFrame): DataFrame = {
        val docs = docSignatures(s, documents)
        val bands = bandsOf(docs)
        val cand = bands.as("x").join(bands.as("y"),
            Seq("band", "h1", "h2"))
          .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
          .filter(col("doc_a") < col("doc_b"))
          .distinct()
        // Verify candidates with per-pair set intersection on the hashed
        // shingle arrays — O(|candidates|), no quadratic co-shingle join.
        cand
          .join(docs.select(col("doc_id").as("doc_a"), col("hs").as("hsa")),
            "doc_a")
          .join(docs.select(col("doc_id").as("doc_b"), col("hs").as("hsb")),
            "doc_b")
          .withColumn("inter", size(array_intersect(col("hsa"), col("hsb"))))
          .withColumn("jaccard", round(col("inter").cast("double")
            / (size(col("hsa")) + size(col("hsb")) - col("inter")), 6))
          .filter(col("inter").cast("double")
            / (size(col("hsa")) + size(col("hsb")) - col("inter")) >= 0.6)
          .select("doc_a", "doc_b", "jaccard")
  }

  /** SimHash near-pair search over a `(doc_id, simhash)` frame by
    * pigeonhole banding with multi-bit probing (the HmSearch/PartEnum
    * idea), parameterized by group count so the probe/collision balance
    * can follow corpus size: split the `totalBits` signature into
    * `groups` equal groups — `maxHamming` differing bits leave some
    * group with ≤ ⌊maxHamming/groups⌋ diffs — and let the probe side
    * emit, per group, the group value XOR every in-group mask of up to
    * that many bits. A ≤depth-diff group then collides exactly with the
    * build side's exact value, so the equi-join provably finds every
    * Hamming-≤maxHamming pair (asymmetric probing: the flip relation is
    * symmetric, so x-probes × y-exact covers each pair; doc_a < doc_b
    * keeps one direction). Candidate bound at 60/6: 4×15-bit groups
    * probe 64 rows/doc with E ≈ n²/512 random collisions; 3×20-bit
    * groups probe 633 rows/doc with E ≈ n²/1657 — the wider grouping
    * pays ~10× the probe rows to cut collisions ~3×, the right trade
    * once n² dominates (SimHashProperties pins both recalls against the
    * exact quadratic). */
  private[graft] def simhashNearPairs(sig: DataFrame, groups: Int,
                                      maxHamming: Int = 6,
                                      totalBits: Int = 60): DataFrame = {
    require(totalBits % groups == 0, "groups must divide the signature width")
    val width = totalBits / groups
    val depth = maxHamming / groups
    val widthMask = (1L << width) - 1
    // all in-group XOR masks with ≤ depth bits set, as one literal array
    // (computed on the driver: O(width^depth) values, constant per plan —
    // no join, so the banding stays a pure equi-join for Catalyst)
    val masks: Seq[Long] = (0 to depth).flatMap(k =>
      (0 until width).combinations(k)
        .map(_.foldLeft(0L)((m, b) => m | (1L << b))).toSeq)
    val probes = sig.select(col("doc_id"), col("simhash"),
      explode(expr(
        s"flatten(transform(sequence(0, ${groups - 1}), g -> " +
          s"transform(array(${masks.mkString(",")}), m -> struct(g AS g, " +
          s"(shiftright(simhash, g * $width) & $widthMask) ^ m AS v))))"))
        .as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.g"), col("ch.v"))
    val exact = sig.select(col("doc_id"), col("simhash"),
      explode(expr(
        s"transform(sequence(0, ${groups - 1}), g -> struct(g AS g, " +
          s"shiftright(simhash, g * $width) & $widthMask AS v))")).as("ch"))
      .select(col("doc_id"), col("simhash"), col("ch.g"), col("ch.v"))
    // Multi-group dedup WITHOUT a shuffle (the q224 lowest-band device,
    // SimHash edition): within one group a qualifying pair matches
    // exactly ONE probe mask (the mask IS the in-group difference), so
    // duplicate candidates arise only across groups — and "an earlier
    // group also matched" is row-local on the two signatures (in-group
    // Hamming ≤ depth), so a filter replaces the DISTINCT exchange over
    // the candidate pair set.
    def gham(j: Int) =
      bit_count(shiftright(col("x.simhash").bitwiseXOR(col("y.simhash")),
        j * width).bitwiseAND(lit(widthMask)))
    val firstMatch = (0 until groups).map(g =>
      (0 until g).foldLeft(col("g") === g)((c, j) => c && gham(j) > depth))
      .reduce(_ || _)
    probes.as("x").join(exact.as("y"), Seq("g", "v"))
      .filter(col("x.doc_id") < col("y.doc_id") && firstMatch)
      .select(col("x.doc_id").as("doc_a"), col("x.simhash").as("ha"),
        col("y.doc_id").as("doc_b"), col("y.simhash").as("hb"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** 60-bit SimHash signatures over the documents table (word hashes =
    * first 15 hex digits of md5, so the DuckDB oracle reproduces them
    * exactly): bit j = majority vote of word-hash bit j, folded by the
    * native SimHashSignature aggregate (one primitive vote buffer with
    * map-side combine; a 60-column conditional-sum aggregate generates
    * code past JIT limits, and HOF lambdas are interpreted). No cache():
    * the signature is an Aggregate output (no inlining risk). Shared by
    * q29/q92. */
  private def simhashSignatures(s: SparkSession, d: String): DataFrame =
    QH.spread(s, col("doc_id"))(t(s, d, "documents"))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(w), 1, 15), 16, 10) AS bigint)")
          .as("h"))
      .groupBy("doc_id")
      .agg(expr("graft_simhash(h, 60)").as("simhash"))

  /** ONE oracle for both banding widths (q29 4×15-bit, q92 3×20-bit):
    * the grouping is a candidate-generation strategy, not a semantics
    * change — both must return exactly the quadratic Hamming-≤6 set. */
  private val simhashOracle = """
        WITH w AS (
          SELECT doc_id, UNNEST(SPLIT(text, ' ')) AS word FROM documents),
        h AS (
          SELECT doc_id, LIST_REDUCE(
            LIST_TRANSFORM(SPLIT(SUBSTRING(MD5(word), 1, 15), ''),
              c -> CAST(POSITION(c IN '0123456789abcdef') - 1 AS BIGINT)),
            (a, x) -> a * 16 + x) AS hw
          FROM w),
        bits AS (
          SELECT doc_id, j,
            SUM(CASE WHEN (hw >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM h CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, 59)) AS j)
          GROUP BY doc_id, j),
        sig AS (
          SELECT doc_id,
            CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << j) ELSE 0 END)
              AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id)
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
          CAST(BIT_COUNT(XOR(a.simhash, b.simhash)) AS INTEGER) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE BIT_COUNT(XOR(a.simhash, b.simhash)) <= 6
        ORDER BY doc_a, doc_b"""

  private val q29: Q =
    Q("q29_simhash",
      (s, d) => simhashNearPairs(simhashSignatures(s, d), groups = 4)
        .orderBy("doc_a", "doc_b"),
      Some(simhashOracle))

  /** The large-n re-balancing of q29 under the same oracle: 3×20-bit
    * groups with double-bit probes pay ~10× the probe rows for ~3× fewer
    * random collisions (E ≈ n²/1657 vs n²/512) — the right trade once
    * candidate verification dominates. Gating both widths against one
    * oracle on real data (plus SimHashProperties on adversarial corpora)
    * pins that the width knob never changes the result set. */
  private val q92: Q =
    Q("q92_simhash_wide",
      (s, d) => simhashNearPairs(simhashSignatures(s, d), groups = 3)
        .orderBy("doc_a", "doc_b"),
      Some(simhashOracle))

  /** MINHASH-LSH QUALITY EVALUATION — the measurement loop for the
    * dedup index, exactly as q150 measures the ANN index: a DELIBERATELY
    * under-provisioned portable signature (8 permutations, 4 bands × 2
    * rows — vs q28's production 128/64×2) whose banded candidate set is
    * compared against the exact Jaccard≥0.6 truth for precision and
    * recall. Under-provisioning is the point: it surfaces a measurable
    * precision gap (the band collisions exact-verify would prune) so the
    * metric actually moves when the band geometry changes. The whole
    * evaluation is cross-engine EXACT because every permutation derives
    * from ONE portable-md5 base integer per shingle (q66/q158 device)
    * through overflow-safe affine mixing mod 2^31−1 — both engines
    * derive the identical candidate set, not just similar statistics.
    * Scale shape: signature
    * build is one aggregation over the exploded-shingle frame (8 min
    * columns), candidates come from the band equi self-join, and the
    * truth side is prefix-filtered + set-verified (q213's device) —
    * nothing doc×doc, and no hot-shingle co-join either. */
  private val q196: Q =
    Q("q196_minhash_eval",
      (s, d) => {
        // The string trigram is consumed EXACTLY TWICE per row, both
        // here in one projection: (1) the portable-md5 base integer
        // that seeds the signature (one md5 per shingle — round-14
        // paid 8 md5+conv per shingle row), and (2) an xxhash64 handle
        // that REPLACES the string for the whole truth side, so every
        // downstream shuffle (document-frequency agg, prefix windows,
        // prefix self-join, set intersection) moves 8-byte longs
        // instead of ~24-byte trigrams — the q28 injective-hash
        // device. The cached frame is three longs per row.
        val sh = shingles(s, d)
          .select(col("doc_id"),
            expr("cast(conv(substring(md5(shingle), 1, 13), 16, 10) " +
              "as bigint) % 2147483647").as("base"),
            xxhash64(col("shingle")).as("shingle"))
          .cache() // feeds signatures, sizes, and both truth-join sides
        // The 8 permutations are affine maps of the 52-bit base mod the
        // Mersenne prime 2^31−1 with distinct odd multipliers — a
        // universal hash family, so min-over-shingles still behaves as
        // 8 independent permutations. Every operand stays < 2^31 so
        // the product stays < 2^62: DuckDB BIGINT (which ERRORS on
        // overflow) and Spark BIGINT evaluate the identical arithmetic
        // — same portable-integer device as q66/q158.
        def mh(p: Int) = {
          val a = ((2L * p + 1) * 2654435761L) % 2147483647L
          min(expr(s"(base * ${a}L + $p) % 2147483647")).as(s"m$p")
        }
        // bands carry the FULL signature alongside the banded key so
        // the lowest-matching-band rule (the q224 device) can dedup
        // multi-band collisions with a row-local filter instead of a
        // DISTINCT exchange over the candidate pair set — cand feeds
        // two consumers (the count and the truth semi join), so the
        // removed shuffle is paid twice over
        val bands = sh.groupBy("doc_id")
          .agg(mh(0), (1 until 8).map(mh): _*)
          .selectExpr("doc_id", "m0", "m1", "m2", "m3", "m4", "m5", "m6", "m7",
            "stack(4, 0, m0, m1, 1, m2, m3, 2, m4, m5, 3, m6, m7)" +
              " as (band, v1, v2)")
        def bandMatch(j: Int) =
          col(s"a.m${2 * j}") === col(s"b.m${2 * j}") &&
            col(s"a.m${2 * j + 1}") === col(s"b.m${2 * j + 1}")
        val firstMatch = col("band") === 0 ||
          (col("band") === 1 && !bandMatch(0)) ||
          (col("band") === 2 && !bandMatch(0) && !bandMatch(1)) ||
          (col("band") === 3 && !bandMatch(0) && !bandMatch(1) && !bandMatch(2))
        val cand = bands.as("a")
          .join(bands.as("b"), Seq("band", "v1", "v2"))
          .filter(col("a.doc_id") < col("b.doc_id") && firstMatch)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        // truth = exact Jaccard ≥ 0.6, generated SCALABLY: prefix-
        // filtered candidates (provably a superset at t = 3/5 —
        // PPJoinSpec) verified by per-pair intersection of HASHED
        // shingle sets (the q28 device; sizes come off the sets for
        // free). The naive co-shingle self-join here was the round-14
        // sf10 probe's one genuine cliff (23× at 10× data): hot
        // shingles make it quadratic, while the prefix join only ever
        // collides docs on their RAREST shingles.
        // cached: the sets frame is joined TWICE (ssa and ssb) — without
        // the cache each join input re-runs the collect_set aggregation
        // from the shingle frame (round-14 verdict item 1); elements
        // are the 8-byte shingle hashes from the projection above
        val sets = sh.groupBy("doc_id")
          .agg(collect_set(col("shingle")).as("ss"))
          .cache()
        val truth = prefixFilterCandidates(sh.select("doc_id", "shingle"), 3, 5)
          .join(sets.select(col("doc_id").as("doc_a"), col("ss").as("ssa")),
            "doc_a")
          .join(sets.select(col("doc_id").as("doc_b"), col("ss").as("ssb")),
            "doc_b")
          .select(col("doc_a"), col("doc_b"),
            size(array_intersect(col("ssa"), col("ssb"))).cast("long")
              .as("inter"),
            size(col("ssa")).cast("long").as("na"),
            size(col("ssb")).cast("long").as("nb"))
          .filter(col("inter").cast("double")
            / (col("na") + col("nb") - col("inter")) >= 0.6)
          .select("doc_a", "doc_b")
        // ONE pass over both pair sets: the separate n_cand/n_truth/
        // n_hit aggregates each re-evaluated their (expensive) input —
        // cand fed the count AND the hit join, truth likewise, so the
        // band self-join and the verify join both ran TWICE. A single
        // full-outer join tags every pair with membership flags and one
        // aggregate reads off all three counts.
        cand.withColumn("is_c", lit(1))
          .join(truth.withColumn("is_t", lit(1)),
            Seq("doc_a", "doc_b"), "full_outer")
          .agg(count(col("is_c")).as("n_cand"),
            count(col("is_t")).as("n_truth"),
            count(when(col("is_c").isNotNull && col("is_t").isNotNull, 1))
              .as("n_hit"))
          .select(col("n_cand"), col("n_truth"), col("n_hit"),
            round(col("n_hit").cast("double") / col("n_cand"), 6)
              .as("precision_"),
            round(col("n_hit").cast("double") / col("n_truth"), 6)
              .as("recall_"))
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents
          WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
        sh AS (
          SELECT doc_id, UNNEST(LIST_DISTINCT(
            [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
             FOR i IN RANGE(1, LEN(words) - 1)])) AS shingle
          FROM docs),
        hashed AS (
          SELECT doc_id, shingle,
            CAST(LIST_REDUCE(
              LIST_TRANSFORM(SPLIT(SUBSTRING(MD5(shingle), 1, 13), ''),
                c -> CAST(POSITION(c IN '0123456789abcdef') - 1 AS BIGINT)),
              (a, x) -> a * 16 + x) % 2147483647 AS BIGINT) AS base
          FROM sh),
        sig AS (
          SELECT doc_id, p.p AS p,
            MIN((base * (((2 * p.p + 1) * 2654435761) % 2147483647) + p.p)
              % 2147483647) AS m
          FROM hashed CROSS JOIN (SELECT UNNEST(RANGE(0, 8)) AS p) p
          GROUP BY 1, 2),
        bands AS (
          SELECT doc_id, CAST(p // 2 AS INT) AS band,
            MIN(CASE WHEN p % 2 = 0 THEN m END) AS v1,
            MIN(CASE WHEN p % 2 = 1 THEN m END) AS v2
          FROM sig GROUP BY 1, 2),
        cand AS (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.v1 = b.v1 AND a.v2 = b.v2
              AND a.doc_id < b.doc_id),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        co AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
          FROM sh a JOIN sh b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        truth AS (
          SELECT doc_a, doc_b
          FROM co JOIN sizes sa ON sa.doc_id = co.doc_a
            JOIN sizes sb ON sb.doc_id = co.doc_b
          WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.6),
        hit AS (SELECT COUNT(*) AS h FROM cand JOIN truth USING (doc_a, doc_b)),
        counts AS (
          SELECT (SELECT COUNT(*) FROM cand) AS n_cand,
            (SELECT COUNT(*) FROM truth) AS n_truth,
            (SELECT h FROM hit) AS n_hit)
        SELECT n_cand, n_truth, n_hit,
          ROUND(CAST(n_hit AS DOUBLE) / n_cand, 6) AS precision_,
          ROUND(CAST(n_hit AS DOUBLE) / n_truth, 6) AS recall_
        FROM counts"""))

  // TYPO DEDUP — SymSpell's deletion-neighborhood join, the vocabulary
  // half of fuzzy dedup (MinHash/SimHash dedup DOCUMENTS; a text
  // pipeline also dedups its TOKEN space: OCR noise, user typos,
  // tokenizer variants). The pigeonhole: two strings within edit
  // distance 1 share a member of each other's {identity ∪ 1-deletion}
  // neighborhoods, so candidates come from ONE equi self-join on
  // neighborhood variants (|v| ≤ len+1 per word — linear blowup, no
  // all-pairs) and exact `levenshtein ≤ 1` verifies. Handles are
  // synthesized closed-form per doc (base word + deterministic
  // delete/substitute/insert typo) so the DuckDB oracle can rebuild
  // the same vocabulary and brute-force-verify with ITS levenshtein —
  // the oracle is quadratic on |vocab| (exact), the engine is linear
  // in variants: the same exact-vs-scale-path split as q27/q28.
  private val q235: Q =
    Q("q235_typo_dedup",
      (s, d) => {
        val handles = spread(s, col("doc_id"))(
          t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id")))
          .selectExpr(
            """CASE doc_id % 20
                 WHEN 0 THEN 'table'   WHEN 1 THEN 'batch'
                 WHEN 2 THEN 'query'   WHEN 3 THEN 'window'
                 WHEN 4 THEN 'stream'  WHEN 5 THEN 'filter'
                 WHEN 6 THEN 'column'  WHEN 7 THEN 'value'
                 WHEN 8 THEN 'vector'  WHEN 9 THEN 'customer'
                 WHEN 10 THEN 'merge'  WHEN 11 THEN 'scan'
                 WHEN 12 THEN 'sort'   WHEN 13 THEN 'group'
                 WHEN 14 THEN 'spark'  WHEN 15 THEN 'order'
                 WHEN 16 THEN 'line'   WHEN 17 THEN 'data'
                 WHEN 18 THEN 'hash'   ELSE 'join' END AS base""",
            "doc_id")
          .selectExpr("base",
            "CAST(doc_id % length(base) AS INT) AS p",
            "chr(97 + doc_id % 26) AS c",
            "doc_id % 4 AS mode")
          .selectExpr(
            """CASE mode
                 WHEN 0 THEN base
                 WHEN 1 THEN substr(base, 1, p) || substr(base, p + 2)
                 WHEN 2 THEN substr(base, 1, p) || c || substr(base, p + 2)
                 ELSE substr(base, 1, p) || c || substr(base, p + 1)
               END AS word""")
          .distinct()
        handles.cache() // feeds variants AND the verify join
        // {identity ∪ all 1-deletions} neighborhood, one row per variant
        val variants = handles.selectExpr("word",
          """explode(array_union(
               array(word),
               transform(sequence(0, length(word) - 1),
                 i -> concat(substr(word, 1, i), substr(word, i + 2))))
             ) AS variant""")
        val pairs = variants.alias("a").join(variants.alias("b"),
            col("a.variant") === col("b.variant") &&
              col("a.word") < col("b.word"))
          .select(col("a.word").as("word_a"), col("b.word").as("word_b"))
          .distinct()
          .filter(levenshtein(col("word_a"), col("word_b")) <= 1)
        pairs.orderBy("word_a", "word_b")
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
            CASE doc_id % 20
              WHEN 0 THEN 'table'   WHEN 1 THEN 'batch'
              WHEN 2 THEN 'query'   WHEN 3 THEN 'window'
              WHEN 4 THEN 'stream'  WHEN 5 THEN 'filter'
              WHEN 6 THEN 'column'  WHEN 7 THEN 'value'
              WHEN 8 THEN 'vector'  WHEN 9 THEN 'customer'
              WHEN 10 THEN 'merge'  WHEN 11 THEN 'scan'
              WHEN 12 THEN 'sort'   WHEN 13 THEN 'group'
              WHEN 14 THEN 'spark'  WHEN 15 THEN 'order'
              WHEN 16 THEN 'line'   WHEN 17 THEN 'data'
              WHEN 18 THEN 'hash'   ELSE 'join' END AS base
          FROM documents),
        t AS (
          SELECT base, CAST(doc_id % length(base) AS INT) AS p,
            chr(97 + CAST(doc_id % 26 AS INT)) AS c, doc_id % 4 AS mode
          FROM h),
        vocab AS (
          SELECT DISTINCT CASE mode
            WHEN 0 THEN base
            WHEN 1 THEN substr(base, 1, p) || substr(base, p + 2)
            WHEN 2 THEN substr(base, 1, p) || c || substr(base, p + 2)
            ELSE substr(base, 1, p) || c || substr(base, p + 1)
          END AS word FROM t)
        SELECT a.word AS word_a, b.word AS word_b
        FROM vocab a JOIN vocab b
          ON a.word < b.word
            AND abs(length(a.word) - length(b.word)) <= 1
        WHERE levenshtein(a.word, b.word) <= 1
        ORDER BY word_a, word_b"""))

  // BLOCKED RECORD LINKAGE (Fellegi–Sunter shape) — entity resolution
  // between two registries where no key survives intact: registry B is
  // the customer table after deterministic field corruption (a middle
  // name digit on the %3=0 residue, +0.01 on the balance on %3=1, a
  // shifted nation on %5=0), so the oracle rebuilds B exactly and the
  // gate checks the whole pipeline. Candidates come from MULTI-PASS
  // BLOCKING — two equi joins whose keys fail independently: (nation,
  // name digits 1–6) survives balance corruption, (segment, balance)
  // survives name/nation corruption; a pair is missed only when BOTH
  // passes break (%15=10: balance AND nation corrupted — real linkage
  // has misses, and the oracle misses identically). Block sizes are
  // STRUCTURALLY bounded (≤1000 ids share a 6-digit name prefix; exact
  // balances are near-unique), so candidate volume stays linear in the
  // corpus — the scale property an unblocked fuzzy join lacks.
  // Scoring is frequency-based FS agreement weighting: a field
  // agreement contributes the self-information of the SHARED value,
  // floor(log2(N / freq)) — computed as binary-string length (the
  // q260/q261 integer-bits discipline), so agreeing on a unique name
  // carries ~log2 N bits while agreeing on one of 5 segments carries
  // ~2, and the whole score is an exact integer. The link threshold is
  // SCALE-AWARE: bitlen(N) = floor(log2 N)+1, one more bit than any
  // single field agreement can carry — a link needs a high-information
  // agreement PLUS corroboration at every corpus size (a constant
  // would stop linking when the registry shrinks and the per-field
  // weights shrink with it); is_true exposes the (deterministic, rare)
  // balance-collision false links the threshold admits.
  private val q262: Q =
    Q("q262_record_linkage",
      (s, d) => {
        val a = t(s, d, "customer")
          .select(col("c_custkey").cast("long").as("k"),
            col("c_name").as("nm"), col("c_nationkey").as("nat"),
            col("c_acctbal").as("bal"), col("c_mktsegment").as("seg"))
          .cache() // base of registry B, four freq dicts, and the A side
        val b = a.select(col("k").as("bk"),
          when(col("k") % 3 === 0, concat(substring(col("nm"), 1, 15),
            lit("X"), substring(col("nm"), 17, 2))).otherwise(col("nm"))
            .as("bnm"),
          when(col("k") % 5 === 0, ((col("nat") + 1) % 25).cast("int"))
            .otherwise(col("nat")).as("bnat"),
          when(col("k") % 3 === 1, col("bal") + lit(0.01))
            .otherwise(col("bal")).as("bbal"),
          col("seg").as("bseg"))
        val n = a.agg(count(lit(1)).as("n"))
        def freqW(keyCol: String, alias: String) = a
          .groupBy(col(keyCol)).agg(count(lit(1)).as("f"))
          .crossJoin(broadcast(n))
          .select(col(keyCol),
            (length(conv(expr("n div f"), 10, 2)) - 1).cast("long")
              .as(alias))
        // name/balance dictionaries are corpus-sized → hash equi joins
        // on their own keys; nation/segment are bounded → broadcast
        val aw = a
          .join(freqW("nm", "w_nm"), "nm")
          .join(freqW("bal", "w_bal"), "bal")
          .join(broadcast(freqW("nat", "w_nat")), "nat")
          .join(broadcast(freqW("seg", "w_seg")), "seg")
          // feeds BOTH blocking passes: cache makes the weight
          // attachment a single pass (q137/q260 convention)
          .cache()
        val c1 = aw.join(b,
          aw("nat") === b("bnat") &&
            substring(aw("nm"), 10, 6) === substring(b("bnm"), 10, 6))
        val c2 = aw.join(b,
          aw("seg") === b("bseg") && aw("bal") === b("bbal"))
        val cols = aw.columns.map(aw(_)) ++ b.columns.map(b(_))
        val thresh = n.select(
          length(conv(col("n"), 10, 2)).cast("long").as("thresh"))
        c1.select(cols: _*).unionByName(c2.select(cols: _*))
          .dropDuplicates("k", "bk")
          .crossJoin(broadcast(thresh))
          .select(col("k").as("a_key"), col("bk").as("b_key"),
            (when(col("nm") === col("bnm"), col("w_nm")).otherwise(0L) +
              when(col("bal") === col("bbal"), col("w_bal")).otherwise(0L) +
              when(col("nat") === col("bnat"), col("w_nat")).otherwise(0L) +
              when(col("seg") === col("bseg"), col("w_seg")).otherwise(0L))
              .as("score"),
            (col("k") === col("bk")).as("is_true"), col("thresh"))
          .filter(col("score") >= col("thresh"))
          .drop("thresh")
          .orderBy("a_key", "b_key")
      },
      Some("""
        WITH a AS (
          SELECT c_custkey AS k, c_name AS nm, c_nationkey AS nat,
                 c_acctbal AS bal, c_mktsegment AS seg FROM customer),
        n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM a),
        b AS (
          SELECT k,
            CASE WHEN k % 3 = 0
              THEN substr(nm, 1, 15) || 'X' || substr(nm, 17, 2)
              ELSE nm END AS bnm,
            CASE WHEN k % 5 = 0 THEN CAST((nat + 1) % 25 AS INTEGER)
              ELSE nat END AS bnat,
            CASE WHEN k % 3 = 1 THEN bal + CAST(0.01 AS DOUBLE)
              ELSE bal END AS bbal,
            seg AS bseg
          FROM a),
        fn AS (SELECT nm, COUNT(*) AS f FROM a GROUP BY nm),
        fb AS (SELECT bal, COUNT(*) AS f FROM a GROUP BY bal),
        ft AS (SELECT nat, COUNT(*) AS f FROM a GROUP BY nat),
        fs AS (SELECT seg, COUNT(*) AS f FROM a GROUP BY seg),
        aw AS (
          SELECT a.*,
            LENGTH(printf('%b', n // CAST(fn.f AS BIGINT))) - 1 AS w_nm,
            LENGTH(printf('%b', n // CAST(fb.f AS BIGINT))) - 1 AS w_bal,
            LENGTH(printf('%b', n // CAST(ft.f AS BIGINT))) - 1 AS w_nat,
            LENGTH(printf('%b', n // CAST(fs.f AS BIGINT))) - 1 AS w_seg
          FROM a JOIN fn USING (nm) JOIN fb USING (bal)
                 JOIN ft USING (nat) JOIN fs USING (seg), n),
        c1 AS (
          SELECT aw.k AS ak, b.k AS bk FROM aw JOIN b
            ON aw.nat = b.bnat
               AND substr(aw.nm, 10, 6) = substr(b.bnm, 10, 6)),
        c2 AS (
          SELECT aw.k AS ak, b.k AS bk FROM aw JOIN b
            ON aw.seg = b.bseg AND aw.bal = b.bbal),
        cand AS (SELECT DISTINCT ak, bk
                 FROM (SELECT * FROM c1 UNION ALL SELECT * FROM c2)),
        sc AS (
          SELECT cand.ak, cand.bk,
            (CASE WHEN aw.nm = b.bnm THEN aw.w_nm ELSE 0 END
             + CASE WHEN aw.bal = b.bbal THEN aw.w_bal ELSE 0 END
             + CASE WHEN aw.nat = b.bnat THEN aw.w_nat ELSE 0 END
             + CASE WHEN aw.seg = b.bseg THEN aw.w_seg ELSE 0 END)
              AS score
          FROM cand JOIN aw ON cand.ak = aw.k JOIN b ON cand.bk = b.k)
        SELECT ak AS a_key, bk AS b_key, CAST(score AS BIGINT) AS score,
          ak = bk AS is_true
        FROM sc, n WHERE score >= LENGTH(printf('%b', n))
        ORDER BY a_key, b_key"""))

  // DISTRIBUTED SUFFIX ARRAY (prefix doubling) — the data structure
  // under exact-substring corpus dedup (the RefinedWeb/BigCode method:
  // duplicate spans = runs of adjacent suffix-array entries with long
  // common prefixes; q98/q143 approximate that with gram keys, this
  // builds the exact structure). The construction is the textbook
  // O(n log n) prefix-doubling as pure DataFrame algebra: start from
  // per-character codes, then log2(n) rounds of
  //   rank'(i) = globalKeyRank(rank(i), rank(i + 2^k))
  // where the doubling pair comes from ONE self equi-join on position
  // and the rank from [[graft.ops.Ranks.globalKeyRank]] — a
  // range-partitioned sort + metadata-scale offset broadcast, never a
  // single-partition window (the 1000-executor shape; every round is
  // two shuffles of the n-row frame, lineage severed per round).
  // The corpus is the doc_id-ordered concatenation of a 10% document
  // sample with '\n' terminators; the doc-offset prefix-sum window runs
  // on the BOUNDED doc-level frame (one row per document), never on
  // characters. The oracle sorts the same suffixes directly
  // (ORDER BY SUBSTRING) — an independent O(n^2)-comparison engine
  // agreeing with the O(n log n) one on the first 500 array slots.
  private lazy val q279 = Q("q279_suffix_array",
    (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
        .filter(col("doc_id") % 10 === 0)
        .select(col("doc_id"), concat(col("text"), lit("\n")).as("tx"))
        .withColumn("len", length(col("tx")).cast("long"))
      // bounded doc-level frame: offsets via one unpartitioned window
      // over |sampled docs| rows (document-count scale, not characters)
      val off = docs
        .withColumn("off",
          sum("len").over(Window.orderBy("doc_id")) - col("len"))
      val chars = off
        .select(col("off"), posexplode(split(col("tx"), "")))
        .filter(col("col") =!= "")
        .select((col("off") + col("pos")).as("pos"),
          ascii(col("col")).cast("long").as("r"))
      val n = chars.count()
      // QUADRUPLING variant of prefix doubling, factored into
      // ops/SuffixArray (SuffixArrayProperties pins it against
      // brute-force suffix sort on random strings): each round keys on
      // (r(i), r(i+h), r(i+2h), r(i+3h)) so one rank pass extends the
      // distinguished prefix 4x — ceil(log4 n) rounds instead of
      // ceil(log2 n); at toy scale rounds are scheduler-bound, at 100 TB
      // they are full-frame shuffles, and halving their count wins in
      // both regimes for one extra cheap equi join per round.
      val ranks = graft.ops.SuffixArray.ranks(chars, n)
      ranks.filter(col("r") < 500)
        .select(col("r").as("rank"), col("pos"))
        .orderBy("rank")
    },
    Some("""
      WITH corpus AS (
        SELECT STRING_AGG(text || CHR(10), '' ORDER BY doc_id) AS s
        FROM documents WHERE doc_id % 10 = 0),
      pos AS (
        SELECT UNNEST(GENERATE_SERIES(0, LENGTH(s) - 1)) AS i
        FROM corpus),
      ranked AS (
        SELECT i, ROW_NUMBER() OVER (ORDER BY
          SUBSTRING(corpus.s, CAST(i + 1 AS INT))) - 1 AS rank
        FROM pos, corpus)
      SELECT rank, i AS pos FROM ranked
      WHERE rank < 500 ORDER BY rank"""))
}
