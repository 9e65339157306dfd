package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import QH._

/** Text-analysis ops for training-data pipelines: token stats, quality
  * scoring, language-ID heuristic, fingerprinting. All expressed as
  * codegen'd higher-order array functions — no UDFs, fully distributed.
  */
object TextQueries {

  private val stopEn = Seq("the", "and", "of", "a", "in", "to", "is")

  private def inList(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("(", ", ", ")")

  val qs: Seq[Q] = Seq(
    // Token counting + lexical stats per document.
    Q("q32_text_stats",
      (s, d) =>
        t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
          .select(
            col("doc_id"),
            col("n_chars"),
            size(col("words")).cast("long").as("token_cnt"),
            (expr("aggregate(words, 0L, (acc, w) -> acc + length(w))")
              .cast("double") / size(col("words"))).as("avg_word_len"),
            (size(array_distinct(col("words"))).cast("double")
              / size(col("words"))).as("type_token_ratio"))
          .orderBy("doc_id"),
      Some("""
        WITH w AS (SELECT doc_id, n_chars, STRING_SPLIT(text, ' ') AS words FROM documents)
        SELECT doc_id, n_chars,
          CAST(LEN(words) AS BIGINT) AS token_cnt,
          CAST(LIST_SUM(LIST_TRANSFORM(words, x -> LENGTH(x))) AS DOUBLE)
            / LEN(words) AS avg_word_len,
          CAST(LEN(LIST_DISTINCT(words)) AS DOUBLE) / LEN(words) AS type_token_ratio
        FROM w ORDER BY doc_id""")),

    // Corpus-level per-language aggregates.
    Q("q33_lang_stats",
      (s, d) =>
        t(s, d, "documents")
          .withColumn("tok", size(split(col("text"), " ")))
          .groupBy("lang")
          .agg(
            count(lit(1)).as("n_docs"),
            (sum(col("tok")).cast("double") / count(lit(1))).as("avg_tokens"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy("lang"),
      Some("""
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_tokens,
          COUNT(DISTINCT source) AS n_sources
        FROM documents GROUP BY lang ORDER BY lang""")),

    // Quality scoring: stopword ratio + length flag.
    Q("q34_quality_score",
      (s, d) =>
        t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
          .select(
            col("doc_id"),
            expr(s"size(filter(words, w -> w IN ${inList(stopEn)}))")
              .cast("long").as("stop_cnt"),
            (expr(s"size(filter(words, w -> w IN ${inList(stopEn)}))")
              .cast("double") / size(col("words"))).as("stop_ratio"),
            (col("n_chars") < 150).as("is_short"))
          .orderBy("doc_id"),
      Some(s"""
        WITH w AS (SELECT doc_id, n_chars, STRING_SPLIT(text, ' ') AS words FROM documents)
        SELECT doc_id,
          CAST(LEN(LIST_FILTER(words, x -> x IN ${inList(stopEn)})) AS BIGINT) AS stop_cnt,
          CAST(LEN(LIST_FILTER(words, x -> x IN ${inList(stopEn)})) AS DOUBLE)
            / LEN(words) AS stop_ratio,
          n_chars < 150 AS is_short
        FROM w ORDER BY doc_id""")),

    // Language-ID n-gram/stopword heuristic: score per language, argmax.
    Q("q35_langid_heuristic",
      (s, d) => {
        val markers = Map(
          "en" -> Seq("the", "and", "with"),
          "es" -> Seq("el", "la", "con"),
          "fr" -> Seq("le", "la", "avec"),
          "de" -> Seq("der", "und", "mit"))
        val df0 = t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
        val scored = markers.toSeq.sortBy(_._1).foldLeft(df0) {
          case (df, (lg, ws)) =>
            df.withColumn(s"s_$lg",
              expr(s"size(filter(words, w -> w IN ${inList(ws)}))"))
        }
        scored
          .withColumn("pred_lang",
            when(col("s_en") >= greatest(col("s_es"), col("s_fr"), col("s_de")) &&
              col("s_en") > 0, lit("en"))
              .when(col("s_es") >= greatest(col("s_fr"), col("s_de")) &&
                col("s_es") > 0, lit("es"))
              .when(col("s_fr") >= col("s_de") && col("s_fr") > 0, lit("fr"))
              .when(col("s_de") > 0, lit("de"))
              .otherwise(lit("unknown")))
          .select(col("doc_id"), col("lang"), col("pred_lang"),
            (col("pred_lang") === col("lang")).as("correct"))
          .orderBy("doc_id")
      },
      Some("""
        WITH w AS (SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS words FROM documents),
        s AS (SELECT doc_id, lang,
          LEN(LIST_FILTER(words, x -> x IN ('the', 'and', 'with'))) AS s_en,
          LEN(LIST_FILTER(words, x -> x IN ('el', 'la', 'con'))) AS s_es,
          LEN(LIST_FILTER(words, x -> x IN ('le', 'la', 'avec'))) AS s_fr,
          LEN(LIST_FILTER(words, x -> x IN ('der', 'und', 'mit'))) AS s_de
        FROM w),
        p AS (SELECT doc_id, lang,
          CASE
            WHEN s_en >= GREATEST(s_es, s_fr, s_de) AND s_en > 0 THEN 'en'
            WHEN s_es >= GREATEST(s_fr, s_de) AND s_es > 0 THEN 'es'
            WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
            WHEN s_de > 0 THEN 'de'
            ELSE 'unknown' END AS pred_lang
        FROM s)
        SELECT doc_id, lang, pred_lang, pred_lang = lang AS correct
        FROM p ORDER BY doc_id""")),

    // Document fingerprint: md5 of case/punct-normalized text.
    Q("q36_fingerprint",
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            md5(trim(regexp_replace(lower(col("text")), "[^a-z0-9]+", " ")))
              .as("fp"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
          MD5(TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g'))) AS fp
        FROM documents ORDER BY doc_id""")),

    // BPE-ish regex token counting (letters runs / digit runs / symbols).
    Q("q37_token_regex",
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
              .cast("long").as("bpe_token_cnt"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
          CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
            AS bpe_token_cnt
        FROM documents ORDER BY doc_id""")),

    // Benchmark decontamination — the pretraining hygiene step: flag
    // every training document that shares an 8-word-gram with the
    // held-out eval set (here a deterministic slice, doc_id % 13 = 0,
    // standing in for a benchmark suite). The shape is the scale story:
    // an EQUI-join on the gram (never a pairwise document comparison),
    // with the eval side tiny by construction — at 100 TB AQE broadcasts
    // the benchmark grams and the pass stays one linear scan of the
    // corpus. Output covers every training doc (hit count 0 included) so
    // the verdict is total, like q80's.
    Q("q83_decontaminate",
      (s, d) => {
        val grams = QH.spread(s, col("doc_id"))(t(s, d, "documents"))
          .withColumn("words", split(col("text"), " "))
          .filter(size(col("words")) >= 8)
          .select(col("doc_id"), explode(array_distinct(expr(
            "transform(sequence(1, size(words) - 7), " +
              "i -> concat_ws(' ', words[i-1], words[i], words[i+1], " +
              "words[i+2], words[i+3], words[i+4], words[i+5], words[i+6]))")))
            .as("gram"))
        val evalGrams = grams.filter(col("doc_id") % 13 === 0)
          .select("gram").distinct()
        val hits = grams.filter(col("doc_id") % 13 =!= 0)
          .join(evalGrams, "gram")
          .groupBy("doc_id").agg(count(lit(1)).as("hit_grams"))
        t(s, d, "documents").filter(col("doc_id") % 13 =!= 0)
          .join(hits, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("hit_grams"), lit(0L)).as("hit_grams"),
            (coalesce(col("hit_grams"), lit(0L)) > 0).cast("int")
              .as("contaminated"))
          .orderBy("doc_id")
      },
      Some("""
        WITH docs AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents
          WHERE LEN(STRING_SPLIT(text, ' ')) >= 8),
        g AS (
          SELECT doc_id, UNNEST(LIST_DISTINCT(
            [words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' ||
             words[i+3] || ' ' || words[i+4] || ' ' || words[i+5] || ' ' ||
             words[i+6] || ' ' || words[i+7]
             for i in GENERATE_SERIES(1, LEN(words) - 7)])) AS gram
          FROM docs),
        ev AS (SELECT DISTINCT gram FROM g WHERE doc_id % 13 = 0),
        hits AS (
          SELECT doc_id, COUNT(*) AS hit_grams FROM g
          WHERE doc_id % 13 != 0 AND gram IN (SELECT gram FROM ev)
          GROUP BY doc_id)
        SELECT d.doc_id,
          COALESCE(h.hit_grams, 0) AS hit_grams,
          CAST(COALESCE(h.hit_grams, 0) > 0 AS INT) AS contaminated
        FROM documents d LEFT JOIN hits h USING (doc_id)
        WHERE d.doc_id % 13 != 0
        ORDER BY d.doc_id""")),

    // Sequence packing — the concatenate-and-chop layout a pretraining
    // loader needs: per language stream, documents are laid end-to-end
    // in doc_id order and cut into fixed 256-token windows; each doc
    // gets its start offset and the first/last pack it lands in. Pure
    // window math over the W7 exclusive-cumulative idiom (q69) — one
    // shuffle on the stream key. At 100 TB the partition key is the
    // shard id, so every shard packs independently and in parallel.
    Q("q84_pack_sequences",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("lang").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        t(s, d, "documents")
          .select(col("lang"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("tok_cnt"))
          .withColumn("start_off", coalesce(sum("tok_cnt").over(w), lit(0L)))
          .withColumn("pack_first", expr("start_off DIV 256"))
          .withColumn("pack_last", expr("(start_off + tok_cnt - 1) DIV 256"))
          .orderBy("lang", "doc_id")
      },
      Some("""
        WITH t AS (
          SELECT lang, doc_id,
            CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS tok_cnt
          FROM documents),
        o AS (
          SELECT lang, doc_id, tok_cnt,
            COALESCE(CAST(SUM(tok_cnt) OVER (PARTITION BY lang
              ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING) AS BIGINT), 0) AS start_off
          FROM t)
        SELECT lang, doc_id, tok_cnt, start_off,
          start_off // 256 AS pack_first,
          (start_off + tok_cnt - 1) // 256 AS pack_last
        FROM o ORDER BY lang, doc_id""")),

    // Domain-mixture resampling — the data-mixing step: down-sample each
    // language stream so the output corpus matches target mixture
    // weights (en 30%, others 17.5%). N_max = min over streams of
    // n/w is the largest total the corpus can support without
    // up-sampling; each stream keeps docs whose deterministic u-hash
    // (q66/q82 idiom, bit-exact across engines) falls under
    // rate = w·N_max/n. Scale shape: one small per-stream count, a
    // 5-row rates dim broadcast into one linear pass — the global min
    // is a 1-row frame, not a driver .first() (O5). Output is integer
    // counts + quotas, immune to float formatting.
    Q("q85_mixture_resample",
      (s, d) => {
        val docs = t(s, d, "documents")
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .withColumn("w", when(col("lang") === "en", 0.30).otherwise(0.175))
        val nMax = counts.agg(min(col("n_docs") / col("w")).as("n_max"))
        val rates = counts.crossJoin(nMax)
          .withColumn("rate",
            least(lit(1.0), col("w") * col("n_max") / col("n_docs")))
          .withColumn("quota", floor(col("w") * col("n_max")).cast("long"))
        // broadcast is justified (unlike the fact-derived frames q67/q68
        // must not hint): rates has at most one row per LANGUAGE —
        // bounded dimension cardinality, independent of corpus size —
        // and without the hint the stats-blind post-crossJoin estimate
        // picks a sort-merge join that shuffles the whole corpus on a
        // 5-value key (the real scale killer: 5-way skew)
        val sampled = docs
          .join(broadcast(rates.select("lang", "rate")), "lang")
          .withColumn("u",
            expr("cast(conv(substring(md5(cast(doc_id AS string)), 1, 13)," +
              " 16, 10) AS bigint)").cast("double") / lit(4503599627370496.0))
          .filter(col("u") < col("rate"))
          .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
        rates.join(broadcast(sampled), Seq("lang"), "left")
          .select(col("lang"), col("n_docs"), col("quota"),
            coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
          .orderBy("lang")
      },
      Some("""
        WITH counts AS (
          SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        w AS (
          SELECT lang, n_docs,
            CASE WHEN lang = 'en' THEN CAST(0.30 AS DOUBLE)
              ELSE CAST(0.175 AS DOUBLE) END AS w
          FROM counts),
        nm AS (SELECT MIN(n_docs / w) AS n_max FROM w),
        r AS (
          SELECT lang, n_docs,
            LEAST(CAST(1 AS DOUBLE), w * nm.n_max / n_docs) AS rate,
            CAST(FLOOR(w * nm.n_max) AS BIGINT) AS quota
          FROM w, nm),
        u AS (
          SELECT lang, CAST(LIST_REDUCE(
            LIST_TRANSFORM(SPLIT(SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 13), ''),
              c -> CAST(POSITION(c IN '0123456789abcdef') - 1 AS BIGINT)),
            (a, x) -> a * 16 + x) AS DOUBLE) / 4503599627370496.0 AS u
          FROM documents),
        smp AS (
          SELECT u.lang, COUNT(*) AS n_sampled
          FROM u JOIN r USING (lang) WHERE u.u < r.rate GROUP BY u.lang)
        SELECT r.lang, r.n_docs, r.quota, COALESCE(smp.n_sampled, 0) AS n_sampled
        FROM r LEFT JOIN smp USING (lang) ORDER BY r.lang""")),

    // Epoch up-sampling — the row-amplifying half of data mixing: hold
    // the output size at the corpus total but redistribute it to the
    // target weights, so over-represented domains drop docs and rare
    // domains REPEAT theirs (fractional epochs: expected repetitions
    // r = w·T/n per domain, e.g. 1.25 ⇒ every doc once, every fourth
    // doc twice). floor(r) guaranteed copies + one more when the
    // deterministic u-hash lands under frac(r); emitted via
    // explode(sequence) with an epoch index — row-parallel, no window,
    // rates dim broadcast exactly as in q85.
    Q("q86_epoch_upsample",
      (s, d) => {
        val docs = t(s, d, "documents")
        val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
          .withColumn("mw", when(col("lang") === "en", 0.30).otherwise(0.175))
        val total = docs.agg(count(lit(1)).as("t"))
        val rates = counts.crossJoin(total)
          .withColumn("r", col("mw") * col("t") / col("n_docs"))
        docs
          .join(broadcast(rates.select("lang", "r")), "lang")
          .withColumn("u",
            expr("cast(conv(substring(md5(cast(doc_id AS string)), 1, 13)," +
              " 16, 10) AS bigint)").cast("double") / lit(4503599627370496.0))
          .withColumn("n_copies",
            floor(col("r")).cast("long") +
              when(col("u") < col("r") - floor(col("r")), 1L).otherwise(0L))
          .filter(col("n_copies") > 0)
          .select(col("doc_id"), col("lang"),
            explode(expr("sequence(CAST(0 AS BIGINT), n_copies - 1)"))
              .as("epoch"))
          .orderBy("doc_id", "epoch")
      },
      Some("""
        WITH counts AS (
          SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
        tot AS (SELECT COUNT(*) AS t FROM documents),
        r AS (
          SELECT lang, n_docs,
            CASE WHEN lang = 'en' THEN CAST(0.30 AS DOUBLE)
              ELSE CAST(0.175 AS DOUBLE) END * tot.t / n_docs AS r
          FROM counts, tot),
        c AS (
          SELECT doc_id, d.lang,
            CAST(FLOOR(r.r) AS BIGINT) +
              CASE WHEN CAST(LIST_REDUCE(
                LIST_TRANSFORM(SPLIT(SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 13), ''),
                  ch -> CAST(POSITION(ch IN '0123456789abcdef') - 1 AS BIGINT)),
                (a, x) -> a * 16 + x) AS DOUBLE) / 4503599627370496.0
                < r.r - FLOOR(r.r) THEN 1 ELSE 0 END AS n_copies
          FROM documents d JOIN r USING (lang))
        SELECT doc_id, lang, UNNEST(GENERATE_SERIES(0, n_copies - 1)) AS epoch
        FROM c WHERE n_copies > 0 ORDER BY doc_id, epoch""")),

    // Repetition-ratio quality signals (the Gopher-style intra-document
    // filters): duplicate word / bigram / trigram fractions per document.
    // Pure per-row array math — codegen'd, no shuffle at all beyond the
    // final presentation sort; the cheapest quality gate in the corpus
    // pipeline and the first one to run at 100 TB (it prunes before
    // anything that shuffles).
    Q("q89_repetition_ratio",
      (s, d) =>
        t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
          .filter(size(col("words")) >= 3)
          .withColumn("g2", expr(
            "transform(sequence(1, size(words) - 1), " +
              "i -> concat_ws(' ', words[i-1], words[i]))"))
          .withColumn("g3", expr(
            "transform(sequence(1, size(words) - 2), " +
              "i -> concat_ws(' ', words[i-1], words[i], words[i+1]))"))
          .select(col("doc_id"),
            round(lit(1.0) - size(array_distinct(col("words"))).cast("double")
              / size(col("words")), 6).as("dup_word_ratio"),
            round(lit(1.0) - size(array_distinct(col("g2"))).cast("double")
              / size(col("g2")), 6).as("dup_bigram_ratio"),
            round(lit(1.0) - size(array_distinct(col("g3"))).cast("double")
              / size(col("g3")), 6).as("dup_trigram_ratio"))
          .orderBy("doc_id"),
      Some("""
        WITH w AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents
          WHERE LEN(STRING_SPLIT(text, ' ')) >= 3),
        g AS (
          SELECT doc_id, words,
            [words[i] || ' ' || words[i+1]
             for i in GENERATE_SERIES(1, LEN(words) - 1)] AS g2,
            [words[i] || ' ' || words[i+1] || ' ' || words[i+2]
             for i in GENERATE_SERIES(1, LEN(words) - 2)] AS g3
          FROM w)
        SELECT doc_id,
          ROUND(1.0 - CAST(LEN(LIST_DISTINCT(words)) AS DOUBLE) / LEN(words), 6)
            AS dup_word_ratio,
          ROUND(1.0 - CAST(LEN(LIST_DISTINCT(g2)) AS DOUBLE) / LEN(g2), 6)
            AS dup_bigram_ratio,
          ROUND(1.0 - CAST(LEN(LIST_DISTINCT(g3)) AS DOUBLE) / LEN(g3), 6)
            AS dup_trigram_ratio
        FROM g ORDER BY doc_id""")),

    // Cross-corpus n-gram novelty — how much of a document's content
    // appears nowhere else: the fraction of its distinct 5-grams with
    // corpus frequency 1. Scale shape mirrors q83's decontamination: an
    // EQUI-join on the gram (never doc×doc), one map-side-combined gram
    // count, one per-doc re-aggregation. Corpus-hot grams are hot JOIN
    // keys — that skew is AQE's skew-join case (or pre-salt via
    // Relational.saltedJoin when the hot set is known); the aggregations
    // themselves are immune (partial aggregation absorbs hot grams
    // map-side).
    Q("q90_ngram_novelty",
      (s, d) => {
        val grams = QH.spread(s, col("doc_id"))(t(s, d, "documents"))
          .withColumn("words", split(col("text"), " "))
          .filter(size(col("words")) >= 5)
          .select(col("doc_id"), explode(array_distinct(expr(
            "transform(sequence(1, size(words) - 4), " +
              "i -> concat_ws(' ', words[i-1], words[i], words[i+1], " +
              "words[i+2], words[i+3]))"))).as("gram"))
        // grams are per-doc distinct, so count(*) = number of docs
        // containing the gram
        val freq = grams.groupBy("gram").agg(count(lit(1)).as("nd"))
        grams.join(freq, "gram")
          .groupBy("doc_id").agg(
            count(lit(1)).as("n_grams"),
            sum(when(col("nd") === 1, 1L).otherwise(0L)).as("n_novel"))
          .withColumn("novelty",
            round(col("n_novel").cast("double") / col("n_grams"), 6))
          .orderBy("doc_id")
      },
      Some("""
        WITH w AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents
          WHERE LEN(STRING_SPLIT(text, ' ')) >= 5),
        g AS (
          SELECT doc_id, UNNEST(LIST_DISTINCT(
            [words[i] || ' ' || words[i+1] || ' ' || words[i+2] || ' ' ||
             words[i+3] || ' ' || words[i+4]
             for i in GENERATE_SERIES(1, LEN(words) - 4)])) AS gram
          FROM w),
        f AS (SELECT gram, COUNT(*) AS nd FROM g GROUP BY gram)
        SELECT g.doc_id,
          COUNT(*) AS n_grams,
          CAST(SUM(CASE WHEN f.nd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
          ROUND(CAST(SUM(CASE WHEN f.nd = 1 THEN 1 ELSE 0 END) AS DOUBLE)
            / COUNT(*), 6) AS novelty
        FROM g JOIN f USING (gram) GROUP BY g.doc_id ORDER BY g.doc_id""")),

    // BM25 keyword scoring — the retrieval side of a training-data
    // engine (data selection by query relevance, not just dedup). The
    // scale shape is two linear passes: one tiny global agg (N, Σdl,
    // per-term df — a single broadcast-back row), then a scan that
    // scores per-row with codegen'd array math and a
    // TakeOrderedAndProject top-k. tf is computed with a per-row
    // `filter(words, …)` rather than explode+groupBy — no token shuffle
    // at all, and the hot stopword-key skew problem never exists.
    // Determinism: the classic log-IDF is replaced by the rational
    // Robertson-Sparck-Jones core (N - df + 0.5)/(df + 0.5) so every
    // value is reached by IEEE-754 +−×÷ on the SAME expression tree in
    // both engines — `ln` is libm-dependent and would break the
    // driver's bit-exact hash gate. k1 = 1.2, b = 0.75.
    Q("q93_bm25",
      (s, d) => {
        val terms = Seq("spark", "window", "merge")
        val docs = t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
          .withColumn("dl", size(col("words")).cast("double"))
        val withTf = terms.foldLeft(docs) { (df, tm) =>
          df.withColumn(s"tf_$tm",
            expr(s"size(filter(words, w -> w = '$tm'))").cast("double"))
        }
        val stats = withTf.agg(
          (count(lit(1)).cast("double")).as("n_docs"),
          (sum(size(col("words"))).cast("double")
            / count(lit(1))).as("avgdl") +:
            terms.map(tm => sum((col(s"tf_$tm") > 0).cast("long"))
              .cast("double").as(s"df_$tm")): _*)
        def score(tm: String): Column = {
          val tf = col(s"tf_$tm"); val df = col(s"df_$tm")
          (col("n_docs") - df + lit(0.5)) / (df + lit(0.5)) *
            (tf * lit(2.2)) /
            (tf + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / col("avgdl")))
        }
        withTf.crossJoin(broadcast(stats))
          .filter(terms.map(tm => col(s"tf_$tm")).reduce(_ + _) > 0)
          .select(col("doc_id"),
            round(terms.map(score).reduce(_ + _), 6).as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(20)
      },
      Some("""
        WITH w AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents),
        t AS (
          SELECT doc_id,
            CAST(LEN(words) AS DOUBLE) AS dl,
            CAST(LEN(LIST_FILTER(words, x -> x = 'spark')) AS DOUBLE) AS tf_spark,
            CAST(LEN(LIST_FILTER(words, x -> x = 'window')) AS DOUBLE) AS tf_window,
            CAST(LEN(LIST_FILTER(words, x -> x = 'merge')) AS DOUBLE) AS tf_merge
          FROM w),
        g AS (
          SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
            CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS DOUBLE) / COUNT(*) AS avgdl,
            CAST(SUM(CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
              x -> x = 'spark')) > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_spark,
            CAST(SUM(CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
              x -> x = 'window')) > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_window,
            CAST(SUM(CASE WHEN LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
              x -> x = 'merge')) > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df_merge
          FROM documents)
        SELECT doc_id,
          ROUND(
            (n_docs - df_spark + 0.5) / (df_spark + 0.5) *
              (tf_spark * 2.2) /
              (tf_spark + 1.2 * (0.25 + 0.75 * dl / avgdl))
            + (n_docs - df_window + 0.5) / (df_window + 0.5) *
              (tf_window * 2.2) /
              (tf_window + 1.2 * (0.25 + 0.75 * dl / avgdl))
            + (n_docs - df_merge + 0.5) / (df_merge + 0.5) *
              (tf_merge * 2.2) /
              (tf_merge + 1.2 * (0.25 + 0.75 * dl / avgdl)), 6) AS bm25
        FROM t, g
        WHERE tf_spark + tf_window + tf_merge > 0
        ORDER BY bm25 DESC, doc_id LIMIT 20""")),

    // Sliding-window chunking — the tokenizer-side splitter that turns
    // long documents into overlapping max-length training windows
    // (max_len 64 tokens, stride 48 → 16-token overlap, the BERT-style
    // recipe). Pure per-row generate + slice: `sequence` starts,
    // `posexplode`, `slice` — codegen'd, no shuffle before the
    // presentation sort, row count grows by len/stride (bounded fan-out,
    // unlike gram explosion). At 100 TB this runs in the same scan as
    // the quality gates.
    Q("q94_chunk_windows",
      (s, d) =>
        t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
          .select(col("doc_id"), col("words"),
            posexplode(expr("sequence(1, size(words), 48)"))
              .as(Seq("chunk_idx", "start")))
          .select(col("doc_id"),
            col("chunk_idx").cast("long").as("chunk_idx"),
            col("start").cast("long").as("start_tok"),
            expr("size(slice(words, start, 64))").cast("long").as("n_tokens"),
            expr("array_join(slice(words, start, 64), ' ')").as("chunk_text"))
          .orderBy("doc_id", "chunk_idx"),
      Some("""
        WITH w AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents),
        c AS (
          SELECT doc_id, words,
            UNNEST(GENERATE_SERIES(1, LEN(words), 48)) AS start FROM w)
        SELECT doc_id,
          CAST((start - 1) // 48 AS BIGINT) AS chunk_idx,
          CAST(start AS BIGINT) AS start_tok,
          CAST(LEN(words[start : start + 63]) AS BIGINT) AS n_tokens,
          ARRAY_TO_STRING(words[start : start + 63], ' ') AS chunk_text
        FROM c ORDER BY doc_id, chunk_idx""")),

    // Tokenizer-vocabulary construction: global term frequencies, the
    // top-50 vocabulary by (count desc, term), and each prefix's
    // cumulative corpus coverage — the first step of BPE/WordPiece vocab
    // building. Scale shape: one map-side-combined token count (the only
    // shuffle; hot stopword keys are absorbed by partial aggregation),
    // a scalar total, a TakeOrderedAndProject top-k, and a window over
    // the 50 SURVIVING rows only (the single-partition window is
    // vocab-top-k-sized by construction, never corpus-sized).
    Q("q95_vocab_coverage",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val counts = QH.spread(s, col("doc_id"))(t(s, d, "documents"))
          .select(explode(split(col("text"), " ")).as("term"))
          .groupBy("term").agg(count(lit(1)).as("cnt"))
        val total = counts.agg(sum(col("cnt")).as("total"))
        val top = counts.orderBy(col("cnt").desc, col("term")).limit(50)
        val w = Window.orderBy(col("cnt").desc, col("term"))
        top.crossJoin(broadcast(total))
          .withColumn("rank", row_number().over(w).cast("long"))
          .withColumn("cum_cnt", sum(col("cnt")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("rank"), col("term"), col("cnt"), col("cum_cnt"),
            round(col("cum_cnt").cast("double") / col("total"), 6)
              .as("coverage"))
          .orderBy("rank")
      },
      Some("""
        WITH t AS (
          SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term FROM documents),
        c AS (SELECT term, COUNT(*) AS cnt FROM t GROUP BY term),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
        top AS (SELECT term, cnt FROM c ORDER BY cnt DESC, term LIMIT 50),
        r AS (
          SELECT term, cnt,
            CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT) AS rank,
            CAST(SUM(cnt) OVER (ORDER BY cnt DESC, term
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS cum_cnt
          FROM top)
        SELECT rank, term, cnt, cum_cnt,
          ROUND(CAST(cum_cnt AS DOUBLE) / total, 6) AS coverage
        FROM r, tot ORDER BY rank""")),

    // PII-redaction-shaped regex scrub: mask every match of a sensitive
    // pattern and count redactions per document. On real corpora the
    // pattern set is emails/phones/SSNs; this synthetic vocab corpus has
    // none, so three present vocabulary words stand in — the machinery
    // (regexp_count + regexp_replace over the full text column, both
    // codegen'd, zero shuffle) is exactly the production op. Pattern
    // stays in the Java∩RE2 common subset (`\b`, alternation) so the
    // oracle matches byte-for-byte.
    Q("q96_regex_scrub",
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"),
            regexp_count(col("text"), lit("\\b(key|value|hash)\\b"))
              .cast("long").as("n_masked"),
            regexp_replace(col("text"), "\\b(key|value|hash)\\b", "<MASK>")
              .as("scrubbed"))
          .orderBy("doc_id"),
      Some("""
        SELECT doc_id,
          CAST(LEN(REGEXP_EXTRACT_ALL(text, '\b(key|value|hash)\b')) AS BIGINT)
            AS n_masked,
          REGEXP_REPLACE(text, '\b(key|value|hash)\b', '<MASK>', 'g') AS scrubbed
        FROM documents ORDER BY doc_id""")),

    // STRATIFIED train/val/test split — the last step before a corpus
    // ships to training. Assignment is a row-local projection on a
    // PORTABLE deterministic hash (md5 of the document key, the q66
    // device): no global sort, no shuffle, no rand() — the same doc
    // lands in the same split on every engine, every re-run, and under
    // corpus growth (adding documents never reassigns existing ones —
    // the property a random or rank-based split lacks, and the reason
    // eval contamination can't creep in between corpus versions). First
    // hex nibble buckets 16 ways: 2/16 test, 2/16 val, 12/16 train.
    // The aggregation below is the stratification REPORT (per-language
    // doc/token counts and within-language shares); its window runs
    // over lang×split group rows, never corpus rows.
    Q("q100_stratified_split",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
        t(s, d, "documents")
          .withColumn("split",
            when(nib < "2", "test").when(nib < "4", "val")
              .otherwise("train"))
          .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
          .groupBy("lang", "split")
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
          .withColumn("frac_docs",
            round(col("n_docs").cast("double") /
              sum(col("n_docs")).over(Window.partitionBy("lang")), 6))
          .orderBy("lang", "split")
      },
      Some("""
        WITH a AS (
          SELECT lang,
            CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < '2'
                THEN 'test'
              WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) < '4'
                THEN 'val'
              ELSE 'train' END AS split,
            LEN(STRING_SPLIT(text, ' ')) AS n_tok
          FROM documents)
        SELECT lang, split, COUNT(*) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
          ROUND(CAST(COUNT(*) AS DOUBLE) /
            SUM(COUNT(*)) OVER (PARTITION BY lang), 6) AS frac_docs
        FROM a GROUP BY lang, split ORDER BY lang, split""")),

    // MODEL-BASED QUALITY FILTERING — the fasttext/DCLM-style linear
    // classifier gate: hash each token into a weight table, mean-pool
    // the weights, keep documents scoring above threshold. The score is
    // one per-row `aggregate()` over the token array — scan→project,
    // ZERO shuffles for the whole corpus pass (the presentation sort is
    // the only exchange), which is the entire point at 100 TB: quality
    // scoring rides the same scan as every other per-doc signal.
    //
    // Engineered for the cross-engine hash gate: the weight of a token
    // is derived from its md5 prefix (a trained model would broadcast a
    // real weight array; the LOOKUP machinery is identical) and weights
    // are dyadic (k/64, |k| ≤ 64), so the pooled sum is exact in IEEE
    // doubles regardless of accumulation order and the keep decision is
    // bit-stable in both engines — no libm, no tolerance.
    Q("q103_quality_classifier",
      (s, d) => {
        val wsum = "aggregate(words, CAST(0 AS DOUBLE), (acc, w) -> " +
          "acc + (CAST(CONV(SUBSTRING(MD5(w), 1, 8), 16, 10) AS BIGINT) " +
          "% 129 - 64) / CAST(64 AS DOUBLE))"
        t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
          .select(col("doc_id"),
            size(col("words")).cast("long").as("n_tokens"),
            (expr(wsum) / size(col("words"))).as("score0"))
          .select(col("doc_id"), col("n_tokens"),
            // FLOOR of micro-units, not round(…,6): the dyadic-exact
            // score sum divided by n can land its ×10⁶ image EXACTLY on
            // a .5 tie, where Spark rounds half-up and DuckDB half-even
            // (one real hit at sf0.1) — floor has no tie semantics at
            // all, so both engines agree on every representable input
            expr("cast(floor(score0 * 1000000) as bigint)").as("score_micro"),
            (col("score0") > 0).as("keep"))
          .orderBy("doc_id")
      },
      Some("""
        WITH a AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents),
        sc AS (
          SELECT doc_id, CAST(LEN(words) AS BIGINT) AS n_tokens,
            LIST_SUM([(CAST(CONCAT('0x', SUBSTRING(MD5(w), 1, 8)) AS BIGINT)
              % 129 - 64) / 64.0 for w in words]) / LEN(words) AS score0
          FROM a)
        SELECT doc_id, n_tokens,
          CAST(FLOOR(score0 * 1000000) AS BIGINT) AS score_micro,
          score0 > 0 AS keep
        FROM sc ORDER BY doc_id""")),

    // HEAVY HITTERS via the Misra–Gries mergeable summary
    // (expressions/MisraGries, `graft_heavy`) — the frequent-items
    // sketch completing the mergeable-summary family (HLL q99/q101, GK
    // quantiles q99, bounded top-k q81/q102): at 100 TB of tokens an
    // exact `groupBy(token).count` shuffles one row per DISTINCT token
    // (billions of keys) to answer "which items exceed φ·n" — the MG
    // summary caps every map task at k counters, combines map-side,
    // and merges associatively. MG counter VALUES depend on merge
    // order, so the gated output exposes only the order-free theorem
    // (the q99 device): exact counts for the guaranteed-found set
    // (true_count > n/(k+1)) plus booleans that the sketch (a) found
    // each of them and (b) estimated within [true − n/(k+1), true] —
    // both TRUE for every valid MG summary regardless of merge order.
    Q("q113_heavy_hitters",
      (s, d) => {
        val toks = QH.spread(s, col("doc_id"))(t(s, d, "documents"))
          .select(explode(split(col("text"), " ")).as("tok"))
        val exact = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
        val total = exact.agg(sum(col("cnt")).as("n"))
        val sk = toks.agg(expr("graft_heavy(tok, 64)").as("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e.item").as("tok"), col("e.est").as("est"))
        exact.crossJoin(broadcast(total))
          .filter(col("cnt") > col("n") / lit(65.0d))
          .join(sk, Seq("tok"), "left")
          .select(col("tok"), col("cnt"),
            col("est").isNotNull.as("in_sketch"),
            coalesce(col("est") <= col("cnt") &&
              (col("cnt") - col("est")) <= col("n") / lit(65.0d),
              lit(false)).as("bound_ok"))
          .orderBy(col("cnt").desc, col("tok"))
      },
      Some("""
        WITH t AS (
          SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents),
        e AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
        tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM e)
        SELECT tok, cnt, TRUE AS in_sketch, TRUE AS bound_ok
        FROM e, tot WHERE cnt > n / 65.0
        ORDER BY cnt DESC, tok""")),

    // LANGID CONFUSION MATRIX — the evaluation loop for q35's
    // classifier: cross-tabulate truth (the lang column) against the
    // marker-word prediction, with each cell's contribution to its
    // truth row's recall and its prediction column's precision. The
    // corpus pass is q35's scan→project scoring plus ONE
    // (truth, pred) aggregation; the row/column totals it joins back
    // to are ≤ |langs|² cells — broadcast trivially. Ratios are single
    // IEEE divisions of exact integer counts. This is the measurement
    // that decides whether the q35 heuristic is good enough to gate
    // q33/q80-style per-language routing at scale.
    Q("q192_langid_confusion",
      (s, d) => {
        val markers = Map(
          "en" -> Seq("the", "and", "with"),
          "es" -> Seq("el", "la", "con"),
          "fr" -> Seq("le", "la", "avec"),
          "de" -> Seq("der", "und", "mit"))
        val df0 = t(s, d, "documents")
          .withColumn("words", split(col("text"), " "))
        val scored = markers.toSeq.sortBy(_._1).foldLeft(df0) {
          case (df, (lg, ws)) =>
            df.withColumn(s"s_$lg",
              expr(s"size(filter(words, w -> w IN ${inList(ws)}))"))
        }
        val cm = scored
          .withColumn("pred",
            when(col("s_en") >= greatest(col("s_es"), col("s_fr"), col("s_de")) &&
              col("s_en") > 0, lit("en"))
              .when(col("s_es") >= greatest(col("s_fr"), col("s_de")) &&
                col("s_es") > 0, lit("es"))
              .when(col("s_fr") >= col("s_de") && col("s_fr") > 0, lit("fr"))
              .when(col("s_de") > 0, lit("de"))
              .otherwise(lit("unknown")))
          .groupBy("lang", "pred").agg(count(lit(1)).as("c"))
        val truth = cm.groupBy("lang").agg(sum(col("c")).as("t"))
        val predt = cm.groupBy("pred").agg(sum(col("c")).as("pt"))
        cm.join(broadcast(truth), "lang")
          .join(broadcast(predt), "pred")
          .select(col("lang"), col("pred"), col("c"),
            round(col("c").cast("double") / col("t"), 6)
              .as("recall_contrib"),
            round(col("c").cast("double") / col("pt"), 6)
              .as("precision_contrib"))
          .orderBy("lang", "pred")
      },
      Some("""
        WITH w AS (
          SELECT doc_id, lang, STRING_SPLIT(text, ' ') AS words
          FROM documents),
        s AS (SELECT doc_id, lang,
          LEN(LIST_FILTER(words, x -> x IN ('the', 'and', 'with'))) AS s_en,
          LEN(LIST_FILTER(words, x -> x IN ('el', 'la', 'con'))) AS s_es,
          LEN(LIST_FILTER(words, x -> x IN ('le', 'la', 'avec'))) AS s_fr,
          LEN(LIST_FILTER(words, x -> x IN ('der', 'und', 'mit'))) AS s_de
        FROM w),
        p AS (SELECT doc_id, lang,
          CASE
            WHEN s_en >= GREATEST(s_es, s_fr, s_de) AND s_en > 0 THEN 'en'
            WHEN s_es >= GREATEST(s_fr, s_de) AND s_es > 0 THEN 'es'
            WHEN s_fr >= s_de AND s_fr > 0 THEN 'fr'
            WHEN s_de > 0 THEN 'de'
            ELSE 'unknown' END AS pred
          FROM s),
        cm AS (SELECT lang, pred, COUNT(*) AS c FROM p GROUP BY 1, 2),
        truth AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM cm GROUP BY 1),
        predt AS (SELECT pred, CAST(SUM(c) AS BIGINT) AS pt FROM cm GROUP BY 1)
        SELECT cm.lang, cm.pred, cm.c,
          ROUND(CAST(cm.c AS DOUBLE) / t, 6) AS recall_contrib,
          ROUND(CAST(cm.c AS DOUBLE) / pt, 6) AS precision_contrib
        FROM cm JOIN truth USING (lang) JOIN predt USING (pred)
        ORDER BY cm.lang, cm.pred""")),

    // FEATURE HASHING (the hashing trick) — the fixed-width sparse
    // featurizer that needs NO vocabulary pass: token → bucket
    // h mod 32 with sign (h div 32) mod 2, both off the portable-md5
    // integer, so feature extraction is a pure scan→explode→aggregate
    // with zero dimension tables, zero joins, and a feature space
    // whose width is a constant — the property that lets the same
    // featurizer run identically on any corpus shard with no
    // coordination. Output is the per-bucket health report: nnz,
    // colliding vocabulary, signed total (sign-cancellation is the
    // hashing trick's variance-reduction device) and absolute mass.
    Q("q194_feature_hashing",
      (s, d) => {
        val tf = t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
        tf
          .withColumn("h", expr(
            "cast(conv(substring(md5(w), 1, 13), 16, 10) as bigint)"))
          .select(col("w"),
            (col("h") % 32).cast("int").as("bucket"),
            when(expr("(h div 32) % 2") === 0, col("c"))
              .otherwise(-col("c")).as("signed_c"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("nnz"),
            countDistinct(col("w")).as("vocab_in_bucket"),
            sum(col("signed_c")).cast("long").as("total_signed"),
            sum(abs(col("signed_c"))).cast("long").as("total_mass"))
          .orderBy("bucket")
      },
      Some("""
        WITH tok AS (
          SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS w
          FROM documents),
        tf AS (SELECT doc_id, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
        hashed AS (
          SELECT w, c,
            CAST(LIST_REDUCE(
              LIST_TRANSFORM(SPLIT(SUBSTRING(MD5(w), 1, 13), ''),
                x -> CAST(POSITION(x IN '0123456789abcdef') - 1 AS BIGINT)),
              (a, x) -> a * 16 + x) AS BIGINT) AS h
          FROM tf),
        feat AS (
          SELECT w, CAST(h % 32 AS INT) AS bucket,
            CASE WHEN (h // 32) % 2 = 0 THEN c ELSE -c END AS signed_c
          FROM hashed)
        SELECT bucket, COUNT(*) AS nnz,
          COUNT(DISTINCT w) AS vocab_in_bucket,
          CAST(SUM(signed_c) AS BIGINT) AS total_signed,
          CAST(SUM(ABS(signed_c)) AS BIGINT) AS total_mass
        FROM feat GROUP BY 1 ORDER BY 1""")),

    // UNICODE NORMALIZATION — the canonicalization pass in front of
    // exact dedup / gram keys / token counts: web corpora mix
    // precomposed ("é", U+00E9) and combining-mark ("e"+U+0301)
    // encodings of identical text, which fractures every
    // byte-equality-based operator. The denormalized corpus is
    // CONSTRUCTED deterministically (every 'e' gains a combining acute
    // — same replace in both engines), then normalized back through
    // `graft_normalize` (graft.expressions.UnicodeNormalize — a native
    // codegen'd expression, NOT a UDF; mirrored by DuckDB's
    // nfc_normalize). Lengths are code-point counts in both engines;
    // `changed` proves the normalizer actually fired per document.
    Q("q208_unicode_normalize",
      (s, d) => {
        val combining = "e\u0301" // e + COMBINING ACUTE ACCENT (escape, not precomposed U+00E9)
        t(s, d, "documents")
          .select(col("doc_id"),
            regexp_replace(col("text"), "e", combining).as("t"))
          .select(col("doc_id"),
            length(col("t")).cast("long").as("n_raw"),
            length(expr("graft_normalize(t, 'NFC')")).cast("long")
              .as("n_nfc"),
            expr("graft_normalize(t, 'NFC') <> t").as("changed"))
          .orderBy("doc_id")
      },
      Some("""
        WITH dn AS (
          SELECT doc_id, replace(text, 'e', 'e' || chr(769)) AS t
          FROM documents)
        SELECT doc_id, CAST(length(t) AS BIGINT) AS n_raw,
          CAST(length(nfc_normalize(t)) AS BIGINT) AS n_nfc,
          nfc_normalize(t) <> t AS changed
        FROM dn ORDER BY doc_id""")),

    // CONTENT-DEFINED CHUNKING (graft.ops.Chunking — the FastCDC idea
    // at word granularity): boundaries fall after hash-criterion words,
    // so an edit reshapes only its own chunk (spec-verified property;
    // fixed-size chunking would shift every downstream chunk). The
    // corpus rollup is the dedup-planning number: how many chunks
    // repeat, and how many bytes a chunk-store would save. All
    // dictionary-shaped after the per-doc window — the only windows
    // partition on doc_id.
    Q("q209_cdc_chunking",
      (s, d) => {
        val ch = graft.ops.Chunking.cdcChunks(
          QH.spread(s, col("doc_id"))(t(s, d, "documents")),
          col("doc_id"), col("text"), mod = 8)
        val stats = ch.agg(
          count(lit(1)).as("n_chunks"),
          countDistinct(md5(col("chunk"))).as("n_distinct_chunks"),
          sum(length(col("chunk"))).cast("long").as("bytes_total"),
          max(col("n_words")).as("max_chunk_words"))
        val distinctBytes = ch
          .groupBy(md5(col("chunk")).as("h"))
          .agg(min(length(col("chunk"))).as("l"))
          .agg(sum(col("l")).cast("long").as("bytes_distinct"))
        stats.crossJoin(distinctBytes)
          .select(col("n_chunks"), col("n_distinct_chunks"),
            col("bytes_total"), col("bytes_distinct"),
            col("max_chunk_words"))
      },
      Some("""
        WITH ws AS (SELECT doc_id, SPLIT(text, ' ') AS words FROM documents),
        w AS (
          SELECT ws.doc_id, ws.words[i] AS w, i
          FROM ws, LATERAL (SELECT UNNEST(GENERATE_SERIES(1, LEN(ws.words))) AS i)),
        b AS (
          SELECT doc_id, w, i,
            CASE WHEN CAST(CONCAT('0x', SUBSTRING(MD5(w), 1, 8)) AS BIGINT) % 8 = 0
                 THEN 1 ELSE 0 END AS brk
          FROM w),
        c AS (
          SELECT doc_id, w, i,
            COALESCE(SUM(brk) OVER (PARTITION BY doc_id ORDER BY i
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
          FROM b),
        ch AS (
          SELECT doc_id, chunk_id, STRING_AGG(w, ' ' ORDER BY i) AS chunk,
            COUNT(*) AS n_words
          FROM c GROUP BY doc_id, chunk_id)
        SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
          CAST(COUNT(DISTINCT MD5(chunk)) AS BIGINT) AS n_distinct_chunks,
          CAST(SUM(LENGTH(chunk)) AS BIGINT) AS bytes_total,
          CAST((SELECT SUM(l) FROM
            (SELECT MIN(LENGTH(chunk)) AS l FROM ch GROUP BY MD5(chunk)))
            AS BIGINT) AS bytes_distinct,
          CAST(MAX(n_words) AS BIGINT) AS max_chunk_words
        FROM ch""")),

    // PII DETECTION & REDACTION — the cleaning op every training-data
    // pipeline runs before text ships: find personal identifiers, mask
    // them with TYPED placeholders (so downstream filters can count
    // what was removed), and prove the rewrite byte-identical across
    // engines. The corpus text is synthetic word soup, so the PII is
    // INJECTED deterministically first (doc_id-seeded email / phone /
    // IPv4 fragments on coprime moduli 3/11/7 — both engines build the
    // identical fixture row-locally). Everything is per-row regex work
    // — one scan, no shuffle except the final per-source rollup — and
    // the gate hashes an order-free md5-prefix digest of the REDACTED
    // text (the q180 device), so a single byte of redaction drift
    // anywhere in the corpus breaks the gate. Redaction order matters
    // and is pinned: emails first (the host part would otherwise
    // survive as an IP-shaped dotted token), then phones, then IPs.
    Q("q221_pii_redact",
      (s, d) => {
        val emailRe = "[a-z0-9]+@[a-z0-9.]+\\.[a-z]{2,}"
        val phoneRe = "\\b555-\\d{4}\\b"
        val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        val aug = t(s, d, "documents").select(col("doc_id"), col("source"),
          concat(col("text"),
            when(col("doc_id") % 3 === 0,
              concat(lit(" reach user"), col("doc_id").cast("string"),
                lit("@example.com now"))).otherwise(lit("")),
            when(col("doc_id") % 11 === 0,
              concat(lit(" call 555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
              .otherwise(lit("")),
            when(col("doc_id") % 7 === 0,
              concat(lit(" from 10."), (col("doc_id") % 256).cast("string"),
                lit(".0."), (col("doc_id") % 100).cast("string")))
              .otherwise(lit(""))).as("txt"))
        val det = aug.select(col("doc_id"), col("source"),
          regexp_count(col("txt"), lit(emailRe)).cast("long").as("n_email"),
          regexp_count(col("txt"), lit(phoneRe)).cast("long").as("n_phone"),
          regexp_count(col("txt"), lit(ipRe)).cast("long").as("n_ip"),
          regexp_replace(regexp_replace(regexp_replace(col("txt"),
            emailRe, "<EMAIL>"), phoneRe, "<PHONE>"), ipRe, "<IP>")
            .as("red"))
        det.select(col("source"), col("n_email"), col("n_phone"),
            col("n_ip"),
            expr("cast(conv(substring(md5(concat_ws('|', " +
              "cast(doc_id as string), red)), 1, 13), 16, 10) " +
              "as decimal(38,0))").as("f"))
          .groupBy("source")
          .agg(count(lit(1)).as("docs"),
            sum((col("n_email") + col("n_phone") + col("n_ip") > 0)
              .cast("long")).as("docs_with_pii"),
            sum("n_email").as("n_email"),
            sum("n_phone").as("n_phone"),
            sum("n_ip").as("n_ip"),
            sum(col("f")).cast("decimal(38,0)").cast("string").as("digest"))
          .orderBy("source")
      },
      Some("""
        WITH aug AS (
          SELECT doc_id, source,
            text ||
            CASE WHEN doc_id % 3 = 0 THEN ' reach user' ||
              CAST(doc_id AS VARCHAR) || '@example.com now' ELSE '' END ||
            CASE WHEN doc_id % 11 = 0 THEN ' call 555-' ||
              LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END ||
            CASE WHEN doc_id % 7 = 0 THEN ' from 10.' ||
              CAST(doc_id % 256 AS VARCHAR) || '.0.' ||
              CAST(doc_id % 100 AS VARCHAR) ELSE '' END AS txt
          FROM documents),
        det AS (
          SELECT doc_id, source,
            LEN(REGEXP_EXTRACT_ALL(txt, '[a-z0-9]+@[a-z0-9.]+\.[a-z]{2,}'))
              AS n_email,
            LEN(REGEXP_EXTRACT_ALL(txt, '\b555-\d{4}\b')) AS n_phone,
            LEN(REGEXP_EXTRACT_ALL(txt,
              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
            REGEXP_REPLACE(REGEXP_REPLACE(REGEXP_REPLACE(txt,
              '[a-z0-9]+@[a-z0-9.]+\.[a-z]{2,}', '<EMAIL>', 'g'),
              '\b555-\d{4}\b', '<PHONE>', 'g'),
              '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS red
          FROM aug),
        fp AS (
          SELECT source, n_email, n_phone, n_ip,
            LIST_REDUCE(LIST_TRANSFORM(SPLIT(SUBSTRING(MD5(
              CAST(doc_id AS VARCHAR) || '|' || red), 1, 13), ''),
              c -> CAST(POSITION(c IN '0123456789abcdef') - 1 AS HUGEINT)),
              (a, x) -> a * 16 + x) AS f
          FROM det)
        SELECT source, COUNT(*) AS docs,
          CAST(SUM(CASE WHEN n_email + n_phone + n_ip > 0
            THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
          CAST(SUM(n_email) AS BIGINT) AS n_email,
          CAST(SUM(n_phone) AS BIGINT) AS n_phone,
          CAST(SUM(n_ip) AS BIGINT) AS n_ip,
          CAST(SUM(f) AS VARCHAR) AS digest
        FROM fp GROUP BY source ORDER BY source""")),

    // HEAPS-LAW VOCABULARY GROWTH — the corpus-acquisition planning
    // curve: how many NEW types does each additional slice of corpus
    // buy? (The empirical basis for "more data vs more dedup"
    // decisions, and the datacard companion of q197.) Types are word
    // TRIGRAMS (the unigram vocabulary of this synthetic corpus
    // saturates in the first slice — trigram space is where growth
    // lives). Scale shape: NO checkpoint cross join — every document
    // and every dictionary type is assigned its first decile ROW-
    // LOCALLY ((id*10) DIV (maxid+1), the q100 bucketing device), so
    // the plan is two dictionary-shaped aggregations plus windows over
    // the bounded 10-row decile frame. The only window runs on 10
    // rows; the corpus is touched once for grams, once for lengths.
    Q("q225_heaps_vocab_growth",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val docs = t(s, d, "documents")
        val tri = docs
          .select(col("doc_id"), split(col("text"), " ").as("ws"))
          .select(col("doc_id"), explode(when(size(col("ws")) >= 3,
            expr("transform(sequence(0, size(ws) - 3), " +
              "i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
            .otherwise(expr("array()"))).as("gram"))
        val dict = tri.groupBy("gram").agg(min("doc_id").as("first_doc"))
        val mx = docs.agg(max("doc_id").as("maxid"))
        val pd = docs.crossJoin(broadcast(mx))
          .select(expr("(doc_id * 10) DIV (maxid + 1) + 1").as("bd"),
            greatest(size(split(col("text"), " ")) - 2, lit(0))
              .cast("long").as("ng"))
          .groupBy("bd").agg(count(lit(1)).as("nd"), sum("ng").as("ng"))
        val db = dict.crossJoin(broadcast(mx))
          .select(expr("(first_doc * 10) DIV (maxid + 1) + 1").as("bt"))
          .groupBy("bt").agg(count(lit(1)).as("nt"))
        val win = Window.orderBy("decile")
        s.range(1, 11).select(col("id").as("decile"))
          .join(pd, col("decile") === col("bd"), "left")
          .join(db, col("decile") === col("bt"), "left")
          .select(col("decile"),
            sum(coalesce(col("nd"), lit(0L))).over(win).as("cum_docs"),
            sum(coalesce(col("ng"), lit(0L))).over(win).as("cum_grams"),
            sum(coalesce(col("nt"), lit(0L))).over(win).as("types"),
            coalesce(col("nt"), lit(0L)).as("new_types"))
          .orderBy("decile")
      },
      Some("""
        WITH w AS (
          SELECT doc_id, ws[i + 1] AS w1, ws[i + 2] AS w2, ws[i + 3] AS w3
          FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS ws
                FROM documents),
            LATERAL (SELECT UNNEST(GENERATE_SERIES(0, LEN(ws) - 3)) AS i)),
        dict AS (
          SELECT w1 || ' ' || w2 || ' ' || w3 AS gram,
            MIN(doc_id) AS first_doc
          FROM w GROUP BY 1),
        mx AS (SELECT MAX(doc_id) AS maxid FROM documents),
        pd AS (
          SELECT (doc_id * 10) // (maxid + 1) + 1 AS b, COUNT(*) AS nd,
            CAST(SUM(GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 0))
              AS BIGINT) AS ng
          FROM documents, mx GROUP BY 1),
        db AS (
          SELECT (first_doc * 10) // (maxid + 1) + 1 AS b, COUNT(*) AS nt
          FROM dict, mx GROUP BY 1),
        cp AS (SELECT i FROM (SELECT UNNEST(GENERATE_SERIES(1, 10)) AS i))
        SELECT cp.i AS decile,
          CAST(SUM(COALESCE(pd.nd, 0)) OVER (ORDER BY cp.i) AS BIGINT)
            AS cum_docs,
          CAST(SUM(COALESCE(pd.ng, 0)) OVER (ORDER BY cp.i) AS BIGINT)
            AS cum_grams,
          CAST(SUM(COALESCE(db.nt, 0)) OVER (ORDER BY cp.i) AS BIGINT)
            AS types,
          CAST(COALESCE(db.nt, 0) AS BIGINT) AS new_types
        FROM cp LEFT JOIN pd ON pd.b = cp.i LEFT JOIN db ON db.b = cp.i
        ORDER BY decile""")),

    // MAX REPEATED N-GRAM LENGTH — the self-repetition signal q89's
    // repetition RATIO can't express: the longest word n-gram (capped
    // at 12) a document repeats verbatim, the degenerate-generation /
    // boilerplate-loop symptom corpus filters threshold on. Entirely
    // ROW-LOCAL declarative array algebra — per n, the gram list is a
    // transform over sequence offsets and duplication is fewer distinct
    // grams than the size(toks) − n + 1 grams there are — so the
    // operator is a scan→project with zero joins, zero explodes, zero
    // shuffles beyond the final sort. Repetition is monotone in n (a
    // repeated n-gram's prefix is a repeated (n−1)-gram), so the
    // when-chain probes n ascending and stops at the first n without a
    // repeat: a document builds gram lists only up to that n, not all
    // 12. Each n's list appears once in the plan (HOFs are
    // CodegenFallback, so Spark would not share a second copy), and the
    // token array is its own projection, never re-split inside a lambda
    // (the q128 lesson). The oracle rebuilds every gram with a lateral
    // series and takes the same max.
    Q("q253_max_repeated_ngram",
      (s, d) => {
        val maxN = 12
        val toks = col("__toks")
        def repeats(n: Int) = {
          val grams = expr(
            s"transform(sequence(0, size(__toks) - $n), " +
              s"i -> concat_ws(' ', slice(__toks, i + 1, $n)))")
          when(size(toks) >= n,
            size(array_distinct(grams)) < size(toks) - (n - 1))
            .otherwise(lit(false))
        }
        val maxRepN = (2 to maxN)
          .foldLeft(when(!repeats(1), lit(0))) {
            case (acc, n) => acc.when(!repeats(n), lit(n - 1))
          }
          .otherwise(lit(maxN))
        t(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("__toks"))
          .select(col("doc_id"), size(toks).cast("long").as("n_tokens"),
            maxRepN.cast("long").as("max_rep_n"))
          .orderBy("doc_id")
      },
      Some("""
        WITH w AS (
          SELECT doc_id, STRING_SPLIT(text, ' ') AS toks,
            LEN(STRING_SPLIT(text, ' ')) AS m
          FROM documents),
        g AS (
          SELECT w.doc_id, n.n,
            ARRAY_TO_STRING(w.toks[i.i + 1 : i.i + n.n], ' ') AS gram
          FROM w,
            LATERAL (SELECT UNNEST(GENERATE_SERIES(1, 12)) AS n) n,
            LATERAL (SELECT UNNEST(GENERATE_SERIES(0, w.m - n.n)) AS i) i
          WHERE w.m >= n.n),
        dup AS (
          SELECT doc_id, MAX(n) AS max_n FROM (
            SELECT doc_id, n FROM g
            GROUP BY doc_id, n, gram HAVING COUNT(*) > 1)
          GROUP BY doc_id)
        SELECT w.doc_id, CAST(w.m AS BIGINT) AS n_tokens,
          CAST(COALESCE(dup.max_n, 0) AS BIGINT) AS max_rep_n
        FROM w LEFT JOIN dup USING (doc_id)
        ORDER BY doc_id"""))
  )

  // TOKENIZER FERTILITY BY LANGUAGE — the standard multilingual
  // tokenizer-equity report (tokens per word / chars per token per
  // language): a tokenizer that fragments one language 2x more than
  // another silently halves that language's effective context window,
  // so curation pipelines gate on this table before fixing a vocab.
  // Tokens use q37's BPE-ish pre-tokenizer regex; words are
  // whitespace-split. Fertility surfaces as an exact IEEE division of
  // two BIGINT sums (bit-identical across engines — no decimal detour
  // needed). Scale shape: one linear scan, two regex counts per row,
  // one map-side-combined agg to |langs| rows.
  val fertility: Seq[Q] = Seq(
    Q("q269_token_fertility",
      (s, d) =>
        t(s, d, "documents")
          .select(col("lang"),
            expr("size(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0))")
              .cast("long").as("toks"),
            size(split(col("text"), " ")).cast("long").as("words"),
            col("n_chars"))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum("toks").as("n_tokens"),
            sum("words").as("n_words"),
            sum("n_chars").as("n_chars"))
          .select(col("lang"), col("n_docs"), col("n_tokens"),
            col("n_words"), col("n_chars"),
            (col("n_tokens").cast("double") / col("n_words").cast("double"))
              .as("fertility"),
            (col("n_chars").cast("double") / col("n_tokens").cast("double"))
              .as("chars_per_token"))
          .orderBy("lang"),
      Some("""
        WITH per AS (
          SELECT lang,
            CAST(LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
              AS BIGINT) AS toks,
            CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS words,
            n_chars
          FROM documents)
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(toks) AS BIGINT) AS n_tokens,
          CAST(SUM(words) AS BIGINT) AS n_words,
          CAST(SUM(n_chars) AS BIGINT) AS n_chars,
          CAST(SUM(toks) AS DOUBLE) / CAST(SUM(words) AS DOUBLE)
            AS fertility,
          CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(toks) AS DOUBLE)
            AS chars_per_token
        FROM per GROUP BY lang ORDER BY lang"""))
  )
}
