package graft.queries

import org.apache.spark.sql.{Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{AudioCodec, ImageCodec, MjpegAvi, Multimodal, VideoCodec}
import QH._

/** Multimodal columns: opaque binary payloads with typed metadata.
  *
  * q40/q41 are the metadata/frame-sampling access patterns; q203–q205
  * run REAL image codecs in-pipeline ([[graft.ops.ImageCodec]] — BMP
  * headers parsed byte-by-byte, PNG via the JDK codec): each query
  * synthesizes payloads from table columns with pixel content chosen to
  * be closed-form in SQL, pushes them through parquet-typed binary
  * columns, decodes them back, and the oracle independently derives
  * every scalar the decoder must reproduce — so the gate verifies the
  * full encode → binary column → parse round trip, including the
  * corrupt-payload path (q205). Embedding extraction is implemented as a
  * fixed deterministic linear encoder (q231 — the ViT patch-embedding
  * shape with a weight table in place of learned weights, so the oracle
  * stays closed-form in SQL); the SAME projection also runs with
  * EXTERNALLY LOADED weights through the `decoderSetup` seam
  * ([[graft.ops.Multimodal.loadWeightsF32LE]] +
  * [[graft.ops.Multimodal.linearImageDecoder]], gated by
  * ImageEmbeddingSpec against a committed binary checkpoint fixture).
  */
object MultimodalQueries {

  /** q240's per-JVM staging cache, keyed by sfDir (same device as
    * StreamRig.stageSlices / DedupQueries.q105Stage). */
  private val q240Stage =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private val payloadSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("payload", BinaryType, nullable = false)))

  /** Synthetic image dims from table columns (small enough that the SQL
    * oracle can afford a per-pixel GENERATE_SERIES): w∈[8,31], h∈[8,23]. */
  private def withDims(df: org.apache.spark.sql.DataFrame) = df.select(
    col("doc_id").cast("long").as("doc_id"),
    (lit(8) + pmod(col("doc_id"), lit(24))).cast("int").as("w"),
    (lit(8) + pmod(col("n_chars"), lit(16))).cast("int").as("h"))

  /** Oracle CTEs shared by q203–q205: dims from table columns, then the
    * per-document pixel sum Σ ((doc_id%256)·7 + (i%256)·13) % 256 over
    * i < 3wh via a per-pixel lateral series. */
  private val oracleDimsAndPixels =
    """d AS (
      |  SELECT doc_id, lang, 8 + doc_id % 24 AS w, 8 + n_chars % 16 AS h
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id, SUM(((d.doc_id % 256) * 7 + (i % 256) * 13) % 256) AS ps
      |  FROM d, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 3 * d.w * d.h - 1)) AS i)
      |  GROUP BY d.doc_id)""".stripMargin

  val qs: Seq[Q] = Seq(
    // Binary payload metadata: byte length + content digest (no decode).
    Q("q40_binary_meta",
      (s, d) =>
        t(s, d, "events")
          .withColumn("payload", encode(col("props"), "UTF-8"))
          .select(col("event_id"),
            octet_length(col("payload")).as("n_bytes"),
            md5(col("payload")).as("digest"),
            lower(hex(encode(substring(col("props"), 1, 8), "UTF-8")))
              .as("head_hex"))
          .orderBy("event_id"),
      Some("""
        SELECT event_id,
          CAST(OCTET_LENGTH(ENCODE(props)) AS INTEGER) AS n_bytes,
          MD5(props) AS digest,
          LOWER(HEX(ENCODE(SUBSTRING(props, 1, 8)))) AS head_hex
        FROM events ORDER BY event_id""")),

    // Frame sampling: fixed 32-byte frames, keep every 4th, digest each —
    // the video-frame-sample access pattern over an opaque binary column.
    Q("q41_frame_sample",
      (s, d) =>
        t(s, d, "documents")
          .select(col("doc_id"), col("text"),
            explode(expr(
              "sequence(0, cast(ceil(length(text) / 32.0) AS int) - 1)"))
              .as("frame_idx"))
          .filter(col("frame_idx") % 4 === 0)
          .select(col("doc_id"), col("frame_idx"),
            md5(expr("substring(text, frame_idx * 32 + 1, 32)")).as("frame_digest"))
          .orderBy("doc_id", "frame_idx"),
      Some("""
        SELECT doc_id, CAST(frame_idx AS INTEGER) AS frame_idx,
          MD5(SUBSTRING(text, CAST(frame_idx * 32 + 1 AS INTEGER), 32)) AS frame_digest
        FROM documents,
          LATERAL (SELECT UNNEST(GENERATE_SERIES(0,
            CAST(CEIL(LENGTH(text) / 32.0) AS INTEGER) - 1)) AS frame_idx)
        WHERE frame_idx % 4 = 0
        ORDER BY doc_id, frame_idx""")),

    // REAL BMP ROUND TRIP: encode a 24-bit BMP per document (full
    // little-endian headers, bottom-up padded rows), carry it through a
    // parquet-typed binary column, parse it back field-by-field, and
    // report scalar metadata + the pixel sum. The oracle re-derives all
    // of it independently — dims from the source columns, file size
    // from the BMP layout formula 54 + ((3w+3)//4*4)·h, pixel sum by
    // summing the content series — so a single mis-parsed header field
    // or swapped channel fails the hash. Scale shape: encode and decode
    // are two streaming mapPartitions passes (no payload outlives its
    // row); `spread` gives the CPU-bound encode the session's full
    // parallelism.
    Q("q203_bmp_roundtrip",
      (s, d) => {
        val dims = spread(s, col("doc_id"))(withDims(t(s, d, "documents")))
        val payloads = dims.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0); val w = r.getInt(1); val h = r.getInt(2)
            Row(id, ImageCodec.encodeBmp(w, h, ImageCodec.content(id, w, h)))
          }
        }(Encoders.row(payloadSchema))
        Multimodal.decodeImageMeta(payloads, "doc_id", "payload")
          .select(col("id").as("doc_id"), col("format"), col("width"),
            col("height"), col("n_bytes"), col("pixel_sum"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $oracleDimsAndPixels
        SELECT d.doc_id, 'bmp' AS format,
          CAST(d.w AS INTEGER) AS width, CAST(d.h AS INTEGER) AS height,
          CAST(54 + ((3 * d.w + 3) // 4) * 4 * d.h AS INTEGER) AS n_bytes,
          CAST(px.ps AS BIGINT) AS pixel_sum
        FROM d JOIN px USING (doc_id) ORDER BY d.doc_id""")),

    // REAL PNG ROUND TRIP through the JDK codec: same logical content
    // as q203, DEFLATE-compressed by ImageIO, format-detected from the
    // magic bytes and decoded back. Compressed byte length is
    // JDK-build-dependent so it is NOT in the output; the decoded
    // dims + exact pixel sum are (PNG is lossless), and a bmp/png pair
    // of the same document must produce IDENTICAL pixel stats — the
    // format-independence contract of the logical content order.
    Q("q204_png_roundtrip",
      (s, d) => {
        val dims = spread(s, col("doc_id"))(withDims(t(s, d, "documents")))
        val payloads = dims.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0); val w = r.getInt(1); val h = r.getInt(2)
            Row(id, ImageCodec.encodePng(w, h, ImageCodec.content(id, w, h)))
          }
        }(Encoders.row(payloadSchema))
        Multimodal.decodeImageMeta(payloads, "doc_id", "payload")
          .select(col("id").as("doc_id"), col("format"), col("width"),
            col("height"), col("pixel_sum"))
          .orderBy("doc_id")
      },
      Some(s"""
        WITH $oracleDimsAndPixels
        SELECT d.doc_id, 'png' AS format,
          CAST(d.w AS INTEGER) AS width, CAST(d.h AS INTEGER) AS height,
          CAST(px.ps AS BIGINT) AS pixel_sum
        FROM d JOIN px USING (doc_id) ORDER BY d.doc_id""")),

    // CORRUPT-PAYLOAD SCAN — the curation reality q203/q204 idealize:
    // a fifth of the corpus is truncated mid-header (40 of 54 header
    // bytes), another fifth isn't an image at all (0xFF filler); the
    // decoder must classify both as corrupt WITHOUT throwing (None, not
    // exceptions — a poison blob must never kill the stage) and the
    // per-language rollup aggregates bytes and pixel stats over
    // survivors only. The oracle mirrors the corruption rule and the
    // BMP size/pixel formulas case-by-case.
    Q("q205_corrupt_scan",
      (s, d) => {
        val dims = spread(s, col("doc_id"))(
          withDims(t(s, d, "documents")))
        val payloads = dims.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0); val w = r.getInt(1); val h = r.getInt(2)
            val full = ImageCodec.encodeBmp(w, h, ImageCodec.content(id, w, h))
            val payload = (id % 5) match {
              case 0 => java.util.Arrays.copyOf(full, 40) // truncated header
              case 1 => Array.fill[Byte](16)(0xFF.toByte) // not an image
              case _ => full
            }
            Row(id, payload)
          }
        }(Encoders.row(payloadSchema))
        val meta = Multimodal.decodeImageMeta(payloads, "doc_id", "payload")
        meta
          .join(t(s, d, "documents").select(col("doc_id").as("id"), col("lang")), "id")
          .groupBy("lang")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("ok").cast("long")).as("n_ok"),
            sum((!col("ok")).cast("long")).as("n_corrupt"),
            sum(col("n_bytes").cast("long")).as("bytes_total"),
            sum(col("pixel_sum")).as("pixel_sum_ok"))
          .orderBy("lang")
      },
      Some(s"""
        WITH $oracleDimsAndPixels,
        m AS (
          SELECT d.lang,
            d.doc_id % 5 NOT IN (0, 1) AS ok,
            CASE d.doc_id % 5 WHEN 0 THEN 40 WHEN 1 THEN 16
              ELSE 54 + ((3 * d.w + 3) // 4) * 4 * d.h END AS n_bytes,
            CASE WHEN d.doc_id % 5 NOT IN (0, 1)
              THEN px.ps ELSE NULL END AS pixel_sum
          FROM d JOIN px USING (doc_id))
        SELECT lang, COUNT(*) AS n_docs,
          CAST(SUM(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
          CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt,
          CAST(SUM(n_bytes) AS BIGINT) AS bytes_total,
          CAST(SUM(pixel_sum) AS BIGINT) AS pixel_sum_ok
        FROM m GROUP BY lang ORDER BY lang""")),

    // REAL WAV/PCM ROUND TRIP — the audio leg: canonical RIFF/WAVE
    // header + 16-bit mono PCM written and chunk-walk-parsed by
    // graft.ops.AudioCodec, stats all-integer (peak |sample|, energy
    // Σs², integer-division duration) so the oracle compares whole
    // numbers. Same two-streaming-pass shape as q203.
    Q("q206_wav_roundtrip",
      (s, d) => {
        val dims = spread(s, col("doc_id"))(t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(8000) + pmod(col("doc_id"), lit(3)).cast("int") * lit(4000))
            .cast("int").as("rate"),
          (lit(400) + pmod(col("n_chars"), lit(512))).cast("int").as("n")))
        val payloads = dims.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            Row(id, AudioCodec.encodeWav(r.getInt(1),
              AudioCodec.content(id, r.getInt(2))))
          }
        }(Encoders.row(payloadSchema))
        Multimodal.decodeAudioMeta(payloads, "doc_id", "payload")
          .select(col("id").as("doc_id"), col("sample_rate"),
            col("n_samples"), col("n_bytes"), col("duration_ms"),
            col("peak_abs"), col("sum_sq"))
          .orderBy("doc_id")
      },
      Some("""
        WITH d AS (SELECT doc_id, 8000 + (doc_id % 3) * 4000 AS rate,
                          400 + n_chars % 512 AS n FROM documents),
        sm AS (
          SELECT d.doc_id,
            MAX(ABS(((d.doc_id % 65536) * 11 + (i % 65536) * 17) % 65536 - 32768)) AS peak_abs,
            SUM(((((d.doc_id % 65536) * 11 + (i % 65536) * 17) % 65536 - 32768)) *
                ((((d.doc_id % 65536) * 11 + (i % 65536) * 17) % 65536 - 32768))) AS sum_sq
          FROM d, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, d.n - 1)) AS i)
          GROUP BY d.doc_id)
        SELECT d.doc_id, CAST(d.rate AS INTEGER) AS sample_rate,
          CAST(d.n AS INTEGER) AS n_samples,
          CAST(44 + 2 * d.n AS INTEGER) AS n_bytes,
          CAST(d.n * 1000 // d.rate AS BIGINT) AS duration_ms,
          CAST(sm.peak_abs AS INTEGER) AS peak_abs,
          CAST(sm.sum_sq AS BIGINT) AS sum_sq
        FROM d JOIN sm USING (doc_id) ORDER BY d.doc_id""")),

    // MIXED-MEDIA CATALOG — the heterogeneous-landing-zone pass: one
    // scan, one magic-byte-dispatched decoder (BMP / PNG / WAV), one
    // per-format rollup. `content_stat` is the per-format exact
    // integer invariant (pixel-byte sum for images, Σs² energy for
    // audio); a PNG and a BMP of the same logical content contribute
    // the SAME stat — the format-independence contract, now across
    // modalities in a single query.
    Q("q207_media_catalog",
      (s, d) => {
        val dims = spread(s, col("doc_id"))(t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(8) + pmod(col("doc_id"), lit(24))).cast("int").as("w"),
          (lit(8) + pmod(col("n_chars"), lit(16))).cast("int").as("h"),
          (lit(400) + pmod(col("n_chars"), lit(512))).cast("int").as("n")))
        val payloads = dims.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val payload = (id % 3) match {
              case 0 => ImageCodec.encodeBmp(r.getInt(1), r.getInt(2),
                ImageCodec.content(id, r.getInt(1), r.getInt(2)))
              case 1 => ImageCodec.encodePng(r.getInt(1), r.getInt(2),
                ImageCodec.content(id, r.getInt(1), r.getInt(2)))
              case _ => AudioCodec.encodeWav(8000,
                AudioCodec.content(id, r.getInt(3)))
            }
            Row(id, payload)
          }
        }(Encoders.row(payloadSchema))
        Multimodal.decodeMediaMeta(payloads, "doc_id", "payload")
          .groupBy("format")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("content_stat")).as("stat_total"))
          .orderBy("format")
      },
      Some("""
        WITH d AS (SELECT doc_id,
            CASE doc_id % 3 WHEN 0 THEN 'bmp' WHEN 1 THEN 'png' ELSE 'wav' END AS fmt,
            8 + doc_id % 24 AS w, 8 + n_chars % 16 AS h,
            400 + n_chars % 512 AS n FROM documents),
        st AS (
          SELECT d.doc_id, d.fmt,
            CASE WHEN d.fmt = 'wav' THEN
              (SELECT SUM((((d.doc_id % 65536) * 11 + (i % 65536) * 17) % 65536 - 32768) *
                          (((d.doc_id % 65536) * 11 + (i % 65536) * 17) % 65536 - 32768))
               FROM (SELECT UNNEST(GENERATE_SERIES(0, d.n - 1)) AS i))
            ELSE
              (SELECT SUM(((d.doc_id % 256) * 7 + (i % 256) * 13) % 256)
               FROM (SELECT UNNEST(GENERATE_SERIES(0, 3 * d.w * d.h - 1)) AS i))
            END AS stat
          FROM d)
        SELECT fmt AS format, COUNT(*) AS n_docs,
          CAST(SUM(stat) AS BIGINT) AS stat_total
        FROM st GROUP BY fmt ORDER BY fmt""")),

    // IMAGE NEAR-DUPLICATE DETECTION BY PERCEPTUAL HASH — the visual
    // twin of MinHash text dedup, and the query that makes the codec
    // surface earn its keep: every image is REALLY encoded (24-bit BMP,
    // group-seeded content + one per-doc perturbed byte so groups form
    // genuine near-dup families), carried through a binary column,
    // REALLY decoded, and reduced to a 64-bit dHash — 18×16 pixels →
    // 9×8 grid of 2×2-cell brightness SUMS (sums, not means: comparing
    // sums of equal-size cells is the same order, and stays integer-
    // exact), one bit per horizontally-adjacent cell comparison. The
    // hash is born as FOUR 16-bit bands: Hamming ≤ 3 can disturb at
    // most 3 of them, so band-equality candidate generation is an
    // EXACT pigeonhole (the q29/q92 SimHash device) — candidates come
    // from an equi join, never an all-pairs scan, and positive 16-bit
    // band values sidestep every engine's 64-bit shift/sign pitfall.
    // Exact Hamming (sum of four bit_count(xor)) then filters
    // candidates; the gate pins the full (group × group × distance)
    // pair-count distribution, where near-seeded groups surface as
    // genuine cross-family perceptual collisions. The oracle rebuilds
    // pixels → cells → bits → bands closed-form in SQL.
    Q("q224_phash_neardup",
      (s, d) => {
        val W = 18; val H = 16; val N = 3 * W * H
        // class space scales with the corpus (density anchor: 12
        // classes at the 5000-doc reference) — a fixed class count
        // means duplication DENSITY stays constant as the corpus
        // grows, i.e. candidate pairs grow QUADRATICALLY, a workload
        // no real 10× corpus has (a real corpus gains mostly NEW
        // images, constant dups per doc). Below the anchor the count
        // is unchanged, so sf0.01/sf0.1 results are bit-identical.
        val classes = math.max(12L,
          t(s, d, "documents").count() * 12L / 5000L)
        val docs = spread(s, col("doc_id"))(
          t(s, d, "documents")
            .select(col("doc_id").cast("long").as("doc_id")))
        val payloads = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val arr = ImageCodec.content(id % classes, W, H)
            val p = ((id * 37) % N).toInt
            arr(p) = (((arr(p) & 0xFF) + (id % 200) + 17) % 256).toByte
            Row(id, ImageCodec.encodeBmp(W, H, arr))
          }
        }(Encoders.row(payloadSchema))
        val hashSchema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("g", LongType, nullable = false),
          StructField("h0", LongType, nullable = false),
          StructField("h1", LongType, nullable = false),
          StructField("h2", LongType, nullable = false),
          StructField("h3", LongType, nullable = false)))
        val hashed = payloads.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val dec = ImageCodec.decode(r.getAs[Array[Byte]](1)).get
            val bands = ImageCodec.dHashBands(dec)
            Row(id, id % classes, bands(0), bands(1), bands(2), bands(3))
          }
        }(Encoders.row(hashSchema))
        val bands = hashed.select(col("doc_id"), col("g"), col("h0"),
          col("h1"), col("h2"), col("h3"),
          posexplode(array(col("h0"), col("h1"), col("h2"), col("h3"))))
          .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
        // Candidate dedup WITHOUT a shuffle: a pair matching in k bands
        // comes out of the band join k times, and the classic fix —
        // dropDuplicates(da, db) — is a full exchange of the candidate
        // pair set, the single most expensive shuffle in the query (at
        // 10× data that set is tens of millions of rows; round-13 sweep
        // put q224 at 11.9×, with this exchange the residual). The
        // LOWEST-MATCHING-BAND rule replaces it with a map-side filter:
        // keep a join hit only if no EARLIER band also matched — both
        // sides carry all four band values, so "earlier band differs"
        // is a row-local predicate, and each qualifying pair survives
        // exactly once (at its first matching band). Same pair set as
        // DISTINCT, zero extra exchanges; the only remaining shuffles
        // are the band join's linear 4-rows-per-doc exchange and the
        // metadata-sized group-count aggregation.
        val firstMatch = col("a.band") === 0 ||
          (col("a.band") === 1 && col("a.h0") =!= col("b.h0")) ||
          (col("a.band") === 2 && col("a.h0") =!= col("b.h0") &&
            col("a.h1") =!= col("b.h1")) ||
          (col("a.band") === 3 && col("a.h0") =!= col("b.h0") &&
            col("a.h1") =!= col("b.h1") && col("a.h2") =!= col("b.h2"))
        val cand = bands.alias("a").join(bands.alias("b"),
            col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
              && col("a.doc_id") < col("b.doc_id"))
          .filter(firstMatch)
          .select(col("a.g").as("ga"), col("b.g").as("gb"),
            (bit_count(col("a.h0").bitwiseXOR(col("b.h0"))) +
              bit_count(col("a.h1").bitwiseXOR(col("b.h1"))) +
              bit_count(col("a.h2").bitwiseXOR(col("b.h2"))) +
              bit_count(col("a.h3").bitwiseXOR(col("b.h3"))))
              .cast("long").as("hamming"))
        cand.filter(col("hamming") <= 3)
          .groupBy("ga", "gb", "hamming")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("ga", "gb", "hamming")
      },
      Some("""
        WITH doc AS (
          SELECT doc_id,
            doc_id % (SELECT GREATEST(12, COUNT(*) * 12 // 5000)
                      FROM documents) AS g,
            (doc_id * 37) % 864 AS p,
            (doc_id % 200) + 17 AS delta
          FROM documents),
        ch AS (
          SELECT doc_id, g,
            CASE WHEN i = p
              THEN ((g*7 + (i%256)*13) % 256 + delta) % 256
              ELSE (g*7 + (i%256)*13) % 256 END AS v,
            (i // 3) // 18 AS y, (i // 3) % 18 AS x
          FROM doc, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 863)) AS i)),
        cell AS (
          SELECT doc_id, g, y // 2 AS r, x // 2 AS c, SUM(v) AS s
          FROM ch GROUP BY 1, 2, 3, 4),
        bits AS (
          SELECT l.doc_id, l.g, l.r, l.c,
            CASE WHEN l.s < rr.s THEN 1 ELSE 0 END AS b
          FROM cell l JOIN cell rr ON rr.doc_id = l.doc_id
            AND rr.r = l.r AND rr.c = l.c + 1
          WHERE l.c < 8),
        bands AS (
          SELECT doc_id, g, r // 2 AS band,
            CAST(SUM(b * (1 << (8 * (r % 2) + c))) AS BIGINT) AS bv
          FROM bits GROUP BY 1, 2, 3),
        hv AS (
          SELECT doc_id, g,
            MAX(CASE WHEN band = 0 THEN bv END) AS h0,
            MAX(CASE WHEN band = 1 THEN bv END) AS h1,
            MAX(CASE WHEN band = 2 THEN bv END) AS h2,
            MAX(CASE WHEN band = 3 THEN bv END) AS h3
          FROM bands GROUP BY 1, 2),
        cand AS (
          SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
            AND a.doc_id < b.doc_id),
        ham AS (
          SELECT x.g AS ga, y.g AS gb,
            BIT_COUNT(XOR(x.h0, y.h0)) + BIT_COUNT(XOR(x.h1, y.h1)) +
            BIT_COUNT(XOR(x.h2, y.h2)) + BIT_COUNT(XOR(x.h3, y.h3))
              AS hamming
          FROM cand c JOIN hv x ON x.doc_id = c.da
            JOIN hv y ON y.doc_id = c.db)
        SELECT ga, gb, CAST(hamming AS BIGINT) AS hamming,
          COUNT(*) AS n_pairs
        FROM ham WHERE hamming <= 3
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")),

    // AUDIO ACTIVITY SEGMENTATION — the voice-activity-detection shape:
    // real WAVs (quadratic-phase test tone — the q206 linear sawtooth
    // has near-constant window energy and almost no zero crossings, so
    // segmentation over it is vacuous) are decoded back to samples,
    // reduced per 64-sample window to an integer energy (Σ|s|), and the
    // active windows (e > 1.05e6, ≈ the signal's median) are run-
    // length-grouped into segments with the gaps-and-islands device
    // (w − row_number over the per-doc window order — audio's
    // sessionization). Per clip: windows, active windows, segment
    // count, longest run, and the zero-crossing count from the decode
    // pass. The decode emits one row per WINDOW (≤ n/64 per clip),
    // never per sample — the frame Spark sees is 64× smaller than the
    // audio; the oracle pays the per-sample series to prove it.
    Q("q226_audio_activity",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val dims = spread(s, col("doc_id"))(t(s, d, "documents").select(
          col("doc_id").cast("long").as("doc_id"),
          (lit(400) + pmod(col("n_chars"), lit(512))).cast("int").as("n")))
        val payloads = dims.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0); val n = r.getInt(1)
            val smp = new Array[Short](n)
            var i = 0
            while (i < n) {
              smp(i) = ((((id % 65536) * 11 +
                ((i.toLong * i) % 65536) * 17) % 65536) - 32768).toShort
              i += 1
            }
            Row(id, AudioCodec.encodeWav(8000, smp))
          }
        }(Encoders.row(payloadSchema))
        val winSchema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("w", LongType, nullable = false),
          StructField("e", LongType, nullable = false),
          StructField("zcr", LongType, nullable = false)))
        val wins = payloads.mapPartitions { rows =>
          rows.flatMap { r =>
            val id = r.getLong(0)
            val dec = AudioCodec.decodeWav(r.getAs[Array[Byte]](1)).get
            val smp = dec.samples
            var zcr = 0L
            var i = 1
            while (i < smp.length) {
              if (smp(i - 1).toLong * smp(i) < 0) zcr += 1
              i += 1
            }
            (0 until smp.length / 64).map { w =>
              var e = 0L
              var j = w * 64
              while (j < (w + 1) * 64) { e += math.abs(smp(j).toLong); j += 1 }
              Row(id, w.toLong, e, zcr)
            }
          }
        }(Encoders.row(winSchema))
        val act = wins.withColumn("active",
          (col("e") > 1050000L).cast("long"))
        val agg = act.groupBy("doc_id").agg(
          count(lit(1)).as("n_windows"), sum("active").as("n_active"),
          first("zcr").as("zcr"))
        val isl = act.filter(col("active") === 1)
          .withColumn("grp", col("w") - row_number()
            .over(Window.partitionBy("doc_id").orderBy("w")))
        val seg = isl.groupBy("doc_id", "grp")
          .agg(count(lit(1)).as("len"))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_segments"), max("len").as("longest_run"))
        agg.join(seg, Seq("doc_id"), "left")
          .select(col("doc_id"), col("n_windows"), col("n_active"),
            coalesce(col("n_segments"), lit(0L)).as("n_segments"),
            coalesce(col("longest_run"), lit(0L)).as("longest_run"),
            col("zcr"))
          .orderBy("doc_id")
      },
      Some("""
        WITH d AS (SELECT doc_id, 400 + n_chars % 512 AS n FROM documents),
        sm AS (
          SELECT d.doc_id, i,
            ((d.doc_id % 65536) * 11 + ((i * i) % 65536) * 17) % 65536
              - 32768 AS s
          FROM d, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, d.n - 1)) AS i)),
        zc AS (
          SELECT doc_id,
            CAST(SUM(CASE WHEN s * prev < 0 THEN 1 ELSE 0 END) AS BIGINT)
              AS zcr
          FROM (SELECT doc_id, s,
                  LAG(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
                FROM sm)
          GROUP BY doc_id),
        w AS (
          SELECT doc_id, i // 64 AS w, SUM(ABS(s)) AS e, COUNT(*) AS cnt
          FROM sm GROUP BY 1, 2),
        act AS (
          SELECT doc_id, w, CASE WHEN e > 1050000 THEN 1 ELSE 0 END AS active
          FROM w WHERE cnt = 64),
        isl AS (
          SELECT doc_id,
            w - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY w) AS grp
          FROM act WHERE active = 1),
        seg AS (
          SELECT doc_id, COUNT(*) AS n_segments, MAX(len) AS longest_run
          FROM (SELECT doc_id, grp, COUNT(*) AS len FROM isl GROUP BY 1, 2)
          GROUP BY doc_id),
        agg AS (
          SELECT doc_id, COUNT(*) AS n_windows,
            CAST(SUM(active) AS BIGINT) AS n_active
          FROM act GROUP BY doc_id)
        SELECT a.doc_id, a.n_windows, a.n_active,
          CAST(COALESCE(s.n_segments, 0) AS BIGINT) AS n_segments,
          CAST(COALESCE(s.longest_run, 0) AS BIGINT) AS longest_run,
          z.zcr
        FROM agg a LEFT JOIN seg s USING (doc_id) JOIN zc z USING (doc_id)
        ORDER BY a.doc_id""")),

    // IMAGE → EMBEDDING EXTRACTION + RETRIEVAL — the last multimodal
    // seam made real: decoded pixels project through a FIXED linear
    // encoder (weight(i,j) = ((i·(j+3)) mod 11) − 5 — the exact shape
    // of a ViT patch-embedding layer with a deterministic weight table
    // instead of learned weights; swapping in trained weights is a
    // constant-table change, not a pipeline change) into an 8-dim
    // integer embedding, and retrieval runs over the EXTRACTED
    // embeddings: per query image, top-3 neighbors by exact integer
    // dot product (zip_with + aggregate — codegen'd, no UDF). The
    // q224 near-dup fixture means the gate also checks retrieval
    // QUALITY structurally: a query's top neighbors are its content
    // family. Decode+project is one streaming mapPartitions pass; the
    // payload never outlives its row and Spark only ever shuffles
    // 8-long embeddings, never pixels.
    Q("q231_image_embedding",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val W = 18; val H = 16; val N = 3 * W * H
        val docs = spread(s, col("doc_id"))(
          t(s, d, "documents")
            .select(col("doc_id").cast("long").as("doc_id")))
        val payloads = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val arr = ImageCodec.content(id % 12, W, H)
            val p = ((id * 37) % N).toInt
            arr(p) = (((arr(p) & 0xFF) + (id % 200) + 17) % 256).toByte
            Row(id, ImageCodec.encodeBmp(W, H, arr))
          }
        }(Encoders.row(payloadSchema))
        val embSchema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("emb", ArrayType(LongType, containsNull = false),
            nullable = false)))
        val embDf = payloads.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val dec = ImageCodec.decode(r.getAs[Array[Byte]](1)).get
            Row(id, ImageCodec.linearEmbedding(dec).toSeq)
          }
        }(Encoders.row(embSchema))
        val queries = embDf.filter(col("doc_id") < 10)
          .select(col("doc_id").as("query_id"), col("emb").as("qe"))
        embDf.crossJoin(broadcast(queries))
          .filter(col("doc_id") =!= col("query_id"))
          .select(col("query_id"), col("doc_id").as("neighbor_id"),
            expr("aggregate(zip_with(qe, emb, (x, y) -> x * y), 0L, " +
              "(a, x) -> a + x)").as("dot"))
          .withColumn("rk", row_number().over(Window.partitionBy("query_id")
            .orderBy(col("dot").desc, col("neighbor_id"))).cast("long"))
          .filter(col("rk") <= 3)
          .select(col("query_id"), col("rk"), col("neighbor_id"), col("dot"))
          .orderBy("query_id", "rk")
      },
      Some("""
        WITH doc AS (
          SELECT doc_id,
            doc_id % (SELECT GREATEST(12, COUNT(*) * 12 // 5000)
                      FROM documents) AS g,
            (doc_id * 37) % 864 AS p,
            (doc_id % 200) + 17 AS delta
          FROM documents),
        ch AS (
          SELECT doc_id, i,
            CASE WHEN i = p
              THEN ((g*7 + (i%256)*13) % 256 + delta) % 256
              ELSE (g*7 + (i%256)*13) % 256 END AS v
          FROM doc, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 863)) AS i)),
        emb AS (
          SELECT doc_id, j,
            CAST(SUM(v * (((i * (j + 3)) % 11) - 5)) AS BIGINT) AS e
          FROM ch, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 7)) AS j)
          GROUP BY doc_id, j),
        dots AS (
          SELECT q.doc_id AS query_id, d.doc_id AS neighbor_id,
            CAST(SUM(q.e * d.e) AS BIGINT) AS dot
          FROM emb q JOIN emb d ON q.j = d.j AND q.doc_id < 10
            AND d.doc_id <> q.doc_id
          GROUP BY 1, 2),
        ranked AS (
          SELECT query_id, neighbor_id, dot,
            ROW_NUMBER() OVER (PARTITION BY query_id
              ORDER BY dot DESC, neighbor_id) AS rk
          FROM dots)
        SELECT query_id, CAST(rk AS BIGINT) AS rk, neighbor_id, dot
        FROM ranked WHERE rk <= 3 ORDER BY query_id, rk""")),

    // VIDEO FRAME-SAMPLE + KEYFRAME/SCENE DETECTION — the last
    // multimodal leg (decode / feature-extract / resize / frame-sample):
    // a REAL raw-video container (ops/VideoCodec "GVID": header +
    // concatenated 24-bit RGB frames, strict 64-bit-bounds parse) is
    // encoded per document, pushed through a binary column, decoded
    // back, and the engine runs the temporal ops a video curation
    // pipeline needs — stride sampling (every 4th frame) and
    // scene-change keyframes by consecutive-frame L1 distance, which
    // doubles as temporal dedup (consecutive near-identical frames
    // collapse onto their scene's keyframe). Content is closed-form:
    // doc d has F = 6 + d%7 frames of 16×12; docs with d%5 = 0 are
    // single-scene (every frame identical); all others cut to a second
    // scene at frame f0 = 1 + d%(F−1). The oracle re-derives frame
    // pixel sums from the content formula and the keyframe/sample
    // counts from the scene structure.
    Q("q234_video_keyframes",
      (s, d) => {
        val W = 16; val H = 12
        val docs = spread(s, col("doc_id"))(
          t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id")))
        val payloads = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val f = (6 + id % 7).toInt
            val f0 = (1 + id % (f - 1)).toInt
            val seedA = id % 50
            val seedB = if (id % 5 == 0) seedA else seedA + 1
            val sceneA = ImageCodec.content(seedA, W, H)
            val sceneB = ImageCodec.content(seedB, W, H)
            val frames = (0 until f).map(i => if (i < f0) sceneA else sceneB)
            Row(id, VideoCodec.encode(W, H, 24, frames))
          }
        }(Encoders.row(payloadSchema))
        val outSchema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("n_frames", LongType, nullable = false),
          StructField("n_keyframes", LongType, nullable = false),
          StructField("scene_frame", LongType, nullable = true),
          StructField("pixel_sum_first", LongType, nullable = false),
          StructField("pixel_sum_last", LongType, nullable = false),
          StructField("n_sampled", LongType, nullable = false)))
        payloads.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val v = VideoCodec.decode(r.getAs[Array[Byte]](1)).get
            val kf = VideoCodec.keyframes(v, minDiff = 1L)
            Row(id, v.nFrames.toLong, kf.length.toLong,
              if (kf.length > 1) kf(1).toLong else null,
              VideoCodec.frameSum(v, 0),
              VideoCodec.frameSum(v, v.nFrames - 1),
              VideoCodec.sampleIndices(v.nFrames, 4).length.toLong)
          }
        }(Encoders.row(outSchema)).orderBy("doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, doc_id % 50 AS sa, 6 + doc_id % 7 AS f,
            1 + doc_id % (5 + doc_id % 7) AS f0,
            doc_id % 5 = 0 AS single_scene
          FROM documents),
        seeds AS (
          SELECT DISTINCT sa AS seed FROM d
          UNION SELECT DISTINCT sa + 1 FROM d),
        ps AS (
          SELECT seed,
            SUM(((seed % 256) * 7 + (i % 256) * 13) % 256) AS s
          FROM seeds, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 575)) AS i)
          GROUP BY seed)
        SELECT d.doc_id, CAST(d.f AS BIGINT) AS n_frames,
          CAST(CASE WHEN d.single_scene THEN 1 ELSE 2 END AS BIGINT)
            AS n_keyframes,
          CASE WHEN d.single_scene THEN NULL
            ELSE CAST(d.f0 AS BIGINT) END AS scene_frame,
          CAST(pa.s AS BIGINT) AS pixel_sum_first,
          CAST(CASE WHEN d.single_scene THEN pa.s ELSE pb.s END AS BIGINT)
            AS pixel_sum_last,
          CAST((d.f + 3) // 4 AS BIGINT) AS n_sampled
        FROM d
          JOIN ps pa ON pa.seed = d.sa
          JOIN ps pb ON pb.seed = d.sa + 1
        ORDER BY d.doc_id""")),

    // VIDEO-LEVEL DEDUP — the full video-curation composition: decode
    // container → extract scene KEYFRAMES (q234's temporal reduction)
    // → per-keyframe perceptual dHash born as 4 LSH bands (q224's
    // device) → band equi self-join generates candidate keyframe pairs
    // (never all-pairs) → EXACT content-digest verification → videos
    // sharing identical scenes pair up. Output is the shared-scene
    // histogram (n_pairs per shared-scene count), which stays
    // metadata-sized at any corpus scale while the intermediate pair
    // frame scales with true duplication. Scene content comes from
    // MjpegAvi.blockContent's 16-BIT vocabulary with q238's bounded
    // duplicate TRIPLES (g = id/3 shares scenes): the round-14 sf10
    // probe measured the old fixed 400-seed space (256 effective
    // classes through ImageCodec.content's mod-256 pixel formula)
    // re-quadratizing candidate pairs one decade past the sf1 fix —
    // same-scene cluster size must stay BOUNDED while the scene space
    // grows with the corpus, or the band join is all-pairs in
    // disguise. Seeds are injective into frame bytes (MjpegAviSpec
    // pins blockContent's band mapping; distinct seeds differ in every
    // band), so same MD5 digest ⟺ same seed and the oracle re-derives
    // the pair histogram purely from seed arithmetic.
    Q("q236_video_scene_dedup",
      (s, d) => {
        val W = 36; val H = 32
        val docs = spread(s, col("doc_id"))(
          t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id")))
        val payloads = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val f = (4 + id % 4).toInt
            val f0 = (1 + id % (f - 1)).toInt
            val g = id / 3
            val sA = ((g * 40503L) % 65536L).toInt
            val sB = ((g * 40503L + 32768L) % 65536L).toInt
            val single = id % 3 == 0
            val sceneA = MjpegAvi.blockContent(W, H, sA)
            val sceneB =
              if (single) sceneA else MjpegAvi.blockContent(W, H, sB)
            val frames = (0 until f).map(i => if (i < f0) sceneA else sceneB)
            Row(id, VideoCodec.encode(W, H, 24, frames))
          }
        }(Encoders.row(payloadSchema))
        val kfSchema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("b0", LongType, nullable = false),
          StructField("b1", LongType, nullable = false),
          StructField("b2", LongType, nullable = false),
          StructField("b3", LongType, nullable = false),
          StructField("digest", StringType, nullable = false)))
        val kf = payloads.mapPartitions { rows =>
          // one digest instance per PARTITION (digest() resets it) — a
          // per-keyframe getInstance would do a synchronized JCA
          // provider lookup per row in the hot decode loop
          val md = java.security.MessageDigest.getInstance("MD5")
          rows.flatMap { r =>
            val id = r.getLong(0)
            val v = VideoCodec.decode(r.getAs[Array[Byte]](1)).get
            VideoCodec.keyframes(v, minDiff = 1L).map { f =>
              val frame = java.util.Arrays.copyOfRange(
                v.data, f * v.frameLen, (f + 1) * v.frameLen)
              val small = ImageCodec.resizeNearest(
                ImageCodec.Decoded("raw", v.width, v.height, frame), 18, 16)
              val bands = ImageCodec.dHashBands(small)
              Row(id, bands(0), bands(1), bands(2), bands(3),
                md.digest(frame).map("%02x".format(_)).mkString)
            }
          }
        }(Encoders.row(kfSchema)).cache()
        val bands = kf.select(col("doc_id"), col("digest"),
          posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
          .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
        // exact verify + band-0 dedup: a digest-equal pair has ALL four
        // bands equal, so it surfaces from the band join exactly four
        // times and keeping only the band-0 hit is a complete, shuffle-
        // free dedup (the q224 lowest-band device degenerated to its
        // exact-match case); one keyframe per scene per doc makes the
        // per-pair row count the shared-scene count directly
        val shared = bands.alias("a").join(bands.alias("b"),
            col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
              && col("a.doc_id") < col("b.doc_id"))
          .filter(col("a.digest") === col("b.digest") && col("a.band") === 0)
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_shared"))
        shared.groupBy("n_shared")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("n_shared")
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            ((doc_id // 3) * 40503) % 65536 AS sa,
            ((doc_id // 3) * 40503 + 32768) % 65536 AS sb,
            doc_id % 3 = 0 AS single_scene
          FROM documents),
        scenes AS (
          SELECT DISTINCT doc_id, seed
          FROM (
            SELECT doc_id, sa AS seed FROM d
            UNION ALL
            SELECT doc_id, sb AS seed FROM d WHERE NOT single_scene)),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            COUNT(DISTINCT a.seed) AS n_shared
          FROM scenes a JOIN scenes b
            ON a.seed = b.seed AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT CAST(n_shared AS BIGINT) AS n_shared,
          COUNT(*) AS n_pairs
        FROM pairs GROUP BY 1 ORDER BY 1""")),

    // REAL-CODEC video keyframes — q234's pipeline over an actual
    // standard container and an actual lossy codec: MJPEG inside AVI
    // (ops/MjpegAvi — RIFF hdrl/movi/idx1 mux + strict demux, frames
    // JPEG-compressed by the JDK ImageIO codec; what ffmpeg's
    // `-c:v mjpeg out.avi` and webcams produce). Scenes are SOLID
    // grays 80 levels apart because that is what makes a LOSSY gate
    // honest: a solid frame is DC-only, so JPEG reproduces it
    // near-exactly (measured error 0 at q0.85), within-scene
    // consecutive frames encode to identical bytes (L1 = 0 decoded)
    // and a scene cut decodes to ~80·frameLen — the keyframe
    // threshold (16·frameLen) sits mid-gap with 5× margin on either
    // side. gray_first/gray_last quantize the decoded mean to the
    // nearest 16 (content grays are multiples of 16), proving the
    // demux→JPEG-decode path reproduces PIXELS, not just structure;
    // fps gates the strh rate/scale parse. The oracle re-derives
    // everything from the generating formula.
    Q("q237_mjpeg_keyframes",
      (s, d) => {
        val W = 48; val H = 32
        val docs = spread(s, col("doc_id"))(
          t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id")))
        val payloads = docs.mapPartitions { rows =>
          // synthesis cache: the payload depends on id only through
          // (f, f0, gA, fps, single) — ≤ 5·7·7·3·2 combos — while JPEG
          // encoding is ~1 ms/frame; without the cache the TEST-RIG
          // synthesis (not the decode path under test, which still
          // runs per document) dominates the query at 10⁵ docs
          val cache = scala.collection.mutable
            .HashMap.empty[(Int, Int, Int, Int, Boolean), Array[Byte]]
          rows.map { r =>
            val id = r.getLong(0)
            val f = (4 + id % 5).toInt
            val f0 = (1 + id % (f - 1)).toInt
            val gA = (32 + (id % 7) * 16).toInt
            val gB = gA + 80
            val fps = (12 + (id % 3) * 6).toInt
            val single = id % 5 == 0
            val payload = cache.getOrElseUpdate((f, f0, gA, fps, single), {
              def solid(g: Int) = Array.fill(W * H * 3)(g.toByte)
              val sceneA = solid(gA)
              val sceneB = if (single) sceneA else solid(gB)
              val frames = (0 until f).map(i => if (i < f0) sceneA else sceneB)
              MjpegAvi.encode(W, H, fps, frames)
            })
            Row(id, payload)
          }
        }(Encoders.row(payloadSchema))
        val outSchema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("fps", LongType, nullable = false),
          StructField("n_frames", LongType, nullable = false),
          StructField("n_keyframes", LongType, nullable = false),
          StructField("scene_frame", LongType, nullable = true),
          StructField("n_sampled", LongType, nullable = false),
          StructField("gray_first", LongType, nullable = false),
          StructField("gray_last", LongType, nullable = false)))
        payloads.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val v = MjpegAvi.decode(r.getAs[Array[Byte]](1)).get
            val len = v.frameLen.toLong
            val kf = VideoCodec.keyframes(v, minDiff = 16L * len)
            def gray16(f: Int): Long =
              (VideoCodec.frameSum(v, f) + 8 * len) / (16 * len) * 16
            Row(id, v.fps.toLong, v.nFrames.toLong, kf.length.toLong,
              if (kf.length > 1) kf(1).toLong else null,
              VideoCodec.sampleIndices(v.nFrames, 3).length.toLong,
              gray16(0), gray16(v.nFrames - 1))
          }
        }(Encoders.row(outSchema)).orderBy("doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, 4 + doc_id % 5 AS f,
            1 + doc_id % (3 + doc_id % 5) AS f0,
            doc_id % 5 = 0 AS single_scene,
            32 + (doc_id % 7) * 16 AS ga,
            12 + (doc_id % 3) * 6 AS fps
          FROM documents)
        SELECT doc_id, CAST(fps AS BIGINT) AS fps,
          CAST(f AS BIGINT) AS n_frames,
          CAST(CASE WHEN single_scene THEN 1 ELSE 2 END AS BIGINT)
            AS n_keyframes,
          CASE WHEN single_scene THEN NULL
            ELSE CAST(f0 AS BIGINT) END AS scene_frame,
          CAST((f + 2) // 3 AS BIGINT) AS n_sampled,
          CAST(ga AS BIGINT) AS gray_first,
          CAST(CASE WHEN single_scene THEN ga ELSE ga + 80 END AS BIGINT)
            AS gray_last
        FROM d ORDER BY doc_id""")),

    // LOSSY-PATH video scene dedup — q236's composition with the exact
    // raw container swapped for real MJPEG/AVI, which forces the one
    // semantic change the lossy path demands: the verify stage is
    // PERCEPTUAL (dHash Hamming distance ≤ 3 over the decoded,
    // resized keyframe), not an exact content digest — two videos of
    // the same scene do not share bytes once a per-doc watermark (a
    // +(id%9) corner block, amplitude ≤ 8) rides on the JPEG noise.
    // Scene content is MjpegAvi.blockContent over a 16-BIT vocabulary
    // that the duplicate structure respects: docs come in triples
    // (g = id/3) sharing scenes, so duplicate-cluster size is BOUNDED
    // and candidate pairs stay LINEAR in corpus size — the shape a
    // real growing corpus has (mostly new scenes, constant dups per
    // doc). An 8-bit vocabulary here made classes grow linearly and
    // pairs quadratically: the sf1 sweep measured that cliff at 23×.
    // At real scale the vocabulary is the full 64-bit hash space —
    // 16 bits is this corpus's proven-JPEG-stable slice (the odd
    // multiplier is a bijection mod 2^16, and the +32768 offset's
    // cross-group alias needs g-distance exactly 32768, beyond these
    // scale factors). blockContent's dHash equals the seed's
    // closed-form band mapping — verified across seeds in
    // MjpegAviSpec — with distinct seeds ≥ Hamming 4 and every band
    // carrying all 16 bits, so the 4×16-bit band equi self-join is
    // exact candidate generation (never all-pairs) and ≤3 separates
    // cleanly; the oracle reasons purely in seed arithmetic.
    Q("q238_mjpeg_scene_dedup",
      (s, d) => {
        val W = 36; val H = 32
        val docs = spread(s, col("doc_id"))(
          t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id")))
        val payloads = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val f = (3 + id % 3).toInt
            val f0 = (1 + id % (f - 1)).toInt
            val g = id / 3
            val sA = ((g * 40503L) % 65536L).toInt
            val sB = ((g * 40503L + 32768L) % 65536L).toInt
            val single = id % 3 == 0
            def scene(seed: Int): Array[Byte] = {
              val c = MjpegAvi.blockContent(W, H, seed)
              val amp = (id % 9).toInt // per-doc watermark, 0..8
              var y = 28
              while (y < 32) {
                var x = 32
                while (x < 36) {
                  val p = (y * W + x) * 3
                  var k = 0
                  while (k < 3) {
                    c(p + k) = math.min(255, (c(p + k) & 0xFF) + amp).toByte
                    k += 1
                  }
                  x += 1
                }
                y += 1
              }
              c
            }
            val sceneA = scene(sA)
            val sceneB = if (single) sceneA else scene(sB)
            val frames = (0 until f).map(i => if (i < f0) sceneA else sceneB)
            Row(id, MjpegAvi.encode(W, H, 12, frames))
          }
        }(Encoders.row(payloadSchema))
        val kfSchema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("b0", LongType, nullable = false),
          StructField("b1", LongType, nullable = false),
          StructField("b2", LongType, nullable = false),
          StructField("b3", LongType, nullable = false)))
        val kf = payloads.mapPartitions { rows =>
          rows.flatMap { r =>
            val id = r.getLong(0)
            val v = MjpegAvi.decode(r.getAs[Array[Byte]](1)).get
            VideoCodec.keyframes(v, minDiff = 5000L).map { f =>
              val frame = java.util.Arrays.copyOfRange(
                v.data, f * v.frameLen, (f + 1) * v.frameLen)
              val small = ImageCodec.resizeNearest(
                ImageCodec.Decoded("jpeg", v.width, v.height, frame), 18, 16)
              val bands = ImageCodec.dHashBands(small)
              Row(id, bands(0), bands(1), bands(2), bands(3))
            }
          }
        }(Encoders.row(kfSchema)).cache()
        val bands = kf.select(col("doc_id"),
          col("b0"), col("b1"), col("b2"), col("b3"),
          posexplode(array(col("b0"), col("b1"), col("b2"), col("b3"))))
          .withColumnRenamed("pos", "band").withColumnRenamed("col", "bv")
        val ham = (0 until 4).map(i =>
          bit_count(col(s"a.b$i").bitwiseXOR(col(s"b.b$i"))))
          .reduce(_ + _)
        val shared = bands.alias("a").join(bands.alias("b"),
            col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
              && col("a.doc_id") < col("b.doc_id"))
          .filter(ham <= 3) // PERCEPTUAL verify — the lossy-path rule
          .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
            col("a.b0").as("h0"), col("a.b1").as("h1"),
            col("a.b2").as("h2"), col("a.b3").as("h3"))
          .distinct()
          .groupBy("doc_a", "doc_b")
          .agg(count(lit(1)).as("n_shared"))
        shared.groupBy("n_shared")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("n_shared")
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            ((doc_id // 3) * 40503) % 65536 AS sa,
            ((doc_id // 3) * 40503 + 32768) % 65536 AS sb,
            doc_id % 3 = 0 AS single_scene
          FROM documents),
        scenes AS (
          SELECT DISTINCT doc_id, seed FROM (
            SELECT doc_id, sa AS seed FROM d
            UNION ALL
            SELECT doc_id, sb AS seed FROM d WHERE NOT single_scene)),
        pairs AS (
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
            COUNT(DISTINCT a.seed) AS n_shared
          FROM scenes a JOIN scenes b
            ON a.seed = b.seed AND a.doc_id < b.doc_id
          GROUP BY 1, 2)
        SELECT CAST(n_shared AS BIGINT) AS n_shared,
          COUNT(*) AS n_pairs
        FROM pairs GROUP BY 1 ORDER BY 1""")),

    // LOSSY AUDIO round trip — the audio sibling of the MJPEG leg:
    // G.711 µ-law inside a real WAV container (format code 7, what
    // `ffmpeg -c:a pcm_mulaw` / telephony gear produce), implemented
    // from the spec's closed forms (ops/AudioCodec sign + 3-bit
    // segment + 4-bit mantissa, bias 132, ones-complemented wire
    // byte). Unlike JPEG, this lossy codec is EXACTLY mirrorable in
    // SQL — the quantization is pure integer arithmetic — so the
    // oracle re-derives the decoded (expanded) sample values
    // themselves: an 8-branch CASE ladder for the segment, shifts for
    // the mantissa, and the gate hash-compares the decoded energy sum
    // AND the total companding error, byte-for-byte of the real
    // encode → WAV container → chunk-walk decode → expand path.
    Q("q239_mulaw_roundtrip",
      (s, d) => {
        val docs = spread(s, col("doc_id"))(
          t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id")))
        val payloads = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val n = (120 + (id % 5) * 40).toInt
            Row(id, AudioCodec.encodeWavMulaw(8000, AudioCodec.content(id, n)))
          }
        }(Encoders.row(payloadSchema))
        val outSchema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("codec", StringType, nullable = false),
          StructField("n_samples", LongType, nullable = false),
          StructField("sample_rate", LongType, nullable = false),
          StructField("n_bytes", LongType, nullable = false),
          StructField("sum_decoded", LongType, nullable = false),
          StructField("sum_abs_err", LongType, nullable = false)))
        payloads.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            val a = AudioCodec.decodeWav(bytes).get
            val orig = AudioCodec.content(id, a.samples.length)
            var sumY = 0L; var sumErr = 0L
            var i = 0
            while (i < a.samples.length) {
              val y = a.samples(i).toLong
              sumY += y
              sumErr += math.abs(y - orig(i).toLong)
              i += 1
            }
            Row(id, a.codec, a.samples.length.toLong, a.sampleRate.toLong,
              bytes.length.toLong, sumY, sumErr)
          }
        }(Encoders.row(outSchema)).orderBy("doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, 120 + (doc_id % 5) * 40 AS n FROM documents),
        s AS (
          SELECT d.doc_id, d.n,
            ((d.doc_id % 65536) * 11 + (i % 65536) * 17) % 65536 - 32768 AS x
          FROM d, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, d.n - 1)) AS i)),
        q AS (
          SELECT doc_id, n, x, LEAST(ABS(x), 32635) + 132 AS xb FROM s),
        e AS (
          SELECT doc_id, n, x, xb,
            CASE WHEN xb >= 16384 THEN 7 WHEN xb >= 8192 THEN 6
                 WHEN xb >= 4096 THEN 5 WHEN xb >= 2048 THEN 4
                 WHEN xb >= 1024 THEN 3 WHEN xb >= 512 THEN 2
                 WHEN xb >= 256 THEN 1 ELSE 0 END AS ex
          FROM q),
        dec AS (
          SELECT doc_id, n, x,
            (CASE WHEN x < 0 THEN -1 ELSE 1 END) *
              ((((xb >> (ex + 3)) & 15) * 8 + 132) * (1 << ex) - 132) AS y
          FROM e)
        SELECT doc_id, 'mulaw' AS codec,
          CAST(MAX(n) AS BIGINT) AS n_samples,
          CAST(8000 AS BIGINT) AS sample_rate,
          CAST(44 + MAX(n) + (MAX(n) & 1) AS BIGINT) AS n_bytes,
          CAST(SUM(y) AS BIGINT) AS sum_decoded,
          CAST(SUM(ABS(y - x)) AS BIGINT) AS sum_abs_err
        FROM dec GROUP BY doc_id ORDER BY doc_id""")),

    // INCREMENTAL VIDEO DEDUP — q105's stream-static composition on
    // the media leg, closing the loop between the streaming and
    // multimodal surfaces: the corpus's scene keyframe index (doc →
    // keyframe dHash bands, maintained as a materialized table in
    // production) is the STATIC side; newly ingested MJPEG videos
    // arrive as a STREAM, each micro-batch demuxes + decodes its own
    // payloads (per-row codec work — no window, no aggregate, legal
    // on a stream), and candidate generation is a stateless
    // stream-static band equi join followed by the lossy path's
    // perceptual Hamming verify (q238's rule). Per-micro-batch cost
    // is O(increment × matched bands); no state store, no corpus
    // recompute. History and increment split on an md5 nibble of
    // doc_id (the q105 convention); scenes live in q238's 16-bit
    // corpus-scaling blockContent vocabulary with duplicate clusters
    // bounded at 4 (g = id/4), so increment×history match volume is
    // linear in corpus size, and the seed arithmetic keeps the
    // oracle closed-form.
    Q("q240_incremental_video_dedup",
      (s, d) => {
        val W = 36; val H = 32
        val nib = substring(md5(col("doc_id").cast("string")), 1, 1)
        val allDocs = t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"))
        val histDocs = allDocs.filter(nib < "c")
        val incrDocs = allDocs.filter(nib >= "c")

        // doSpread only on the batch (history) side: the increment is a
        // STREAM — small per micro-batch by definition, and an extra
        // repartition would shuffle every batch for nothing
        def synth(docs: org.apache.spark.sql.DataFrame,
                  doSpread: Boolean = true) =
          (if (doSpread) spread(s, col("doc_id"))(docs) else docs)
            .mapPartitions { rows =>
            rows.map { r =>
              val id = r.getLong(0)
              val f = (3 + id % 3).toInt
              val f0 = (1 + id % (f - 1)).toInt
              val g = id / 4
              val sA = ((g * 40503L) % 65536L).toInt
              val sB = ((g * 40503L + 32768L) % 65536L).toInt
              val single = id % 4 == 0
              val sceneA = MjpegAvi.blockContent(W, H, sA)
              val sceneB =
                if (single) sceneA else MjpegAvi.blockContent(W, H, sB)
              val frames = (0 until f).map(i => if (i < f0) sceneA else sceneB)
              Row(id, MjpegAvi.encode(W, H, 12, frames))
            }
          }(Encoders.row(payloadSchema))

        val kfSchema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("b0", LongType, nullable = false),
          StructField("b1", LongType, nullable = false),
          StructField("b2", LongType, nullable = false),
          StructField("b3", LongType, nullable = false)))
        def keyframeBands(payloads: org.apache.spark.sql.DataFrame) =
          payloads.mapPartitions { rows =>
            rows.flatMap { r =>
              val id = r.getLong(0)
              val v = MjpegAvi.decode(r.getAs[Array[Byte]](1)).get
              VideoCodec.keyframes(v, minDiff = 5000L).map { f =>
                val frame = java.util.Arrays.copyOfRange(
                  v.data, f * v.frameLen, (f + 1) * v.frameLen)
                val small = ImageCodec.resizeNearest(
                  ImageCodec.Decoded("jpeg", v.width, v.height, frame),
                  18, 16)
                val bands = ImageCodec.dHashBands(small)
                Row(id, bands(0), bands(1), bands(2), bands(3))
              }
            }
          }(Encoders.row(kfSchema))

        // the increment arrives as files — staged ONCE per (JVM, sfDir):
        // the staged layout is test-rig scaffolding (slice the corpus
        // into a replayable feed), not the operator under test, so the
        // bench's warm-up stages it and timed reps measure the streaming
        // plan, not a repeated parquet dump (the q104/q105 rule —
        // StreamRig.stageSlices). Verify runs each query once.
        val staged = q240Stage.computeIfAbsent(d, _ => {
          val sd = graft.core.ScratchDirs.create("q240_src_")
          incrDocs.write.mode("overwrite").parquet(sd)
          sd
        })
        val schema = s.read.parquet(staged).schema

        val reg = new graft.graph.Registry(s)
        reg.source("video_history", () => histDocs)
        reg.source("video_feed", () => incrDocs)
        reg.register(graft.graph.TableDef("video_incr_matches",
          Seq("video_feed", "video_history"), {
            case Seq(in, hist) =>
              val histKf = keyframeBands(synth(hist))
              val inPayloads = synth(in, doSpread = false)
              val histBands = histKf.select(col("doc_id").as("doc_hist"),
                col("b0").as("hb0"), col("b1").as("hb1"),
                col("b2").as("hb2"), col("b3").as("hb3"),
                posexplode(array(col("b0"), col("b1"), col("b2"),
                  col("b3"))))
                .withColumnRenamed("pos", "band")
                .withColumnRenamed("col", "bv")
              val inKf = keyframeBands(inPayloads)
              val inBands = inKf.select(col("doc_id").as("doc_new"),
                col("b0"), col("b1"), col("b2"), col("b3"),
                posexplode(array(col("b0"), col("b1"), col("b2"),
                  col("b3"))))
                .withColumnRenamed("pos", "band")
                .withColumnRenamed("col", "bv")
              val ham = (0 until 4).map(i =>
                bit_count(col(s"b$i").bitwiseXOR(col(s"hb$i"))))
                .reduce(_ + _)
              inBands.join(histBands, Seq("band", "bv"))
                .filter(ham <= 3) // perceptual verify — lossy path rule
                .select("doc_new", "doc_hist")
          }, mode = graft.graph.Mode.Incremental))
        reg.register(graft.graph.TableDef("video_incr_dups",
          Seq("video_incr_matches"),
          { case Seq(m) => m.distinct() }, mode = graft.graph.Mode.Full))
        val out = graft.core.ScratchDirs.create("q240_")
        graft.graph.Runner.runStreamingThenFull(s, reg,
          Map("video_feed" -> (() =>
            s.readStream.schema(schema).parquet(staged))),
          out)
        s.read.parquet(s"$out/video_incr_dups")
          .orderBy("doc_new", "doc_hist")
      },
      Some("""
        WITH d AS (
          SELECT doc_id,
            ((doc_id // 4) * 40503) % 65536 AS sa,
            ((doc_id // 4) * 40503 + 32768) % 65536 AS sb,
            doc_id % 4 = 0 AS single_scene,
            SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 1) >= 'c' AS is_incr
          FROM documents),
        scenes AS (
          SELECT DISTINCT doc_id, is_incr, seed FROM (
            SELECT doc_id, is_incr, sa AS seed FROM d
            UNION ALL
            SELECT doc_id, is_incr, sb AS seed FROM d WHERE NOT single_scene))
        SELECT DISTINCT n.doc_id AS doc_new, h.doc_id AS doc_hist
        FROM scenes n JOIN scenes h ON n.seed = h.seed
        WHERE n.is_incr AND NOT h.is_incr
        ORDER BY doc_new, doc_hist""")),

    // WEB-CORPUS INGEST — WARC (ISO 28500), the container the 100-TB
    // training corpora actually arrive in (Common Crawl ships
    // `.warc.gz`: per-record gzip members, each a WARC record whose
    // `response` payload is a raw HTTP/1.1 message). Docs group into
    // 16-record crawl files (plus a `warcinfo` lead record the demux
    // must skip), each file REALLY muxed by ops/WarcCodec (multi-member
    // gzip + strict WARC grammar), carried as a binary column, then
    // demuxed back: gunzip → WARC walk → HTTP parse → HTML→text
    // extraction (script/style subtrees dropped, tags stripped,
    // entities decoded) → per-registered-domain corpus stats — the
    // first aggregation every web-corpus curation run computes. The
    // crawl reality is synthesized faithfully: 404s, binary (image)
    // responses, and truncated transfers (declared Content-Length ≠
    // entity) appear at fixed residues, and each lands in its own
    // bucket — the HTTP layer fails per-record without failing the
    // file. All codec work is row-local in mapPartitions; the two
    // shuffles are the file groupBy and the domain agg. The oracle
    // reasons in residue arithmetic.
    Q("q241_warc_ingest",
      (s, d) => {
        import java.nio.charset.StandardCharsets.ISO_8859_1
        import graft.ops.WarcCodec
        import graft.ops.WarcCodec.WarcRecord
        val docs = t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"),
            expr("CAST(doc_id AS BIGINT) div 16").as("crawl_file"))
        val files = spread(s, col("crawl_file"))(docs)
          .groupBy("crawl_file").agg(collect_list(col("doc_id")).as("ids"))
        val crawlSchema = StructType(Seq(
          StructField("crawl_file", LongType, nullable = false),
          StructField("payload", BinaryType, nullable = false)))
        val date = "2026-01-01T00:00:00Z"
        def rec(id: Long): WarcRecord = {
          val uri = s"https://site${id % 97}.example/page/$id"
          val rid = s"<urn:uuid:$id>"
          if (id % 13 == 0)
            WarcRecord("response", rid, Some(uri), date, httpOk = true,
              404, "text/html",
              "<html><body>not found</body></html>".getBytes(ISO_8859_1))
          else if (id % 17 == 0)
            WarcRecord("response", rid, Some(uri), date, httpOk = true,
              200, "image/png",
              Array.tabulate(32)(i => ((id + i) % 256).toByte))
          else if (id % 19 == 0)
            WarcRecord("response", rid, Some(uri), date, httpOk = true,
              200, "text/html", Array.empty,
              rawHttp = Some(("HTTP/1.1 200 OK\r\nContent-Type: text/html" +
                "\r\nContent-Length: 999999\r\n\r\n<html>cut")
                .getBytes(ISO_8859_1)))
          else {
            val nw = (5 + id % 7).toInt
            val words = (0 until nw)
              .map(j => s"tok${(id * 31 + j) % 1000}").mkString(" ")
            val html = s"<html><head><title>Doc $id</title>" +
              "<style>p{color:red}</style></head><body>" +
              s"<p>$words</p><script>var x=1;</script></body></html>"
            WarcRecord("response", rid, Some(uri), date, httpOk = true,
              200, "text/html", html.getBytes(ISO_8859_1))
          }
        }
        val payloads = files.mapPartitions { rows =>
          rows.map { r =>
            val fid = r.getLong(0)
            val ids = r.getSeq[Long](1).sorted
            val info = WarcRecord("warcinfo", s"<urn:uuid:info-$fid>",
              None, date, httpOk = true, 0, "",
              s"software: graft-crawler\r\nfile: $fid\r\n"
                .getBytes(ISO_8859_1))
            Row(fid, WarcCodec.encodeGz(info +: ids.map(rec)))
          }
        }(Encoders.row(crawlSchema))
        val recSchema = StructType(Seq(
          StructField("domain", StringType, nullable = false),
          StructField("kind", StringType, nullable = false),
          StructField("n_toks", LongType, nullable = false)))
        val parsed = payloads.mapPartitions { rows =>
          rows.flatMap { r =>
            val recs = WarcCodec.decodeGz(r.getAs[Array[Byte]](1)).get
            recs.filter(_.warcType == "response").map { w =>
              val domain = w.targetUri.get.split("/")(2)
              val kind =
                if (!w.httpOk) "truncated"
                else if (w.httpStatus != 200) "http_error"
                else if (!w.contentType.startsWith("text/html")) "binary"
                else "page"
              val toks =
                if (kind == "page")
                  WarcCodec.extractText(new String(w.body, ISO_8859_1))
                    .split(" ").count(_.nonEmpty).toLong
                else 0L
              Row(domain, kind, toks)
            }
          }
        }(Encoders.row(recSchema))
        parsed.groupBy("domain").agg(
          sum(when(col("kind") === "page", 1L).otherwise(0L)).as("n_pages"),
          sum(col("n_toks")).as("n_tokens"),
          sum(when(col("kind") === "http_error", 1L).otherwise(0L))
            .as("n_http_errors"),
          sum(when(col("kind") === "binary", 1L).otherwise(0L))
            .as("n_binary"),
          sum(when(col("kind") === "truncated", 1L).otherwise(0L))
            .as("n_truncated"))
          .orderBy("domain")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, doc_id % 97 AS dom,
            doc_id % 13 = 0 AS e404,
            doc_id % 13 <> 0 AND doc_id % 17 = 0 AS bin,
            doc_id % 13 <> 0 AND doc_id % 17 <> 0 AND doc_id % 19 = 0
              AS trnc,
            5 + doc_id % 7 AS nw
          FROM documents)
        SELECT 'site' || CAST(dom AS VARCHAR) || '.example' AS domain,
          CAST(SUM(CASE WHEN NOT (e404 OR bin OR trnc) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_pages,
          CAST(SUM(CASE WHEN NOT (e404 OR bin OR trnc) THEN nw + 2
            ELSE 0 END) AS BIGINT) AS n_tokens,
          CAST(SUM(CASE WHEN e404 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_http_errors,
          CAST(SUM(CASE WHEN bin THEN 1 ELSE 0 END) AS BIGINT) AS n_binary,
          CAST(SUM(CASE WHEN trnc THEN 1 ELSE 0 END) AS BIGINT)
            AS n_truncated
        FROM d GROUP BY 1 ORDER BY 1""")),

    // ANIMATED GIF — the LOSSLESS animated container (third media
    // container: GVID raw-exact, MJPEG/AVI lossy, GIF palette-exact):
    // because GIF frames are LZW-coded palette indices, the decode
    // reproduces pixels byte-for-byte, so this query gates what the
    // MJPEG leg structurally cannot — EXACT grays, EXACT color counts,
    // and a scene-cut detector whose within-scene diff is EXACTLY zero.
    // Each doc muxes a quadrant animation (scene A repeats f0 frames,
    // scene B follows unless single-scene; every quadrant gray shifts
    // between scenes since 7 ≠ 0 mod 13) with a per-doc GCE delay;
    // demux recovers frames + delays, the shared VideoCodec temporal
    // ops find the cut, and palette introspection counts first-frame
    // colors = min(4, 3 + id%3) quadrant classes. Oracle in residue
    // arithmetic.
    Q("q246_gif_animation",
      (s, d) => {
        import graft.ops.GifCodec
        val W = 24; val H = 16
        val docs = spread(s, col("doc_id"))(
          t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id")))
        def quad(id: Long, seed: Long): Array[Byte] = {
          val k = (3 + id % 3).toInt
          val out = new Array[Byte](W * H * 3)
          var y = 0
          while (y < H) {
            var x = 0
            while (x < W) {
              val q = (if (y < H / 2) 0 else 2) + (if (x < W / 2) 0 else 1)
              val g = (16 * (1 + (seed + q % k) % 13)).toByte
              val p = (y * W + x) * 3
              out(p) = g; out(p + 1) = g; out(p + 2) = g
              x += 1
            }
            y += 1
          }
          out
        }
        val payloads = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val f = (2 + id % 4).toInt
            val f0 = (1 + id % (f - 1).max(1)).toInt
            val delay = (4 + id % 6).toInt
            val single = id % 5 == 0
            val a = quad(id, id)
            val b = if (single) a else quad(id, id + 7)
            val frames = (0 until f).map(i => if (i < f0 || single) a else b)
            Row(id, GifCodec.encode(W, H, delay, frames))
          }
        }(Encoders.row(payloadSchema))
        val outSchema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("n_frames", LongType, nullable = false),
          StructField("delay_cs", LongType, nullable = false),
          StructField("n_keyframes", LongType, nullable = false),
          StructField("scene_frame", LongType, nullable = true),
          StructField("colors_first", LongType, nullable = false),
          StructField("gray_tl", LongType, nullable = false)))
        payloads.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val g = GifCodec.decode(r.getAs[Array[Byte]](1)).get
            val v = VideoCodec.DecodedVideo(g.width, g.height, 10,
              g.frames.length, g.frames.flatten.toArray)
            val kf = VideoCodec.keyframes(v, minDiff = 8L * v.frameLen)
            Row(id, g.frames.length.toLong, g.delaysCs.head.toLong,
              kf.length.toLong,
              if (kf.length > 1) kf(1).toLong else null,
              GifCodec.colorCount(g.frames.head).toLong,
              (g.frames.head(0) & 0xFF).toLong)
          }
        }(Encoders.row(outSchema)).orderBy("doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, 2 + doc_id % 4 AS f,
            1 + doc_id % GREATEST(1 + doc_id % 4, 1) AS f0,
            4 + doc_id % 6 AS delay,
            doc_id % 5 = 0 AS single_scene,
            3 + doc_id % 3 AS k
          FROM documents)
        SELECT doc_id, CAST(f AS BIGINT) AS n_frames,
          CAST(delay AS BIGINT) AS delay_cs,
          CAST(CASE WHEN single_scene OR f0 = f THEN 1 ELSE 2 END AS BIGINT)
            AS n_keyframes,
          CASE WHEN single_scene OR f0 = f THEN NULL
            ELSE CAST(f0 AS BIGINT) END AS scene_frame,
          CAST((SELECT COUNT(DISTINCT (doc_id + q % k) % 13)
                FROM (SELECT UNNEST(GENERATE_SERIES(0, 3)) AS q))
            AS BIGINT) AS colors_first,
          CAST(16 * (1 + doc_id % 13) AS BIGINT) AS gray_tl
        FROM d ORDER BY doc_id""")),

    // AUDIO SAMPLE-RATE CONVERSION — the curation op every speech/audio
    // training corpus runs before batching (models train at one rate;
    // crawled audio arrives at many): decode 16 kHz PCM WAV, decimate
    // by 2 through the exact-integer box resampler
    // (AudioCodec.downsample2 — pair FLOOR means, the arithmetic-shift
    // form SQL `//` mirrors exactly), re-encode at 8 kHz, decode AGAIN
    // (the gate covers the full convert→re-container→read-back path),
    // and emit per-doc integrity stats. The whole pipeline is
    // row-local mapPartitions codec work; the oracle re-derives every
    // output sample from the synth formula with a pairwise
    // GENERATE_SERIES aggregation.
    Q("q247_audio_resample",
      (s, d) => {
        val docs = spread(s, col("doc_id"))(
          t(s, d, "documents").select(col("doc_id").cast("long").as("doc_id")))
        val payloads = docs.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val n = (128 + (id % 5) * 64).toInt
            Row(id, AudioCodec.encodeWav(16000, AudioCodec.content(id, n)))
          }
        }(Encoders.row(payloadSchema))
        val outSchema = StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("n_in", LongType, nullable = false),
          StructField("n_out", LongType, nullable = false),
          StructField("rate_out", LongType, nullable = false),
          StructField("energy_out", LongType, nullable = false),
          StructField("first_out", LongType, nullable = false),
          StructField("last_out", LongType, nullable = false)))
        payloads.mapPartitions { rows =>
          rows.map { r =>
            val id = r.getLong(0)
            val in = AudioCodec.decodeWav(r.getAs[Array[Byte]](1)).get
            val down = AudioCodec.downsample2(in)
            // re-container at the new rate, then decode back — the
            // resample must survive its own file format round trip
            val out = AudioCodec.decodeWav(
              AudioCodec.encodeWav(down.sampleRate, down.samples)).get
            var energy = 0L
            out.samples.foreach(v => energy += math.abs(v.toLong))
            Row(id, in.samples.length.toLong, out.samples.length.toLong,
              out.sampleRate.toLong, energy,
              out.samples.head.toLong, out.samples.last.toLong)
          }
        }(Encoders.row(outSchema)).orderBy("doc_id")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, 128 + (doc_id % 5) * 64 AS n FROM documents),
        s AS (
          SELECT d.doc_id, d.n, i // 2 AS j,
            ((d.doc_id % 65536) * 11 + (i % 65536) * 17) % 65536 - 32768
              AS v,
            i % 2 AS half
          FROM d, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, d.n - 1)) AS i)),
        o AS (
          -- FLOOR, not //: DuckDB integer // truncates toward zero,
          -- but the engine's arithmetic shift floors (odd negative
          -- pair sums differ by 1); the sum is < 2^17 so the double
          -- division is exact
          SELECT doc_id, n, j, CAST(FLOOR(SUM(v) / 2) AS BIGINT) AS ov
          FROM s GROUP BY doc_id, n, j)
        SELECT doc_id, CAST(n AS BIGINT) AS n_in,
          CAST(n // 2 AS BIGINT) AS n_out,
          CAST(8000 AS BIGINT) AS rate_out,
          CAST(SUM(ABS(ov)) AS BIGINT) AS energy_out,
          CAST(MIN(CASE WHEN j = 0 THEN ov END) AS BIGINT) AS first_out,
          CAST(MIN(CASE WHEN j = n // 2 - 1 THEN ov END) AS BIGINT)
            AS last_out
        FROM o GROUP BY doc_id, n ORDER BY doc_id""")),

    // WEBDATASET SHARDS — the container large multimodal training runs
    // actually consume: POSIX tar archives (ops/TarCodec — strict
    // ustar, real-`tar`-interoperable, spec-verified) whose members
    // group into samples by BASENAME (`0017.img` + `0017.txt`), read
    // sequentially per shard because random-accessing 10⁹ small files
    // at 100 TB is an object-store death sentence. Eight docs mux into
    // each shard; the %29 residue omits its caption — the incomplete-
    // sample accounting every WebDataset loader needs. Demux is one
    // row-local pass per shard: tar walk → basename grouping → BMP
    // decode (pixel sum) + caption tokenization for COMPLETE pairs.
    // The oracle rebuilds pixel sums with the per-pixel series device
    // and token counts from the residues.
    Q("q259_webdataset_shards",
      (s, d) => {
        import graft.ops.TarCodec
        val W = 8; val H = 8
        val docs = t(s, d, "documents")
          .select(col("doc_id").cast("long").as("doc_id"),
            expr("CAST(doc_id AS BIGINT) div 8").as("shard"))
        val shards = spread(s, col("shard"))(docs)
          .groupBy("shard").agg(collect_list(col("doc_id")).as("ids"))
        val shardSchema = StructType(Seq(
          StructField("shard", LongType, nullable = false),
          StructField("payload", BinaryType, nullable = false)))
        val payloads = shards.mapPartitions { rows =>
          rows.map { r =>
            val shard = r.getLong(0)
            val ids = r.getSeq[Long](1).sorted
            val members = ids.flatMap { id =>
              val img = s"$id.img" -> ImageCodec.encodeBmp(W, H,
                ImageCodec.content(id % 256, W, H))
              val nw = (3 + id % 4).toInt
              val cap = (0 until nw).map(j => s"w${(id * 13 + j) % 997}")
                .mkString(" ")
              if (id % 29 == 0) Seq(img)
              else Seq(img, s"$id.txt" -> cap.getBytes("ISO-8859-1"))
            }
            Row(shard, TarCodec.encode(members))
          }
        }(Encoders.row(shardSchema))
        val sampleSchema = StructType(Seq(
          StructField("shard", LongType, nullable = false),
          StructField("complete", BooleanType, nullable = false),
          StructField("px_sum", LongType, nullable = false),
          StructField("n_toks", LongType, nullable = false)))
        val samples = payloads.mapPartitions { rows =>
          rows.flatMap { r =>
            val shard = r.getLong(0)
            val members = TarCodec.decode(r.getAs[Array[Byte]](1)).get
            members.groupBy(_._1.takeWhile(_ != '.')).map {
              case (_, parts) =>
                val byExt = parts.map { case (n, b) =>
                  n.dropWhile(_ != '.') -> b
                }.toMap
                val complete = byExt.contains(".img") &&
                  byExt.contains(".txt")
                if (!complete) Row(shard, false, 0L, 0L)
                else {
                  val dec = ImageCodec.decode(byExt(".img")).get
                  var px = 0L
                  dec.channels.foreach(b => px += (b & 0xFF))
                  val toks = new String(byExt(".txt"), "ISO-8859-1")
                    .split(" ").count(_.nonEmpty).toLong
                  Row(shard, true, px, toks)
                }
            }
          }
        }(Encoders.row(sampleSchema))
        samples.groupBy("shard").agg(
          sum(col("complete").cast("long")).as("n_complete"),
          sum((!col("complete")).cast("long")).as("n_incomplete"),
          sum(col("px_sum")).as("px_total"),
          sum(col("n_toks")).as("tok_total"))
          .orderBy("shard")
      },
      Some("""
        WITH d AS (
          SELECT doc_id, doc_id // 8 AS shard,
            doc_id % 29 <> 0 AS complete,
            3 + doc_id % 4 AS nw
          FROM documents),
        px AS (
          SELECT d.doc_id,
            SUM(((d.doc_id % 256) * 7 + (i % 256) * 13) % 256) AS ps
          FROM d, LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 191)) AS i)
          WHERE d.complete
          GROUP BY d.doc_id)
        SELECT shard,
          CAST(SUM(CASE WHEN complete THEN 1 ELSE 0 END) AS BIGINT)
            AS n_complete,
          CAST(SUM(CASE WHEN complete THEN 0 ELSE 1 END) AS BIGINT)
            AS n_incomplete,
          CAST(SUM(COALESCE(px.ps, 0)) AS BIGINT) AS px_total,
          CAST(SUM(CASE WHEN complete THEN nw ELSE 0 END) AS BIGINT)
            AS tok_total
        FROM d LEFT JOIN px USING (doc_id)
        GROUP BY shard ORDER BY shard""")),

    // WALSH-HADAMARD BAND SPECTRUM — spectral analysis of the audio leg
    // with EXACT-INTEGER arithmetic: the Walsh basis takes only the
    // values +/-1 (sign = parity of bit_count(i & k)), so band
    // coefficients are plain integer sums — the one orthogonal
    // transform whose distributed computation needs no floats at all
    // (a Fourier bin would hash-drift on cos/sin across libm
    // implementations). Frames are the q226 deterministic PCM synth
    // (same formula, fixed n = 256 so the basis is complete on the
    // frame) and the whole transform is DECLARATIVE: explode the
    // sample index, one codegen'd conditional-sum aggregation per band
    // — no UDF, no codec, the plan is scan -> project -> hash-agg.
    // The Bessel check (sum of squared coefficients over the probed
    // 8-band subset <= n * signal energy) rides along as an
    // exact-integer gate column: any sign/parity bug breaks it before
    // it breaks the hash. 100 TB shape: 256x row inflation feeding a
    // map-side-combined agg back to one row per document — the
    // explode never shuffles, only the |docs| result frame does.
    Q("q272_walsh_spectrum",
      (s, d) => {
        val bands = Seq(1, 3, 5, 15, 51, 85, 170, 255)
        val sm = t(s, d, "documents")
          .select(col("doc_id"))
          .withColumn("i", explode(sequence(lit(0), lit(255))))
          .withColumn("smp",
            (pmod(pmod(col("doc_id"), lit(65536)) * 11 +
              pmod(col("i").cast("long") * col("i"), lit(65536)) * 17,
              lit(65536)) - 32768).cast("long"))
        val coefs = bands.map { k =>
          sum(col("smp") *
            (lit(1) - lit(2) * pmod(bit_count(col("i").cast("long") bitwiseAND lit(k.toLong)), lit(2))))
            .cast("long").as(s"w$k")
        }
        val energy = sum(col("smp") * col("smp")).cast("long").as("energy")
        sm.groupBy("doc_id")
          .agg(coefs.head, (coefs.tail :+ energy): _*)
          .withColumn("bessel_ok",
            bands.map(k => col(s"w$k") * col(s"w$k")).reduce(_ + _)
              <= lit(256L) * col("energy"))
          .orderBy("doc_id")
      },
      Some("""
        WITH sm AS (
          SELECT doc_id, i,
            ((doc_id % 65536) * 11 + ((i * i) % 65536) * 17) % 65536
              - 32768 AS smp
          FROM documents,
            LATERAL (SELECT UNNEST(GENERATE_SERIES(0, 255)) AS i)),
        c AS (
          SELECT doc_id,
            CAST(SUM(smp * (1 - 2 * (BIT_COUNT(i & 1) % 2))) AS BIGINT) AS w1,
            CAST(SUM(smp * (1 - 2 * (BIT_COUNT(i & 3) % 2))) AS BIGINT) AS w3,
            CAST(SUM(smp * (1 - 2 * (BIT_COUNT(i & 5) % 2))) AS BIGINT) AS w5,
            CAST(SUM(smp * (1 - 2 * (BIT_COUNT(i & 15) % 2))) AS BIGINT) AS w15,
            CAST(SUM(smp * (1 - 2 * (BIT_COUNT(i & 51) % 2))) AS BIGINT) AS w51,
            CAST(SUM(smp * (1 - 2 * (BIT_COUNT(i & 85) % 2))) AS BIGINT) AS w85,
            CAST(SUM(smp * (1 - 2 * (BIT_COUNT(i & 170) % 2))) AS BIGINT) AS w170,
            CAST(SUM(smp * (1 - 2 * (BIT_COUNT(i & 255) % 2))) AS BIGINT) AS w255,
            CAST(SUM(smp * smp) AS BIGINT) AS energy
          FROM sm GROUP BY doc_id)
        SELECT doc_id, w1, w3, w5, w15, w51, w85, w170, w255, energy,
          w1*w1 + w3*w3 + w5*w5 + w15*w15 + w51*w51 + w85*w85
            + w170*w170 + w255*w255 <= 256 * energy AS bessel_ok
        FROM c ORDER BY doc_id"""))
  )
}
