package graft.ops

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (SURVEY.md §7.6): opaque binary payloads
  * processed per-partition in batches — the Scala analog of
  * `mapInPandas`, where a decoder amortizes its (expensive) setup once
  * per partition and streams through the rows.
  *
  * Since round 11 the decode is REAL: [[ImageCodec]] parses actual BMP
  * headers byte-by-byte and drives the JDK's built-in PNG codec — no
  * native deps, verified end-to-end by the q203–q205 oracles and the
  * MB-payload OpsScaleSpec cases. Embedding extraction takes its model
  * through the `decoderSetup` seam: [[loadWeightsF32LE]] loads an
  * exported checkpoint (float32 LE tensor) once per partition and
  * [[linearImageDecoder]] projects decoded channels through it —
  * proven with a committed binary weight fixture in
  * ImageEmbeddingSpec; [[hashDecoder]] is the model-free default.
  */
object Multimodal {

  /** Output schema of [[decodeImageMeta]]: scalar metadata + pixel
    * stats per payload. `ok=false` rows are unparseable payloads — a
    * first-class outcome (corrupt-blob detection is half the point of
    * running decoders in a curation pipeline), with null metadata. */
  val imageMetaSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("format", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("pixel_sum", LongType, nullable = true)))

  /** Real per-partition image decode over a binary column: BMP headers
    * parsed field-by-field, PNG via the JDK codec (see [[ImageCodec]]).
    * One streaming pass per partition — no payload is ever held beyond
    * its own row, so executor memory is bounded by the largest single
    * payload, not the partition (use [[batchedDecode]] when a
    * vectorized decoder needs size-budgeted batches).
    */
  def decodeImageMeta(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val input = df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
    input.mapPartitions { rows =>
      rows.map { r =>
        // a null payload is a corrupt row, not a crash
        val bytes = if (r.isNullAt(1)) Array.empty[Byte]
          else r.getAs[Array[Byte]](1)
        ImageCodec.decode(bytes) match {
          case Some(dec) =>
            var s = 0L
            var i = 0
            while (i < dec.channels.length) { s += dec.channels(i) & 0xFF; i += 1 }
            Row(r.getLong(0), bytes.length, true, dec.format,
              dec.width, dec.height, s)
          case None =>
            Row(r.getLong(0), bytes.length, false, null, null, null, null)
        }
      }
    }(Encoders.row(imageMetaSchema))
  }

  /** Output schema of [[decodeAudioMeta]]: scalar audio metadata +
    * exact integer sample stats per payload. */
  val audioMetaSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("n_samples", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("peak_abs", IntegerType, nullable = true),
    StructField("sum_sq", LongType, nullable = true)))

  /** Real per-partition WAV decode over a binary column: RIFF chunk
    * walk via [[AudioCodec]], exact integer stats (peak |sample|,
    * Σ sample² — the energy) so the oracle compares whole numbers,
    * never float audio features. Same streaming shape as
    * [[decodeImageMeta]]. */
  def decodeAudioMeta(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val input = df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
    input.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(1)) Array.empty[Byte]
          else r.getAs[Array[Byte]](1)
        AudioCodec.decodeWav(bytes) match {
          case Some(dec) =>
            var peak = 0; var sq = 0L
            var i = 0
            while (i < dec.samples.length) {
              val s = dec.samples(i).toInt
              val a = if (s < 0) -s else s
              if (a > peak) peak = a
              sq += s.toLong * s
              i += 1
            }
            Row(r.getLong(0), bytes.length, true, dec.sampleRate,
              dec.samples.length,
              dec.samples.length.toLong * 1000L / dec.sampleRate, peak, sq)
          case None =>
            Row(r.getLong(0), bytes.length, false, null, null, null, null, null)
        }
      }
    }(Encoders.row(audioMetaSchema))
  }

  /** Output schema of [[decodeMediaMeta]]: format-dispatched scalar
    * stats — `content_stat` is the pixel-byte sum for images and the
    * sample energy Σs² for audio, each exact in int64. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("ok", BooleanType, nullable = false),
    StructField("format", StringType, nullable = true),
    StructField("content_stat", LongType, nullable = true)))

  /** Mixed-media catalog pass: ONE decoder dispatching on magic bytes
    * across every format the engine understands (BMP, PNG, WAV) — the
    * access pattern of a heterogeneous landing zone where a single scan
    * must classify and summarize whatever producers dropped in. */
  def decodeMediaMeta(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val input = df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
    input.mapPartitions { rows =>
      rows.map { r =>
        val bytes = if (r.isNullAt(1)) Array.empty[Byte]
          else r.getAs[Array[Byte]](1)
        val isWav = bytes.length >= 12 && bytes(0) == 'R' && bytes(1) == 'I' &&
          bytes(2) == 'F' && bytes(3) == 'F'
        if (isWav) AudioCodec.decodeWav(bytes) match {
          case Some(dec) =>
            var sq = 0L; var i = 0
            while (i < dec.samples.length) {
              val s = dec.samples(i).toLong; sq += s * s; i += 1
            }
            Row(r.getLong(0), bytes.length, true, "wav", sq)
          case None => Row(r.getLong(0), bytes.length, false, null, null)
        } else ImageCodec.decode(bytes) match {
          case Some(dec) =>
            var s = 0L; var i = 0
            while (i < dec.channels.length) { s += dec.channels(i) & 0xFF; i += 1 }
            Row(r.getLong(0), bytes.length, true, dec.format, s)
          case None => Row(r.getLong(0), bytes.length, false, null, null)
        }
      }
    }(Encoders.row(mediaMetaSchema))
  }

  /** Size-budgeted batched decode: rows are grouped into batches whose
    * summed payload bytes never exceed `budgetBytes` (a single payload
    * larger than the budget forms its own batch — it must be decodable
    * to be processed at all), and `decodeBatch` sees one batch at a
    * time. This is the per-partition memory contract a vectorized
    * decoder (GPU image batch, audio frontend) needs: peak buffered
    * payload bytes ≤ max(budget, largest single payload), regardless of
    * partition size. The emitted `batch_seq` is the batch ordinal
    * within the partition, so tests can audit the bound from the
    * output alone.
    */
  def batchedDecode(df: DataFrame, idCol: String, binCol: String,
                    budgetBytes: Long)(
      decodeBatch: Seq[Array[Byte]] => Seq[Array[Float]]): DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("n_bytes", IntegerType, nullable = false),
      StructField("batch_seq", IntegerType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false),
        nullable = true)))
    val input = df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
    input.mapPartitions { rows =>
      val buf = rows.buffered
      var batchSeq = -1
      new Iterator[Row] {
        private var out: Iterator[Row] = Iterator.empty
        private def fill(): Unit = {
          if (!buf.hasNext) return
          val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
          val payloads = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
          var bytes = 0L
          // peek the next payload's size BEFORE taking it: the batch
          // closes when adding the row would cross the budget, so
          // "sum ≤ budget OR the batch is a single over-budget row"
          // holds as a strict invariant
          var more = true
          while (more && buf.hasNext) {
            val next = if (buf.head.isNullAt(1)) Array.empty[Byte]
              else buf.head.getAs[Array[Byte]](1)
            if (payloads.nonEmpty && bytes + next.length > budgetBytes)
              more = false
            else {
              val r = buf.next()
              ids += r.getLong(0)
              payloads += next
              bytes += next.length
            }
          }
          batchSeq += 1
          val feats = decodeBatch(payloads.toSeq)
          out = ids.indices.iterator.map { i =>
            Row(ids(i), payloads(i).length, batchSeq,
              if (i < feats.length) feats(i).toSeq else null)
          }
        }
        def hasNext: Boolean = { if (!out.hasNext) fill(); out.hasNext }
        def next(): Row = { if (!out.hasNext) fill(); out.next() }
      }
    }(Encoders.row(schema))
  }

  /** Output schema of [[extractFeatures]]: id + payload metadata + a
    * fixed-dim float feature vector. */
  def featureSchema(dim: Int): StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("n_bytes", IntegerType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** Per-partition batched feature extraction over a binary column.
    * `decoderSetup` runs once per partition (the expensive model load in
    * a real pipeline) and yields the per-row decode function.
    */
  def extractFeatures(df: DataFrame, idCol: String, binCol: String, dim: Int)(
      decoderSetup: () => Array[Byte] => Array[Float] = () => hashDecoder(dim))
      : DataFrame = {
    val schema = featureSchema(dim)
    val input = df.select(col(idCol).cast("long"), col(binCol).cast("binary"))
    input.mapPartitions { rows =>
      val decode = decoderSetup() // once per partition
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        Row(r.getLong(0), bytes.length, decode(bytes).toSeq)
      }
    }(Encoders.row(schema))
  }

  /** Deterministic content-hash featurizer — the DEFAULT decoder when no
    * model is injected: hash-derived features in [-1, 1), stable across
    * partitionings and retries. Useful as a cheap content fingerprint
    * and as the test default; a real deployment injects a model decoder
    * through `decoderSetup` (see [[loadWeightsF32LE]] +
    * [[linearImageDecoder]] for the external-weights path). */
  def hashDecoder(dim: Int): Array[Byte] => Array[Float] = { bytes =>
    var h = 1125899906842597L // FNV-ish rolling hash of the payload
    var i = 0
    while (i < bytes.length) { h = 31 * h + bytes(i); i += 1 }
    Array.tabulate(dim) { j =>
      val x = h ^ (j.toLong * 0x9E3779B97F4A7C15L)
      val mixed = x ^ (x >>> 33)
      ((mixed & 0xFFFF).toFloat / 32768.0f) - 1.0f
    }
  }

  /** Load a dense float32 little-endian weight matrix from a binary
    * fixture — the external-model half of the `decoderSetup` seam: a
    * trained checkpoint exported as a flat f32le tensor loads here,
    * ONCE PER PARTITION (call it inside `decoderSetup`, exactly where a
    * real pipeline loads its model), and drives [[linearImageDecoder]].
    * Layout: `dim` rows × `inputLen` columns, row-major. Fails loudly
    * on a size mismatch — a silently reshaped weight matrix produces
    * garbage embeddings with no error anywhere downstream. */
  def loadWeightsF32LE(path: String, dim: Int, inputLen: Int): Array[Float] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Path.of(path))
    val expected = dim * inputLen * 4
    if (bytes.length != expected)
      throw new IllegalArgumentException(
        s"weight fixture $path is ${bytes.length} B, expected $expected " +
          s"($dim×$inputLen float32)")
    val buf = java.nio.ByteBuffer.wrap(bytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
    val out = new Array[Float](dim * inputLen)
    buf.get(out)
    out
  }

  /** Linear patch-encoder over DECODED image channels with an injected
    * (externally loaded) weight matrix: payload → [[ImageCodec.decode]]
    * → `emb[j] = Σ_i w[j·inputLen + i] · channel[i]` — the same
    * projection shape as q231's closed-form encoder, but with the
    * weights supplied from outside (a checkpoint fixture via
    * [[loadWeightsF32LE]], a broadcast variable, anything). Undecodable
    * or wrong-geometry payloads yield null features upstream semantics:
    * here they throw, because a FEATURE-extraction stage runs after the
    * quality gate has already quarantined undecodables — feeding it
    * garbage is a pipeline-order bug worth failing on. */
  def linearImageDecoder(weights: Array[Float], dim: Int)
      : Array[Byte] => Array[Float] = {
    require(weights.length % dim == 0,
      s"weight length ${weights.length} is not a multiple of dim $dim")
    val inputLen = weights.length / dim
    bytes => {
      val dec = ImageCodec.decode(bytes).getOrElse(
        throw new IllegalArgumentException(
          "undecodable payload reached feature extraction — quality-gate " +
            "(quarantine) must run before embedding"))
      if (dec.channels.length != inputLen)
        throw new IllegalArgumentException(
          s"decoded ${dec.channels.length} channels, weights expect $inputLen")
      val out = new Array[Float](dim)
      var j = 0
      while (j < dim) {
        var acc = 0.0f
        val base = j * inputLen
        var i = 0
        while (i < inputLen) {
          acc += weights(base + i) * (dec.channels(i) & 0xFF)
          i += 1
        }
        out(j) = acc
        j += 1
      }
      out
    }
  }
}
