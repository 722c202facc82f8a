package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Multimodal column plumbing: media as opaque `binary` columns with typed
  * metadata, processed by batched per-partition functions (the JVM analogue
  * of `mapInPandas` — one decoder instance per partition, rows streamed
  * through it).
  *
  * Decoding is PLUGGABLE via [[Decoder]]: callers hand
  * [[Multimodal.extractFeatures]] any implementation (a JNI image codec, an
  * ONNX audio model, …) and the per-partition open/decode/close lifecycle,
  * schema, partitioning and batch shape stay the same. The default shipped
  * here is [[ByteHistogramDecoder]] — a real (if deliberately simple)
  * decoder of the raw payload bytes, chosen because this container has no
  * image/audio codec libraries; it is deterministic and fully specified, so
  * it is also the oracle surface.
  */

/** Per-partition media decoder. One instance serves a whole partition:
  * [[open]] runs before the first row (codec handles, model weights, native
  * contexts), [[decode]] streams rows through, [[close]] runs after the
  * last row. `dim` is the feature width — Spark needs the schema statically,
  * so it cannot depend on the payload.
  *
  * INSTANCE LIFECYCLE CAVEAT: a Scala `object` decoder deserializes to the
  * shared JVM singleton, so in local (and any multi-core-executor) mode
  * concurrent partitions interleave open()/decode()/close() on ONE instance
  * — fine for stateless decoders like [[ByteHistogramDecoder]], but a codec
  * holding a native handle per instance would see close() from one task
  * mid-decode of another. Decoders with per-instance state must go through
  * [[Multimodal.extractFeaturesWith]], which constructs a FRESH instance
  * per partition from a factory. */
trait Decoder extends Serializable {
  def dim: Int
  def open(): Unit = ()
  def decode(mediaType: String, bytes: Array[Byte]): Array[Float]
  def close(): Unit = ()
}

/** Default [[Decoder]]: 16-bin high-nibble byte histogram of the encoded
  * payload, L1-normalized — shaped exactly like an embedding so every
  * downstream op (storage, search, dedup) is exercised for real. */
object ByteHistogramDecoder extends Decoder {
  val dim = 16
  def decode(mediaType: String, bytes: Array[Byte]): Array[Float] = {
    val bins = new Array[Float](dim)
    var i = 0
    while (i < bytes.length) { bins((bytes(i) & 0xff) >>> 4) += 1f; i += 1 }
    if (bytes.length > 0) { var b = 0; while (b < dim) { bins(b) /= bytes.length; b += 1 } }
    bins
  }
}

/** REAL image codec through the [[Decoder]] seam — `javax.imageio` ships
  * with the JDK (pure-Java PNG/JPEG, headless-safe), so unlike the
  * stand-in histogram this decoder exercises an actual encode→decode round
  * trip: [[Multimodal.syntheticPng]] renders a deterministic RGB recipe
  * into real PNG bytes in one map pass, and this decoder reads them back
  * and reports width/height/per-channel pixel sums. PNG is lossless, so
  * the DECODED stats equal the generating recipe — which is plain modular
  * integer arithmetic DuckDB re-derives from the parquet, making the
  * `mm_image_decode` query fully value-oracled even though no SQL engine
  * can parse a PNG. (JPEG decodes through the same seam; being lossy, its
  * pixel stats are codec-version-dependent, so the spec pins only its
  * lossless properties — dimensions.)
  *
  * Holds per-instance state (the open flag guards the lifecycle contract),
  * so it must be constructed fresh per partition via
  * [[Multimodal.extractFeaturesWith]] — the documented singleton trap.
  * Feature vector: [width, height, sumR, sumG, sumB]; the sums stay below
  * 2²⁴ at the recipe's ≤16×14 dimensions, so every value is exact in
  * Float and the BIGINT casts downstream are lossless. */
class ImageIoDecoder extends Decoder {
  val dim = 5
  private var opened = false
  override def open(): Unit = { opened = true; Multimodal.imageIoNoCache() }
  def decode(mediaType: String, bytes: Array[Byte]): Array[Float] = {
    require(opened, "ImageIoDecoder.decode before open(): lifecycle violation")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    var sr = 0L; var sg = 0L; var sb = 0L
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
        x += 1
      }
      y += 1
    }
    Array(w.toFloat, h.toFloat, sr.toFloat, sg.toFloat, sb.toFloat)
  }
  override def close(): Unit = { opened = false }
}

/** REAL audio codec behind the same seam: [[Multimodal.syntheticWav]]
  * writes a deterministic 16-bit mono PCM recipe as genuine RIFF/WAVE
  * bytes, and this decoder parses them back through
  * `javax.sound.sampled.AudioSystem` (a real WAV parser, no audio device
  * needed) and reports sample count / rate / amplitude stats. PCM WAV is
  * lossless, so the decoded stats equal the generating recipe — modular
  * integer arithmetic DuckDB re-derives from `doc_id` alone, the exact
  * `mm_image_decode` device one modality over. Amplitudes are bounded to
  * ±1023 and clips to ≤311 samples, so every reported value stays below
  * 2²⁴ and is exact in Float.
  * Feature vector: [nSamples, sampleRate, sumAbs, maxAbs]. */
class WavDecoder extends Decoder {
  val dim = 4
  private var opened = false
  override def open(): Unit = { opened = true }
  def decode(mediaType: String, bytes: Array[Byte]): Array[Float] = {
    require(opened, "WavDecoder.decode before open(): lifecycle violation")
    val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val fmt = in.getFormat
      require(fmt.getSampleSizeInBits == 16 && fmt.getChannels == 1,
        s"expected 16-bit mono PCM, got $fmt")
      val raw = in.readAllBytes()
      val n = raw.length / 2
      var i = 0; var sumAbs = 0L; var maxAbs = 0L
      while (i < n) {
        // little-endian signed 16-bit
        val s = ((raw(2 * i + 1) << 8) | (raw(2 * i) & 0xff)).toShort.toLong
        val a = math.abs(s)
        sumAbs += a; if (a > maxAbs) maxAbs = a
        i += 1
      }
      Array(n.toFloat, fmt.getSampleRate, sumAbs.toFloat, maxAbs.toFloat)
    } finally in.close()
  }
  override def close(): Unit = { opened = false }
}

/** Perceptual-hash feature extractor through the same [[Decoder]] seam: an
  * aHash-style 8×8 luminance grid over the DECODED image — nearest-neighbor
  * sampled at (x, y) = (j·w/8, i·h/8) (integer division, the SQL-replayable
  * resize), luminance = r+g+b (an integer ≤ 765, exact in Float). The
  * decoder reports the RAW grid, row-major (t = i·8 + j); the hash bits
  * (grid cell vs grid mean) are computed downstream in plain column
  * expressions so the oracle mirrors them verbatim. Per-instance lifecycle
  * state like [[ImageIoDecoder]] — construct fresh per partition. */
class PHashDecoder extends Decoder {
  val dim = 64
  private var opened = false
  override def open(): Unit = { opened = true; Multimodal.imageIoNoCache() }
  def decode(mediaType: String, bytes: Array[Byte]): Array[Float] = {
    require(opened, "PHashDecoder.decode before open(): lifecycle violation")
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(img != null, "payload is not a decodable image")
    val w = img.getWidth
    val h = img.getHeight
    val out = new Array[Float](dim)
    var i = 0
    while (i < 8) {
      var j = 0
      while (j < 8) {
        val rgb = img.getRGB(j * w / 8, i * h / 8)
        out(i * 8 + j) =
          (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)).toFloat
        j += 1
      }
      i += 1
    }
    out
  }
  override def close(): Unit = { opened = false }
}

object Multimodal {

  /** ImageIO's default DISK cache serializes concurrent codec work: every
    * read/write stages pixels through a temp cache FILE, and under 32
    * concurrent tasks the codec pass measured ~50× the single-thread task
    * time (224 s vs 4.4 s for the phash corpus at sf0.1, r13
    * StageTimeProbe) — lock + filesystem contention, not compute. All
    * payloads here are in-memory byte arrays, so the cache buys nothing:
    * disable it once per JVM (executor-side too — this runs inside the
    * decode/encode helpers, which execute in tasks). */
  private[multimodal] object ImageIoTuning {
    javax.imageio.ImageIO.setUseCache(false)
  }
  private[multimodal] def imageIoNoCache(): Unit = { ImageIoTuning; () }

  final case class Media(doc_id: Long, media_type: String, bytes: Array[Byte],
                         width: Int, height: Int, duration_ms: Long)
  final case class MediaFeatures(doc_id: Long, media_type: String,
                                 n_bytes: Long, features: Array[Float])
  final case class Frame(doc_id: Long, frame_idx: Int, byte_offset: Int,
                         frame_bytes: Array[Byte])

  /** Derive a deterministic fake media table from `documents`: the UTF-8 text
    * bytes stand in for an encoded payload; metadata derives from doc fields. */
  def mediaTable(spark: SparkSession, dir: String): Dataset[Media] =
    // no spread: a spread of the scan measured slower in all five
    // consumers (sf0.1, local[4], median of 14: mm_features 155 vs 96 ms
    // unspread, mm_summary 156 vs 117 ms)
    mediaProjection(Tables.documents(spark, dir))

  /** The documents→media projection on any frame with the documents schema —
    * including a `readStream` source: every step is a stateless column
    * expression, so the same projection (and [[extractFeatures]] behind it)
    * is the ingest-time feature-extraction twin, parity-spec'd streaming ==
    * batch like the SQ8 encode. */
  def mediaProjection(docs: DataFrame): Dataset[Media] = {
    import docs.sparkSession.implicits._
    docs.select(
        col("doc_id"),
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
        encode(col("text"), "UTF-8").as("bytes"),
        (col("n_chars") % 640).cast("int").as("width"),
        (col("n_chars") % 480).cast("int").as("height"),
        (col("n_chars") * 10).as("duration_ms"))
      .as[Media]
  }

  /** Feature extraction through any [[Decoder]]: one pass, partition-local,
    * no shuffle; open/close bracket each partition exactly once. close()
    * rides the task-completion listener, NOT iterator exhaustion — a
    * downstream limit() stops pulling mid-partition and a decode() failure
    * aborts the task, and in both cases a native codec handle must still be
    * released. */
  def extractFeatures(media: Dataset[Media],
                      decoder: Decoder = ByteHistogramDecoder): Dataset[MediaFeatures] =
    extractFeaturesWith(media, () => decoder)

  /** [[extractFeatures]] with a per-partition decoder FACTORY: each partition
    * constructs its own instance, so decoders holding per-instance native
    * state (a codec handle, a model context) never see interleaved
    * open/decode/close from concurrent tasks — the shared-singleton trap
    * documented on [[Decoder]]. The factory closure is what ships to
    * executors; keep it free of driver-side heavy state. */
  def extractFeaturesWith(media: Dataset[Media],
                          newDecoder: () => Decoder): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      val decoder = newDecoder()
      decoder.open()
      // mapPartitions bodies always execute inside a task; the null guard
      // only covers exotic direct invocation, where leaking a test decoder
      // is acceptable
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => decoder.close()))
      it.map(m => MediaFeatures(m.doc_id, m.media_type,
        m.bytes.length.toLong, decoder.decode(m.media_type, m.bytes)))
    }
  }

  final case class MediaFeatureCounts(doc_id: Long, media_type: String, n_bytes: Long,
                                      b0: Long, b1: Long, b2: Long, b3: Long,
                                      b4: Long, b5: Long, b6: Long, b7: Long,
                                      b8: Long, b9: Long, b10: Long, b11: Long,
                                      b12: Long, b13: Long, b14: Long, b15: Long)

  /** Driver-surface form of [[extractFeatures]] with the default
    * [[ByteHistogramDecoder]]: the same 16-bin high-nibble
    * byte histogram as raw integer counts in scalar columns — exactly
    * comparable by the oracle harness (the L1-normalized Array[Float] form is
    * float-divided and array-typed, which the pandas canonicalizer can't
    * sort). Same per-partition decode pass, no shuffle. */
  def extractFeatureCounts(media: Dataset[Media]): Dataset[MediaFeatureCounts] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions { it =>
      it.map { m =>
        val bins = new Array[Long](16)
        var i = 0
        while (i < m.bytes.length) { bins((m.bytes(i) & 0xff) >>> 4) += 1L; i += 1 }
        MediaFeatureCounts(m.doc_id, m.media_type, m.bytes.length.toLong,
          bins(0), bins(1), bins(2), bins(3), bins(4), bins(5), bins(6), bins(7),
          bins(8), bins(9), bins(10), bins(11), bins(12), bins(13), bins(14), bins(15))
      }
    }
  }

  /** Frame sampling for video rows: n evenly spaced fixed-size windows of the
    * payload (a real impl samples decoded frames; offsets are the real part). */
  def sampleFrames(media: Dataset[Media], n: Int = 4, frameSize: Int = 32): Dataset[Frame] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(_.media_type == "video").flatMap { m =>
      val len = m.bytes.length
      if (len == 0) Iterator.empty
      else (0 until n).iterator.map { i =>
        val off = math.min((len.toLong * i / n).toInt, math.max(0, len - 1))
        val end = math.min(off + frameSize, len)
        Frame(m.doc_id, i, off, java.util.Arrays.copyOfRange(m.bytes, off, end))
      }
    }
  }

  final case class ResizedMedia(doc_id: Long, media_type: String, n_bytes: Long,
                                resized_n_bytes: Long, byte_sum: Long,
                                new_width: Int, new_height: Int)

  /** RESIZE — payload thinning to a byte budget: keep every stride-th byte
    * (stride = ceil(n / targetBytes)), rescale the typed metadata by the
    * achieved ratio with INTEGER arithmetic (engine-independent, the
    * pack_sequences DIV lesson). This is the shape of a media resize —
    * bounded output size, metadata kept consistent, one map-only pass — on
    * the opaque stand-in payload; a pixel-aware resample plugs in through
    * the same [[Decoder]] seam as real codecs. The emitted `byte_sum` is an
    * order-independent content checksum so the oracle value-checks the
    * actual kept bytes, not just their count. */
  def resizePayload(media: Dataset[Media], targetBytes: Int = 64): Dataset[ResizedMedia] = {
    import media.sparkSession.implicits._
    media.map { m =>
      val n = m.bytes.length
      val stride = math.max(1, (n + targetBytes - 1) / targetBytes)
      var i = 0; var cnt = 0L; var sum = 0L
      while (i < n) { sum += (m.bytes(i) & 0xff); cnt += 1; i += stride }
      val nw = if (n > 0) (m.width.toLong * cnt / n).toInt else 0
      val nh = if (n > 0) (m.height.toLong * cnt / n).toInt else 0
      ResizedMedia(m.doc_id, m.media_type, n.toLong, cnt, sum, nw, nh)
    }
  }

  /** Oracle surface of [[resizePayload]] over the fixture media table. */
  def resize(spark: SparkSession, dir: String): DataFrame =
    resizePayload(mediaTable(spark, dir)).toDF()

  /** Oracle surface of [[sampleFrames]]: frame coordinates plus the md5 of
    * each frame's bytes — value-comparable while keeping the binary payload
    * out of the compare (the payload is ASCII here, so the oracle's VARCHAR
    * substring md5 is byte-identical). */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sampleFrames(mediaTable(spark, dir)).toDF()
      .select(col("doc_id"), col("frame_idx"), col("byte_offset"),
        length(col("frame_bytes")).cast("bigint").as("n_bytes"),
        md5(col("frame_bytes")).as("frame_md5"))
  }

  /** Deterministic RGB image recipe + REAL PNG encode: dimensions
    * 4+id%13 × 4+id%11, channel c of pixel (x,y) =
    * (id·31 + y·w·3 + x·3 + c) mod 256 — plain integer arithmetic the
    * oracle replays in SQL. The returned bytes are genuine PNG
    * (JDK `javax.imageio` writer). */
  def syntheticPng(docId: Long): Array[Byte] = syntheticPngWith(docId, 0)

  /** [[syntheticPng]] with a per-channel brightness shift, clamped at 255
    * (`min(ch + delta, 255)` — the clamp, not a mod wrap, keeps the
    * perturbation SMALL everywhere, so a shifted copy is a perceptual
    * near-dup of its base, never a scrambled one). delta = 0 is the
    * original recipe exactly. */
  def syntheticPngWith(docId: Long, delta: Int): Array[Byte] = {
    val w = 4 + (docId % 13).toInt
    val h = 4 + (docId % 11).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        def ch(c: Int): Int =
          math.min(((docId * 31 + y * w * 3 + x * 3 + c) % 256).toInt + delta, 255)
        img.setRGB(x, y, (ch(0) << 16) | (ch(1) << 8) | ch(2))
        x += 1
      }
      y += 1
    }
    imageIoNoCache()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** A media table whose payloads are REAL PNGs (one per document,
    * [[syntheticPng]]): the codec-exercising twin of [[mediaTable]]'s
    * text-bytes stand-in. */
  def imageTable(spark: SparkSession, dir: String): Dataset[Media] =
    // spreadSmall: PNG encode+decode fuse into this pipeline's one task
    // per split — spread the tiny single-file fixture scan (sf0.1,
    // local[4], median of 14: 250 ms spread vs 451 ms unspread; batch path
    // only, the streaming twin calls imageProjection directly)
    imageProjection(Tables.spreadSmall(Tables.documents(spark, dir), col("doc_id")))

  /** [[imageTable]] over any documents-shaped frame — including a
    * `readStream` source: the PNG encode is a stateless per-row map, so
    * the same projection (and [[ImageIoDecoder]] behind it) serves
    * ingest-time image decoding, parity-spec'd streaming == batch like
    * the histogram-decoder twin. */
  def imageProjection(docs: DataFrame): Dataset[Media] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val png = syntheticPng(id)
      Media(id, "image", png, 4 + (id % 13).toInt, 4 + (id % 11).toInt, 0L)
    }
  }

  /** The registered `mm_image_decode` query: encode every document's
    * recipe image to PNG, stream the payloads through [[ImageIoDecoder]]
    * under the per-partition open/decode/close lifecycle, and report the
    * DECODED geometry and per-channel pixel sums — all BIGINT, all equal
    * to the generating recipe because PNG is lossless, hence re-derivable
    * by DuckDB from `documents.doc_id` alone. One map-only pass (encode
    * fuses with decode in the same task); no shuffle. */
  def imageDecode(spark: SparkSession, dir: String): DataFrame = {
    val feats = extractFeaturesWith(imageTable(spark, dir), () => new ImageIoDecoder).toDF()
    feats.select(col("doc_id"),
      element_at(col("features"), 1).cast("bigint").as("width"),
      element_at(col("features"), 2).cast("bigint").as("height"),
      (element_at(col("features"), 1) * element_at(col("features"), 2))
        .cast("bigint").as("n_pixels"),
      element_at(col("features"), 3).cast("bigint").as("sum_r"),
      element_at(col("features"), 4).cast("bigint").as("sum_g"),
      element_at(col("features"), 5).cast("bigint").as("sum_b"))
  }

  /** Deterministic 16-bit mono PCM clip as REAL RIFF/WAVE bytes: sample i
    * = ((doc_id·7 + i·13) mod 2048) − 1024, nSamples = 100 + doc_id mod
    * 211, rate 8000 Hz — plain integer arithmetic the oracle replays.
    * Written via `javax.sound.sampled.AudioSystem` so the container is a
    * genuine encoder product, not hand-rolled bytes. */
  def syntheticWav(docId: Long): Array[Byte] = {
    val n = (100 + docId % 211).toInt
    val pcm = new Array[Byte](2 * n)
    var i = 0
    while (i < n) {
      val s = (((docId * 7 + i * 13L) % 2048) - 1024).toShort
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** A media table whose payloads are REAL WAV clips (one per document). */
  def audioProjection(docs: DataFrame): Dataset[Media] = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id")).as[Long].map { id =>
      val wav = syntheticWav(id)
      Media(id, "audio", wav, 0, 0, (100 + id % 211) * 1000L / 8000L)
    }
  }

  /** The registered `mm_audio_decode` query: encode every document's PCM
    * recipe to WAV, decode through [[WavDecoder]] under the per-partition
    * lifecycle, and report sample count / rate / amplitude sums — all
    * BIGINT, all equal to the generating recipe because PCM is lossless,
    * hence re-derivable by DuckDB from `doc_id` alone. Map-only; encode
    * and decode fuse in the same task, no shuffle. */
  def audioDecode(spark: SparkSession, dir: String): DataFrame = {
    // NO spreadSmall here (tried, reverted — r13 A/B 0.78 s → 1.30 s):
    // AudioSystem.write/getAudioInputStream serialize on the synchronized
    // provider registry, so 32 concurrent decode tasks contend instead of
    // scaling; single-split encode+decode is faster than the contended
    // spread for this codec.
    val feats = extractFeaturesWith(
      audioProjection(Tables.documents(spark, dir)), () => new WavDecoder).toDF()
    feats.select(col("doc_id"),
      element_at(col("features"), 1).cast("bigint").as("n_samples"),
      element_at(col("features"), 2).cast("bigint").as("sample_rate"),
      element_at(col("features"), 3).cast("bigint").as("sum_abs"),
      element_at(col("features"), 4).cast("bigint").as("max_abs"))
  }

  /** Plant offset/delta for the perceptual-hash dedup corpus: copies land
    * far above any real doc_id (base ids stay < 10^7 even at the 10×
    * fixture's +copy·10^6 offsets), shifted +3 per channel — a few lum
    * units on a 0..765 scale, so copies hash within a couple of bits of
    * their base while distinct recipe images sit ~32/64 apart. */
  val PhashPlantOffset = 100000000L
  val PhashPlantDelta = 3

  /** The phash corpus's OWN pixel recipe: channel = middle-square scramble
    * of (doc_id·31 + position), clamp-shifted by `delta`. The
    * [[syntheticPng]] recipe is deliberately NOT reused here: its linear
    * gradient means same-geometry images differ only by a mod-256 phase —
    * genuine brightness shifts of each other — so ANY honest perceptual
    * hash pairs a constant fraction of the corpus (measured: 9k pairs on
    * 571 images) and the reported pair set itself grows quadratically. The
    * square term decorrelates cells across doc_ids, so base images are
    * perceptually distinct and only the PLANTED shifted copies collide —
    * the linear-at-scale regime a real deduped corpus looks like.
    * `v·v ≤ 9.7·10^16` at the largest 10×-fixture doc_id — no Long/BIGINT
    * overflow on either engine. */
  def phashPng(docId: Long, delta: Int): Array[Byte] = {
    val w = 4 + (docId % 13).toInt
    val h = 4 + (docId % 11).toInt
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        def ch(c: Int): Int = {
          val v = docId * 31 + y * w * 3 + x * 3 + c
          math.min(((v * v / 256 + v) % 256).toInt + delta, 255)
        }
        img.setRGB(x, y, (ch(0) << 16) | (ch(1) << 8) | ch(2))
        x += 1
      }
      y += 1
    }
    imageIoNoCache()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The planted image-dedup corpus: every document's scrambled-recipe PNG
    * ([[phashPng]]), plus a brightness-shifted copy for each doc_id ≡ 0
    * (mod 7) — the [[graft.dedup.EmbeddingLsh.prodFrame]] stance one
    * modality over: the fixture has no near-dup IMAGES, so the production
    * regime is planted deterministically from the parquet and the oracle
    * re-plants it. */
  def phashCorpus(docs: DataFrame): Dataset[Media] = {
    import docs.sparkSession.implicits._
    // spreadSmall: PNG ENCODE happens right here in the flatMap and the
    // real decode immediately downstream — single-split input serialized
    // the whole codec pass onto one core (sf0.1, local[4], median of 14:
    // 475 ms spread vs 791 ms unspread); no-op at scale
    Tables.spreadSmall(docs.select(col("doc_id")), col("doc_id")).as[Long].flatMap { id =>
      val w = 4 + (id % 13).toInt
      val h = 4 + (id % 11).toInt
      val base = Media(id, "image", phashPng(id, 0), w, h, 0L)
      if (id % 7 == 0)
        Iterator(base,
          Media(id + PhashPlantOffset, "image",
            phashPng(id, PhashPlantDelta), w, h, 0L))
      else Iterator(base)
    }
  }

  /** The registered `mm_dedup_phash` query: multimodal NEAR-DUP dedup —
    * encode → REAL PNG decode ([[PHashDecoder]]) → 8×8 aHash bits (cell
    * luminance vs grid mean, exact integers) → hamming-banded candidate
    * join (4 bands × 16 bits: any pair within hamming ≤ 3 shares a band by
    * pigeonhole, so banding loses nothing at the reported radius) → exact
    * hamming verify on candidates only. The planted shifted copies land
    * within a few bits of their base; unrelated recipe images hash ~32/64
    * apart, so random band collisions are rare and verified away.
    *
    * Scale shape: decode + hash is one map-only pass (the signature frame
    * is checkpointed once for its three consumers); candidates are a linear
    * equi-shuffle on (band, key), never a product; the verify join touches
    * candidates only. Value-oracled end-to-end: PNG is lossless, so DuckDB
    * replays pixel recipe → grid → bits → bands → hamming from `doc_id`
    * alone ([[oracleDedupPhashSql]]). */
  def imageDedupPhash(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame = {
    import spark.implicits._
    val feats = extractFeaturesWith(
      phashCorpus(Tables.documents(spark, dir)), () => new PHashDecoder)
    // The 64 aHash bits PACKED INTO ONE BIGINT, computed in the same typed
    // pass as the decode (plain JVM loop — the former per-doc
    // transform/aggregate lambda chain was CodegenFallback-interpreted):
    // bit i set iff 64·lum_i > Σ lums, identical to the old bits array.
    // Everything downstream becomes integer codegen: band keys are 16-bit
    // slices (shift+mask), hamming is bit_count(sig1 ^ sig2) — the old
    // per-PAIR zip_with+aggregate lambda was the multiplied cost.
    // One decode pass feeds the band rows AND both verify sides.
    val sig = graft.Checkpoints.track(
      feats.map { f =>
        val n = f.features.length
        var tot = 0L
        var i = 0
        while (i < n) { tot += f.features(i).toInt; i += 1 }
        var s = 0L
        i = 0
        while (i < n) { if (64L * f.features(i).toInt > tot) s |= 1L << i; i += 1 }
        (f.doc_id, s)
      }.toDF("doc_id", "sig")
        .localCheckpoint(true))
    val bandArr = array((0 until 4).map(b =>
      shiftrightunsigned(col("sig"), b * 16).bitwiseAND(lit(0xffffL))): _*)
    val bk = sig.select(col("doc_id"), posexplode(bandArr).as(Seq("band", "key")))
    val cand = bk.as("a").join(bk.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2")).distinct()
    cand.join(sig.as("x"), col("d1") === col("x.doc_id"))
      .join(sig.as("y"), col("d2") === col("y.doc_id"))
      .select(col("d1"), col("d2"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).cast("int").as("hamming"))
      .filter(col("hamming") <= maxDist)
  }

  /** DuckDB re-derivation of [[imageDedupPhash]]: replay the (possibly
    * shifted) scrambled pixel recipe per grid cell, then the identical
    * bits → bands → candidates → hamming pipeline in SQL. The per-channel
    * clamp mirrors [[phashPng]] exactly:
    * LEAST((v·v // 256 + v) % 256 + delta, 255). */
  def oracleDedupPhashSql(maxDist: Int = 3): String = {
    // one channel's sampled value at grid cell t (x = (t%8)*w/8, y = (t/8)*h/8)
    def ch(c: Int): String = {
      val v = s"(src * 31 + ((t // 8) * h // 8) * w * 3 + ((t % 8) * w // 8) * 3 + $c)"
      s"LEAST(($v * $v // 256 + $v) % 256 + delta, 255)"
    }
    s"""WITH imgs AS (
       |  SELECT doc_id AS src, doc_id AS out_id, 0 AS delta FROM documents
       |  UNION ALL
       |  SELECT doc_id, doc_id + $PhashPlantOffset, $PhashPlantDelta
       |  FROM documents WHERE doc_id % 7 = 0),
       |g AS (SELECT out_id AS doc_id, src, delta,
       |        4 + src % 13 AS w, 4 + src % 11 AS h FROM imgs),
       |lum AS (SELECT doc_id, list_transform(range(64), t ->
       |          CAST(${ch(0)} + ${ch(1)} + ${ch(2)} AS INT)) AS lums FROM g),
       |sig AS (SELECT doc_id, lums, list_sum(lums) AS tot FROM lum),
       |bits AS (SELECT doc_id, list_transform(lums,
       |           v -> CASE WHEN 64 * v > tot THEN 1 ELSE 0 END) AS bits FROM sig),
       |bands AS (SELECT doc_id, b, list_sum(list_transform(range(16),
       |            i -> bits[b * 16 + i + 1] * (1 << i))) AS key
       |          FROM bits, (VALUES (0), (1), (2), (3)) AS bb(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |         FROM bands a JOIN bands b
       |         ON a.b = b.b AND a.key = b.key AND a.doc_id < b.doc_id),
       |ham AS (SELECT d1, d2, CAST(list_sum(list_transform(range(64), i ->
       |          CASE WHEN x.bits[i + 1] <> y.bits[i + 1] THEN 1 ELSE 0 END)) AS INT) AS hamming
       |        FROM cand JOIN bits x ON x.doc_id = cand.d1
       |                  JOIN bits y ON y.doc_id = cand.d2)
       |SELECT d1, d2, hamming FROM ham WHERE hamming <= $maxDist""".stripMargin
  }

  /** Oracle-friendly summary: per media_type, row/byte counts and mean
    * payload size — exercises the binary column end-to-end with exact ints. */
  def mediaSummary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    mediaTable(spark, dir).toDF()
      .groupBy(col("media_type"))
      .agg(count(lit(1)).as("n_media"),
        sum(length(col("bytes"))).as("total_bytes"),
        (sum(length(col("bytes"))).cast("double") / count(lit(1))).as("avg_bytes"))
  }

  final case class SceneCuts(doc_id: Long, n_frames: Int, sum_delta: Long,
                             max_delta: Long, n_cuts: Long, cut_frames: String)

  /** SHOT-BOUNDARY (scene-cut) DETECTION over the video rows — the frame
    * ANALYSIS step [[sampleFrames]] stops short of: sample `n` evenly
    * spaced frames, reduce each to an integer intensity stat (byte sum —
    * the luminance-histogram stand-in on the opaque payload; a pixel-aware
    * stat plugs in through the [[Decoder]] seam like the real codecs),
    * take consecutive deltas, and call a cut wherever a delta exceeds
    * 1.5× the video's own mean delta. The adaptive threshold is the
    * standard shot-boundary contract (absolute thresholds break across
    * bright/dark content) and stays engine-exact as one integer
    * cross-multiplication: `2·n_deltas·delta ≥ 3·Σdelta`.
    *
    * Scale shape: one map-only pass per video row, no shuffle at all —
    * the per-video loop touches each sampled window once. Exact integers
    * end-to-end; the oracle replays frame offsets and byte sums from the
    * UTF-8 expansion of the same payload recipe. */
  def sceneCuts(media: Dataset[Media], n: Int = 16,
                frameSize: Int = 32): Dataset[SceneCuts] = {
    import media.sparkSession.implicits._
    media.filter(m => m.media_type == "video" && m.bytes.length > 0).map { m =>
      val len = m.bytes.length
      val stats = (0 until n).map { i =>
        val off = math.min((len.toLong * i / n).toInt, math.max(0, len - 1))
        val end = math.min(off + frameSize, len)
        var s = 0L; var j = off
        while (j < end) { s += (m.bytes(j) & 0xff); j += 1 }
        s
      }
      val deltas = stats.sliding(2).map { case Seq(a, b) => math.abs(b - a) }.toSeq
      val sumD = deltas.sum
      val cuts = deltas.zipWithIndex.collect {
        // cut at frame i+1 when delta ≥ 1.5× mean — integer cross-multiplied
        case (d, i) if 2L * deltas.length * d >= 3L * sumD && d > 0 => i + 1
      }
      SceneCuts(m.doc_id, n, sumD, if (deltas.isEmpty) 0L else deltas.max,
        cuts.length.toLong, cuts.mkString(","))
    }
  }

  /** Registered surface of [[sceneCuts]] over the fixture media table. */
  def mmSceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    sceneCuts(mediaTable(spark, dir)).toDF()
  }
}
