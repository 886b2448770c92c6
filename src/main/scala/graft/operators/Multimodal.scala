package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables

/**
 * Multimodal column plumbing: image/audio/video payloads as opaque `binary`
 * columns with typed metadata, processed in *batched* per-partition passes —
 * the Scala shape of a `mapInPandas` pipeline (iterator of batches in, batches
 * out), which is how decode/resize/feature-extract runs at 100 TB without
 * per-row overhead.
 *
 * The IMAGE decode is REAL: `javax.imageio` ships with the JDK, so image
 * payloads decode to true width/height and a luminance-histogram feature
 * ([[decode]]). AUDIO is real for the containers the JDK parses
 * (`javax.sound.sampled`: WAV/AIFF/AU PCM) — true sample rate, duration,
 * and an amplitude-histogram feature. VIDEO is real for the containers a
 * pure JVM can parse ([[AviCodec]]: RIFF/AVI with raw BI_RGB or MJPEG
 * streams) — true dims, frame count, fps-derived duration, and per-frame
 * luminance features ([[videoFrames]]). Compressed audio (mp3/opus) and
 * compressed video codecs (H.264 etc.) remain STUBBED (no ffmpeg-style
 * codec libraries in this container): deterministic fake features from the
 * bytes, with the real batched-iterator contract. The Spark-side plumbing —
 * schema, batch iteration, partition preservation, metadata propagation —
 * is identical for every path and covered by MultimodalSpec.
 */
object Multimodal {

  /** media(media_id, kind, bytes, meta{width,height,duration_ms}) */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("bytes", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  /** Synthesize a media table from documents (payload = utf-8 bytes), so the
    * pipeline has real binary columns to push around. */
  def mediaFromDocuments(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      encode(col("text"), "UTF-8").as("bytes"),
      struct(
        (length(col("text")) % 640).cast("int").as("width"),
        (length(col("text")) % 480).cast("int").as("height"),
        (col("n_chars") * 10).as("duration_ms")).as("meta"))

  /** Matches the [[MediaFeature]] encoder exactly (reference strings are
    * nullable, primitive array elements are not). */
  val featureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = true),
    StructField("n_bytes", LongType, nullable = false),
    StructField("checksum", LongType, nullable = false),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("sample_rate", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("feature", ArrayType(FloatType, containsNull = false), nullable = true)))

  /** Decoded-feature row (typed so the batched decode stays a Dataset
    * transform — a `MapPartitions` node in the logical plan, not an RDD
    * detour that would hide the operator from Catalyst/AQE). width/height
    * are populated only when the payload decoded as an image;
    * sample_rate/duration_ms only when it decoded as audio. */
  final case class MediaFeature(
      media_id: Long, kind: String, n_bytes: Long, checksum: Long,
      width: Option[Int], height: Option[Int],
      sample_rate: Option[Int], duration_ms: Option[Long],
      feature: Seq[Float])

  /** Real image decode: JDK `javax.imageio` → true dimensions + an 8-bin
    * normalized luminance histogram. Returns None for undecodable bytes. */
  private def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Float])] = {
    if (bytes.isEmpty) return None
    javax.imageio.ImageIO.setUseCache(false) // no temp-file spill per decode
    // NonFatal, not just IOException: plugin readers throw RuntimeExceptions
    // on real-world malformed payloads (CMYK JPEGs, truncated files) and one
    // bad row must not kill a corpus-wide decode job
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      catch { case scala.util.control.NonFatal(_) => null }
    Option(img).map { im =>
      val (w, h) = (im.getWidth, im.getHeight)
      val hist = new Array[Long](8)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = im.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000
          hist(lum >> 5) += 1 // 256 levels → 8 bins
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h).toFloat
      (w, h, hist.map(_ / n))
    }
  }

  /** Real audio decode for JDK-parseable containers (WAV/AIFF/AU):
    * true sample rate + duration from the header, and an 8-bin normalized
    * amplitude histogram from the samples. 16-bit PCM reads directly;
    * G.711 μ-law/A-law payloads (WAVE format codes 7/6 — the telephony
    * companding the JDK decodes natively) are expanded to 16-bit PCM
    * through the JDK codec chain first, so the histogram reflects DECODED
    * amplitudes, not companded byte values. Other sample sizes get
    * header-only metadata. Returns None for undecodable bytes. */
  /** Lock-free audio SPI access. Every `AudioSystem.*` entry point funnels
    * through the JDK's synchronized provider registry
    * (`JDK13Services.getProviders` takes a GLOBAL lock per call), so 32
    * decode tasks serialize on it — r19 profiling measured q206 at 76 s
    * executorRunTime against 3 s of CPU, i.e. ~96% lock wait. The provider
    * lists are immutable after boot: materialize them ONCE per JVM via the
    * public `javax.sound.sampled.spi` ServiceLoader surface and dispatch
    * directly — same providers, same semantics, no lock. */
  private object AudioSpi {
    import javax.sound.sampled._
    import javax.sound.sampled.spi._
    import scala.jdk.CollectionConverters._
    val readers: List[AudioFileReader] =
      java.util.ServiceLoader.load(classOf[AudioFileReader]).asScala.toList
    val writers: List[AudioFileWriter] =
      java.util.ServiceLoader.load(classOf[AudioFileWriter]).asScala.toList
    val converters: List[FormatConversionProvider] =
      java.util.ServiceLoader.load(classOf[FormatConversionProvider]).asScala.toList
    /** AudioSystem.getAudioInputStream(stream): providers leave the stream
      * positioned for the next attempt on failure (SPI contract). */
    def read(in: java.io.InputStream): AudioInputStream = {
      val it = readers.iterator
      while (it.hasNext) {
        try return it.next().getAudioInputStream(in)
        catch { case _: UnsupportedAudioFileException => }
      }
      throw new UnsupportedAudioFileException(
        "Stream of unsupported format")
    }
    /** AudioSystem.getAudioInputStream(targetFormat, stream). */
    def convert(target: AudioFormat, src: AudioInputStream): AudioInputStream =
      converters.find(_.isConversionSupported(target, src.getFormat))
        .map(_.getAudioInputStream(target, src))
        .getOrElse(throw new IllegalArgumentException(
          s"Unsupported conversion: $target from ${src.getFormat}"))
    /** AudioSystem.write(stream, type, out). */
    def write(src: AudioInputStream, tpe: AudioFileFormat.Type,
        out: java.io.OutputStream): Int = {
      val w = writers.find(_.isFileTypeSupported(tpe, src))
        .getOrElse(throw new IllegalArgumentException(
          s"could not write audio type $tpe"))
      w.write(src, tpe, out)
    }
  }

  private def decodeAudio(bytes: Array[Byte]): Option[(Int, Long, Array[Float])] = {
    import javax.sound.sampled.AudioFormat
    if (bytes.isEmpty) return None
    try {
      val in = AudioSpi.read(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val frames = in.getFrameLength
        val durMs = (frames * 1000.0 / fmt.getFrameRate).toLong
        val companded = fmt.getEncoding == AudioFormat.Encoding.ULAW ||
          fmt.getEncoding == AudioFormat.Encoding.ALAW
        // μ-law/A-law expand 1:1 in frame count, so duration/rate keep the
        // container's truth while samples come from the decoded stream
        val pcm =
          if (companded)
            AudioSpi.convert(new AudioFormat(
              AudioFormat.Encoding.PCM_SIGNED, fmt.getSampleRate, 16,
              fmt.getChannels, fmt.getChannels * 2, fmt.getSampleRate,
              false), in)
          else in
        val pcmFmt = pcm.getFormat
        val hist = new Array[Long](8)
        var total = 0L
        if (pcmFmt.getSampleSizeInBits == 16) {
          val buf = new Array[Byte](8192)
          var n = pcm.read(buf)
          while (n > 0) {
            var i = 0
            while (i + 1 < n) {
              val lo = buf(if (pcmFmt.isBigEndian) i + 1 else i) & 0xFF
              val hi = buf(if (pcmFmt.isBigEndian) i else i + 1).toInt
              val amp = math.abs((hi << 8) | lo)
              hist(math.min(amp >> 12, 7)) += 1 // |sample| 0..32768 → 8 bins
              total += 1
              i += 2
            }
            n = pcm.read(buf)
          }
        }
        val feature =
          if (total > 0) hist.map(_.toFloat / total)
          else Array.fill(8)(0f)
        Some((fmt.getSampleRate.toInt, durMs, feature))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Batched decode/feature-extract — the codec call a production pipeline
    * runs via mapInPandas (iterator of batches in, rows out; a typed Dataset
    * mapPartitions keeps the step inside the declarative plan; input
    * partitioning is preserved — no shuffle).
    *
    * `image` payloads decode for REAL ([[decodeImage]]): true width/height
    * plus a normalized luminance histogram. `audio` payloads decode for
    * real when the JDK parses the container ([[decodeAudio]]): sample
    * rate, duration, amplitude histogram. Video — and any payload that
    * fails to parse, e.g. the synthesized text payloads — falls back to
    * the deterministic STUB feature (byte-sum checksum + a byte-histogram
    * "embedding"), keeping output rows 1:1 with input rows either way. */
  def decode(media: DataFrame, batchSize: Int = 256): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "kind", "bytes").as[(Long, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch => // batched like mapInPandas
          batch.iterator.map { case (id, kind, b) =>
            val bytes = Option(b).getOrElse(Array.emptyByteArray)
            var checksum = 0L
            val hist = new Array[Long](8)
            var i = 0
            while (i < bytes.length) {
              checksum = checksum * 31 + (bytes(i) & 0xFF)
              hist((bytes(i) & 0xFF) % 8) += 1
              i += 1
            }
            def stub = {
              val n = math.max(bytes.length, 1).toFloat
              MediaFeature(id, kind, bytes.length.toLong, checksum,
                None, None, None, None, hist.map(_ / n).toSeq)
            }
            kind match {
              case "image" => decodeImage(bytes) match {
                case Some((w, h, lumHist)) =>
                  MediaFeature(id, kind, bytes.length.toLong, checksum,
                    Some(w), Some(h), None, None, lumHist.toSeq)
                case None => stub
              }
              case "audio" => decodeAudio(bytes) match {
                case Some((rate, durMs, ampHist)) =>
                  MediaFeature(id, kind, bytes.length.toLong, checksum,
                    None, None, Some(rate), Some(durMs), ampHist.toSeq)
                case None => stub
              }
              case "video" => AviCodec.parse(bytes) match {
                case Some(clip) =>
                  // mean of the per-frame luminance histograms = one clip
                  // feature; dims/duration are the decoded truth
                  val hists = clip.frames.flatMap(f =>
                    AviCodec.frameLuminance(clip, f))
                  val feature =
                    if (hists.isEmpty) Array.fill(8)(0f)
                    else {
                      val acc = new Array[Float](8)
                      hists.foreach(h => (0 until 8).foreach(i => acc(i) += h(i)))
                      acc.map(_ / hists.length)
                    }
                  MediaFeature(id, kind, bytes.length.toLong, checksum,
                    Some(clip.width), Some(clip.height), None,
                    Some(clip.durationMs), feature.toSeq)
                case None => stub
              }
              case _ => stub
            }
          }
        }
      }
      .toDF()
  }

  /** Former name of [[decode]], kept for source compatibility (the decode is
    * no longer a stub for images). */
  @deprecated("use decode", "r7")
  def decodeStub(media: DataFrame, batchSize: Int = 256): DataFrame =
    decode(media, batchSize)

  /** One decoded-and-sampled video frame (typed for the same
    * Dataset-mapPartitions reasons as [[MediaFeature]]). */
  final case class VideoFrame(
      media_id: Long, frame_no: Int, width: Int, height: Int,
      feature: Seq[Float])

  /** REAL frame sampling: parse each video payload as a RIFF/AVI container
    * ([[AviCodec]] — raw BI_RGB or MJPEG, the pure-JVM-decodable set), emit
    * every `stride`-th frame with its true dims and per-frame luminance
    * histogram. Payloads that are not decodable AVI (compressed codecs,
    * junk bytes) emit nothing — callers that need 1:1 accounting use
    * [[decode]], whose video path falls back to the documented stub.
    * Map-only (`mapPartitions`, batched decode, partitioning preserved). */
  def videoFrames(media: DataFrame, stride: Int = 1): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "video")
      .select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, b) =>
          AviCodec.parse(Option(b).getOrElse(Array.emptyByteArray))
            .iterator.flatMap { clip =>
              Iterator.range(0, clip.frames.length, stride).map { f =>
                val lum = AviCodec.frameLuminance(clip, clip.frames(f))
                  .getOrElse(Array.fill(8)(0f))
                VideoFrame(id, f, clip.width, clip.height, lum.toSeq)
              }
            }
        }
      }
      .toDF()
  }

  /** Deterministic REAL-container image synthesis: each document of the
    * `doc_id % 3 = 0` slice (the one [[mediaFromDocuments]] labels
    * "image") becomes a true 16×16 PNG whose RGB pixels cycle through the
    * text bytes — PNG is lossless, so [[decodeImage]] recovers the exact
    * pixels and the luminance histogram is a pure function of the text
    * (the encode→decode inversion witness behind [[q154ImageNearDup]]). */
  def imagesFromDocuments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // codec CPU ≫ row bytes: fan the light (id, text) rows out to the
    // session width when the scan under-splits (one small parquet row
    // group = ONE task for the whole encode otherwise); no-op at scale
    Skew.fanOutForCpu(
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .mapPartitions { rows =>
        // same no-temp-file rule as decodeImage: the default write path
        // spills a FileCacheImageOutputStream per image otherwise
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, text) =>
          val tb = text.getBytes("UTF-8")
          val w = 16; val h = 16
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var p = 0
          while (p < w * h) {
            def b(i: Int) = if (tb.isEmpty) 0 else tb((p * 3 + i) % tb.length) & 0xFF
            img.setRGB(p % w, p / w, (b(0) << 16) | (b(1) << 8) | b(2))
            p += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          (id, "image", bos.toByteArray)
        }
      }
      .toDF("media_id", "kind", "bytes")
  }

  /** REAL image resize — exact integer box-filter downscale by `factor`
    * (each output channel = sum of the factor² source block div factor²,
    * pure integer math — no Graphics2D interpolation whose rounding is
    * JVM-drawing-pipeline-dependent): decode the container via imageio,
    * average, re-encode lossless PNG. The resize every multimodal
    * training pipeline runs before feature extraction, with deterministic
    * pixels a spec can replay bit-for-bit (MultimodalSpec checks every
    * resized pixel equals the exact block mean of the decoded source).
    * Trailing rows/columns that don't fill a block are dropped (floor
    * semantics — dims are `src div factor`). Map-only batched
    * mapPartitions, partitioning preserved; undecodable payloads emit
    * nothing (q58's accounting rule — use [[decode]] for 1:1). */
  def resizeImages(media: DataFrame, factor: Int = 2): DataFrame = {
    require(factor >= 1, s"factor must be >= 1, got $factor")
    val spark = media.sparkSession
    import spark.implicits._
    media.filter(col("kind") === "image")
      .select("media_id", "bytes").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.flatMap { case (id, b) =>
          val in = Option(b).getOrElse(Array.emptyByteArray)
          val img =
            if (in.isEmpty) None
            else Option(javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(in)))
          img.flatMap { src =>
            val dw = src.getWidth / factor; val dh = src.getHeight / factor
            if (dw == 0 || dh == 0) None
            else {
              val dst = new java.awt.image.BufferedImage(
                dw, dh, java.awt.image.BufferedImage.TYPE_INT_RGB)
              var y = 0
              while (y < dh) {
                var x = 0
                while (x < dw) {
                  var r = 0; var g = 0; var bl = 0
                  var dy = 0
                  while (dy < factor) {
                    var dx = 0
                    while (dx < factor) {
                      val p = src.getRGB(x * factor + dx, y * factor + dy)
                      r += (p >> 16) & 0xFF; g += (p >> 8) & 0xFF
                      bl += p & 0xFF
                      dx += 1
                    }
                    dy += 1
                  }
                  val n = factor * factor
                  dst.setRGB(x, y,
                    ((r / n) << 16) | ((g / n) << 8) | (bl / n))
                  x += 1
                }
                y += 1
              }
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(dst, "png", bos)
              Some((id, src.getWidth, src.getHeight, dw, dh, bos.toByteArray))
            }
          }.iterator
        }
      }
      .toDF("media_id", "src_w", "src_h", "dst_w", "dst_h", "bytes")
  }

  /** Driver-checked resize surface: synthesize real PNGs, box-downscale
    * them ([[resizeImages]]), and report the dims the resizer RECOVERED
    * from the containers — the oracle predicts them from the synthesis
    * structure alone (16×16 → 8×8), so a resizer that failed to decode or
    * misread dimensions hash-mismatches. Pixel-level exactness is
    * MultimodalSpec's block-mean replay. */
  def q228ImageResize(spark: SparkSession, dir: String,
      factor: Int = 2): DataFrame =
    resizeImages(imagesFromDocuments(spark, dir), factor)
      .select(col("media_id"), col("src_w"), col("src_h"),
        col("dst_w"), col("dst_h"))

  /** Deterministic REAL-container audio synthesis: each document of the
    * `doc_id % 3 = 1` slice (the one [[mediaFromDocuments]] labels
    * "audio") becomes a true 8 kHz mono 16-bit PCM WAV with
    * `(n_chars % 400) + 100` samples built from consecutive text-byte
    * pairs. The container STRUCTURE is a pure function of the row, so a
    * SQL oracle over `documents` predicts exactly the sample rate and
    * duration [[decodeAudio]] must recover from the bytes — the
    * decode-inverts-encode check behind [[q157AudioStats]]. */
  def audioFromDocuments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // NO codec fan-out here (unlike the image/jpeg/video arms): with the
    // SPI registry cached (AudioSpi) the plain-WAV container work is
    // ~trivial CPU per row, and an r20 A/B measured the fan-out exchange
    // as pure overhead (q157 0.65 -> 0.33 s; q206 0.95 -> 0.56 s) — the
    // single-task scan finishes before 32 tasks would even schedule
    Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id"), col("text"), col("n_chars").cast("long"))
      .as[(Long, String, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, text, nChars) =>
          val tb = text.getBytes("UTF-8")
          val n = ((nChars % 400) + 100).toInt
          val pcm = new Array[Byte](n * 2) // little-endian 16-bit
          var i = 0
          while (i < pcm.length) {
            pcm(i) = if (tb.isEmpty) 0 else tb(i % tb.length)
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1,
            true, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          AudioSpi.write(ais, // AudioSystem.write takes the global SPI lock
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          (id, "audio", bos.toByteArray)
        }
      }
      .toDF("media_id", "kind", "bytes")
  }

  /** G.711 μ-law/A-law WAV synthesis — the same deterministic PCM signal
    * as [[audioFromDocuments]], COMPANDED through the JDK's codec chain
    * into a true telephony WAVE container (format code 7 = μ-law, 6 =
    * A-law, 8 bits/sample). This is real lossy re-encoding, not a stub:
    * the container's fmt chunk, fact chunk and 1-byte frames are the
    * JDK encoder's own output, and [[decodeAudio]] must expand them back
    * through the codec to recover amplitudes. Same map-only posture as
    * every synthesis arm (mapPartitions, partitioning preserved). */
  def compandedAudioFromDocuments(spark: SparkSession, dir: String,
      aLaw: Boolean = false): DataFrame = {
    import spark.implicits._
    import javax.sound.sampled.{AudioFormat, AudioInputStream, AudioSystem}
    // no codec fan-out — same r20 measurement as audioFromDocuments
    Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id"), col("text"), col("n_chars").cast("long"))
      .as[(Long, String, Long)]
      .mapPartitions { rows =>
        val enc = if (aLaw) AudioFormat.Encoding.ALAW
          else AudioFormat.Encoding.ULAW
        rows.map { case (id, text, nChars) =>
          val tb = text.getBytes("UTF-8")
          val n = ((nChars % 400) + 100).toInt
          val pcm = new Array[Byte](n * 2) // little-endian 16-bit
          var i = 0
          while (i < pcm.length) {
            pcm(i) = if (tb.isEmpty) 0 else tb(i % tb.length)
            i += 1
          }
          val srcFmt = new AudioFormat(8000f, 16, 1, true, false)
          val src = new AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), srcFmt, n.toLong)
          // direct SPI dispatch — AudioSystem.* serializes on a global lock
          val companded = AudioSpi.convert(
            new AudioFormat(enc, 8000f, 8, 1, 1, 8000f, false), src)
          val bos = new java.io.ByteArrayOutputStream()
          AudioSpi.write(companded,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          (id, "audio", bos.toByteArray)
        }
      }
      .toDF("media_id", "kind", "bytes")
  }

  /** Companded-codec decode surface (the μ-law/A-law sliver of C12's
    * compressed-codec gap): synthesize BOTH telephony encodings
    * ([[compandedAudioFromDocuments]]), decode them through the codec
    * chain, and report the recovered facts per encoding. The oracle
    * recomputes sample count and duration from `n_chars` alone — the
    * decoder must RECOVER them from real format-code-7/6 containers
    * (q157's discipline, now through a lossy codec; MultimodalSpec
    * additionally checks the expanded amplitudes approximate the PCM
    * truth, which header parsing alone could not produce). */
  def q206CompandedAudio(spark: SparkSession, dir: String): DataFrame = {
    def arm(aLaw: Boolean) =
      decode(compandedAudioFromDocuments(spark, dir, aLaw))
        .filter(col("sample_rate").isNotNull)
        .select(col("media_id"),
          lit(if (aLaw) "alaw" else "ulaw").as("encoding"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("duration_ms"))
    arm(aLaw = false).unionAll(arm(aLaw = true))
  }

  /** Real-audio decode surface: synthesize true WAVs
    * ([[audioFromDocuments]]), decode them ([[decodeAudio]] via
    * [[decode]]), and report the recovered header facts. The oracle
    * recomputes sample count and duration from `n_chars` alone — the
    * decoder must RECOVER them from the RIFF/fmt chunks for the driver's
    * hash compare to pass (q58's discipline for the audio arm). */
  def q157AudioStats(spark: SparkSession, dir: String): DataFrame =
    decode(audioFromDocuments(spark, dir))
      .filter(col("sample_rate").isNotNull)
      .select(col("media_id"), col("sample_rate").cast("long").as("sample_rate"),
        col("duration_ms"), col("n_bytes"))

  /** Deterministic REAL-container video synthesis: each selected document
    * (the `doc_id % 3 = 2` slice [[mediaFromDocuments]] labels "video")
    * becomes an uncompressed 16×8 @ 10fps AVI with `(n_chars % 5) + 2`
    * frames whose pixel bytes cycle through the text bytes. The clip's
    * STRUCTURE is a pure function of the row, so a SQL oracle can predict
    * exactly what the decoder must recover — the decode-inverts-encode
    * check behind [[q58FrameSample]]. */
  def videoFromDocuments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Skew.fanOutForCpu( // codec fan-out; no-op at scale (imagesFromDocuments)
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("doc_id"), col("text"), col("n_chars").cast("long")),
      "doc_id")
      .as[(Long, String, Long)]
      .mapPartitions { rows =>
        rows.map { case (id, text, nChars) =>
          val tb = text.getBytes("UTF-8")
          val n = ((nChars % 5) + 2).toInt
          val w = 16; val h = 8
          val strideB = AviCodec.rowStride(w)
          val frames = (0 until n).map { f =>
            val fr = new Array[Byte](strideB * h)
            var j = 0
            while (j < fr.length) {
              fr(j) = if (tb.isEmpty) 0 else tb((f + j) % tb.length)
              j += 1
            }
            fr
          }
          (id, "video", AviCodec.encodeRaw(w, h, 10, frames))
        }
      }
      .toDF("media_id", "kind", "bytes")
  }

  // ---------------------------------------------------------------- C12
  /** Driver-checked surface of the decode pipeline: media synthesis →
    * batched decode, projected to the oracle-expressible columns (the
    * checksum/feature stubs are covered by MultimodalSpec instead). */
  def q57MultimodalDecode(spark: SparkSession, dir: String): DataFrame =
    decode(mediaFromDocuments(spark, dir))
      .select(col("media_id"), col("kind"), col("n_bytes"))

  /** Driver-checked REAL frame sampling: synthesize true AVI containers
    * ([[videoFromDocuments]]), decode them ([[videoFrames]], stride 2), and
    * report per-clip sampled-frame count + decoded dims. The oracle
    * recomputes the clip structure from `n_chars` alone — the decoder must
    * RECOVER those numbers from the container bytes for the hash to match. */
  def q58FrameSample(spark: SparkSession, dir: String): DataFrame =
    videoFrames(videoFromDocuments(spark, dir), stride = 2)
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        max(col("width")).as("width"), max(col("height")).as("height"))

  /** Near-duplicate images by decoded luminance-histogram distance — the
    * image arm of the dedup suite (C1/C2 catch byte- and text-level
    * duplicates; re-encoded or resized images need a CONTENT feature):
    * pairs of decodable images whose 8-bin normalized luminance
    * histograms are within L1 distance `maxL1`.
    *
    * Blocking: dominant-luminance bin (argmax of the histogram, first-max
    * tiebreak) — 8 blocks; two images within small L1 usually share their
    * dominant bin, the same recall-for-scale trade q44 makes with label
    * blocks (an exact variant would LSH the histogram like q46). The
    * quadratic is confined inside blocks; at corpus scale salt the block
    * key (Skew.saltedSelfPairs' discipline — dominant bins are skewed by
    * construction). Verification is an exact per-pair L1 fold over the
    * 8-float histograms; features come from ONE real PNG decode pass
    * ([[imagesFromDocuments]] → [[decodeImage]] — true container
    * round-trip), materialized once, never re-decoded per pair. */
  def q154ImageNearDup(spark: SparkSession, dir: String,
      maxL1: Double = 0.02): DataFrame = {
    val imgs = graft.Lineage.truncate(
      decode(imagesFromDocuments(spark, dir))
        .filter(col("kind") === "image" && col("width").isNotNull)
        // float→double hoisted here: once per image, not per pair
        .select(col("media_id"),
          expr("transform(feature, x -> cast(x as double))").as("feature"))
        .withColumn("bin",
          expr("array_position(feature, array_max(feature))").cast("int")),
      eager = false).df
    imgs.select(col("media_id").as("img_a"), col("feature").as("fa"),
        col("bin"))
      .join(imgs.select(col("media_id").as("img_b"), col("feature").as("fb"),
        col("bin")), Seq("bin"))
      .filter(col("img_a") < col("img_b"))
      // native codegen'd kernel — the HOF fold runs interpreted and
      // allocates a fresh array per pair (q181's lesson)
      .withColumn("l1",
        graft.functions.L1Distance.ofColumns(col("fa"), col("fb")))
      .filter(col("l1") <= maxL1)
      .select(col("img_a"), col("img_b"), col("bin").cast("long").as("bin"),
        col("l1"))
  }

  /** Deterministic REAL lossy re-encodes: the same pixel content as
    * [[imagesFromDocuments]] pushed through the JDK's actual JPEG encoder
    * (quality 0.7) — different container, different bytes, slightly
    * different pixels. The adversary [[q181JpegNearDup]] must defeat. */
  def jpegsFromDocuments(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Skew.fanOutForCpu( // codec fan-out; no-op at scale (imagesFromDocuments)
      Tables.documents(spark, dir)
        .filter(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id"), col("text")), "doc_id")
      .as[(Long, String)]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        val writer = javax.imageio.ImageIO
          .getImageWritersByFormatName("jpg").next()
        val params = writer.getDefaultWriteParam
        params.setCompressionMode(
          javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        params.setCompressionQuality(0.7f)
        rows.map { case (id, text) =>
          val tb = text.getBytes("UTF-8")
          val w = 16; val h = 16
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var p = 0
          while (p < w * h) {
            def b(i: Int) = if (tb.isEmpty) 0 else tb((p * 3 + i) % tb.length) & 0xFF
            img.setRGB(p % w, p / w, (b(0) << 16) | (b(1) << 8) | b(2))
            p += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          writer.setOutput(ios)
          writer.write(null,
            new javax.imageio.IIOImage(img, null, null), params)
          ios.close()
          (id, "image", bos.toByteArray)
        }
      }
      .toDF("media_id", "kind", "bytes")
  }

  /** Decode an image payload to a SPATIAL feature: the 4×4 grid of block
    * mean luminances (16 doubles in 0..1) plus the overall mean. Block
    * means are what survives lossy DCT re-encoding — quantization noise
    * averages out within a block — where q154's global histogram
    * (bin-membership of individual pixels) does not. Real `ImageIO`
    * decode, typed mapPartitions, in-plan (the C12 discipline). */
  def decodeBlockFeatures(media: DataFrame): DataFrame = {
    import media.sparkSession.implicits._
    media.select(col("media_id"), col("bytes"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.flatMap { case (id, bytes) =>
          val img =
            try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            catch { case _: Throwable => null }
          if (img == null) None
          else {
            val w = img.getWidth; val h = img.getHeight
            val g = 8 // 8×8 grid: fine spatial signal, DCT noise averages within blocks
            val sums = new Array[Double](g * g)
            val counts = new Array[Long](g * g)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val lum = (((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) +
                  (rgb & 0xFF)) / (3.0 * 255.0)
                val b = math.min(g - 1, y * g / h) * g +
                  math.min(g - 1, x * g / w)
                sums(b) += lum; counts(b) += 1
                x += 1
              }
              y += 1
            }
            val means = Array.tabulate(g * g)(i =>
              if (counts(i) == 0) 0.0 else sums(i) / counts(i))
            Some((id, means, means.sum / (g * g)))
          }
        }
      }
      .toDF("media_id", "blocks", "mean_lum")
  }

  // ---------------------------------------------------------------- C77
  /** Lossy-re-encode provenance retrieval — the dedup case q154's
    * lossless round-trip can't represent: the SAME picture re-saved
    * through a REAL lossy codec (the JDK JPEG encoder at quality 0.7)
    * has different bytes, a different container, and perturbed pixels,
    * so hash dedup, text dedup, and exact-pixel compare all miss it;
    * only decoded-content features survive. Each JPEG re-encode
    * retrieves its `k` best-matching PNG originals by block-mean-L1
    * ([[decodeBlockFeatures]]: 8×8 grid — DCT noise averages out within
    * blocks where q154's per-pixel histogram membership does not).
    * Ranked retrieval, not a fixed threshold: this corpus's images are
    * byte-noise renderings of overlapping vocabulary, so distinct
    * documents produce legitimately similar pictures and no global
    * threshold separates "same picture re-encoded" from "nearly the same
    * picture" — the spec prices exactly that (recall@1 ≥ 0.95, recall@k
    * = 1.0 for the true source).
    *
    * Blocking with a RECALL GUARANTEE: candidates bucket on
    * ⌊mean_lum·B⌋ and the JPEG side probes its bucket ±1 — if lossy
    * noise moves the overall mean by < 1/B the true pair shares a probed
    * bucket BY ARITHMETIC, not luck (measured shift ~0.005, guaranteed
    * while 1/B stays above it with margin).
    *
    * B is ADAPTIVE by default (`buckets = 0`): a FIXED bucket count makes
    * the candidate scan Θ(n²/B). B now grows with the corpus (⌈n/512⌉,
    * clamped to [16, 96]) so per-bucket population stays bounded on a
    * corpus whose luminance has spread; the 96 cap keeps 1/B ≈ 0.0104 ≥
    * 2× the measured 0.005 global-mean noise shift, preserving the recall
    * guarantee. At the driver's test scales (≤5k docs) the clamp floors
    * at the original 16, so results are byte-identical there.
    *
    * Measured SNR wall on THIS corpus (r17 scaling curve): byte-noise
    * renderings give every linear statistic the same signal-to-noise —
    * global mean_lum spans 0.043 against a 0.005 jpeg shift (~4 effective
    * partitions however large B is), and per-block means are WORSE (shift
    * up to 0.085 vs 0.118 spread — no guarantee-compatible cell exists).
    * So on this adversarial corpus the candidate scan is Θ(n²/4) BY
    * CONSTRUCTION of the data, not the plan — the quadratic lives in the
    * codegen'd L1 kernel and measured 124 s at 50k docs (sf1) — while on
    * natural images (structured luminance, spread ≫ shift) the same
    * adaptive blocking is Θ(n²/B) with B up to 96. A probabilistic LSH
    * key could go further here but would trade away the arithmetic
    * recall@1 guarantee the spec prices.
    *
    * POPULATION GATE (q122's over-cap discipline applied to retrieval):
    * the SNR wall above means a degenerate corpus concentrates the scan
    * in ~4 buckets however large B grows — without a gate that quadratic
    * runs SILENTLY (measured 41× superlinear at sf1). A png bucket whose
    * population exceeds `maxBucket` is EXCLUDED from the candidate scan,
    * loudly (stderr, first 20 buckets shown), and every jpeg whose ±1
    * probe window touches an excluded bucket emits ONE explicit unknown
    * row (`rank`/`png_id`/`l1` all NULL) instead of a top-k list — a
    * partial list from the surviving buckets would be a silently
    * incomplete answer, the exact failure q122 refuses ("over-cap cells
    * → verdict NULL, never a silent survivor"). Jpegs untouched by any
    * exclusion keep byte-identical results; when nothing is over cap the
    * plan is unchanged. The default cap (2000) clears every driver test
    * scale (max bucket ~600 at sf0.1) and trips on the sf1.0 byte-noise
    * corpus, converting the 41× tail into a loud refusal.
    *
    * Features decoded ONCE and materialized; exact per-pair L1 fold in
    * codegen; the per-jpeg top-k compiles to WindowGroupLimit. Rows-only
    * (JPEG bytes aren't SQL).  */
  def q181JpegNearDup(spark: SparkSession, dir: String,
      k: Int = 5, buckets0: Int = 0, maxL1: Double = 0.04,
      maxBucket: Int = 2000): DataFrame = {
    val pngs = graft.Lineage.truncate(
      decodeBlockFeatures(imagesFromDocuments(spark, dir)), eager = false).df
    val jpgs = graft.Lineage.truncate(
      decodeBlockFeatures(jpegsFromDocuments(spark, dir)), eager = false).df
    val buckets =
      if (buckets0 > 0) buckets0
      // the pngs frame is already materialized — count() is cheap
      else adaptiveBuckets(pngs.count())
    jpegNearDupFromFeatures(pngs, jpgs, k, buckets, maxL1, maxBucket)
  }

  /** Adaptive luminance-bucket count for [[q181JpegNearDup]]: B grows
    * with the corpus (⌈n/`perBucket`⌉) so per-bucket population stays
    * bounded when luminance has spread, clamped to [16, 96] — the 96 cap
    * keeps the probe window 1/B ≈ 0.0104 ≥ 2× the measured 0.005 jpeg
    * global-mean shift, preserving the arithmetic recall guarantee. */
  def adaptiveBuckets(n: Long, perBucket: Int = 512): Int =
    math.max(16L, math.min(96L, (n + perBucket - 1) / perBucket)).toInt

  /** The bucketed retrieval core of [[q181JpegNearDup]], over
    * already-decoded feature frames `(media_id, blocks, mean_lum)` —
    * split out so specs can drive the adaptive-B and over-cap paths on
    * planted feature corpora without paying an image-codec pass. */
  def jpegNearDupFromFeatures(pngs: DataFrame, jpgs: DataFrame,
      k: Int, buckets: Int, maxL1: Double, maxBucket: Int): DataFrame = {
    val a = pngs.select(col("media_id").as("png_id"),
      col("blocks").as("fa"),
      floor(col("mean_lum") * buckets).cast("long").as("bkt"))
    val b = jpgs.select(col("media_id").as("jpeg_id"),
      col("blocks").as("fb"),
      explode(expr(s"sequence(floor(mean_lum * $buckets) - 1, " +
        s"floor(mean_lum * $buckets) + 1)")).as("bkt"))
    // Population gate: the over-cap set is ≤ B+2 rows after a map-side
    // partial agg, so collect it ONCE (the bounded collect is the
    // saltedSelfPairs "no silent caps" discipline) and reuse the keys as
    // literals — re-evaluating the groupBy for the gate filter and again
    // for the touched-jpeg probe would run the same aggregation three
    // times over the png frame.
    // a null bkt (null mean_lum) can group over cap too, but null keys
    // never meet ANY probe in the equi-join below (null ≠ null there), so
    // they are invisible to the candidate scan — drop the null group
    // before collecting, where it would otherwise NPE the getLong
    val dropped = Skew.oversizeBlocks(a.filter(col("bkt").isNotNull),
      "bkt", maxBucket).collect()
    val droppedKeys = dropped.map(_.getLong(0)).toSeq
    if (dropped.nonEmpty)
      System.err.println(
        s"[graft] q181JpegNearDup(maxBucket=$maxBucket, B=$buckets) " +
          s"EXCLUDING ${dropped.length} over-cap luminance bucket(s) " +
          "(first 20 shown; touched jpegs get NULL verdicts): " +
          dropped.take(20)
            .map(r => s"bkt=${r.getLong(0)}(${r.getLong(1)} pngs)")
            .mkString(", "))
    // the adaptive default keeps the excluded set ≤ B+2 ≤ 98 — cheap as
    // isin literals. A caller-supplied buckets0 on a degenerate corpus
    // can push it to thousands, where a literal list bloats codegen:
    // past a small threshold use the bounded broadcast (anti-)join the
    // pre-r18 gate used — same semantics, plan-sized cost.
    import org.apache.spark.sql.functions.broadcast
    lazy val droppedDf = {
      val s = pngs.sparkSession
      import s.implicits._
      droppedKeys.toDF("bkt")
    }
    val inlineGate = droppedKeys.size <= 128
    val aOk =
      if (dropped.isEmpty) a
      else if (inlineGate) a.filter(!col("bkt").isin(droppedKeys: _*))
      else a.join(broadcast(droppedDf), Seq("bkt"), "left_anti")
    // a (jpeg, png) pair meets in EXACTLY one bucket (the png holds one
    // bucket; the jpeg's three probes are distinct) — no distinct needed.
    // The pair scan is the hot path (a degenerate-luminance corpus can
    // put most images in one bucket): score with the native codegen'd
    // L1 kernel ([[graft.functions.L1Distance]]) — the HOF fold
    // materializes a fresh array per pair and runs interpreted (15×
    // measured on this scan, the DotProduct lesson applied to distance).
    val scored = aOk.join(b, Seq("bkt"))
      .withColumn("l1",
        graft.functions.L1Distance.ofColumns(col("fa"), col("fb")) / 64.0)
      .filter(col("l1") <= maxL1)
      .select(col("jpeg_id"), col("png_id"), col("l1"))
    import org.apache.spark.sql.expressions.Window
    val ranked = scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("jpeg_id"))
          .orderBy(col("l1").asc, col("png_id").asc)).cast("long"))
      .filter(col("rank") <= k)
      .select(col("jpeg_id"), col("rank"), col("png_id"), col("l1"))
    if (dropped.isEmpty) ranked
    else {
      // jpegs whose probe window intersects an excluded bucket: explicit
      // unknown — their candidate set is incomplete, so NO partial top-k.
      // `touched` carries NO broadcast hint: a fully-degenerate corpus
      // makes it every jpeg id, far past driver memory at 100 TB — let
      // AQE pick the strategy from its measured size.
      val touched = (
        if (inlineGate) b.filter(col("bkt").isin(droppedKeys: _*))
        else b.join(broadcast(droppedDf), Seq("bkt"), "left_semi"))
        .select(col("jpeg_id")).distinct()
      val unknown = touched.select(col("jpeg_id"),
        lit(null).cast("long").as("rank"),
        lit(null).cast("long").as("png_id"),
        lit(null).cast("double").as("l1"))
      ranked.join(touched, Seq("jpeg_id"), "left_anti")
        .unionAll(unknown)
    }
  }

  /** Frame-sampling shape for video payloads: slice the payload into
    * fixed-size "frames" and emit every `stride`-th — pure builtins. */
  def frameSample(media: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"),
        posexplode(transform(
          sequence(lit(0),
            greatest(floor(length(col("bytes")) / frameBytes).cast("int") - 1, lit(0)),
            lit(stride)),
          i => substring(col("bytes"), (i * frameBytes + 1).cast("int"), lit(frameBytes)))))
      .withColumnRenamed("pos", "frame_no")
      .withColumnRenamed("col", "frame_bytes")

  // ---------------------------------------------------------------- C124
  /** Scene-cut detection over REAL decoded video: consecutive-frame
    * luminance-histogram L1 distance, a cut where it exceeds
    * `threshold` — the shot-boundary primitive every video curation
    * pipeline runs before keyframe selection (C12's frame sampling takes
    * every k-th frame; sampling AT CUTS is what a training set actually
    * wants). Emits per clip the frame count, cut count, and the largest
    * inter-frame jump.
    *
    * Determinism (rows-only — no SQL engine decodes AVI): the histogram
    * fold is a fixed left-to-right `aggregate` over the 8 bins and the
    * per-clip window orders by frame_no, so the result is reproducible
    * run-to-run; the spec replays the L1s definitionally from the same
    * decoded frames. Scale: decode is the map-only [[videoFrames]] pass;
    * the lag window partitions by media_id (key-parallel, frames-per-
    * clip-bounded); one rollup to ≤\|clips\| rows. */
  def q312SceneCuts(spark: SparkSession, dir: String,
      threshold: Double = 0.25): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val fr = videoFrames(videoFromDocuments(spark, dir), stride = 1)
    val byClip = Window.partitionBy(col("media_id")).orderBy(col("frame_no"))
    val prev = lag(col("feature"), 1).over(byClip)
    val l1 = aggregate(
      zip_with(col("feature"), prev, (a, b) => abs(a - b)),
      lit(0.0d), (acc, x) => acc + x)
    fr.withColumn("l1", when(prev.isNotNull, l1))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("l1") > threshold, 1L).otherwise(0L)).as("n_cuts"),
        max(col("l1")).as("max_jump"))
  }
}
