package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (SURVEY.md §2 B12): image/audio/video as
  * opaque `binary` payloads + typed metadata, processed in
  * partition-local batches.
  *
  * IMAGES decode for real: the JDK's java.desktop module ships PNG and
  * JPEG ImageIO readers/writers and they work headless in this image
  * (verified — the earlier "codecs absent" declaration only holds for
  * audio/video, where ffmpeg-class decoders genuinely are missing and
  * [[stubDecode]] remains the clearly-marked deterministic stand-in).
  * Everything around the codec — schema, batching, partition-local
  * iteration, output shape — is the real production plumbing either
  * way; swapping the remaining stubs for a JNI/codec call (or moving
  * the stage to `mapInPandas` in a PySpark deployment with ffmpeg)
  * changes one function.
  *
  * Scale: payloads never shuffle — decode/feature-extract run in the
  * scan's own partitions (`mapPartitions`), so the expensive bytes move
  * zero times; only the small feature rows flow downstream.
  */
object MultimodalOps {

  // ImageIO's default stream cache backs every read/write with a TEMP
  // FILE on disk; these payloads are small in-memory byte arrays, so
  // the cache is pure disk I/O + registry contention per image (r13 —
  // guide §1.2 per-task work). Memory-cached streams produce the
  // identical bytes.
  javax.imageio.ImageIO.setUseCache(false)

  /** Real image decode via the JDK codec (PNG/JPEG/GIF/BMP). None for
    * bytes no installed reader accepts — callers fall back to the
    * stub so non-image payloads still flow through the pipeline. */
  def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
    catch { case _: java.io.IOException => None }

  /** Real PNG encode of a solid-color image — the deterministic
    * generator behind [[syntheticImages]] and the codec specs. */
  def renderPng(width: Int, height: Int, rgb: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      width, height, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(rgb))
    g.fillRect(0, 0, width, height)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Patterned grayscale PNG for perceptual-hash work: 9×8 pixels,
    * g(x,y) = ((k mod 199)² mod 199) mod 128 + bright·5 with
    * k = seed·31 + x·17 + y·29 — genuine pixel structure (flat fills
    * hash to all-zeros), and the brightness term shifts every pixel
    * equally, so adjacent-pixel ORDER (what dHash reads) is invariant
    * while the bytes differ. No value clamps (≤ 152 < 255), so the
    * closed form survives the PNG round-trip exactly. */
  def renderPatternPng(seed: Long, bright: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      9, 8, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 9) {
      val k = (seed * 31 + x * 17 + y * 29) % 199
      val g = ((k * k) % 199 % 128 + bright * 5).toInt
      img.setRGB(x, y, (g << 16) | (g << 8) | g)
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic patterned-image corpus: doc_id div 6 picks the
    * pattern seed (6 consecutive ids share one image up to brightness),
    * doc_id mod 6 the brightness. */
  def syntheticPatternImages(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        ImageRow(id, renderPatternPng(id / 6, (id % 6).toInt))
      })
      .toDF()
  }

  /** Per-image difference hash (dHash): decode the real PNG, read the
    * 9×8 grayscale grid, emit 64 adjacent-compare bits packed
    * little-endian into a decimal string (bit (x,y) = 1 iff
    * g(x+1,y) > g(x,y), weight 2^(y·8+x); a string because the top
    * bit overflows signed 64). Undecodable payloads are dropped. */
  final case class DHashRow(media_id: Long, dhash: String)
  def dHash(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeImage(payload).filter(i => i.getWidth == 9 && i.getHeight == 8)
          .map { img =>
            var acc = BigInt(0)
            for (y <- 0 until 8; x <- 0 until 8) {
              val a = img.getRGB(x, y) & 0xff
              val b = img.getRGB(x + 1, y) & 0xff
              if (b > a) acc = acc.setBit(y * 8 + x)
            }
            DHashRow(id, acc.toString)
          }
      })
      .toDF()
  }

  /** One real-PNG media row. */
  final case class ImageRow(media_id: Long, payload: Array[Byte])

  /** Real PNG payloads with dimensions/color that are pure arithmetic
    * in doc_id — so an engine-external oracle can predict exactly what
    * a real decode must return (the hash-green codec round trip in
    * media_image_decode). Rendered partition-locally; payloads never
    * shuffle. */
  def syntheticImages(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val w = 16 + (id % 32).toInt
        val h = 16 + ((id * 7) % 32).toInt
        val rgb = (((id % 256) << 16) | (((id * 3) % 256) << 8) | ((id * 7) % 256)).toInt
        ImageRow(id, renderPng(w, h, rgb))
      })
      .toDF()
  }

  /** Decoded geometry + the top-left pixel's channels, one row per
    * decodable image (real codec, no stub). */
  final case class ImageStatsRow(
      media_id: Long, width: Long, height: Long, r: Long, g: Long, b: Long)

  /** Decode real image payloads and emit per-image stats — undecodable
    * payloads are dropped (this is the strict-codec path; use
    * [[decodeFeatures]] for the tolerant mixed-media one). */
  def decodeImageStats(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeImage(payload).map { img =>
          val px = img.getRGB(0, 0)
          ImageStatsRow(id, img.getWidth.toLong, img.getHeight.toLong,
            (px >> 16) & 0xff, (px >> 8) & 0xff, px & 0xff)
        }
      })
      .toDF()
  }

  /** Deterministic fake of a codec: "decodes" dimensions/duration from
    * payload bytes. STUB — replace with a real decoder off-image. */
  def stubDecode(mediaType: String, payload: Array[Byte]): (Int, Int, Double) = {
    val n = payload.length
    val h = java.util.Arrays.hashCode(payload)
    mediaType match {
      case "image" => (512 + math.abs(h % 1024), 512 + math.abs((h / 1024) % 1024), 0.0)
      case "audio" => (1, 0, n / 16000.0) // "samples at 16kHz"
      case "video" => (640, 480, n / 1e5)
      case _ => (0, 0, 0.0)
    }
  }

  /** Synthetic media table derived from `documents` (texts as payload
    * bytes) — stands in for a real binary-column source so the
    * pipeline is exercisable in tests. */
  def syntheticMedia(documents: DataFrame): DataFrame =
    documents.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("payload"),
      col("source"))

  /** Mixed real-codec corpus: doc_id mod 3 picks the modality, and
    * every payload is a REAL wire format whose decoded numbers are
    * pure arithmetic in doc_id — PNG ([[syntheticImages]] formulas),
    * RIFF/WAVE PCM16 ([[syntheticAudio]] formulas), YUV4MPEG2
    * ([[syntheticVideo]] formulas) — so a mixed-type feature pass is
    * engine-externally checkable end to end. Rendered
    * partition-locally; payloads never shuffle. */
  def syntheticMixedMedia(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        (id % 3) match {
          case 0 =>
            val w = 16 + (id % 32).toInt
            val h = 16 + ((id * 7) % 32).toInt
            val rgb = (((id % 256) << 16) | (((id * 3) % 256) << 8) | ((id * 7) % 256)).toInt
            (id, "image", renderPng(w, h, rgb), "syn")
          case 1 =>
            val n = (4000 + id % 1000).toInt
            val samples = Array.tabulate(n)(i =>
              ((id * 31 + i * 7919L) % 65536 - 32768).toShort)
            (id, "audio", renderWav(16000, samples), "syn")
          case _ =>
            val n = (8 + id % 5).toInt
            val frames = Array.tabulate(n) { f =>
              val buf = new Array[Byte](16 * 16 * 3 / 2)
              var i = 0
              while (i < 256) { buf(i) = ((id * 13 + f * 101 + i * 7L) % 256).toByte; i += 1 }
              var j = 0
              while (j < 64) {
                buf(256 + j) = ((id * 17 + f * 19 + j * 3L) % 256).toByte
                buf(320 + j) = ((id * 23 + f * 29 + j * 5L) % 256).toByte
                j += 1
              }
              buf
            }
            (id, "video", renderY4m(16, 16, frames), "syn")
        }
      })
      .toDF("media_id", "media_type", "payload", "source")
  }

  /** Uniform feature row from REAL per-type decoders (no stub):
    * n_units = pixels for images, samples for audio, frames for
    * video; duration_ms exact floor arithmetic. */
  final case class MediaRealFeatureRow(
      media_id: Long, media_type: String, width: Long, height: Long,
      duration_ms: Long, n_units: Long)

  /** Type-dispatched REAL decode over a mixed media corpus — the
    * strict-codec counterpart of [[decodeFeatures]]: images through
    * ImageIO, audio through [[decodeWav]], video through
    * [[decodeY4m]]; undecodable payloads are dropped. Partition-local
    * batches; payloads never shuffle. */
  def decodeMediaFeatures(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select("media_id", "media_type", "payload")
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, mt, payload) =>
        mt match {
          case "image" => decodeImage(payload).map(img =>
            MediaRealFeatureRow(id, mt, img.getWidth.toLong, img.getHeight.toLong,
              0L, img.getWidth.toLong * img.getHeight))
          case "audio" => decodeWav(payload).map(clip =>
            MediaRealFeatureRow(id, mt, 0L, 0L,
              clip.samples.length.toLong * 1000L / clip.sampleRate,
              clip.samples.length.toLong))
          case "video" => decodeY4m(payload).map(clip =>
            MediaRealFeatureRow(id, mt, clip.width.toLong, clip.height.toLong,
              clip.frames.length * 1000L / 25, clip.frames.length.toLong))
          case _ => None
        }
      })
      .toDF()
  }

  /** One small feature row per media item. */
  final case class MediaFeatureRow(
      media_id: Long, media_type: String, n_bytes: Long,
      width: Int, height: Int, duration_s: Double, byte_entropy: Double)

  /** Decode + feature-extract, batched per partition. Output: one small
    * feature row per media item; payload is dropped before any shuffle.
    * Typed `Dataset.mapPartitions` (not `.rdd`), so rows stay on the
    * encoder/Tungsten path end to end — no RDD drop-out around the
    * imperative decode stage. */
  def decodeFeatures(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select("media_id", "media_type", "payload")
      .as[(Long, String, Array[Byte])]
      .mapPartitions(_.map { case (id, mt, payload) =>
        // images decode for real when the bytes are a supported
        // format; anything else (and audio/video, whose codecs the
        // image lacks) takes the deterministic stub
        val (w, h, dur) = (if (mt == "image") decodeImage(payload) else None) match {
          case Some(img) => (img.getWidth, img.getHeight, 0.0)
          case None => stubDecode(mt, payload)
        }
        MediaFeatureRow(id, mt, payload.length.toLong, w, h, dur, byteEntropy(payload))
      })
      .toDF()
  }

  /** Shannon entropy of the byte histogram — a real (non-stub) feature
    * usable for corrupt-file and compression screening. */
  def byteEntropy(bytes: Array[Byte]): Double = {
    if (bytes.isEmpty) return 0.0
    val counts = new Array[Long](256)
    bytes.foreach(b => counts(b & 0xff) += 1)
    val n = bytes.length.toDouble
    var e = 0.0
    counts.foreach { c =>
      if (c > 0) { val p = c / n; e -= p * math.log(p) / math.log(2) }
    }
    e
  }

  /** One resized media item (source metadata carried through). */
  final case class ResizedRow(
      media_id: Long, media_type: String, width: Int, height: Int,
      payload: Array[Byte], source: String)

  /** STUB of a pixel resampler: deterministic byte decimation to the
    * target payload budget — stands in for a real resize kernel. */
  def stubResize(payload: Array[Byte], targetBytes: Int): Array[Byte] = {
    if (payload.length <= targetBytes) payload
    else {
      val out = new Array[Byte](targetBytes)
      val stride = payload.length.toDouble / targetBytes
      var i = 0
      while (i < targetBytes) { out(i) = payload((i * stride).toInt); i += 1 }
      out
    }
  }

  /** Resize images to fit bounded dimensions (the preprocessing step
    * before feature extraction / training). Aspect ratio is PRESERVED:
    * both dims scale by min(1, maxW/w, maxH/h), like a real fit-resize
    * — clamping each dimension independently would squash non-square
    * sources. Decodable images go through a REAL resample
    * (Graphics2D bilinear draw + PNG re-encode, all JDK); payloads no
    * installed reader accepts keep the declared stub pair so mixed
    * media still flows. The Spark plumbing is identical either way:
    * typed partition-local batches (payloads never shuffle), bounded
    * output size per item, non-image rows and the source metadata
    * pass through untouched. */
  def resizeImages(media: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select("media_id", "media_type", "payload", "source")
      .as[(Long, String, Array[Byte], String)]
      .mapPartitions(_.map { case (id, mt, payload, source) =>
        if (mt != "image") ResizedRow(id, mt, -1, -1, payload, source)
        else decodeImage(payload) match {
          case Some(img) =>
            val (w, h) = (img.getWidth, img.getHeight)
            val scale = math.min(1.0, math.min(maxW.toDouble / w, maxH.toDouble / h))
            val (ow, oh) = (math.max(1, (w * scale).toInt), math.max(1, (h * scale).toInt))
            val out = new java.awt.image.BufferedImage(
              ow, oh, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.setRenderingHint(
              java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, ow, oh, null)
            g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            ResizedRow(id, mt, ow, oh, bos.toByteArray, source)
          case None =>
            val (w, h, _) = stubDecode(mt, payload)
            val scale = math.min(1.0, math.min(maxW.toDouble / w, maxH.toDouble / h))
            val (ow, oh) = (math.max(1, (w * scale).toInt), math.max(1, (h * scale).toInt))
            // budget scales with the area ratio, floor 1 byte
            val budget = math.max(1,
              (payload.length.toDouble * (ow.toDouble * oh) / (w.toDouble * h)).toInt)
            ResizedRow(id, mt, ow, oh, stubResize(payload, budget), source)
        }
      })
      .toDF()
  }

  /** Decoded PCM clip. */
  final case class WavClip(sampleRate: Int, samples: Array[Short])

  /** Real RIFF/WAVE PCM16 mono encoder — the deterministic generator
    * behind [[syntheticAudio]] and the codec specs (the audio
    * counterpart of [[renderPng]]: a genuine wire format, not a stub
    * — any WAV reader, including the JDK's javax.sound, accepts the
    * output; AudioCodecSpec cross-validates exactly that). */
  def renderWav(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2) // byte rate
      .putShort(2).putShort(16) // block align, bits
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** Real RIFF/WAVE parse (PCM16 mono, the canonical 44-byte header).
    * None for anything that isn't that — truncated payloads, wrong
    * magics, compressed/stereo/other-width variants — so non-audio
    * bytes flow to the caller's fallback exactly like
    * [[decodeImage]]'s None path. */
  def decodeWav(payload: Array[Byte]): Option[WavClip] = {
    if (payload.length < 44) return None
    val bb = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def tag(): String = {
      val m = new Array[Byte](4); bb.get(m); new String(m, "US-ASCII")
    }
    if (tag() != "RIFF") return None
    bb.getInt // declared RIFF size; the data chunk length is authoritative
    if (tag() != "WAVE" || tag() != "fmt ") return None
    if (bb.getInt != 16) return None
    if (bb.getShort != 1 || bb.getShort != 1) return None // PCM, mono
    val rate = bb.getInt
    bb.getInt; bb.getShort // byte rate, block align (redundant)
    if (bb.getShort != 16) return None
    if (tag() != "data") return None
    val dataLen = bb.getInt
    if (dataLen < 0 || dataLen % 2 != 0 || 44 + dataLen > payload.length) return None
    val out = new Array[Short](dataLen / 2)
    var i = 0
    while (i < out.length) { out(i) = bb.getShort; i += 1 }
    Some(WavClip(rate, out))
  }

  /** One real-WAV media row. */
  final case class AudioRow(media_id: Long, payload: Array[Byte])

  /** Real WAV payloads whose sample values are pure arithmetic in
    * doc_id — 16 kHz mono PCM16, n = 4000 + id%1000 samples,
    * s_i = (id·31 + i·7919) mod 65536 − 32768 — so an engine-external
    * oracle predicts exactly what a real decode must return. Rendered
    * partition-locally; payloads never shuffle. */
  def syntheticAudio(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (4000 + id % 1000).toInt
        val samples = Array.tabulate(n)(i =>
          ((id * 31 + i * 7919L) % 65536 - 32768).toShort)
        AudioRow(id, renderWav(16000, samples))
      })
      .toDF()
  }

  /** Decoded per-clip stats, all exact integers: duration in ms by
    * floor division, energy as the exact Σs² long, peak = max |s|. */
  final case class AudioStatsRow(
      media_id: Long, n_samples: Long, sample_rate_hz: Long,
      duration_ms: Long, sum_sq: Long, peak: Long)

  /** Decode real WAV payloads and emit per-clip stats — undecodable
    * payloads are dropped (strict-codec path, like
    * [[decodeImageStats]]). */
  def decodeAudioStats(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeWav(payload).map { clip =>
          var sumSq = 0L
          var peak = 0L
          clip.samples.foreach { v =>
            sumSq += v.toLong * v
            if (math.abs(v.toLong) > peak) peak = math.abs(v.toLong)
          }
          AudioStatsRow(id, clip.samples.length.toLong, clip.sampleRate.toLong,
            clip.samples.length.toLong * 1000L / clip.sampleRate, sumSq, peak)
        }
      })
      .toDF()
  }

  /** Per-clip voice-activity summary, all exact integers. */
  final case class VadRow(
      media_id: Long, n_frames: Long, active_frames: Long,
      n_segments: Long, longest_run: Long, active_ppm: Long)

  /** Frame-energy voice-activity detection over decoded WAV clips:
    * fixed-length sample frames (trailing partial frame dropped), a
    * frame is ACTIVE iff its exact Σs² energy exceeds `threshold`, and
    * activity segments are maximal runs of consecutive active frames.
    * Payloads decode and segment partition-locally — the classic
    * speech-preprocessing step in front of any ASR/quality pipeline. */
  def vadStats(media: DataFrame, frameLen: Int, threshold: Long): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeWav(payload).map { clip =>
          // primitive while-loops: the grouped/map/sum chain boxed every
          // sample's square across 20k clips × ~4.5k samples (r13);
          // identical exact long arithmetic, same trailing-frame drop
          val nFrames = clip.samples.length / frameLen
          val energies = new Array[Long](nFrames)
          var f = 0
          while (f < nFrames) {
            var e = 0L
            var i = f * frameLen
            val end = i + frameLen
            while (i < end) {
              val v = clip.samples(i).toLong
              e += v * v
              i += 1
            }
            energies(f) = e
            f += 1
          }
          val active = energies.map(_ > threshold)
          var segments = 0L
          var longest = 0L
          var run = 0L
          active.foreach { a =>
            if (a) {
              if (run == 0) segments += 1
              run += 1
              if (run > longest) longest = run
            } else run = 0
          }
          val nAct = active.count(identity).toLong
          VadRow(id, energies.length.toLong, nAct, segments, longest,
            if (energies.isEmpty) 0L else nAct * 1000000L / energies.length)
        }
      })
      .toDF()
  }

  // ----- video: YUV4MPEG2 (Y4M), the standard uncompressed container -----

  final case class Y4mClip(width: Int, height: Int, frames: Array[Array[Byte]])

  /** Real YUV4MPEG2 writer — plain-text stream header
    * (`YUV4MPEG2 W.. H.. F25:1 Ip A1:1 C420jpeg`), then per frame a
    * `FRAME` marker line + the raw 4:2:0 planes (Y then quarter-size
    * U and V, w*h*3/2 bytes). The format is public and trivially
    * verifiable byte-for-byte; frames are passed as full plane
    * buffers. */
  def renderY4m(width: Int, height: Int, frames: Array[Array[Byte]]): Array[Byte] = {
    require(width % 2 == 0 && height % 2 == 0, "4:2:0 needs even dimensions")
    val frameLen = width * height * 3 / 2
    require(frames.forall(_.length == frameLen), s"each frame must be $frameLen bytes")
    val header = s"YUV4MPEG2 W$width H$height F25:1 Ip A1:1 C420jpeg\n".getBytes("US-ASCII")
    val marker = "FRAME\n".getBytes("US-ASCII")
    val out = new java.io.ByteArrayOutputStream(
      header.length + frames.length * (marker.length + frameLen))
    out.write(header)
    frames.foreach { f => out.write(marker); out.write(f) }
    out.toByteArray
  }

  /** Real YUV4MPEG2 parse (C420 family, fixed-size frames). Strict:
    * any malformed magic, missing W/H token, odd geometry, or
    * truncated frame returns None — non-video bytes never produce
    * phantom clips. */
  def decodeY4m(payload: Array[Byte]): Option[Y4mClip] = {
    val nl = payload.indexOf('\n'.toByte)
    if (nl <= 0) return None
    val header = new String(payload, 0, nl, "US-ASCII")
    val toks = header.split(' ')
    if (toks.isEmpty || toks(0) != "YUV4MPEG2") return None
    val w = toks.find(_.startsWith("W"))
      .flatMap(t => scala.util.Try(t.drop(1).toInt).toOption).getOrElse(return None)
    val h = toks.find(_.startsWith("H"))
      .flatMap(t => scala.util.Try(t.drop(1).toInt).toOption).getOrElse(return None)
    if (w <= 0 || h <= 0 || w % 2 != 0 || h % 2 != 0) return None
    val frameLen = w * h * 3 / 2
    val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var off = nl + 1
    while (off < payload.length) {
      // FRAME marker line (parameters after FRAME are legal; skip to \n)
      if (off + 5 > payload.length ||
        new String(payload, off, 5, "US-ASCII") != "FRAME") return None
      val markerEnd = payload.indexOf('\n'.toByte, off)
      if (markerEnd < 0 || markerEnd + 1 + frameLen > payload.length) return None
      frames += java.util.Arrays.copyOfRange(payload, markerEnd + 1,
        markerEnd + 1 + frameLen)
      off = markerEnd + 1 + frameLen
    }
    if (frames.isEmpty) None else Some(Y4mClip(w, h, frames.toArray))
  }

  final case class VideoRow(media_id: Long, payload: Array[Byte])

  /** Real Y4M payloads whose plane bytes are pure arithmetic in
    * doc_id — 16x16 C420 at 25 fps, n = 8 + id%5 frames,
    * Y(f, i) = (id*13 + f*101 + i*7) mod 256 over the 256 luma bytes,
    * U(f, j) = (id*17 + f*19 + j*3) mod 256 and
    * V(f, j) = (id*23 + f*29 + j*5) mod 256 over the 64 chroma bytes
    * each — so an engine-external oracle predicts exactly what a real
    * container parse must return. Rendered partition-locally. */
  def syntheticVideo(documents: DataFrame): DataFrame = {
    val s = documents.sparkSession
    import s.implicits._
    documents.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map { id =>
        val n = (8 + id % 5).toInt
        val frames = Array.tabulate(n) { f =>
          val buf = new Array[Byte](16 * 16 * 3 / 2)
          var i = 0
          while (i < 256) { buf(i) = ((id * 13 + f * 101 + i * 7L) % 256).toByte; i += 1 }
          var j = 0
          while (j < 64) {
            buf(256 + j) = ((id * 17 + f * 19 + j * 3L) % 256).toByte
            buf(320 + j) = ((id * 23 + f * 29 + j * 5L) % 256).toByte
            j += 1
          }
          buf
        }
        VideoRow(id, renderY4m(16, 16, frames))
      })
      .toDF()
  }

  /** Decoded + temporally-sampled per-clip stats, all exact integers:
    * every 2nd frame is sampled (the uniform-stride strategy), luma
    * sum/peak over the sampled Y planes, duration by floor division
    * at the container's 25 fps. */
  final case class VideoStatsRow(
      media_id: Long, width: Long, height: Long, n_frames: Long,
      duration_ms: Long, n_sampled: Long, y_sum: Long, y_peak: Long)

  /** Decode real Y4M payloads, sample every 2nd frame, and emit exact
    * integer luma stats — undecodable payloads are dropped (strict-
    * codec path, like [[decodeWav]]). */
  def decodeVideoStats(media: DataFrame): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        decodeY4m(payload).map { clip =>
          val lumaLen = clip.width * clip.height
          val sampled = clip.frames.indices.filter(_ % 2 == 0)
          var ySum = 0L
          var yPeak = 0L
          sampled.foreach { f =>
            val frame = clip.frames(f)
            var i = 0
            while (i < lumaLen) {
              val v = frame(i) & 0xff
              ySum += v
              if (v > yPeak) yPeak = v
              i += 1
            }
          }
          VideoStatsRow(id, clip.width.toLong, clip.height.toLong,
            clip.frames.length.toLong, clip.frames.length * 1000L / 25,
            sampled.length.toLong, ySum, yPeak)
        }
      })
      .toDF()
  }

  /** One sampled frame slice. */
  final case class FrameRow(media_id: Long, frame_idx: Int, frame: Array[Byte])

  /** Frame sampling for video payloads: fixed-count byte-window slices
    * standing in for decoded frames (the sampling STRATEGY — uniform
    * temporal stride, bounded frames per item — is the real logic).
    * Typed `Dataset.mapPartitions`, same encoder-path rationale as
    * [[decodeFeatures]]. */
  def sampleFrames(media: DataFrame, nFrames: Int, frameBytes: Int): DataFrame = {
    val s = media.sparkSession
    import s.implicits._
    media.filter(col("media_type") === "video")
      .select("media_id", "payload")
      .as[(Long, Array[Byte])]
      .mapPartitions(_.flatMap { case (id, payload) =>
        if (payload.isEmpty) Iterator.empty
        else {
          val stride = math.max(1, payload.length / nFrames)
          (0 until math.min(nFrames, payload.length)).iterator.map { i =>
            val from = i * stride
            val until = math.min(from + frameBytes, payload.length)
            FrameRow(id, i, java.util.Arrays.copyOfRange(payload, from, math.max(from + 1, until)))
          }
        }
      })
      .toDF()
  }
}
