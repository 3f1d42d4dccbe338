package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.CRC32

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus a decode/feature-extract stage.
  *
  * All three kinds are REAL decodes: the media table carries genuine PNG,
  * RIFF/WAVE, and MJPEG (concatenated JPEG frames) bytes — synthesized
  * deterministically from the document corpus, since the testdata has no
  * native media column — and the decode stage runs them through
  * `javax.imageio` / `javax.sound.sampled`. Dimensions, checksums,
  * luminance histograms, RMS envelopes, and per-frame brightness all derive
  * from actually-decoded pixels/samples. Video uses the MJPEG container
  * because no inter-frame codec ships with the JVM: frames split on the
  * JPEG EOI marker (sound — entropy-coded data byte-stuffs 0xFF) and each
  * frame decodes independently; a production inter-frame codec would slot
  * into `videoDecode` behind the same `decodeOne` seam. `fakeDecode`
  * remains only as the corrupt/unknown-bytes fallback.
  *
  * Scale notes: decode runs per-partition via mapPartitions (the Scala
  * analogue of mapInPandas batches) so a real decoder can amortize codec
  * init per partition; media rows are repartitioned by media_id before
  * decode so a huge corpus spreads evenly and no partition holds adjacent
  * (often same-source, same-size) blobs.
  */
object Multimodal {

  // ImageIO must not touch a display; set before any AWT class initializes.
  if (System.getProperty("java.awt.headless") == null)
    System.setProperty("java.awt.headless", "true")
  // ImageIO's default stream cache is a TEMP FILE per read/write — for the
  // small in-memory blobs this pipeline moves, that's one disk round-trip
  // per frame. Heap-backed streams instead.
  javax.imageio.ImageIO.setUseCache(false)

  case class MediaRow(media_id: Long, kind: String, content: Array[Byte])
  case class MediaFeatures(media_id: Long, kind: String, byte_len: Long,
                           checksum: Long, width: Int, height: Int,
                           n_frames: Int, feature: Array[Float])

  /** Deterministic synthetic PNG for a document: dimensions from the id,
    * pixels from an xorshift stream seeded by the text hash. Stand-in for a
    * real ingest's encoded bytes; everything downstream treats it as opaque.
    */
  private[graft] def encodePng(id: Long, text: String): Array[Byte] = {
    val w = 8 + (id % 24).toInt
    val h = 8 + ((id * 7) % 24).toInt
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var s = scala.util.hashing.MurmurHash3.stringHash(text, id.toInt) | 1
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        s ^= s << 13; s ^= s >>> 17; s ^= s << 5
        img.setRGB(x, y, s & 0xffffff)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Deterministic synthetic WAV for a document: 16-bit mono PCM at 8 kHz,
    * length and tone from the id, phase noise from the text hash — written
    * through `javax.sound.sampled`, so the bytes are a genuine RIFF/WAVE
    * stream any decoder accepts.
    */
  private[graft] def encodeWav(id: Long, text: String): Array[Byte] = {
    val sampleRate = 8000
    val nSamples = 400 + (id % 1600).toInt // 50–250 ms
    val freq = 100.0 + (id * 37 % 900)
    var s = scala.util.hashing.MurmurHash3.stringHash(text, id.toInt) | 1
    val pcm = new Array[Byte](nSamples * 2)
    var i = 0
    while (i < nSamples) {
      s ^= s << 13; s ^= s >>> 17; s ^= s << 5
      val noise = (s % 1000) / 1000.0 * 0.1
      val v = (math.sin(2 * math.Pi * freq * i / sampleRate) * 0.8 + noise) * 32767
      val sv = math.max(-32768, math.min(32767, v.toInt))
      pcm(2 * i) = (sv & 0xff).toByte          // little-endian per WAV PCM
      pcm(2 * i + 1) = ((sv >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, nSamples.toLong)
    val bos = new ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Deterministic synthetic MJPEG "video" for a document: 2–7 JPEG frames
    * (dimensions from the id, pixels from an xorshift stream seeded by the
    * text hash) concatenated back-to-back — the classic MJPEG container
    * shape, each frame independently decodable by `javax.imageio`.
    */
  private[graft] def encodeMjpeg(id: Long, text: String): Array[Byte] = {
    val nFrames = 2 + (id % 6).toInt
    val w = 8 + (id % 24).toInt
    val h = 8 + ((id * 7) % 24).toInt
    var s = scala.util.hashing.MurmurHash3.stringHash(text, id.toInt) | 1
    val bos = new ByteArrayOutputStream()
    var f = 0
    while (f < nFrames) {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          s ^= s << 13; s ^= s >>> 17; s ^= s << 5
          img.setRGB(x, y, s & 0xffffff)
          x += 1
        }
        y += 1
      }
      javax.imageio.ImageIO.write(img, "jpg", bos)
      f += 1
    }
    bos.toByteArray
  }

  private def looksLikeMjpeg(b: Array[Byte]): Boolean =
    b.length >= 2 && b(0) == 0xff.toByte && b(1) == 0xd8.toByte

  /** Real video decode: split the byte stream on JPEG EOI markers (0xFFD9 —
    * cannot occur inside a frame's entropy-coded data, where 0xFF is
    * byte-stuffed as 0xFF00), decode each frame via `javax.imageio`, and
    * derive features from the decoded pixels: width/height from frame 0,
    * n_frames = decoded frame count, feature = per-frame mean luminance
    * binned into an 8-slot temporal envelope, checksum over decoded RGB.
    */
  private def videoDecode(m: MediaRow): Option[MediaFeatures] =
    try {
      val b = m.content
      val frames = scala.collection.mutable.ArrayBuffer.empty[java.awt.image.BufferedImage]
      var start = 0
      var i = 1
      while (i < b.length) {
        if (b(i - 1) == 0xff.toByte && b(i) == 0xd9.toByte) {
          val img = javax.imageio.ImageIO.read(
            new ByteArrayInputStream(java.util.Arrays.copyOfRange(b, start, i + 1)))
          if (img != null) frames += img
          start = i + 1
          i += 1
        }
        i += 1
      }
      if (frames.isEmpty) None
      else {
        val crc = new CRC32()
        val segLum = new Array[Double](8)
        val segCnt = new Array[Long](8)
        var f = 0
        while (f < frames.length) {
          val img = frames(f)
          val seg = math.min(f * 8 / frames.length, 7)
          var lumSum = 0L
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y) & 0xffffff
              crc.update(rgb >>> 16); crc.update((rgb >>> 8) & 0xff); crc.update(rgb & 0xff)
              lumSum += (((rgb >>> 16) & 0xff) * 299 + ((rgb >>> 8) & 0xff) * 587 +
                (rgb & 0xff) * 114) / 1000
              x += 1
            }
            y += 1
          }
          segLum(seg) += lumSum.toDouble / (img.getWidth.toLong * img.getHeight) / 255.0
          segCnt(seg) += 1
          f += 1
        }
        Some(MediaFeatures(m.media_id, m.kind, m.content.length.toLong,
          crc.getValue, width = frames(0).getWidth, height = frames(0).getHeight,
          n_frames = frames.length,
          feature = Array.tabulate(8)(s =>
            if (segCnt(s) == 0) 0f else (segLum(s) / segCnt(s)).toFloat)))
      }
    } catch { case _: Exception => None }

  private def looksLikeWav(b: Array[Byte]): Boolean =
    b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** Real audio decode: PCM samples → checksum + 8-segment RMS envelope.
    * width = samples, height = channels, n_frames = sample frames.
    */
  private def audioDecode(m: MediaRow): Option[MediaFeatures] =
    try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new ByteArrayInputStream(m.content))
      val fmt = ais.getFormat
      val pcm = ais.readAllBytes()
      val n = pcm.length / 2 // 16-bit mono
      if (n == 0) None
      else {
        val crc = new CRC32()
        crc.update(pcm)
        val seg = new Array[Double](8)
        val cnt = new Array[Long](8)
        var i = 0
        while (i < n) {
          val v = ((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff)).toDouble / 32768.0
          val b = math.min(i * 8 / n, 7)
          seg(b) += v * v; cnt(b) += 1
          i += 1
        }
        Some(MediaFeatures(m.media_id, m.kind, m.content.length.toLong,
          crc.getValue, width = n, height = fmt.getChannels, n_frames = n,
          feature = Array.tabulate(8)(b =>
            if (cnt(b) == 0) 0f else math.sqrt(seg(b) / cnt(b)).toFloat)))
      }
    } catch { case _: Exception => None }

  private val imageMagics: Seq[Array[Byte]] = Seq(
    Array(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte), // PNG
    Array('B'.toByte, 'M'.toByte),                          // BMP
    Array(0xff.toByte, 0xd8.toByte))                        // JPEG

  private def looksLikeImage(b: Array[Byte]): Boolean =
    imageMagics.exists(m => b.length >= m.length &&
      java.util.Arrays.equals(b, 0, m.length, m, 0, m.length))

  /** Real image decode: pixels → checksum + 8-bin luminance histogram. */
  private def imageDecode(m: MediaRow): Option[MediaFeatures] =
    Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(m.content))).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val crc = new CRC32()
      val hist = new Array[Long](8)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y) & 0xffffff
          crc.update(rgb >>> 16); crc.update((rgb >>> 8) & 0xff); crc.update(rgb & 0xff)
          val lum = (((rgb >>> 16) & 0xff) * 299 + ((rgb >>> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          hist(math.min(lum >>> 5, 7)) += 1
          x += 1
        }
        y += 1
      }
      val n = (w.toLong * h).toFloat
      MediaFeatures(m.media_id, m.kind, m.content.length.toLong, crc.getValue,
        w, h, n_frames = 1, feature = Array.tabulate(8)(i => hist(i) / n))
    }

  /** Synthesize a media table from `documents` (kind assigned round-robin;
    * image rows get real PNG bytes, audio rows real RIFF/WAVE bytes, video
    * rows real MJPEG bytes — all deterministic functions of (id, text)).
    */
  def mediaTable(docs: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    // spread for the codec CPU (PNG/WAV/MJPEG encoders)
    Spread(docs.select(col("doc_id").cast("long"), col("text")), "doc_id").as[(Long, String)]
      .map { case (id, text) =>
        val kind =
          if (id % 3 == 0) "image" else if (id % 3 == 1) "audio" else "video"
        val content = kind match {
          case "image" => encodePng(id, text)
          case "audio" => encodeWav(id, text)
          case _       => encodeMjpeg(id, text)
        }
        MediaRow(id, kind, content)
      }.toDF()
  }

  /** Fallback kernel for corrupt/unrecognized bytes only (every kind has a
    * real decoder above): deterministic features from the raw bytes.
    */
  private def fakeDecode(m: MediaRow): MediaFeatures = {
    val crc = new CRC32()
    crc.update(m.content)
    val c = crc.getValue
    val len = m.content.length.toLong
    MediaFeatures(
      media_id = m.media_id,
      kind = m.kind,
      byte_len = len,
      checksum = c,
      width = (len % 640).toInt + 1,
      height = ((len * 7) % 480).toInt + 1,
      n_frames = if (m.kind == "video") (len % 30).toInt + 1 else 1,
      feature = Array.tabulate(8)(i => (((c >>> (i * 8)) & 0xff).toFloat / 255.0f)))
  }

  private def decodeOne(m: MediaRow): MediaFeatures =
    if (m.kind == "image" && looksLikeImage(m.content))
      imageDecode(m).getOrElse(fakeDecode(m))
    else if (m.kind == "audio" && looksLikeWav(m.content))
      audioDecode(m).getOrElse(fakeDecode(m))
    else if (m.kind == "video" && looksLikeMjpeg(m.content))
      videoDecode(m).getOrElse(fakeDecode(m))
    else fakeDecode(m)

  /** Decode/feature-extract stage: binary in, typed features out. */
  def decode(media: DataFrame)(implicit spark: SparkSession): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.select("media_id", "kind", "content").as[MediaRow]
      .repartition(col("media_id"))
      .mapPartitions(_.map(decodeOne))
  }

  case class ResizedImage(media_id: Long, src_w: Int, src_h: Int,
                          width: Int, height: Int, thumb: Array[Byte])

  /** Resize stage: decode each image row, nearest-neighbor resample to
    * `w`x`h`, re-encode as PNG. The resample is a hand-rolled pixel map
    * (`src(x*srcW/w, y*srcH/h)`) rather than Graphics2D scaling so the
    * output pixels are bit-deterministic across JVMs/platforms — PNG
    * re-encoded BYTES may still differ by encoder, so tests pin decoded
    * pixels, not bytes. Non-image or undecodable rows are dropped (the
    * decode stage is where corrupt bytes are accounted). Scale: same
    * mapPartitions shape as decode — embarrassingly parallel, one blob in
    * memory per task at a time, output volume ~ n_images * w * h.
    */
  def resizeImages(media: DataFrame, w: Int, h: Int)
                  (implicit spark: SparkSession): Dataset[ResizedImage] = {
    import spark.implicits._
    require(w > 0 && h > 0)
    media.select("media_id", "kind", "content").as[MediaRow]
      .repartition(col("media_id"))
      .mapPartitions(_.flatMap { m =>
        if (m.kind != "image" || !looksLikeImage(m.content)) None
        else Option(javax.imageio.ImageIO.read(
          new ByteArrayInputStream(m.content))).map { img =>
          val sw = img.getWidth
          val sh = img.getHeight
          val out = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              out.setRGB(x, y,
                img.getRGB((x.toLong * sw / w).toInt, (y.toLong * sh / h).toInt))
              x += 1
            }
            y += 1
          }
          val bos = new ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          ResizedImage(m.media_id, sw, sh, w, h, bos.toByteArray)
        }
      })
  }

  case class SampledFrame(media_id: Long, frame_idx: Int, n_frames: Int,
                          width: Int, height: Int, frame: Array[Byte])

  /** Frame-sample stage: split each video row's MJPEG byte stream on JPEG
    * EOI markers and keep every `every`-th frame (idx 0, every, 2*every, …)
    * as its own standalone-decodable JPEG row. The split is byte-level —
    * frames are NOT transcoded, so the emitted bytes are exactly the
    * source frame bytes (pinned by tests decoding them against a full
    * decode). Rows explode ~n_frames/every per video; non-video rows drop.
    */
  def sampleFrames(media: DataFrame, every: Int)
                  (implicit spark: SparkSession): Dataset[SampledFrame] = {
    import spark.implicits._
    require(every >= 1)
    media.select("media_id", "kind", "content").as[MediaRow]
      .repartition(col("media_id"))
      .mapPartitions(_.flatMap { m =>
        if (m.kind != "video" || !looksLikeMjpeg(m.content)) Iterator.empty
        else {
          val b = m.content
          val bounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var start = 0
          var i = 1
          while (i < b.length) {
            if (b(i - 1) == 0xff.toByte && b(i) == 0xd9.toByte) {
              bounds += ((start, i + 1)); start = i + 1; i += 1
            }
            i += 1
          }
          val total = bounds.length
          bounds.iterator.zipWithIndex
            .filter { case (_, idx) => idx % every == 0 }
            .flatMap { case ((s, e), idx) =>
              val bytes = java.util.Arrays.copyOfRange(b, s, e)
              Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(bytes)))
                .map(img => SampledFrame(m.media_id, idx, total,
                  img.getWidth, img.getHeight, bytes))
            }
        }
      })
  }

  case class FrameLum(media_id: Long, frame_idx: Int, n_frames: Int,
                      width: Int, height: Int, lum_sum: Long)

  /** Per-frame integer luminance extraction over MJPEG videos: each frame's
    * `lum_sum` is the exact sum of per-pixel integer luminance
    * (`(299r + 587g + 114b) / 1000`, the same kernel videoDecode bins into
    * its temporal envelope) — so downstream temporal analytics (scene-cut
    * detection, q124) stay in integer arithmetic and are directly
    * assertable. Mean luminance = `lum_sum / (width*height)`, one float op
    * away. Narrow mapPartitions; one frame decoded at a time per task.
    */
  def frameLuminance(media: DataFrame)
                    (implicit spark: SparkSession): Dataset[FrameLum] = {
    import spark.implicits._
    media.select("media_id", "kind", "content").as[MediaRow]
      .repartition(col("media_id"))
      .mapPartitions(_.flatMap { m =>
        if (m.kind != "video" || !looksLikeMjpeg(m.content)) Iterator.empty
        else {
          val b = m.content
          val bounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var start = 0
          var i = 1
          while (i < b.length) {
            if (b(i - 1) == 0xff.toByte && b(i) == 0xd9.toByte) {
              bounds += ((start, i + 1)); start = i + 1; i += 1
            }
            i += 1
          }
          val imgs = bounds.flatMap { case (s, e) =>
            Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(
              java.util.Arrays.copyOfRange(b, s, e))))
          }
          imgs.iterator.zipWithIndex.map { case (img, idx) =>
            var lumSum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val rgb = img.getRGB(x, y) & 0xffffff
                lumSum += (((rgb >>> 16) & 0xff) * 299 + ((rgb >>> 8) & 0xff) * 587 +
                  (rgb & 0xff) * 114) / 1000
                x += 1
              }
              y += 1
            }
            FrameLum(m.media_id, idx, imgs.length, img.getWidth, img.getHeight,
              lumSum)
          }
        }
      })
  }

  case class ImageHash(media_id: Long, ahash: Long)

  /** Average-hash perceptual fingerprint (aHash): nearest-neighbor
    * downsample to 8x8 integer luminance, then bit i = (luminance_i * 64 >
    * total) — an integer cross-multiply against the mean, no float, no
    * division. Robust to re-encoding and small pixel edits (the downsample
    * + mean threshold absorb them), which is exactly the image near-dup a
    * training corpus needs to catch: same picture, different bytes. Narrow
    * mapPartitions decode; 8 bytes out per image. Pair discovery is
    * [[Dedup.hammingNearDupsFromSigs]] on this frame — the identical
    * banded-LSH shape as text SimHash, shared code path.
    */
  /** The 8x8 aHash kernel on a decoded frame: nearest-neighbor sample 64
    * pixels, integer luminance, bit p = (lum_p * 64 > total). Shared by
    * [[imageAHash]] (one frame per image) and [[videoFingerprint]]
    * (temporal majority over per-frame hashes).
    */
  private[graft] def aHash64(img: java.awt.image.BufferedImage): Long = {
    val sw = img.getWidth
    val sh = img.getHeight
    val lum = new Array[Long](64)
    var total = 0L
    var p = 0
    while (p < 64) {
      val rgb = img.getRGB(((p % 8).toLong * sw / 8).toInt,
        ((p / 8).toLong * sh / 8).toInt) & 0xffffff
      lum(p) = (((rgb >>> 16) & 0xff) * 299 + ((rgb >>> 8) & 0xff) * 587 +
        (rgb & 0xff) * 114) / 1000
      total += lum(p)
      p += 1
    }
    var h = 0L
    p = 0
    while (p < 64) {
      if (lum(p) * 64 > total) h |= (1L << p)
      p += 1
    }
    h
  }

  def imageAHash(media: DataFrame)
                (implicit spark: SparkSession): Dataset[ImageHash] = {
    import spark.implicits._
    media.select("media_id", "kind", "content").as[MediaRow]
      .repartition(col("media_id"))
      .mapPartitions(_.flatMap { m =>
        if (m.kind != "image" || !looksLikeImage(m.content)) None
        else Option(javax.imageio.ImageIO.read(
          new ByteArrayInputStream(m.content))).map { img =>
          ImageHash(m.media_id, aHash64(img))
        }
      })
  }

  /** Image near-duplicates: aHash signatures through the shared banded
    * hamming join. Exact popcount verify; lossless for `maxHamming <= 3`.
    */
  def imageNearDups(media: DataFrame, maxHamming: Int = 3)
                   (implicit spark: SparkSession): DataFrame =
    Dedup.hammingNearDupsFromSigs(
      imageAHash(media).toDF().select(col("media_id").as("id"),
        col("ahash").as("sig")),
      maxHamming, capMetric = "ahash_lsh_cap")

  case class AudioSig(media_id: Long, n_samples: Int, sig: Long)

  /** Audio perceptual fingerprint: the PCM stream is cut into 65
    * equal-duration segments, each reduced to its integer energy (sum of
    * squared samples, the q121 kernel), and bit k = (energy_{k+1} >
    * energy_k) — a 64-bit energy-delta-sign signature. Delta SIGNS are
    * invariant under any positive amplitude scaling (energies scale by a
    * common a^2), so a volume-changed or re-encoded copy of a clip maps to
    * (nearly) the same signature — the audio analogue of "same picture,
    * different bytes". Segmenting by POSITION (k*n/65) rather than fixed
    * frame length makes the signature length-normalized: a resampled copy
    * keeps its temporal energy shape. Integer-exact, so directly
    * assertable; per-segment energy <= n * 2^30 fits comfortably in Long.
    * Pair discovery is [[Dedup.hammingNearDupsFromSigs]] — the same banded
    * hamming join as text SimHash and image aHash.
    */
  def audioFingerprint(media: DataFrame)
                      (implicit spark: SparkSession): Dataset[AudioSig] = {
    import spark.implicits._
    media.select("media_id", "kind", "content").as[MediaRow]
      .repartition(col("media_id"))
      .mapPartitions(_.flatMap { m =>
        if (m.kind != "audio" || !looksLikeWav(m.content)) None
        else try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new ByteArrayInputStream(m.content))
          val pcm = ais.readAllBytes()
          val n = pcm.length / 2 // 16-bit mono PCM
          if (n < 65) None
          else {
            val e = new Array[Long](65)
            var k = 0
            while (k < 65) {
              var i = (k.toLong * n / 65).toInt
              val end = ((k + 1).toLong * n / 65).toInt
              while (i < end) {
                val v = (pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff)
                e(k) += v.toLong * v
                i += 1
              }
              k += 1
            }
            var h = 0L
            k = 0
            while (k < 64) {
              if (e(k + 1) > e(k)) h |= (1L << k)
              k += 1
            }
            Some(AudioSig(m.media_id, n, h))
          }
        } catch { case _: Exception => None }
      })
  }

  /** Audio near-duplicates: energy-delta signatures through the shared
    * banded hamming join. Catches volume-changed / re-encoded copies.
    */
  def audioNearDups(media: DataFrame, maxHamming: Int = 3)
                   (implicit spark: SparkSession): DataFrame =
    Dedup.hammingNearDupsFromSigs(
      audioFingerprint(media).toDF().select(col("media_id").as("id"),
        col("sig")),
      maxHamming, capMetric = "audiohash_lsh_cap")

  case class VideoSig(media_id: Long, n_frames: Int, sig: Long)

  /** Video perceptual fingerprint: per-frame [[aHash64]], combined by
    * TEMPORAL MAJORITY — bit p is set iff it is set in more than half the
    * frames. Majority voting makes the signature robust both to per-frame
    * re-encode noise (a flipped bit in one frame is outvoted) and to
    * frame-rate resampling (duplicating every frame preserves every
    * majority). NOT robust to re-cutting — that changes which content the
    * majority sees, which is the correct semantics for "same clip,
    * different bytes" dedup. Short clips (2-3 frames) carry genuine spatial
    * entropy per bit (unlike a temporal-delta hash, which would collapse to
    * a handful of transition bits and false-bucket every short clip
    * together — why this is a majority-of-spatial-hashes design).
    */
  def videoFingerprint(media: DataFrame)
                      (implicit spark: SparkSession): Dataset[VideoSig] = {
    import spark.implicits._
    media.select("media_id", "kind", "content").as[MediaRow]
      .repartition(col("media_id"))
      .mapPartitions(_.flatMap { m =>
        if (m.kind != "video" || !looksLikeMjpeg(m.content)) None
        else {
          val b = m.content
          val bounds = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          var start = 0
          var i = 1
          while (i < b.length) {
            if (b(i - 1) == 0xff.toByte && b(i) == 0xd9.toByte) {
              bounds += ((start, i + 1)); start = i + 1; i += 1
            }
            i += 1
          }
          val hashes = bounds.flatMap { case (s, e) =>
            Option(javax.imageio.ImageIO.read(new ByteArrayInputStream(
              java.util.Arrays.copyOfRange(b, s, e)))).map(aHash64)
          }
          if (hashes.isEmpty) None
          else {
            var h = 0L
            var p = 0
            while (p < 64) {
              var c = 0
              hashes.foreach { fh => if (((fh >>> p) & 1L) == 1L) c += 1 }
              if (2 * c > hashes.length) h |= (1L << p)
              p += 1
            }
            Some(VideoSig(m.media_id, hashes.length, h))
          }
        }
      })
  }

  /** Video near-duplicates: temporal-majority aHash signatures through the
    * shared banded hamming join.
    */
  def videoNearDups(media: DataFrame, maxHamming: Int = 3)
                   (implicit spark: SparkSession): DataFrame =
    Dedup.hammingNearDupsFromSigs(
      videoFingerprint(media).toDF().select(col("media_id").as("id"),
        col("sig")),
      maxHamming, capMetric = "videohash_lsh_cap")

  case class AudioFrame(media_id: Long, frame_idx: Int, n_samples: Int,
                        energy: Long, zero_crossings: Int, is_silence: Boolean)

  /** Audio feature-extract stage: decoded 16-bit mono PCM split into
    * `frameLen`-sample windows, each emitting INTEGER-EXACT features —
    * `energy` = sum of squared raw sample values (no float anywhere, so
    * the output is bit-deterministic and directly assertable), sign-change
    * `zero_crossings` within the frame, and `is_silence` =
    * `energy < silenceMeanSq * n_samples` (a mean-square threshold phrased
    * as an integer cross-multiply — the q108 integer-power-sum rule). The
    * last frame is partial and keeps its true `n_samples`. RMS/dBFS are
    * one float op away for callers: `sqrt(energy / n)/32768`.
    * Non-audio/undecodable rows drop (decode is where corruption is
    * accounted). Scale: same narrow mapPartitions shape as decode; rows
    * explode ~n_samples/frameLen per clip. ANSI-safe: energy per frame is
    * `<= frameLen * 2^30` (~1.1e12 at the default 1024).
    */
  def audioFrames(media: DataFrame, frameLen: Int = 1024,
                  silenceMeanSq: Long = 1048576L)
                 (implicit spark: SparkSession): Dataset[AudioFrame] = {
    import spark.implicits._
    require(frameLen >= 2)
    media.select("media_id", "kind", "content").as[MediaRow]
      .repartition(col("media_id"))
      .mapPartitions(_.flatMap { m =>
        if (m.kind != "audio" || !looksLikeWav(m.content)) Iterator.empty
        else try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new ByteArrayInputStream(m.content))
          val pcm = ais.readAllBytes()
          val n = pcm.length / 2
          (0 until n by frameLen).iterator.map { start =>
            val end = math.min(start + frameLen, n)
            var energy = 0L
            var zc = 0
            var i = start
            var prevNeg = false
            while (i < end) {
              val v = (pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff)
              energy += v.toLong * v
              if (i > start && (v < 0) != prevNeg) zc += 1
              prevNeg = v < 0
              i += 1
            }
            val len = end - start
            AudioFrame(m.media_id, start / frameLen, len, energy, zc,
              energy < silenceMeanSq * len)
          }
        } catch { case _: Exception => Iterator.empty }
      })
  }

  /** Per-kind feature aggregate used by the q30 smoke query. */
  def kindStats(docs: DataFrame)(implicit spark: SparkSession): DataFrame =
    decode(mediaTable(docs)).toDF()
      .groupBy("kind")
      .agg(count(lit(1)).as("n"),
        sum(col("byte_len")).as("total_bytes"),
        max(col("width")).as("max_w"),
        max(col("height")).as("max_h"),
        sum(col("n_frames").cast("long")).as("total_frames"))
      .orderBy("kind")
}
