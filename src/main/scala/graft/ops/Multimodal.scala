package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal (image/audio/video) column handling for training-data
  * pipelines.
  *
  * Data model: media travels as an opaque `binary` payload column plus
  * a typed metadata struct (`media_type`, `byte_len`, decode hints).
  * The payload is NEVER interpreted by Catalyst — filters and joins
  * run on the metadata columns, so the scan can prune/push down
  * without touching bytes, and only the final decode stage reads them.
  *
  * Scale design: decode runs per-partition over batches (see
  * `decodeImages`) so the codec amortizes per-call overhead; partition
  * sizing is controlled upstream by `spark.sql.files.maxPartitionBytes`.
  * Image decode is REAL for the containers the JDK ships codecs for
  * (PNG/JPEG/GIF/BMP via `javax.imageio` — pure JDK, no external
  * deps); payloads without a recognized image header fall back to a
  * deterministic synthetic derivation, preserving the exact contract
  * (schema, batching, null behavior) for non-image bytes. Audio/video
  * codecs are NOT in the JDK, so frame sampling stays an
  * honestly-labeled stub with the real (media_id, frame_no) shape.
  */
object Multimodal {

  /** Media row with typed metadata, as a real media lake would store it. */
  case class MediaRow(
      media_id: Long,
      media_type: String,   // "image" | "audio" | "video" | "unknown"
      byte_len: Long,
      payload: Array[Byte])

  /** Decoded-image feature row produced by the (stubbed) decoder. */
  case class DecodedImage(
      media_id: Long,
      width: Int,
      height: Int,
      n_channels: Int,
      features: Array[Float])

  /** Wrap any table into the media schema, treating a string column as
    * the opaque payload (the synthetic corpus has no true binaries;
    * the plumbing — binary type, metadata struct, batching — is real).
    * Media type is sniffed from leading "magic bytes" the way a real
    * pipeline sniffs JPEG/PNG/RIFF headers.
    */
  def asMediaTable(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val payload = col(payloadCol).cast("binary")
    df.select(
      col(idCol).cast("long").as("media_id"),
      when(substring(payload, 1, 1) === lit("a".getBytes), "audio")
        .when(substring(payload, 1, 1) === lit("v".getBytes), "video")
        .when(length(payload) > 0, "image")
        .otherwise("unknown").as("media_type"),
      octet_length(payload).cast("long").as("byte_len"),
      payload.as("payload"))
  }

  /** True when the payload starts with a magic header the JDK's
    * `javax.imageio` codecs can decode (PNG / JPEG / GIF / BMP).
    */
  def looksLikeImage(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 && (
      (b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') ||
      (b(0) == 0xFF.toByte && b(1) == 0xD8.toByte && b(2) == 0xFF.toByte) ||
      (b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8') ||
      (b(0) == 'B' && b(1) == 'M'))

  /** Real decode of one image payload: true dimensions and channel
    * count from the decoded raster, plus `featureDim` mean-luminance
    * vertical strips (each in [0,1], subsampled to ≤32×32 probes per
    * strip so decode cost is bounded by the raster read, not feature
    * extraction).
    */
  private def decodeOne(m: MediaRow, featureDim: Int): Option[DecodedImage] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        val feats = Array.tabulate(featureDim) { i =>
          val x0 = i * w / featureDim
          val x1 = math.max(x0 + 1, (i + 1) * w / featureDim)
          val stepX = math.max(1, (x1 - x0) / 32)
          val stepY = math.max(1, h / 32)
          var sum = 0.0; var n = 0; var y = 0
          while (y < h) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              sum += (0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
                0.114 * (rgb & 0xFF)) / 255.0
              n += 1; x += stepX
            }
            y += stepY
          }
          if (n == 0) 0f else (sum / n).toFloat
        }
        Some(DecodedImage(m.media_id, w, h, img.getColorModel.getNumComponents, feats))
      }
    } catch { case _: java.io.IOException => None }

  /** Image decode: REAL for payloads with a recognized image header
    * (PNG/JPEG/GIF/BMP through `javax.imageio`, pure JDK); other
    * payloads (the synthetic corpus, truncated bytes) get a
    * deterministic derivation with the same schema. Runs via
    * `mapPartitions` in fixed-size batches — the shape a vectorized
    * codec (e.g. Arrow-fed JNI for formats the JDK lacks) needs, so
    * swapping the decoder changes nothing else.
    */
  def decodeImages(
      media: Dataset[MediaRow],
      batchSize: Int = 64,
      featureDim: Int = 8): Dataset[DecodedImage] = {
    import media.sparkSession.implicits._
    // no ImageIO tmp-file cache on executors: decode stays in-memory
    javax.imageio.ImageIO.setUseCache(false)
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val real = if (looksLikeImage(m.payload)) decodeOne(m, featureDim) else None
          real.getOrElse {
            // synthetic fallback: dimensions/features derived from an
            // FNV-1a hash of the bytes — deterministic, schema-true
            val h = m.payload.foldLeft(1469598103934665603L)((a, b) => (a ^ b) * 1099511628211L)
            val w = 16 + math.floorMod(h, 16).toInt * 16
            val ht = 16 + math.floorMod(h >> 8, 16).toInt * 16
            val feats = Array.tabulate(featureDim) { i =>
              math.floorMod(h >> (i * 4), 1024).toFloat / 1024f
            }
            DecodedImage(m.media_id, w, ht, 3, feats)
          }
        }
      }
    }
  }

  case class ImageHash(media_id: Long, dhash: Long, real: Boolean)

  /** Perceptual difference-hash (dHash, the public algorithm): the
    * decoded raster is reduced to a 9×8 grid of mean-luminance cells
    * and bit (row·8 + col) is set iff cell(row, col) < cell(row, col+1)
    * — 64 bits invariant to resize, re-encode and uniform brightness
    * shifts, the standard cheap image near-dup signature. Real for
    * JDK-decodable payloads; other payloads get the deterministic
    * FNV fallback (`real = false`) so the schema stays total.
    */
  def imageDHash(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[ImageHash] = {
    import media.sparkSession.implicits._
    javax.imageio.ImageIO.setUseCache(false)
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val real = if (looksLikeImage(m.payload)) dhashOne(m) else None
          real.getOrElse {
            val bytes = if (m.payload == null) Array.empty[Byte] else m.payload
            val h = bytes.foldLeft(1469598103934665603L)((a, b) => (a ^ b) * 1099511628211L)
            ImageHash(m.media_id, h, real = false)
          }
        }
      }
    }
  }

  private def dhashOne(m: MediaRow): Option[ImageHash] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
      if (img == null) None
      else {
        val w = img.getWidth; val h = img.getHeight
        // 8 rows × 9 cols of mean luminance, ≤8×8 probes per cell
        val grid = Array.ofDim[Double](8, 9)
        var r = 0
        while (r < 8) {
          var c = 0
          while (c < 9) {
            val x0 = c * w / 9; val x1 = math.max(x0 + 1, (c + 1) * w / 9)
            val y0 = r * h / 8; val y1 = math.max(y0 + 1, (r + 1) * h / 8)
            val stepX = math.max(1, (x1 - x0) / 8)
            val stepY = math.max(1, (y1 - y0) / 8)
            var sum = 0.0; var n = 0; var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val rgb = img.getRGB(x, y)
                sum += 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
                  0.114 * (rgb & 0xFF)
                n += 1; x += stepX
              }
              y += stepY
            }
            grid(r)(c) = if (n == 0) 0.0 else sum / n
            c += 1
          }
          r += 1
        }
        var bits = 0L
        r = 0
        while (r < 8) {
          var c = 0
          while (c < 8) {
            if (grid(r)(c) < grid(r)(c + 1)) bits |= (1L << (r * 8 + c))
            c += 1
          }
          r += 1
        }
        Some(ImageHash(m.media_id, bits, real = true))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Perceptual near-duplicate IMAGE pairs: exact-payload collapse
    * first (the same duplication-invariance as every text near-dup
    * detector — a re-crawled image with 10⁵ byte-identical copies
    * must not multiply every chunk bucket by the copy count), then
    * the 64-bit dHash of each DISTINCT payload banded into `bands`
    * chunks and bucket-joined (pigeonhole: any pair within hamming
    * distance < bands shares a chunk), exact-hamming filtered, and
    * member-expanded through streaming join buffers. Identical
    * payloads pair at hamming 0 by construction; the decode runs once
    * per distinct payload. Output: (id_a < id_b, hamming). Null
    * payloads never pair (payload unknown ≠ payload equal).
    */
  def dhashPairs(media: Dataset[MediaRow], maxHamming: Int = 10,
                 bands: Int = 16): DataFrame = {
    require(64 % bands == 0, s"bands=$bands must divide 64")
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands ($maxHamming >= $bands)")
    val spark = media.sparkSession
    import spark.implicits._
    val df = media.toDF()
    val collapsed = Dedup.collapseByContent(df, "media_id", "payload")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = Dedup.memberFrame(df, "media_id", "payload")
    val repHashes = imageDHash(
      collapsed.select(col("rep_id").as("media_id"),
          lit("unknown").as("media_type"),
          coalesce(octet_length(col("rep_text")).cast("long"), lit(0L)).as("byte_len"),
          col("rep_text").as("payload"))
        .as[MediaRow]).toDF()
    val repPairs = bandedHammingPairs(
      repHashes.select(col("media_id").as("id"), col("dhash").as("h"),
        col("real")),
      maxHamming, bands)
    val out = Dedup.withinGroupPairs(collapsed, members, Seq("content_key"),
        lit(0).cast("int"), "hamming")
      .unionByName(Dedup.expandRepPairs(repPairs, collapsed, members,
        Seq("content_key"), "hamming"))
      // materialize eagerly so the session-lifetime cache below can be
      // dropped (an eager SQL TVF invocation must not leak a cached
      // frame per call); the checkpoint blocks are context-cleaned on GC
      .localCheckpoint(true)
    collapsed.unpersist(false)
    out
  }

  /** Banded 64-bit-hash candidate pairs shared by the image, audio
    * and video perceptual detectors: each hash explodes into `bands`
    * chunks, equal chunks bucket-join (pigeonhole: any pair within
    * hamming distance < bands shares a chunk), then the exact hamming
    * filter. Input (id, h, real); output (ra < rb, hamming ≤
    * maxHamming).
    *
    * Only `real = true` (perceptual) fingerprints enter the band
    * join: a fallback FNV hash is not perceptual, so sub-64-bit
    * hamming proximity between two fallback hashes carries no signal
    * — at media-lake scale the ~C(64,≤maxHamming)/2⁶⁴ per-pair chance
    * of two random 64-bit values landing within maxHamming would
    * otherwise report unrelated payloads as near-duplicates. Fallback
    * hashes pair on FULL 64-bit equality only (hamming 0 — identity,
    * the one meaningful relation for a content hash); real/fallback
    * never mix.
    *
    * Candidate-volume bound: per band, a bucket of k equal chunks
    * yields C(k,2) candidates — uniform hashes give ~bands·N²/2^(64/bands+1)
    * expected candidates overall, so wider chunks (fewer bands) keep
    * the join linear-ish: bands=8 (8-bit chunks, 256 buckets/band) is
    * the default; bands=16 (4-bit chunks, 16 buckets/band) degenerates
    * toward all-pairs on uniform inputs and is only safe for hashes
    * with strong bucket spread at small N.
    */
  private[ops] def bandedHammingPairs(hashes: DataFrame, maxHamming: Int,
                                      bands: Int): DataFrame = {
    val r = 64 / bands
    val mask = if (r == 64) -1L else (1L << r) - 1
    val perceptual = hashes.filter(col("real"))
    val fallback = hashes.filter(!col("real"))
    val banded = perceptual.select(col("id"), col("h"),
      posexplode(array((0 until bands).map(b =>
        shiftrightunsigned(col("h"), b * r).bitwiseAND(mask)): _*))
        .as(Seq("band", "chunk")))
    val a = banded.select(col("band"), col("chunk"), col("id").as("ra"),
      col("h").as("ha"))
    val b = banded.select(col("band"), col("chunk"), col("id").as("rb"),
      col("h").as("hb"))
    val realPairs = a.join(b, Seq("band", "chunk"))
      .filter(col("ra") < col("rb"))
      .select("ra", "rb", "ha", "hb").distinct()
      .select(col("ra"), col("rb"),
        Dedup.hammingDist(col("ha"), col("hb")).cast("int").as("hamming"))
      .filter(col("hamming") <= maxHamming)
    // identity-only pairing for non-perceptual hashes: a plain shuffle
    // equi-join on the full hash (the collapse upstream already merged
    // byte-identical payloads, so matches here are pure FNV collisions
    // across distinct payloads — reported at hamming 0 per the
    // identical-hash contract, never at perceptual distances)
    val fallbackPairs = fallback.select(col("id").as("ra"), col("h"))
      .join(fallback.select(col("id").as("rb"), col("h")), Seq("h"))
      .filter(col("ra") < col("rb"))
      .select(col("ra"), col("rb"), lit(0).cast("int").as("hamming"))
    realPairs.unionByName(fallbackPairs)
  }

  /** Letterbox resize PLAN for a batch-decode stage: given per-item
    * (width, height), the aspect-preserving output geometry and pad
    * offsets for a square `target` canvas — the scheduling table a
    * GPU decode/resize stage consumes (plan on the cluster, decode
    * where the accelerator is; the plan is also what a batch packer
    * groups by, since equal output geometry = stackable tensors).
    * Pure per-row INTEGER arithmetic (w·T exact in a long, one
    * double division, floor(x+0.5) rounding) — deterministic on any
    * engine, zero shuffle, codegen-friendly.
    */
  def letterboxPlan(df: DataFrame, wCol: String, hCol: String,
                    target: Int): DataFrame = {
    require(target > 0, s"target must be positive, got $target")
    val m = greatest(col(wCol), col(hCol)).cast("double")
    def side(c: Column) = greatest(
      floor(c.cast("long") * target / m + 0.5).cast("int"), lit(1))
    df.withColumn("out_w", side(col(wCol)))
      .withColumn("out_h", side(col(hCol)))
      // floor, not a bare int cast: Spark casts 55.5 by truncation
      // while DuckDB casts by rounding — floor is the portable form
      // (pads are non-negative, so floor ≡ integer division)
      .withColumn("pad_left",
        floor((lit(target) - col("out_w")) / 2).cast("int"))
      .withColumn("pad_top",
        floor((lit(target) - col("out_h")) / 2).cast("int"))
  }

  /** REAL image resize for JDK-decodable payloads: decode, scale the
    * long side down to `maxSide` with bilinear interpolation
    * (`Graphics2D`, pure JDK), re-encode as PNG. Payloads that are not
    * decodable images — or already fit — pass through byte-identical.
    * Same mapPartitions batching as `decodeImages`; CPU-bound per
    * partition, no shuffle.
    */
  def resizeImages(media: Dataset[MediaRow], maxSide: Int,
                   batchSize: Int = 64): Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    require(maxSide > 0, s"maxSide must be positive, got $maxSide")
    javax.imageio.ImageIO.setUseCache(false)
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val resized =
            if (!looksLikeImage(m.payload)) None
            else try {
              val img = javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(m.payload))
              val long = if (img == null) 0 else math.max(img.getWidth, img.getHeight)
              if (img == null || long <= maxSide) None
              else {
                val scale = maxSide.toDouble / long
                // same truncating geometry as the legacy metadata
                // projection, so both paths agree exactly
                val w = math.max(1, (img.getWidth * scale).toInt)
                val h = math.max(1, (img.getHeight * scale).toInt)
                val imgType =
                  if (img.getColorModel.hasAlpha) java.awt.image.BufferedImage.TYPE_INT_ARGB
                  else java.awt.image.BufferedImage.TYPE_INT_RGB
                val out = new java.awt.image.BufferedImage(w, h, imgType)
                val g = out.createGraphics()
                try {
                  g.setRenderingHint(
                    java.awt.RenderingHints.KEY_INTERPOLATION,
                    java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                  g.drawImage(img, 0, 0, w, h, null)
                } finally g.dispose()
                val bos = new java.io.ByteArrayOutputStream()
                javax.imageio.ImageIO.write(out, "png", bos)
                Some(bos.toByteArray)
              }
            } catch { case _: java.io.IOException => None }
          resized.map(b => m.copy(byte_len = b.length.toLong, payload = b))
            .getOrElse(m)
        }
      }
    }
  }

  /** One sampled frame: decoded raster stats when `real`, synthetic
    * shape otherwise.
    */
  case class SampledFrame(
      media_id: Long,
      frame_no: Int,
      width: Int,
      height: Int,
      mean_luma: Float,
      real: Boolean)

  /** True when the payload is a GIF container (GIF87a / GIF89a). */
  def looksLikeGif(b: Array[Byte]): Boolean =
    b != null && b.length >= 4 &&
      b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8'

  /** Frame sampling — REAL for the one multi-frame container the JDK
    * ships a codec for (animated GIF, via `javax.imageio`'s per-index
    * `ImageReader.read(i)`): every `stride`-th frame is decoded and
    * emitted with its true raster dimensions and mean luminance. The
    * JDK has no video codecs, so non-GIF payloads keep the honest
    * synthetic derivation (`byte_len`-determined frame ids, zero
    * rasters, `real = false`) with the identical schema — swapping in
    * a JNI/FFmpeg decoder changes only the per-payload function, not
    * the Spark plumbing. Same bounded-batch `mapPartitions` shape as
    * `decodeImages`; CPU-bound per partition, no shuffle.
    */
  def sampleFrames(
      media: Dataset[MediaRow],
      stride: Int,
      batchSize: Int = 64): Dataset[SampledFrame] = {
    import media.sparkSession.implicits._
    require(stride > 0, s"stride must be positive, got $stride")
    javax.imageio.ImageIO.setUseCache(false)
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.flatMap { m =>
          val real = if (looksLikeGif(m.payload)) gifFrames(m, stride) else None
          real.getOrElse {
            val n = (m.byte_len / 16 + 1).toInt
            (0 until n by stride).map(f =>
              SampledFrame(m.media_id, f, 0, 0, 0f, real = false))
          }
        }
      }
    }
  }

  /** Decoded-audio feature row: real waveform stats for payloads the
    * JDK ships a codec for (WAV/PCM via `javax.sound.sampled`),
    * synthetic shape otherwise.
    */
  case class DecodedAudio(
      media_id: Long,
      sample_rate: Float,
      channels: Int,
      n_frames: Long,
      rms: Double,
      real: Boolean)

  /** True when the payload is a RIFF/WAVE container. */
  def looksLikeWav(b: Array[Byte]): Boolean =
    b != null && b.length >= 12 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  /** Audio decode — REAL for WAV/PCM payloads (`javax.sound.sampled`,
    * pure JDK, the same precedent as the image and GIF paths): true
    * sample rate, channel count, frame count and RMS amplitude from
    * the decoded samples. The JDK has no MP3/AAC codecs, so other
    * payloads keep the honest synthetic derivation (`real = false`)
    * with the identical schema. Same bounded-batch `mapPartitions`
    * shape as `decodeImages`.
    */
  def decodeAudio(
      media: Dataset[MediaRow],
      batchSize: Int = 64,
      transcoder: MediaTranscoder = NoTranscoder): Dataset[DecodedAudio] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val real =
            if (looksLikeWav(m.payload)) wavStats(m)
            // external-decoder seam: codec audio transcodes to WAV
            // and reuses the SAME javax.sound decode
            else if (m.payload == null) None
            else transcoder.toWav(m.payload)
              .flatMap(w => wavStats(m.copy(payload = w)))
          real.getOrElse {
            // null-safe like audioFingerprint: a NULL payload must
            // yield the fallback row, never an executor NPE
            val bytes = if (m.payload == null) Array.empty[Byte] else m.payload
            val h = bytes.foldLeft(1469598103934665603L)((a, b) => (a ^ b) * 1099511628211L)
            DecodedAudio(m.media_id, 8000f + math.floorMod(h, 5).toInt * 8000f,
              1 + math.floorMod(h >> 8, 2).toInt, m.byte_len / 2,
              math.floorMod(h >> 16, 1000) / 1000.0, real = false)
          }
        }
      }
    }
  }

  /** Decode a WAV payload's PCM samples; None when the header lies. */
  private def wavStats(m: MediaRow): Option[DecodedAudio] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(m.payload))
      try {
        val fmt = in.getFormat
        val bytesPerSample = fmt.getSampleSizeInBits / 8
        if (bytesPerSample != 2) return None // decoder handles 16-bit PCM
        val all = in.readAllBytes()
        val n = all.length / bytesPerSample
        var sumSq = 0.0
        var i = 0
        val order = if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
                    else java.nio.ByteOrder.LITTLE_ENDIAN
        val buf = java.nio.ByteBuffer.wrap(all).order(order)
        while (i < n) {
          val s = buf.getShort(i * 2) / 32768.0
          sumSq += s * s
          i += 1
        }
        Some(DecodedAudio(m.media_id, fmt.getSampleRate, fmt.getChannels,
          in.getFrameLength, if (n == 0) 0.0 else math.sqrt(sumSq / n), real = true))
      } finally in.close()
    } catch {
      // NonFatal, not just the two documented exception types: a
      // malformed payload that passes the magic check can make the
      // JDK decoder throw RuntimeExceptions (AIOOBE, NegativeArraySize,
      // IllegalArgument...) — one corrupt file in a real corpus must
      // degrade to the synthetic fallback row, not fail the job.
      case scala.util.control.NonFatal(_) => None
    }

  /** Image metadata row (r13): header-derived typed columns. Option
    * fields are None for payloads the JDK has no reader for — the
    * schema stays total without inventing fake dimensions.
    */
  case class ImageMeta(
      media_id: Long,
      is_image: Boolean,
      format: Option[String],
      width: Option[Int],
      height: Option[Int],
      n_components: Option[Int],
      bits_per_pixel: Option[Int])

  /** Metadata extraction at decode time (r13) — the pure-JDK
    * equivalent of an EXIF/header pass: container format, true
    * dimensions, and color-model shape (component count, bits per
    * pixel) from `ImageIO`'s READER METADATA, which parses headers
    * only — `reader.getWidth/getHeight/getImageTypes` never decode
    * the raster, so cost is O(header) per image and ZERO payload
    * reads for rows whose magic bytes say "not an image" (the
    * metadata-only contract of the media schema). Same bounded-batch
    * `mapPartitions` shape as `decodeImages`.
    */
  def imageMetadata(media: Dataset[MediaRow],
                    batchSize: Int = 64): Dataset[ImageMeta] = {
    import media.sparkSession.implicits._
    javax.imageio.ImageIO.setUseCache(false)
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val real = if (looksLikeImage(m.payload)) imageMetaOne(m) else None
          real.getOrElse(
            ImageMeta(m.media_id, is_image = false, None, None, None, None, None))
        }
      }
    }
  }

  private def imageMetaOne(m: MediaRow): Option[ImageMeta] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(m.payload))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (!readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val fmt = reader.getFormatName.toLowerCase
            val w = reader.getWidth(0)
            val h = reader.getHeight(0)
            // color-model shape from the reader's image TYPE — header
            // information, no raster decode
            val types = reader.getImageTypes(0)
            val cm = if (types.hasNext) Some(types.next().getColorModel) else None
            Some(ImageMeta(m.media_id, is_image = true, Some(fmt),
              Some(w), Some(h),
              cm.map(_.getNumComponents), cm.map(_.getPixelSize)))
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** DCT perceptual hash row (r13). */
  case class PHash(media_id: Long, phash: Long, real: Boolean)

  /** DCT perceptual hash (the public pHash algorithm — a second,
    * stronger image-hash family beside dHash): the decoded raster is
    * reduced to a 32×32 mean-luminance grid, 2D DCT-II'd, and bit
    * (r·8 + c) is set iff low-frequency coefficient (r, c) exceeds
    * the mean of the top-left 8×8 block EXCLUDING the DC term — so
    * the hash is exactly invariant to uniform brightness SHIFT (only
    * DC moves, and DC is excluded from both bits and mean) and to
    * positive brightness SCALE (DCT is linear; every coefficient and
    * the mean scale together), and robust to resize/re-encode like
    * dHash but with real frequency-domain structure behind each bit.
    * FNV fallback for non-decodable payloads keeps the schema total.
    */
  def imagePHash(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[PHash] = {
    import media.sparkSession.implicits._
    javax.imageio.ImageIO.setUseCache(false)
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val real = if (looksLikeImage(m.payload)) phashOne(m) else None
          real.getOrElse {
            val bytes = if (m.payload == null) Array.empty[Byte] else m.payload
            val h = bytes.foldLeft(1469598103934665603L)((a, b) => (a ^ b) * 1099511628211L)
            PHash(m.media_id, h, real = false)
          }
        }
      }
    }
  }

  private def phashOne(m: MediaRow): Option[PHash] =
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(m.payload))
      if (img == null) None
      else {
        val N = 32
        val w = img.getWidth; val h = img.getHeight
        // 32×32 mean-luminance grid, bounded probes per cell
        val grid = Array.ofDim[Double](N, N)
        var r = 0
        while (r < N) {
          var c = 0
          while (c < N) {
            val x0 = c * w / N; val x1 = math.max(x0 + 1, (c + 1) * w / N)
            val y0 = r * h / N; val y1 = math.max(y0 + 1, (r + 1) * h / N)
            val stepX = math.max(1, (x1 - x0) / 4)
            val stepY = math.max(1, (y1 - y0) / 4)
            var sum = 0.0; var n = 0; var y = y0
            while (y < y1) {
              var x = x0
              while (x < x1) {
                val rgb = img.getRGB(x, y)
                sum += 0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
                  0.114 * (rgb & 0xFF)
                n += 1; x += stepX
              }
              y += stepY
            }
            grid(r)(c) = if (n == 0) 0.0 else sum / n
            c += 1
          }
          r += 1
        }
        // 2D DCT-II of the top-left 8×8 output block only
        val dct = Array.ofDim[Double](8, 8)
        var u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            var s = 0.0
            var i = 0
            while (i < N) {
              var j = 0
              while (j < N) {
                s += grid(i)(j) *
                  math.cos((2 * i + 1) * u * math.Pi / (2 * N)) *
                  math.cos((2 * j + 1) * v * math.Pi / (2 * N))
                j += 1
              }
              i += 1
            }
            dct(u)(v) = s
            v += 1
          }
          u += 1
        }
        var mean = 0.0
        u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) { if (u != 0 || v != 0) mean += dct(u)(v); v += 1 }
          u += 1
        }
        mean /= 63.0
        var bits = 0L
        u = 0
        while (u < 8) {
          var v = 0
          while (v < 8) {
            if ((u != 0 || v != 0) && dct(u)(v) > mean) bits |= (1L << (u * 8 + v))
            v += 1
          }
          u += 1
        }
        Some(PHash(m.media_id, bits, real = true))
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Deterministic synthetic PNG of exact (w, h) — the fixture
    * generator for metadata/decode plumbing queries and specs (a
    * gradient raster, 3-component 8-bit color; same bytes for the
    * same dims on any JVM with the JDK PNG writer).
    */
  def syntheticPng(w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, ((x * 255 / math.max(w - 1, 1)) << 16) |
          ((y * 255 / math.max(h - 1, 1)) << 8) | 0x40)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** 64-bit perceptual audio fingerprint row. */
  case class AudioHash(media_id: Long, ahash: Long, real: Boolean)

  /** Perceptual audio fingerprint (r13) — the Haitsma–Kalker (2002,
    * "A Highly Robust Audio Fingerprint") band-energy-difference
    * family, reduced to JDK primitives exactly as dHash reduces
    * pHash: the decoded mono waveform is split into 33 equal time
    * windows; per window two "bands" are measured without an FFT —
    * E1 = mean squared sample (total energy) and E2 = mean squared
    * FIRST DIFFERENCE (high-frequency energy, a one-tap high-pass) —
    * and bit (2t, 2t+1) is set iff E1/E2 rises from window t to t+1.
    * Sign-of-difference bits are EXACTLY invariant to any positive
    * gain (both energies scale by g²) and to lossless re-encoding
    * (the bits depend on decoded samples only), and degrade
    * gracefully (small hamming) under quantization or mild edits —
    * the same contract as dHash's brightness/resize invariance.
    *
    * Real for JDK-decodable 16-bit PCM WAV payloads with ≥ 66 frames;
    * everything else takes the deterministic FNV fallback
    * (`real = false`) so the schema stays total and identical
    * payloads still collide at hamming 0.
    */
  def audioFingerprint(media: Dataset[MediaRow],
                       batchSize: Int = 64,
                       transcoder: MediaTranscoder = NoTranscoder): Dataset[AudioHash] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val real =
            if (looksLikeWav(m.payload)) afpOne(m)
            // external-decoder seam, see decodeAudio
            else if (m.payload == null) None
            else transcoder.toWav(m.payload)
              .flatMap(w => afpOne(m.copy(payload = w)))
          real.getOrElse {
            val bytes = if (m.payload == null) Array.empty[Byte] else m.payload
            val h = bytes.foldLeft(1469598103934665603L)((a, b) => (a ^ b) * 1099511628211L)
            AudioHash(m.media_id, h, real = false)
          }
        }
      }
    }
  }

  private def afpOne(m: MediaRow): Option[AudioHash] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(m.payload))
      try {
        val fmt = in.getFormat
        if (fmt.getSampleSizeInBits != 16) return None
        val ch = math.max(fmt.getChannels, 1)
        val all = in.readAllBytes()
        val order = if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
                    else java.nio.ByteOrder.LITTLE_ENDIAN
        val buf = java.nio.ByteBuffer.wrap(all).order(order)
        val nFrames = all.length / 2 / ch
        if (nFrames < 66) return None // too short to window
        // channel-averaged mono reduction
        val mono = new Array[Double](nFrames)
        var i = 0
        while (i < nFrames) {
          var s = 0.0; var c = 0
          while (c < ch) { s += buf.getShort((i * ch + c) * 2) / 32768.0; c += 1 }
          mono(i) = s / ch
          i += 1
        }
        val W = 33
        val e1 = new Array[Double](W)
        val e2 = new Array[Double](W)
        var t = 0
        while (t < W) {
          val f0 = (t.toLong * nFrames / W).toInt
          val f1 = ((t + 1).toLong * nFrames / W).toInt
          var s1 = 0.0; var s2 = 0.0; var j = f0
          while (j < f1) {
            s1 += mono(j) * mono(j)
            if (j > f0) { val d = mono(j) - mono(j - 1); s2 += d * d }
            j += 1
          }
          val n = f1 - f0
          e1(t) = if (n == 0) 0.0 else s1 / n
          e2(t) = if (n <= 1) 0.0 else s2 / (n - 1)
          t += 1
        }
        var bits = 0L
        t = 0
        while (t < 32) {
          if (e1(t) < e1(t + 1)) bits |= (1L << (2 * t))
          if (e2(t) < e2(t + 1)) bits |= (1L << (2 * t + 1))
          t += 1
        }
        Some(AudioHash(m.media_id, bits, real = true))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Perceptual near-duplicate AUDIO pairs (r13) — the dhashPairs
    * recipe verbatim over the audio fingerprint: exact-payload
    * collapse first (duplication invariance — a re-crawled clip with
    * 10⁵ byte-identical copies must not multiply the band buckets),
    * the 64-bit fingerprint of each DISTINCT payload banded and
    * bucket-joined (pigeonhole: hamming < bands ⇒ a shared chunk),
    * exact-hamming filtered, then member expansion. Identical
    * payloads pair at hamming 0 by construction; the decode runs
    * once per distinct payload. Output: (id_a < id_b, hamming).
    */
  def audioDupPairs(media: Dataset[MediaRow], maxHamming: Int = 4,
                    bands: Int = 8,
                    transcoder: MediaTranscoder = NoTranscoder): DataFrame = {
    require(64 % bands == 0, s"bands=$bands must divide 64")
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands ($maxHamming >= $bands)")
    val spark = media.sparkSession
    import spark.implicits._
    val df = media.toDF()
    val collapsed = Dedup.collapseByContent(df, "media_id", "payload")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = Dedup.memberFrame(df, "media_id", "payload")
    val repHashes = audioFingerprint(
      collapsed.select(col("rep_id").as("media_id"),
          lit("unknown").as("media_type"),
          coalesce(octet_length(col("rep_text")).cast("long"), lit(0L)).as("byte_len"),
          col("rep_text").as("payload"))
        .as[MediaRow], transcoder = transcoder).toDF()
    val repPairs = bandedHammingPairs(
      repHashes.select(col("media_id").as("id"), col("ahash").as("h"),
        col("real")),
      maxHamming, bands)
    val out = Dedup.withinGroupPairs(collapsed, members, Seq("content_key"),
        lit(0).cast("int"), "hamming")
      .unionByName(Dedup.expandRepPairs(repPairs, collapsed, members,
        Seq("content_key"), "hamming"))
      .localCheckpoint(true) // see dhashPairs: drop the cache, no leak
    collapsed.unpersist(false)
    out
  }

  /** Decode every `stride`-th GIF frame; None when the payload is not
    * actually decodable (truncated bytes behind a GIF header).
    */
  private def gifFrames(m: MediaRow, stride: Int): Option[Seq[SampledFrame]] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(m.payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); None }
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          if (n <= 0) None
          else Some((0 until n by stride).map { i =>
            val img = reader.read(i)
            val w = img.getWidth; val h = img.getHeight
            val stepX = math.max(1, w / 32); val stepY = math.max(1, h / 32)
            var sum = 0.0; var cnt = 0; var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                sum += (0.299 * ((rgb >> 16) & 0xFF) + 0.587 * ((rgb >> 8) & 0xFF) +
                  0.114 * (rgb & 0xFF)) / 255.0
                cnt += 1; x += stepX
              }
              y += stepY
            }
            SampledFrame(m.media_id, i, w, h,
              if (cnt == 0) 0f else (sum / cnt).toFloat, real = true)
          })
        } finally { reader.dispose(); iis.close() }
      }
    } catch {
      // NonFatal: the JDK GIF ImageReader throws RuntimeExceptions on
      // corrupt payloads that pass the GIF magic check — degrade to
      // the synthetic fallback row per the documented contract.
      case scala.util.control.NonFatal(_) => None
    }

  // ------------------------------------------------------------------
  // Video (r13): real decode for the two multi-frame containers a
  // pure JDK can read — YUV4MPEG2 (Y4M; raw planar YUV behind a
  // trivial ASCII header, parsed here directly) and animated GIF
  // (javax.imageio) — plus the honest FNV fallback for codec formats
  // (MP4/H.264 etc.) the JDK cannot decode. Swapping in a JNI/FFmpeg
  // decoder changes only the per-payload frame function, never the
  // Spark plumbing (schema, batching, pair join).
  // ------------------------------------------------------------------

  /** True when the payload is a YUV4MPEG2 (Y4M) container. */
  def looksLikeY4m(b: Array[Byte]): Boolean =
    b != null && b.length >= 10 &&
      new String(b, 0, 9, "US-ASCII") == "YUV4MPEG2"

  /** 64-bit spatio-temporal video fingerprint row. */
  case class VideoHash(media_id: Long, vhash: Long, real: Boolean)

  /** Per-frame 4-quadrant mean lumas decoded from a Y4M payload.
    * Returns None on anything malformed (bad header, unsupported
    * chroma tag, truncated raster) — the caller degrades to the
    * documented FNV fallback rather than hashing garbage.
    */
  private def y4mQuadrantFrames(b: Array[Byte]): Option[Array[Array[Double]]] =
    try {
      var i = 0
      while (i < b.length && b(i) != '\n') i += 1
      if (i >= b.length) return None
      val header = new String(b, 0, i, "US-ASCII")
      if (!header.startsWith("YUV4MPEG2")) return None
      var w = -1; var h = -1; var cs = "420" // Y4M default chroma is 4:2:0
      header.split(' ').foreach { tok =>
        if (tok.length > 1 && tok.charAt(0) == 'W') w = tok.substring(1).toInt
        else if (tok.length > 1 && tok.charAt(0) == 'H') h = tok.substring(1).toInt
        else if (tok.length > 1 && tok.charAt(0) == 'C') cs = tok.substring(1)
      }
      if (w <= 0 || h <= 0) return None
      val ySize = w * h
      // chroma plane bytes per frame; the C420 family (jpeg/paldv/
      // mpeg2 siting variants) shares one size
      val chromaSize =
        if (cs.startsWith("420")) 2 * ((w + 1) / 2) * ((h + 1) / 2)
        else if (cs.startsWith("422")) 2 * ((w + 1) / 2) * h
        else if (cs.startsWith("444")) 2 * w * h
        else if (cs == "mono") 0
        else return None
      val frames = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
      var p = i + 1
      while (p < b.length) {
        var q = p
        while (q < b.length && b(q) != '\n') q += 1
        if (q >= b.length) return None
        if (!new String(b, p, math.min(5, q - p), "US-ASCII").startsWith("FRAME"))
          return None
        p = q + 1
        // the FULL frame (luma + chroma) must be present, matching
        // y4mMeta's walk — a payload truncated inside the final
        // frame's chroma is malformed for fingerprint and metadata
        // alike, never real=true here but non-video there
        if (p + ySize + chromaSize > b.length) return None
        val sums = new Array[Double](4)
        val cnts = new Array[Int](4)
        var y = 0
        while (y < h) {
          val rowQ = if (y * 2 >= h) 2 else 0
          var x = 0
          while (x < w) {
            val qd = rowQ + (if (x * 2 >= w) 1 else 0)
            sums(qd) += (b(p + y * w + x) & 0xFF)
            cnts(qd) += 1
            x += 1
          }
          y += 1
        }
        frames += Array.tabulate(4)(k =>
          if (cnts(k) == 0) 0.0 else sums(k) / cnts(k))
        p += ySize + chromaSize
      }
      if (frames.isEmpty) None else Some(frames.toArray)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Per-frame 4-quadrant mean lumas from an animated GIF (real
    * javax.imageio decode; ITU-R 601 luma weights).
    */
  private def gifQuadrantFrames(m: MediaRow): Option[Array[Array[Double]]] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(m.payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); None }
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          if (n <= 0) None
          else Some(Array.tabulate(n) { i =>
            val img = reader.read(i)
            val w = img.getWidth; val h = img.getHeight
            val sums = new Array[Double](4)
            val cnts = new Array[Int](4)
            var y = 0
            while (y < h) {
              val rowQ = if (y * 2 >= h) 2 else 0
              var x = 0
              while (x < w) {
                val rgb = img.getRGB(x, y)
                val luma = 0.299 * ((rgb >> 16) & 0xFF) +
                  0.587 * ((rgb >> 8) & 0xFF) + 0.114 * (rgb & 0xFF)
                val qd = rowQ + (if (x * 2 >= w) 1 else 0)
                sums(qd) += luma; cnts(qd) += 1
                x += 1
              }
              y += 1
            }
            Array.tabulate(4)(k => if (cnts(k) == 0) 0.0 else sums(k) / cnts(k))
          })
        } finally { reader.dispose(); iis.close() }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** 16 frames sampled evenly across the clip × 4 spatial quadrants
    * = 64 cells; bit k = cell k > mean of all cells. Invariances are
    * EXACT, not approximate: a uniform brightness SHIFT moves every
    * cell and the mean by the same constant, a positive gain SCALE
    * multiplies both sides of every comparison — neither flips a bit
    * (the pHash argument, extended temporally). Even temporal
    * sampling makes the hash robust to frame-rate resampling, the
    * quadrant means to spatial resize, and decode-derived cells to
    * container re-encode (Y4M ↔ GIF of the same rasters agree up to
    * palette quantization).
    */
  private def spatioTemporalBits(frames: Array[Array[Double]]): Long = {
    val n = frames.length
    val cells = new Array[Double](64)
    var i = 0
    while (i < 16) {
      val fi = if (n == 1) 0 else math.round(i.toDouble * (n - 1) / 15.0).toInt
      var q = 0
      while (q < 4) { cells(i * 4 + q) = frames(fi)(q); q += 1 }
      i += 1
    }
    val mean = cells.sum / 64
    var bits = 0L
    i = 0
    while (i < 64) { if (cells(i) > mean) bits |= (1L << i); i += 1 }
    bits
  }

  /** Perceptual video fingerprint: REAL decode for Y4M and animated
    * GIF payloads (spatio-temporal 64-bit hash over 16 evenly-sampled
    * frames × 4 quadrant mean lumas — exactly brightness-shift and
    * gain invariant, see [[spatioTemporalBits]]); other payloads take
    * the deterministic FNV-1a fallback so the pair plumbing stays
    * total and content-oracle-able (identical bytes ⇒ identical
    * hash). Same bounded-batch mapPartitions shape as the image and
    * audio fingerprints: CPU-bound per partition, zero shuffle.
    */
  def videoFingerprint(media: Dataset[MediaRow],
                       batchSize: Int = 64,
                       transcoder: MediaTranscoder = NoTranscoder): Dataset[VideoHash] = {
    import media.sparkSession.implicits._
    javax.imageio.ImageIO.setUseCache(false)
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val real =
            (if (looksLikeY4m(m.payload)) y4mQuadrantFrames(m.payload)
             else if (looksLikeGif(m.payload)) gifQuadrantFrames(m)
             // the external-decoder seam ([[MediaTranscoder]]): codec
             // containers transcode to Y4M and reuse the SAME raster
             // walk — a decline degrades to the FNV fallback below
             else if (m.payload == null) None
             else transcoder.toY4m(m.payload).flatMap(y4mQuadrantFrames))
              .map(fr => VideoHash(m.media_id, spatioTemporalBits(fr), real = true))
          real.getOrElse {
            val bytes = if (m.payload == null) Array.empty[Byte] else m.payload
            val h = bytes.foldLeft(1469598103934665603L)((a, b) => (a ^ b) * 1099511628211L)
            VideoHash(m.media_id, h, real = false)
          }
        }
      }
    }
  }

  /** Perceptual near-duplicate VIDEO pairs — the dhash/audio recipe
    * verbatim over the video fingerprint: exact-payload collapse
    * first (a re-uploaded clip with 10⁵ byte-identical copies must
    * not multiply band buckets), the 64-bit fingerprint of each
    * DISTINCT payload banded and bucket-joined (pigeonhole: hamming
    * < bands ⇒ a shared chunk), exact-hamming filtered, then member
    * expansion. A brightness-shifted or gain-scaled re-encode pairs
    * at hamming 0 by the exact invariance of [[spatioTemporalBits]]
    * — different payload bytes, same fingerprint — so the band join,
    * not the exact collapse, carries those pairs. Non-decodable
    * payloads (FNV fallback, `real = false`) pair on full 64-bit hash
    * equality only — see [[bandedHammingPairs]]. Output:
    * (id_a < id_b, hamming).
    */
  def videoDupPairs(media: Dataset[MediaRow], maxHamming: Int = 4,
                    bands: Int = 8,
                    transcoder: MediaTranscoder = NoTranscoder): DataFrame = {
    require(64 % bands == 0, s"bands=$bands must divide 64")
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands ($maxHamming >= $bands)")
    val spark = media.sparkSession
    import spark.implicits._
    val df = media.toDF()
    val collapsed = Dedup.collapseByContent(df, "media_id", "payload")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val members = Dedup.memberFrame(df, "media_id", "payload")
    val repHashes = videoFingerprint(
      collapsed.select(col("rep_id").as("media_id"),
          lit("unknown").as("media_type"),
          coalesce(octet_length(col("rep_text")).cast("long"), lit(0L)).as("byte_len"),
          col("rep_text").as("payload"))
        .as[MediaRow], transcoder = transcoder).toDF()
    val repPairs = bandedHammingPairs(
      repHashes.select(col("media_id").as("id"), col("vhash").as("h"),
        col("real")),
      maxHamming, bands)
    val out = Dedup.withinGroupPairs(collapsed, members, Seq("content_key"),
        lit(0).cast("int"), "hamming")
      .unionByName(Dedup.expandRepPairs(repPairs, collapsed, members,
        Seq("content_key"), "hamming"))
      .localCheckpoint(true) // see dhashPairs: drop the cache, no leak
    collapsed.unpersist(false)
    out
  }

  /** Deterministic synthetic 16-bit PCM WAV: every sample holds
    * `value`, so the decoded RMS is exactly |value|/32768 — planted
    * fixtures whose decode output reduces to arithmetic (the
    * [[syntheticPng]]/[[syntheticY4m]] convention for audio).
    */
  def syntheticWav(sampleRate: Float, channels: Int, nFrames: Int,
                   value: Short = 12000): Array[Byte] = {
    require(channels >= 1 && nFrames >= 0,
      s"bad syntheticWav params channels=$channels nFrames=$nFrames")
    val fmt = new javax.sound.sampled.AudioFormat(sampleRate, 16, channels,
      true, false)
    val data = new Array[Byte](nFrames * channels * 2)
    val bb = java.nio.ByteBuffer.wrap(data)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < nFrames * channels) { bb.putShort(i * 2, value); i += 1 }
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, nFrames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Header-derived video metadata row; Option-typed so the schema
    * stays total for non-video payloads (no fake dims).
    */
  case class VideoMeta(
      media_id: Long,
      is_video: Boolean,
      container: Option[String],
      width: Option[Int],
      height: Option[Int],
      fps_num: Option[Int],
      fps_den: Option[Int],
      n_frames: Option[Int])

  /** VIDEO metadata extraction — the 37c contract for moving media:
    * container, true dimensions, frame rate, frame count from
    * HEADERS only. Y4M: the ASCII header line plus a frame-section
    * walk (byte arithmetic — the rasters are never read as pixels);
    * animated GIF: ImageIO reader header parse + frame count (frame
    * rate is per-frame in GIF extension blocks, reported as null).
    * Non-video rows (magic sniff) never touch payload bytes beyond
    * the magic; malformed video payloads degrade to the total-null
    * row, the imageMetadata convention.
    */
  def videoMetadata(media: Dataset[MediaRow],
                    batchSize: Int = 64): Dataset[VideoMeta] = {
    import media.sparkSession.implicits._
    javax.imageio.ImageIO.setUseCache(false)
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        batch.iterator.map { m =>
          val meta =
            if (looksLikeY4m(m.payload)) y4mMeta(m.media_id, m.payload)
            else if (looksLikeGif(m.payload)) gifMeta(m)
            else None
          meta.getOrElse(
            VideoMeta(m.media_id, is_video = false, None, None, None,
              None, None, None))
        }
      }
    }
  }

  private def y4mMeta(id: Long, b: Array[Byte]): Option[VideoMeta] =
    try {
      var i = 0
      while (i < b.length && b(i) != '\n') i += 1
      if (i >= b.length) return None
      val header = new String(b, 0, i, "US-ASCII")
      var w = -1; var h = -1; var cs = "420"; var fn = -1; var fd = -1
      header.split(' ').foreach { tok =>
        if (tok.length > 1 && tok.charAt(0) == 'W') w = tok.substring(1).toInt
        else if (tok.length > 1 && tok.charAt(0) == 'H') h = tok.substring(1).toInt
        else if (tok.length > 1 && tok.charAt(0) == 'C') cs = tok.substring(1)
        else if (tok.length > 1 && tok.charAt(0) == 'F') {
          val parts = tok.substring(1).split(':')
          if (parts.length == 2) { fn = parts(0).toInt; fd = parts(1).toInt }
        }
      }
      if (w <= 0 || h <= 0) return None
      val frameBytes = w * h + (
        if (cs.startsWith("420")) 2 * ((w + 1) / 2) * ((h + 1) / 2)
        else if (cs.startsWith("422")) 2 * ((w + 1) / 2) * h
        else if (cs.startsWith("444")) 2 * w * h
        else if (cs == "mono") 0
        else return None)
      var n = 0
      var p = i + 1
      while (p < b.length) {
        var q = p
        while (q < b.length && b(q) != '\n') q += 1
        if (q >= b.length) return None
        if (!new String(b, p, math.min(5, q - p), "US-ASCII").startsWith("FRAME"))
          return None
        p = q + 1 + frameBytes
        if (p > b.length) return None
        n += 1
      }
      Some(VideoMeta(id, is_video = true, Some("y4m"), Some(w), Some(h),
        if (fn > 0) Some(fn) else None, if (fd > 0) Some(fd) else None,
        Some(n)))
    } catch { case scala.util.control.NonFatal(_) => None }

  private def gifMeta(m: MediaRow): Option[VideoMeta] =
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(m.payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); None }
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis)
          val n = reader.getNumImages(true)
          if (n <= 0) None
          else Some(VideoMeta(m.media_id, is_video = true, Some("gif"),
            Some(reader.getWidth(0)), Some(reader.getHeight(0)),
            None, None, Some(n)))
        } finally { reader.dispose(); iis.close() }
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  private def splitmix64(x0: Long): Long = {
    var z = x0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** The 64-bit spatio-temporal pattern [[syntheticY4m]] encodes for
    * `melody` — by construction exactly the fingerprint
    * [[videoFingerprint]] recovers from the decoded clip at ANY
    * brightness (guarded non-degenerate: a pattern of popcount 0/64
    * would collapse to all-zero bits under the cell>mean rule).
    */
  def melodyPattern(melody: Long): Long = {
    val b = splitmix64(melody)
    val pc = java.lang.Long.bitCount(b)
    if (pc == 0 || pc == 64) b ^ 1L else b
  }

  /** Deterministic synthetic Y4M clip: 16 frames of `w`×`h` C420
    * video whose quadrant lumas encode [[melodyPattern]]'s bits
    * (bit set → base+40, clear → base−40, base = 110 + brightness)
    * — so the decoded fingerprint equals the pattern EXACTLY and two
    * clips of the same melody at different brightness are hamming-0
    * near-duplicates with different payload bytes. Brightness must
    * keep lumas in [0, 255]: −70 ≤ brightness ≤ 105.
    */
  def syntheticY4m(melody: Long, brightness: Int = 0,
                   w: Int = 32, h: Int = 32): Array[Byte] = {
    require(w % 2 == 0 && h % 2 == 0, "C420 needs even dimensions")
    require(brightness >= -70 && brightness <= 105,
      s"brightness $brightness would clip lumas outside [0,255]")
    val pat = melodyPattern(melody)
    val out = new java.io.ByteArrayOutputStream()
    out.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420\n".getBytes("US-ASCII"))
    val chroma = new Array[Byte]((w / 2) * (h / 2))
    java.util.Arrays.fill(chroma, 128.toByte)
    var f = 0
    while (f < 16) {
      out.write("FRAME\n".getBytes("US-ASCII"))
      val yPlane = new Array[Byte](w * h)
      var y = 0
      while (y < h) {
        val rowQ = if (y * 2 >= h) 2 else 0
        var x = 0
        while (x < w) {
          val cell = f * 4 + rowQ + (if (x * 2 >= w) 1 else 0)
          val luma = 110 + brightness + (if (((pat >>> cell) & 1L) == 1L) 40 else -40)
          yPlane(y * w + x) = luma.toByte
          x += 1
        }
        y += 1
      }
      out.write(yPlane)
      out.write(chroma) // U
      out.write(chroma) // V
      f += 1
    }
    out.toByteArray
  }
}
