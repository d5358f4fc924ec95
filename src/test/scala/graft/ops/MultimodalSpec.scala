package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  lazy val media = Multimodal.asMediaTable(
    graft.Tables.documents(spark, "/root/testdata/sf0.001"), "doc_id", "text")

  test("media table schema and metadata") {
    val schema = media.schema
    assert(schema("payload").dataType.typeName == "binary")
    assert(schema("byte_len").dataType.typeName == "long")
    val r = media.orderBy("media_id").head()
    assert(r.getAs[Long]("byte_len") > 0)
    assert(Seq("image", "audio", "video", "unknown").contains(r.getAs[String]("media_type")))
    // metadata-only query must not deserialize payloads to answer
    assert(media.filter($"byte_len" > 100).count() > 0)
  }

  test("real PNG payloads decode to true dimensions and channels") {
    import Multimodal._
    import java.awt.image.BufferedImage
    // generate real images in-memory with the JDK encoder; decode must
    // recover the true raster geometry, not the synthetic fallback
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, ((x * 255 / w) << 16) | ((y * 255 / h) << 8) | 0x40)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      MediaRow(1L, "image", 0L, png(20, 12)),
      MediaRow(2L, "image", 0L, png(7, 33)),
      MediaRow(3L, "image", 0L, "not an image".getBytes("UTF-8")))
      .map(m => m.copy(byte_len = m.payload.length.toLong))
    val ds = spark.createDataset(rows)
    val out = decodeImages(ds, featureDim = 4).collect().sortBy(_.media_id).toSeq
    assert(out.map(d => (d.media_id, d.width, d.height)).take(2) ==
           Seq((1L, 20, 12), (2L, 7, 33)))
    assert(out.take(2).forall(d => d.n_channels == 3))
    assert(out.take(2).forall(d => d.features.length == 4 &&
           d.features.forall(f => f >= 0f && f <= 1f)))
    // the left-to-right red gradient makes strip luminance increase
    val f1 = out.head.features
    assert(f1.last > f1.head, s"gradient not reflected: ${f1.toSeq}")
    // non-image bytes take the deterministic synthetic path
    assert(out(2).width >= 16 && out(2).n_channels == 3)
  }

  test("batch decode is deterministic and schema-correct") {
    import Multimodal._
    val ds = media.limit(20).as[MediaRow]
    val out1 = decodeImages(ds, batchSize = 7).collect().sortBy(_.media_id)
    val out2 = decodeImages(ds, batchSize = 3).collect().sortBy(_.media_id)
    assert(out1.length == 20)
    // batch size must not change results (pure per-item contract)
    assert(out1.map(d => (d.media_id, d.width, d.height, d.features.toSeq)).toSeq ==
           out2.map(d => (d.media_id, d.width, d.height, d.features.toSeq)).toSeq)
    out1.foreach { d =>
      assert(d.width >= 16 && d.height >= 16 && d.n_channels == 3)
      assert(d.features.length == 8)
      assert(d.features.forall(f => f >= 0f && f <= 1f))
    }
  }

  test("resize preserves aspect contract") {
    import Multimodal._
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB), "png", bos)
      bos.toByteArray
    }
    val ds = Seq((100, 60), (7, 90), (40, 40), (20, 12), (33, 32)).zipWithIndex
      .map { case ((w, h), i) => MediaRow(i.toLong, "image", 0L, png(w, h)) }.toDS()
    val resized = decodeImages(resizeImages(ds, maxSide = 32)).collect()
    assert(resized.length == 5)
    resized.foreach { d => assert(math.max(d.width, d.height) <= 32) }
  }

  test("real resize downscales PNG payloads; non-images pass through") {
    import Multimodal._
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w)
        img.setRGB(x, y, ((x * 255 / w) << 16) | ((y * 255 / h) << 8) | 0x40)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val rows = Seq(
      MediaRow(1L, "image", 0L, png(100, 60)),   // downscaled 50x30
      MediaRow(2L, "image", 0L, png(20, 12)),    // already fits: untouched
      MediaRow(3L, "image", 0L, "plain text payload".getBytes("UTF-8")))
      .map(m => m.copy(byte_len = m.payload.length.toLong))
    val out = resizeImages(spark.createDataset(rows), maxSide = 50)
      .collect().sortBy(_.media_id)
    // re-decode the resized payload: true raster must be 50x30
    val d1 = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out(0).payload))
    assert(d1.getWidth == 50 && d1.getHeight == 30, s"${d1.getWidth}x${d1.getHeight}")
    assert(out(0).byte_len == out(0).payload.length.toLong)
    // small image and non-image bytes pass through byte-identical
    assert(out(1).payload.toSeq == rows(1).payload.toSeq)
    assert(out(2).payload.toSeq == rows(2).payload.toSeq)
  }

  test("frame sampling emits strided frames") {
    import Multimodal._
    val ds = media.limit(5).as[MediaRow]
    val frames = sampleFrames(ds, stride = 4).toDF()
    val grouped = frames.groupBy("media_id").agg(count(lit(1)).as("n"),
      max("frame_no").as("mx")).collect()
    assert(grouped.length == 5)
    grouped.foreach { r => assert(r.getAs[Long]("n") > 0) }
    val one = frames.filter($"media_id" === grouped.head.getLong(0))
      .orderBy("frame_no").select("frame_no").collect().map(_.getInt(0))
    assert(one.zip(one.tail).forall { case (a, b) => b - a == 4 })
  }

  /** A real animated GIF, written frame-by-frame with the JDK encoder:
    * each frame a solid gray level, so decoded mean luminance
    * identifies which frame was read.
    */
  private def animatedGif(levels: Seq[Int], w: Int, h: Int): Array[Byte] = {
    import java.awt.image.BufferedImage
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    levels.foreach { lvl =>
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = img.createGraphics()
      g.setColor(new java.awt.Color(lvl, lvl, lvl)); g.fillRect(0, 0, w, h); g.dispose()
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), writer.getDefaultWriteParam)
    }
    writer.endWriteSequence(); writer.dispose(); ios.close()
    bos.toByteArray
  }

  /** A real 16-bit PCM mono WAV of a sine wave, written with the JDK
    * encoder: amplitude fixes the expected RMS (a/√2).
    */
  private def sineWav(hz: Double, amp: Double, rate: Float, frames: Int): Array[Byte] = {
    import javax.sound.sampled._
    val fmt = new AudioFormat(rate, 16, 1, true, false)
    val pcm = new Array[Byte](frames * 2)
    val buf = java.nio.ByteBuffer.wrap(pcm).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    for (i <- 0 until frames)
      buf.putShort(i * 2, (math.sin(2 * math.Pi * hz * i / rate) * amp * 32767).toShort)
    val stream = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(stream, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  test("perceptual dHash: invariant to brightness and scale, separates distinct images") {
    import Multimodal._
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int, pix: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) {
        val v = math.max(0, math.min(255, pix(x, y)))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }
    val grad = png(72, 64, (x, _) => x * 3)            // left-to-right ramp
    val bright = png(72, 64, (x, _) => x * 3 + 10)     // uniform shift
    val small = png(36, 32, (x, _) => x * 6)           // same ramp, half size
    val inverted = png(72, 64, (x, _) => 215 - x * 3)  // reversed ramp
    val rows = Seq(
      MediaRow(1L, "image", grad.length.toLong, grad),
      MediaRow(2L, "image", bright.length.toLong, bright),
      MediaRow(3L, "image", small.length.toLong, small),
      MediaRow(4L, "image", inverted.length.toLong, inverted)).toDS()
    val hashes = imageDHash(rows).collect().map(h => h.media_id -> h).toMap
    assert(hashes.values.forall(_.real))
    // uniform brightness shift preserves every adjacent comparison
    assert(hashes(1L).dhash == hashes(2L).dhash)
    // the reversed ramp flips (almost) every comparison
    assert(java.lang.Long.bitCount(hashes(1L).dhash ^ hashes(4L).dhash) > 32)
    // byte-identical copy: collapses to one representative, pairs at
    // hamming 0 with its original and inherits its near-dups
    val rows2 = rows.toDF().unionByName(
      Seq(MediaRow(5L, "image", grad.length.toLong, grad)).toDS().toDF()).as[MediaRow]
    val pairs = dhashPairs(rows2, maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)) &&
      pairs.contains((2L, 3L)), pairs.toString)
    assert(pairs.contains((1L, 5L)) && pairs.contains((2L, 5L)) &&
      pairs.contains((3L, 5L)), s"exact copy must pair through the collapse: $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L),
      s"inverted image must not pair: $pairs")
    spark.catalog.clearCache()
  }

  test("corrupt media payloads degrade to the synthetic row, never fail the job") {
    import Multimodal._
    // payloads that PASS the magic checks but are garbage inside —
    // the JDK decoders throw RuntimeExceptions (not just IOException)
    // on shapes like these, and one bad file in a corpus must not
    // kill the pipeline
    val gif = animatedGif(Seq(128), w = 8, h = 8)
    val corruptGif = gif.take(32) ++ Array.fill[Byte](64)(0x7F)
    val wav = sineWav(hz = 440, amp = 0.5, rate = 8000f, frames = 100)
    val corruptWav = wav.take(44) ++ Array.fill[Byte](7)(-1) // ragged body
    val gifRows = Seq(MediaRow(1L, "video", corruptGif.length.toLong, corruptGif)).toDS()
    val frames = sampleFrames(gifRows, stride = 1).collect()
    assert(frames.nonEmpty && frames.forall(!_.real),
      "corrupt GIF must take the synthetic path")
    // the JDK may still salvage a partial PCM body — the contract is
    // "never throw, always emit a row", not which path it takes
    val wavRows = Seq(MediaRow(2L, "audio", corruptWav.length.toLong, corruptWav)).toDS()
    val audio = decodeAudio(wavRows).collect()
    assert(audio.length == 1, "corrupt WAV must still produce its row")
  }

  test("real WAV payloads decode to true waveform stats") {
    import Multimodal._
    val wav = sineWav(hz = 440, amp = 0.5, rate = 8000f, frames = 1600)
    val notAudio = "audio-shaped but not audio".getBytes("UTF-8")
    val truncated = wav.take(16) // RIFF/WAVE magic, no usable body
    val rows = Seq(
      MediaRow(1L, "audio", wav.length.toLong, wav),
      MediaRow(2L, "audio", notAudio.length.toLong, notAudio),
      MediaRow(3L, "audio", truncated.length.toLong, truncated)).toDS()
    val out = decodeAudio(rows).collect().sortBy(_.media_id)
    val real = out(0)
    assert(real.real && real.sample_rate == 8000f && real.channels == 1 &&
      real.n_frames == 1600L, real.toString)
    // RMS of a half-amplitude sine = 0.5 / sqrt(2), modulo 16-bit quantization
    assert(math.abs(real.rms - 0.5 / math.sqrt(2)) < 0.01, real.rms.toString)
    assert(!out(1).real && !out(2).real,
      "non-decodable payloads must take the synthetic path")
  }

  test("real GIF frame sampling decodes every strided frame's raster") {
    import Multimodal._
    // 3 frames at luminance ~0.12, ~0.50, ~0.88; GIF palettes quantize,
    // so assert ordering + closeness rather than exact values
    val gif = animatedGif(Seq(30, 128, 225), w = 40, h = 20)
    val notGif = "just text bytes".getBytes("UTF-8")
    val rows = Seq(
      MediaRow(1L, "video", gif.length.toLong, gif),
      MediaRow(2L, "unknown", notGif.length.toLong, notGif)).toDS()

    val all = sampleFrames(rows, stride = 1).collect().sortBy(f => (f.media_id, f.frame_no))
    val real = all.filter(_.media_id == 1L)
    assert(real.length == 3, s"expected 3 GIF frames, got ${real.length}")
    assert(real.forall(f => f.real && f.width == 40 && f.height == 20))
    assert(real.map(_.frame_no).toSeq == Seq(0, 1, 2))
    val lumas = real.map(_.mean_luma)
    assert(lumas(0) < lumas(1) && lumas(1) < lumas(2), lumas.toSeq.toString)
    assert(math.abs(lumas(0) - 30 / 255f) < 0.1 && math.abs(lumas(2) - 225 / 255f) < 0.1,
      lumas.toSeq.toString)
    // non-GIF payload falls back to the synthetic shape
    val synth = all.filter(_.media_id == 2L)
    assert(synth.nonEmpty && synth.forall(f => !f.real && f.width == 0))

    // stride 2 skips the middle frame
    val strided = sampleFrames(rows.filter($"media_id" === 1L), stride = 2)
      .collect().sortBy(_.frame_no)
    assert(strided.map(_.frame_no).toSeq == Seq(0, 2), strided.toSeq.toString)
  }

  test("letterboxPlan: aspect preserved, pads centered, degenerate dims clamped") {
    import org.apache.spark.sql.functions.col
    val dims = Seq(
      (1L, 300, 300),  // square -> full canvas, no pads
      (2L, 400, 200),  // wide   -> 224x112, pad_top 56
      (3L, 100, 224),  // tall   -> 100x224, pad_left 62
      (4L, 1, 1000))   // sliver -> width clamps to 1
      .toDF("id", "w", "h")
    val got = Multimodal.letterboxPlan(dims, "w", "h", 224)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getInt(3), r.getInt(4), r.getInt(5), r.getInt(6)))
    assert(got.toSeq === Seq(
      (1L, 224, 224, 0, 0),
      (2L, 224, 112, 0, 56),
      (3L, 100, 224, 62, 0),
      (4L, 1, 224, 111, 0)))
    // geometry invariant: scaled content always fits the canvas
    val all = Multimodal.letterboxPlan(dims, "w", "h", 224).collect()
    assert(all.forall(r => r.getInt(3) <= 224 && r.getInt(4) <= 224 &&
      r.getInt(5) >= 0 && r.getInt(6) >= 0))
  }

  // ---- DCT perceptual hash (r13) --------------------------------------

  test("pHash: invariant to brightness shift/scale and resize, separates distinct images") {
    import Multimodal._
    import java.awt.image.BufferedImage
    def png(w: Int, h: Int, pix: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      for (y <- 0 until h; x <- 0 until w) {
        val v = math.min(255, math.max(0, pix(x, y)))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos); bos.toByteArray
    }
    // a structured scene in NORMALIZED coordinates (same visual
    // content at any resolution, no luminance clipping anywhere —
    // clipping would break the linear-invariance arguments)
    def scene(w: Int)(x: Int, y: Int): Int = {
      val base = x * 100 / w + y * 50 / w
      if (x > w * 3 / 8 && x < w * 5 / 8 && y > w / 4 && y < w / 2) base + 80
      else base
    }
    def ph(b: Array[Byte]): Long =
      imagePHash(Seq(MediaRow(1L, "image", b.length.toLong, b)).toDS())
        .collect()(0).phash
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val base = ph(png(64, 64, scene(64)))
    val brighter = ph(png(64, 64, (x, y) => scene(64)(x, y) + 20))
    val scaled = ph(png(64, 64, (x, y) => scene(64)(x, y) * 11 / 10))
    val resized = ph(png(128, 128, scene(128)))
    val different = ph(png(64, 64, (x, y) =>
      if (((x / 8) + (y / 8)) % 2 == 0) 30 else 220))
    assert(ham(base, brighter) <= 4, s"brightness shift moved ${ham(base, brighter)} bits")
    assert(ham(base, scaled) <= 4, s"brightness scale moved ${ham(base, scaled)} bits")
    assert(ham(base, resized) <= 8, s"resize moved ${ham(base, resized)} bits")
    assert(ham(base, different) > 16,
      s"distinct images at hamming ${ham(base, different)}")
    // non-images take the FNV fallback
    val fb = imagePHash(Seq(MediaRow(2L, "text", 4L,
      "text".getBytes("UTF-8"))).toDS()).collect()(0)
    assert(!fb.real)
  }

  // ---- image metadata extraction (r13) -------------------------------

  test("imageMetadata: header-true format/dims/color-model for PNG, GIF, BMP") {
    import Multimodal._
    import java.awt.image.BufferedImage
    def enc(fmt: String, img: BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos); bos.toByteArray
    }
    val rgb = new BufferedImage(37, 21, BufferedImage.TYPE_3BYTE_BGR)
    val gray = new BufferedImage(10, 5, BufferedImage.TYPE_BYTE_GRAY)
    val rows = Seq(
      MediaRow(1L, "image", 0L, syntheticPng(37, 21)),
      MediaRow(2L, "image", 0L, enc("gif", rgb)),
      MediaRow(3L, "image", 0L, enc("bmp", rgb)),
      MediaRow(4L, "image", 0L, enc("png", gray))).toDS()
    val got = imageMetadata(rows).collect().sortBy(_.media_id)
    assert(got(0) == ImageMeta(1L, true, Some("png"), Some(37), Some(21),
      Some(3), Some(24)), got(0).toString)
    assert(got(1).format.contains("gif") && got(1).width.contains(37) &&
      got(1).height.contains(21))
    assert(got(2).format.contains("bmp") && got(2).width.contains(37))
    assert(got(3).format.contains("png") && got(3).n_components.contains(1) &&
      got(3).bits_per_pixel.contains(8), got(3).toString)
  }

  test("imageMetadata: non-image and corrupt payloads degrade to the total NULL row") {
    import Multimodal._
    val png = syntheticPng(8, 8)
    val corrupt = png.take(12) ++ Array.fill[Byte](20)(0x55) // magic passes, header lies
    val rows = Seq(
      MediaRow(1L, "text", 0L, "just bytes".getBytes("UTF-8")),
      MediaRow(2L, "image", 0L, corrupt),
      MediaRow(3L, "image", 0L, null)).toDS()
    val got = imageMetadata(rows).collect().sortBy(_.media_id)
    assert(got.forall(m => !m.is_image && m.format.isEmpty && m.width.isEmpty),
      got.mkString(", "))
  }

  // ---- audio perceptual fingerprint (r13) ---------------------------

  /** A non-stationary "melody" WAV — stepped pitch AND loudness so
    * window energies differ distinctly (a pure sine has equal energy
    * in every window, leaving the sign bits to quantization noise).
    * `pattern` permutes the note order so two melodies separate.
    */
  private def melodyWav(amp: Double, frames: Int, channels: Int = 1,
                        pattern: Int = 1): Array[Byte] = {
    import javax.sound.sampled._
    val rate = 8000f
    val fmt = new AudioFormat(rate, 16, channels, true, false)
    val pcm = new Array[Byte](frames * 2 * channels)
    val buf = java.nio.ByteBuffer.wrap(pcm)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var phase = 0.0
    for (i <- 0 until frames) {
      val seg = i * 8 / frames
      val hz = 220.0 * (1 + (seg * pattern) % 5)
      val env = 0.2 + 0.8 * (((seg * pattern) % 3) / 2.0)
      phase += 2 * math.Pi * hz / rate
      val s = (math.sin(phase) * amp * env * 32767).toShort
      for (c <- 0 until channels) buf.putShort((i * channels + c) * 2, s)
    }
    val stream = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(stream, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  private def fingerprintOf(payload: Array[Byte]): Multimodal.AudioHash = {
    import Multimodal._
    audioFingerprint(Seq(
      MediaRow(1L, "audio", payload.length.toLong, payload)).toDS())
      .collect()(0)
  }

  private def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  test("audio fingerprint: gain shift leaves the sign-of-energy bits (nearly) unchanged") {
    val loud = fingerprintOf(melodyWav(amp = 0.9, frames = 4000))
    val quiet = fingerprintOf(melodyWav(amp = 0.45, frames = 4000))
    assert(loud.real && quiet.real)
    // energy ratios are gain-invariant exactly; 16-bit requantization
    // can flip only near-tied windows
    assert(hamming(loud.ahash, quiet.ahash) <= 4,
      s"gain shift moved ${hamming(loud.ahash, quiet.ahash)} bits")
  }

  test("audio fingerprint: mono->stereo re-encode (duplicated channels) is bit-identical") {
    val mono = fingerprintOf(melodyWav(amp = 0.8, frames = 4000, channels = 1))
    val stereo = fingerprintOf(melodyWav(amp = 0.8, frames = 4000, channels = 2))
    assert(mono.real && stereo.real)
    assert(mono.ahash == stereo.ahash,
      "channel-averaged reduction must make the upmix bit-identical")
  }

  test("audio fingerprint: distinct melodies separate") {
    val a = fingerprintOf(melodyWav(amp = 0.8, frames = 4000, pattern = 1))
    val b = fingerprintOf(melodyWav(amp = 0.8, frames = 4000, pattern = 3))
    assert(a.real && b.real)
    assert(hamming(a.ahash, b.ahash) > 10,
      s"different melodies at hamming ${hamming(a.ahash, b.ahash)}")
  }

  test("audio fingerprint: short or non-WAV payloads take the FNV fallback") {
    import Multimodal._
    val tiny = melodyWav(amp = 0.5, frames = 50) // < 66 frames
    val text = "not audio at all".getBytes("UTF-8")
    val out = audioFingerprint(Seq(
      MediaRow(1L, "audio", tiny.length.toLong, tiny),
      MediaRow(2L, "text", text.length.toLong, text),
      MediaRow(3L, "text", text.length.toLong, text)).toDS())
      .collect().sortBy(_.media_id)
    assert(out.forall(!_.real))
    assert(out(1).ahash == out(2).ahash,
      "identical payloads must collide in the fallback hash")
  }

  test("audioDupPairs recovers gain-shifted twins and exact copies end-to-end") {
    import Multimodal._
    val base = melodyWav(amp = 0.9, frames = 4000, pattern = 1)
    val twin = melodyWav(amp = 0.45, frames = 4000, pattern = 1) // re-mastered
    val other = melodyWav(amp = 0.9, frames = 4000, pattern = 3)
    val rows = Seq(
      MediaRow(1L, "audio", base.length.toLong, base),
      MediaRow(2L, "audio", twin.length.toLong, twin),
      MediaRow(3L, "audio", other.length.toLong, other),
      MediaRow(4L, "audio", base.length.toLong, base) // exact re-crawl
    ).toDS()
    val pairs = audioDupPairs(rows, maxHamming = 4, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pairs.contains((1L, 4L, 0)), s"exact copy must pair at 0: $pairs")
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L),
      s"gain-shifted twin must pair: $pairs")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L),
      s"the distinct melody must NOT pair: $pairs")
  }
}
