package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column plumbing (SURVEY C12).
  *
  * Media travel as opaque BINARY columns with a typed metadata struct
  * — the lake-native layout (the decoded pixels/samples never hit the
  * shuffle; only features do). Heavy per-item work runs through
  * `mapPartitions` with explicit micro-batching: the Scala-native
  * equivalent of Python's `mapInPandas` batch contract (batch shape =
  * `batchSize` items, schema preserved + feature column appended).
  *
  * DECODE IS REAL: the JDK ships its own codecs — `javax.imageio`
  * (PNG/JPEG/GIF/BMP pixels, headless) and `javax.sound.sampled`
  * (WAV PCM samples) — so `imageFeatures` / `audioFeatures` /
  * `resizeImage` operate on actual pixels and samples with zero
  * extra dependencies; and because an MJPEG AVI's frame chunks are
  * standalone JPEGs, `probeVideo` / `videoFrames` /
  * `decodeFrameFeatures` give REAL per-frame video decode for that
  * (still-common) container too. Video in containers whose codecs
  * the JDK lacks (MP4/H.264…) is NOT fabricated: it yields null
  * features with `decoded = false` (the `decodeStub` stand-in runs
  * only behind an explicit opt-in, and never flips the flag) — the
  * documented seam an external codec jar would replace.
  * `probeImage`/`probeMeta` remain the codec-FREE container-header
  * parsers (dims/rates without touching pixels) a lake ingest uses
  * to validate and route before paying for decode; `decodeImage`
  * consults header dims first and refuses decompression bombs
  * (`MaxDecodePixels`), and the RIFF walks are depth-capped
  * (`RiffMaxDepth`), so one hostile row degrades to null instead of
  * killing an executor.
  *
  * Scale: decode is pure map-side (zero shuffle); `partitionHint`
  * repartitions only when the caller asks (codec work is CPU-bound, so
  * partitions should track cores, not input splits). Frame sampling
  * explodes to (media_id, frame_idx) rows BEFORE decoding so work
  * distributes per-frame, not per-video.
  */
object Multimodal {

  // Executors have no display; ImageIO must neither probe a desktop
  // nor spill scratch files into java.io.tmpdir per task. Deferred to
  // first actual codec use (not class load) so merely linking this
  // object mutates nothing. CAVEAT: `java.awt.headless` only takes
  // effect if AWT is not yet initialized, and `setUseCache` is
  // JVM-global — strict deployments should set
  // `-Djava.awt.headless=true` via spark.executor.extraJavaOptions
  // instead and this init becomes a no-op re-statement.
  private lazy val codecInit: Unit = {
    if (System.getProperty("java.awt.headless") == null)
      System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)
  }

  val FeatureDim = 16

  /** Decompression-bomb guard: refuse to decode images whose HEADER
    * dims exceed this many pixels (default 64 Mpx ≈ a 256 MB ARGB
    * buffer — above any legitimate photo, far below the multi-GB a
    * crafted 60000×60000 PNG would allocate). Checked via the
    * ImageReader header parse BEFORE any pixel allocation. */
  val MaxDecodePixels: Long = 64L << 20

  /** RIFF LIST nesting cap for the AVI walks: real files nest 2-3
    * deep; a crafted payload of nested 12-byte LISTs (a few hundred
    * KB buys tens of thousands of levels) must degrade to
    * None/empty like any other undecodable input, not blow the task
    * stack (StackOverflowError is an Error — it would escape the
    * NonFatal guards and kill the job from one bad row). */
  val RiffMaxDepth: Int = 64

  /** Canonical media schema: opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("content", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  /** Deterministic synthetic media table (test/bench input): image
    * rows carry REAL PNG payloads (id-seeded gradient pixels), audio
    * rows REAL 16-bit mono WAV payloads (id-seeded sine), video rows
    * REAL MJPEG-AVI payloads (id-seeded gradient frames) — so every
    * real decoder below exercises end-to-end. Metadata matches the
    * actual payload. */
  def synthesize(spark: SparkSession, n: Int): DataFrame = {
    // Payloads are synthesized EXECUTOR-SIDE from the row id
    // (optimization round 18): the former driver-side loop baked the
    // encoded PNG/WAV/AVI bytes into the parallelized partitions, so
    // every task closure shipped ~0.5 MB of media ("task of very
    // large size (1903 KiB)" in every Verify/Bench log — guide §7.3
    // "very large task closures"). Only the ids ride the task now;
    // the encoders are deterministic per id, so the rows (and the
    // MultimodalSinkSpec decode pins) are byte-identical.
    val rdd = spark.sparkContext.parallelize(0 until n, 4).map(i => synthRow(i))
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** One deterministic media row for id `i` — called executor-side. */
  private def synthRow(i: Int): Row = {
    val kinds = Seq("image", "audio", "video")
    val kind = kinds(i % kinds.size)
    val (content, meta) = kind match {
      case "image" =>
        val (w, h) = (64 + (i % 8) * 16, 48 + (i % 6) * 16)
        (synthPng(i, w, h), Row(w, h, null, null))
      case "audio" =>
        val durMs = 1000L + i * 37L
        (synthWav(i, 16000, durMs), Row(null, null, 16000, durMs.asInstanceOf[AnyRef]))
      case _ =>
        // duration derived from the REAL payload (frames / fps) so
        // `meta` never promises more frames than `videoFrames`
        // can extract — sampleFrames driven by this meta emits
        // exactly as many slots as frames exist
        val frames = 3 + i % 3
        val fps = 10
        (synthAvi(i, 64, 48, frames, fps),
          Row(64, 48, null, (frames * 1000L / fps).asInstanceOf[AnyRef]))
    }
    Row(i.toLong, kind, content, meta)
  }

  /** Real PNG payload: deterministic per-id gradient, JDK-encoded. */
  private[graft] def synthPng(seed: Int, w: Int, h: Int): Array[Byte] = {
    codecInit
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (seed * 37 + x * 3) % 256
        val g = (seed * 11 + y * 5) % 256
        val b = (seed * 53 + x + y) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real 16-bit mono WAV payload: deterministic per-id sine. */
  private[graft] def synthWav(seed: Int, rate: Int, durMs: Long): Array[Byte] = {
    val n = (rate * durMs / 1000L).toInt
    val freq = 110.0 * (1 + seed % 8)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = (math.sin(2 * math.Pi * freq * i / rate) * 0.5 * 32767).toInt
      pcm(i * 2) = (s & 0xff).toByte
      pcm(i * 2 + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(rate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Stand-in features for video containers the JDK cannot decode
    * (MP4/H.264…; MJPEG-AVI decodes for real — see `videoFrames`):
    * deterministic md5-derived floats in [-1, 1). NOT used by
    * default: `decodeFeatures` emits null features for undecodable
    * video (the same contract as undecodable images/audio) so
    * fabricated vectors can never be mistaken for pixel-derived ones
    * downstream — this stub runs only behind the explicit
    * `stubUndecodableVideo = true` opt-in (plumbing tests / dry
    * runs), and even then the row's `decoded` flag stays false.
    * Drop a codec jar on the classpath and this is the single seam
    * to replace with a real decoder. */
  private[sources] def decodeStub(content: Array[Byte]): Array[Float] = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(content)
    Array.tabulate(FeatureDim)(i => (d(i % d.length).toInt & 0xff) / 128.0f - 1.0f)
  }

  /** REAL pixel decode via the JDK's own codecs (PNG/JPEG/GIF/BMP —
    * javax.imageio, headless). None for null/undecodable bytes AND
    * for bomb payloads: the reader's header-only getWidth/getHeight
    * (no pixel allocation) gates w*h against `maxPixels` before the
    * decode pays for buffers, so a tiny PNG declaring 60000×60000
    * degrades to None instead of an executor OutOfMemoryError. */
  def decodeImage(b: Array[Byte],
                  maxPixels: Long = MaxDecodePixels): Option[java.awt.image.BufferedImage] =
    if (b == null) None
    else try {
      codecInit
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(b))
      try {
        val readers = javax.imageio.ImageIO.getImageReaders(iis)
        if (readers == null || !readers.hasNext) None
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis, true, true)
            val w = reader.getWidth(0).toLong
            val h = reader.getHeight(0).toLong
            if (w <= 0 || h <= 0 || w * h > maxPixels) None
            else Option(reader.read(0))
          } finally reader.dispose()
        }
      } finally if (iis != null) iis.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** REAL image features from decoded pixels — FeatureDim floats:
    * [width, height, meanR, meanG, meanB, meanLuma, stdLuma, aspect,
    * 8-bin luma histogram (pixel fractions)]. Channel means are in
    * [0, 255]; luma is Rec.601. One bulk getRGB per image (no
    * per-pixel JNI chatter). */
  def imageFeatures(b: Array[Byte]): Option[Array[Float]] =
    decodeImage(b).map { img =>
      val w = img.getWidth; val h = img.getHeight
      val px = img.getRGB(0, 0, w, h, null, 0, w)
      var sr = 0.0; var sg = 0.0; var sb = 0.0; var sl = 0.0; var sl2 = 0.0
      val hist = new Array[Long](8)
      var i = 0
      while (i < px.length) {
        val p = px(i)
        val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val bl = p & 0xff
        val luma = 0.299 * r + 0.587 * g + 0.114 * bl
        sr += r; sg += g; sb += bl; sl += luma; sl2 += luma * luma
        hist(math.min((luma / 32.0).toInt, 7)) += 1
        i += 1
      }
      val n = px.length.toDouble
      val mean = sl / n
      val varL = math.max(0.0, sl2 / n - mean * mean)
      Array[Float](w.toFloat, h.toFloat, (sr / n).toFloat, (sg / n).toFloat,
        (sb / n).toFloat, mean.toFloat, math.sqrt(varL).toFloat, w.toFloat / h) ++
        hist.map(c => (c / n).toFloat)
    }

  /** REAL resize: scale the longest side to `maxDim` (aspect
    * preserved, bilinear), re-encode as PNG. The model-input
    * normalization step of an image pipeline. */
  def resizeImage(b: Array[Byte], maxDim: Int): Option[Array[Byte]] =
    decodeImage(b).flatMap { img =>
      val w = img.getWidth; val h = img.getHeight
      val scale = maxDim.toDouble / math.max(w, h)
      val nw = math.max(1, math.round(w * scale).toInt)
      val nh = math.max(1, math.round(h * scale).toInt)
      val out = new java.awt.image.BufferedImage(nw, nh,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
        java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, nw, nh, null)
      g.dispose()
      val bos = new java.io.ByteArrayOutputStream()
      if (javax.imageio.ImageIO.write(out, "png", bos)) Some(bos.toByteArray) else None
    }

  /** REAL sample decode via javax.sound.sampled (WAV PCM): any
    * PCM-convertible payload is normalized to signed 16-bit and
    * channel-averaged to mono floats in [-1, 1]. Returns (channels,
    * sampleRate, monoSamples); None for null/undecodable bytes. */
  def decodeAudio(b: Array[Byte]): Option[(Int, Float, Array[Float])] =
    if (b == null) None
    else try {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(b))
      val src = ais.getFormat
      val target = new javax.sound.sampled.AudioFormat(
        src.getSampleRate, 16, src.getChannels, true, false)
      val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(target, ais)
      val bytes = pcm.readAllBytes()
      val ch = target.getChannels
      val n = bytes.length / 2 / ch
      val mono = new Array[Float](n)
      var i = 0
      while (i < n) {
        var acc = 0f
        var c = 0
        while (c < ch) {
          val off = (i * ch + c) * 2
          val s = ((bytes(off) & 0xff) | (bytes(off + 1) << 8)).toShort
          acc += s / 32768f
          c += 1
        }
        mono(i) = acc / ch
        i += 1
      }
      Some((ch, src.getSampleRate, mono))
    } catch { case _: Exception => None }

  /** REAL audio features from decoded samples — FeatureDim floats:
    * [channels, sampleRate, durationMs, rms, peak, zeroCrossRate,
    * meanAbs, dcOffset, 8-bin |amplitude| histogram (sample
    * fractions)]. */
  def audioFeatures(b: Array[Byte]): Option[Array[Float]] =
    decodeAudio(b).map { case (ch, rate, s) =>
      val n = math.max(s.length, 1)
      var sum = 0.0; var sumSq = 0.0; var sumAbs = 0.0; var peak = 0.0; var zc = 0L
      val hist = new Array[Long](8)
      var i = 0
      while (i < s.length) {
        val v = s(i)
        sum += v; sumSq += v * v; sumAbs += math.abs(v)
        peak = math.max(peak, math.abs(v))
        if (i > 0 && (s(i - 1) >= 0) != (v >= 0)) zc += 1
        hist(math.min((math.abs(v) * 8).toInt, 7)) += 1
        i += 1
      }
      Array[Float](ch.toFloat, rate, s.length * 1000f / rate,
        math.sqrt(sumSq / n).toFloat, peak.toFloat,
        if (s.length > 1) zc.toFloat / (s.length - 1) else 0f,
        (sumAbs / n).toFloat, (sum / n).toFloat) ++
        hist.map(c => (c.toDouble / n).toFloat)
    }

  /** Append `features array<float>` + `decoded boolean` columns,
    * decoding in explicit micro-batches of `batchSize` items per
    * partition (the batch contract a vectorized/stateful codec needs
    * — model weights load once per batch group, not once per row).
    * Dispatch by kind: image → REAL pixel features, audio → REAL
    * sample features, video → REAL per-frame MJPEG-AVI decode
    * (clip features = per-frame mean). Null or undecodable content →
    * null features with `decoded = false` — including video in
    * containers the JDK lacks a codec for, so a corpus consumer can
    * never confuse a fabricated vector with a pixel-derived one.
    * `stubUndecodableVideo = true` opts such rows into the
    * deterministic `decodeStub` stand-in (plumbing tests only);
    * their `decoded` flag stays false either way. */
  def decodeFeatures(media: DataFrame, batchSize: Int = 32,
                     stubUndecodableVideo: Boolean = false): DataFrame = {
    val outSchema = media.schema
      .add("features", ArrayType(FloatType), nullable = true)
      .add("decoded", BooleanType, nullable = false)
    val enc = RowEncoder.encoderFor(outSchema)
    val contentIdx = media.schema.fieldIndex("content")
    val kindIdx = media.schema.fieldIndex("kind")
    media.mapPartitions { rows =>
      rows.grouped(batchSize).flatMap { batch =>
        // per-batch setup would go here (codec init / model load)
        batch.iterator.map { r =>
          val content = r.get(contentIdx).asInstanceOf[Array[Byte]]
          val (feats, real) =
            if (content == null) (null, false)
            else r.getString(kindIdx) match {
              case "image" =>
                val f = imageFeatures(content); (f.orNull, f.isDefined)
              case "audio" =>
                val f = audioFeatures(content); (f.orNull, f.isDefined)
              case _ =>
                // video: REAL per-frame decode when the container is
                // MJPEG-AVI; containers without a JDK codec are NOT
                // decoded — null features (or the explicit stand-in
                // under the opt-in), flagged decoded = false
                val per = videoFrames(content).flatMap(imageFeatures)
                if (per.nonEmpty) {
                  val m = new Array[Float](FeatureDim)
                  per.foreach { f =>
                    var i = 0; while (i < FeatureDim) { m(i) += f(i); i += 1 } }
                  var i = 0; while (i < FeatureDim) { m(i) /= per.length; i += 1 }
                  (m, true)
                } else if (stubUndecodableVideo) (decodeStub(content), false)
                else (null, false)
            }
          Row.fromSeq(r.toSeq :+ feats :+ real)
        }
      }
    }(enc)
  }

  /** REAL (codec-free) image container probe: format + pixel
    * dimensions parsed from the leading bytes of PNG / JPEG / GIF /
    * BMP payloads — the metadata a lake ingest derives WITHOUT
    * decoding pixels (validating the `meta` struct, routing by size,
    * dropping thumbnails). Unlike `decodeStub`, nothing here is
    * stubbed: these are the actual container layouts (PNG IHDR
    * big-endian at offset 16; JPEG marker walk to the first SOFn;
    * GIF/BMP little-endian headers). Returns (format, width,
    * height); None for null/unrecognized/truncated payloads. */
  def probeImage(b: Array[Byte]): Option[(String, Int, Int)] = {
    def u8(i: Int) = b(i) & 0xff
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    if (b == null) None
    else if (b.length >= 24 && u8(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G')
      Some(("png", be32(16), be32(20)))
    else if (b.length >= 10 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F')
      Some(("gif", le16(6), le16(8)))
    else if (b.length >= 22 && b(0) == 'B' && b(1) == 'M') {
      // the DIB header size at offset 14 decides the field layout:
      // 12-byte BITMAPCOREHEADER stores 16-bit dims; the common
      // 40+-byte headers store 32-bit dims (height may be negative =
      // top-down; report its magnitude)
      if (le32(14) == 12) Some(("bmp", le16(18), le16(20)))
      else if (b.length >= 26) Some(("bmp", le32(18), math.abs(le32(22))))
      else None
    } else if (b.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      var i = 2
      while (i + 9 < b.length) {
        if (u8(i) != 0xff) return None
        // any number of 0xFF fill bytes may pad before a marker
        while (i + 9 < b.length && u8(i + 1) == 0xff) i += 1
        val m = u8(i + 1)
        if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2 // standalone markers
        else {
          val len = be16(i + 2)
          if (len < 2) return None
          if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc)
            return Some(("jpeg", be16(i + 7), be16(i + 5))) // SOFn: height then width
          i += 2 + len
        }
      }
      None
    } else None
  }

  /** Append a `probed struct<format,width,height>` column from the
    * real header parse — map-side, batched like `decodeFeatures`. */
  def probeMeta(media: DataFrame): DataFrame =
    withProbe(media, "probed", StructType(Seq(
      StructField("format", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true)))) { b =>
      probeImage(b).map { case (f, w, h) => Row(f, w, h) }
    }

  /** `media` plus a nullable struct column `name` of type `fields`:
    * `probe` of each row's `content`, null where it returns None. */
  private def withProbe(media: DataFrame, name: String, fields: StructType)
                       (probe: Array[Byte] => Option[Row]): DataFrame = {
    val enc = RowEncoder.encoderFor(media.schema.add(name, fields, nullable = true))
    val contentIdx = media.schema.fieldIndex("content")
    media.mapPartitions { rows =>
      rows.map { r =>
        Row.fromSeq(r.toSeq :+ probe(r.get(contentIdx).asInstanceOf[Array[Byte]]).orNull)
      }
    }(enc)
  }

  /** REAL (codec-free) audio container probe, the audio twin of
    * `probeImage`: format + channels + sample rate + duration parsed
    * from container headers alone. WAV: RIFF chunk walk to `fmt `
    * (channels / rate / byte-rate) and `data` (payload size →
    * duration = size / byte-rate). FLAC: the mandatory first
    * STREAMINFO metadata block (sample rate is 20 bits, total
    * samples 36 bits, packed big-endian at byte 18 of the block).
    * Returns (format, channels, sample_rate, duration_ms); None for
    * null/unrecognized/truncated payloads. */
  def probeAudio(b: Array[Byte]): Option[(String, Int, Int, Long)] = {
    def u8(i: Int) = b(i) & 0xff
    def le16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int) = (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) |
      (u8(i + 3).toLong << 24)).toLong
    def tag(i: Int, s: String) = s.indices.forall(j => b(i + j) == s(j).toByte)
    if (b == null) None
    else if (b.length >= 44 && tag(0, "RIFF") && tag(8, "WAVE")) {
      // chunk walk: chunks are (4-byte id, 4-byte LE size, payload),
      // word-aligned; fmt may precede or follow non-audio chunks
      var i = 12
      var rate = -1; var channels = -1; var byteRate = -1L; var dataLen = -1L
      while (i + 8 <= b.length && (rate < 0 || dataLen < 0)) {
        val size = le32(i + 4)
        if (tag(i, "fmt ") && i + 16 + 8 <= b.length) {
          channels = le16(i + 10); rate = le32(i + 12).toInt; byteRate = le32(i + 16)
        } else if (tag(i, "data")) dataLen = size
        // bounded step in Long: a crafted size > Int.MaxValue would
        // overflow an Int step NEGATIVE and walk backwards forever —
        // any chunk reaching past the payload ends the walk instead
        // (whatever fmt/data were seen by then still count, so valid
        // trailing-truncated files parse exactly as before)
        val step = 8L + size + (size & 1L)
        if (i + step > b.length) i = b.length else i += step.toInt
      }
      if (rate > 0 && byteRate > 0 && dataLen >= 0)
        Some(("wav", channels, rate, dataLen * 1000L / byteRate))
      else None
    } else if (b.length >= 4 + 4 + 34 && tag(0, "fLaC")) {
      // STREAMINFO is required first: header byte 4 has type in the
      // low 7 bits (0 = STREAMINFO); block starts at byte 8
      if ((u8(4) & 0x7f) != 0) None
      else {
        val s = 8
        val rate = (u8(s + 10) << 12) | (u8(s + 11) << 4) | (u8(s + 12) >> 4)
        val channels = ((u8(s + 12) >> 1) & 0x7) + 1
        val totalSamples = ((u8(s + 13) & 0xfL) << 32) | (u8(s + 14).toLong << 24) |
          (u8(s + 15).toLong << 16) | (u8(s + 16).toLong << 8) | u8(s + 17).toLong
        if (rate == 0) None
        else Some(("flac", channels, rate, totalSamples * 1000L / rate))
      }
    } else None
  }

  /** Append a `probed_audio struct<format,channels,sample_rate,
    * duration_ms>` column from the real header parse — map-side,
    * same contract as `probeMeta`. */
  def probeAudioMeta(media: DataFrame): DataFrame =
    withProbe(media, "probed_audio", StructType(Seq(
      StructField("format", StringType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true)))) { b =>
      probeAudio(b).map { case (f, c, sr, d) => Row(f, c, sr, d) }
    }

  /** One row per sampled frame for video media: (media_id, frame_idx,
    * frame_ms) every `everyMs` within meta.duration_ms — the explode
    * happens BEFORE decode so frame work distributes evenly. */
  def sampleFrames(media: DataFrame, everyMs: Long): DataFrame =
    media.filter(col("kind") === "video" && col("meta.duration_ms").isNotNull)
      .select(col("media_id"),
        explode(sequence(lit(0L), col("meta.duration_ms") - 1, lit(everyMs))).as("frame_ms"))
      .withColumn("frame_idx", (col("frame_ms") / everyMs).cast("int"))
      .select(col("media_id"), col("frame_idx"), col("frame_ms"))

  // ---- REAL video decode: MJPEG-in-AVI --------------------------------
  // An AVI is a RIFF container; when the video stream's codec is MJPG,
  // every frame chunk is a standalone JPEG — which javax.imageio CAN
  // decode. So for this (real, still-common) format, frame decode is
  // fully real with zero extra jars; `decodeStub` remains only for
  // containers whose codecs the JDK lacks (MP4/H.264 etc).

  private def leInt(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) | ((b(i + 2) & 0xff) << 16) |
      ((b(i + 3) & 0xff) << 24)

  private def fourcc(b: Array[Byte], i: Int): String =
    new String(b, i, 4, "US-ASCII")

  /** Walks an AVI's RIFF tree in file order, calling
    * `visit(id, payloadAt, size, inMovi)` for every chunk that is not
    * a LIST (`inMovi`: inside the `movi` list). False, visiting
    * nothing, for a null or non-AVI payload. Depth-capped at
    * `RiffMaxDepth`: a nested-LIST bomb stops the descent instead of
    * overflowing the stack; a chunk reaching past its parent ends
    * that level. */
  private def walkAvi(b: Array[Byte])(visit: (String, Int, Int, Boolean) => Unit): Boolean = {
    if (b == null || b.length < 24 || fourcc(b, 0) != "RIFF" || fourcc(b, 8) != "AVI ")
      return false
    def walk(from: Int, to: Int, inMovi: Boolean, depth: Int): Unit = {
      if (depth > RiffMaxDepth) return
      var i = from
      while (i + 8 <= to) {
        val id = fourcc(b, i)
        val size = leInt(b, i + 4)
        if (size < 0 || i + 8 + size > to) return
        if (id == "LIST" && size >= 4)
          walk(i + 12, i + 8 + size, inMovi || fourcc(b, i + 8) == "movi", depth + 1)
        else visit(id, i + 8, size, inMovi)
        i += 8 + size + (size & 1)
      }
    }
    walk(12, math.min(b.length, 12 + leInt(b, 4) - 4), inMovi = false, depth = 0)
    true
  }

  /** REAL (codec-free) video container probe: walks the RIFF tree to
    * the `avih` main header. Returns (format, width, height,
    * total_frames) — format is "avi/<handler>" from the first video
    * stream header (e.g. "avi/mjpg"). None for null/non-AVI/truncated
    * payloads. */
  def probeVideo(b: Array[Byte]): Option[(String, Int, Int, Int)] =
    try {
      var avih = -1
      var handler = ""
      val avi = walkAvi(b) { (id, at, size, _) =>
        if (id == "avih") avih = at
        else if (id == "strh" && size >= 8 && fourcc(b, at) == "vids" && handler.isEmpty)
          handler = fourcc(b, at + 4).trim.toLowerCase(java.util.Locale.ROOT)
      }
      if (!avi || avih < 0 || avih + 40 > b.length) None
      else Some((s"avi/$handler", leInt(b, avih + 32), leInt(b, avih + 36),
        leInt(b, avih + 16)))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** REAL frame extraction: the payload bytes of every video frame
    * chunk (`##dc`/`##db`) in the `movi` list, in stream order. For
    * an MJPEG AVI each element is a decodable JPEG. Empty for
    * null/non-AVI payloads. */
  def videoFrames(b: Array[Byte]): Vector[Array[Byte]] =
    try {
      val out = Vector.newBuilder[Array[Byte]]
      walkAvi(b) { (id, at, size, inMovi) =>
        if (inMovi && id.length == 4 && id(2) == 'd' && (id(3) == 'c' || id(3) == 'b'))
          out += java.util.Arrays.copyOfRange(b, at, at + size)
      }
      out.result()
    } catch { case scala.util.control.NonFatal(_) => Vector.empty }

  /** One row per REAL decoded video frame: (media_id, frame_idx,
    * features) — `videoFrames` extraction + per-frame `imageFeatures`,
    * all map-side, so frame decode distributes per-row exactly like
    * the `sampleFrames` contract promised. Undecodable frames are
    * skipped; non-AVI payloads contribute no rows. */
  def decodeFrameFeatures(media: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("features", ArrayType(FloatType), nullable = true)))
    val enc = RowEncoder.encoderFor(outSchema)
    val contentIdx = media.schema.fieldIndex("content")
    val idIdx = media.schema.fieldIndex("media_id")
    media.filter(col("kind") === "video" && col("content").isNotNull)
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(idIdx)
          videoFrames(r.get(contentIdx).asInstanceOf[Array[Byte]]).iterator.zipWithIndex
            .flatMap { case (fb, i) => imageFeatures(fb).map(f => Row(id, i, f)) }
        }
      }(enc)
  }

  /** Real MJPEG-AVI payload: deterministic per-id gradient frames,
    * JDK-JPEG-encoded, wrapped in a standard RIFF/AVI container
    * (avih + vids strh/strf headers, movi 00dc chunks). */
  private[graft] def synthAvi(seed: Int, w: Int, h: Int, frames: Int, fps: Int = 10): Array[Byte] = {
    codecInit
    val jpegs = (0 until frames).map { f =>
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val s = seed * 31 + f * 17
          img.setRGB(x, y, (((s * 37 + x * 3) % 256) << 16) |
            (((s * 11 + y * 5) % 256) << 8) | ((s * 53 + x + y) % 256))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    def pad(n: Int) = n + (n & 1)
    val strlSize = 4 + (8 + 56) + (8 + 40)
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)
    val moviSize = 4 + jpegs.map(j => 8 + pad(j.length)).sum
    val riffSize = 4 + (8 + hdrlSize) + (8 + moviSize)
    val buf = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String) = buf.put(s.getBytes("US-ASCII"))
    cc("RIFF"); buf.putInt(riffSize); cc("AVI ")
    cc("LIST"); buf.putInt(hdrlSize); cc("hdrl")
    cc("avih"); buf.putInt(56)
    buf.putInt(1000000 / fps).putInt(0).putInt(0).putInt(0)
    buf.putInt(frames).putInt(0).putInt(1).putInt(0)
    buf.putInt(w).putInt(h).putInt(0).putInt(0).putInt(0).putInt(0)
    cc("LIST"); buf.putInt(strlSize); cc("strl")
    cc("strh"); buf.putInt(56)
    cc("vids"); cc("MJPG"); buf.putInt(0)
    buf.putShort(0).putShort(0).putInt(0)
    buf.putInt(1).putInt(fps).putInt(0).putInt(frames)
    buf.putInt(0).putInt(0).putInt(0)
    buf.putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
    cc("strf"); buf.putInt(40)
    buf.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
    cc("MJPG"); buf.putInt(w * h * 3).putInt(0).putInt(0).putInt(0).putInt(0)
    cc("LIST"); buf.putInt(moviSize); cc("movi")
    jpegs.foreach { j =>
      cc("00dc"); buf.putInt(j.length); buf.put(j)
      if ((j.length & 1) == 1) buf.put(0.toByte)
    }
    buf.array()
  }
}
