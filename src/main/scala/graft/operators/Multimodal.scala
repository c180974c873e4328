package graft.operators

import graft.Caches
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads are opaque
  * `binary` columns travelling next to typed metadata.
  *
  * IMAGE decode is REAL: [[decodeImage]]/[[decodeImages]] use the JDK's
  * built-in `javax.imageio` codecs (PNG/JPEG/BMP/GIF — no external
  * dependency) to produce dimensions and a normalized luminance
  * histogram. AUDIO decode is REAL for the formats the JDK ships
  * codecs for (WAV/PCM, AU, AIFF): [[decodeAudio]]/[[decodeAudios]]
  * produce rate/channels/duration plus RMS and peak energy. VIDEO
  * decode is REAL for MJPEG-in-AVI ([[decodeVideos]] via
  * [[MjpegAvi]] — RIFF container walk + JDK JPEG per frame), the one
  * video format needing no external codec; formats whose codecs the
  * JDK lacks (H.264, MP3, …) would swap in behind the same seams.
  * [[decodeStub]] remains only as the generic byte-featurizer for
  * [[extractFeatures]].
  */
object Multimodal {

  /** Canonical media schema: payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("modality", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Wrap an arbitrary id+bytes DataFrame into the canonical media
    * schema (metadata nulls where unknown).
    */
  def asMedia(df: DataFrame, idCol: String, payloadCol: String, modality: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("media_id"),
      lit(modality).as("modality"),
      col(payloadCol).cast(BinaryType).as("payload"),
      lit(null).cast(StringType).as("mime"),
      lit(null).cast(IntegerType).as("width"),
      lit(null).cast(IntegerType).as("height"),
      lit(null).cast(LongType).as("duration_ms"))

  /** Cheap byte-level metadata — no decode needed, pure columns. */
  def byteStats(df: DataFrame): DataFrame =
    df.withColumn("n_bytes", length(col("payload")).cast(LongType))
      .withColumn("payload_md5", md5(col("payload")))

  /** STUB decode → fixed-size feature vector. Deterministic fake:
    * feature[i] = byte[(i * stride) mod n] / 255.0. A real
    * implementation would decode pixels/samples here; everything
    * around the closure (schema contract, partition-wise batching)
    * is the production shape.
    */
  def decodeStub(dim: Int = 8)(payload: Array[Byte]): Array[Double] = {
    if (payload == null || payload.isEmpty) Array.fill(dim)(0d)
    else {
      val stride = math.max(1, payload.length / dim)
      Array.tabulate(dim) { i =>
        (payload((i * stride) % payload.length) & 0xff) / 255.0
      }
    }
  }

  /** REAL image decode (JDK ImageIO): dimensions + `dim`-bin normalized
    * luminance histogram (ITU-R 601 luma). Returns None for null,
    * undecodable, or non-image payloads — the caller maps that to NULL
    * columns, so corrupt files degrade instead of failing the job.
    */
  def decodeImage(dim: Int)(payload: Array[Byte]): Option[(Int, Int, Array[Double])] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      if (w <= 0 || h <= 0) return None
      val hist = new Array[Double](dim)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          hist(lum * dim / 256) += 1
          x += 1
        }
        y += 1
      }
      val n = w.toDouble * h
      var i = 0
      while (i < dim) { hist(i) /= n; i += 1 }
      Some((w, h, hist))
    } catch { case _: Exception => None }
  }

  /** REAL image resize (JDK, explicit nearest-neighbor): target pixel
    * `(x, y)` samples source pixel `(⌊x·sw/w⌋, ⌊y·sh/h⌋)` — spelled
    * out rather than delegated to `Graphics2D` so the result is
    * bit-deterministic across JVMs (interpolating scalers aren't
    * pinned by spec). Re-encodes as PNG (lossless). None for
    * undecodable payloads.
    */
  def resizeImage(w: Int, h: Int)(payload: Array[Byte]): Option[Array[Byte]] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (src == null || src.getWidth <= 0 || src.getHeight <= 0) return None
      val dst = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        val sy = y * src.getHeight / h
        var x = 0
        while (x < w) {
          dst.setRGB(x, y, src.getRGB(x * src.getWidth / w, sy))
          x += 1
        }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(dst, "png", bos)
      Some(bos.toByteArray)
    } catch { case _: Exception => None }
  }

  /** Partition-wise image resize: replaces `payload` with the resized
    * PNG (NULL when undecodable) and stamps the new dimensions. Same
    * mapPartitions seam as [[decodeImages]].
    */
  def resizeImages(df: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = df.sparkSession
    val payloadIdx = df.schema.fieldIndex("payload")
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("img_width", IntegerType, nullable = true),
      StructField("img_height", IntegerType, nullable = true)))
    val rdd = df.rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        resizeImage(w, h)(r.getAs[Array[Byte]](payloadIdx)) match {
          case Some(bytes) =>
            Row.fromSeq(r.toSeq.updated(payloadIdx, bytes) ++
              Seq(Int.box(w), Int.box(h)))
          case None =>
            Row.fromSeq(r.toSeq.updated(payloadIdx, null) ++ Seq(null, null))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Partition-wise real image decode: appends `img_width`,
    * `img_height`, `img_features` (all NULL when the payload is not a
    * decodable image). The per-partition seam disables ImageIO's
    * temp-file cache once per task — the spot a heavier codec would be
    * initialized.
    */
  def decodeImages(df: DataFrame, dim: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("img_width", IntegerType, nullable = true),
      StructField("img_height", IntegerType, nullable = true),
      StructField("img_features", ArrayType(DoubleType), nullable = true)))
    val payloadIdx = df.schema.fieldIndex("payload")
    val rdd = df.rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // once per task
      rows.map { r =>
        decodeImage(dim)(r.getAs[Array[Byte]](payloadIdx)) match {
          case Some((w, h, f)) => Row.fromSeq(r.toSeq ++ Seq(w, h, f.toSeq))
          case None => Row.fromSeq(r.toSeq ++ Seq(null, null, null))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL audio decode (JDK `javax.sound.sampled` — WAV/PCM, AU, AIFF;
    * no external codec libraries): sample rate, channel count, duration,
    * and normalized RMS + peak amplitude, resampling whatever PCM
    * sub-format arrives to signed 16-bit for the energy math. Returns
    * None for null/undecodable payloads (compressed formats like MP3
    * stay stubbed — the JDK has no codec for them).
    */
  def decodeAudio(payload: Array[Byte]): Option[(Double, Int, Long, Double, Double)] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      try {
        val src = in.getFormat
        val fmt = new javax.sound.sampled.AudioFormat(
          javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
          src.getSampleRate, 16, src.getChannels,
          2 * src.getChannels, src.getSampleRate, false)
        val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(fmt, in)
        val buf = new Array[Byte](8192)
        var sumSq = 0d
        var peak = 0d
        var nSamples = 0L
        var carry = -1 // low byte of a sample split across read()s
        var r = pcm.read(buf)
        while (r > 0) {
          var i = 0
          if (carry >= 0 && r >= 1) {
            val s = ((carry & 0xff) | (buf(0) << 8)).toShort / 32768.0
            sumSq += s * s; val a = math.abs(s); if (a > peak) peak = a
            nSamples += 1; carry = -1; i = 1
          }
          while (i + 1 < r) {
            val s = ((buf(i) & 0xff) | (buf(i + 1) << 8)).toShort / 32768.0
            sumSq += s * s
            val a = math.abs(s)
            if (a > peak) peak = a
            nSamples += 1
            i += 2
          }
          if (i < r) carry = buf(i) & 0xff
          r = pcm.read(buf)
        }
        if (nSamples == 0) None
        else {
          val frames = nSamples / fmt.getChannels
          val durMs = math.round(frames * 1000.0 / fmt.getSampleRate)
          Some((src.getSampleRate.toDouble, src.getChannels, durMs,
            math.sqrt(sumSq / nSamples), peak))
        }
      } finally in.close()
    } catch { case _: Exception => None }
  }

  /** Partition-wise real audio decode: appends `audio_sample_rate`,
    * `audio_channels`, `audio_duration_ms`, `audio_rms`, `audio_peak`
    * (all NULL when the payload is not decodable audio) — same seam as
    * [[decodeImages]].
    */
  def decodeAudios(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("audio_sample_rate", DoubleType, nullable = true),
      StructField("audio_channels", IntegerType, nullable = true),
      StructField("audio_duration_ms", LongType, nullable = true),
      StructField("audio_rms", DoubleType, nullable = true),
      StructField("audio_peak", DoubleType, nullable = true)))
    val payloadIdx = df.schema.fieldIndex("payload")
    val rdd = df.rdd.mapPartitions { rows =>
      rows.map { r =>
        decodeAudio(r.getAs[Array[Byte]](payloadIdx)) match {
          case Some((sr, ch, ms, rms, peak)) =>
            // Seq[Any] stops Scala's numeric widening from turning the
            // Int/Long fields into Doubles (schema mismatch at encode)
            Row.fromSeq(r.toSeq ++ Seq[Any](sr, ch, ms, rms, peak))
          case None => Row.fromSeq(r.toSeq ++ Seq(null, null, null, null, null))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Partition-wise real video decode (MJPEG-in-AVI, [[MjpegAvi]]):
    * appends `video_width`, `video_height`, `video_n_frames`,
    * `video_duration_ms`, `video_fps`, `video_mean_luma` (per-frame
    * mean luminance series; all NULL when the payload is not a
    * decodable AVI) — same mapPartitions seam as [[decodeImages]].
    */
  def decodeVideos(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("video_width", IntegerType, nullable = true),
      StructField("video_height", IntegerType, nullable = true),
      StructField("video_n_frames", IntegerType, nullable = true),
      StructField("video_duration_ms", LongType, nullable = true),
      StructField("video_fps", DoubleType, nullable = true),
      StructField("video_mean_luma", ArrayType(DoubleType), nullable = true)))
    val payloadIdx = df.schema.fieldIndex("payload")
    val rdd = df.rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // once per task
      rows.map { r =>
        MjpegAvi.decode(r.getAs[Array[Byte]](payloadIdx)) match {
          case Some(m) =>
            Row.fromSeq(r.toSeq ++ Seq[Any](m.width, m.height, m.nFrames,
              m.durationMs, m.fps, m.meanLuma.toSeq))
          case None =>
            Row.fromSeq(r.toSeq ++ Seq(null, null, null, null, null, null))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Synthesize a 16-bit PCM WAV (mono or interleaved identical
    * channels): deterministic fixture/self-test generator — sine at
    * `freqHz` scaled by `amplitude`, `amplitude = 0` for silence.
    */
  def sineWav(freqHz: Double, durationMs: Int, sampleRate: Float = 8000f,
      channels: Int = 1, amplitude: Double = 0.5): Array[Byte] = {
    val frames = (sampleRate * durationMs / 1000).toInt
    val data = new Array[Byte](frames * 2 * channels)
    var f = 0
    while (f < frames) {
      val v = (amplitude * math.sin(2 * math.Pi * freqHz * f / sampleRate) *
        32767).toInt.toShort
      var c = 0
      while (c < channels) {
        val off = (f * channels + c) * 2
        data(off) = (v & 0xff).toByte
        data(off + 1) = ((v >> 8) & 0xff).toByte
        c += 1
      }
      f += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      sampleRate, 16, channels, 2 * channels, sampleRate, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, frames.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Feature extraction over the payload column via mapPartitions —
    * the per-partition loop is where a real decoder (libjpeg, ffmpeg,
    * …) would be initialized once per task and reused per row.
    */
  def extractFeatures(df: DataFrame, dim: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(DoubleType), nullable = false))
    val payloadIdx = df.schema.fieldIndex("payload")
    val rdd = df.rdd.mapPartitions { rows =>
      // real impl: init decoder once per partition here
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](payloadIdx)
        Row.fromSeq(r.toSeq :+ decodeStub(dim)(bytes).toSeq)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic frame sampling plan for video-like payloads: every
    * `everyMs` milliseconds in [0, duration); pure column math (the
    * actual frame grab is the decoder's job).
    */
  def frameSamplePlan(df: DataFrame, everyMs: Long): DataFrame =
    df.where(col("duration_ms").isNotNull && col("duration_ms") > 0)
      .withColumn("frame_ms",
        explode(sequence(lit(0L), col("duration_ms") - 1, lit(everyMs))))

  /** 64-bit average-hash (aHash) of an image — the classic perceptual
    * fingerprint: nearest-neighbor-sample an 8×8 luminance grid (the
    * same `⌊g·src/8⌋` sampling rule as [[resizeImage]], so the grid is
    * bit-deterministic), threshold each cell STRICTLY above the grid
    * mean (integer-exact: `lum·64 > Σlum`), pack row-major from the
    * MSB. A flat image hashes to 0. None for undecodable payloads.
    */
  def imageAHash(payload: Array[Byte]): Option[Long] = {
    if (payload == null || payload.isEmpty) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) return None
      val cells = new Array[Long](64)
      var sum = 0L
      var gy = 0
      while (gy < 8) {
        var gx = 0
        while (gx < 8) {
          val rgb = img.getRGB(gx * img.getWidth / 8, gy * img.getHeight / 8)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          cells(gy * 8 + gx) = lum
          sum += lum
          gx += 1
        }
        gy += 1
      }
      var hash = 0L
      var i = 0
      while (i < 64) {
        hash = (hash << 1) | (if (cells(i) * 64 > sum) 1L else 0L)
        i += 1
      }
      Some(hash)
    } catch { case _: Exception => None }
  }

  /** Image near-duplicate pairs by perceptual hash: aHash every
    * decodable payload, band the 64 bits into `bands` equal slices,
    * equi-join colliding bands, verify Hamming distance ≤ `maxDist`.
    * The banding is LOSSLESS for the returned distance range by
    * pigeonhole — `maxDist < bands` differing bits cannot touch every
    * band — which the signature enforces. Emits
    * `(id_a, id_b, hamming)` for decodable pairs.
    *
    * Scale shape: the decode is the [[decodeImages]] mapPartitions
    * seam reduced to one long per image; everything after runs on the
    * (id, hash) table — banded equi-join candidates, XOR+bit_count
    * verify — the [[Dedup.minHashLsh]] shape with a 64-bit signature.
    */
  def imageNearDupPairs(media: DataFrame, maxDist: Int = 3,
      bands: Int = 4): DataFrame =
    Dedup.hammingNearDupPairs(
      fingerprint64(media, imageAHash), "id", "fp", maxDist, bands)

  /** 64-bit audio energy fingerprint: decode (the [[decodeAudio]]
    * PCM formats), split the mono-mixed sample stream into 64 equal
    * windows, threshold each window's mean |amplitude| STRICTLY above
    * the overall mean (integer-exact: all sums over int16 magnitudes),
    * pack from the MSB — a loudness-envelope aHash, robust to level
    * and codec-irrelevant detail the way aHash is for pixels. A
    * constant-envelope signal hashes to 0. None when undecodable or
    * shorter than 64 samples.
    */
  def audioEnergyHash(payload: Array[Byte]): Option[Long] = {
    decodePcm16(payload).flatMap { case (_, channels, samples) =>
      val frames = samples.length / channels
      if (frames < 64) return None
      // mono mix per frame, magnitudes as longs (overflow-free)
      val mag = new Array[Long](frames)
      var f = 0
      while (f < frames) {
        var s = 0L
        var c = 0
        while (c < channels) { s += samples(f * channels + c); c += 1 }
        mag(f) = math.abs(s / channels)
        f += 1
      }
      // 64 equal windows by frame index (last window takes the tail);
      // compare window mean vs overall mean cross-multiplied so the
      // test is pure integer arithmetic
      val winSum = new Array[Long](64)
      val winLen = new Array[Long](64)
      var i = 0
      while (i < frames) {
        val w = math.min((i * 64L / frames).toInt, 63)
        winSum(w) += mag(i); winLen(w) += 1
        i += 1
      }
      val total = mag.sum
      var hash = 0L
      var w = 0
      while (w < 64) {
        val bit = winSum(w) * frames > total * winLen(w)
        hash = (hash << 1) | (if (bit) 1L else 0L)
        w += 1
      }
      Some(hash)
    }
  }

  /** Audio near-duplicate pairs by energy fingerprint — the audio
    * sibling of [[imageNearDupPairs]], same banded Hamming kernel
    * ([[Dedup.hammingNearDupPairs]]).
    */
  def audioNearDupPairs(media: DataFrame, maxDist: Int = 3,
      bands: Int = 4): DataFrame =
    Dedup.hammingNearDupPairs(
      fingerprint64(media, audioEnergyHash), "id", "fp", maxDist, bands)

  /** Partition-wise 64-bit fingerprint seam shared by the perceptual
    * near-dup operators: one long per decodable payload, undecodable
    * rows dropped. Persisted (caller's scope) — the banded join reads it
    * from both sides.
    */
  private def fingerprint64(media: DataFrame,
      hashFn: Array[Byte] => Option[Long]): DataFrame = {
    val spark = media.sparkSession
    val payloadIdx = media.schema.fieldIndex("payload")
    val idIdx = media.schema.fieldIndex("media_id")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("fp", LongType, nullable = false)))
    val rdd = media.rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.flatMap { r =>
        hashFn(r.getAs[Array[Byte]](payloadIdx))
          .map(h => Row(r.getLong(idIdx), h))
      }
    }
    Caches.persist(spark.createDataFrame(rdd, schema))
  }

  /** Decode a PCM payload to (sampleRate, channels, interleaved int16
    * samples) — the shared front half of [[decodeAudio]] and
    * [[audioEnergyHash]]. None for null/undecodable payloads.
    */
  private def decodePcm16(payload: Array[Byte]): Option[(Float, Int, Array[Short])] = {
    if (payload == null || payload.isEmpty) return None
    try {
      import javax.sound.sampled.{AudioFormat, AudioSystem}
      val in = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val base = in.getFormat
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        base.getSampleRate, 16, base.getChannels,
        base.getChannels * 2, base.getSampleRate, false)
      val conv = AudioSystem.getAudioInputStream(fmt, in)
      val bytes = conv.readAllBytes()
      conv.close(); in.close()
      val n = bytes.length / 2
      val samples = new Array[Short](n)
      var i = 0
      while (i < n) {
        samples(i) =
          (((bytes(2 * i + 1) & 0xff) << 8) | (bytes(2 * i) & 0xff)).toShort
        i += 1
      }
      Some((fmt.getSampleRate, fmt.getChannels, samples))
    } catch { case _: Exception => None }
  }

  /** Amplitude-pattern WAV generator (test/fixture aid): one sine
    * segment per entry of `amps`, each `msPerSeg` long — the audio
    * analog of the checkerboard PNG fixtures.
    */
  def patternWav(amps: Seq[Double], msPerSeg: Int = 8,
      freqHz: Double = 440, sampleRate: Float = 8000f): Array[Byte] = {
    val segFrames = (sampleRate * msPerSeg / 1000).toInt
    val pcm = new Array[Byte](amps.length * segFrames * 2)
    var i = 0
    amps.zipWithIndex.foreach { case (a, s) =>
      var f = 0
      while (f < segFrames) {
        val t = (s * segFrames + f).toDouble / sampleRate
        val v = (a * math.sin(2 * math.Pi * freqHz * t) * 32767).toInt
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        f += 1; i += 1
      }
    }
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(sampleRate, 16, 1, true, false)
    val ais = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, amps.length.toLong * segFrames)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Keyframe (scene-change) selection over [[decodeVideos]] output —
    * the frame-sampling curation step a video-training pipeline runs
    * instead of "take every Nth frame": the keyframe is the frame
    * whose mean-luma jump from its predecessor is largest (ties to the
    * EARLIEST frame via lexicographic struct max on (Δ, −idx)).
    * Emits `(media_id, n_frames, keyframe_idx, keyframe_delta)` —
    * idx 1-based, NULL for undecodable or single-frame payloads.
    *
    * Scale shape: pure row-local array expressions over the
    * already-decoded luma series (no second decode pass, no explode,
    * no shuffle).
    */
  def keyframeSelect(decoded: DataFrame): DataFrame = {
    val lum = col("video_mean_luma")
    val deltas = transform(sequence(lit(2), size(lum)),
      i => abs(element_at(lum, i) - element_at(lum, i - 1)))
    val pairs = zip_with(deltas, sequence(lit(2), size(lum)),
      (d, i) => struct(d.as("d"), (-i).as("ni")))
    val best = array_max(pairs)
    decoded.select(col("media_id"),
      col("video_n_frames").as("n_frames"),
      when(lum.isNotNull && size(lum) >= 2, -best.getField("ni"))
        .otherwise(lit(null).cast("int")).as("keyframe_idx"),
      when(lum.isNotNull && size(lum) >= 2, round(best.getField("d"), 4))
        .otherwise(lit(null).cast("double")).as("keyframe_delta"))
  }
}
