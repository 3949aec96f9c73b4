package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing (builder brief): media as opaque `binary`
  * columns + typed metadata, processed with partition-batched executors.
  *
  * PNG/JPEG decode is REAL ([[decodeImages]], JDK ImageIO) and so is
  * WAV/PCM audio decode ([[decodeAudio]], `javax.sound.sampled`) — no
  * external codecs needed; [[decodeImages]]' stub features remain the
  * clearly-marked deterministic fake for media types the JVM cannot
  * decode (video frames, compressed audio). Batched
  * iteration via `mapPartitions` (the Scala analogue of `mapInPandas` —
  * one JVM-side batch loop per partition, no per-row UDF overhead) and
  * size-aware repartitioning keep one huge blob from skewing a task.
  */
object Multimodal {

  /** Canonical media schema: content + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType)))

  /** Wrap a text corpus as a binary media table (fixture adapter — the
    * fixtures ship no real blobs).
    */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").alias("media_id"),
      encode(col("text"), "UTF-8").alias("content"),
      lit("application/octet-stream").alias("media_type"),
      length(encode(col("text"), "UTF-8")).cast(LongType).alias("n_bytes"))

  /** Spread blobs across `ceil(totalBytes / targetPartitionBytes)`
    * partitions by hashing the media id: expected bytes per task ≈ the
    * target, one shuffle, no ordering — large blobs land in different
    * partitions with high probability instead of clustering (the failure
    * mode of range-partitioning on size, which packs all the big blobs
    * together). The workhorse at 100 TB: a hard per-partition byte bound
    * would need a running byte total, which Spark evaluates as a
    * single-partition window.
    */
  def sizeBalanced(df: DataFrame, targetPartitionBytes: Long, totalBytes: Long): DataFrame = {
    val parts = math.max(1, math.ceil(totalBytes.toDouble / targetPartitionBytes).toInt)
    df.repartition(parts, col("media_id"))
  }

  /** Fixture adapter: render each document's leading bytes as a tiny RGB
    * image and REALLY encode it as PNG (ImageIO) — the fixtures ship no
    * media blobs, so the blobs are derived deterministically from fixture
    * text, but the bytes flowing downstream are genuine PNG files.
    */
  def pngFromDocuments(docs: DataFrame, side: Int = 8): DataFrame = {
    val outSchema = mediaSchema
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    docs.select(col("doc_id"), encode(col("text"), "UTF-8"))
      .mapPartitions { rows =>
        // one image buffer + encoder reused per partition (batched, like a
        // real codec context)
        val img = new java.awt.image.BufferedImage(side, side,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          var i = 0
          while (i < side * side) {
            def b(k: Int) = if (bytes.isEmpty) 0 else bytes((i * 3 + k) % bytes.length) & 0xff
            img.setRGB(i % side, i / side, (b(0) << 16) | (b(1) << 8) | b(2))
            i += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          val png = bos.toByteArray
          Row(id, png, "image/png", png.length.toLong)
        }
      }(enc)
  }

  /** Decoded-image schema: dimensions + per-band means. */
  val imageFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("decode_ok", BooleanType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("feature", ArrayType(DoubleType))))

  /** REAL image decode + feature extraction over the binary column: JDK
    * ImageIO (PNG/JPEG/BMP/GIF — present in every JVM, no external
    * codecs). Features are per-band pixel means in [0,1] (padded to 4
    * bands) plus the aspect ratio; large images are sampled on a stride so
    * per-row cost is bounded by ~`maxSamples` pixels regardless of
    * resolution. Rows whose media type is not an image type — or whose bytes
    * fail to decode — fall back to [[stubFeatures]] with `decode_ok =
    * false` and null dimensions, so one corrupt blob cannot fail a
    * 100 TB batch. Same mapPartitions codec batching as a real decoder
    * (codec context is the justified mapPartitions use).
    */
  def decodeImages(media: DataFrame, maxSamples: Int = 4096): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(imageFeatureSchema)
    media.select(col("media_id"), col("content"), col("media_type"), col("n_bytes"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val mediaType = r.getString(2)
          val nBytes = r.getLong(3)
          val img =
            if (bytes != null && mediaType != null && mediaType.startsWith("image/"))
              try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              catch { case _: Exception => null }
            else null
          if (img == null) {
            Row(id, mediaType, nBytes, false, null, null, null, stubFeatures(bytes).toSeq)
          } else {
            val raster = img.getRaster
            val w = img.getWidth; val h = img.getHeight
            val bands = raster.getNumBands
            val stride = math.max(1, math.ceil(math.sqrt(w.toLong * h / maxSamples.toDouble)).toInt)
            val sums = new Array[Double](bands)
            var n = 0
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                var b = 0
                while (b < bands) { sums(b) += raster.getSampleDouble(x, y, b); b += 1 }
                n += 1
                x += stride
              }
              y += stride
            }
            val feats = new Array[Double](5)
            var b = 0
            while (b < math.min(bands, 4)) { feats(b) = sums(b) / n / 255.0; b += 1 }
            feats(4) = w.toDouble / h
            Row(id, mediaType, nBytes, true, Int.box(w), Int.box(h), Int.box(bands), feats.toSeq)
          }
        }
      }(enc)
  }

  private def encodePng(img: java.awt.image.BufferedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** q194 fixture schema: PNG blob + ENCODE-SIDE ground-truth luminance
    * (the q129 samples-next-to-the-blob discipline for images): `lum` is
    * the integer luminance 299·R + 587·G + 114·B per pixel, row-major at
    * width 9, computed from the SOURCE pixels before PNG encoding. An
    * independent engine recomputes the perceptual hash from `lum`; if
    * the PNG decode drifts by one pixel value, the hashes diverge.
    */
  val lumaMediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("lum", ArrayType(LongType))))

  /** Fixture adapter: render each document's leading bytes as a 9×8 RGB
    * image (dHash's native grid — 8 horizontal comparisons × 8 rows),
    * REALLY encode it as PNG, and keep the encode-side luminance next to
    * the blob ([[lumaMediaSchema]]).
    */
  def pngLumaFixture(docs: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(lumaMediaSchema)
    val (w, h) = (9, 8)
    docs.select(col("doc_id"), encode(col("text"), "UTF-8"))
      .mapPartitions { rows =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val lum = new Array[Long](w * h)
          var i = 0
          while (i < w * h) {
            def b(k: Int) = if (bytes.isEmpty) 0 else bytes((i * 3 + k) % bytes.length) & 0xff
            val (rr, gg, bb) = (b(0), b(1), b(2))
            img.setRGB(i % w, i / w, (rr << 16) | (gg << 8) | bb)
            lum(i) = 299L * rr + 587L * gg + 114L * bb
            i += 1
          }
          val png = encodePng(img)
          Row(id, png, "image/png", png.length.toLong, lum)
        }
      }(enc)
  }

  /** dHash output schema: the 64-bit difference hash split into two
    * 32-bit halves (`dhash_hi` = bits 32-63, `dhash_lo` = bits 0-31) so
    * every value stays a small NON-NEGATIVE BIGINT — engines disagree on
    * nothing about ints < 2³², where a full signed 64-bit hash would
    * drag sign-bit conventions into every oracle expression.
    */
  val dHashSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("decode_ok", BooleanType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("dhash_hi", LongType),
    StructField("dhash_lo", LongType)))

  /** REAL perceptual hashing over the binary column: decode (ImageIO),
    * NN-normalize to the 9×8 dHash grid when larger (AffineTransformOp
    * NEAREST — EXACTLY defined: the source pixel at the floor of the
    * inverse mapping, bit-identical across JVMs, where bilinear kernels
    * may differ in last-ulp rounding), integer luminance
    * 299R+587G+114B, bit (r,c) set iff lum(r,c) >
    * lum(r,c+1) — the classic difference hash: gradient structure
    * survives re-encoding and brightness shifts, which is what makes
    * Hamming distance on it a NEAR-duplicate signal where the exact
    * byte hash (q40's discipline) sees nothing. Pure integer arithmetic
    * end to end. Corrupt rows degrade with decode_ok = false.
    */
  def dHashImages(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(dHashSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val img0 =
            if (bytes == null) null
            else
              try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
              catch { case _: Exception => null }
          if (img0 == null) Row(id, false, null, null, null, null)
          else {
            val (ow, oh) = (img0.getWidth, img0.getHeight)
            val img =
              if (ow == 9 && oh == 8) img0
              else {
                val src = new java.awt.image.BufferedImage(ow, oh,
                  java.awt.image.BufferedImage.TYPE_INT_RGB)
                src.getGraphics.drawImage(img0, 0, 0, null)
                val op = new java.awt.image.AffineTransformOp(
                  java.awt.geom.AffineTransform.getScaleInstance(9.0 / ow, 8.0 / oh),
                  java.awt.image.AffineTransformOp.TYPE_NEAREST_NEIGHBOR)
                val dst = new java.awt.image.BufferedImage(9, 8,
                  java.awt.image.BufferedImage.TYPE_INT_RGB)
                op.filter(src, dst)
                dst
              }
            def lumAt(x: Int, y: Int): Long = {
              val p = img.getRGB(x, y)
              299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)
            }
            var hi = 0L; var lo = 0L
            var rr = 0
            while (rr < 8) {
              var cc = 0
              while (cc < 8) {
                if (lumAt(cc, rr) > lumAt(cc + 1, rr)) {
                  val i = rr * 8 + cc
                  if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
                }
                cc += 1
              }
              rr += 1
            }
            Row(id, true, Int.box(ow), Int.box(oh), Long.box(hi), Long.box(lo))
          }
        }
      }(enc)
  }

  /** Image near-duplicate pairs by Hamming distance over [[dHashImages]]
    * hashes — the multimodal member of the dedup family (SimHash's
    * pigeonhole discipline on the perceptual hash): 4 disjoint 16-bit
    * bands; any pair within Hamming ≤ 3 agrees exactly on ≥ 1 band, so
    * the band equi-join is a COMPLETE candidate generator at that radius
    * and the all-pairs comparison never happens. Exact distance verifies
    * candidates; multi-band collisions dedupe with one distinct over the
    * (already tiny) verified pair set.
    */
  def dHashNearDup(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16-bit banding is pigeonhole-complete only to Hamming 3: $maxHamming")
    val ok = hashes.filter(col("decode_ok"))
      .select(col("media_id"), col("dhash_hi"), col("dhash_lo"))
    val banded = ok.select(col("media_id"), col("dhash_hi"), col("dhash_lo"),
      posexplode(array(
        col("dhash_lo").bitwiseAND(lit(65535L)),
        expr("shiftright(dhash_lo, 16)").bitwiseAND(lit(65535L)),
        col("dhash_hi").bitwiseAND(lit(65535L)),
        expr("shiftright(dhash_hi, 16)").bitwiseAND(lit(65535L))))
        .as(Seq("band_idx", "band_key")))
    banded.alias("a").join(banded.alias("b"),
        col("a.band_idx") === col("b.band_idx") &&
          col("a.band_key") === col("b.band_key") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").alias("id_a"), col("b.media_id").alias("id_b"),
        (expr("bit_count(a.dhash_hi ^ b.dhash_hi)") +
          expr("bit_count(a.dhash_lo ^ b.dhash_lo)")).cast(LongType)
          .alias("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Synthetic-tone schema: raw PCM samples + format metadata. Kept NEXT
    * TO the encoded WAV in the q129 fixture so an independent engine can
    * recompute every decoded statistic from the stored samples — if the
    * encode→decode round trip drifts by one sample, the hashes diverge.
    */
  val toneSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("samples", ArrayType(IntegerType))))

  /** Fixture adapter: a deterministic PCM-16 tone per document (the
    * fixtures ship no audio blobs). Frequency/amplitude/length/channel
    * count all derive from `doc_id`; stereo rows carry a distinct right
    * channel (half amplitude, 1.5× frequency) so per-channel statistics
    * differ. Samples are interleaved frame-major exactly as WAV stores
    * them.
    */
  def tonesFromDocuments(docs: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(toneSchema)
    docs.select(col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val rate = 8000
          val channels = 1 + (id % 2).toInt
          val nFrames = 800 + (id % 5).toInt * 400
          val freq = 220.0 + (id % 12) * 55.0
          val amp = ((id % 9) + 1) * 3000.0
          val samples = new Array[Int](nFrames * channels)
          var t = 0
          while (t < nFrames) {
            var c = 0
            while (c < channels) {
              val (f, a) = if (c == 0) (freq, amp) else (freq * 1.5, amp / 2)
              samples(t * channels + c) =
                math.round(a * math.sin(2 * math.Pi * f * t / rate)).toInt
              c += 1
            }
            t += 1
          }
          Row(id, rate, channels, samples.toSeq)
        }
      }(enc)
  }

  /** Audio-media schema: the binary WAV plus the source samples/format. */
  val audioMediaSchema: StructType = StructType(
    mediaSchema.fields ++ toneSchema.fields.tail)

  /** REAL WAV encode over a tone table ([[toneSchema]]): PCM-16 LE frames
    * through `javax.sound.sampled.AudioSystem` (present in every JDK — no
    * external codecs), batched per partition like the PNG path. The output
    * keeps the source samples alongside the blob (see [[toneSchema]]).
    */
  def wavFromTones(tones: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(audioMediaSchema)
    tones.select(col("media_id"), col("sample_rate"), col("channels"), col("samples"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val rate = r.getInt(1)
          val channels = r.getInt(2)
          val samples = r.getSeq[Int](3)
          val pcm = new Array[Byte](samples.length * 2)
          var i = 0
          while (i < samples.length) {
            val s = samples(i).toShort
            pcm(2 * i) = (s & 0xff).toByte           // little-endian
            pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
            i += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(
            rate.toFloat, 16, channels, true /*signed*/, false /*littleEndian*/)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, samples.length / channels)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          val wav = bos.toByteArray
          Row(id, wav, "audio/wav", wav.length.toLong, rate, channels, samples)
        }
      }(enc)
  }

  /** REAL audio decimation — integer-factor downsampling by frame
    * selection (keep every `factor`-th frame), decode → select →
    * re-encode WAV at rate/factor. Plain decimation (no anti-alias
    * filter) because its output is EXACTLY defined — every kept sample
    * is a verbatim source sample, so the full pipeline hash-verifies
    * against an oracle selecting the same frames from stored samples
    * (q145), where an interpolating/filtering resampler's kernel would
    * be implementation-defined. The frame-sample primitive of the
    * multimodal tier (the video analog stays stubbed — no JDK codec).
    * Non-audio/undecodable rows degrade to null content.
    */
  def decimateAudio(media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, "factor must be positive")
    val enc = org.apache.spark.sql.Encoders.row(mediaSchema)
    media.select(col("media_id"), col("content"), col("media_type"), col("n_bytes"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val mediaType = r.getString(2)
          val out: Option[Array[Byte]] =
            if (bytes == null || mediaType == null || !mediaType.startsWith("audio/")) None
            else try {
              val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
                new java.io.ByteArrayInputStream(bytes))
              val fmt = ais.getFormat
              if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
                  fmt.getSampleSizeInBits != 16) None
              else {
                val data = ais.readAllBytes()
                val frameSize = fmt.getFrameSize
                val nFrames = data.length / frameSize
                val outFrames = (nFrames + factor - 1) / factor
                val pcm = new Array[Byte](outFrames * frameSize)
                var f = 0
                while (f < outFrames) {
                  System.arraycopy(data, f * factor * frameSize, pcm, f * frameSize, frameSize)
                  f += 1
                }
                val outFmt = new javax.sound.sampled.AudioFormat(
                  fmt.getSampleRate / factor, 16, fmt.getChannels, true, fmt.isBigEndian)
                val outAis = new javax.sound.sampled.AudioInputStream(
                  new java.io.ByteArrayInputStream(pcm), outFmt, outFrames.toLong)
                val bos = new java.io.ByteArrayOutputStream()
                javax.sound.sampled.AudioSystem.write(outAis,
                  javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
                Some(bos.toByteArray)
              }
            } catch { case _: Exception => None }
          out match {
            case Some(wav) => Row(id, wav, "audio/wav", wav.length.toLong)
            case None      => Row(id, null, mediaType, null)
          }
        }
      }(enc)
  }

  /** Decoded-audio schema: format metadata + signal statistics. */
  val audioFeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("media_type", StringType),
    StructField("n_bytes", LongType),
    StructField("decode_ok", BooleanType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_frames", LongType),
    StructField("duration_s", DoubleType),
    StructField("rms", DoubleType),
    StructField("rms_channel", ArrayType(DoubleType)),
    StructField("peak", LongType)))

  /** REAL audio decode + feature extraction over the binary column: the
    * JDK's `javax.sound.sampled` parses the RIFF container and hands back
    * format + frames (WAV/PCM — the interchange format of audio corpora;
    * compressed codecs are not in the JVM). Statistics per row: duration,
    * overall and per-channel RMS (normalized to [0,1] by full scale
    * 32768), peak |sample|. Sums of squares accumulate in Long (exact —
    * no FP order sensitivity), so the one double division + sqrt at the
    * end is engine-reproducible. Non-audio or undecodable rows degrade to
    * `decode_ok = false` with null statistics — one corrupt blob cannot
    * fail a 100 TB batch.
    */
  def decodeAudio(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(audioFeatureSchema)
    media.select(col("media_id"), col("content"), col("media_type"), col("n_bytes"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val mediaType = r.getString(2)
          val nBytes = r.getLong(3)
          val decoded: Option[Row] =
            if (bytes == null || mediaType == null || !mediaType.startsWith("audio/")) None
            else try {
              val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
                new java.io.ByteArrayInputStream(bytes))
              val fmt = ais.getFormat
              if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
                  fmt.getSampleSizeInBits != 16) None
              else {
                val data = ais.readAllBytes()
                val ch = fmt.getChannels
                val frameSize = fmt.getFrameSize // ch * 2 for PCM-16
                val nFrames = data.length / frameSize
                val bigEndian = fmt.isBigEndian
                val sumSq = new Array[Long](ch)
                var peak = 0L
                var f = 0
                while (f < nFrames) {
                  var c = 0
                  while (c < ch) {
                    val o = f * frameSize + c * 2
                    val s: Int =
                      if (bigEndian) ((data(o) << 8) | (data(o + 1) & 0xff)).toShort.toInt
                      else ((data(o + 1) << 8) | (data(o) & 0xff)).toShort.toInt
                    sumSq(c) += s.toLong * s
                    if (math.abs(s.toLong) > peak) peak = math.abs(s.toLong)
                    c += 1
                  }
                  f += 1
                }
                val n = nFrames.toLong * ch
                val rms =
                  if (n == 0) 0.0 else math.sqrt(sumSq.sum.toDouble / n) / 32768.0
                val rmsC = sumSq.map(sq =>
                  if (nFrames == 0) 0.0 else math.sqrt(sq.toDouble / nFrames) / 32768.0)
                Some(Row(id, mediaType, nBytes, true,
                  Int.box(fmt.getSampleRate.toInt), Int.box(ch), Long.box(nFrames.toLong),
                  nFrames.toDouble / fmt.getSampleRate.toDouble,
                  rms, rmsC.toSeq, Long.box(peak)))
              }
            } catch { case _: Exception => None }
          decoded.getOrElse(
            Row(id, mediaType, nBytes, false, null, null, null, null, null, null, null))
        }
      }(enc)
  }

  /** Frame-windowed audio features — the VAD/segmentation primitive of an
    * audio-corpus pipeline: decode the WAV, window the INTERLEAVED sample
    * stream into fixed `frameSize`-sample frames (last frame ragged), and
    * emit per frame the integer sum of squares, the integer
    * zero-crossing count (adjacent sign flips WITHIN the frame, sign =
    * `< 0`), and the derived RMS. The integer stats make the frame rows
    * hash-exact against an oracle recomputing them from the fixture's
    * stored samples (the q129 discipline); the one double (`rms`) is a
    * single IEEE sqrt+divide over integers. mapPartitions only for the
    * codec context; output size ∝ samples/frameSize.
    */
  def audioFrameFeatures(media: DataFrame, frameSize: Int = 256): DataFrame = {
    require(frameSize >= 2, "a frame needs at least two samples")
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("media_id", LongType), StructField("frame_idx", LongType),
      StructField("n_samples", LongType), StructField("sum_sq", LongType),
      StructField("zcr", LongType), StructField("rms", DoubleType)))
    val enc = org.apache.spark.sql.Encoders.row(schema)
    media.select(col("media_id"), col("content"), col("media_type"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          val mediaType = r.getString(2)
          if (bytes == null || mediaType == null || !mediaType.startsWith("audio/"))
            Iterator.empty
          else try {
            val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(bytes))
            val fmt = ais.getFormat
            if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
                fmt.getSampleSizeInBits != 16) Iterator.empty
            else {
              val data = ais.readAllBytes()
              val bigEndian = fmt.isBigEndian
              val n = data.length / 2
              val samples = new Array[Int](n)
              var i = 0
              while (i < n) {
                samples(i) =
                  if (bigEndian) ((data(2 * i) << 8) | (data(2 * i + 1) & 0xff)).toShort.toInt
                  else ((data(2 * i + 1) << 8) | (data(2 * i) & 0xff)).toShort.toInt
                i += 1
              }
              val nf = (n + frameSize - 1) / frameSize
              (0 until nf).iterator.map { f =>
                val s = f * frameSize
                val e = math.min(s + frameSize, n)
                var ss = 0L
                var j = s
                while (j < e) { ss += samples(j).toLong * samples(j); j += 1 }
                var z = 0L
                j = s + 1
                while (j < e) {
                  if ((samples(j - 1) < 0) != (samples(j) < 0)) z += 1
                  j += 1
                }
                val len = e - s
                Row(id, f.toLong, len.toLong, ss, z,
                  math.sqrt(ss.toDouble / len) / 32768.0)
              }
            }
          } catch { case _: Exception => Iterator.empty }
        }
      }(enc)
  }

  /** STUB — deterministic fake "feature extract" for media the JVM has
    * no codec for, the non-image fallback of [[decodeImages]]. For VIDEO
    * the container METADATA side is REAL ([[mp4Meta]] — brand/timescale/
    * duration/tracks/codecs by pure byte arithmetic over ISO-BMFF boxes);
    * only FRAME decode is honestly absent (a real implementation needs
    * video codecs that do not exist in the JDK). An 8-dim vector in
    * [0,1) from the content bytes (FNV-1a rolling hash per stripe), so
    * the plumbing (batch shape, schema, partitioning) is fully exercised
    * and test-assertable.
    */
  private def stubFeatures(bytesOrNull: Array[Byte]): Array[Double] = {
    val bytes = if (bytesOrNull == null) Array.emptyByteArray else bytesOrNull
    val feats = new Array[Double](8)
    var i = 0
    while (i < 8) {
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < bytes.length) {
        h ^= (bytes(j) & 0xffL); h *= 0x100000001b3L
        j += 8
      }
      feats(i) = (h >>> 11).toDouble / (1L << 53).toDouble
      i += 1
    }
    feats
  }

  // ------------------------------------------------------------------
  // MP4/ISO-BMFF container metadata (ISO/IEC 14496-12 box structure).
  // Pure byte arithmetic over the binary column — no codec, no frame
  // decode (which the JDK honestly cannot do; see [[stubFeatures]]).
  // Lifts the video tier from "stub" to real metadata extraction:
  // brand, movie timescale/duration, track count, codec fourccs.
  // ------------------------------------------------------------------

  /** MP4 fixture schema: blob + byte length + the EXPECTED metadata,
    * written at generation time from the generation parameters (never by
    * running the walker) — the q129 discipline that lets a DuckDB oracle
    * gate the parse hash-exactly.
    */
  val mp4FixtureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("n_bytes", LongType),
    StructField("exp_parse_ok", BooleanType),
    StructField("exp_major_brand", StringType),
    StructField("exp_timescale", LongType),
    StructField("exp_duration", LongType),
    StructField("exp_n_tracks", LongType),
    StructField("exp_codecs", StringType)))

  private def mp4Box(typ: String, payload: Array[Byte],
                     large: Boolean = false): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    require(t.length == 4, s"fourcc must be 4 bytes: $typ")
    if (large) {
      // size==1 sentinel + 64-bit largesize (the >4 GiB form; exercised
      // small so the walker's largesize path is pinned)
      val b = java.nio.ByteBuffer.allocate(16 + payload.length)
      b.putInt(1).put(t).putLong(16L + payload.length).put(payload)
      b.array()
    } else {
      val b = java.nio.ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(t).put(payload)
      b.array()
    }
  }

  private def mp4Mvhd(version: Int, timescale: Long, duration: Long,
                      nextTrack: Long): Array[Byte] = {
    val fixed = new Array[Byte](80) // rate..next_track-4: rate(4) volume(2)
    // reserved(10) matrix(36) predefined(24) = 76 + next_track(4)
    val bb = java.nio.ByteBuffer.wrap(fixed)
    bb.putInt(0x00010000).putShort(0x0100.toShort)
    bb.position(76); bb.putInt(nextTrack.toInt)
    val head =
      if (version == 1) {
        val b = java.nio.ByteBuffer.allocate(4 + 8 + 8 + 4 + 8)
        b.putInt(0x01000000).putLong(0L).putLong(0L)
          .putInt(timescale.toInt).putLong(duration)
        b.array()
      } else {
        val b = java.nio.ByteBuffer.allocate(4 + 4 + 4 + 4 + 4)
        b.putInt(0).putInt(0).putInt(0)
          .putInt(timescale.toInt).putInt(duration.toInt)
        b.array()
      }
    mp4Box("mvhd", head ++ fixed)
  }

  private def mp4Trak(codec: String): Array[Byte] = {
    val entry = mp4Box(codec, new Array[Byte](16))
    val stsd = mp4Box("stsd",
      java.nio.ByteBuffer.allocate(8).putInt(0).putInt(1).array() ++ entry)
    val stbl = mp4Box("stbl", stsd)
    val minf = mp4Box("minf", mp4Box("vmhd", new Array[Byte](8)) ++ stbl)
    val mdia = mp4Box("mdia", mp4Box("mdhd", new Array[Byte](24)) ++ minf)
    mp4Box("trak", mp4Box("tkhd", new Array[Byte](84)) ++ mdia)
  }

  private val mp4Codecs = Array("avc1", "mp4a", "hvc1", "av01")

  /** Deterministic MP4 fixture per document id: real ISO-BMFF box
    * structure (ftyp + free + moov{mvhd, trak*, udta}) with planted
    * variation — mvhd version 1 (64-bit times) every 5th id, a 64-bit
    * largesize free box every 7th, and a TRUNCATED file (cut mid-moov)
    * every 13th so degradation is part of the contract: brand still
    * parses, movie metadata comes back null, parse_ok=false.
    */
  def mp4Fixture(docs: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mp4FixtureSchema)
    docs.select(col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val timescale = 600L + (id % 5) * 100
          val duration = 1200L + (id % 97) * 330
          val nTracks = 1 + (id % 3).toInt
          val codecs = (0 until nTracks)
            .map(t => mp4Codecs(((id + t) % 4).toInt))
          val mvhdVer = if (id % 5 == 0) 1 else 0
          val ftyp = mp4Box("ftyp",
            "isom".getBytes("US-ASCII") ++
              java.nio.ByteBuffer.allocate(4).putInt(512).array() ++
              "isomiso2mp41".getBytes("US-ASCII"))
          val free = mp4Box("free", new Array[Byte](12), large = id % 7 == 0)
          val moovPayload = mp4Mvhd(mvhdVer, timescale, duration, nTracks + 1) ++
            codecs.flatMap(mp4Trak).toArray ++
            mp4Box("udta", new Array[Byte](6))
          val whole = ftyp ++ free ++ mp4Box("moov", moovPayload)
          val corrupt = id % 13 == 0
          val content =
            if (corrupt) whole.take(ftyp.length + free.length + 12)
            else whole
          if (corrupt)
            Row(id, content, content.length.toLong, false, "isom",
              null, null, null, null)
          else
            Row(id, content, content.length.toLong, true, "isom",
              timescale, duration, nTracks.toLong, codecs.mkString(","))
        }
      }(enc)
  }

  /** Parsed-metadata schema of [[mp4Meta]]. */
  val mp4MetaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("n_bytes", LongType),
    StructField("parse_ok", BooleanType),
    StructField("major_brand", StringType),
    StructField("timescale", LongType),
    StructField("duration", LongType),
    StructField("duration_s", DoubleType),
    StructField("n_tracks", LongType),
    StructField("codecs", StringType)))

  private def mp4U32(b: Array[Byte], off: Int): Long =
    ((b(off) & 0xffL) << 24) | ((b(off + 1) & 0xffL) << 16) |
      ((b(off + 2) & 0xffL) << 8) | (b(off + 3) & 0xffL)

  private def mp4U64(b: Array[Byte], off: Int): Long =
    (mp4U32(b, off) << 32) | mp4U32(b, off + 4)

  /** Lenient sibling-box walk of [start, end): collects (type,
    * payloadStart, payloadEnd) until a structural violation (header past
    * end, size below header, box past end) and reports whether the walk
    * was clean — truncated files keep their parsable prefix.
    */
  private def mp4Walk(b: Array[Byte], start: Int,
                      end: Int): (Seq[(String, Int, Int)], Boolean) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Int, Int)]
    var p = start
    while (p < end) {
      if (p + 8 > end) return (out.toSeq, false)
      var size = mp4U32(b, p)
      val typ = new String(b, p + 4, 4, "US-ASCII")
      var hdr = 8
      if (size == 1L) {
        if (p + 16 > end) return (out.toSeq, false)
        size = mp4U64(b, p + 8); hdr = 16
      } else if (size == 0L) size = (end - p).toLong
      if (size < hdr || size > end - p) return (out.toSeq, false)
      out += ((typ, p + hdr, p + size.toInt))
      p += size.toInt
    }
    (out.toSeq, true)
  }

  private def mp4Child(boxes: Seq[(String, Int, Int)],
                       typ: String): Option[(Int, Int)] =
    boxes.collectFirst { case (t, s, e) if t == typ => (s, e) }

  /** MP4/ISO-BMFF container metadata walk over a binary media column:
    * major brand (ftyp), movie timescale/duration (mvhd v0 and v1),
    * track count and per-track codec fourccs (trak→mdia→minf→stbl→stsd
    * first entry). Unknown sibling boxes are skipped by size, 64-bit
    * largesize headers are honored, and any structural violation
    * degrades to parse_ok=false with whatever prefix parsed (a
    * truncated file still reports its brand). mapPartitions per the
    * codec-batching discipline; per-row cost is the box-header walk —
    * bytes are never copied.
    */
  def mp4Meta(media: DataFrame): DataFrame = {
    val enc = org.apache.spark.sql.Encoders.row(mp4MetaSchema)
    media.select(col("media_id"), col("content"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val b = r.getAs[Array[Byte]](1)
          val (top, topOk) = mp4Walk(b, 0, b.length)
          val brand = mp4Child(top, "ftyp")
            .filter { case (s, e) => e - s >= 4 }
            .map { case (s, _) => new String(b, s, 4, "US-ASCII") }
            .orNull
          val parsed = for {
            _ <- if (topOk) Some(()) else None
            (ms, me) <- mp4Child(top, "moov")
            (children, childOk) = mp4Walk(b, ms, me)
            _ <- if (childOk) Some(()) else None
            (hs, he) <- mp4Child(children, "mvhd")
            _ <- if (he - hs >= 20) Some(()) else None
            ver = b(hs) & 0xff
            _ <- if (ver == 0 || (ver == 1 && he - hs >= 32)) Some(()) else None
            ts = if (ver == 1) mp4U32(b, hs + 20) else mp4U32(b, hs + 12)
            dur = if (ver == 1) mp4U64(b, hs + 24) else mp4U32(b, hs + 16)
            traks = children.filter(_._1 == "trak")
            fourccs <- traverseTrakCodecs(b, traks)
          } yield (ts, dur, traks.size.toLong, fourccs.mkString(","))
          parsed match {
            case Some((ts, dur, nTracks, codecs)) =>
              Row(id, b.length.toLong, true, brand, ts, dur,
                math.floor(dur.toDouble / ts * 1e9 + 0.5) / 1e9,
                nTracks, codecs)
            case None =>
              Row(id, b.length.toLong, false, brand,
                null, null, null, null, null)
          }
        }
      }(enc)
  }

  /** First stsd entry fourcc of every trak, or None if any trak's
    * mdia→minf→stbl→stsd path is malformed.
    */
  private def traverseTrakCodecs(b: Array[Byte],
      traks: Seq[(String, Int, Int)]): Option[Seq[String]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    for ((_, ts, te) <- traks) {
      val codec = for {
        (mdia, mdiaOkEnd) <- walkChildClean(b, ts, te, "mdia")
        (minf, minfEnd) <- walkChildClean(b, mdia, mdiaOkEnd, "minf")
        (stbl, stblEnd) <- walkChildClean(b, minf, minfEnd, "stbl")
        (stsd, stsdEnd) <- walkChildClean(b, stbl, stblEnd, "stsd")
        // stsd payload: version+flags(4) entry_count(4) then first entry
        // box header (size(4) + fourcc(4))
        _ <- if (stsdEnd - stsd >= 16 && mp4U32(b, stsd + 4) >= 1) Some(())
             else None
      } yield new String(b, stsd + 12, 4, "US-ASCII")
      codec match {
        case Some(c) => out += c
        case None    => return None
      }
    }
    Some(out.toSeq)
  }

  /** Clean walk of [start, end) and locate child `typ`'s payload. */
  private def walkChildClean(b: Array[Byte], start: Int, end: Int,
                             typ: String): Option[(Int, Int)] = {
    val (boxes, ok) = mp4Walk(b, start, end)
    if (!ok) None else mp4Child(boxes, typ)
  }
}
