package graft

import org.apache.spark.sql.functions._

import graft.ops.Multimodal
import graft.sources.Tables

class MultimodalSpec extends SparkSpec {

  test("fromDocuments produces the canonical media schema") {
    val media = Multimodal.fromDocuments(Tables.documents(spark, sf001))
    assert(media.schema.fieldNames.toSeq ==
      Seq("media_id", "content", "media_type", "n_bytes"))
    val r = media.filter(col("media_id") === 0L).head()
    assert(r.getAs[Array[Byte]]("content").length == r.getAs[Long]("n_bytes"))
  }

  test("sizeBalanced yields the requested partition count and spreads bytes") {
    val media = Multimodal.fromDocuments(Tables.documents(spark, sf001))
    val total = media.agg(sum("n_bytes")).head().getLong(0)
    val parts = Multimodal.sizeBalanced(media, targetPartitionBytes = total / 4, total)
    assert(parts.rdd.getNumPartitions == 4)
    // byte skew: hash spreading must not concentrate the large blobs
    val bytesPerPart = parts.select(col("n_bytes")).rdd
      .mapPartitions(it => Iterator(it.map(_.getLong(0)).sum)).collect()
    val mean = bytesPerPart.sum.toDouble / bytesPerPart.length
    assert(bytesPerPart.max <= 2.0 * mean,
      s"byte skew: ${bytesPerPart.mkString(",")}")
  }

  test("decodeImages decodes real PNG bytes: dimensions, channels, band means") {
    import spark.implicits._
    // hand-built 2x1 image: left pixel pure red, right pixel pure blue
    val img = new java.awt.image.BufferedImage(2, 1,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    img.setRGB(0, 0, 0xFF0000)
    img.setRGB(1, 0, 0x0000FF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val media = Seq((1L, png, "image/png", png.length.toLong))
      .toDF("media_id", "content", "media_type", "n_bytes")
    val r = Multimodal.decodeImages(media).head()
    assert(r.getAs[Boolean]("decode_ok"))
    assert(r.getAs[Int]("width") == 2 && r.getAs[Int]("height") == 1)
    assert(r.getAs[Int]("channels") == 3)
    val f = r.getSeq[Double](7)
    // bands are BGR or RGB depending on raster layout; mean of each used
    // band over {255, 0} pixels is 0.5, green stays 0
    assert(math.abs(f(0) - 0.5) < 1e-9 && math.abs(f(2) - 0.5) < 1e-9)
    assert(f(1) == 0.0)
    assert(f(4) == 2.0) // aspect ratio
  }

  test("decodeImages decodes real JPEG bytes: dimensions, channels, band means") {
    import spark.implicits._
    // JPEG is lossy, so the fixture is a uniform mid-gray block (DCT of a
    // constant is near-lossless) and band means are asserted to tolerance
    val img = new java.awt.image.BufferedImage(16, 8,
      java.awt.image.BufferedImage.TYPE_3BYTE_BGR)
    val g = img.createGraphics()
    g.setColor(new java.awt.Color(128, 128, 128))
    g.fillRect(0, 0, 16, 8)
    g.dispose()
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", bos)
    val jpg = bos.toByteArray
    val media = Seq((7L, jpg, "image/jpeg", jpg.length.toLong))
      .toDF("media_id", "content", "media_type", "n_bytes")
    val r = Multimodal.decodeImages(media).head()
    assert(r.getAs[Boolean]("decode_ok"))
    assert(r.getAs[Int]("width") == 16 && r.getAs[Int]("height") == 8)
    assert(r.getAs[Int]("channels") == 3)
    val f = r.getSeq[Double](7)
    (0 to 2).foreach(b =>
      assert(math.abs(f(b) - 128.0 / 255.0) < 0.03, s"band $b mean ${f(b)}"))
    assert(f(4) == 2.0) // aspect ratio
  }

  test("decodeImages falls back to stub features on corrupt, non-image or NULL rows") {
    import spark.implicits._
    val media = Seq(
      (1L, Array[Byte](1, 2, 3), "image/png", 3L),          // corrupt image
      (2L, Array[Byte](4, 5, 6), "audio/wav", 3L),          // non-image
      (3L, null.asInstanceOf[Array[Byte]], "image/png", 0L) // null blob
    ).toDF("media_id", "content", "media_type", "n_bytes")
    val out = Multimodal.decodeImages(media).collect()
    assert(out.length == 3)
    assert(out.forall(!_.getAs[Boolean]("decode_ok")))
    assert(out.forall(_.isNullAt(4)))
    assert(out.forall(_.getSeq[Double](7).length == 8))
    // the stub features are deterministic and lie in [0, 1]
    assert(Multimodal.decodeImages(media).collect().map(_.getSeq[Double](7)).toSeq == out.map(_.getSeq[Double](7)).toSeq)
    assert(out.forall(_.getSeq[Double](7).forall(v => v >= 0.0 && v <= 1.0)))
  }

  test("pngFromDocuments emits decodable PNGs and q52 runs end-to-end") {
    val media = Multimodal.pngFromDocuments(
      Tables.documents(spark, sf001).limit(20))
    val decoded = Multimodal.decodeImages(media)
    val rows = decoded.collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getAs[Boolean]("decode_ok")))
    assert(rows.forall(r => r.getAs[Int]("width") == 8 && r.getAs[Int]("height") == 8))
    // determinism: same input bytes, same decoded means
    val again = decoded.collect().map(r => r.getLong(0) -> r.getSeq[Double](7)).toMap
    rows.foreach(r => assert(again(r.getLong(0)) == r.getSeq[Double](7)))
  }

  test("decodeAudio recovers closed-form statistics from a real WAV round trip") {
    import spark.implicits._
    // Square waves have EXACT statistics (no trig, no rounding): a mono
    // ±12288 square has RMS exactly 12288/32768 = 0.375; the stereo row
    // interleaves L=±8192, R=±4096 so the per-channel RMS differ and the
    // overall RMS is the frame-weighted quadratic mean of both.
    val mono = Array.tabulate(1600)(t => if ((t / 20) % 2 == 0) 12288 else -12288)
    val stereo = Array.tabulate(2400) { i =>
      val t = i / 2
      val a = if (i % 2 == 0) 8192 else 4096
      if ((t / 25) % 2 == 0) a else -a
    }
    val tones = Seq(
      (10L, 8000, 1, mono.toSeq),
      (11L, 16000, 2, stereo.toSeq)
    ).toDF("media_id", "sample_rate", "channels", "samples")
    val out = Multimodal.decodeAudio(Multimodal.wavFromTones(tones))
      .collect().map(r => r.getLong(0) -> r).toMap

    val m = out(10L)
    assert(m.getAs[Boolean]("decode_ok"))
    assert(m.getAs[Int]("sample_rate") == 8000 && m.getAs[Int]("channels") == 1)
    assert(m.getAs[Long]("n_frames") == 1600L)
    assert(m.getAs[Double]("duration_s") == 0.2)
    assert(m.getAs[Double]("rms") == 0.375) // exact: 12288/32768
    assert(m.getSeq[Double](9) == Seq(0.375))
    assert(m.getAs[Long]("peak") == 12288L)

    val s = out(11L)
    assert(s.getAs[Boolean]("decode_ok"))
    assert(s.getAs[Int]("sample_rate") == 16000 && s.getAs[Int]("channels") == 2)
    assert(s.getAs[Long]("n_frames") == 1200L)
    assert(s.getAs[Double]("duration_s") == 0.075)
    assert(s.getSeq[Double](9) == Seq(0.25, 0.125)) // exact: 8192/32768, 4096/32768
    assert(s.getAs[Double]("rms") ==
      math.sqrt((8192.0 * 8192 + 4096.0 * 4096) / 2) / 32768.0)
    assert(s.getAs[Long]("peak") == 8192L)
  }

  test("decimateAudio keeps exactly the even frames (closed-form square selection)") {
    import spark.implicits._
    // mono frame-alternating square +A/-A: frames 0,2,4,... are +A, so
    // decimation by 2 keeps ONLY +A samples — rms = peak = A exactly,
    // which no filtering/interpolating resampler would produce (its
    // kernel would blend the sign flips). Off-by-one-frame bugs flip
    // half the kept samples negative and shift nothing else: rms stays A
    // but a 3-frame variant below catches the phase too.
    val alt = Array.tabulate(1000)(t => if (t % 2 == 0) 9000 else -9000)
    val tones = Seq((20L, 8000, 1, alt.toSeq))
      .toDF("media_id", "sample_rate", "channels", "samples")
    val out = Multimodal.decodeAudio(
        Multimodal.decimateAudio(Multimodal.wavFromTones(tones), factor = 2))
      .head()
    assert(out.getAs[Boolean]("decode_ok"))
    assert(out.getAs[Int]("sample_rate") == 4000)
    assert(out.getAs[Long]("n_frames") == 500L)
    assert(out.getAs[Double]("duration_s") == 0.125)
    assert(out.getAs[Double]("rms") == 9000.0 / 32768.0) // every kept sample is +9000
    assert(out.getAs[Long]("peak") == 9000L)

    // period-3 pattern [+A, 0, -A, +A, 0, -A, ...] decimated by 3 keeps
    // only the +A phase — pins WHICH frame the selection starts on
    val tri = Array.tabulate(999)(t => (t % 3) match {
      case 0 => 7000; case 1 => 0; case _ => -7000 })
    val out3 = Multimodal.decodeAudio(
        Multimodal.decimateAudio(Multimodal.wavFromTones(
          Seq((21L, 9000, 1, tri.toSeq)).toDF("media_id", "sample_rate", "channels", "samples")),
          factor = 3))
      .head()
    assert(out3.getAs[Long]("n_frames") == 333L)
    assert(out3.getAs[Double]("rms") == 7000.0 / 32768.0,
      "decimation must start at frame 0 (the +A phase)")
  }

  test("decodeAudio degrades to decode_ok=false on non-audio, corrupt or null rows") {
    import spark.implicits._
    val media = Seq(
      (1L, Array[Byte](1, 2, 3), "audio/wav", 3L),           // corrupt RIFF
      (2L, Array[Byte](4, 5, 6), "image/png", 3L),           // non-audio
      (3L, null.asInstanceOf[Array[Byte]], "audio/wav", 0L)  // null blob
    ).toDF("media_id", "content", "media_type", "n_bytes")
    val out = Multimodal.decodeAudio(media).collect()
    assert(out.length == 3)
    assert(out.forall(!_.getAs[Boolean]("decode_ok")))
    assert(out.forall(_.isNullAt(4)))
  }

  test("tonesFromDocuments → wavFromTones → decodeAudio: q129's chain decodes every row") {
    val tones = Multimodal.tonesFromDocuments(Tables.documents(spark, sf001).limit(30))
    val decoded = Multimodal.decodeAudio(Multimodal.wavFromTones(tones)).collect()
    assert(decoded.length == 30)
    assert(decoded.forall(_.getAs[Boolean]("decode_ok")))
    // both channel layouts appear, durations follow the doc_id formula
    assert(decoded.map(_.getAs[Int]("channels")).toSet == Set(1, 2))
    decoded.foreach { r =>
      val id = r.getLong(0)
      assert(r.getAs[Long]("n_frames") == 800 + (id % 5) * 400,
        s"media $id frame count")
    }
  }

  test("dHashImages reproduces the encode-side luminance ground truth") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "zzzz"), (3L, "a completely different document body here"))
      .toDF("doc_id", "text")
    val fixture = Multimodal.pngLumaFixture(docs).cache()
    val fromLum = fixture.collect().map { r =>
      val lum = r.getSeq[Long](4)
      var hi = 0L; var lo = 0L
      for (rr <- 0 until 8; cc <- 0 until 8)
        if (lum(rr * 9 + cc) > lum(rr * 9 + cc + 1)) {
          val i = rr * 8 + cc
          if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
        }
      r.getLong(0) -> ((hi, lo))
    }.toMap
    val decoded = Multimodal.dHashImages(fixture).collect()
      .map(r => r.getLong(0) -> r).toMap
    fixture.unpersist()
    assert(decoded.size == 3)
    decoded.foreach { case (id, r) =>
      assert(r.getAs[Boolean]("decode_ok"))
      assert(r.getAs[Int]("width") == 9 && r.getAs[Int]("height") == 8)
      assert((r.getAs[Long]("dhash_hi"), r.getAs[Long]("dhash_lo")) == fromLum(id),
        s"decoded dHash of media $id diverges from encode-side luminance")
      assert(r.getAs[Long]("dhash_hi") >= 0L && r.getAs[Long]("dhash_lo") >= 0L)
    }
  }

  test("dHashImages degrades on corrupt bytes, hashes non-9x8 via NN grid") {
    import spark.implicits._
    val corrupt = Seq((9L, Array[Byte](1, 2, 3), "image/png", 3L))
      .toDF("media_id", "content", "media_type", "n_bytes")
    val bad = Multimodal.dHashImages(corrupt).head()
    assert(!bad.getAs[Boolean]("decode_ok") && bad.isNullAt(4) && bad.isNullAt(5))
    // an 8×8 PNG from the existing fixture path still hashes (resized grid)
    val png8 = Multimodal.pngFromDocuments(
      Seq((7L, "some text for an eight by eight image")).toDF("doc_id", "text"))
    val r = Multimodal.dHashImages(png8).head()
    assert(r.getAs[Boolean]("decode_ok"))
    assert(r.getAs[Int]("width") == 8 && r.getAs[Int]("height") == 8)
  }

  test("dHashNearDup: pigeonhole banding is complete at Hamming <= 3") {
    import spark.implicits._
    // base hash; d3 differs in 3 bits spread over THREE different bands
    // (only the 4th band agrees — the pigeonhole case); d4 differs in 4
    // bits, one per band (no band agrees → correctly outside the radius)
    val base = (0xABCD1234L, 0x56789DEFL)
    val d3 = (base._1 ^ (1L << 5) ^ (1L << 20), base._2 ^ (1L << 3))
    val d4 = (base._1 ^ (1L << 5) ^ (1L << 20), base._2 ^ (1L << 3) ^ (1L << 19))
    val hashes = Seq(
      (1L, true, base._1, base._2),
      (2L, true, d3._1, d3._2),
      (3L, true, d4._1, d4._2),
      (4L, false, base._1, base._2)) // decode failure: excluded
      .toDF("media_id", "decode_ok", "dhash_hi", "dhash_lo")
    val pairs = Multimodal.dHashNearDup(hashes, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    // (1,3) is Hamming 4 with NO agreeing band — never even a candidate;
    // (2,3) differ only in one bit → distance 1
    assert(pairs == Set((1L, 2L, 3L), (2L, 3L, 1L)),
      s"expected the Hamming-3 and Hamming-1 pairs only, got $pairs")
  }

  test("audioFrameFeatures: exact frame stats on a crafted square wave") {
    import spark.implicits._
    // 10 samples alternating ±1000: every adjacent pair flips sign, so a
    // full 4-sample frame has zcr 3 and the ragged 2-sample tail zcr 1
    val samples = Array.tabulate(10)(i => if (i % 2 == 0) 1000 else -1000)
    val pcm = new Array[Byte](samples.length * 2)
    samples.zipWithIndex.foreach { case (s, i) =>
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(
      new javax.sound.sampled.AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong),
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    val media = Seq((1L, bos.toByteArray, "audio/wav", bos.size.toLong))
      .toDF("media_id", "content", "media_type", "n_bytes")
    val out = Multimodal.audioFrameFeatures(media, frameSize = 4)
      .collect().map(r => r.getLong(1) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    assert(out(0L) == ((4L, 4000000L, 3L, math.sqrt(1000000.0) / 32768.0)))
    assert(out(1L) == ((4L, 4000000L, 3L, math.sqrt(1000000.0) / 32768.0)))
    // ragged tail: 2 samples, 1 sign flip
    assert(out(2L) == ((2L, 2000000L, 1L, math.sqrt(1000000.0) / 32768.0)))
    // non-audio rows contribute nothing
    val none = Multimodal.audioFrameFeatures(
      Seq((2L, Array[Byte](1, 2, 3), "application/octet-stream", 3L))
        .toDF("media_id", "content", "media_type", "n_bytes"), frameSize = 4)
    assert(none.count() == 0L)
  }

  test("mp4Meta walks real box structure; corrupt boxes degrade, not crash") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val fx = Multimodal.mp4Fixture(
      Seq(1L, 5L, 7L, 13L, 35L).toDF("doc_id")).cache()
    val out = Multimodal.mp4Meta(fx).collect()
      .map(r => r.getLong(0) -> r).toMap
    // id 1: plain v0 mvhd — timescale 700, duration 1200+330, 2 tracks
    assert(out(1L).getBoolean(2) && out(1L).getString(3) == "isom")
    assert(out(1L).getLong(4) == 700L && out(1L).getLong(5) == 1530L)
    assert(out(1L).getLong(7) == 2L && out(1L).getString(8) == "mp4a,hvc1")
    // id 5: mvhd VERSION 1 (64-bit times) parses identically
    assert(out(5L).getBoolean(2) && out(5L).getLong(4) == 600L)
    assert(out(5L).getLong(5) == 1200L + 5 * 330L)
    // id 7: 64-bit largesize free box is skipped correctly
    assert(out(7L).getBoolean(2) && out(7L).getLong(7) == 2L)
    // id 35: v1 AND largesize together
    assert(out(35L).getBoolean(2) && out(35L).getLong(4) == 600L)
    // id 13: TRUNCATED mid-moov — brand survives, movie metadata null
    assert(!out(13L).getBoolean(2))
    assert(out(13L).getString(3) == "isom")
    assert(out(13L).isNullAt(4) && out(13L).isNullAt(5) &&
      out(13L).isNullAt(7) && out(13L).isNullAt(8))
    // parsed values equal the generation-time expectations on every row
    val exp = fx.select(col("media_id"), col("exp_parse_ok"),
      col("exp_timescale"), col("exp_codecs")).collect()
      .map(r => r.getLong(0) -> r).toMap
    for ((id, e) <- exp) {
      assert(out(id).getBoolean(2) == e.getBoolean(1))
      assert(out(id).isNullAt(4) == e.isNullAt(2))
      if (!e.isNullAt(3)) assert(out(id).getString(8) == e.getString(3))
    }
    // hand-corrupted header: size field smaller than a box header
    val bogus = Seq((99L,
      Array[Byte](0, 0, 0, 4, 'f', 't', 'y', 'p'), "video/mp4", 8L))
      .toDF("media_id", "content", "media_type", "n_bytes")
    val br = Multimodal.mp4Meta(bogus).head()
    assert(!br.getBoolean(2) && br.isNullAt(3))
    fx.unpersist()
  }
}
