package graft

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
import org.apache.spark.sql.functions.{expr, length}

/** Multimodal plumbing: schema, null handling, determinism.
  * The codec is a stub by design (no native image/audio libs in the
  * build); what's under test is the Spark-side contract. */
class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private def media = Seq(
    MediaRow(1L, "image/jpeg", "fake-jpeg-bytes-1".getBytes("UTF-8"),
      MediaMeta("cam0", Some(640), Some(480), None)),
    MediaRow(2L, "image/jpeg", "fake-jpeg-bytes-two".getBytes("UTF-8"),
      MediaMeta("cam1", Some(640), Some(480), None)),
    MediaRow(3L, "video/mp4", "fake-mp4".getBytes("UTF-8"),
      MediaMeta("cam2", None, None, Some(2500L))),
    MediaRow(4L, "image/jpeg", Array.emptyByteArray,
      MediaMeta("cam3", None, None, None))).toDS()

  test("image features: deterministic stub decode, empty payload safe") {
    val f1 = Multimodal.imageFeatures(media).collect().map(f => f.media_id -> f).toMap
    assert(f1.keySet == Set(1L, 2L, 3L, 4L))
    assert(f1(4L).n_bytes == 0L && f1(4L).brightness == 0.0)
    assert(f1(1L).histogram.sum > 0.999 && f1(1L).histogram.sum < 1.001)
  }

  test("payload stats stay pure-SQL (no decode)") {
    val stats = Multimodal.payloadStats(media.toDF()).collect()
      .map(r => r.getLong(0) -> r.getInt(2).toLong).toMap
    assert(stats(1L) == "fake-jpeg-bytes-1".length.toLong)
    assert(stats(4L) == 0L)
  }

  private def hexBytes(s: String): Array[Byte] =
    s.replaceAll("\\s", "").sliding(2, 2)
      .map(Integer.parseInt(_, 16).toByte).toArray

  // REAL container fixtures — spec-valid headers, exact expected fields
  private val realPng: Array[Byte] = java.util.Base64.getDecoder.decode(
    // a complete, valid 1x1 RGBA PNG (signature..IEND)
    "iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR42mNkYPhfDwAChwGA60e6kgAAAABJRU5ErkJggg==")
  private val realJpegHeader: Array[Byte] = hexBytes(
    // SOI, APP0/JFIF, SOF0: precision 8, 224x320, 3 components
    "FFD8 FFE0 0010 4A46494600 0101 00 0001 0001 00 00" +
      " FFC0 0011 08 00E0 0140 03 01 2200 02 1101 03 1101")
  private val realGif: Array[Byte] =
    "GIF89a".getBytes("US-ASCII") ++ hexBytes("0A00 1400 70 00 00")
  private val realBmp: Array[Byte] = hexBytes(
    // BITMAPINFOHEADER, 7 x -5 (top-down), 24 bpp
    "424D 46000000 00000000 36000000 28000000 07000000 FBFFFFFF 0100 1800")

  test("image_meta parses real PNG/JPEG/GIF/BMP headers exactly") {
    import graft.functions.ImageMetaExpr.parseHeader
    def fields(b: Array[Byte]) = Option(parseHeader(b)).map(r =>
      (r.getUTF8String(0).toString, r.getInt(1), r.getInt(2),
        r.getInt(3), r.getInt(4)))
    assert(fields(realPng).contains(("png", 1, 1, 8, 4)))
    assert(fields(realJpegHeader).contains(("jpeg", 320, 224, 8, 3)))
    assert(fields(realGif).contains(("gif", 10, 20, 8, 3)))
    assert(fields(realBmp).contains(("bmp", 7, 5, 24, 3)))
    // JPEG fill bytes (FF padding) before the SOF marker are legal
    assert(fields(hexBytes("FFD8 FFFF C0 0011 08 0002 0003 01 1100"))
      .contains(("jpeg", 3, 2, 8, 1)))
    // progressive JPEG (SOF2) carries dims the same way
    assert(fields(hexBytes("FFD8 FFC2 0011 08 0010 0020 03 012200 021101 031101"))
      .contains(("jpeg", 32, 16, 8, 3)))
    // truncated/garbage/scan-before-SOF payloads are NULL, never errors
    assert(fields(realPng.take(20)).isEmpty)
    assert(fields(realJpegHeader.take(6)).isEmpty)
    assert(fields("not an image at all".getBytes("UTF-8")).isEmpty)
    assert(fields(hexBytes("FFD8 FFDA 0002")).isEmpty) // SOS before SOF
    assert(fields(Array.emptyByteArray).isEmpty)
    assert(Option(parseHeader(null)).isEmpty)
  }

  test("imageHeaderMeta: real metadata over the media frame, stub meta ignored") {
    import spark.implicits._
    // declared meta lies (640x480) — the parsed header wins; non-image
    // payloads surface NULLs, not failures
    val rows = Seq(
      MediaRow(1L, "image/png", realPng, MediaMeta("s", Some(640), Some(480), None)),
      MediaRow(2L, "image/jpeg", realJpegHeader, MediaMeta("s", Some(640), Some(480), None)),
      MediaRow(3L, "image/gif", realGif, MediaMeta("s", None, None, None)),
      MediaRow(4L, "image/bmp", realBmp, MediaMeta("s", None, None, None)),
      MediaRow(5L, "text/plain", "hello".getBytes("UTF-8"), MediaMeta("s", None, None, None)))
    // through parquet so the expression runs inside whole-stage codegen
    // over a real scan, not a constant-folded local relation
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_imagemeta_${System.nanoTime()}")
    try {
      rows.toDS().write.mode("overwrite").parquet(dir.getAbsolutePath)
      val media = spark.read.parquet(dir.getAbsolutePath)
      val m = graft.functions.ImageMetaExpr.imageMeta($"content")
      val out = media.select($"media_id", $"mime",
          length($"content").as("n_bytes"), m.getField("format"),
          m.getField("width"), m.getField("height"),
          m.getField("bit_depth"), m.getField("channels")).collect()
        .map(r => r.getLong(0) -> r).toMap
      assert(out(1L).getString(3) == "png" &&
        out(1L).getInt(4) == 1 && out(1L).getInt(5) == 1)
      assert(out(2L).getString(3) == "jpeg" &&
        out(2L).getInt(4) == 320 && out(2L).getInt(5) == 224)
      assert(out(3L).getString(3) == "gif" &&
        out(3L).getInt(4) == 10 && out(3L).getInt(5) == 20)
      assert(out(4L).getString(3) == "bmp" &&
        out(4L).getInt(4) == 7 && out(4L).getInt(5) == 5 &&
        out(4L).getInt(6) == 24)
      assert(out(5L).isNullAt(3) && out(5L).isNullAt(4))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  // real audio containers, hand-assembled to spec
  private val realWav: Array[Byte] = hexBytes(
    // RIFF/WAVE with a LIST chunk BEFORE fmt (walk must skip it), then
    // PCM fmt (2ch 44100 16-bit, block 4) and a header-only data chunk
    // declaring 400 bytes -> 100 frames
    "52494646 00000000 57415645" +            // RIFF....WAVE
      "4C495354 04000000 494E464F" +          // LIST size 4 "INFO"
      "666D7420 10000000 0100 0200 44AC0000 10B10200 0400 1000" +
      "64617461 90010000")                    // data size 400, no payload
  private val realAiff: Array[Byte] = hexBytes(
    // FORM/AIFF, COMM: 1ch, 1234 frames, 16-bit, 8000 Hz as 80-bit
    // extended (exp 16395 = 0x400B, mantissa 0xFA00... = 1.953125)
    "464F524D 00000026 41494646" +
      "434F4D4D 00000012 0001 000004D2 0010 400BFA00000000000000")
  private val realFlac: Array[Byte] = {
    val rate = 48000L; val ch = 2L; val bits = 24L; val samples = 123456789L
    val packed = (rate << 44) | ((ch - 1) << 41) | ((bits - 1) << 36) | samples
    "fLaC".getBytes("US-ASCII") ++
      Array[Byte](0x00, 0x00, 0x00, 0x22) ++          // STREAMINFO, len 34
      Array.fill[Byte](10)(0) ++                      // block/frame sizes
      (0 until 8).map(k => ((packed >>> (56 - 8 * k)) & 0xff).toByte) ++
      Array.fill[Byte](16)(0)                         // md5 placeholder
  }

  test("audio_meta parses real WAV/AIFF/FLAC headers exactly") {
    import graft.functions.AudioMetaExpr.parseHeader
    def fields(b: Array[Byte]) = Option(parseHeader(b)).map(r =>
      (r.getUTF8String(0).toString, r.getInt(1), r.getInt(2),
        r.getInt(3), r.getLong(4)))
    assert(fields(realWav).contains(("wav", 2, 44100, 16, 100L)))
    assert(fields(realAiff).contains(("aiff", 1, 8000, 16, 1234L)))
    assert(fields(realFlac).contains(("flac", 2, 48000, 24, 123456789L)))
    // odd-size chunk before fmt: walk must pad to even
    val oddChunk = hexBytes(
      "52494646 00000000 57415645" +
        "4A554E4B 03000000 616263 00" +       // JUNK size 3 + pad byte
        "666D7420 10000000 0100 0100 401F0000 803E0000 0200 1000" +
        "64617461 C8000000")                  // 200 bytes / block 2 = 100
    assert(fields(oddChunk).contains(("wav", 1, 8000, 16, 100L)))
    // fractional AIFF rate (1.5 Hz): rejected, not rounded
    assert(fields(hexBytes(
      "464F524D 00000026 41494646" +
        "434F4D4D 00000012 0001 000004D2 0010 3FFFC000000000000000")).isEmpty)
    // truncation / garbage / missing chunks are NULL, never errors
    assert(fields(realWav.take(20)).isEmpty)   // no fmt reached
    assert(fields(realAiff.take(14)).isEmpty)
    assert(fields(realFlac.take(10)).isEmpty)
    assert(fields("not audio".getBytes("UTF-8")).isEmpty)
    assert(fields(Array.emptyByteArray).isEmpty)
    assert(Option(parseHeader(null)).isEmpty)
  }

  test("PngCodec round-trips every filter type, both color types, exactly") {
    val rnd = new scala.util.Random(19)
    // heights 1..7 make the y%5 filter rotation cover None/Sub/Up/
    // Average/Paeth including their first-row/first-pixel edge cases;
    // w=1 exercises the no-left-neighbor path on every row
    for (w <- Seq(1, 2, 5, 17); h <- Seq(1, 2, 6, 7); ch <- Seq(1, 3)) {
      val samples = Array.fill(w * h * ch)(rnd.nextInt(256))
      val png = graft.multimodal.PngCodec.encode(w, h, ch, samples)
      val got = graft.multimodal.PngCodec.decode(png)
      assert(got.isDefined, s"decode failed for $w x $h x $ch")
      val (gw, gh, gch, gs) = got.get
      assert((gw, gh, gch) == (w, h, ch))
      assert(gs.toSeq == samples.toSeq, s"pixels drifted for $w x $h x $ch")
    }
  }

  test("PngCodec output parses as a real PNG in image_meta (q92 cross-check)") {
    val png = graft.multimodal.PngCodec.encode(13, 9, 3, Array.fill(13 * 9 * 3)(77))
    val r = graft.functions.ImageMetaExpr.parseHeader(png)
    assert(r != null)
    assert(r.getUTF8String(0).toString == "png")
    assert(r.getInt(1) == 13 && r.getInt(2) == 9)
    assert(r.getInt(3) == 8 && r.getInt(4) == 3) // bit depth, channels
    val gray = graft.multimodal.PngCodec.encode(4, 4, 1, Array.fill(16)(0))
    val g = graft.functions.ImageMetaExpr.parseHeader(gray)
    assert(g.getInt(4) == 1)
  }

  test("PngCodec declines what it can't decode honestly; features fall back") {
    import graft.multimodal.PngCodec
    assert(PngCodec.decode(null).isEmpty)
    assert(PngCodec.decode("not a png".getBytes("UTF-8")).isEmpty)
    val good = PngCodec.encode(6, 6, 1, Array.fill(36)(128))
    assert(PngCodec.decode(good).isDefined)
    // truncated IDAT: inflate can't finish -> None, never an exception
    assert(PngCodec.decode(good.take(good.length - 20)).isEmpty)
    // interlaced flag (IHDR byte 28) -> honest decline (no Adam7)
    val interlaced = good.clone(); interlaced(28) = 1.toByte
    assert(PngCodec.decode(interlaced).isEmpty)
    // 16-bit depth -> decline
    val deep = good.clone(); deep(24) = 16.toByte
    assert(PngCodec.decode(deep).isEmpty)
  }

  test("GifCodec round-trips palette images exactly, incl. runs (KwKwK) " +
      "and 1x1") {
    import graft.multimodal.GifCodec
    def expand(pal: Array[Int], idx: Array[Int]): Seq[Int] =
      idx.toSeq.flatMap(c => Seq((pal(c) >> 16) & 0xff, (pal(c) >> 8) & 0xff,
        pal(c) & 0xff))
    val rnd = new scala.util.Random(23)
    for {
      (w, h) <- Seq((1, 1), (3, 2), (17, 5), (48, 32))
      palSize <- Seq(4, 16, 256)
    } {
      val pal = Array.tabulate(palSize)(j =>
        (j << 16) | (((j * 7) % 256) << 8) | ((j * 13) % 256))
      val idx = Array.fill(w * h)(rnd.nextInt(palSize))
      val gif = GifCodec.encode(w, h, pal, idx)
      val got = GifCodec.decode(gif)
      assert(got.isDefined, s"decode failed for $w x $h pal=$palSize")
      val (gw, gh, gch, gs) = got.get
      assert((gw, gh, gch) == (w, h, 3))
      assert(gs.toSeq == expand(pal, idx), s"pixels drifted $w x $h pal=$palSize")
    }
    // long runs force the KwKwK (code == next) decoder path
    val pal = Array(0x000000, 0xff0000, 0x00ff00, 0x0000ff)
    val runs = Array.fill(300)(1) ++ Array.fill(300)(2) ++
      Array.tabulate(200)(i => i % 4) ++ Array.fill(224)(3)
    val gif = GifCodec.encode(32, 32, pal, runs)
    assert(GifCodec.decode(gif).get._4.toSeq == expand(pal, runs))
  }

  test("GifCodec interlaced round trip: 4-pass row permutation undone") {
    import graft.multimodal.GifCodec
    val pal = Array.tabulate(64)(j => (j << 16) | ((63 - j) << 8) | (j * 4))
    val rnd = new scala.util.Random(41)
    // heights crossing every pass boundary: 1 (pass 4 empty), 4, 8, 13
    for ((w, h) <- Seq((5, 1), (7, 4), (9, 8), (16, 13))) {
      val idx = Array.fill(w * h)(rnd.nextInt(64))
      val gif = GifCodec.encode(w, h, pal, idx, interlaced = true)
      // flag is actually set (the fixture exercises the permutation)
      assert((gif(13 + 192 + 9) & 0x40) != 0)
      val got = GifCodec.decode(gif)
      assert(got.isDefined, s"interlaced decode failed $w x $h")
      val want = idx.toSeq.flatMap(c => Seq((pal(c) >> 16) & 0xff,
        (pal(c) >> 8) & 0xff, pal(c) & 0xff))
      assert(got.get._4.toSeq == want, s"row permutation drifted $w x $h")
      // the same pixels non-interlaced decode identically
      assert(GifCodec.decode(GifCodec.encode(w, h, pal, idx)).get._4.toSeq
        == want)
    }
  }

  test("PngCodec palette (color type 3) round-trips; PLTE mandatory") {
    import graft.multimodal.{PngCodec, PngFixtures}
    val rnd = new scala.util.Random(29)
    for {
      (w, h) <- Seq((1, 1), (5, 7), (17, 6))
      palSize <- Seq(2, 100, 256)
    } {
      val pal = Array.tabulate(palSize)(j =>
        ((j * 3 % 256) << 16) | ((j * 5 % 256) << 8) | (j * 11 % 256))
      val idx = Array.fill(w * h)(rnd.nextInt(palSize))
      val png = PngFixtures.encodePalette(w, h, pal, idx)
      val got = PngCodec.decode(png)
      assert(got.isDefined, s"palette decode failed $w x $h pal=$palSize")
      val (gw, gh, gch, gs) = got.get
      assert((gw, gh, gch) == (w, h, 3))
      val want = idx.toSeq.flatMap(c => Seq((pal(c) >> 16) & 0xff,
        (pal(c) >> 8) & 0xff, pal(c) & 0xff))
      assert(gs.toSeq == want, s"palette pixels drifted $w x $h pal=$palSize")
      // the q92 metadata parser agrees the container is a real PNG
      val r = graft.functions.ImageMetaExpr.parseHeader(png)
      assert(r != null && r.getUTF8String(0).toString == "png")
      assert(r.getInt(1) == w && r.getInt(2) == h)
    }
    // color type 3 WITHOUT a PLTE chunk is malformed -> decline. Flip
    // the color type on a grayscale image (no PLTE present); fix the
    // IHDR crc so only the missing palette can be the reason
    val gray = PngCodec.encode(4, 4, 1, Array.fill(16)(9))
    val noPlte = gray.clone(); noPlte(25) = 3.toByte
    assert(PngCodec.decode(noPlte).isEmpty)
  }

  test("GifCodec dictionary-full reset round-trips (4096-entry clear)") {
    import graft.multimodal.GifCodec
    // 256-color noise across 128x128 pixels creates > 4096 dictionary
    // entries, forcing the encoder's clear-reset and the decoder's
    // matching rebuild — the path small fixtures never reach
    val pal = Array.tabulate(256)(j => (j << 16) | (j << 8) | j)
    var s = 12345
    val idx = Array.fill(128 * 128) {
      s = (s * 1103515245 + 12345) & 0x7fffffff; s % 256
    }
    val gif = GifCodec.encode(128, 128, pal, idx)
    val got = GifCodec.decode(gif)
    assert(got.isDefined)
    assert(got.get._4.length == 128 * 128 * 3)
    val want = idx.flatMap(c => Seq(c, c, c)).toSeq
    assert(got.get._4.toSeq == want)
  }

  test("GifCodec declines honestly; real GIF parses in image_meta") {
    import graft.multimodal.GifCodec
    assert(GifCodec.decode(null).isEmpty)
    assert(GifCodec.decode("GIF89a".getBytes("US-ASCII")).isEmpty)
    val pal = Array.tabulate(16)(j => j * 0x111111)
    val idx = Array.tabulate(60)(i => i % 16)
    val good = GifCodec.encode(10, 6, pal, idx)
    assert(GifCodec.decode(good).isDefined)
    // no color table anywhere (GCT flag cleared, no LCT) -> decline:
    // strip the 48-byte GCT (descriptor follows 13 header bytes)
    val noTable = good.take(13) ++ good.drop(13 + 48)
    noTable(10) = (noTable(10) & 0x7f).toByte
    assert(GifCodec.decode(noTable).isEmpty)
    // truncated LZW stream -> None, never an exception
    assert(GifCodec.decode(good.take(good.length - 4)).isEmpty)
    // header cross-check: the q92 metadata parser agrees on dims
    val r = graft.functions.ImageMetaExpr.parseHeader(good)
    assert(r != null && r.getUTF8String(0).toString == "gif")
    assert(r.getInt(1) == 10 && r.getInt(2) == 6)
    // features integration: a GIF row decodes REAL (not the md5 stub)
    import spark.implicits._
    val rows = Seq(MediaRow(9L, "image/gif", good,
      MediaMeta("synth", Some(10), Some(6), None)))
    val f = Multimodal.imageFeatures(rows.toDS()).collect().head
    assert(f.width == 10 && f.height == 6)
    val sum = idx.map(c => ((pal(c) >> 16) & 0xff) + ((pal(c) >> 8) & 0xff)
      + (pal(c) & 0xff)).sum.toLong
    val d = 60L * 3 * 255
    assert(f.brightness == (sum * 2000000L + d) / (2L * d) / 1000000.0)
  }

  test("MjpegAvi: frames extract in order with the container clock; " +
      "non-video chunks skip; hostile declines") {
    import spark.implicits._
    import graft.multimodal.{JpegCodec, MjpegAvi, Multimodal, VideoFixture}
    val f0 = JpegCodec.encode(16, 16, Array.fill(256)(100))
    val f1 = JpegCodec.encode(16, 16, Array.fill(256)(200))
    // odd-length frame exercises the RIFF pad in the movi walk
    val f2 = JpegCodec.encode(8, 8, Array.fill(64)(50))
    val avi = VideoFixture.encodeMjpegAvi(16, 16, 40000, Seq(f0, f1, f2))
    val got = MjpegAvi.decode(avi)
    assert(got.isDefined)
    assert(got.get._1 == 40000L)
    assert(got.get._2.map(_.toSeq) == Seq(f0.toSeq, f1.toSeq, f2.toSeq))
    // every extracted frame is itself a decodable JPEG
    got.get._2.foreach(f => assert(JpegCodec.decode(f).isDefined))
    // declines: plain AVI without movi, truncated, not-a-container
    assert(MjpegAvi.decode(
      VideoFixture.encodeAvi(16, 16, 40000, 3, 1)).isEmpty)
    assert(MjpegAvi.decode(avi.take(avi.length / 2)).isEmpty ||
      MjpegAvi.decode(avi.take(avi.length / 2)).exists(_._2.size < 3))
    assert(MjpegAvi.decode("RIFFxxxxWAVE".getBytes).isEmpty)
    // the operator: frame rows with the container clock, stub-free
    val rows = Seq(
      Multimodal.MediaRow(1L, "video/x-msvideo", avi,
        Multimodal.MediaMeta("cam", None, None, None)),
      Multimodal.MediaRow(2L, "video/mp4",
        VideoFixture.encodeMp4(64, 48, 1000, 5000L, 1),
        Multimodal.MediaMeta("cam", None, None, None)))
    val fr = Multimodal.mjpegFrames(rows.toDS()).collect()
      .sortBy(f => (f.media_id, f.frame_idx))
    assert(fr.map(f => (f.media_id, f.frame_idx, f.frame_ms)).toSeq ==
      Seq((1L, 0, 0L), (1L, 1, 40L), (1L, 2, 80L))) // mp4: no rows
  }

  test("video_meta parses real MP4/AVI headers exactly; declines hostile") {
    import graft.multimodal.VideoFixture
    import graft.functions.VideoMetaExpr
    // MP4: dims on the FIRST track, extra tracks dimensionless
    val mp4 = VideoFixture.encodeMp4(640, 360, 30000, 90000L, 3)
    val m = VideoMetaExpr.parseHeader(mp4)
    assert(m != null)
    assert(m.getUTF8String(0).toString == "mp4")
    assert(m.getInt(1) == 640 && m.getInt(2) == 360)
    assert(m.getLong(3) == 90000L * 1000 / 30000) // 3000 ms
    assert(m.getInt(4) == 3)
    // a dims-less MP4 (audio-only shape) parses with zero dims
    val audioOnly = VideoFixture.encodeMp4(0, 0, 1000, 5000L, 1)
    val a = VideoMetaExpr.parseHeader(audioOnly)
    assert(a != null && a.getInt(1) == 0 && a.getInt(2) == 0 &&
      a.getLong(3) == 5000L)
    // AVI: µs-per-frame clock
    val avi = VideoFixture.encodeAvi(320, 240, 33333, 300, 2)
    val v = VideoMetaExpr.parseHeader(avi)
    assert(v != null)
    assert(v.getUTF8String(0).toString == "avi")
    assert(v.getInt(1) == 320 && v.getInt(2) == 240)
    assert(v.getLong(3) == 300L * 33333 / 1000) // 9999 ms
    assert(v.getInt(4) == 2)
    // declines: truncated, not-a-container, hostile box sizes
    assert(VideoMetaExpr.parseHeader(null) == null)
    assert(VideoMetaExpr.parseHeader(mp4.take(20)) == null)
    assert(VideoMetaExpr.parseHeader("plain text here!".getBytes) == null)
    // a box whose declared size exceeds the payload must not loop or throw
    val hostile = mp4.clone()
    hostile(0) = 0x7f.toByte // ftyp size becomes huge
    assert(VideoMetaExpr.parseHeader(hostile) == null)
    val zeroStep = hexBytes("00000008" + "66747970" + // bare ftyp
      "00000000" + "6d6f6f76")                        // moov size 0 -> to EOF
    assert(VideoMetaExpr.parseHeader(zeroStep) == null) // no mvhd inside
    // AVI with a hostile chunk size terminates as null
    val hostileAvi = hexBytes("52494646" + "24000000" + "41564920" +
      "4c495354" + "f8ffffff")
    assert(VideoMetaExpr.parseHeader(hostileAvi) == null)
    // frame facet: videoHeaderMeta over the media frame
    import spark.implicits._
    val rows = Seq(
      MediaRow(1L, "video/mp4", mp4, MediaMeta("cam", None, None, None)),
      MediaRow(2L, "video/avi", avi, MediaMeta("cam", None, None, None)),
      MediaRow(3L, "video/mp4", Array[Byte](1, 2, 3),
        MediaMeta("cam", None, None, None)))
    val got = Multimodal.videoHeaderMeta(rows.toDF())
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)), Option(r.get(6)))).toMap
    assert(got(1L)._1.contains("mp4") && got(1L)._2.contains(3000L))
    assert(got(2L)._1.contains("avi") && got(2L)._2.contains(9999L))
    assert(got(3L)._1.isEmpty && got(3L)._2.isEmpty) // corrupt -> NULLs
  }

  test("JpegCodec: block-constant exactness, bounded-error gradients, " +
      "honest declines") {
    import graft.multimodal.JpegCodec
    // block-constant EVEN values: DC-only blocks decode EXACTLY (the
    // q128 closed form) — exercises Huffman, the differential DC
    // predictor across blocks, dequant, and the IDCT constant term
    val w = 40; val h = 24
    val const = Array.tabulate(w * h) { i =>
      val bx = (i % w) / 8; val by = (i / w) / 8
      2 * ((7 + 17 * bx + 29 * by) % 128)
    }
    val got = JpegCodec.decode(JpegCodec.encode(w, h, const))
    assert(got.isDefined)
    assert(got.get._1 == w && got.get._2 == h && got.get._3 == 1)
    assert(got.get._4.toSeq == const.toSeq,
      "even block-constant decode must be exact")
    // smooth gradient (AC path): lossy but tightly bounded under the
    // uniform Q=16 table; dims not multiples of 8 exercise the crop
    val gw = 21; val gh = 13
    val grad = Array.tabulate(gw * gh)(i => ((i % gw) * 5 + (i / gw) * 7) % 256)
    val g2 = JpegCodec.decode(JpegCodec.encode(gw, gh, grad))
    assert(g2.isDefined && g2.get._1 == gw && g2.get._2 == gh)
    val diffs = g2.get._4.zip(grad).map { case (a, b) => math.abs(a - b) }
    assert(diffs.max <= 40 && diffs.sum.toDouble / diffs.length <= 8.0,
      s"gradient error too large: max=${diffs.max} mean=${diffs.sum.toDouble / diffs.length}")
    // the q92 metadata parser agrees on the container
    val jb = JpegCodec.encode(16, 8, Array.fill(128)(100))
    val r = graft.functions.ImageMetaExpr.parseHeader(jb)
    assert(r != null && r.getUTF8String(0).toString == "jpeg")
    assert(r.getInt(1) == 16 && r.getInt(2) == 8)
    // declines: progressive, color, truncated, not-a-jpeg
    val prog = jb.clone()
    // find the SOF0 marker and flip it to SOF2
    val sofAt = jb.indices.dropWhile(i =>
      (jb(i) & 0xff) != 0xff || (jb(i + 1) & 0xff) != 0xc0).head
    prog(sofAt + 1) = 0xc2.toByte
    assert(JpegCodec.decode(prog).isEmpty)
    val color = jb.clone()
    color(sofAt + 9) = 3.toByte // nComp byte (len 2 + precision 1 + dims 4)
    assert(JpegCodec.decode(color).isEmpty)
    assert(JpegCodec.decode(jb.take(jb.length / 2)).isEmpty)
    assert(JpegCodec.decode("not a jpeg at all".getBytes).isEmpty)
    // features integration: a real JPEG row decodes REAL (not the stub)
    import spark.implicits._
    val rows = Seq(MediaRow(11L, "image/jpeg", JpegCodec.encode(w, h, const),
      MediaMeta("synth", Some(w), Some(h), None)))
    val f = Multimodal.imageFeatures(rows.toDS()).collect().head
    assert(f.width == w && f.height == h)
    val d = const.length.toLong * 255L
    assert(f.brightness ==
      (const.map(_.toLong).sum * 2000000L + d) / (2L * d) / 1000000.0)
  }

  test("JpegCodec color: 4:4:4 round trip through both transforms, " +
      "subsampled declines") {
    import graft.multimodal.JpegCodec
    def rha(x: Double): Int = {
      val v = if (x >= 0) math.floor(x + 0.5) else -math.floor(-x + 0.5)
      math.max(0, math.min(255, v.toInt))
    }
    // block-constant color at quant=1: exact through BOTH fixed IEEE
    // transform sequences (forward at encode, inverse at decode)
    val w = 24; val h = 16
    def blockRgb(bi: Int): (Int, Int, Int) =
      ((13 + 11 * bi) % 256, (39 + 7 * bi) % 256, (65 + 13 * bi) % 256)
    val rgb = Array.tabulate(w * h * 3) { i =>
      val px = i / 3
      val bi = ((px / w) / 8) * (w / 8) + ((px % w) / 8)
      val (r, g, b) = blockRgb(bi)
      Seq(r, g, b)(i % 3)
    }
    val got = JpegCodec.decode(JpegCodec.encodeColor(w, h, rgb, quant = 1))
    assert(got.isDefined && got.get._3 == 3)
    val want = Array.tabulate(w * h * 3) { i =>
      val px = i / 3
      val bi = ((px / w) / 8) * (w / 8) + ((px % w) / 8)
      val (r, g, b) = blockRgb(bi)
      val yc = rha(0.299 * r + 0.587 * g + 0.114 * b).toDouble
      val cbc = rha(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0).toDouble
      val crc = rha(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0).toDouble
      (i % 3) match {
        case 0 => rha(yc + 1.402 * (crc - 128.0))
        case 1 => rha(yc - 0.344136 * (cbc - 128.0) - 0.714136 * (crc - 128.0))
        case _ => rha(yc + 1.772 * (cbc - 128.0))
      }
    }
    assert(got.get._4.toSeq == want.toSeq,
      "constant color blocks must decode through the exact closed form")
    // gradient color at default quant: lossy but bounded
    val grad = Array.tabulate(w * h * 3)(i => (i * 3 + i % 7) % 256)
    val g2 = JpegCodec.decode(JpegCodec.encodeColor(w, h, grad))
    assert(g2.isDefined && g2.get._1 == w && g2.get._3 == 3)
    // a sampling shape outside the 4:4:4 / 4:2:0 envelope (2x1)
    // declines honestly
    val jb = JpegCodec.encodeColor(16, 8, Array.fill(16 * 8 * 3)(77), quant = 1)
    val sofAt = jb.indices.dropWhile(i =>
      (jb(i) & 0xff) != 0xff || (jb(i + 1) & 0xff) != 0xc0).head
    val sub = jb.clone()
    sub(sofAt + 4 + 7) = 0x21.toByte // first component sampling 2x1
    assert(JpegCodec.decode(sub).isEmpty)
  }

  test("JpegCodec restart markers: byte-aligned predictor resets " +
      "round-trip exactly; corrupt restart structure declines") {
    import graft.multimodal.JpegCodec
    val w = 40; val h = 24 // 5x3 = 15 MCUs
    val const = Array.tabulate(w * h) { i =>
      val bx = (i % w) / 8; val by = (i / w) / 8
      2 * ((11 + 17 * bx + 29 * by) % 128)
    }
    for (interval <- Seq(1, 2, 3, 7)) {
      val jb = JpegCodec.encode(w, h, const, restartInterval = interval)
      val got = JpegCodec.decode(jb)
      assert(got.isDefined, s"interval=$interval")
      assert(got.get._4.toSeq == const.toSeq,
        s"restart interval $interval broke the exact DC contract")
    }
    // a restart file whose marker bytes are corrupted declines, never
    // desynchronizes into garbage pixels
    val jb = JpegCodec.encode(w, h, const, restartInterval = 2)
    // find the first RST marker in the entropy stream (FF D0)
    val rstAt = jb.indices.dropWhile(i =>
      (jb(i) & 0xff) != 0xff || (jb(i + 1) & 0xff) != 0xd0).head
    val bad = jb.clone()
    bad(rstAt + 1) = 0x3b.toByte // not a marker at all
    assert(JpegCodec.decode(bad).isEmpty)
  }

  test("JpegCodec 4:2:0: MCU-constant exactness through subsample + " +
      "upsample, gradient dims survive") {
    import graft.multimodal.JpegCodec
    def rha(x: Double): Int = {
      val v = if (x >= 0) math.floor(x + 0.5) else -math.floor(-x + 0.5)
      math.max(0, math.min(255, v.toInt))
    }
    // constant 16x16 MCUs at quant=1: chroma downsample of a constant is
    // the constant, so the whole chain is the q129 closed form per MCU
    val w = 48; val h = 32
    def mcuRgb(mi: Int): (Int, Int, Int) =
      ((19 + 11 * mi) % 256, (47 + 7 * mi) % 256, (83 + 13 * mi) % 256)
    val rgb = Array.tabulate(w * h * 3) { i =>
      val px = i / 3
      val mi = ((px / w) / 16) * (w / 16) + ((px % w) / 16)
      val (r, g, b) = mcuRgb(mi)
      Seq(r, g, b)(i % 3)
    }
    val got = JpegCodec.decode(JpegCodec.encodeColor420(w, h, rgb, quant = 1))
    assert(got.isDefined && got.get._1 == w && got.get._2 == h && got.get._3 == 3)
    val want = Array.tabulate(w * h * 3) { i =>
      val px = i / 3
      val mi = ((px / w) / 16) * (w / 16) + ((px % w) / 16)
      val (r, g, b) = mcuRgb(mi)
      val yc = rha(0.299 * r + 0.587 * g + 0.114 * b).toDouble
      val cbc = rha(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0).toDouble
      val crc = rha(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0).toDouble
      (i % 3) match {
        case 0 => rha(yc + 1.402 * (crc - 128.0))
        case 1 => rha(yc - 0.344136 * (cbc - 128.0) - 0.714136 * (crc - 128.0))
        case _ => rha(yc + 1.772 * (cbc - 128.0))
      }
    }
    assert(got.get._4.toSeq == want.toSeq,
      "constant 4:2:0 MCUs must decode through the exact closed form")
    // a gentle gradient at default quant: decodes with right dims, and
    // the luma-dominant error stays bounded despite chroma replication
    val gw = 20; val gh = 12
    val grad = Array.tabulate(gw * gh * 3) { i =>
      val px = i / 3
      (40 + (px % gw) * 4 + (px / gw) * 3) % 256
    }
    val g2 = JpegCodec.decode(JpegCodec.encodeColor420(gw, gh, grad))
    assert(g2.isDefined && g2.get._1 == gw && g2.get._2 == gh && g2.get._3 == 3)
    val diffs = g2.get._4.zip(grad).map { case (a, b) => math.abs(a - b) }
    assert(diffs.sum.toDouble / diffs.length <= 12.0,
      s"4:2:0 gradient mean error too large: ${diffs.sum.toDouble / diffs.length}")
    // odd dims refuse at the fixture encoder (even-dims contract)
    intercept[IllegalArgumentException] {
      JpegCodec.encodeColor420(15, 8, Array.fill(15 * 8 * 3)(1))
    }
  }

  test("downscaleImages: exact half-up box means, cross-codec input, " +
      "untouched declines") {
    import spark.implicits._
    import graft.multimodal.{JpegCodec, Multimodal, PngCodec}
    // 4x2 gray at factor 2 -> 2x1; means: (10+20+30+40)/4 = 25,
    // (1+2+3+4)/4 = 2.5 -> half-up 3
    val tiny = Array(10, 20, 1, 2, 30, 40, 3, 4)
    val rows = Seq(
      MediaRow(1L, "image/png", PngCodec.encode(4, 2, 1, tiny),
        MediaMeta("s", Some(4), Some(2), None)),
      // dims not divisible by the factor: untouched, visibly
      MediaRow(2L, "image/png", PngCodec.encode(3, 2, 1, Array.fill(6)(9)),
        MediaMeta("s", Some(3), Some(2), None)),
      // a JPEG source standardizes to a PNG thumbnail (block-constant
      // even values decode exactly, so the box means are exact too)
      MediaRow(3L, "image/jpeg", JpegCodec.encode(16, 16,
        Array.tabulate(256)(i => 2 * ((((i % 16) / 8) * 2 + (i / 16) / 8) * 30))),
        MediaMeta("s", Some(16), Some(16), None)),
      // undecodable: untouched
      MediaRow(4L, "application/blob", Array[Byte](1, 2, 3),
        MediaMeta("s", None, None, None)))
    val out = Multimodal.downscaleImages(rows.toDS(), factor = 2)
      .collect().map(m => m.media_id -> m).toMap
    val p1 = PngCodec.decode(out(1L).content).get
    assert((p1._1, p1._2) == (2, 1))
    assert(p1._4.toSeq == Seq(25, 3))
    assert(out(1L).meta.width.contains(2) && out(1L).meta.height.contains(1))
    assert(out(2L).content.toSeq ==
      PngCodec.encode(3, 2, 1, Array.fill(6)(9)).toSeq) // untouched
    assert(out(3L).mime == "image/png")
    val p3 = PngCodec.decode(out(3L).content).get
    assert((p3._1, p3._2) == (8, 8))
    // each 8x8 output quadrant is the constant of its source block
    // (value = 2*(bx*2 + by)*30: TL 0, TR 120, BL 60, BR 180)
    assert(p3._4(0) == 0 && p3._4(7) == 120 &&
      p3._4(56) == 60 && p3._4(63) == 180)
    assert(out(4L).content.toSeq == Seq[Byte](1, 2, 3)) // untouched
  }

  test("imageDHash: brightness-invariant, codec-agnostic, NULL below grid") {
    import spark.implicits._
    import graft.multimodal.{GifCodec, Multimodal, PngCodec}
    val w = 18; val h = 16
    val base = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (7 + 31 * x + 13 * y) % 180 // < 200 so +50 never wraps
    }
    val rows = Seq(
      MediaRow(1L, "image/png", PngCodec.encode(w, h, 1, base),
        MediaMeta("s", None, None, None)),
      // +50 brightness: every left<right comparison unchanged -> hamming 0
      MediaRow(2L, "image/png", PngCodec.encode(w, h, 1, base.map(_ + 50)),
        MediaMeta("s", None, None, None)),
      // the same pixels through the GIF path (gray palette) -> same hash
      MediaRow(3L, "image/gif", GifCodec.encode(w, h,
        Array.tabulate(256)(j => (j << 16) | (j << 8) | j), base),
        MediaMeta("s", None, None, None)),
      // mirrored image -> a different fingerprint
      MediaRow(4L, "image/png", PngCodec.encode(w, h, 1,
        Array.tabulate(w * h)(i => base(i / w * w + (w - 1 - i % w)))),
        MediaMeta("s", None, None, None)),
      // below the 9x8 grid -> NULL, never a fabricated fingerprint
      MediaRow(5L, "image/png", PngCodec.encode(4, 4, 1, Array.fill(16)(9)),
        MediaMeta("s", None, None, None)),
      // undecodable payload -> NULL
      MediaRow(6L, "image/jpeg", Array[Byte](1, 2, 3),
        MediaMeta("s", None, None, None)))
    val got = Multimodal.imageDHash(rows.toDS())
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(1L).isDefined)
    assert(got(1L) == got(2L), "constant brightness shift must not move dHash")
    assert(got(1L) == got(3L), "same pixels via GIF must hash identically")
    assert(got(1L) != got(4L), "mirror must change the fingerprint")
    assert(got(5L).isEmpty && got(6L).isEmpty)
  }

  test("imageNearDups: 4-band pigeonhole finds exactly Hamming <= 3") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val h0 = 0x123456789abcdef0L
    val hashes = Seq(
      (1L, Some(h0)),
      (2L, Some(h0)),                      // hamming 0
      (3L, Some(h0 ^ 0x1L)),               // hamming 1
      (4L, Some(h0 ^ 0x8001L)),            // hamming 2, spans two bands
      (5L, Some(h0 ^ 0x100010001L)),       // hamming 3 across three bands
      (6L, Some(h0 ^ 0x1000100010001L)),   // hamming 4 -> excluded
      (7L, None))                          // no fingerprint -> excluded
      .toDF("media_id", "dhash")
    val got = Multimodal.imageNearDups(hashes, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // exhaustive pairwise distances; 1-6/2-6 (4) and 4-6 (4) excluded
    val expected = Set(
      (1L, 2L, 0), (1L, 3L, 1), (1L, 4L, 2), (1L, 5L, 3),
      (2L, 3L, 1), (2L, 4L, 2), (2L, 5L, 3),
      (3L, 4L, 1), (3L, 5L, 2), (3L, 6L, 3),
      (4L, 5L, 3), (5L, 6L, 1))
    assert(got == expected, s"got $got")
    intercept[IllegalArgumentException] {
      Multimodal.imageNearDups(hashes, maxHamming = 4)
    }
  }

  test("imageDupClusters: identical-hash collapse yields EXACTLY the " +
      "uncollapsed pairs->components labels; null hashes stay singleton") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val h0 = 0x123456789abcdef0L
    val hA = 0x0f0f0f0f0f0f0f0fL
    val hashes = Seq(
      (1L, Some(h0)), (2L, Some(h0)), (3L, Some(h0)),  // identical class
      (4L, Some(h0 ^ 0x3L)),       // hamming 2 -> chains into the class
      (5L, Some(hA)), (6L, Some(hA)),                   // isolated identical pair
      (7L, None),                                        // declined decode
      (8L, Some(h0 ^ 0x1000100010001L)))                 // hamming 4 -> out
      .toDF("media_id", "dhash")
    val collapsed = Multimodal.imageDupClusters(hashes, maxHamming = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the uncollapsed composition: all pairs -> componentsAuto
    val pairs = Multimodal.imageNearDups(hashes, maxHamming = 3)
      .select(org.apache.spark.sql.functions.col("a").as("d1"), org.apache.spark.sql.functions.col("b").as("d2"))
    val reference = graft.operators.Dedup.componentsAuto(
        hashes.select(org.apache.spark.sql.functions.col("media_id").as("doc_id")), "doc_id", pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(collapsed == reference)
    assert(collapsed == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      5L -> 5L, 6L -> 5L, 7L -> 7L, 8L -> 8L))
  }

  test("resampleAudio: exact midpoints on 2x upsample, per-channel " +
      "independence, untouched declines") {
    import spark.implicits._
    import graft.multimodal.{Multimodal, PcmCodec}
    // mono 2x upsample: even outputs copy, odd outputs are exact
    // midpoints (rem/dst = 1/2, round half away)
    val s = Array(100, 200, -50, 301)
    val rows = Seq(
      MediaRow(1L, "audio/wav", PcmCodec.encodeWav(1, 8000, 16, s),
        MediaMeta("m", None, None, None)),
      // stereo: channels interpolate independently
      MediaRow(2L, "audio/wav", PcmCodec.encodeWav(2, 8000, 16,
        Array(0, 1000, 100, 2000, 200, 3000)),
        MediaMeta("m", None, None, None)),
      // already at target rate: bytes pass through untouched
      MediaRow(3L, "audio/wav", PcmCodec.encodeWav(1, 16000, 16, s),
        MediaMeta("m", None, None, None)),
      // declined codec: untouched, visibly the same payload
      MediaRow(4L, "audio/flac", realFlac, MediaMeta("m", None, None, None)))
    val out = Multimodal.resampleAudio(rows.toDS(), 16000)
      .collect().map(m => m.media_id -> m.content).toMap
    val p1 = PcmCodec.decode(out(1L)).get
    assert(p1.sampleRate == 16000)
    // duration preserved: (4-1)*16000/8000 + 1 = 7 samples
    assert(p1.samples.toSeq == Seq(100, 150, 200, 75, -50, 126, 301))
    val p2 = PcmCodec.decode(out(2L)).get
    assert(p2.channels == 2)
    assert(p2.samples.toSeq == Seq(0, 1000, 50, 1500, 100, 2000,
      150, 2500, 200, 3000))
    assert(out(3L).toSeq == PcmCodec.encodeWav(1, 16000, 16, s).toSeq)
    assert(out(4L).toSeq == realFlac.toSeq)
  }

  test("audioFingerprint: volume-invariant, container-agnostic, NULL " +
      "below window count") {
    import spark.implicits._
    import graft.multimodal.{Multimodal, PcmCodec}
    val s = Array.tabulate(120)(i => ((i * 37 + 11) % 2000) - 1000)
    val rows = Seq(
      MediaRow(1L, "audio/wav", PcmCodec.encodeWav(1, 16000, 16, s),
        MediaMeta("m", None, None, None)),
      // 2x volume: every window energy doubles -> contour unchanged
      MediaRow(2L, "audio/wav", PcmCodec.encodeWav(1, 16000, 16, s.map(_ * 2)),
        MediaMeta("m", None, None, None)),
      // the same samples through the AIFF container -> same hash
      MediaRow(3L, "audio/aiff", PcmCodec.encodeAiff(1, 16000, 16, s),
        MediaMeta("m", None, None, None)),
      // reversed stream -> a different contour
      MediaRow(4L, "audio/wav", PcmCodec.encodeWav(1, 16000, 16, s.reverse),
        MediaMeta("m", None, None, None)),
      // 32 samples < 33 windows -> NULL
      MediaRow(5L, "audio/wav", PcmCodec.encodeWav(1, 16000, 16, s.take(32)),
        MediaMeta("m", None, None, None)),
      // undecodable -> NULL
      MediaRow(6L, "audio/flac", realFlac, MediaMeta("m", None, None, None)))
    val got = Multimodal.audioFingerprint(rows.toDS())
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(got(1L).isDefined)
    assert(got(1L) == got(2L), "volume scaling must not move the fingerprint")
    assert(got(1L) == got(3L), "same samples via AIFF must hash identically")
    assert(got(1L) != got(4L), "reversal must change the contour")
    assert(got(5L).isEmpty && got(6L).isEmpty)
  }

  test("audioNearDups: identical clips pair at Hamming 0 through the " +
      "4x8-bit bands; NULLs never pair") {
    import spark.implicits._
    import graft.multimodal.{Multimodal, PcmCodec}
    val s = Array.tabulate(120)(i => ((i * 37 + 11) % 2000) - 1000)
    val rows = Seq(
      MediaRow(1L, "audio/wav", PcmCodec.encodeWav(1, 16000, 16, s),
        MediaMeta("m", None, None, None)),
      MediaRow(2L, "audio/wav", PcmCodec.encodeWav(1, 16000, 16, s.clone()),
        MediaMeta("m", None, None, None)),
      MediaRow(3L, "audio/wav", PcmCodec.encodeWav(1, 16000, 16, s.reverse),
        MediaMeta("m", None, None, None)),
      MediaRow(4L, "audio/flac", realFlac, MediaMeta("m", None, None, None)))
    val pairs = Multimodal.audioNearDups(
        Multimodal.audioFingerprint(rows.toDS()), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.contains((1L, 2L, 0)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // NULL never pairs
    intercept[IllegalArgumentException] {
      Multimodal.audioNearDups(
        Multimodal.audioFingerprint(rows.toDS()), maxHamming = 4)
    }
  }

  test("audio_meta rejects hostile chunk sizes without hanging") {
    import graft.functions.AudioMetaExpr.parseHeader
    // declared u32 size 0xFFFFFFF8: toInt is -8, so the naive step
    // 8 + size.toInt + pad is exactly 0 — a walk that doesn't reject
    // negative sizes never advances and the scan task hangs forever
    val hostileWav = hexBytes(
      "52494646 00000000 57415645" +
        "4A554E4B F8FFFFFF")                   // JUNK size 0xFFFFFFF8
    val hostileAiff = hexBytes(
      "464F524D 00000026 41494646" +
        "4A554E4B FFFFFFF7")                   // JUNK size 0xFFFFFFF7 (BE):
    // toInt -9, step 8 - 9 + (-9 & 1) = 0 — the AIFF-side zero-step case
    // also the smallest illegitimate size (2^31): toInt is Int.MinValue
    val minNegWav = hexBytes(
      "52494646 00000000 57415645" +
        "4A554E4B 00000080")                   // size 2^31 LE
    val done = java.util.concurrent.Executors.newSingleThreadExecutor()
    try {
      val fut = done.submit(new java.util.concurrent.Callable[Boolean] {
        def call(): Boolean =
          parseHeader(hostileWav) == null &&
            parseHeader(hostileAiff) == null &&
            parseHeader(minNegWav) == null
      })
      assert(fut.get(10, java.util.concurrent.TimeUnit.SECONDS))
    } finally done.shutdownNow()
  }

  test("audioHeaderMeta over the media frame: parsed fields + duration") {
    import spark.implicits._
    val rows = Seq(
      MediaRow(1L, "audio/wav", realWav, MediaMeta("mic", None, None, Some(1L))),
      MediaRow(2L, "audio/aiff", realAiff, MediaMeta("mic", None, None, None)),
      MediaRow(3L, "audio/flac", realFlac, MediaMeta("mic", None, None, None)),
      MediaRow(4L, "text/plain", "nope".getBytes("UTF-8"),
        MediaMeta("mic", None, None, None)))
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_audiometa_${System.nanoTime()}")
    try {
      rows.toDS().write.mode("overwrite").parquet(dir.getAbsolutePath)
      val m = graft.functions.AudioMetaExpr.audioMeta($"content")
      val got = spark.read.parquet(dir.getAbsolutePath)
        .select($"media_id", m.getField("format").as("format"),
          m.getField("sample_rate").as("sample_rate"),
          m.getField("n_frames").as("n_frames"))
        .withColumn("duration_ms", expr("n_frames * 1000 DIV sample_rate"))
        .collect().map(r => r.getLong(0) ->
          (Option(r.getAs[String]("format")), Option(r.getAs[Any]("duration_ms")))).toMap
      assert(got(1L) == (Some("wav"), Some(100L * 1000L / 44100L)))  // 2 ms
      assert(got(2L) == (Some("aiff"), Some(1234L * 1000L / 8000L))) // 154 ms
      assert(got(3L) == (Some("flac"), Some(123456789L * 1000L / 48000L)))
      assert(got(4L) == (None, None)) // corrupt row: NULLs, no failure
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  // ---- PCM sample decode (round-10: q50's audio analog) ----

  private def pcmSamples(n: Int, bits: Int): Array[Int] =
    Array.tabulate(n) { i =>
      bits match {
        case 8 => (7 + 131 * i) % 256 - 128
        case 16 => (7 + 9973 * i) % 65536 - 32768
        case _ => (7 + 131071 * i) % 16777216 - 8388608
      }
    }

  test("PcmCodec round-trips WAV and AIFF at 8, 16, and 24 bits exactly") {
    import graft.multimodal.PcmCodec
    for {
      bits <- Seq(8, 16, 24)
      ch <- Seq(1, 2)
    } {
      val s = pcmSamples(10 * ch, bits)
      val wav = PcmCodec.decode(PcmCodec.encodeWav(ch, 8000, bits, s))
      assert(wav.exists(p => p.format == "wav" && p.channels == ch &&
        p.sampleRate == 8000 && p.bits == bits && p.samples.toSeq == s.toSeq),
        s"wav bits=$bits ch=$ch")
      val aiff = PcmCodec.decode(PcmCodec.encodeAiff(ch, 44100, bits, s))
      assert(aiff.exists(p => p.format == "aiff" && p.channels == ch &&
        p.sampleRate == 44100 && p.bits == bits && p.samples.toSeq == s.toSeq),
        s"aiff bits=$bits ch=$ch")
    }
    // extremes survive both stored conventions (u8+128 / s16 two ways)
    val edge = Array(-32768, 32767, 0, -1, 1)
    assert(PcmCodec.decode(PcmCodec.encodeWav(1, 8000, 16, edge))
      .get.samples.toSeq == edge.toSeq)
    assert(PcmCodec.decode(PcmCodec.encodeAiff(1, 8000, 16, edge))
      .get.samples.toSeq == edge.toSeq)
    val edge8 = Array(-128, 127, 0, -1, 1)
    assert(PcmCodec.decode(PcmCodec.encodeWav(1, 8000, 8, edge8))
      .get.samples.toSeq == edge8.toSeq)
    assert(PcmCodec.decode(PcmCodec.encodeAiff(1, 8000, 8, edge8))
      .get.samples.toSeq == edge8.toSeq)
    // 24-bit sign extension at both signed extremes, both endiannesses
    val edge24 = Array(-8388608, 8388607, 0, -1, 1)
    assert(PcmCodec.decode(PcmCodec.encodeWav(1, 8000, 24, edge24))
      .get.samples.toSeq == edge24.toSeq)
    assert(PcmCodec.decode(PcmCodec.encodeAiff(1, 8000, 24, edge24))
      .get.samples.toSeq == edge24.toSeq)
  }

  test("PcmCodec pads odd-length data chunks per RIFF/IFF (advice r10)") {
    import graft.multimodal.PcmCodec
    // 8-bit x 5 samples -> 5-byte data chunk, pad byte required
    val w = PcmCodec.encodeWav(1, 8000, 8, pcmSamples(5, 8))
    assert(w.length == 44 + 5 + 1, "WAV pad byte missing")
    assert(w.last == 0)
    // RIFF size field covers the pad; data chunk size does not
    assert((w(4) & 0xff) == 36 + 5 + 1)
    assert((w(40) & 0xff) == 5)
    assert(PcmCodec.decode(w).get.samples.toSeq == pcmSamples(5, 8).toSeq)
    // 24-bit x 1 sample -> 3-byte data chunk, same rule
    val w3 = PcmCodec.encodeWav(1, 8000, 24, pcmSamples(1, 24))
    assert(w3.length == 44 + 3 + 1 && w3.last == 0)
    val a = PcmCodec.encodeAiff(1, 8000, 8, pcmSamples(5, 8))
    // FORM size (BE at bytes 4..7) covers the pad; total = 8 + formSize
    val formSize = ((a(4) & 0xff) << 24) | ((a(5) & 0xff) << 16) |
      ((a(6) & 0xff) << 8) | (a(7) & 0xff)
    assert(a.length == 8 + formSize, "AIFF FORM size excludes the pad byte")
    assert(a.length % 2 == 0 && a.last == 0)
    assert(PcmCodec.decode(a).get.samples.toSeq == pcmSamples(5, 8).toSeq)
  }

  test("PcmCodec declines honestly: compressed, float, truncated, hostile") {
    import graft.multimodal.PcmCodec
    // FLAC is compressed: metadata-only territory, never sample decode
    assert(PcmCodec.decode(realFlac).isEmpty)
    // float WAV (fmt tag 3) is outside the integer-PCM envelope
    val w = PcmCodec.encodeWav(1, 8000, 16, pcmSamples(10, 16))
    val floatWav = w.clone(); floatWav(20) = 3 // fmt tag LE low byte
    assert(PcmCodec.decode(floatWav).isEmpty)
    // 32-bit: bits field rewritten past the 8/16/24 envelope
    val w32 = w.clone(); w32(34) = 32
    assert(PcmCodec.decode(w32).isEmpty)
    // truncated sample data (header intact, payload cut mid-data)
    assert(PcmCodec.decode(w.take(44 + 7)).isEmpty)
    val a = PcmCodec.encodeAiff(1, 8000, 16, pcmSamples(10, 16))
    assert(PcmCodec.decode(a.take(a.length - 3)).isEmpty)
    // the round-9 hostile-size fixtures must terminate (no hang) as None
    val hostileWav = hexBytes(
      "52494646" + "24000000" + "57415645" + // RIFF....WAVE
        "66616b65" + "f8ffffff")              // chunk w/ size 0xFFFFFFF8
    val hostileAiff = hexBytes(
      "464f524d" + "24000000" + "41494646" +
        "66616b65" + "f8ffffff")
    assert(PcmCodec.decode(hostileWav).isEmpty)
    assert(PcmCodec.decode(hostileAiff).isEmpty)
    // header-only WAV (declared data, no bytes) parses as metadata
    // (audio_meta) but NOT as samples
    val headerOnly = w.take(44)
    assert(PcmCodec.decode(headerOnly).isEmpty)
    assert(graft.functions.AudioMetaExpr.parseHeader(headerOnly) != null)
  }

  test("audioFeatures: exact integer layer, fixed IEEE floats, stub fallback") {
    import spark.implicits._
    import graft.multimodal.PcmCodec
    val s = Array(100, -200, 300, -32768)
    val rows = Seq(
      MediaRow(1L, "audio/wav", PcmCodec.encodeWav(2, 16000, 16, s),
        MediaMeta("mic", None, None, None)),
      MediaRow(2L, "audio/flac", realFlac, MediaMeta("mic", None, None, None)),
      MediaRow(3L, "audio/wav", Array.emptyByteArray,
        MediaMeta("mic", None, None, None)))
    val got = Multimodal.audioFeatures(rows.toDS())
      .collect().map(f => f.media_id -> f).toMap
    val f1 = got(1L)
    assert(f1.format == "wav" && f1.channels == 2 && f1.sample_rate == 16000)
    assert(f1.n_samples == 4L && f1.peak_abs == 32768)
    assert(f1.sum_amp == (100L - 200L + 300L - 32768L))
    val sq = s.map(x => x.toLong * x).sum
    assert(f1.sum_sq == sq)
    assert(f1.mean_amp == f1.sum_amp.toDouble / 4)
    assert(f1.rms == math.sqrt(sq.toDouble / 4))
    // declined decode is visibly a stub, never fake silence
    assert(got(2L).format == "stub" && got(2L).n_samples == realFlac.length.toLong
      && got(2L).peak_abs == 0)
    assert(got(3L).format == "stub" && got(3L).n_samples == 0L)
  }

  test("audioPeriodicity: argmax matches a brute-force recompute, pure " +
    "sawtooth scores its true period, declined and short clips are NULL") {
    import spark.implicits._
    import graft.multimodal.PcmCodec
    // clip 1: pure sawtooth, period 24, 10 full cycles
    val p1 = 24
    val s1 = Array.tabulate(10 * p1)(i => (i % p1) * 100 - 1150)
    // clip 2: pseudo-random-within-period, period 37
    val p2 = 37
    val s2 = Array.tabulate(300)(i => ((i % p2) * 1999) % 4001 - 2000)
    val rows = Seq(
      MediaRow(1L, "audio/wav", PcmCodec.encodeWav(1, 8000, 16, s1),
        MediaMeta("mic", None, None, None)),
      MediaRow(2L, "audio/aiff", PcmCodec.encodeAiff(1, 8000, 16, s2),
        MediaMeta("mic", None, None, None)),
      MediaRow(3L, "audio/wav", "garbage".getBytes("UTF-8"),
        MediaMeta("mic", None, None, None)),
      MediaRow(4L, "audio/wav", PcmCodec.encodeWav(1, 8000, 16, Array(1, 2, 3)),
        MediaMeta("mic", None, None, None))) // shorter than maxLag
    val got = Multimodal.audioPeriodicity(rows.toDS(), minLag = 20, maxLag = 49)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) None else Some(r.getInt(1)),
          if (r.isNullAt(2)) None else Some(r.getLong(2))))).toMap
    // independent brute recompute straight from the definition
    def brute(s: Array[Int]): (Int, Long) =
      (20 to 49).map { lag =>
        (lag, (0 until s.length - lag).map(i => s(i).toLong * s(i + lag)).sum)
      }.maxBy { case (lag, r) => (r, -lag) }
    assert(got(1L)._1.contains(brute(s1)._1) && got(1L)._2.contains(brute(s1)._2))
    assert(got(1L)._1.contains(p1)) // the sawtooth's true period wins
    assert(got(2L)._1.contains(brute(s2)._1) && got(2L)._2.contains(brute(s2)._2))
    assert(got(2L)._1.contains(p2))
    assert(got(3L) == ((None, None)) && got(4L) == ((None, None)))
  }

  test("audioPeriodicity: exact ties resolve to the smallest lag") {
    import spark.implicits._
    import graft.multimodal.PcmCodec
    // constant signal: every lag has R = c^2 * (n - lag)... NOT a tie.
    // A true tie needs equal sums: use a signal that is zero except one
    // spike — R(lag) = 0 for every lag past the spike, a full tie band.
    val s = Array.tabulate(120)(i => if (i == 0) 500 else 0)
    val rows = Seq(MediaRow(1L, "audio/wav",
      PcmCodec.encodeWav(1, 8000, 16, s), MediaMeta("mic", None, None, None)))
    val r = Multimodal.audioPeriodicity(rows.toDS(), 20, 49).head()
    assert(r.getInt(1) == 20 && r.getLong(2) == 0L) // all-zero R -> first lag
  }

  test("imageSpectralHash: brightness-shift invariant (non-DC WHT), " +
    "matches a brute recompute, NULL below 8x8 and on declined decode") {
    import spark.implicits._
    import graft.multimodal.PngCodec
    val w = 16; val h = 24
    def px(shift: Int) = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (7 * x + 13 * y + (x * y) % 31) % 200 + shift
    }
    val rows = Seq(
      MediaRow(1L, "image/png", PngCodec.encode(w, h, 1, px(0)),
        MediaMeta("cam", None, None, None)),
      MediaRow(2L, "image/png", PngCodec.encode(w, h, 1, px(55)),
        MediaMeta("cam", None, None, None)),
      MediaRow(3L, "image/png", PngCodec.encode(4, 4, 1, Array.fill(16)(9)),
        MediaMeta("cam", None, None, None)),
      MediaRow(4L, "image/png", "not-a-png".getBytes("UTF-8"),
        MediaMeta("cam", None, None, None)))
    val got = Multimodal.imageSpectralHash(rows.toDS())
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    // brute recompute straight from the definition
    val g = Array.tabulate(8, 8) { (gy, gx) =>
      val ys = gy * h / 8 until (gy + 1) * h / 8
      val xs = gx * w / 8 until (gx + 1) * w / 8
      val sum = (for (y <- ys; x <- xs) yield px(0)(y * w + x).toLong).sum
      sum / (ys.size.toLong * xs.size)
    }
    val coeffs = (for (u <- 0 to 3; v <- 0 to 3 if u != 0 || v != 0) yield
      (for (y <- 0 until 8; x <- 0 until 8) yield {
        val neg = (Integer.bitCount(y & u) + Integer.bitCount(x & v)) % 2 == 1
        if (neg) -g(y)(x) else g(y)(x)
      }).sum).toArray
    val med = coeffs.sorted.apply(7)
    val wantHash = coeffs.zipWithIndex.collect {
      case (c, i) if c > med => 1 << i
    }.sum
    assert(got(1L).contains(wantHash))
    // +55 on every pixel shifts every cell mean by exactly 55 and leaves
    // every non-DC WHT coefficient unchanged -> identical hash
    assert(got(2L) == got(1L))
    assert(got(3L).isEmpty && got(4L).isEmpty)
  }

  test("JpegCodec progressive: spectral-selection decode equals the " +
    "baseline decode exactly, EOBn batching and per-block EOB0 agree, " +
    "band splits are transparent, honest declines") {
    import graft.multimodal.{JpegCodec, JpegFixtures}
    val w = 20; val h = 13
    val gray = Array.tabulate(w * h)(i => (7 * (i % w) + 11 * (i / w)) % 256)
    val base = JpegCodec.decode(JpegCodec.encode(w, h, gray))
    assert(base.isDefined)
    // progressive coefficients are identical, so decode must agree EXACTLY
    for (bands <- Seq(Seq((1, 63)), Seq((1, 5), (6, 63)),
        Seq((1, 2), (3, 20), (21, 63)));
      batch <- Seq(true, false)) {
      val p = JpegCodec.decode(
        JpegCodec.encodeProgressive(w, h, gray, bands, batch))
      assert(p.isDefined, s"bands=$bands batch=$batch")
      assert(p.get._4.toSeq == base.get._4.toSeq, s"bands=$bands batch=$batch")
    }
    // a flat region makes long all-zero AC bands -> real EOBn runs
    val flat = Array.tabulate(48 * 40)(i => if (i < 48 * 8) (i * 3) % 256 else 77)
    val fb = JpegCodec.decode(JpegCodec.encode(48, 40, flat))
    val fp = JpegCodec.decode(JpegCodec.encodeProgressive(48, 40, flat))
    assert(fp.get._4.toSeq == fb.get._4.toSeq)
    // color 4:4:4 progressive == color baseline, pixel-exact
    val rgb = Array.tabulate(16 * 16 * 3)(i => (5 * i) % 256)
    val cb = JpegCodec.decode(JpegCodec.encodeColor(16, 16, rgb, quant = 1))
    val cp = JpegCodec.decode(
      JpegFixtures.encodeProgressiveColor(16, 16, rgb, quant = 1))
    assert(cp.isDefined && cp.get._4.toSeq == cb.get._4.toSeq)
    // image_meta reads progressive headers (SOF2 dims)
    val prog = JpegCodec.encodeProgressive(w, h, gray)
    val meta = graft.functions.ImageMetaExpr.parseHeader(prog)
    assert(meta != null && meta.getInt(1) == w && meta.getInt(2) == h)
    // declines: inconsistent Ah/Al chain (patched to Ah=1,Al=1 — refine
    // must have Ah == Al+1), truncation
    def patchLastSosAhAl(b: Array[Byte]): Array[Byte] = {
      val out = b.clone()
      var i = 0; var last = -1
      while (i + 1 < out.length) {
        if ((out(i) & 0xff) == 0xff && (out(i + 1) & 0xff) == 0xda) last = i
        i += 1
      }
      val ns = out(last + 4) & 0xff
      out(last + 4 + 1 + 2 * ns + 3) = 0x11.toByte // Ah=1, Al=1
      out
    }
    assert(JpegCodec.decode(patchLastSosAhAl(prog)).isEmpty)
    assert(JpegCodec.decode(prog.take(prog.length / 2)).isEmpty)
    assert(JpegCodec.decode(prog.take(40)).isEmpty)
    // review regression: an SOS whose declared length is 2 ends the
    // segment exactly at the ns byte — must return None, not throw
    // (both the baseline and progressive SOS parsers)
    for (sof <- Seq(0xc0, 0xc2)) {
      val crafted = Array(0xff, 0xd8, 0xff, sof, 0x00, 0x0b,
        0x08, 0x00, 0x01, 0x00, 0x01, 0x01, 0x01, 0x11, 0x00,
        0xff, 0xda, 0x00, 0x02).map(_.toByte)
      assert(JpegCodec.decode(crafted).isEmpty, f"SOF $sof%02x")
    }
  }

  test("JpegCodec progressive successive approximation: the two-level " +
    "libjpeg-style script decodes pixel-identical to baseline — DC " +
    "refinement bits, AC ±1 arrivals, correction bits inside ZRL " +
    "windows and EOB runs all reconstruct exactly") {
    import graft.multimodal.{JpegCodec, JpegFixtures}
    // gradient: dense coefficients exercise history corrections
    val w = 24; val h = 21
    val gray = Array.tabulate(w * h)(i => (7 * (i % w) + 11 * (i / w)) % 256)
    val base = JpegCodec.decode(JpegCodec.encode(w, h, gray)).get
    for (bands <- Seq(Seq((1, 63)), Seq((1, 5), (6, 63)),
        Seq((1, 2), (3, 20), (21, 63)))) {
      val sa = JpegCodec.decode(JpegCodec.encodeProgressiveSA(w, h, gray, bands))
      assert(sa.isDefined, s"bands=$bands")
      assert(sa.get._4.toSeq == base._4.toSeq, s"bands=$bands")
    }
    // flat + textured mix: long EOB runs whose blocks still carry
    // history corrections (the BE-buffer path), plus negative values
    val mixed = Array.tabulate(64 * 48) { i =>
      val x = i % 64; val y = i / 64
      if (y < 16) (x * 9 + y * 5) % 256 else if (y < 32) 130 else (251 * x) % 256
    }
    val mb = JpegCodec.decode(JpegCodec.encode(64, 48, mixed)).get
    val ms = JpegCodec.decode(JpegCodec.encodeProgressiveSA(64, 48, mixed)).get
    assert(ms._4.toSeq == mb._4.toSeq)
    // color SA == color baseline
    val rgb = Array.tabulate(16 * 16 * 3)(i => (5 * i + i * i % 37) % 256)
    val cb = JpegCodec.decode(JpegCodec.encodeColor(16, 16, rgb)).get
    val cs = JpegCodec.decode(JpegFixtures.encodeProgressiveColorSA(16, 16, rgb)).get
    assert(cs._4.toSeq == cb._4.toSeq)
    // pseudo-random content, several shapes incl. non-multiple-of-8
    val rnd = new scala.util.Random(99)
    for ((pw, ph) <- Seq((8, 8), (17, 9), (40, 33))) {
      val px = Array.fill(pw * ph)(rnd.nextInt(256))
      val b2 = JpegCodec.decode(JpegCodec.encode(pw, ph, px)).get
      val s2 = JpegCodec.decode(JpegCodec.encodeProgressiveSA(pw, ph, px)).get
      assert(s2._4.toSeq == b2._4.toSeq, s"${pw}x$ph")
    }
  }

  test("JpegCodec progressive 4:2:0: interleaved-DC MCU geometry with " +
    "padded Y grids decodes pixel-identical to the 4:2:0 baseline, " +
    "spectral and successive-approximation scripts alike") {
    import graft.multimodal.JpegCodec
    // width 24: Y's padded grid (4 blocks/row) != unpadded (3) — the
    // exact geometry a progressive 4:2:0 decoder must keep straight
    for ((w, h) <- Seq((16, 16), (24, 16), (48, 34 + 6))) {
      val rnd = new scala.util.Random(w * 1000 + h)
      val rgb = Array.fill(w * h * 3)(rnd.nextInt(256))
      val base = JpegCodec.decode(JpegCodec.encodeColor420(w, h, rgb)).get
      val sp = JpegCodec.decode(JpegCodec.encodeProgressive420(w, h, rgb)).get
      assert(sp._4.toSeq == base._4.toSeq, s"spectral ${w}x$h")
      val sa = JpegCodec.decode(
        JpegCodec.encodeProgressive420(w, h, rgb, sa = true)).get
      assert(sa._4.toSeq == base._4.toSeq, s"sa ${w}x$h")
    }
    // block-constant at quant=1: the q130 closed-form shape survives
    val w = 32; val h = 16
    val rgb = Array.tabulate(w * h * 3) { i =>
      val px = i / 3
      val mi = ((px / w) / 16) * (w / 16) + ((px % w) / 16)
      (i % 3) match {
        case 0 => (40 + 11 * mi) % 256
        case 1 => (90 + 7 * mi) % 256
        case _ => (10 + 13 * mi) % 256
      }
    }
    val b = JpegCodec.decode(JpegCodec.encodeColor420(w, h, rgb, quant = 1)).get
    val p = JpegCodec.decode(
      JpegCodec.encodeProgressive420(w, h, rgb, quant = 1, sa = true)).get
    assert(p._4.toSeq == b._4.toSeq)
  }

  test("JpegCodec progressive restart intervals: DRI boundaries reset " +
    "predictors and EOB runs per scan, pixel-identical to baseline " +
    "across scripts and sampling shapes; corrupt restart declines") {
    import graft.multimodal.JpegCodec
    val w = 40; val h = 24
    val gray = Array.tabulate(w * h)(i => (7 * (i % w) + 11 * (i / w)) % 256)
    val base = JpegCodec.decode(JpegCodec.encode(w, h, gray)).get._4.toSeq
    for (ri <- Seq(1, 2, 3, 7)) {
      val sp = JpegCodec.decode(JpegCodec.encodeProgressive(w, h, gray,
        restartInterval = ri)).get
      assert(sp._4.toSeq == base, s"spectral ri=$ri")
      val sa = JpegCodec.decode(JpegCodec.encodeProgressiveSA(w, h, gray,
        restartInterval = ri)).get
      assert(sa._4.toSeq == base, s"sa ri=$ri")
    }
    // 4:2:0: restart unit is the 16x16 MCU in DC scans, blocks in AC
    val rnd = new scala.util.Random(5)
    val rgb = Array.fill(48 * 32 * 3)(rnd.nextInt(256))
    val cbase = JpegCodec.decode(JpegCodec.encodeColor420(48, 32, rgb)).get._4.toSeq
    for (ri <- Seq(1, 2, 5); sa <- Seq(false, true)) {
      val p = JpegCodec.decode(JpegCodec.encodeProgressive420(48, 32, rgb,
        sa = sa, restartInterval = ri)).get
      assert(p._4.toSeq == cbase, s"420 ri=$ri sa=$sa")
    }
    // corrupt: zap the first restart marker's second byte -> decline,
    // never desync
    val prog = JpegCodec.encodeProgressive(w, h, gray, restartInterval = 2)
    var i = 2
    var patched: Array[Byte] = null
    while (patched == null && i + 1 < prog.length) {
      val m = prog(i + 1) & 0xff
      if ((prog(i) & 0xff) == 0xff && m >= 0xd0 && m <= 0xd7) {
        patched = prog.clone()
        patched(i + 1) = 0x3c // not a marker at all
      }
      i += 1
    }
    assert(patched != null, "fixture must contain a restart marker")
    assert(JpegCodec.decode(patched).isEmpty)
  }

  test("normalizeAudioPeak: exact half-away integer scaling, peak lands " +
    "on target, untouched for declines / silence / unrepresentable target") {
    import spark.implicits._
    import graft.multimodal.PcmCodec
    val s1 = Array(1000, -250, 125, -1000, 3)
    val rows = Seq(
      MediaRow(1L, "audio/wav", PcmCodec.encodeWav(1, 8000, 16, s1),
        MediaMeta("mic", None, None, None)),
      MediaRow(2L, "audio/aiff", PcmCodec.encodeAiff(1, 8000, 16, s1),
        MediaMeta("mic", None, None, None)),
      MediaRow(3L, "audio/wav", "junk".getBytes("UTF-8"),
        MediaMeta("mic", None, None, None)),
      MediaRow(4L, "audio/wav", PcmCodec.encodeWav(1, 8000, 16, Array(0, 0, 0)),
        MediaMeta("mic", None, None, None)),
      MediaRow(5L, "audio/wav", PcmCodec.encodeWav(1, 8000, 8, Array(10, -5)),
        MediaMeta("mic", None, None, None))) // 8-bit can't hold 12000
    val out = graft.multimodal.Multimodal
      .normalizeAudioPeak(rows.toDS(), targetPeak = 12000)
      .collect().map(m => m.media_id -> m).toMap
    // peak 1000 -> x12: exact products, and 3*12000/1000 = 36 exactly
    val want = Seq(12000, -3000, 1500, -12000, 36)
    assert(PcmCodec.decode(out(1L).content).get.samples.toSeq == want)
    assert(PcmCodec.decode(out(2L).content).get.samples.toSeq == want)
    assert(PcmCodec.decode(out(2L).content).get.format == "aiff") // container kept
    // a non-divisible peak exercises the half-away rounding both signs
    val s2 = Array(7, -7, 3)
    val odd = graft.multimodal.Multimodal.normalizeAudioPeak(
      Seq(MediaRow(9L, "audio/wav", PcmCodec.encodeWav(1, 8000, 16, s2),
        MediaMeta("mic", None, None, None))).toDS(), targetPeak = 10)
      .collect().head
    // 3*10/7 = 4.2857 -> 4;  peak stays exact at 10
    assert(PcmCodec.decode(odd.content).get.samples.toSeq == Seq(10, -10, 4))
    // untouched paths: bytes identical
    assert(out(3L).content.toSeq == "junk".getBytes("UTF-8").toSeq)
    assert(PcmCodec.decode(out(4L).content).get.samples.toSeq == Seq(0, 0, 0))
    assert(PcmCodec.decode(out(5L).content).get.samples.toSeq == Seq(10, -5))
  }

  test("audioActiveSegments: exact island boundaries, minRun filter, " +
    "threshold is inclusive, declines and all-silent emit no rows") {
    import spark.implicits._
    import graft.multimodal.PcmCodec
    // hand-built: 3 silent, 12 active, 2 silent, 7 active (dropped by
    // minRun=10), 4 silent, 10 active to the end
    val s = Array.fill(38)(0)
    (3 until 15).foreach(i => s(i) = 300 + i)      // run 1: [3, 15)
    (17 until 24).foreach(i => s(i) = -400)        // run 2: 7 < minRun
    (28 until 38).foreach(i => s(i) = if (i == 30) 100 else 250) // run 3: [28, 38)
    val rows = Seq(
      MediaRow(1L, "audio/wav", PcmCodec.encodeWav(1, 8000, 16, s),
        MediaMeta("mic", None, None, None)),
      MediaRow(2L, "audio/wav", "not audio".getBytes("UTF-8"),
        MediaMeta("mic", None, None, None)),
      MediaRow(3L, "audio/wav", PcmCodec.encodeWav(1, 8000, 16, Array.fill(50)(5)),
        MediaMeta("mic", None, None, None))) // all below threshold
    val out = graft.multimodal.Multimodal
      .audioActiveSegments(rows.toDS(), threshold = 100, minRun = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5)))).toMap
    // sample 30 == threshold exactly -> ACTIVE (inclusive), run unbroken
    assert(out == Map(
      (1L, 0) -> ((3, 15, 12, 314)),
      (1L, 1) -> ((28, 38, 10, 250))))
    // minRun=1 recovers the dropped middle run with its true bounds
    val all = graft.multimodal.Multimodal
      .audioActiveSegments(rows.toDS(), threshold = 100, minRun = 1)
      .where($"media_id" === 1L && $"seg_idx" === 1)
      .head()
    assert(all.getInt(2) == 17 && all.getInt(3) == 24 && all.getInt(5) == 400)
  }

  test("imageSpectralHash: a global low-frequency gradient flip changes " +
    "the hash while a sub-cell speckle does not") {
    import spark.implicits._
    import graft.multimodal.PngCodec
    val w = 32; val h = 32
    val base = Array.tabulate(w * h)(i => (i % w) * 6)        // left->right ramp
    val flipped = Array.tabulate(w * h)(i => (w - 1 - i % w) * 6) // right->left
    val speckled = base.clone(); speckled(5 * w + 7) += 3     // one-pixel nudge
    val rows = Seq(
      MediaRow(1L, "image/png", PngCodec.encode(w, h, 1, base),
        MediaMeta("cam", None, None, None)),
      MediaRow(2L, "image/png", PngCodec.encode(w, h, 1, flipped),
        MediaMeta("cam", None, None, None)),
      MediaRow(3L, "image/png", PngCodec.encode(w, h, 1, speckled),
        MediaMeta("cam", None, None, None)))
    val got = Multimodal.imageSpectralHash(rows.toDS())
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got(1L) != got(2L)) // global structure differs -> hash differs
    assert(got(1L) == got(3L)) // sub-cell speckle -> hash stable
  }
}
