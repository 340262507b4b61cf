package graft.multimodal

import java.util.zip.{CRC32, Deflater, Inflater}

/** REAL PNG pixel codec with zero codec-library dependencies —
  * `java.util.zip` (zlib) is the only machinery PNG's mandatory path
  * actually needs. Everything this codec can't decode honestly
  * (JPEG DCT, interlaced PNG, 16-bit color) stays behind the
  * [[Multimodal.StubCodec]] fallback, per the decode-what-you-can
  * contract; GIF has its own real decoder ([[GifCodec]]).
  *
  * Coverage: 8-bit grayscale (color type 0), 8-bit truecolor RGB
  * (color type 2), and 8-bit palette (color type 3, PLTE-expanded to
  * RGB on decode), non-interlaced, all five scanline filters
  * (None/Sub/Up/Average/Paeth) on both sides. The encoder deliberately
  * ROTATES filter types per row (y mod 5) so every fixture image
  * exercises every unfilter path — a decoder bug can't hide behind
  * filter-0-only fixtures.
  *
  * Scale shape: both directions are per-row kernels inside narrow
  * mapPartitions batches ([[Multimodal.imageFeatures]]) — payload bytes
  * never shuffle, and the inflater/deflater are per-call locals (no
  * shared state to leak across tasks). */
object PngCodec {

  private[multimodal] val Signature =
    Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  private def u32be(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xffL) << 24) | ((b(i + 1) & 0xffL) << 16) |
      ((b(i + 2) & 0xffL) << 8) | (b(i + 3) & 0xffL)

  private[multimodal] def be32(v: Long): Array[Byte] = Array(
    ((v >>> 24) & 0xff).toByte, ((v >>> 16) & 0xff).toByte,
    ((v >>> 8) & 0xff).toByte, (v & 0xff).toByte)

  private[multimodal] def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
    val t = tag.getBytes("US-ASCII")
    val crc = new CRC32()
    crc.update(t); crc.update(data)
    be32(data.length.toLong) ++ t ++ data ++ be32(crc.getValue)
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Filter rows (type rotates y mod 5) and deflate — shared by the
    * gray/RGB and palette encoders. `channels` is bytes per pixel. */
  private[multimodal] def filterAndDeflate(w: Int, h: Int, channels: Int,
                               samples: Array[Int]): Array[Byte] = {
    val stride = w * channels
    val raw = new Array[Byte]((stride + 1) * h)
    var y = 0
    while (y < h) {
      val ft = y % 5
      raw(y * (stride + 1)) = ft.toByte
      var i = 0
      while (i < stride) {
        val cur = samples(y * stride + i)
        val left = if (i >= channels) samples(y * stride + i - channels) else 0
        val up = if (y > 0) samples((y - 1) * stride + i) else 0
        val ul = if (y > 0 && i >= channels)
          samples((y - 1) * stride + i - channels) else 0
        val f = ft match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - ((left + up) >> 1)
          case 4 => cur - paeth(left, up, ul)
        }
        raw(y * (stride + 1) + 1 + i) = (f & 0xff).toByte
        i += 1
      }
      y += 1
    }
    val deflater = new Deflater(Deflater.DEFAULT_COMPRESSION)
    deflater.setInput(raw); deflater.finish()
    val out = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
    deflater.end()
    out.toByteArray
  }

  /** Encode 8-bit samples (row-major y→x→channel, values 0..255) as a
    * real PNG. channels: 1 = grayscale, 3 = RGB. Filter type rotates
    * y mod 5 so decodes exercise every unfilter. */
  def encode(w: Int, h: Int, channels: Int, samples: Array[Int]): Array[Byte] = {
    require(channels == 1 || channels == 3, s"channels: $channels")
    require(w >= 1 && h >= 1 && samples.length == w * h * channels,
      s"bad dims: $w x $h x $channels vs ${samples.length}")
    val colorType = if (channels == 1) 0 else 2
    val ihdr = be32(w.toLong) ++ be32(h.toLong) ++
      Array(8.toByte, colorType.toByte, 0.toByte, 0.toByte, 0.toByte)
    Signature ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", filterAndDeflate(w, h, channels, samples)) ++
      chunk("IEND", Array.emptyByteArray)
  }

  /** Decode a PNG this codec covers: Some((w, h, channels, samples)) for
    * 8-bit gray/RGB/palette non-interlaced, None for anything else
    * (caller falls back to the stub — corrupt bytes must not fail the
    * batch). Palette images come back expanded to RGB (channels = 3) so
    * downstream features see one convention. */
  def decode(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Int])] = {
    if (bytes == null || bytes.length < 45) return None
    var i = 0
    while (i < 8) { if (bytes(i) != Signature(i)) return None; i += 1 }
    // IHDR must be first per spec
    if (u32be(bytes, 8) != 13L || bytes(12) != 'I' || bytes(13) != 'H' ||
      bytes(14) != 'D' || bytes(15) != 'R') return None
    val w = u32be(bytes, 16); val h = u32be(bytes, 20)
    val bitDepth = bytes(24) & 0xff; val colorType = bytes(25) & 0xff
    val interlace = bytes(28) & 0xff
    if (bitDepth != 8 || interlace != 0) return None
    if (colorType != 0 && colorType != 2 && colorType != 3) return None
    if (w < 1 || h < 1 || w > (1L << 20) || h > (1L << 20)) return None
    // bytes per pixel in the FILTERED stream (palette: 1 index byte)
    val channels = if (colorType == 2) 3 else 1
    val stride = w.toInt * channels
    if ((stride + 1).toLong * h > Int.MaxValue / 2) return None
    // concatenate IDAT payloads, capture PLTE (walk guarded against
    // hostile lengths)
    val idat = new java.io.ByteArrayOutputStream(bytes.length)
    var palette: Array[Int] = null
    var p = 8 + 12 + 13
    var sawEnd = false
    while (!sawEnd && p + 8 <= bytes.length) {
      val len = u32be(bytes, p)
      if (len > Int.MaxValue || p + 8 + len + 4 > bytes.length) return None
      val tag = new String(bytes, p + 4, 4, "US-ASCII")
      if (tag == "IDAT") idat.write(bytes, p + 8, len.toInt)
      else if (tag == "PLTE") {
        if (len % 3 != 0 || len > 3 * 256) return None
        palette = Array.tabulate((len / 3).toInt) { j =>
          ((bytes(p + 8 + 3 * j) & 0xff) << 16) |
            ((bytes(p + 8 + 3 * j + 1) & 0xff) << 8) |
            (bytes(p + 8 + 3 * j + 2) & 0xff)
        }
      }
      else if (tag == "IEND") sawEnd = true
      p += 8 + len.toInt + 4
    }
    if (colorType == 3 && palette == null) return None // PLTE is mandatory
    val compressed = idat.toByteArray
    if (compressed.isEmpty) return None
    val raw = new Array[Byte]((stride + 1) * h.toInt)
    val inflater = new Inflater()
    try {
      inflater.setInput(compressed)
      var off = 0
      while (off < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, off, raw.length - off)
        if (n == 0 && inflater.needsInput()) return None // truncated stream
        off += n
      }
      if (off != raw.length) return None
    } catch { case _: java.util.zip.DataFormatException => return None
    } finally inflater.end()
    // unfilter in place into the sample array
    val samples = new Array[Int](stride * h.toInt)
    var y = 0
    while (y < h.toInt) {
      val ft = raw(y * (stride + 1)) & 0xff
      if (ft > 4) return None
      var x = 0
      while (x < stride) {
        val f = raw(y * (stride + 1) + 1 + x) & 0xff
        val left = if (x >= channels) samples(y * stride + x - channels) else 0
        val up = if (y > 0) samples((y - 1) * stride + x) else 0
        val ul = if (y > 0 && x >= channels)
          samples((y - 1) * stride + x - channels) else 0
        val v = ft match {
          case 0 => f
          case 1 => f + left
          case 2 => f + up
          case 3 => f + ((left + up) >> 1)
          case 4 => f + paeth(left, up, ul)
        }
        samples(y * stride + x) = v & 0xff
        x += 1
      }
      y += 1
    }
    if (colorType != 3) Some((w.toInt, h.toInt, channels, samples))
    else {
      // palette expansion: indices → RGB, one downstream convention
      val rgb = new Array[Int](samples.length * 3)
      var j = 0
      while (j < samples.length) {
        val c = samples(j)
        if (c >= palette.length) return None // index past the palette
        rgb(3 * j) = (palette(c) >> 16) & 0xff
        rgb(3 * j + 1) = (palette(c) >> 8) & 0xff
        rgb(3 * j + 2) = palette(c) & 0xff
        j += 1
      }
      Some((w.toInt, h.toInt, 3, rgb))
    }
  }
}
