package graft.multimodal

/** Fixture encoders for codec decode paths no query payload exercises:
  * palette PNG and color progressive JPEG. Spec use only. */
object PngFixtures {
  import PngCodec.{Signature, be32, chunk, filterAndDeflate}

  /** Encode a palette (color type 3) PNG: PLTE from packed 0xRRGGBB
    * entries, 8-bit indices, same rotating scanline filters (filters
    * operate on index bytes per spec). Fixture encoder for the
    * palette-decode path. */
  def encodePalette(w: Int, h: Int, palette: Array[Int],
                    indices: Array[Int]): Array[Byte] = {
    require(palette.nonEmpty && palette.length <= 256,
      s"palette size: ${palette.length}")
    require(w >= 1 && h >= 1 && indices.length == w * h,
      s"bad dims: $w x $h vs ${indices.length}")
    require(indices.forall(i => i >= 0 && i < palette.length),
      "index past the palette")
    val ihdr = be32(w.toLong) ++ be32(h.toLong) ++
      Array(8.toByte, 3.toByte, 0.toByte, 0.toByte, 0.toByte)
    val plte = palette.flatMap(rgb => Array(
      ((rgb >> 16) & 0xff).toByte, ((rgb >> 8) & 0xff).toByte,
      (rgb & 0xff).toByte))
    Signature ++ chunk("IHDR", ihdr) ++ chunk("PLTE", plte) ++
      chunk("IDAT", filterAndDeflate(w, h, 1, indices)) ++
      chunk("IEND", Array.emptyByteArray)
  }
}

object JpegFixtures {
  import JpegCodec.{Quant, encodeProgressiveCore, rgbToYcc}

  /** [[JpegCodec.encodeProgressive]] for interleaved RGB at 4:4:4 YCbCr
    * (the same forward transform as [[JpegCodec.encodeColor]]). */
  def encodeProgressiveColor(w: Int, h: Int, rgb: Array[Int],
                             quant: Int = Quant,
                             bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63)),
                             batchEob: Boolean = true): Array[Byte] = {
    require(w >= 1 && h >= 1 && rgb.length == w * h * 3,
      s"bad dims: $w x $h x3 vs ${rgb.length}")
    require(quant >= 1 && quant <= 255, s"quant out of byte range: $quant")
    val (yP, cbP, crP) = rgbToYcc(w, h, rgb)
    encodeProgressiveCore(w, h, Array(yP, cbP, crP),
      Array(w, w, w), Array(h, h, h), Array(0x11, 0x11, 0x11),
      quant, bands, sa = false, batchEob = batchEob)
  }

  /** [[JpegCodec.encodeProgressiveSA]] for interleaved RGB at 4:4:4
    * YCbCr. */
  def encodeProgressiveColorSA(w: Int, h: Int, rgb: Array[Int],
                               quant: Int = Quant,
                               bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63))): Array[Byte] = {
    require(w >= 1 && h >= 1 && rgb.length == w * h * 3,
      s"bad dims: $w x $h x3 vs ${rgb.length}")
    require(quant >= 1 && quant <= 255, s"quant out of byte range: $quant")
    val (yP, cbP, crP) = rgbToYcc(w, h, rgb)
    encodeProgressiveCore(w, h, Array(yP, cbP, crP),
      Array(w, w, w), Array(h, h, h), Array(0x11, 0x11, 0x11),
      quant, bands, sa = true, batchEob = true)
  }
}
