package graft.multimodal

/** REAL baseline JPEG codec, grayscale — the last big image decline
  * closed honestly: SOI/DQT/DHT/SOF0/SOS parsing, canonical Huffman
  * entropy decode (tables read from the file's own DHT segments, not
  * assumed), differential DC, run-length AC, dequantization, full
  * 2-D IDCT, level shift + clamp. Same zero-new-deps discipline as
  * [[PngCodec]]/[[GifCodec]].
  *
  * Envelope, stated honestly: baseline sequential (SOF0), 8-bit,
  * grayscale, 4:4:4 YCbCr, or 4:2:0 YCbCr, with or without restart
  * markers (DRI/RSTn — byte-aligned predictor resets, the shape most
  * real encoders emit); plus the FULL PROGRESSIVE (SOF2) matrix over
  * the same sampling shapes — grayscale, 4:4:4, AND 4:2:0 — in both
  * progressive dimensions: spectral selection (multi-scan DC + AC band
  * accumulation with full EOBn run handling) and successive
  * approximation (point-transformed first scans, DC refinement bits,
  * AC ±1 arrivals with correction bits inside ZRL windows and EOB
  * runs — the libjpeg default-script shape), with or without restart
  * intervals (DRI: per-scan RSTn boundaries resetting predictors and
  * EOB runs). Still declined (None, the stub fallback, never
  * fabricated pixels): inconsistent Ah/Al chains, other subsampling,
  * arithmetic coding, 12-bit. Color output is interleaved RGB via the
  * JFIF inverse transform (one fixed IEEE sequence per channel,
  * mirrored by the q129/q130 oracles).
  *
  * The encoder exists for fixtures and spec round trips. JPEG is
  * LOSSY, so unlike the PNG/GIF gates the oracle cannot demand
  * decode(encode(x)) == x; instead the q128 gate uses BLOCK-CONSTANT
  * images, where the mathematics collapses to an exact integer closed
  * form — a constant 8×8 block has only a DC coefficient, so the
  * decoded block is exactly clamp(2·round((v−128)/2) + 128) with the
  * uniform Q=16 table — and a DuckDB oracle recomputes that form. The
  * general (AC) path is spec-verified: smooth gradients round-trip
  * within a small bounded error, and the entropy layer is exercised by
  * every nonzero coefficient the gradient produces. The encoder ships
  * its OWN canonical Huffman tables in DHT (codes 0..n-1 at one
  * length — valid, just not optimal), so the decoder's table BUILDER
  * is exercised from the declared BITS/HUFFVAL, never from baked-in
  * constants.
  *
  * Scale shape: per-row kernels in narrow mapPartitions batches;
  * payloads never shuffle. */
object JpegCodec {

  // uniform quantization table (index 0 is the DC divisor the q128
  // closed form depends on); any table is spec-valid since DQT ships it
  private[multimodal] val Quant = 16

  private val ZigZag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // encoder-side canonical tables: DC symbols 0..11 at 4 bits, AC
  // symbols (all run<<4|size the baseline grammar can emit) at 8 bits
  private val DcSyms: Array[Int] = (0 to 11).toArray
  private val AcSyms: Array[Int] = {
    val b = Array.newBuilder[Int]
    b += 0x00 // EOB
    for (run <- 0 to 15; size <- 1 to 10) b += (run << 4) | size
    b += 0xf0 // ZRL
    b.result()
  }

  private def roundHalfAway(x: Double): Long =
    if (x >= 0) math.floor(x + 0.5).toLong else -math.floor(-x + 0.5).toLong

  private final class BitWriter {
    private val out = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nBits = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1))
      nBits += len
      while (nBits >= 8) {
        val b = ((acc >>> (nBits - 8)) & 0xff).toInt
        out.write(b)
        if (b == 0xff) out.write(0x00) // byte stuffing
        nBits -= 8
      }
    }
    /** 1-pad to a byte boundary and emit a restart marker (raw bytes —
      * markers are never stuffed). */
    def restart(n: Int): Unit = {
      if (nBits > 0) put(0x7f, 8 - nBits)
      out.write(0xff); out.write(0xd0 + (n & 7))
    }
    def finishWithOnes(): Array[Byte] = {
      if (nBits > 0) put(0x7f, 8 - nBits) // pad with 1s per spec
      out.toByteArray
    }
  }

  /** Encode 8-bit grayscale as a real baseline JFIF JPEG (SOF0, one
    * component, uniform Q=16, self-declared canonical Huffman). */
  def encode(w: Int, h: Int, samples: Array[Int],
             restartInterval: Int = 0): Array[Byte] = {
    require(w >= 1 && h >= 1 && samples.length == w * h,
      s"bad dims: $w x $h vs ${samples.length}")
    encodeMcus(w, h, Array(samples), Array(w), Array(h), Array(0x11),
      Quant, restartInterval)
  }

  /** Encode interleaved RGB as a 4:4:4 YCbCr baseline JPEG. The forward
    * transform is ONE fixed IEEE sequence per channel (mirrored by the
    * q129 oracle); `quant = 1` makes constant blocks decode exactly,
    * which is what the closed-form color gate uses. */
  def encodeColor(w: Int, h: Int, rgb: Array[Int], quant: Int = Quant): Array[Byte] = {
    require(w >= 1 && h >= 1 && rgb.length == w * h * 3,
      s"bad dims: $w x $h x3 vs ${rgb.length}")
    require(quant >= 1 && quant <= 255, s"quant out of byte range: $quant")
    val n = w * h
    val yP = new Array[Int](n); val cbP = new Array[Int](n); val crP = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = rgb(3 * i).toDouble
      val g = rgb(3 * i + 1).toDouble
      val b = rgb(3 * i + 2).toDouble
      yP(i) = clamp255(roundHalfAway(0.299 * r + 0.587 * g + 0.114 * b))
      cbP(i) = clamp255(roundHalfAway(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0))
      crP(i) = clamp255(roundHalfAway(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0))
      i += 1
    }
    encodePlanes(w, h, Array(yP, cbP, crP), quant)
  }

  /** [[encodeColor]] at 4:2:0 — Y at full resolution (2x2 sampling),
    * chroma downsampled by 2x2 block mean (one fixed IEEE sequence, so
    * constant blocks stay exact). Even dims only (fixture encoder). */
  def encodeColor420(w: Int, h: Int, rgb: Array[Int], quant: Int = Quant): Array[Byte] = {
    require(w >= 2 && h >= 2 && w % 2 == 0 && h % 2 == 0,
      s"encodeColor420: even dims only: $w x $h")
    require(rgb.length == w * h * 3, s"bad dims: $w x $h x3 vs ${rgb.length}")
    require(quant >= 1 && quant <= 255, s"quant out of byte range: $quant")
    val n = w * h
    val yP = new Array[Int](n); val cbF = new Array[Int](n); val crF = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = rgb(3 * i).toDouble
      val g = rgb(3 * i + 1).toDouble
      val b = rgb(3 * i + 2).toDouble
      yP(i) = clamp255(roundHalfAway(0.299 * r + 0.587 * g + 0.114 * b))
      cbF(i) = clamp255(roundHalfAway(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0))
      crF(i) = clamp255(roundHalfAway(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0))
      i += 1
    }
    val cw = w / 2; val chh = h / 2
    def down(src: Array[Int]): Array[Int] = Array.tabulate(cw * chh) { j =>
      val cx = j % cw; val cy = j / cw
      val a = src(2 * cy * w + 2 * cx) + src(2 * cy * w + 2 * cx + 1) +
        src((2 * cy + 1) * w + 2 * cx) + src((2 * cy + 1) * w + 2 * cx + 1)
      clamp255(roundHalfAway(a / 4.0))
    }
    encodeMcus(w, h, Array(yP, down(cbF), down(crF)),
      Array(w, cw, cw), Array(h, chh, chh),
      Array(0x22, 0x11, 0x11), quant, 0)
  }

  private def clamp255(v: Long): Int =
    if (v < 0) 0 else if (v > 255) 255 else v.toInt

  private def encodePlanes(w: Int, h: Int, planes: Array[Array[Int]],
                           quant: Int): Array[Byte] =
    encodeMcus(w, h, planes,
      Array.fill(planes.length)(w), Array.fill(planes.length)(h),
      Array.fill(planes.length)(0x11), quant, 0)

  private def encodeMcus(w: Int, h: Int, planes: Array[Array[Int]],
                         planeW: Array[Int], planeH: Array[Int],
                         samps: Array[Int], quant: Int,
                         restartInterval: Int): Array[Byte] = {
    val nComp = planes.length
    val dcLen = DcSyms.map(_ => 4)
    val acLen = AcSyms.map(_ => 8)
    val dcCode = canonicalCodes(dcLen)
    val acCode = canonicalCodes(acLen)
    val dcIdx = DcSyms.zipWithIndex.toMap
    val acIdx = AcSyms.zipWithIndex.toMap
    val bw = new BitWriter
    val hMax = samps.map(_ >> 4).max
    val vMax = samps.map(_ & 0x0f).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    val prevDc = new Array[Long](nComp)
    val blk = new Array[Double](64)
    val coef = new Array[Long](64)
    var mcuIdx = 0
    var rstN = 0
    var by = 0
    while (by < mcusY) {
      var bx = 0
      while (bx < mcusX) {
        // a restart boundary byte-aligns the stream and resets every
        // DC predictor — emitted BEFORE each interval-multiple MCU
        if (restartInterval > 0 && mcuIdx > 0 &&
          mcuIdx % restartInterval == 0) {
          bw.restart(rstN)
          rstN = (rstN + 1) & 7
          java.util.Arrays.fill(prevDc, 0L)
        }
        mcuIdx += 1
        var c = 0
        while (c < nComp) { // interleaved MCU: hi×vi blocks per component
          val plane = planes(c)
          val hi = samps(c) >> 4
          val vi = samps(c) & 0x0f
          var iy = 0
          while (iy < vi) {
            var ix = 0
            while (ix < hi) {
              // edge-replicated block, level-shifted
              var i = 0
              while (i < 64) {
                val x = math.min((bx * hi + ix) * 8 + i % 8, planeW(c) - 1)
                val y = math.min((by * vi + iy) * 8 + i / 8, planeH(c) - 1)
                blk(i) = plane(y * planeW(c) + x) - 128.0
                i += 1
              }
              fdct(blk)
              i = 0
              while (i < 64) {
                coef(i) = roundHalfAway(blk(ZigZag(i)) / quant)
                i += 1
              }
              // DC: differential, magnitude-coded
              val diff = coef(0) - prevDc(c)
              prevDc(c) = coef(0)
              val s = magBits(diff)
              bw.put(dcCode(dcIdx(s)), 4)
              if (s > 0) bw.put(magValue(diff, s), s)
              // AC: run-length of zeros + magnitude
              var run = 0
              var k = 1
              while (k < 64) {
                if (coef(k) == 0L) run += 1
                else {
                  while (run >= 16) { bw.put(acCode(acIdx(0xf0)), 8); run -= 16 }
                  val sz = magBits(coef(k))
                  bw.put(acCode(acIdx((run << 4) | sz)), 8)
                  bw.put(magValue(coef(k), sz), sz)
                  run = 0
                }
                k += 1
              }
              if (run > 0) bw.put(acCode(acIdx(0x00)), 8) // EOB
              ix += 1
            }
            iy += 1
          }
          c += 1
        }
        bx += 1
      }
      by += 1
    }
    val entropy = bw.finishWithOnes()
    val out = new java.io.ByteArrayOutputStream(entropy.length + 512)
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, body: Array[Byte]): Unit = {
      marker(m)
      out.write(((body.length + 2) >> 8) & 0xff)
      out.write((body.length + 2) & 0xff)
      out.write(body, 0, body.length)
    }
    marker(0xd8) // SOI
    seg(0xe0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    if (restartInterval > 0)
      seg(0xdd, Array[Byte](((restartInterval >> 8) & 0xff).toByte,
        (restartInterval & 0xff).toByte))
    seg(0xdb, 0.toByte +: Array.fill(64)(quant.toByte)) // DQT id 0
    val sof = Array.newBuilder[Byte]
    sof += 8 // precision
    sof += ((h >> 8) & 0xff).toByte += (h & 0xff).toByte
    sof += ((w >> 8) & 0xff).toByte += (w & 0xff).toByte
    sof += nComp.toByte
    for (c <- 0 until nComp) {
      sof += (c + 1).toByte += samps(c).toByte += 0.toByte
    }
    seg(0xc0, sof.result())
    seg(0xc4, dhtBody(0x00, dcLen, DcSyms)) // DC table 0
    seg(0xc4, dhtBody(0x10, acLen, AcSyms)) // AC table 0
    val sos = Array.newBuilder[Byte]
    sos += nComp.toByte
    for (c <- 1 to nComp) { sos += c.toByte += 0x00.toByte }
    sos += 0.toByte += 63.toByte += 0.toByte
    seg(0xda, sos.result())
    out.write(entropy, 0, entropy.length)
    marker(0xd9) // EOI
    out.toByteArray
  }

  // progressive AC tables also need the EOBn symbols (run<<4, size 0,
  // run 1..14 — 0x00 is EOB0 and already present)
  private val AcProgSyms: Array[Int] = AcSyms ++ (1 to 14).map(_ << 4)

  /** Encode 8-bit grayscale as a PROGRESSIVE (SOF2) JPEG using spectral
    * selection only (Ah=Al=0): one interleaved DC scan, then one AC
    * scan per `bands` entry. `batchEob = true` emits real EOBn
    * run-batching across all-zero-band blocks (what production
    * encoders do — exercises the decoder's EOB-run path); `false`
    * emits per-block EOB0 only (also spec-legal). Coefficients are
    * identical to [[encode]]'s, so progressive and baseline decodes of
    * the same image agree exactly. */
  def encodeProgressive(w: Int, h: Int, samples: Array[Int],
                        bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63)),
                        batchEob: Boolean = true,
                        restartInterval: Int = 0): Array[Byte] = {
    require(w >= 1 && h >= 1 && samples.length == w * h,
      s"bad dims: $w x $h vs ${samples.length}")
    encodeProgressiveCore(w, h, Array(samples), Array(w), Array(h),
      Array(0x11), Quant, bands, sa = false, batchEob = batchEob,
      restartInterval = restartInterval)
  }

  /** Zigzag-ordered quantized coefficients for every 8×8 block of a
    * plane over an EXPLICIT block grid (raster order, edge-replicated).
    * Interleaved scans cover the MCU-padded grid (`bxN`/`byN` larger
    * than the plane needs); padding blocks replicate the edge exactly
    * like the baseline encoder's. */
  private def planeCoefs(plane: Array[Int], pw: Int, ph: Int,
                         quant: Int, bxN: Int, byN: Int): Array[Array[Long]] = {
    val out = new Array[Array[Long]](bxN * byN)
    val blk = new Array[Double](64)
    var by = 0
    while (by < byN) {
      var bx = 0
      while (bx < bxN) {
        var i = 0
        while (i < 64) {
          val x = math.min(bx * 8 + i % 8, pw - 1)
          val y = math.min(by * 8 + i / 8, ph - 1)
          blk(i) = plane(y * pw + x) - 128.0
          i += 1
        }
        fdct(blk)
        val coef = new Array[Long](64)
        i = 0
        while (i < 64) { coef(i) = roundHalfAway(blk(ZigZag(i)) / quant); i += 1 }
        out(by * bxN + bx) = coef
        bx += 1
      }
      by += 1
    }
    out
  }

  // ---- progressive scan-data emitters (shared by every script) ----

  private final class ProgTables {
    val dcLen: Array[Int] = DcSyms.map(_ => 4)
    val acLen: Array[Int] = AcProgSyms.map(_ => 8)
    val dcCode: Array[Int] = canonicalCodes(dcLen)
    val acCode: Array[Int] = canonicalCodes(acLen)
    val dcIdx: Map[Int, Int] = DcSyms.zipWithIndex.toMap
    val acIdx: Map[Int, Int] = AcProgSyms.zipWithIndex.toMap
  }

  /** DC first scan at point transform `al`: diffs of the arithmetic-
    * shifted DC over `traversal` — (comp, block) pairs in scan order
    * (MCU-interleaved for multi-component scans). */
  private def dcFirstData(traversal: IndexedSeq[(Int, Array[Long])],
                          nComp: Int, al: Int, t: ProgTables,
                          ri: Int, bpm: Int): Array[Byte] = {
    val bw = new BitWriter
    val prevDc = new Array[Long](nComp)
    var rstN = 0
    var e = 0
    traversal.foreach { case (c, coef) =>
      if (ri > 0 && e > 0 && e % (ri * bpm) == 0) {
        // restart boundary every ri MCUs: byte-align, marker, predictors reset
        bw.restart(rstN); rstN = (rstN + 1) & 7
        java.util.Arrays.fill(prevDc, 0L)
      }
      e += 1
      val v = coef(0) >> al // arithmetic point transform
      val diff = v - prevDc(c)
      prevDc(c) = v
      val s = magBits(diff)
      bw.put(t.dcCode(t.dcIdx(s)), 4)
      if (s > 0) bw.put(magValue(diff, s), s)
    }
    bw.finishWithOnes()
  }

  /** DC refinement scan delivering bit `al` of each DC, raw. */
  private def dcRefineData(traversal: IndexedSeq[(Int, Array[Long])],
                           al: Int, ri: Int, bpm: Int): Array[Byte] = {
    val bw = new BitWriter
    var rstN = 0
    var e = 0
    traversal.foreach { case (_, coef) =>
      if (ri > 0 && e > 0 && e % (ri * bpm) == 0) {
        bw.restart(rstN); rstN = (rstN + 1) & 7 // align only: no predictors
      }
      e += 1
      bw.put(((coef(0) >> al) & 1L).toInt, 1)
    }
    bw.finishWithOnes()
  }

  /** AC band first scan at point transform `al` (sign-magnitude shift)
    * over one component's blocks in raster order, with optional EOBn
    * batching. */
  private def acFirstData(blocks: IndexedSeq[Array[Long]], ss: Int, se: Int,
                          al: Int, batchEob: Boolean, t: ProgTables,
                          ri: Int): Array[Byte] = {
    val bw = new BitWriter
    var eobrun = 0
    var rstN = 0
    var blkIdx = 0
    def flushEob(): Unit = {
      var run = eobrun
      eobrun = 0
      while (run > 0) {
        val chunk = math.min(run, 32767)
        val n = 31 - Integer.numberOfLeadingZeros(chunk)
        bw.put(t.acCode(t.acIdx(n << 4)), 8)
        if (n > 0) bw.put(chunk - (1 << n), n)
        run -= chunk
      }
    }
    def shifted(v: Long): Long = {
      val m = math.abs(v) >> al
      if (v < 0) -m else m
    }
    blocks.foreach { coef =>
      if (ri > 0 && blkIdx > 0 && blkIdx % ri == 0) {
        // restart boundary (non-interleaved: 1 block per MCU): an EOB
        // run cannot span it, so flush, then byte-align + marker
        flushEob()
        bw.restart(rstN); rstN = (rstN + 1) & 7
      }
      blkIdx += 1
      var last = se
      while (last >= ss && shifted(coef(last)) == 0L) last -= 1
      if (last < ss) {
        if (batchEob) eobrun += 1
        else bw.put(t.acCode(t.acIdx(0x00)), 8)
      } else {
        flushEob()
        var run = 0
        var k = ss
        while (k <= last) {
          val sv = shifted(coef(k))
          if (sv == 0L) run += 1
          else {
            while (run >= 16) { bw.put(t.acCode(t.acIdx(0xf0)), 8); run -= 16 }
            val sz = magBits(sv)
            bw.put(t.acCode(t.acIdx((run << 4) | sz)), 8)
            bw.put(magValue(sv, sz), sz)
            run = 0
          }
          k += 1
        }
        if (last < se) {
          if (batchEob) eobrun += 1
          else bw.put(t.acCode(t.acIdx(0x00)), 8)
        }
      }
    }
    flushEob()
    bw.finishWithOnes()
  }

  /** AC band REFINEMENT scan (Ah = al+1 → Al = al) over one component's
    * blocks — the libjpeg encode_mcu_AC_refine structure: BR bits (this
    * block's corrections) emit after each symbol's window; BE bits ride
    * the pending EOB run and emit after its EOBn. ZRLs emit eagerly at
    * each nonzero position while the zero-run exceeds 15 and a new
    * coefficient is still ahead, so each symbol's window carries
    * exactly the correction bits the decoder reads inside it. */
  private def acRefineData(blocks: IndexedSeq[Array[Long]], ss: Int, se: Int,
                           al: Int, t: ProgTables, ri: Int): Array[Byte] = {
    val bw = new BitWriter
    var eobrun = 0
    var rstN = 0
    var blkIdx = 0
    val bePending = new scala.collection.mutable.ArrayBuffer[Int]()
    val brBlock = new scala.collection.mutable.ArrayBuffer[Int]()
    def emitBr(): Unit = {
      brBlock.foreach(bw.put(_, 1))
      brBlock.clear()
    }
    def flushEob(): Unit = {
      if (eobrun > 0) {
        val n = 31 - Integer.numberOfLeadingZeros(eobrun)
        bw.put(t.acCode(t.acIdx(n << 4)), 8)
        if (n > 0) bw.put(eobrun - (1 << n), n)
        eobrun = 0
        bePending.foreach(bw.put(_, 1))
        bePending.clear()
      }
    }
    blocks.foreach { coef =>
      if (ri > 0 && blkIdx > 0 && blkIdx % ri == 0) {
        // restart: flush the run (its BE bits included), align, marker
        flushEob()
        bw.restart(rstN); rstN = (rstN + 1) & 7
      }
      blkIdx += 1
      val absv = new Array[Int](64)
      var eobIdx = ss - 1 // last NEWLY-significant index in this block
      var k = ss
      while (k <= se) {
        val tv = (math.abs(coef(k)) >> al).toInt
        absv(k) = tv
        if (tv == 1) eobIdx = k
        k += 1
      }
      var run = 0
      k = ss
      while (k <= se) {
        val tv = absv(k)
        if (tv == 0) run += 1
        else {
          while (run > 15 && k <= eobIdx) {
            flushEob()
            bw.put(t.acCode(t.acIdx(0xf0)), 8)
            run -= 16
            emitBr()
          }
          if (tv > 1) {
            // history coefficient: buffer its correction bit; does NOT
            // break the zero run
            brBlock += (tv & 1)
          } else {
            // newly significant: symbol + sign bit, then the window's
            // buffered corrections
            flushEob()
            bw.put(t.acCode(t.acIdx((run << 4) | 1)), 8)
            bw.put(if (coef(k) < 0) 0 else 1, 1)
            emitBr()
            run = 0
          }
        }
        k += 1
      }
      if (run > 0 || brBlock.nonEmpty) {
        // band tail folds into the EOB run; its corrections move to the
        // run's buffer, emitted after the eventual EOBn
        eobrun += 1
        bePending ++= brBlock
        brBlock.clear()
        if (eobrun == 32767) flushEob()
      }
    }
    flushEob()
    bw.finishWithOnes()
  }

  /** The general progressive encoder core: any component geometry
    * (all-1x1 or 4:2:0), spectral-selection bands, optionally the
    * two-level successive-approximation script. Interleaved DC scans
    * traverse the MCU grid (hi×vi blocks per component per MCU);
    * non-interleaved AC scans traverse each component's own UNPADDED
    * block grid, exactly as T.81 prescribes. */
  private[multimodal] def encodeProgressiveCore(w: Int, h: Int, planes: Array[Array[Int]],
                                    planeW: Array[Int], planeH: Array[Int],
                                    samps: Array[Int], quant: Int,
                                    bands: Seq[(Int, Int)], sa: Boolean,
                                    batchEob: Boolean,
                                    restartInterval: Int = 0): Array[Byte] = {
    require(restartInterval >= 0, s"bad restart interval $restartInterval")
    require(bands.nonEmpty, "progressive: no AC bands")
    var prevEnd = 0
    bands.foreach { case (ss, se) =>
      require(ss == prevEnd + 1 && se >= ss && se <= 63,
        s"progressive bands must tile 1..63 in order: $bands")
      prevEnd = se
    }
    require(prevEnd == 63, s"progressive bands must end at 63: $bands")
    val nComp = planes.length
    val t = new ProgTables
    val hMax = samps.map(_ >> 4).max
    val vMax = samps.map(_ & 0x0f).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    val hi = samps.map(_ >> 4)
    val vi = samps.map(_ & 0x0f)
    val bxPad = hi.map(_ * mcusX)
    val byPad = vi.map(_ * mcusY)
    val bxUn = planeW.map(pw => (pw + 7) / 8)
    val byUn = planeH.map(ph => (ph + 7) / 8)
    val coefs = Array.tabulate(nComp)(c =>
      planeCoefs(planes(c), planeW(c), planeH(c), quant, bxPad(c), byPad(c)))
    // interleaved DC traversal: MCU order, hi×vi blocks per component
    val dcTraversal = {
      val b = IndexedSeq.newBuilder[(Int, Array[Long])]
      var by = 0
      while (by < mcusY) {
        var bx = 0
        while (bx < mcusX) {
          var c = 0
          while (c < nComp) {
            var iy = 0
            while (iy < vi(c)) {
              var ix = 0
              while (ix < hi(c)) {
                b += ((c, coefs(c)((by * vi(c) + iy) * bxPad(c) + bx * hi(c) + ix)))
                ix += 1
              }
              iy += 1
            }
            c += 1
          }
          bx += 1
        }
        by += 1
      }
      b.result()
    }
    // non-interleaved AC traversal per component: UNPADDED raster
    def acBlocks(c: Int): IndexedSeq[Array[Long]] = {
      val b = IndexedSeq.newBuilder[Array[Long]]
      var yB = 0
      while (yB < byUn(c)) {
        var xB = 0
        while (xB < bxUn(c)) {
          b += coefs(c)(yB * bxPad(c) + xB)
          xB += 1
        }
        yB += 1
      }
      b.result()
    }
    // blocks per MCU, the restart-boundary unit in interleaved DC scans
    val bpm = (0 until nComp).map(c => hi(c) * vi(c)).sum
    // scan script
    val scans = scala.collection.mutable.ArrayBuffer
      .empty[(Seq[Int], Int, Int, Int, Int, Array[Byte])]
    if (sa) {
      scans += (((0 until nComp), 0, 0, 0, 1,
        dcFirstData(dcTraversal, nComp, 1, t, restartInterval, bpm)))
      scans += (((0 until nComp), 0, 0, 1, 0,
        dcRefineData(dcTraversal, 0, restartInterval, bpm)))
      for (c <- 0 until nComp; (ss, se) <- bands)
        scans += ((Seq(c), ss, se, 0, 1,
          acFirstData(acBlocks(c), ss, se, 1, batchEob, t, restartInterval)))
      for (c <- 0 until nComp; (ss, se) <- bands)
        scans += ((Seq(c), ss, se, 1, 0,
          acRefineData(acBlocks(c), ss, se, 0, t, restartInterval)))
    } else {
      scans += (((0 until nComp), 0, 0, 0, 0,
        dcFirstData(dcTraversal, nComp, 0, t, restartInterval, bpm)))
      for (c <- 0 until nComp; (ss, se) <- bands)
        scans += ((Seq(c), ss, se, 0, 0,
          acFirstData(acBlocks(c), ss, se, 0, batchEob, t, restartInterval)))
    }

    val out = new java.io.ByteArrayOutputStream(4096)
    def marker(m: Int): Unit = { out.write(0xff); out.write(m) }
    def seg(m: Int, body: Array[Byte]): Unit = {
      marker(m)
      out.write(((body.length + 2) >> 8) & 0xff)
      out.write((body.length + 2) & 0xff)
      out.write(body, 0, body.length)
    }
    marker(0xd8)
    seg(0xe0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    if (restartInterval > 0)
      seg(0xdd, Array[Byte](((restartInterval >> 8) & 0xff).toByte,
        (restartInterval & 0xff).toByte))
    seg(0xdb, 0.toByte +: Array.fill(64)(quant.toByte))
    val sof = Array.newBuilder[Byte]
    sof += 8
    sof += ((h >> 8) & 0xff).toByte += (h & 0xff).toByte
    sof += ((w >> 8) & 0xff).toByte += (w & 0xff).toByte
    sof += nComp.toByte
    for (c <- 0 until nComp) sof += (c + 1).toByte += samps(c).toByte += 0.toByte
    seg(0xc2, sof.result()) // SOF2: progressive
    seg(0xc4, dhtBody(0x00, t.dcLen, DcSyms))
    seg(0xc4, dhtBody(0x10, t.acLen, AcProgSyms))
    scans.foreach { case (comps, ss, se, ah, al, data) =>
      val sos = Array.newBuilder[Byte]
      sos += comps.length.toByte
      comps.foreach(ci => { sos += (ci + 1).toByte += 0x00.toByte })
      sos += ss.toByte += se.toByte += ((ah << 4) | al).toByte
      seg(0xda, sos.result())
      out.write(data, 0, data.length)
    }
    marker(0xd9)
    out.toByteArray
  }

  /** Encode grayscale as PROGRESSIVE with SUCCESSIVE APPROXIMATION —
    * the libjpeg-style two-level script real encoders emit: DC first at
    * Al=1 then a DC refinement bit-scan, AC band first scans at Al=1
    * then AC refinement scans delivering the last magnitude bit
    * (correction bits for history coefficients, ±1 arrivals for new
    * ones, EOB runs carrying buffered corrections). All bits are
    * delivered, so the decode equals the baseline decode EXACTLY. */
  def encodeProgressiveSA(w: Int, h: Int, samples: Array[Int],
                          bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63)),
                          restartInterval: Int = 0): Array[Byte] = {
    require(w >= 1 && h >= 1 && samples.length == w * h,
      s"bad dims: $w x $h vs ${samples.length}")
    encodeProgressiveCore(w, h, Array(samples), Array(w), Array(h),
      Array(0x11), Quant, bands, sa = true, batchEob = true,
      restartInterval = restartInterval)
  }

  /** PROGRESSIVE at 4:2:0 — Y full resolution (2×2 sampling), chroma
    * 2×2-mean downsampled, interleaved DC scan over the MCU grid,
    * non-interleaved AC scans over each component's own block grid;
    * `sa = true` adds the successive-approximation two-level script.
    * The shape most real-world progressive JPEGs have. Even dims only
    * (fixture encoder). */
  def encodeProgressive420(w: Int, h: Int, rgb: Array[Int],
                           quant: Int = Quant,
                           bands: Seq[(Int, Int)] = Seq((1, 5), (6, 63)),
                           sa: Boolean = false,
                           batchEob: Boolean = true,
                           restartInterval: Int = 0): Array[Byte] = {
    require(w >= 2 && h >= 2 && w % 2 == 0 && h % 2 == 0,
      s"encodeProgressive420: even dims only: $w x $h")
    require(rgb.length == w * h * 3, s"bad dims: $w x $h x3 vs ${rgb.length}")
    require(quant >= 1 && quant <= 255, s"quant out of byte range: $quant")
    val (yP, cbF, crF) = rgbToYcc(w, h, rgb)
    val cw = w / 2; val chh = h / 2
    def down(src: Array[Int]): Array[Int] = Array.tabulate(cw * chh) { j =>
      val cx = j % cw; val cy = j / cw
      val a = src(2 * cy * w + 2 * cx) + src(2 * cy * w + 2 * cx + 1) +
        src((2 * cy + 1) * w + 2 * cx) + src((2 * cy + 1) * w + 2 * cx + 1)
      clamp255(roundHalfAway(a / 4.0))
    }
    encodeProgressiveCore(w, h, Array(yP, down(cbF), down(crF)),
      Array(w, cw, cw), Array(h, chh, chh), Array(0x22, 0x11, 0x11),
      quant, bands, sa, batchEob, restartInterval)
  }

  /** The shared JFIF forward transform — one fixed IEEE sequence per
    * channel, the q129/q130 oracle contract. */
  private[multimodal] def rgbToYcc(w: Int, h: Int,
                       rgb: Array[Int]): (Array[Int], Array[Int], Array[Int]) = {
    val n = w * h
    val yP = new Array[Int](n); val cbP = new Array[Int](n); val crP = new Array[Int](n)
    var i = 0
    while (i < n) {
      val r = rgb(3 * i).toDouble
      val g = rgb(3 * i + 1).toDouble
      val b = rgb(3 * i + 2).toDouble
      yP(i) = clamp255(roundHalfAway(0.299 * r + 0.587 * g + 0.114 * b))
      cbP(i) = clamp255(roundHalfAway(-0.168736 * r - 0.331264 * g + 0.5 * b + 128.0))
      crP(i) = clamp255(roundHalfAway(0.5 * r - 0.418688 * g - 0.081312 * b + 128.0))
      i += 1
    }
    (yP, cbP, crP)
  }

  /** Canonical code assignment for per-symbol lengths (sorted by
    * (length, order)) — the same construction the decoder derives from
    * BITS/HUFFVAL, so the encoder and any spec-compliant reader agree. */
  private def canonicalCodes(lens: Array[Int]): Array[Int] = {
    val order = lens.indices.sortBy(i => (lens(i), i))
    val codes = new Array[Int](lens.length)
    var code = 0
    var prevLen = 0
    order.foreach { i =>
      code <<= (lens(i) - prevLen)
      prevLen = lens(i)
      codes(i) = code
      code += 1
    }
    codes
  }

  private def dhtBody(classId: Int, lens: Array[Int], syms: Array[Int]): Array[Byte] = {
    val bits = new Array[Byte](16)
    lens.foreach(l => bits(l - 1) = (bits(l - 1) + 1).toByte)
    // HUFFVAL order: symbols sorted by (length, appearance order)
    val order = lens.indices.sortBy(i => (lens(i), i)).map(syms(_))
    (classId.toByte +: bits) ++ order.map(_.toByte)
  }

  private def magBits(v: Long): Int = {
    var a = math.abs(v)
    var n = 0
    while (a != 0) { a >>= 1; n += 1 }
    n
  }

  private def magValue(v: Long, s: Int): Int =
    (if (v >= 0) v else v + (1L << s) - 1).toInt & ((1 << s) - 1)

  private val CosTab: Array[Double] = {
    val t = new Array[Double](8 * 8)
    for (x <- 0 until 8; u <- 0 until 8)
      t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
    t
  }
  private def cFac(u: Int): Double = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0

  private def fdct(b: Array[Double]): Unit = {
    val out = new Array[Double](64)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var sum = 0.0
        var y = 0
        while (y < 8) {
          var x = 0
          while (x < 8) {
            sum += b(y * 8 + x) * CosTab(x * 8 + u) * CosTab(y * 8 + v)
            x += 1
          }
          y += 1
        }
        out(v * 8 + u) = 0.25 * cFac(u) * cFac(v) * sum
        v += 1
      }
      u += 1
    }
    System.arraycopy(out, 0, b, 0, 64)
  }

  private def idct(b: Array[Double]): Unit = {
    val out = new Array[Double](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var sum = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) {
            sum += cFac(u) * cFac(v) * b(v * 8 + u) *
              CosTab(x * 8 + u) * CosTab(y * 8 + v)
            u += 1
          }
          v += 1
        }
        out(y * 8 + x) = 0.25 * sum
        x += 1
      }
      y += 1
    }
    System.arraycopy(out, 0, b, 0, 64)
  }

  // ---- decode ----

  private final class BitReader(d: Array[Byte]) {
    private var pos = 0
    private var acc = 0L
    private var nBits = 0
    /** next bit, or -1 on exhausted/marker */
    def bit(): Int = {
      if (nBits == 0) {
        if (pos >= d.length) return -1
        val b = d(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          if (pos >= d.length) return -1
          val nxt = d(pos) & 0xff
          if (nxt == 0x00) pos += 1 // stuffed literal 0xFF
          else return -1            // a real marker: scan is over
        }
        acc = b
        nBits = 8
      }
      nBits -= 1
      ((acc >>> nBits) & 1L).toInt
    }
    def bits(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) {
        val b = bit()
        if (b < 0) return -1
        v = (v << 1) | b
        i += 1
      }
      v
    }
    /** Discard padding bits and consume an RSTn marker; false on
      * anything else (malformed restart structure). */
    def consumeRestart(): Boolean = {
      acc = 0; nBits = 0
      if (pos + 2 > d.length) return false
      if ((d(pos) & 0xff) != 0xff) return false
      val m = d(pos + 1) & 0xff
      if (m < 0xd0 || m > 0xd7) return false
      pos += 2
      true
    }
  }

  private final class Huff(bits: Array[Int], vals: Array[Int]) {
    // canonical decode: minCode/maxCode/valPtr per length
    private val minCode = new Array[Int](17)
    private val maxCode = Array.fill(17)(-1)
    private val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        if (bits(l - 1) > 0) {
          valPtr(l) = k
          minCode(l) = code
          code += bits(l - 1)
          k += bits(l - 1)
          maxCode(l) = code - 1
        }
        code <<= 1
        l += 1
      }
    }
    /** decode one symbol or -1 */
    def decode(r: BitReader): Int = {
      var code = 0
      var l = 1
      while (l <= 16) {
        val b = r.bit()
        if (b < 0) return -1
        code = (code << 1) | b
        if (maxCode(l) >= 0 && code <= maxCode(l) && code >= minCode(l))
          return vals(valPtr(l) + code - minCode(l))
        l += 1
      }
      -1
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0
    else if (v < (1 << (s - 1))) v - (1 << s) + 1
    else v

  /** PROGRESSIVE (SOF2) decode — all-1x1 OR 4:2:0 sampling, BOTH
    * progressive dimensions: spectral selection (DC scan + non-
    * interleaved AC band scans, full EOBn runs) and successive
    * approximation (first scans at Al>0, DC refinement bit-scans, AC
    * refinement per T.81 G.1.2.3 — ±1<<Al arrivals, correction bits
    * for history coefficients including inside EOB runs). Interleaved
    * DC scans traverse the MCU grid (hi×vi blocks per component);
    * non-interleaved scans traverse the component's own UNPADDED block
    * grid; storage is MCU-padded so both views address the same
    * coefficients. Dequant + IDCT run once at the end. Restart
    * intervals are honored per scan: RSTn boundaries byte-align, reset
    * DC predictors (first scans) and EOB runs. Out of envelope
    * (→ None, the visible stub): inconsistent Ah/Al chains (Ah ≠ Al+1
    * on refine), truncated or structurally malformed scan/restart
    * sequences. Called from [[decode]] at the first SOS; inter-scan
    * DHT/DQT segments are honored. */
  private def decodeProgressive(bytes: Array[Byte], pStart: Int,
                                w: Int, h: Int,
                                compIds: Array[Int], compQuant: Array[Int],
                                compSamp: Array[Int],
                                dcTabs: java.util.HashMap[Int, Huff],
                                acTabs: java.util.HashMap[Int, Huff],
                                quants: java.util.HashMap[Int, Array[Int]],
                                restartInterval: Int): Option[(Int, Int, Int, Array[Int])] = {
    if (w < 1 || h < 1 || w > (1 << 14) || h > (1 << 14)) return None
    val nComp = compIds.length
    val hMax = compSamp.map(_ >> 4).max
    val vMax = compSamp.map(_ & 0x0f).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    val hi = compSamp.map(_ >> 4)
    val vi = compSamp.map(_ & 0x0f)
    val bxPad = Array.tabulate(nComp)(c => hi(c) * mcusX)
    val byPad = Array.tabulate(nComp)(c => vi(c) * mcusY)
    val planeW = Array.tabulate(nComp)(c => (w * hi(c) + hMax - 1) / hMax)
    val planeH = Array.tabulate(nComp)(c => (h * vi(c) + vMax - 1) / vMax)
    val bxUn = planeW.map(pw => (pw + 7) / 8)
    val byUn = planeH.map(ph => (ph + 7) / 8)
    // quantized coefficients, natural (row-major frequency) order,
    // MCU-padded per-component block grids
    val coefs = Array.tabulate(nComp)(c =>
      new Array[Int](bxPad(c) * byPad(c) * 64))
    // base offsets of a component's blocks in UNPADDED raster order —
    // the traversal of every non-interleaved scan
    def unpaddedBases(c: Int): Array[Int] = {
      val out = new Array[Int](bxUn(c) * byUn(c))
      var i = 0
      var yB = 0
      while (yB < byUn(c)) {
        var xB = 0
        while (xB < bxUn(c)) {
          out(i) = (yB * bxPad(c) + xB) * 64
          i += 1
          xB += 1
        }
        yB += 1
      }
      out
    }
    var ri = restartInterval // re-checked if a DRI arrives between scans
    var p = pStart
    var sawEoi = false
    while (!sawEoi) {
      if (p + 2 > bytes.length) return None
      if ((bytes(p) & 0xff) != 0xff) return None
      val m = bytes(p + 1) & 0xff
      if (m == 0xd9) sawEoi = true
      else {
        if (p + 4 > bytes.length) return None
        val len = ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
        if (len < 2 || p + 2 + len > bytes.length) return None
        val at = p + 4
        m match {
          case 0xda =>
            // len >= 3 guarantees the ns byte exists (a declared len of
            // 2 passes the generic length check with at == segment end —
            // the truncated-SOS crash a crawl payload must not trigger)
            if (len < 3) return None
            val ns = bytes(at) & 0xff
            if (ns < 1 || ns > nComp || len < 4 + 2 * ns + 2) return None
            val scanComp = new Array[Int](ns)
            val scanDc = new Array[Int](ns)
            val scanAc = new Array[Int](ns)
            var c = 0
            while (c < ns) {
              val cs = bytes(at + 1 + 2 * c) & 0xff
              val pos = compIds.indexOf(cs)
              if (pos < 0) return None
              scanComp(c) = pos
              scanDc(c) = (bytes(at + 2 + 2 * c) & 0xff) >> 4
              scanAc(c) = bytes(at + 2 + 2 * c) & 0x0f
              c += 1
            }
            val ss = bytes(at + 1 + 2 * ns) & 0xff
            val se = bytes(at + 2 + 2 * ns) & 0xff
            val ahAl = bytes(at + 3 + 2 * ns) & 0xff
            val ah = ahAl >> 4
            val al = ahAl & 0x0f
            if (al > 13 || (ah != 0 && ah != al + 1)) return None
            val dataStart = p + 2 + len
            // entropy data ends at the first non-stuffed, non-RSTn
            // marker (restart markers belong to the scan's data)
            var q = dataStart
            var end = -1
            while (end < 0 && q + 1 < bytes.length) {
              val nxt = bytes(q + 1) & 0xff
              if ((bytes(q) & 0xff) == 0xff && nxt != 0x00 &&
                !(nxt >= 0xd0 && nxt <= 0xd7))
                end = q
              else q += 1
            }
            if (end < 0) return None
            val r = new BitReader(
              java.util.Arrays.copyOfRange(bytes, dataStart, end))
            if (ss == 0) {
              // DC scan: Se must be 0. Interleaved (ns > 1): MCU
              // traversal, hi×vi blocks per component. Non-interleaved
              // (ns == 1): the component's unpadded raster grid.
              if (se != 0) return None
              if (ah == 0) {
                val dcH = Array.tabulate(ns)(i => dcTabs.get(scanDc(i)))
                if (dcH.exists(_ == null)) return None
                val prevDc = new Array[Int](ns)
                def readDc(i: Int): Boolean = {
                  val s = dcH(i).decode(r)
                  if (s < 0 || s > 11) return false
                  val dcv =
                    if (s == 0) 0
                    else {
                      val v = r.bits(s)
                      if (v < 0) return false
                      extend(v, s)
                    }
                  prevDc(i) += dcv
                  true
                }
                var mcuIdx = 0
                if (ns > 1) {
                  var by = 0
                  while (by < mcusY) {
                    var bx = 0
                    while (bx < mcusX) {
                      if (ri > 0 && mcuIdx > 0 && mcuIdx % ri == 0) {
                        if (!r.consumeRestart()) return None
                        java.util.Arrays.fill(prevDc, 0)
                      }
                      mcuIdx += 1
                      var i = 0
                      while (i < ns) {
                        val cc = scanComp(i)
                        var iy = 0
                        while (iy < vi(cc)) {
                          var ix = 0
                          while (ix < hi(cc)) {
                            if (!readDc(i)) return None
                            coefs(cc)(((by * vi(cc) + iy) * bxPad(cc) +
                              bx * hi(cc) + ix) * 64) = prevDc(i) << al
                            ix += 1
                          }
                          iy += 1
                        }
                        i += 1
                      }
                      bx += 1
                    }
                    by += 1
                  }
                } else {
                  val cc = scanComp(0)
                  val bases = unpaddedBases(cc)
                  var b = 0
                  while (b < bases.length) {
                    if (ri > 0 && b > 0 && b % ri == 0) {
                      if (!r.consumeRestart()) return None
                      java.util.Arrays.fill(prevDc, 0)
                    }
                    if (!readDc(0)) return None
                    coefs(cc)(bases(b)) = prevDc(0) << al
                    b += 1
                  }
                }
              } else {
                // refinement: one raw bit per block, OR'd at the new
                // precision (two's-complement OR matches the arithmetic-
                // shift point transform exactly)
                def refineOne(cc: Int, base: Int): Boolean = {
                  val bit = r.bit()
                  if (bit < 0) return false
                  if (bit == 1) coefs(cc)(base) |= (1 << al)
                  true
                }
                var mcuIdx = 0
                if (ns > 1) {
                  var by = 0
                  while (by < mcusY) {
                    var bx = 0
                    while (bx < mcusX) {
                      if (ri > 0 && mcuIdx > 0 && mcuIdx % ri == 0 &&
                        !r.consumeRestart()) return None
                      mcuIdx += 1
                      var i = 0
                      while (i < ns) {
                        val cc = scanComp(i)
                        var iy = 0
                        while (iy < vi(cc)) {
                          var ix = 0
                          while (ix < hi(cc)) {
                            if (!refineOne(cc, ((by * vi(cc) + iy) * bxPad(cc) +
                              bx * hi(cc) + ix) * 64)) return None
                            ix += 1
                          }
                          iy += 1
                        }
                        i += 1
                      }
                      bx += 1
                    }
                    by += 1
                  }
                } else {
                  val cc = scanComp(0)
                  val bases = unpaddedBases(cc)
                  var b = 0
                  while (b < bases.length) {
                    if (ri > 0 && b > 0 && b % ri == 0 &&
                      !r.consumeRestart()) return None
                    if (!refineOne(cc, bases(b))) return None
                    b += 1
                  }
                }
              }
            } else {
              // AC band scan: exactly one component (spec), 1 <= Ss <= Se <= 63
              if (ns != 1 || ss > se || se > 63) return None
              val acH = acTabs.get(scanAc(0))
              if (acH == null) return None
              val comp = scanComp(0)
              val cf = coefs(comp)
              val bases = unpaddedBases(comp)
              var eobrun = 0
              if (ah == 0) {
                // first scan at this precision: magnitudes point-
                // transformed (|v| >> Al), stored re-shifted sign-magnitude
                var b = 0
                while (b < bases.length) {
                  if (ri > 0 && b > 0 && b % ri == 0) {
                    if (!r.consumeRestart()) return None
                    eobrun = 0 // a run cannot legally span a restart
                  }
                  if (eobrun > 0) eobrun -= 1 // this block's band is all zero
                  else {
                    val base = bases(b)
                    var k = ss
                    var done = false
                    while (!done && k <= se) {
                      val sym = acH.decode(r)
                      if (sym < 0) return None
                      val run = sym >> 4
                      val sz = sym & 0x0f
                      if (sz == 0) {
                        if (run == 15) k += 16 // ZRL
                        else {
                          var n = (1 << run) - 1
                          if (run > 0) {
                            val extra = r.bits(run)
                            if (extra < 0) return None
                            n += extra
                          }
                          eobrun = n
                          done = true
                        }
                      } else {
                        if (sz > 10) return None
                        k += run
                        if (k > se) return None
                        val v = r.bits(sz)
                        if (v < 0) return None
                        cf(base + ZigZag(k)) = extend(v, sz) << al
                        k += 1
                      }
                    }
                  }
                  b += 1
                }
              } else {
                // refinement scan (T.81 G.1.2.3, the libjpeg structure):
                // new coefficients arrive as ±1<<Al; already-nonzero ones
                // read a correction bit, including inside EOB runs
                val p1 = 1 << al
                val m1 = -1 << al
                var b = 0
                while (b < bases.length) {
                  if (ri > 0 && b > 0 && b % ri == 0) {
                    if (!r.consumeRestart()) return None
                    eobrun = 0 // a run cannot legally span a restart
                  }
                  val base = bases(b)
                  var k = ss
                  if (eobrun == 0) {
                    var break1 = false
                    while (!break1 && k <= se) {
                      val sym = acH.decode(r)
                      if (sym < 0) return None
                      var run = sym >> 4
                      val sz = sym & 0x0f
                      var newval = 0
                      if (sz == 0) {
                        if (run != 15) {
                          eobrun = 1 << run
                          if (run > 0) {
                            val extra = r.bits(run)
                            if (extra < 0) return None
                            eobrun += extra
                          }
                          break1 = true
                        }
                        // run == 15 (ZRL): newval stays 0
                      } else {
                        if (sz != 1) return None
                        val bit = r.bit()
                        if (bit < 0) return None
                        newval = if (bit == 1) p1 else m1
                      }
                      if (!break1) {
                        var placed = false
                        while (!placed && k <= se) {
                          val pos = base + ZigZag(k)
                          if (cf(pos) != 0) {
                            val bit = r.bit()
                            if (bit < 0) return None
                            if (bit == 1 && (cf(pos) & p1) == 0)
                              cf(pos) += (if (cf(pos) >= 0) p1 else m1)
                          } else {
                            if (run == 0) {
                              if (newval != 0) cf(pos) = newval
                              placed = true
                            } else run -= 1
                          }
                          k += 1
                        }
                      }
                    }
                  }
                  if (eobrun > 0) {
                    // EOB-run block: corrections only for the remainder
                    while (k <= se) {
                      val pos = base + ZigZag(k)
                      if (cf(pos) != 0) {
                        val bit = r.bit()
                        if (bit < 0) return None
                        if (bit == 1 && (cf(pos) & p1) == 0)
                          cf(pos) += (if (cf(pos) >= 0) p1 else m1)
                      }
                      k += 1
                    }
                    eobrun -= 1
                  }
                  b += 1
                }
              }
            }
            p = end
          case 0xc4 => // DHT between scans
            var q = at
            while (q < p + 2 + len) {
              val tc = (bytes(q) & 0xff) >> 4
              val th = bytes(q) & 0x0f
              if (q + 17 > p + 2 + len) return None
              val bs = Array.tabulate(16)(i => bytes(q + 1 + i) & 0xff)
              val n = bs.sum
              if (q + 17 + n > p + 2 + len) return None
              val vs = Array.tabulate(n)(i => bytes(q + 17 + i) & 0xff)
              val t = new Huff(bs, vs)
              if (tc == 0) dcTabs.put(th, t) else acTabs.put(th, t)
              q += 17 + n
            }
            p += 2 + len
          case 0xdb => // DQT between scans
            var q = at
            while (q < p + 2 + len) {
              val pq = (bytes(q) & 0xff) >> 4
              val tq = bytes(q) & 0x0f
              if (pq != 0) return None
              if (q + 1 + 64 > p + 2 + len) return None
              val t = new Array[Int](64)
              var i = 0
              while (i < 64) { t(ZigZag(i)) = bytes(q + 1 + i) & 0xff; i += 1 }
              quants.put(tq, t)
              q += 65
            }
            p += 2 + len
          case 0xdd =>
            if (len < 4) return None
            ri = ((bytes(at) & 0xff) << 8) | (bytes(at + 1) & 0xff)
            p += 2 + len
          case _ => p += 2 + len // APPn/COM
        }
      }
    }
    val quant = Array.tabulate(nComp)(c => quants.get(compQuant(c)))
    if (quant.exists(_ == null)) return None
    // dequantize + IDCT every block (padded grid; out-of-plane pixels
    // drop at the bounds check) into per-component planes
    val planes = Array.tabulate(nComp)(c => new Array[Int](planeW(c) * planeH(c)))
    val blk = new Array[Double](64)
    var c = 0
    while (c < nComp) {
      var b = 0
      val nB = bxPad(c) * byPad(c)
      while (b < nB) {
        var i = 0
        while (i < 64) {
          blk(i) = coefs(c)(b * 64 + i).toDouble * quant(c)(i)
          i += 1
        }
        idct(blk)
        val x0 = (b % bxPad(c)) * 8
        val y0 = (b / bxPad(c)) * 8
        i = 0
        while (i < 64) {
          val x = x0 + i % 8
          val y = y0 + i / 8
          if (x < planeW(c) && y < planeH(c)) {
            val px = roundHalfAway(blk(i)) + 128L
            planes(c)(y * planeW(c) + x) =
              if (px < 0) 0 else if (px > 255) 255 else px.toInt
          }
          i += 1
        }
        b += 1
      }
      c += 1
    }
    if (nComp == 1) Some((w, h, 1, planes(0)))
    else {
      // JFIF inverse transform with sampling-ratio chroma mapping —
      // identical to the baseline path (identity at 4:4:4, x/2 at 4:2:0)
      val out = new Array[Int](w * h * 3)
      val cbHi = compSamp(1) >> 4; val cbVi = compSamp(1) & 0x0f
      val crHi = compSamp(2) >> 4; val crVi = compSamp(2) & 0x0f
      var yy = 0
      while (yy < h) {
        var xx = 0
        while (xx < w) {
          val i = yy * w + xx
          val y = planes(0)(yy * planeW(0) + xx).toDouble
          val cbx = math.min(xx * cbHi / hMax, planeW(1) - 1)
          val cby = math.min(yy * cbVi / vMax, planeH(1) - 1)
          val crx = math.min(xx * crHi / hMax, planeW(2) - 1)
          val cry = math.min(yy * crVi / vMax, planeH(2) - 1)
          val cb = planes(1)(cby * planeW(1) + cbx).toDouble
          val cr = planes(2)(cry * planeW(2) + crx).toDouble
          out(3 * i) = clamp255(roundHalfAway(y + 1.402 * (cr - 128.0)))
          out(3 * i + 1) = clamp255(roundHalfAway(
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)))
          out(3 * i + 2) = clamp255(roundHalfAway(y + 1.772 * (cb - 128.0)))
          xx += 1
        }
        yy += 1
      }
      Some((w, h, 3, out))
    }
  }
  /** Decode a baseline JPEG — grayscale (channels 1) or 4:4:4 YCbCr
    * color (channels 3, interleaved RGB out): Some((w, h, ch, samples))
    * or None (progressive, subsampled, corrupt, truncated — caller
    * stubs). */
  def decode(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Int])] = {
    if (bytes == null || bytes.length < 4) return None
    if ((bytes(0) & 0xff) != 0xff || (bytes(1) & 0xff) != 0xd8) return None
    var p = 2
    var w = 0; var h = 0
    var progressive = false
    var compIds: Array[Int] = null // SOF order
    var compQuant: Array[Int] = null
    var compSamp: Array[Int] = null
    var compDc: Array[Int] = null
    var compAc: Array[Int] = null
    val dcTabs = new java.util.HashMap[Int, Huff]()
    val acTabs = new java.util.HashMap[Int, Huff]()
    val quants = new java.util.HashMap[Int, Array[Int]]()
    var restartInterval = 0
    var scanAt = -1
    while (scanAt < 0) {
      if (p + 4 > bytes.length) return None
      if ((bytes(p) & 0xff) != 0xff) return None
      val m = bytes(p + 1) & 0xff
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7)) { p += 2 }
      else {
        val len = ((bytes(p + 2) & 0xff) << 8) | (bytes(p + 3) & 0xff)
        if (len < 2 || p + 2 + len > bytes.length) return None
        val at = p + 4
        m match {
          case 0xc0 | 0xc2 => // baseline SOF0 / progressive SOF2
            if (len < 8 + 3) return None
            if ((bytes(at) & 0xff) != 8) return None // 8-bit only
            h = ((bytes(at + 1) & 0xff) << 8) | (bytes(at + 2) & 0xff)
            w = ((bytes(at + 3) & 0xff) << 8) | (bytes(at + 4) & 0xff)
            val nComp = bytes(at + 5) & 0xff
            if (nComp != 1 && nComp != 3) return None
            if (len < 8 + 3 * nComp) return None
            compIds = new Array[Int](nComp)
            compQuant = new Array[Int](nComp)
            compSamp = new Array[Int](nComp)
            var c = 0
            while (c < nComp) {
              compIds(c) = bytes(at + 6 + 3 * c) & 0xff
              compSamp(c) = bytes(at + 7 + 3 * c) & 0xff
              compQuant(c) = bytes(at + 8 + 3 * c) & 0xff
              c += 1
            }
            // supported sampling shapes, baseline AND progressive:
            // all-1x1 (grayscale / 4:4:4) or 4:2:0 (Y 2x2, chroma 1x1);
            // anything else declines
            val all11 = compSamp.forall(_ == 0x11)
            val is420 = nComp == 3 && compSamp(0) == 0x22 &&
              compSamp(1) == 0x11 && compSamp(2) == 0x11
            if (m == 0xc2) progressive = true
            if (!all11 && !is420) return None
          case 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 |
               0xc9 | 0xca | 0xcb | 0xcd | 0xce | 0xcf =>
            return None // extended/lossless/arithmetic
          case 0xdb => // DQT (possibly several tables per segment)
            var q = at
            while (q < p + 2 + len) {
              val pq = (bytes(q) & 0xff) >> 4
              val tq = bytes(q) & 0x0f
              if (pq != 0) return None // 8-bit tables only
              if (q + 1 + 64 > p + 2 + len) return None
              val t = new Array[Int](64)
              var i = 0
              while (i < 64) {
                t(ZigZag(i)) = bytes(q + 1 + i) & 0xff
                i += 1
              }
              quants.put(tq, t)
              q += 65
            }
          case 0xc4 => // DHT (possibly several tables per segment)
            var q = at
            while (q < p + 2 + len) {
              val tc = (bytes(q) & 0xff) >> 4
              val th = bytes(q) & 0x0f
              if (q + 17 > p + 2 + len) return None
              val bs = Array.tabulate(16)(i => bytes(q + 1 + i) & 0xff)
              val n = bs.sum
              if (q + 17 + n > p + 2 + len) return None
              val vs = Array.tabulate(n)(i => bytes(q + 17 + i) & 0xff)
              val t = new Huff(bs, vs)
              if (tc == 0) dcTabs.put(th, t) else acTabs.put(th, t)
              q += 17 + n
            }
          case 0xda => // SOS
            if (compIds == null) return None
            if (progressive)
              return decodeProgressive(bytes, p, w, h, compIds, compQuant,
                compSamp, dcTabs, acTabs, quants, restartInterval)
            // len >= 3 guarantees the ns byte exists (truncated-SOS guard)
            if (len < 3) return None
            val ns = bytes(at) & 0xff
            if (ns != compIds.length || len < 4 + 2 * ns + 2) return None
            compDc = new Array[Int](ns)
            compAc = new Array[Int](ns)
            var c = 0
            while (c < ns) { // match scan components to SOF order by id
              val cs = bytes(at + 1 + 2 * c) & 0xff
              val pos = compIds.indexOf(cs)
              if (pos < 0) return None
              compDc(pos) = (bytes(at + 2 + 2 * c) & 0xff) >> 4
              compAc(pos) = bytes(at + 2 + 2 * c) & 0x0f
              c += 1
            }
            scanAt = p + 2 + len
          case 0xdd => // DRI: restart interval in MCUs
            if (len < 4) return None
            restartInterval = ((bytes(at) & 0xff) << 8) | (bytes(at + 1) & 0xff)
          case _ => () // APPn/COM: skip
        }
        p += 2 + len
      }
    }
    if (w < 1 || h < 1 || w > (1 << 14) || h > (1 << 14)) return None
    val nComp = compIds.length
    val quant = Array.tabulate(nComp)(c => quants.get(compQuant(c)))
    val dc = Array.tabulate(nComp)(c => dcTabs.get(compDc(c)))
    val ac = Array.tabulate(nComp)(c => acTabs.get(compAc(c)))
    if (quant.exists(_ == null) || dc.exists(_ == null) || ac.exists(_ == null))
      return None
    val r = new BitReader(java.util.Arrays.copyOfRange(bytes, scanAt, bytes.length))
    val hMax = compSamp.map(_ >> 4).max
    val vMax = compSamp.map(_ & 0x0f).max
    val mcusX = (w + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (h + 8 * vMax - 1) / (8 * vMax)
    // per-component plane dims: ceil(w·hi/hMax) × ceil(h·vi/vMax)
    val planeW = Array.tabulate(nComp)(c =>
      (w * (compSamp(c) >> 4) + hMax - 1) / hMax)
    val planeH = Array.tabulate(nComp)(c =>
      (h * (compSamp(c) & 0x0f) + vMax - 1) / vMax)
    val planes = Array.tabulate(nComp)(c => new Array[Int](planeW(c) * planeH(c)))
    val coef = new Array[Double](64)
    val prevDc = new Array[Int](nComp)
    var mcuIdx = 0
    var by = 0
    while (by < mcusY) {
      var bx = 0
      while (bx < mcusX) {
        // restart boundary: byte-align, consume RSTn, reset predictors
        if (restartInterval > 0 && mcuIdx > 0 &&
          mcuIdx % restartInterval == 0) {
          if (!r.consumeRestart()) return None
          java.util.Arrays.fill(prevDc, 0)
        }
        mcuIdx += 1
        var c = 0
        while (c < nComp) { // interleaved MCU: hi×vi blocks per component
          val hi = compSamp(c) >> 4
          val vi = compSamp(c) & 0x0f
          var iy = 0
          while (iy < vi) {
            var ix = 0
            while (ix < hi) {
              java.util.Arrays.fill(coef, 0.0)
              // DC
              val s = dc(c).decode(r)
              if (s < 0 || s > 11) return None
              val dcv =
                if (s == 0) 0
                else {
                  val v = r.bits(s)
                  if (v < 0) return None
                  extend(v, s)
                }
              prevDc(c) += dcv
              coef(0) = prevDc(c).toDouble * quant(c)(0)
              // AC
              var k = 1
              var done = false
              while (!done && k < 64) {
                val sym = ac(c).decode(r)
                if (sym < 0) return None
                if (sym == 0x00) done = true // EOB
                else if (sym == 0xf0) k += 16 // ZRL
                else {
                  val run = sym >> 4
                  val sz = sym & 0x0f
                  if (sz == 0 || sz > 10) return None
                  k += run
                  if (k > 63) return None
                  val v = r.bits(sz)
                  if (v < 0) return None
                  coef(ZigZag(k)) = extend(v, sz).toDouble * quant(c)(ZigZag(k))
                  k += 1
                }
              }
              idct(coef)
              val x0 = (bx * hi + ix) * 8
              val y0 = (by * vi + iy) * 8
              var i = 0
              while (i < 64) {
                val x = x0 + i % 8
                val y = y0 + i / 8
                if (x < planeW(c) && y < planeH(c)) {
                  val px = roundHalfAway(coef(i)) + 128L
                  planes(c)(y * planeW(c) + x) =
                    if (px < 0) 0 else if (px > 255) 255 else px.toInt
                }
                i += 1
              }
              ix += 1
            }
            iy += 1
          }
          c += 1
        }
        bx += 1
      }
      by += 1
    }
    if (nComp == 1) Some((w, h, 1, planes(0)))
    else {
      // JFIF inverse transform — one fixed IEEE sequence per channel,
      // mirrored verbatim by the q129/q130 oracles. Chroma samples map
      // through the sampling ratio (identity at 4:4:4, x/2 at 4:2:0).
      val out = new Array[Int](w * h * 3)
      val cbHi = compSamp(1) >> 4; val cbVi = compSamp(1) & 0x0f
      val crHi = compSamp(2) >> 4; val crVi = compSamp(2) & 0x0f
      var yy = 0
      while (yy < h) {
        var xx = 0
        while (xx < w) {
          val i = yy * w + xx
          val y = planes(0)(yy * planeW(0) + xx).toDouble
          val cbx = math.min(xx * cbHi / hMax, planeW(1) - 1)
          val cby = math.min(yy * cbVi / vMax, planeH(1) - 1)
          val crx = math.min(xx * crHi / hMax, planeW(2) - 1)
          val cry = math.min(yy * crVi / vMax, planeH(2) - 1)
          val cb = planes(1)(cby * planeW(1) + cbx).toDouble
          val cr = planes(2)(cry * planeW(2) + crx).toDouble
          out(3 * i) = clamp255(roundHalfAway(y + 1.402 * (cr - 128.0)))
          out(3 * i + 1) = clamp255(roundHalfAway(
            y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)))
          out(3 * i + 2) = clamp255(roundHalfAway(y + 1.772 * (cb - 128.0)))
          xx += 1
        }
        yy += 1
      }
      Some((w, h, 3, out))
    }
  }
}
