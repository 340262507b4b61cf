package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** IDN host folding: every dot-separated label containing a non-ASCII
  * code point is lowercased and encoded to its RFC 3492 punycode ACE
  * form (`xn--` prefix) — so
  * `bücher.example.com` and `xn--bcher-kva.example.com` land on the
  * SAME canonical host and URL-level dedup collides them (the round-11
  * "what's missing #1" residual; real crawls carry both forms of every
  * internationalized site).
  *
  * Deliberate semantics (stated, not hidden):
  *  - the fold direction is Unicode → ACE (DNS's wire form), the
  *    common-crawl canonical; already-ACE (`xn--`) labels and all-ASCII
  *    labels pass through lowercased, so the fold is idempotent;
  *  - lowercasing is `java.util.Locale.ROOT` full Unicode lowercase;
  *    no further nameprep mapping — IDNA2008-leaning, so `straße`
  *    keeps ß (encodes to `xn--strae-oqa`) where IDNA2003 would map it
  *    to `strasse`; either choice is deterministic and both forms of a
  *    host still canonicalize stably;
  *  - hostile inputs never throw (the crawl contract): labels past
  *    3,000 code points or hitting the RFC 3492 overflow guard return
  *    unchanged (lowercased), as does anything already pure ASCII.
  *
  * Why native: punycode is an inherently stateful per-label loop (the
  * delta/bias adaptation) that no built-in expression composition can
  * express. [[UrlCanonExpr]]'s host pipeline calls [[IdnHost.fold]]
  * inside its one codegen'd pass. */
object IdnHost {

  private val Base = 36
  private val TMin = 1
  private val TMax = 26
  private val Skew = 38
  private val Damp = 700
  private val InitialBias = 72
  private val InitialN = 128
  private val MaxLabel = 3000

  /** Fold a whole host: split on '.', fold each label, rejoin. ASCII
    * fast path: a host with no code point ≥ 128 is returned as-is
    * (the caller lowercases hosts already; this fold lowercases only
    * labels it has to touch). */
  def fold(host: UTF8String): UTF8String = {
    val s = host.toString
    var ascii = true
    var i = 0
    while (ascii && i < s.length) {
      if (s.charAt(i) >= 128) ascii = false
      i += 1
    }
    if (ascii) return host
    val out = new java.lang.StringBuilder(s.length + 16)
    var start = 0
    var first = true
    while (start <= s.length) {
      val dot = s.indexOf('.', start)
      val end = if (dot < 0) s.length else dot
      if (!first) out.append('.')
      out.append(foldLabel(s.substring(start, end)))
      first = false
      start = end + 1
      if (dot < 0) start = s.length + 1
    }
    UTF8String.fromString(out.toString)
  }

  /** One label: ASCII → lowercase; non-ASCII → "xn--" + punycode of the
    * Unicode-lowercased code points; overflow/oversized → lowercased
    * input unchanged. */
  private def foldLabel(label: String): String = {
    var ascii = true
    var i = 0
    while (ascii && i < label.length) {
      if (label.charAt(i) >= 128) ascii = false
      i += 1
    }
    val lower = label.toLowerCase(java.util.Locale.ROOT)
    if (ascii) return lower
    // re-check AFTER lowercasing: a few non-ASCII chars lowercase to
    // pure ASCII (Kelvin sign U+212A -> 'k') — such a label is plain
    // ASCII in DNS terms and must NOT grow a pseudo-ACE "xn--" form
    // that misses the collision with its ASCII spelling.
    var asciiLower = true
    var j = 0
    while (asciiLower && j < lower.length) {
      if (lower.charAt(j) >= 128) asciiLower = false
      j += 1
    }
    if (asciiLower) return lower
    val cps = lower.codePoints().toArray
    if (cps.length > MaxLabel) return lower
    val enc = punycode(cps)
    if (enc == null) lower else "xn--" + enc
  }

  private def digit(d: Int): Char =
    if (d < 26) ('a' + d).toChar else ('0' + d - 26).toChar

  private def adapt(delta0: Int, numPoints: Int, firstTime: Boolean): Int = {
    var delta = if (firstTime) delta0 / Damp else delta0 / 2
    delta += delta / numPoints
    var k = 0
    while (delta > ((Base - TMin) * TMax) / 2) {
      delta /= Base - TMin
      k += Base
    }
    k + ((Base - TMin + 1) * delta) / (delta + Skew)
  }

  /** RFC 3492 §6.3 encoder over code points; null on overflow. */
  private def punycode(cps: Array[Int]): String = {
    val out = new java.lang.StringBuilder(cps.length * 2)
    var h = 0
    var i = 0
    while (i < cps.length) {
      if (cps(i) < 128) { out.append(cps(i).toChar); h += 1 }
      i += 1
    }
    val b = h
    if (b > 0) out.append('-')
    var n = InitialN
    var delta = 0L
    var bias = InitialBias
    while (h < cps.length) {
      var m = Int.MaxValue
      i = 0
      while (i < cps.length) {
        val c = cps(i)
        if (c >= n && c < m) m = c
        i += 1
      }
      delta += (m.toLong - n) * (h + 1)
      if (delta > Int.MaxValue) return null // overflow guard (RFC 3492 §6.4)
      n = m
      i = 0
      while (i < cps.length) {
        val c = cps(i)
        if (c < n) {
          delta += 1
          if (delta > Int.MaxValue) return null
        }
        if (c == n) {
          var q = delta.toInt
          var k = Base
          var done = false
          while (!done) {
            val t = if (k <= bias) TMin
              else if (k >= bias + TMax) TMax else k - bias
            if (q < t) done = true
            else {
              out.append(digit(t + (q - t) % (Base - t)))
              q = (q - t) / (Base - t)
              k += Base
            }
          }
          out.append(digit(q))
          bias = adapt(delta.toInt, h + 1, h == b)
          delta = 0
          h += 1
        }
        i += 1
      }
      delta += 1
      n += 1
    }
    out.toString
  }
}
