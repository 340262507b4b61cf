package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** URL canonicalization as ONE codegen'd scalar pass (r19).
  *
  * Semantics are [[UrlExprs]]' composed-Column pipeline, verbatim —
  * same canonical form, same garbage handling, same NULL contract; the
  * implementation is a straight transcription of that pipeline into a
  * single per-row function (UrlCanonEquivalenceSpec holds the two
  * implementations byte-identical over fixtures, adversarial cases and
  * random inputs).
  *
  * Why native (guide §7.3 "very large plans" + §1.2 step 2): the
  * composed pipeline substitutes the percent-normalization subtree into
  * every component extraction, compounding to ~5,000 expression nodes
  * per call (measured, OPTIMIZATION_r19.md §3) — ~0.25 s of analyzer/
  * optimizer/codegen work per ACTION even warm, paid again by every streaming
  * micro-batch's incremental plan (q163/q164: 0.15–0.4 s/batch of
  * queryPlanning), and ~1 ms/row at execution (q155: 0.5 s for 500
  * rows — dozens of regex/array passes per URL). One expression node
  * brings planning back to baseline and evaluation to a few µs/row; at
  * 100 TB the per-row factor is the one that scales.
  *
  * The handful of steps whose corner semantics live in java.util.regex
  * (fragment strip's `$`-before-final-newline, tracking-param `rlike`)
  * keep their EXACT patterns on the same engine, precompiled once. */
case class CanonicalizeUrlExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    if (child.dataType == StringType || child.dataType == org.apache.spark.sql.types.NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"canonicalize_url expects STRING, got ${child.dataType.sql}")
  override def nullSafeEval(v: Any): Any =
    UrlCanon.canonical(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = "graft.functions.UrlCanon.canonical"
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = $f($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): CanonicalizeUrlExpr =
    copy(c)
  override def prettyName: String = "canonicalize_url"
}

/** [[CanonicalizeUrlExpr]]'s host-only sibling — [[UrlExprs.canonicalHost]]
  * semantics in one scalar pass. */
case class CanonicalHostExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes() =
    if (child.dataType == StringType || child.dataType == org.apache.spark.sql.types.NullType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"canonical_host expects STRING, got ${child.dataType.sql}")
  override def nullSafeEval(v: Any): Any =
    UrlCanon.host(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = "graft.functions.UrlCanon.host"
    nullSafeCodeGen(ctx, ev, c =>
      s"""
         |${ev.value} = $f($c);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }
  override protected def withNewChildInternal(c: Expression): CanonicalHostExpr =
    copy(c)
  override def prettyName: String = "canonical_host"
}

/** The shared single-pass implementation. Every step mirrors one step
  * of the composed pipeline in [[UrlExprs]]; comments name the Column
  * op each block transcribes so the two stay reviewably in lockstep. */
object UrlCanon {

  // regexp_replace(url, "#.*$", "") — keep the exact engine semantics
  // ($ also matches before a FINAL line terminator)
  private val FragPat = java.util.regex.Pattern.compile("#.*$")
  // p.rlike("^(utm_[^=]*|gclid|fbclid|msclkid)(=.*)?$")
  private val TrackingPat =
    java.util.regex.Pattern.compile("^(utm_[^=]*|gclid|fbclid|msclkid)(=.*)?$")

  private def isHexChar(c: Char): Boolean =
    (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
  private def hexVal(c: Char): Int =
    if (c <= '9') c - '0' else (c | 0x20) - 'a' + 10
  private def upperHex(c: Char): Char =
    if (c >= 'a' && c <= 'f') (c - 32).toChar else c
  // RFC 3986 unreserved: ALPHA / DIGIT / - . _ ~
  private def unreserved(code: Int): Boolean =
    (code >= 65 && code <= 90) || (code >= 97 && code <= 122) ||
      (code >= 48 && code <= 57) ||
      code == 45 || code == 46 || code == 95 || code == 126

  /** The composed form's escape test is `upper(substring(p, 1, 2))`
    * matching `^[0-9A-F]{2}$` — which, besides ASCII hex pairs, accepts
    * exactly ONE non-ASCII shape: a single code point whose Unicode
    * uppercase is two hex chars (U+FB00 'ﬀ' → "FF"; no other case
    * mapping lands entirely in 0-9A-F). Mirror it exactly: returns the
    * escape code, or -1 when invalid. The ligature acceptance implies
    * rest = substr(3rd code point) = "" (a 2-code-point p would
    * uppercase to ≥3 chars and fail the {2} anchor). */
  private def escapeCode(p: String): Int = {
    if (p.length >= 2 && isHexChar(p.charAt(0)) && isHexChar(p.charAt(1)))
      return hexVal(p.charAt(0)) * 16 + hexVal(p.charAt(1))
    if (p.isEmpty || p.codePointCount(0, p.length) != 1) return -1
    def upHex(c: Char): Boolean =
      (c >= '0' && c <= '9') || (c >= 'A' && c <= 'F')
    val up = UTF8String.fromString(p).toUpperCase.toString
    if (up.length == 2 && upHex(up.charAt(0)) && upHex(up.charAt(1)))
      hexVal(up.charAt(0)) * 16 + hexVal(up.charAt(1))
    else -1
  }

  /** UrlExprs.pctNormalize: decode unreserved escapes, uppercase the
    * hex of surviving valid escapes, keep invalid tails verbatim. */
  private def pctNormalize(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val pieces = s.split("%", -1)
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(pieces(0))
    var i = 1
    while (i < pieces.length) {
      val p = pieces(i)
      val ascii2 = p.length >= 2 && isHexChar(p.charAt(0)) && isHexChar(p.charAt(1))
      val code = if (ascii2) hexVal(p.charAt(0)) * 16 + hexVal(p.charAt(1))
                 else escapeCode(p)
      if (code >= 0) {
        // rest = p from the 3rd CODE POINT on: for the ASCII pair that is
        // charAt(2)...; for the ligature shape p is one code point → ""
        val rest = if (ascii2) p.substring(2) else ""
        if (unreserved(code)) {
          sb.append(code.toChar).append(rest)
        } else {
          val hx =
            if (ascii2) "" + upperHex(p.charAt(0)) + upperHex(p.charAt(1))
            else UTF8String.fromString(p).toUpperCase.toString
          sb.append('%').append(hx).append(rest)
        }
      } else {
        sb.append('%').append(p)
      }
      i += 1
    }
    sb.toString
  }

  /** RFC 3629 well-formedness (the byte-level equivalent of UrlExprs'
    * Utf8HexPattern): ASCII, C2–DF+1, E0 A0–BF+1, E1–EC+2, ED 80–9F+1,
    * EE–EF+2, F0 90–BF+2, F1–F3+3, F4 80–8F+2; continuations 80–BF. */
  private def wellFormedUtf8(b: Array[Byte]): Boolean = {
    var i = 0
    val n = b.length
    def cont(j: Int): Boolean = j < n && (b(j) & 0xC0) == 0x80
    while (i < n) {
      val x = b(i) & 0xFF
      if (x <= 0x7F) i += 1
      else if (x >= 0xC2 && x <= 0xDF) {
        if (!cont(i + 1)) return false; i += 2
      } else if (x == 0xE0) {
        if (!(i + 2 < n && (b(i + 1) & 0xFF) >= 0xA0 && (b(i + 1) & 0xFF) <= 0xBF && cont(i + 2))) return false
        i += 3
      } else if (x >= 0xE1 && x <= 0xEC) {
        if (!(cont(i + 1) && cont(i + 2))) return false; i += 3
      } else if (x == 0xED) {
        if (!(i + 2 < n && (b(i + 1) & 0xFF) >= 0x80 && (b(i + 1) & 0xFF) <= 0x9F && cont(i + 2))) return false
        i += 3
      } else if (x >= 0xEE && x <= 0xEF) {
        if (!(cont(i + 1) && cont(i + 2))) return false; i += 3
      } else if (x == 0xF0) {
        if (!(i + 3 < n && (b(i + 1) & 0xFF) >= 0x90 && (b(i + 1) & 0xFF) <= 0xBF && cont(i + 2) && cont(i + 3))) return false
        i += 4
      } else if (x >= 0xF1 && x <= 0xF3) {
        if (!(cont(i + 1) && cont(i + 2) && cont(i + 3))) return false; i += 4
      } else if (x == 0xF4) {
        if (!(i + 3 < n && (b(i + 1) & 0xFF) >= 0x80 && (b(i + 1) & 0xFF) <= 0x8F && cont(i + 2) && cont(i + 3))) return false
        i += 4
      } else return false
    }
    true
  }

  /** UrlExprs.hostPctDecode: decode ≥0x80 escapes in an extracted host
    * iff the resulting byte string is well-formed UTF-8; otherwise the
    * host keeps its escaped spelling verbatim. */
  private def hostPctDecode(s: String): String = {
    if (s.indexOf('%') < 0) return s
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val pieces = s.split("%", -1)
    val out = new java.io.ByteArrayOutputStream(s.length + 8)
    val head = pieces(0).getBytes(utf8)
    out.write(head, 0, head.length)
    var i = 1
    while (i < pieces.length) {
      val p = pieces(i)
      val ascii2 = p.length >= 2 && isHexChar(p.charAt(0)) && isHexChar(p.charAt(1))
      val code = if (ascii2) hexVal(p.charAt(0)) * 16 + hexVal(p.charAt(1))
                 else escapeCode(p) // the U+FB00 shape — see escapeCode
      if (code >= 128) {
        out.write(code)
        val rest = (if (ascii2) p.substring(2) else "").getBytes(utf8)
        out.write(rest, 0, rest.length)
      } else {
        val verbatim = ("%" + p).getBytes(utf8)
        out.write(verbatim, 0, verbatim.length)
      }
      i += 1
    }
    val arr = out.toByteArray
    if (wellFormedUtf8(arr)) new String(arr, utf8) else s
  }

  private def lower(s: String): String =
    UTF8String.fromString(s).toLowerCase.toString

  /** regexp_replace(h, "\\.+$", "") */
  private def stripTrailingDots(s: String): String = {
    var e = s.length
    while (e > 0 && s.charAt(e - 1) == '.') e -= 1
    if (e == s.length) s else s.substring(0, e)
  }

  /** regexp_replace(h, ":[0-9]+$", "") — strip a nonempty all-digit
    * port tail after a ':'; returns (stripped, port-or-""). */
  private def splitPort(s: String): (String, String) = {
    var i = s.length
    while (i > 0 && s.charAt(i - 1) >= '0' && s.charAt(i - 1) <= '9') i -= 1
    if (i < s.length && i > 0 && s.charAt(i - 1) == ':')
      (s.substring(0, i - 1), s.substring(i))
    else (s, "")
  }

  /** scheme/authority/path split per the three anchored extracts; the
    * scheme charset excludes ':', so the regexes' longest-run-then-"://"
    * match needs no backtracking and a linear scan is exact.
    * @return null when the scheme pattern does not match. */
  private def splitUrl(defrag: String): Array[String] = {
    if (defrag.isEmpty) return null
    val c0 = defrag.charAt(0)
    if (!((c0 >= 'A' && c0 <= 'Z') || (c0 >= 'a' && c0 <= 'z'))) return null
    var i = 1
    while (i < defrag.length && {
      val c = defrag.charAt(i)
      (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') ||
        (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'
    }) i += 1
    if (!defrag.startsWith("://", i)) return null
    val scheme = defrag.substring(0, i)
    var j = i + 3
    while (j < defrag.length && {
      val c = defrag.charAt(j); c != '/' && c != '?' && c != '#'
    }) j += 1
    val authority = defrag.substring(i + 3, j)
    var k = j
    while (k < defrag.length && {
      val c = defrag.charAt(k); c != '?' && c != '#'
    }) k += 1
    Array(scheme, authority, defrag.substring(j, k))
  }

  /** regexp_extract(defrag, "\\?([^#]*)", 1) */
  private def queryOf(defrag: String): String = {
    val q = defrag.indexOf('?')
    if (q < 0) return ""
    var e = defrag.indexOf('#', q + 1)
    if (e < 0) e = defrag.length
    defrag.substring(q + 1, e)
  }

  /** filter+array_sort+array_join of the query params (UTF8String
    * binary sort order, exactly array_sort's). */
  private def canonicalQuery(query: String): String = {
    if (query.isEmpty) return ""
    val parts = query.split("&", -1)
    val kept = new java.util.ArrayList[UTF8String](parts.length)
    var i = 0
    while (i < parts.length) {
      val p = parts(i)
      if (p.nonEmpty && !TrackingPat.matcher(p).find())
        kept.add(UTF8String.fromString(p))
      i += 1
    }
    if (kept.isEmpty) return ""
    java.util.Collections.sort(kept)
    val sb = new java.lang.StringBuilder(query.length)
    var j = 0
    while (j < kept.size) {
      if (j > 0) sb.append('&')
      sb.append(kept.get(j).toString)
      j += 1
    }
    sb.toString
  }

  /** host pipeline shared by both expressions: pct-decode → trailing
    * dots → IDN fold. (The www strip differs between the two callers.) */
  private def foldHost(hostRaw: String): String =
    IdnHost.fold(UTF8String.fromString(
      stripTrailingDots(hostPctDecode(hostRaw)))).toString

  /** [[UrlExprs.canonicalizeUrl]] in one pass; null for null/no-scheme. */
  def canonical(url: UTF8String): UTF8String = {
    if (url == null) return null
    val defrag = pctNormalize(FragPat.matcher(url.toString).replaceAll(""))
    val parts = splitUrl(defrag)
    if (parts == null) return null // scheme === "" → NULL
    val scheme = lower(parts(0))
    val authority = lower(parts(1))
    val (hostRaw, port) = splitPort(authority)
    var host = foldHost(hostRaw)
    if (host.startsWith("www.")) host = host.substring(4)
    val portPart =
      if (port.isEmpty || (scheme == "http" && port == "80") ||
        (scheme == "https" && port == "443")) ""
      else ":" + port
    // path: collapse slash runs, strip one trailing slash, default "/"
    val pathRaw = parts(2)
    val sb = new java.lang.StringBuilder(pathRaw.length)
    var i = 0
    while (i < pathRaw.length) {
      val c = pathRaw.charAt(i)
      if (c == '/') {
        sb.append('/')
        while (i < pathRaw.length && pathRaw.charAt(i) == '/') i += 1
      } else {
        sb.append(c)
        i += 1
      }
    }
    var path = sb.toString
    path =
      if (path.isEmpty || path == "/") "/"
      else if (path.endsWith("/")) path.substring(0, path.length - 1)
      else path
    val qstr = canonicalQuery(queryOf(defrag))
    val qPart = if (qstr.isEmpty) "" else "?" + qstr
    UTF8String.fromString(scheme + "://" + host + portPart + path + qPart)
  }

  /** [[UrlExprs.canonicalHost]] in one pass; null for null/empty host. */
  def host(url: UTF8String): UTF8String = {
    if (url == null) return null
    val defrag = pctNormalize(FragPat.matcher(url.toString).replaceAll(""))
    val parts = splitUrl(defrag)
    val authority = if (parts == null) "" else lower(parts(1))
    val noPort = splitPort(authority)._1
    val noDot = foldHost(noPort)
    if (noDot.isEmpty) null
    else UTF8String.fromString(
      if (noDot.startsWith("www.")) noDot.substring(4) else noDot)
  }
}
