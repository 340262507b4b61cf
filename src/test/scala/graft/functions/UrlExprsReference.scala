package graft.functions

import graft.functions.UrlExprs.pctNormalize
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The composed-Column URL canonicalization that [[CanonicalizeUrlExpr]]
  * and [[CanonicalHostExpr]] replaced, kept as their executable
  * specification; spec use only. */
object UrlExprsReference {

  /** Query parameters that never change content — the drop list. */
  private val TrackingParam = "^(utm_[^=]*|gclid|fbclid|msclkid)(=.*)?$"

  /** Well-formed UTF-8 over a HEX-PAIR string (RFC 3629 grammar, two
    * hex chars per byte): ASCII, 2-byte C2–DF, 3-byte with the E0/ED
    * overlong/surrogate exclusions, 4-byte with the F0/F4 range
    * exclusions. Validating the hex BEFORE `decode` means the decoder
    * never sees malformed input (which would throw under Spark 4's
    * strict coding-error action) — ill-formed runs simply keep their
    * escaped spelling. */
  private val Utf8HexPattern =
    "^(?:[0-7][0-9A-F]" +
      "|(?:C[2-9A-F]|D[0-9A-F])[89AB][0-9A-F]" +
      "|E0[AB][0-9A-F][89AB][0-9A-F]" +
      "|E[1-9A-C][89AB][0-9A-F][89AB][0-9A-F]" +
      "|ED[89][0-9A-F][89AB][0-9A-F]" +
      "|E[EF][89AB][0-9A-F][89AB][0-9A-F]" +
      "|F0[9AB][0-9A-F](?:[89AB][0-9A-F]){2}" +
      "|F[1-3](?:[89AB][0-9A-F]){3}" +
      "|F48[0-9A-F](?:[89AB][0-9A-F]){2})*$"

  /** Decode percent-encoded UTF-8 in an already-extracted HOST string:
    * rebuild the host as hex bytes (escapes ≥ 0x80 contribute their
    * byte, everything else its literal text bytes), and decode the
    * whole thing iff the byte string is well-formed UTF-8 per
    * [[Utf8HexPattern]]. Escapes < 0x80 stay escaped (ASCII escapes are
    * invalid hostname content and must not fabricate delimiters);
    * hosts without `%` take a zero-cost fast path. Idempotent: the
    * decoded host is escape-free, and a kept (ill-formed) host
    * re-normalizes to itself. */
  private def hostPctDecode(c: Column): Column = {
    val pieces = split(c, "%", -1)
    val head = element_at(pieces, 1)
    val tails = slice(pieces, lit(2), greatest(size(pieces) - 1, lit(0)))
    val hexParts = transform(tails, p => {
      val hx = upper(substring(p, 1, 2))
      val valid = hx.rlike("^[0-9A-F]{2}$")
      val code = conv(hx, 16, 10).cast("int")
      val rest = p.substr(lit(3), length(p))
      when(valid && code >= 128, concat(hx, hex(encode(rest, "UTF-8"))))
        .otherwise(hex(encode(concat(lit("%"), p), "UTF-8")))
    })
    val full = concat(hex(encode(head, "UTF-8")), array_join(hexParts, ""))
    when(instr(c, "%") === 0, c)
      .otherwise(when(full.rlike(Utf8HexPattern), decode(unhex(full), "UTF-8"))
        .otherwise(c))
  }

  /** The r12–r18 composed-Column formulation, kept as the executable
    * SPECIFICATION of [[UrlExprs.canonicalizeUrl]]: UrlCanonEquivalenceSpec holds
    * the native pass byte-identical to this tree over the fixture
    * variants, an adversarial corpus and random inputs. Not used on any
    * query path (the ~5,000-node tree is why it was replaced). */
  private[graft] def canonicalizeUrlComposed(url: Column): Column = {
    // fragment off first: everything downstream parses the defragmented
    // form; then percent-normalize BEFORE parsing (decoded chars are
    // unreserved, so no delimiter can appear — see object doc)
    val defrag = pctNormalize(regexp_replace(url, "#.*$", ""))
    val scheme = lower(regexp_extract(defrag, "^([A-Za-z][A-Za-z0-9+.\\-]*)://", 1))
    val authority = lower(regexp_extract(defrag, "^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)", 1))
    val hostRaw = regexp_replace(authority, ":[0-9]+$", "")
    val host = regexp_replace(
      IdnHostExpr.idnHost(
        regexp_replace(hostPctDecode(hostRaw), "\\.+$", "")), "^www\\.", "")
    val port = regexp_extract(authority, ":([0-9]+)$", 1)
    val portPart = when(
      port === "" ||
        (scheme === "http" && port === "80") ||
        (scheme === "https" && port === "443"), lit(""))
      .otherwise(concat(lit(":"), port))
    val pathRaw = regexp_extract(defrag, "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)", 1)
    val collapsed = regexp_replace(pathRaw, "/{2,}", "/")
    val path = when(collapsed === "" || collapsed === "/", lit("/"))
      .otherwise(regexp_replace(collapsed, "/$", ""))
    val query = regexp_extract(defrag, "\\?([^#]*)", 1)
    val params = filter(split(query, "&"),
      p => p =!= "" && !p.rlike(TrackingParam))
    val qstr = array_join(array_sort(params), "&")
    val qPart = when(qstr === "", lit("")).otherwise(concat(lit("?"), qstr))
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), host, portPart, path, qPart))
  }

  /** Executable specification of [[UrlExprs.canonicalHost]] (see
    * [[canonicalizeUrlComposed]]). */
  private[graft] def canonicalHostComposed(url: Column): Column = {
    val authority = lower(regexp_extract(
      pctNormalize(regexp_replace(url, "#.*$", "")),
      "^[A-Za-z][A-Za-z0-9+.\\-]*://([^/?#]*)", 1))
    val noPort = regexp_replace(authority, ":[0-9]+$", "")
    val noDot = IdnHostExpr.idnHost(
      regexp_replace(hostPctDecode(noPort), "\\.+$", ""))
    when(noDot === "", lit(null).cast("string"))
      .otherwise(regexp_replace(noDot, "^www\\.", ""))
  }
}
