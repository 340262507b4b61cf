package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization for crawl curation — the normalization a 100 TB
  * web corpus runs before URL-level dedup, frontier seen-filters, and
  * per-site aggregation. The reference has no crawl surface (it ingests
  * CSV/Excel exports, `etl/order_info_etl.py:173-180`); this is the
  * training-data-pipeline extension family.
  *
  * Everything is pure `Column` expressions over native functions
  * (`regexp_extract`/`regexp_replace`/`split`/`filter`/`array_sort`),
  * so the whole normalization is one narrow scan — no UDF, no shuffle
  * — and a downstream `groupBy(canonical)` is the only exchange, keyed
  * on the already-small canonical string. At 1000 executors this is
  * exactly the shape you want: the messy→canonical map is embarrassingly
  * parallel and the dedup shuffle carries one short string per row.
  *
  * Canonical form (the common-crawl-style contract):
  *  - fragment stripped (`#...` never reaches the server);
  *  - percent-encoding normalized per RFC 3986 §6.2.2: escapes of
  *    UNRESERVED characters (`%41`→`A`, `%7E`→`~`; ALPHA / DIGIT /
  *    `-` `.` `_` `~`) are decoded — they never change meaning, and
  *    real crawls hit `%7Euser` vs `~user` duplicates constantly; all
  *    REMAINING escapes keep their `%` but uppercase their hex
  *    (`%2f`→`%2F` — `/` is reserved, so it must NOT decode, but hex
  *    case is insignificant); a `%` not followed by two hex digits is
  *    left verbatim (garbage in, garbage kept — never mangled).
  *    Decoded characters are all unreserved, so they can never
  *    introduce a delimiter (`/ ? # & = :` are reserved and stay
  *    escaped) — normalizing BEFORE parsing is safe by construction;
  *  - scheme and host lowercased; trailing root-dots dropped
  *    (`a.com.` ≡ `a.com` in DNS; a run of junk trailing dots
  *    collapses too, keeping the fold idempotent on garbage); internationalized host labels fold
  *    to their RFC 3492 `xn--` ACE form ([[IdnHost]] — DNS's wire
  *    form, so `bücher.example` and `xn--bcher-kva.example` collide;
  *    ASCII hosts take a zero-cost fast path); a leading `www.`
  *    dropped;
  *  - default ports stripped (`:80` for http, `:443` for https);
  *    any other explicit port is kept;
  *  - runs of `/` in the path collapsed to one; a single trailing `/`
  *    stripped (the root path stays `/`); an absent path becomes `/`;
  *  - query parameters: empties and tracking params (`utm_*`, `gclid`,
  *    `fbclid`, `msclkid`) dropped, the rest sorted byte-wise so
  *    `?b=2&a=1` and `?a=1&b=2` collide; an empty residue drops the `?`.
  *
  * NULL in → NULL out (expressions propagate). Non-URL garbage (no
  * `scheme://`) yields NULL rather than a fabricated canonical.
  *
  * Host escapes (the r12 residual gap, closed): a host whose non-ASCII
  * labels arrive PERCENT-ENCODED (`m%C3%BCnchen.example`) is decoded
  * IN THE HOST COMPONENT ONLY — after authority extraction, escapes
  * ≥ 0x80 whose byte runs form well-formed UTF-8 decode to their
  * characters and then fold through [[IdnHost]], so the escaped,
  * raw, and ACE spellings of one host all land in one canonical group.
  * This is sound precisely because it happens post-split: a decoded
  * character can no longer change where the authority ends, and ASCII
  * escapes (`%2F` …) are deliberately NOT decoded (they are invalid in
  * hostnames; decoding could fabricate delimiters inside the rebuilt
  * URL). Ill-formed byte runs keep their escaped spelling verbatim —
  * still a stable group, never mangled, never a throw.
  */
object UrlExprs {

  /** RFC 3986 §6.2.2 percent-encoding normalization, pure Column: split
    * on `%`, then every split tail starts with the escape's two hex
    * chars. Unreserved codes decode via `char()`; other valid escapes
    * re-emit `%` + UPPERCASE hex; invalid tails re-emit verbatim. One
    * narrow expression chain — no UDF, no join, idempotent (a decoded
    * string has no unreserved escapes left; surviving escapes are
    * already-uppercase and re-normalize to themselves). */
  private[graft] def pctNormalize(c: Column): Column = {
    val pieces = split(c, "%", -1)
    val head = element_at(pieces, 1)
    val tails = slice(pieces, lit(2), greatest(size(pieces) - 1, lit(0)))
    val fixed = transform(tails, p => {
      val hex = upper(substring(p, 1, 2))
      val valid = hex.rlike("^[0-9A-F]{2}$")
      val code = conv(hex, 16, 10).cast("int")
      val unreserved =
        (code >= 65 && code <= 90) || (code >= 97 && code <= 122) ||
          (code >= 48 && code <= 57) ||
          code === 45 || code === 46 || code === 95 || code === 126
      val rest = p.substr(lit(3), length(p))
      when(valid && unreserved, concat(call_function("char", code), rest))
        .when(valid, concat(lit("%"), hex, rest))
        .otherwise(concat(lit("%"), p))
    })
    concat(head, array_join(fixed, ""))
  }

  /** Canonicalize as ONE native scalar ([[CanonicalizeUrlExpr]], r19).
    * The composed-Column formulation (UrlExprsReference in the specs,
    * its executable specification) substitutes the
    * percent-normalization subtree into every component extraction —
    * ~5,000 analyzed expression nodes per call (OPTIMIZATION_r19.md
    * §3), which taxed every action's planning by ~0.25 s (every streaming
    * micro-batch, too) and evaluated at ~1 ms/row. The native pass is
    * byte-identical by spec (UrlCanonEquivalenceSpec) and keeps the
    * pipeline whole-stage-codegen'd. */
  def canonicalizeUrl(url: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      CanonicalizeUrlExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expr(url)))

  /** The canonical URL's host — for per-site grouping and policy joins.
    * Native scalar ([[CanonicalHostExpr]]) for the same reasons as
    * [[canonicalizeUrl]]; its composed specification lives with the
    * specs. */
  def canonicalHost(url: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      CanonicalHostExpr(
        org.apache.spark.sql.graftbridge.ColumnBridge.expr(url)))

  /** The canonical URL's path (collapsed, de-trailing-slashed, `/` for
    * root) — the robots-style policy match key. */
  def canonicalPath(url: Column): Column = {
    val defrag = pctNormalize(regexp_replace(url, "#.*$", ""))
    val pathRaw = regexp_extract(defrag, "^[A-Za-z][A-Za-z0-9+.\\-]*://[^/?#]*([^?#]*)", 1)
    val collapsed = regexp_replace(pathRaw, "/{2,}", "/")
    when(collapsed === "" || collapsed === "/", lit("/"))
      .otherwise(regexp_replace(collapsed, "/$", ""))
  }
}
