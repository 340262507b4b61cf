package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis expressions for the training-data-pipeline surface:
  * tokenization, quality scoring, language-ID heuristic, fingerprints.
  *
  * Everything here is built-in Catalyst expressions (split / higher-order
  * array functions / regexp) — no UDFs — so a 100 TB `documents` scan keeps
  * whole-stage codegen and per-row cost stays in nanoseconds.
  */
object TextExprs {

  /** Whitespace tokenization of trimmed text. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** HTML → text extraction for crawl curation, as a pure codegen'd
    * regexp chain (no parser, no UDF — stays in whole-stage codegen and
    * is mirrorable verbatim by a SQL oracle since every construct is
    * RE2-compatible: non-greedy spans, inline (?is), no backrefs):
    *
    *  1. drop `<script>`/`<style>` elements WITH their contents
    *     (non-greedy, case-insensitive, dot-matches-newline);
    *  2. strip every remaining `<...>` tag;
    *  3. decode the five predefined entities (&amp; LAST, so
    *     `&amp;lt;` decodes to the literal `&lt;` — one pass, not a
    *     fixpoint, the standard single-decode contract);
    *  4. collapse whitespace runs to single spaces and trim.
    *
    * Deliberately NOT a browser: comments/CDATA fall to the tag-strip
    * rule, conditional markup is out of scope — the 99% boilerplate
    * case a 100 TB crawl needs first, stated honestly. */
  def htmlToText(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]*>", " ")
    val ent = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(noTags,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"),
      "&amp;", "&")
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Inline cleanup shared by the block pipeline: strip remaining tags,
    * single-decode the five predefined entities (&amp; last), collapse
    * whitespace, trim. */
  private def cleanInline(c: Column): Column = {
    val noTags = regexp_replace(c, "<[^>]*>", " ")
    val ent = regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(noTags,
        "&lt;", "<"), "&gt;", ">"), "&quot;", "\""), "&#39;", "'"),
      "&amp;", "&")
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Block-structured HTML extraction with boilerplate classification —
    * the step after [[htmlToText]] a real crawl needs: nav bars, footer
    * chrome, and cookie banners survive tag-stripping as text and
    * poison training data. This is the Arc90-readability/boilerpipe
    * heuristic family reduced to its two strongest per-block signals,
    * both computable as pure codegen'd expressions (no parser, no UDF,
    * one narrow scan):
    *
    *  1. script/style/comments drop with contents;
    *  2. BLOCK-level tags (p, div, li, headings, table rows, section/
    *     article/header/footer/nav/aside, br, …) become block
    *     boundaries; inline markup (a, b, i, span, …) stays inside its
    *     block;
    *  3. per block: `text` (inline-cleaned), `n_words`, and
    *     `link_density` = cleaned chars inside `<a>` elements / total
    *     cleaned chars;
    *  4. a block is boilerplate iff `n_words < minWords` (chrome
    *     fragments: "© 2026", bare headings) OR `link_density >
    *     maxLinkDensity` (link lists: navigation, footers, related-
    *     article rails — boilerpipe's dominant feature).
    *
    * Empty blocks vanish before classification. Returns
    * `array<struct<text, n_words, link_density, is_boilerplate>>` —
    * q154 joins the non-boilerplate texts. Defaults (4 words,
    * 0.33) follow the boilerpipe NumWordsRules ballpark; tune per
    * corpus. Honest limits as [[htmlToText]]: no DOM, no CSS
    * visibility, no cross-block smoothing. */
  def htmlBlocks(html: Column, minWords: Int = 4,
                 maxLinkDensity: Double = 0.33): Column = {
    val noScript = regexp_replace(html,
      "(?is)<script\\b[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript,
      "(?is)<style\\b[^>]*>.*?</style>", " ")
    val noComment = regexp_replace(noStyle, "(?s)<!--.*?-->", " ")
    val marked = regexp_replace(noComment,
      "(?i)</?(?:p|div|li|ul|ol|h[1-6]|tr|td|th|table|thead|tbody|" +
        "section|article|header|footer|nav|aside|blockquote|pre|form|" +
        "main|body|html|head|title)\\b[^>]*>|<br\\s*/?>",
      "\n")
    val rawBlocks = split(marked, "\n")
    val stats = transform(rawBlocks, b => {
      val text = cleanInline(b)
      val linkTexts = regexp_extract_all(b, lit("(?is)<a\\b[^>]*>(.*?)</a>"), lit(1))
      val linkChars = aggregate(linkTexts, lit(0),
        (acc, t) => acc + length(cleanInline(t)))
      val words = size(filter(split(text, " "), w => w =!= ""))
      val density = linkChars.cast("double") /
        greatest(length(text), lit(1)).cast("double")
      struct(text.as("text"), words.as("n_words"),
        density.as("link_density"),
        (words < minWords || density > maxLinkDensity).as("is_boilerplate"))
    })
    filter(stats, s => s.getField("text") =!= "")
  }

  /** Page `<title>` extraction — the head-metadata sibling of
    * [[htmlToText]]: titles feed dedup keys, retrieval display, and
    * quality heuristics without touching the body. First title
    * element's inline-cleaned text (tag-strip, single entity decode,
    * whitespace collapse); NULL when absent or empty — the
    * distinguishes-nothing value, not "". Pure codegen'd regexp,
    * RE2-compatible, oracle-replayable. */
  def htmlTitle(html: Column): Column = {
    val raw = regexp_extract(html, "(?is)<title\\b[^>]*>(.*?)</title>", 1)
    val t = cleanInline(raw)
    when(t === "", lit(null).cast("string")).otherwise(t)
  }

  /** `<meta name="…" content="…">` extraction for a fixed lowercase
    * `name` (description, keywords, robots, …). Attribute order and
    * quote style both vary in the wild, so four anchored patterns
    * cover {name-first, content-first} × {double, single} quotes —
    * first non-empty wins, entity-decoded, whitespace-collapsed; NULL
    * when absent. Unquoted attribute values are out of scope (rare,
    * and unanchored matching would false-positive) — stated, not
    * hidden. `name` is a literal, validated to `[a-z0-9:._-]+` so it
    * splices into the pattern without regex-injection. */
  def htmlMetaContent(html: Column, name: String): Column = {
    require(name.nonEmpty && name.matches("[a-z0-9:._-]+"),
      s"htmlMetaContent: name must match [a-z0-9:._-]+: '$name'")
    firstNonEmpty(attrPairPatterns("meta", "name", name, "content")
      .map(p => regexp_extract(html, p, 1)))
  }

  /** `<link rel="canonical" href="…">` extraction — the page's own
    * statement of its canonical URL, the strongest pre-content dedup
    * signal a crawl has (compose with [[UrlExprs]] canonicalization:
    * this yields the URL, that normalizes it). Same four-pattern
    * attribute-order/quote-style coverage as [[htmlMetaContent]];
    * entity-decoded (`&amp;` in query strings), NULL when absent. */
  def htmlCanonicalUrl(html: Column): Column =
    firstNonEmpty(attrPairPatterns("link", "rel", "canonical", "href")
      .map(p => regexp_extract(html, p, 1)))

  /** The 4 patterns for `<tag … key="value" … valueAttr="CAPTURE">`
    * with either attribute order and either quote style. */
  private def attrPairPatterns(tag: String, keyAttr: String,
                               keyVal: String, valAttr: String): Seq[String] = {
    val key = s"\\b$keyAttr\\s*=\\s*[\"']?$keyVal[\"']?"
    Seq(
      s"(?is)<$tag\\b[^>]*$key[^>]*\\b$valAttr\\s*=\\s*\"([^\"]*)\"",
      s"(?is)<$tag\\b[^>]*$key[^>]*\\b$valAttr\\s*=\\s*'([^']*)'",
      s"(?is)<$tag\\b[^>]*\\b$valAttr\\s*=\\s*\"([^\"]*)\"[^>]*$key",
      s"(?is)<$tag\\b[^>]*\\b$valAttr\\s*=\\s*'([^']*)'[^>]*$key")
  }

  /** First pattern whose cleaned extract is non-empty, else NULL. */
  private def firstNonEmpty(extracts: Seq[Column]): Column = {
    val cleaned = extracts.map(e => cleanInline(e))
    val picked = cleaned.foldRight(lit(null).cast("string")) { (c, acc) =>
      when(c =!= "", c).otherwise(acc)
    }
    picked
  }

  /** Control/format-character sanitization — the cleanup a crawl runs
    * before tokenization and fingerprinting: invisible characters make
    * visually-identical texts hash differently (breaking every dedup
    * stage upstream of this) and leak into training data as garbage
    * tokens. Pure codegen'd regexp chain, RE2-compatible by design so
    * a SQL oracle replays it verbatim (q133's discipline):
    *
    *  1. CRLF → LF, then stray CR → LF (line semantics preserved);
    *  2. zero-width/invisible format characters STRIP: ZWSP ZWNJ ZWJ
    *     (U+200B..200D), WORD JOINER (U+2060), BOM/ZWNBSP (U+FEFF),
    *     SOFT HYPHEN (U+00AD);
    *  3. non-breaking space family → plain space: NBSP (U+00A0),
    *     NNBSP (U+202F), FIGURE SPACE (U+2007);
    *  4. remaining C0/C1 controls STRIP (tab and LF survive — they are
    *     structure, not noise).
    *
    * Deliberately NOT here: NFC (that is [[UnicodeNorm.nfc]] — compose
    * them in either order, both are idempotent), confusable folding
    * (lossy, corpus-policy territory), emoji/variation selectors
    * (meaningful content). Idempotent; NULL in → NULL out. */
  def sanitizeText(text: Column): Column = {
    val lf = regexp_replace(regexp_replace(text, "\r\n", "\n"), "\r", "\n")
    val noZw = regexp_replace(lf,
      "[\\x{200B}\\x{200C}\\x{200D}\\x{2060}\\x{FEFF}\\x{00AD}]", "")
    val sp = regexp_replace(noZw, "[\\x{00A0}\\x{202F}\\x{2007}]", " ")
    regexp_replace(sp,
      "[\\x{0000}-\\x{0008}\\x{000B}\\x{000C}\\x{000E}-\\x{001F}" +
        "\\x{007F}-\\x{009F}]", "")
  }

  /** Repair ONE layer of mojibake — UTF-8 bytes that were mis-decoded
    * as Latin-1/Windows-1252 somewhere upstream ("cafÃ©" for "café",
    * "itâ€™s" for "it's"), the single most common crawl-text encoding
    * defect (the core transform of the public `ftfy` library's
    * fix-encoding pass, reimplemented as a pure-Column chain).
    *
    * Method: fold the 27 cp1252-specific characters back to their byte
    * values (one `translate` pass — cp1252 is Latin-1 with 0x80–0x9F
    * remapped to €‚ƒ…'"•–—™… etc.), then repair ONLY when the result
    * (a) contains a non-ASCII char and (b) is a COMPLETE well-formed
    * UTF-8 byte sequence under the char≡byte reading — checked by one
    * anchored regex over ≤0xFF char classes (the RFC 3629 table:
    * overlongs, lone continuations, surrogates, >U+10FFFF all fail)
    * BEFORE `decode()` ever runs, the [[graft.functions.UrlExprs]]
    * hostPctDecode discipline (Spark 4 decode throws on malformed).
    * Any char > U+00FF fails the check too, so genuine Unicode text is
    * structurally untouchable — a legit "São" (0xE3 0x6F invalid) or a
    * stray "…" (no lead byte) never repairs. Strings that fail the
    * gate pass through BYTE-IDENTICAL (the original, not the
    * translated form).
    *
    * Ambiguity is inherent (a Latin-1 text that happens to spell valid
    * UTF-8 repairs "wrongly" — ftfy has the same blind spot) and the
    * bias is deliberate: real mojibake is overwhelmingly more likely
    * than such coincidences. Doubly-encoded text needs two
    * applications (one layer per call, spec-gated). Run BEFORE
    * [[sanitizeText]] — its C1-control strip would destroy the folded
    * 0x80–0x9F bytes this repair needs. */
  def fixMojibake(text: Column): Column = {
    // cp1252 0x80-0x9F table as code points (escape-only: raw C1
    // controls in source would be invisible and editor-hostile)
    val cp1252 = Seq(
      0x20AC -> 0x80, 0x201A -> 0x82, 0x0192 -> 0x83, 0x201E -> 0x84,
      0x2026 -> 0x85, 0x2020 -> 0x86, 0x2021 -> 0x87, 0x02C6 -> 0x88,
      0x2030 -> 0x89, 0x0160 -> 0x8A, 0x2039 -> 0x8B, 0x0152 -> 0x8C,
      0x017D -> 0x8E, 0x2018 -> 0x91, 0x2019 -> 0x92, 0x201C -> 0x93,
      0x201D -> 0x94, 0x2022 -> 0x95, 0x2013 -> 0x96, 0x2014 -> 0x97,
      0x02DC -> 0x98, 0x2122 -> 0x99, 0x0161 -> 0x9A, 0x203A -> 0x9B,
      0x0153 -> 0x9C, 0x017E -> 0x9E, 0x0178 -> 0x9F)
    val pre = translate(text,
      cp1252.map(_._1.toChar).mkString,
      cp1252.map(_._2.toChar).mkString)
    val wellFormedUtf8 =
      "^(?:[\\x{0000}-\\x{007F}]" +
        "|[\\x{00C2}-\\x{00DF}][\\x{0080}-\\x{00BF}]" +
        "|\\x{00E0}[\\x{00A0}-\\x{00BF}][\\x{0080}-\\x{00BF}]" +
        "|[\\x{00E1}-\\x{00EC}][\\x{0080}-\\x{00BF}]{2}" +
        "|\\x{00ED}[\\x{0080}-\\x{009F}][\\x{0080}-\\x{00BF}]" +
        "|[\\x{00EE}-\\x{00EF}][\\x{0080}-\\x{00BF}]{2}" +
        "|\\x{00F0}[\\x{0090}-\\x{00BF}][\\x{0080}-\\x{00BF}]{2}" +
        "|[\\x{00F1}-\\x{00F3}][\\x{0080}-\\x{00BF}]{3}" +
        "|\\x{00F4}[\\x{0080}-\\x{008F}][\\x{0080}-\\x{00BF}]{2})*$"
    when(pre.rlike("[\\x{0080}-\\x{00FF}]") && pre.rlike(wellFormedUtf8),
      decode(encode(pre, "ISO-8859-1"), "UTF-8"))
      .otherwise(text)
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** Count of tokens contained in `vocab` (e.g. a stopword list). */
  def vocabCount(text: Column, vocab: Seq[String]): Column =
    size(filter(tokens(text), t => t.isInCollection(vocab)))

  /** BPE-ish pre-tokenizer count: the GPT-2-style split pattern reduced to
    * engine-portable character classes (letters run / digits run /
    * punctuation run, each with optional leading space / whitespace run).
    * Same regex byte-for-byte on Java regex and RE2. */
  val bpePattern = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+"

  def bpeTokenCount(text: Column): Column = regexp_count(text, lit(bpePattern))

  /** Stopword lists used by the language-ID heuristic. Order matters:
    * ties resolve to the earlier language. */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a", "for"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein", "zu", "nicht"),
    "es" -> Seq("el", "la", "de", "que", "y", "los", "es", "una"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "une", "dans"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有", "和", "不"))

  /** N-gram-free language-ID heuristic: argmax of per-language stopword
    * hits over lowercased tokens; 'unk' when nothing matches. Deterministic
    * tie-break = list order above. Native one-pass implementation
    * ([[LangIdNative]]); its declarative spec lives with the specs
    * (TextExprsReference). */
  def langId(text: Column): Column = LangIdNative.langId(text)

  /** Flesch reading-ease score with the standard heuristic proxies,
    * every term a codegen'd regexp count so a SQL oracle replays it
    * verbatim (no dictionary, no syllabifier — stated honestly):
    *
    *  - words   = whitespace tokens;
    *  - sentences = runs of `.!?` (min 1 so fragments don't divide by
    *    zero — a fragment is "one sentence");
    *  - syllables = vowel GROUPS (`[aeiouyAEIOUY]+` runs), the classic
    *    cheap proxy (±1 on silent-e words, fine for corpus-level
    *    filtering, which is this function's use: drop word-soup and
    *    legalese tails by readability band).
    *
    * score = 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words),
    * computed in one fixed double sequence; NULL for wordless text. */
  def fleschScore(text: Column): Column = {
    val words = size(filter(tokens(text), t => t =!= "")).cast("double")
    val sentences = greatest(regexp_count(text, lit("[.!?]+")), lit(1))
      .cast("double")
    val syllables = regexp_count(text, lit("[aeiouyAEIOUY]+")).cast("double")
    when(words > 0,
      lit(206.835) - lit(1.015) * (words / sentences) -
        lit(84.6) * (syllables / words))
      .otherwise(lit(null).cast("double"))
  }

  /** Quality features: chars, tokens, mean token length, punctuation ratio.
    * Returns named struct so callers can star-expand. */
  def punctCount(text: Column): Column =
    length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))

  /** Canonical text normalization for corpus prep: Unicode NFC (composed
    * forms), strip non-whitespace control chars, collapse all whitespace
    * runs to single spaces, trim. Order matters: controls go FIRST so a
    * stripped `\x01` between spaces leaves one collapsible run, not two
    * adjacent spaces. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(UnicodeNorm.nfc(text),
        "[\\x00-\\x08\\x0E-\\x1F\\x7F]", ""),
      "[ \\t\\n\\x0B\\f\\r]+", " "))

  /** Document fingerprint: md5 of whitespace-collapsed lowercase text —
    * the exact-dedup key that survives formatting noise. Native one-pass
    * implementation; its spec lives with the specs (TextExprsReference). */
  def fingerprint(text: Column): Column = FingerprintMd5.fingerprintMd5(text)

}
