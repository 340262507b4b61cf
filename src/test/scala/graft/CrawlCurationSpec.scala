package graft

import graft.functions.UrlExprs
import graft.operators.CrawlPolicy
import org.apache.spark.sql.functions._

/** URL canonicalization + crawl-policy semantics: the crawl-curation
  * front door. Every rule the canonical contract documents gets an
  * adversarial case here; the policy suite pins robots longest-match
  * and tie-break semantics. */
class CrawlCurationSpec extends SparkSpec {
  import spark.implicits._

  private def canon(urls: (Long, String)*): Map[Long, String] =
    urls.toSeq.toDF("id", "url")
      .select(col("id"), UrlExprs.canonicalizeUrl(col("url")).as("c"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap

  test("canonicalizeUrl: case, www, default port, dup slashes, trailing " +
    "slash, fragment, param order, tracking params") {
    val c = canon(
      1L -> "https://site1.example.com/cat/item5?a=2&b=1",
      2L -> "HTTPS://WWW.Site1.Example.COM:443/cat//item5/?b=1&a=2#frag",
      3L -> "https://site1.example.com/cat/item5/?utm_source=f&a=2&b=1&utm_campaign=x",
      4L -> "https://www.site1.example.com/cat/item5?b=1&gclid=abc&a=2")
    val want = "https://site1.example.com/cat/item5?a=2&b=1"
    assert(c.values.toSet == Set(want))
  }

  test("canonicalizeUrl: non-default port kept; http default 80 stripped") {
    val c = canon(
      1L -> "http://h.com:80/x",
      2L -> "http://h.com:8080/x",
      3L -> "https://h.com:80/x") // 80 is NOT the https default
    assert(c(1L) == "http://h.com/x")
    assert(c(2L) == "http://h.com:8080/x")
    assert(c(3L) == "https://h.com:80/x")
  }

  test("canonicalizeUrl: root and absent paths normalize to '/', empty " +
    "query drops '?', garbage and NULL yield NULL") {
    val c = canon(
      1L -> "https://h.com",
      2L -> "https://h.com/",
      3L -> "https://h.com/?",
      4L -> "https://h.com/?utm_source=only",
      5L -> "not a url at all",
      6L -> null)
    assert(Seq(1L, 2L, 3L, 4L).map(c) == Seq.fill(4)("https://h.com/"))
    assert(c(5L) == null && c(6L) == null)
  }

  test("canonicalizeUrl: unreserved percent-escapes decode (RFC 3986 " +
    "§6.2.2) so %7Euser and ~user collide; reserved escapes do NOT " +
    "decode but uppercase their hex; garbage escapes survive verbatim") {
    val c = canon(
      1L -> "https://h.com/%7Euser/p%61ge?q=%41",     // ~user / page / A
      2L -> "https://h.com/~user/page?q=A",
      3L -> "https://h.com/a%2fb",                    // %2f reserved: keep, uppercase
      4L -> "https://h.com/a%2Fb",
      5L -> "https://h.com/x%zz%4",                   // invalid escapes verbatim
      6L -> "https://h.com/x%")
    assert(c(1L) == "https://h.com/~user/page?q=A")
    assert(c(2L) == c(1L))
    assert(c(3L) == "https://h.com/a%2Fb")
    assert(c(4L) == c(3L))
    assert(c(5L) == "https://h.com/x%zz%4")
    assert(c(6L) == "https://h.com/x%")
  }

  test("canonicalizeUrl: host trailing root-dot strips; host escapes " +
    "decode before the www/lowercase rules; escaped param NAMES decode " +
    "before the byte-wise sort") {
    val c = canon(
      1L -> "https://site1.example.com./cat?a=1&b=2",
      2L -> "https://WWW.site1.example.c%6Fm/cat?%62=2&a=1", // %6F=o, %62=b
      3L -> "https://site1.example.com/cat?a=1&b=2",
      4L -> "https://site1.example.com...//cat/?a=1&b=2") // junk dot run
    assert(c.values.toSet == Set("https://site1.example.com/cat?a=1&b=2"))
  }

  test("canonicalizeUrl: internationalized hosts fold to their xn-- ACE " +
    "form (RFC 3492), colliding Unicode, uppercase-Unicode, and " +
    "pre-encoded variants; ASCII and hostile labels untouched") {
    // expected literals verified against an independent encoder
    // (Python stdlib punycode/idna) — not against this implementation
    val c = canon(
      1L -> "https://bücher.example.com/p",
      2L -> "https://xn--bcher-kva.example.com/p",
      3L -> "https://BÜCHER.Example.com:443/p",
      4L -> "https://münchen0.example.com/p",
      5L -> "https://пример.example.com/p",
      6L -> "https://例え.example.com/p",
      7L -> "https://straße.example.com/p", // IDNA2008-leaning: ß kept
      8L -> "https://mixed.bücher.ascii.com/p")
    assert(c(1L) == "https://xn--bcher-kva.example.com/p")
    assert(c(2L) == c(1L) && c(3L) == c(1L))
    assert(c(4L) == "https://xn--mnchen0-n2a.example.com/p")
    assert(c(5L) == "https://xn--e1afmkfd.example.com/p")
    assert(c(6L) == "https://xn--r8jz45g.example.com/p")
    assert(c(7L) == "https://xn--strae-oqa.example.com/p")
    assert(c(8L) == "https://mixed.xn--bcher-kva.ascii.com/p")
    // hostile: a label past the size guard survives lowercased, never throws
    val huge = "ü" * 4000
    val ch = canon(9L -> s"https://$huge.com/p")
    assert(ch(9L) == s"https://$huge.com/p")
    // idempotence through the full canonicalizer
    val again = canon(1L -> c(4L))
    assert(again(1L) == c(4L))
  }

  test("canonicalizeUrl: percent-encoded UTF-8 HOST labels decode and " +
    "fold — escaped, raw, and ACE spellings of one host collide; " +
    "ill-formed byte runs and ASCII escapes stay escaped; a " +
    "non-ASCII char that lowercases to ASCII never grows a pseudo-ACE") {
    val c = canon(
      1L -> "https://m%C3%BCnchen.example/p",          // %C3%BC = ü
      2L -> "https://münchen.example/p",
      3L -> "https://xn--mnchen-3ya.example/p",
      4L -> "https://M%C3%9Cnchen.example/p",          // %C3%9C = Ü
      5L -> "https://%D0%BF%D1%80%D0%B8%D0%BC%D0%B5%D1%80.example/p", // пример
      6L -> "https://пример.example/p",
      7L -> "https://bad%C3host.example/p",   // C3 needs a continuation: ill-formed
      8L -> "https://a%2Fb.example/p",        // ASCII escape: NOT decoded
      9L -> "https://Kelvin.example/p",  // Kelvin sign lowercases to 'k'
      10L -> "https://kelvin.example/p")
    assert(c(1L) == "https://xn--mnchen-3ya.example/p")
    assert(c(2L) == c(1L) && c(3L) == c(1L) && c(4L) == c(1L))
    assert(c(5L) == "https://xn--e1afmkfd.example/p")
    assert(c(6L) == c(5L))
    // the lone C3 run is not well-formed UTF-8 — the host keeps its
    // escaped spelling (lowercased hex from the authority lowercase),
    // stable and unmangled
    assert(c(7L).contains("bad%c3host") || c(7L).contains("bad%C3host"), c(7L))
    assert(c(8L).toLowerCase.contains("a%2fb"), c(8L))
    assert(c(9L) == "https://kelvin.example/p" && c(10L) == c(9L))
    // idempotence: every canonical re-canonicalizes to itself
    c.values.foreach { u =>
      val again = canon(1L -> u)
      assert(again(1L) == u, s"not idempotent: $u")
    }
  }

  test("IdnHostExpr.fold: a label whose non-ASCII chars LOWERCASE to " +
    "pure ASCII (Kelvin sign U+212A) folds to the plain ASCII label, " +
    "never a pseudo-ACE xn-- form") {
    import org.apache.spark.unsafe.types.UTF8String
    def f(s: String) =
      graft.functions.IdnHost.fold(UTF8String.fromString(s)).toString
    assert(f("Kelvin.example") == "kelvin.example")
    assert(f("abK.example") == "abk.example")
    // the two equivalent spellings now land in ONE canonical group
    assert(f("Kelvin.example") == f("Kelvin.example".toLowerCase))
    // a genuinely non-ASCII label still folds to its ACE form
    assert(f("bücher.example") == "xn--bcher-kva.example")
  }

  test("canonicalHost / canonicalPath agree with the canonical URL") {
    val r = Seq((1L, "HTTP://WWW.Ex.COM:8080/a//b/?q=1#f")).toDF("id", "url")
      .select(UrlExprs.canonicalHost(col("url")).as("h"),
        UrlExprs.canonicalPath(col("url")).as("p"))
      .head()
    assert(r.getString(0) == "ex.com")
    assert(r.getString(1) == "/a/b")
  }

  private val rules = Seq(
    ("a.com", "/cat", false),        // host-wide disallow
    ("a.com", "/cat/ok", true),      // longer allow override
    ("a.com", "/cat/tie", true),     // exact tie:
    ("a.com", "/cat/tie", false),    //   allow must win
    ("WWW.B.com", "/", false)        // messy rule host: normalized to b.com
  ).toDF("host", "prefix", "allow")

  private def verdicts(urls: (Long, String)*): Map[Long, (Boolean, String)] =
    CrawlPolicy.applyPolicy(urls.toSeq.toDF("doc_id", "url"), "doc_id", "url", rules)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), if (r.isNullAt(3)) null else r.getString(3)))).toMap

  test("applyPolicy: longest prefix wins, tie goes to allow, no rule or " +
    "unknown host means allowed") {
    val v = verdicts(
      1L -> "https://a.com/cat/other",   // only /cat matches -> disallow
      2L -> "https://a.com/cat/ok/deep", // longer allow wins over /cat
      3L -> "https://a.com/cat/tie/x",   // allow/disallow tie -> allow
      4L -> "https://a.com/elsewhere",   // no matching rule -> allowed
      5L -> "https://WWW.A.com:443/cat/ok", // canonical host/path feed the match
      6L -> "https://c.com/cat/other",   // host without rules -> allowed
      7L -> "https://b.com/anything")    // host-wide '/' disallow
    assert(v(1L) == ((false, "/cat")))
    assert(v(2L) == ((true, "/cat/ok")))
    assert(v(3L) == ((true, "/cat/tie")))
    assert(v(4L) == ((true, null)))
    assert(v(5L) == ((true, "/cat/ok")))
    assert(v(6L) == ((true, null)))
    assert(v(7L) == ((false, "/")))
  }

  test("applyPolicy: verdict column is never NULL and doc count is " +
    "preserved (no dropped, no duplicated docs)") {
    val docs = (0L until 40L).map(i =>
      (i, s"https://a.com/cat/p$i")).toDF("doc_id", "url")
    val out = CrawlPolicy.applyPolicy(docs, "doc_id", "url", rules)
    assert(out.count() == 40)
    assert(out.where(col("allowed").isNull).count() == 0)
    assert(out.select("doc_id").distinct().count() == 40)
  }

  private def matches(cases: (String, String)*): Seq[Boolean] =
    cases.toSeq.toDF("path", "pat")
      .select(CrawlPolicy.robotsMatch(col("path"), col("pat")).as("m"))
      .collect().map(_.getBoolean(0)).toSeq

  test("robotsMatch: literal prefix, * wildcards (greedy), trailing $ " +
    "end-anchor, mid-$ literal, adjacent/leading/trailing stars") {
    val r = matches(
      "/a/b.pdf" -> "/a",             // plain prefix
      "/a/b.pdf" -> "/*.pdf",         // star + suffix-ish (unanchored)
      "/a/b.pdfx" -> "/*.pdf",        // unanchored: still a match (prefix rule)
      "/a/b.pdfx" -> "/*.pdf$",       // anchored: must END at .pdf -> no
      "/a/b.pdf" -> "/*.pdf$",        // anchored match
      "/a/b" -> "/a/b$",              // no star, $: exact path only
      "/a/bc" -> "/a/b$",             //   longer path -> no
      "/x/ay/az" -> "/x/a*a",         // greedy leftmost middle find
      "/ab" -> "/a**b",               // adjacent stars: empty segment ok
      "/ab$x" -> "/ab$x",             // mid-$ is literal
      "/p" -> "*p$",                  // leading star
      "/p/q" -> "/p/*",               // trailing star matches rest incl empty
      "/p" -> "/p*",                  //   empty rest
      "/q" -> "",                     // empty pattern matches everything
      "/ab" -> "/a*b$",               // anchor just after prefix
      "/ab" -> "/ab*$")               // star-then-anchor: matches
    assert(r == Seq(true, true, true, false, true, true, false, true,
      true, true, true, true, true, true, true, true))
  }

  test("robotsMatch: $-anchored last segment may not overlap the " +
    "prefix/middle consumption (position constraint)") {
    // pattern /ab*b$ on path /ab: prefix consumes /ab, last seg b would
    // need to re-use the consumed b -> no match; /abb matches
    assert(matches("/ab" -> "/ab*b$", "/abb" -> "/ab*b$") == Seq(false, true))
  }

  test("applyPolicy: wildcard and $ rules participate in longest-match " +
    "by RAW pattern length; a $-rule that cannot match is inert") {
    val wrules = Seq(
      ("w.com", "/cat", false),            // len 4 host-wide disallow
      ("w.com", "/cat/item1", true),       // len 10 literal allow
      ("w.com", "/cat/it*m2$", false),     // len 11 wildcard disallow
      ("w.com", "/*/item3", true),         // len 8 wildcard allow
      ("w.com", "/cat/ite$", true)         // len 9: matches NOTHING here
    ).toDF("host", "prefix", "allow")
    val v = CrawlPolicy.applyPolicy(
      (0L to 4L).map(i => (i, s"https://w.com/cat/item$i")).toDF("doc_id", "url"),
      "doc_id", "url", wrules)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(2), if (r.isNullAt(3)) null else r.getString(3)))).toMap
    assert(v(0L) == ((false, "/cat")))          // only /cat (the $-rule can't match)
    assert(v(1L) == ((true, "/cat/item1")))     // literal 10 beats /cat 4
    assert(v(2L) == ((false, "/cat/it*m2$")))   // wildcard 11 wins
    assert(v(3L) == ((true, "/*/item3")))       // wildcard 8 beats /cat 4
    assert(v(4L) == ((false, "/cat")))
  }

  test("applyPolicy: rule patterns at/past the packed-ordering bound " +
    "fail loudly instead of electing a wrong rule") {
    val big = ("a.com", "/" * (CrawlPolicy.MaxPatternLen + 1), true)
    val bad = Seq(big).toDF("host", "prefix", "allow")
    val docs = Seq((1L, "https://a.com/x")).toDF("doc_id", "url")
    val e = intercept[Exception] {
      CrawlPolicy.applyPolicy(docs, "doc_id", "url", bad).collect()
    }
    assert(e.getMessage.contains("CrawlPolicy") ||
      e.getCause != null && e.getCause.getMessage.contains("CrawlPolicy"))
  }

  private def rules(body: String, agent: String): Seq[(String, Boolean)] =
    CrawlPolicy.rulesFromRobots(
        Seq(("h.com", body)).toDF("host", "body"), "host", "body", agent)
      .collect().map(r => (r.getString(1), r.getBoolean(2))).toSeq

  test("rulesFromRobots: comments, blank lines inside groups, CRLF, " +
    "case-insensitive directives, multi-agent groups, empty values") {
    val body = "# robots for h.com\r\n" +
      "User-agent: OtherBot\r\n" +
      "Disallow: /\r\n" +
      "\r\n" +
      "user-AGENT: *\r\n" +
      "\r\n" +                       // blank line does NOT close the group
      "DISALLOW: /cat   # trailing comment\r\n" +
      "Allow: /cat/ok\r\n" +
      "Allow:\r\n" +                 // empty value: no rule
      "Crawl-delay: 10\r\n" +
      "not a directive line\r\n" +
      "Sitemap: https://h.com/map.xml\r\n"
    assert(rules(body, "graftbot") ==
      Seq(("/cat", false), ("/cat/ok", true)))
  }

  test("rulesFromRobots: RFC 9309 group selection — exact product token " +
    "beats *, an exact group with no rules allows everything (no star " +
    "fallback), user-agent runs accumulate until a rule closes them") {
    val body =
      "User-agent: *\nDisallow: /\n" +
      "User-agent: graftbot\nUser-agent: auditbot\n" +
      "Disallow: /private\nAllow: /private/ok\n"
    assert(rules(body, "graftbot") ==
      Seq(("/private", false), ("/private/ok", true)))
    assert(rules(body, "auditbot") == rules(body, "graftbot"))
    assert(rules(body, "randombot") == Seq(("/", false)))
    // a second user-agent line AFTER a rule starts a NEW group
    val split = "User-agent: graftbot\nDisallow: /a\n" +
      "User-agent: other\nDisallow: /b\n"
    assert(rules(split, "graftbot") == Seq(("/a", false)))
    // exact group exists but has no rules -> nothing applies, even
    // though a * group would forbid everything
    val emptyExact = "User-agent: *\nDisallow: /\n" +
      "User-agent: graftbot\nAllow:\n"
    assert(rules(emptyExact, "graftbot").isEmpty)
    // hostile garbage never throws and yields no rules
    assert(rules(" ::::\n#\n:::", "graftbot").isEmpty)
  }

  test("rulesFromRobots + applyPolicy compose: parsed wildcard rules " +
    "drive the verdict end-to-end") {
    val robots = Seq(
      ("a.com", "User-agent: graftbot\nDisallow: /*.pdf$\nAllow: /docs\n"),
      ("b.com", "User-agent: *\nDisallow: /\n")).toDF("host", "body")
    val parsed = CrawlPolicy.rulesFromRobots(robots, "host", "body", "graftbot")
    val docs = Seq(
      (1L, "https://a.com/docs/x.pdf"),   // allow /docs (6) vs /*.pdf$ (7): disallow wins
      (2L, "https://a.com/docs/x.txt"),   // only /docs matches -> allow
      (3L, "https://a.com/free"),         // no rule -> allow
      (4L, "https://b.com/anything"))     // * group for b.com, but we asked
                                          // for graftbot: no exact group ->
                                          // * applies -> disallow
      .toDF("doc_id", "url")
    val v = CrawlPolicy.applyPolicy(docs, "doc_id", "url", parsed)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(v == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false))
  }

  test("UrlFrontier.frontierPerHost: variants collapse to one frontier " +
    "slot, hosts from the canonical form, garbage URLs dropped") {
    val urls = Seq(
      (1L, "https://A.com/p?utm_source=x"),
      (2L, "https://www.a.com:443/p"),          // same slot as 1
      (3L, "https://a.com/p2"),                 // second slot for a.com
      (4L, "https://b.com./q"),
      (5L, "not a url")                         // NULL canonical: dropped
    ).toDF("id", "url")
    val got = graft.streaming.UrlFrontier.frontierPerHost(urls, "url")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a.com" -> 2L, "b.com" -> 1L))
  }

  test("applyPolicy plan: rules ride broadcast joins and the argmax " +
    "hash-aggregates (no SortAggregate — the packed-long ordering)") {
    val docs = (0L until 40L).map(i =>
      (i, s"https://a.com/cat/p$i")).toDF("doc_id", "url")
    val out = CrawlPolicy.applyPolicy(docs, "doc_id", "url", rules)
    out.collect() // materialize so AQE finalizes
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "rules must broadcast")
    assert(!plan.contains("SortAggregate"),
      "argmax must stay hash-aggregable (packed-long ordering)")
  }

  test("prioritizedFetchList: variants collapse before scheduling, " +
    "disallowed URLs drop, unknown hosts rank 0, politeness cut with " +
    "deterministic slots") {
    import spark.implicits._
    val cand = Seq(
      // three spellings of ONE canonical URL on a.com
      "https://a.com/x/1", "HTTPS://WWW.A.com:443/x/1",
      "https://a.com/x/1#frag",
      "https://a.com/x/2", "https://a.com/x/3", // same host, more URLs
      "https://a.com/private/1",                 // disallowed by rule
      "https://b.com/y", "https://b.com/z",      // host with no authority
      "garbage not a url" // canonicalizes to NULL and vanishes
    ).toDF("url")
    val rules = Seq(("a.com", "/private", false)).toDF("host", "prefix",
      "allow")
    val auth = Seq(("a.com", 0.7)).toDF("host", "rank")
    val out = graft.operators.CrawlPolicy.prioritizedFetchList(
      cand, "url", rules, auth, perHostK = 2)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getDouble(2), r.getInt(3))).toSet
    assert(out == Set(
      ("a.com", "https://a.com/x/1", 0.7, 1),
      ("a.com", "https://a.com/x/2", 0.7, 2), // /x/3 cut by politeness
      ("b.com", "https://b.com/y", 0.0, 1),
      ("b.com", "https://b.com/z", 0.0, 2)))
    intercept[IllegalArgumentException] {
      graft.operators.CrawlPolicy.prioritizedFetchList(cand, "url",
        rules, auth, perHostK = 0)
    }
  }

  test("apportionBudget: largest-remainder shares sum to the budget " +
    "exactly, ties to the smaller key") {
    import spark.implicits._
    val scores = Seq(("a", 5L), ("b", 3L), ("c", 2L)).toDF("host", "s")
    val out = graft.operators.CrawlPolicy
      .apportionBudget(scores, "host", "s", budget = 7L)
      .orderBy("key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // quotas 3.5 / 2.1 / 1.4 -> bases 3,2,1; remainders 5,1,4 -> a +1
    assert(out.toSeq == Seq(("a", 5L, 3L, 1L, 4L), ("b", 3L, 2L, 0L, 2L),
      ("c", 2L, 1L, 0L, 1L)), out.mkString(","))
    assert(out.map(_._5).sum == 7L)
    // remainder tie: equal scores, odd budget -> smaller key wins
    val tie = graft.operators.CrawlPolicy.apportionBudget(
      Seq(("x", 1L), ("y", 1L)).toDF("host", "s"), "host", "s", 3L)
      .orderBy("key").collect().map(r => (r.getString(0), r.getLong(4)))
    assert(tie.toSeq == Seq(("x", 2L), ("y", 1L)), tie.mkString(","))
    // zero-score keys get zero; duplicate keys aggregate first
    val z = graft.operators.CrawlPolicy.apportionBudget(
      Seq(("p", 4L), ("p", 4L), ("q", 0L)).toDF("host", "s"),
      "host", "s", 5L).orderBy("key").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(4)))
    assert(z.toSeq == Seq(("p", 8L, 5L), ("q", 0L, 0L)), z.mkString(","))
    intercept[IllegalArgumentException] {
      graft.operators.CrawlPolicy.apportionBudget(scores, "host", "s", 0L)
    }
    intercept[IllegalArgumentException] {
      graft.operators.CrawlPolicy.apportionBudget(
        Seq(("n", -1L)).toDF("host", "s"), "host", "s", 2L)
    }
  }
}
