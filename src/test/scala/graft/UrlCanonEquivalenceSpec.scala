package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** The r19 native URL canonicalizer ([[graft.functions.UrlCanon]]) must
  * be BYTE-IDENTICAL to the composed-Column pipeline it replaced
  * ([[graft.functions.UrlExprsReference.canonicalizeUrlComposed]], kept
  * with the specs as the executable specification). Both implementations are
  * evaluated THROUGH SPARK on the same frames, so codegen, null
  * semantics and UTF8String behavior are all inside the comparison.
  * Covers: the q138/q163/q164/q180 fixture variant shapes, a
  * hand-built adversarial corpus (escape garbage, ill-formed UTF-8
  * runs, IDN hosts in all three spellings, port/dot/slash/query edge
  * cases), and random generated inputs. */
class UrlCanonEquivalenceSpec extends SparkSpec {

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private def assertSame(urls: Seq[String]): Unit = {
    import spark.implicits._
    val df = urls.toDF("url").localCheckpoint()
    val rows = df.select(
      col("url"),
      graft.functions.UrlExprs.canonicalizeUrl(col("url")).as("n"),
      graft.functions.UrlExprsReference.canonicalizeUrlComposed(col("url")).as("c"),
      graft.functions.UrlExprs.canonicalHost(col("url")).as("nh"),
      graft.functions.UrlExprsReference.canonicalHostComposed(col("url")).as("ch"))
      .collect()
    rows.foreach { r =>
      assert(r.get(1) == r.get(2),
        s"canonicalizeUrl diverged on ${r.get(0)}: native=${r.get(1)} composed=${r.get(2)}")
      assert(r.get(3) == r.get(4),
        s"canonicalHost diverged on ${r.get(0)}: native=${r.get(3)} composed=${r.get(4)}")
    }
  }

  test("fixture variant shapes (the q138/q163/q164/q180 six-variant messy set)") {
    val urls = (0 until 50).flatMap { g =>
      val h = g % 7; val m = g % 10; val a = g % 3
      Seq(
        s"https://site$h.example.com/cat/item$m?a=$a&b=x%2Fy",
        s"HTTPS://SITE$h.EXAMPLE.COM:443/cat/item$m?b=x%2fy&a=$a",
        s"https://www.site$h.example.com/cat//item$m/?a=$a&b=x%2Fy&utm_source=feed",
        s"https://site$h.example.com./cat/%69tem$m?a=$a&b=x%2Fy#frag",
        s"https://site$h.example.com/cat/item$m?utm_campaign=x&a=$a&b=x%2Fy&gclid=1",
        s"https://xn--site$h-kva.example.com/cat/item$m?a=$a",
        s"https://clock.example.com/tick$g")
    }
    assertSame(urls)
  }

  test("adversarial corpus: escapes, UTF-8 garbage, IDN, ports, dots, queries") {
    assertSame(Seq(
      null,
      "", " ", "no scheme at all", "://nohost", "3http://a.com",
      "http://", "http:///path", "http://?q=1", "http://#f",
      // percent-escape zoo
      "http://a.com/%41%42%61%7e%7E", "http://a.com/%2f%2F%3a%3A",
      "http://a.com/%g1%1g%%%", "http://a.com/%4", "http://a.com/%",
      "http://a.com/a%zz%00b", "http://a.com/%c3%bc", "http://a.com/%C3%BC",
      // host escapes: valid UTF-8, ill-formed UTF-8, ASCII escapes
      "http://m%C3%BCnchen.example/x", "http://m%c3%bcnchen.example/x",
      "http://bad%C3host.example/x", "http://bad%FF%FEhost.example/x",
      "http://a%2Fb.example/x", "http://%41%42.example/x",
      "http://%E0%A0%80.example/x", "http://%ED%A0%80.example/x",
      "http://%F0%90%80%80.example/x", "http://%F4%90%80%80.example/x",
      // IDN in all spellings
      "http://bücher.example/x", "http://xn--bcher-kva.example/x",
      "http://BÜCHER.example/x", "http://straße.example/x",
      // www / dots / ports
      "http://www.a.com/x", "http://www.www.a.com/x", "http://wwwa.com/x",
      "http://a.com./x", "http://a.com.../x", "http://a.com:80/x",
      "http://a.com:443/x", "https://a.com:443/x", "https://a.com:80/x",
      "http://a.com:8080/x", "http://a.com:/x", "http://a.com:0080/x",
      "http://a.com:80x/x", "http://:8080/x", "http://a.com:65536/x",
      // paths
      "http://a.com", "http://a.com/", "http://a.com//", "http://a.com///x//y//",
      "http://a.com/x/", "http://a.com/x//", "http://a.com/./../x",
      // queries and fragments
      "http://a.com/x?", "http://a.com/x?&&&", "http://a.com/x?b=2&a=1",
      "http://a.com/x?a=1&a=1&a=0", "http://a.com/x?utm_source=1&utm_=2&utm=3",
      "http://a.com/x?gclid=1&gclidx=2&fbclid&msclkid=", "http://a.com/x?a",
      "http://a.com/x?a=%7E&b=%2F", "http://a.com/x#f?not=query",
      "http://a.com/x?q=1#f#g", "http://a.com/x?#",
      // scheme zoo
      "HTTP://A.COM/X", "hTTpS://a.com/x", "ftp+ssh-2.0://a.com/x",
      "a://b", "a1://b", "-a://b", "1a://b",
      // embedded newlines (the regex $-semantics edge)
      "http://a.com/x#f\nmore", "http://a.com/x?q=1\n", "http://a.com/x\n#f",
      "gclid\n", "http://a.com/x?gclid\n",
      // unicode in path/query
      "http://a.com/ü?ü=ß", "http://a.com/%E2%82%AC?x=%E2%82%AC",
      // the U+FB00 ligature shape: upper("ﬀ") = "FF", so the composed
      // form's upper-then-hex-regex test ACCEPTS "%ﬀ" as escape 0xFF
      "http://a.com/%ﬀ", "http://a.com/x%ﬀy", "http://a%ﬀ.ex/x",
      "http://m%C3%BCn%ﬀ.ex/x", "http://a.com/x?%ﬀ=1", "http://a.com/%ﬁ%ﬂ",
      // long repetitive garbage
      "http://" + ("a." * 200) + "com/" + ("%41" * 300),
      "http://a.com/" + ("/" * 500) + "x",
      "http://a.com/x?" + (1 to 200).map(i => s"k$i=$i").mkString("&")))
  }

  test("random inputs: arbitrary strings and structured random URLs agree") {
    val unicodeStr = Gen.listOf(Gen.frequency(
      8 -> Gen.choose(32.toChar, 126.toChar),
      1 -> Gen.oneOf('%', '#', '?', '&', '/', ':', '.', '='),
      1 -> Gen.oneOf('ü', 'ß', '€', '語', '\n', 'ﬀ'))).map(_.mkString)
    val structured = for {
      scheme <- Gen.oneOf("http", "https", "HTTP", "ftp", "x+y-1.z")
      www <- Gen.oneOf("", "www.", "WWW.")
      host <- Gen.oneOf("a.com", "bücher.de", "xn--bcher-kva.de",
        "m%C3%BCnchen.ex", "a%2Fb.ex", "A.COM.", "site3.example.com")
      port <- Gen.oneOf("", ":80", ":443", ":8080", ":x")
      path <- Gen.oneOf("", "/", "//a//b/", "/%7Euser/%2Fx", "/a/b.c")
      query <- Gen.oneOf("", "?a=1&b=2", "?b=2&a=1&utm_k=v", "?&gclid=9&z=%2F")
      frag <- Gen.oneOf("", "#f", "#a?b=1")
    } yield s"$scheme://$www$host$port$path$query$frag"
    assertSame(sample(unicodeStr, 500) ++ sample(structured, 500))
  }
}
