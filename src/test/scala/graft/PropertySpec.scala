package graft

import graft.etl.SalesTaxonomy
import graft.functions.{CleanExprs, ShingleHash32, StableId63, TextExprs, TextExprsReference}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** Property-based checks (SURVEY.md §5.2 item 3) using ScalaCheck
  * generators sampled into Spark jobs: hash range/stability, taxonomy
  * totality, upsert idempotence, shingle-expression equivalence. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[T](g: Gen[T], n: Int): Seq[T] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  private val weirdString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf(' ', '\t', '\n', 'a', '好', '|', '%')).map(_.mkString),
    Gen.const(""))

  test("stableId: 0 <= id < 2^63 and deterministic, for arbitrary inputs") {
    val rows = sample(Gen.zip(weirdString, weirdString, weirdString), 300)
    val df = rows.toDF("n", "a", "p")
    val ids1 = df.select(CleanExprs.stableId($"n", $"a", $"p").as("id"))
      .as[Long].collect()
    val ids2 = df.select(CleanExprs.stableId($"n", $"a", $"p").as("id"))
      .as[Long].collect()
    assert(ids1.forall(_ >= 0L))
    assert(ids1.toSeq == ids2.toSeq)
  }

  test("taxonomy totality: category is never NULL for any (sku, name)") {
    val skuGen = Gen.oneOf(Gen.alphaNumStr,
      Gen.oneOf("CN1", "NBx", "HZ-9", "SZ00", "HIFINEZ", "CN1139-Q", "zz"))
    val rows = sample(Gen.zip(skuGen, Gen.option(weirdString)), 300)
    val dim = rows.toDF("main_sku_code", "english_name")
      .withColumn("category", lit(null).cast("string"))
      .withColumn("subcategory", lit(null).cast("string"))
    val out = SalesTaxonomy(dim)
    assert(out.where(col("category").isNull).count() == 0)
    // and Furniture/Outdoor rows always get a subcategory
    assert(out.where(col("category").isin("Furniture", "Outdoor & Garden")
      && col("subcategory").isNull).count() == 0)
  }

  test("antiJoinInsert idempotence: applying twice equals applying once") {
    val keys = sample(Gen.chooseNum(1, 40), 60)
    val dim = keys.take(20).distinct.map(k => (k, s"v$k")).toDF("k", "v")
    val inc = keys.map(k => (k, s"v$k")).toDF("k", "v")
    val once = graft.operators.Upsert.antiJoinInsert(dim, inc, Seq("k"))
    val twice = graft.operators.Upsert.antiJoinInsert(once, inc, Seq("k"))
    assert(once.count() == twice.count())
    assert(once.select("k").distinct().count() == once.count())
  }

  test("ShingleHash32 equals the composed formulation on fuzzed text") {
    val texts = sample(weirdString, 200)
    for (n <- Seq(1, 2, 3)) {
      val df = texts.toDF("text")
      val slow = df.select(coalesce(transform(
          if (n == 1) TextExprs.tokens($"text") else TextExprsReference.shingles($"text", n),
          t => TextExprsReference.tokenHash32Expr(t)), array()).as("hv"))
        .collect().map(_.getSeq[Long](0).toSeq)
      val fast = df.select(ShingleHash32.shingleHash32($"text", n).as("hv"))
        .collect().map(_.getSeq[Long](0).toSeq)
      slow.zip(fast).zip(texts).foreach { case ((s, f), t) =>
        assert(s == f, s"n=$n text=${t.map(_.toInt.toHexString)}")
      }
    }
  }

  test("native StableId63 equals composed chain on fuzzed keys") {
    val keys = sample(weirdString, 300)
    val df = keys.toDF("k")
    val pairs = df.select(
      StableId63.stableId63($"k").as("native"),
      graft.functions.CleanExprs.hex16ToId(md5($"k")).as("composed")).collect()
    pairs.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("native SimHash48 equals the declarative formulation on fuzzed text") {
    val texts = sample(weirdString, 150).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = texts.toDF("doc_id", "text")
    val native = graft.operators.Dedup.simhash(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val decl = graft.operators.DedupReference.simhashDeclarative(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // declarative == native on every doc it emits; signatures fit 48 bits
    decl.foreach { case (id, sig) => assert(native(id) == sig, s"doc $id") }
    native.values.foreach(sig => assert((sig >> 48) == 0L))
  }

  test("as-of join equals the naive greatest-ts-per-row join on fuzzed series") {
    val rnd = new scala.util.Random(7)
    val ts0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime
    def t(offsetMin: Int) = new java.sql.Timestamp(ts0 + offsetMin * 60000L)
    val left = (1 to 120).map(i => (i.toLong, (rnd.nextInt(5) + 1).toLong, t(rnd.nextInt(500))))
      .toDF("lid", "k", "lts")
    val right = (1 to 80).map(i => ((rnd.nextInt(5) + 1).toLong, t(rnd.nextInt(500)), i.toDouble))
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq // unique (k, ts)
      .toDF("k", "rts", "v")
    val got = graft.operators.AsOfJoin.backward(left, right, Seq("k"), "lts", "rts", Seq("v"))
      .select("lid", "asof_rts", "asof_v")
      .collect().map(r => r.getLong(0) -> (Option(r.get(1)), Option(r.get(2)))).toMap
    // naive: max right ts <= left ts, then fetch its payload
    val rRows = right.collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getDouble(2)))
    left.collect().foreach { lr =>
      val (lid, k, lts) = (lr.getLong(0), lr.getLong(1), lr.getTimestamp(2))
      val matched = rRows.filter(x => x._1 == k && !x._2.after(lts))
        .sortBy(_._2.getTime).lastOption
      assert(got(lid)._1 == matched.map(_._2), s"lid=$lid ts")
      assert(got(lid)._2 == matched.map(_._3), s"lid=$lid payload")
    }
  }

  test("mixToQuotas: output per domain is monotone in the quota on fuzzed corpora") {
    val rnd = new scala.util.Random(11)
    val docs = (1 to 400)
      .map(i => (i.toLong, s"dom${rnd.nextInt(4)}"))
      .toDF("doc_id", "dom")
    def ids(quota: Long): Set[Long] = graft.operators.TrainingData
      .mixToQuotas(docs, "doc_id", "dom",
        Map("dom0" -> quota, "dom1" -> quota, "dom2" -> quota))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val steps = Seq(0L, 10L, 40L, 120L, 500L).map(ids)
    steps.sliding(2).foreach { case Seq(a, b) =>
      assert(a.subsetOf(b), "growing every quota must only add documents")
    case _ => ()
    }
    assert(steps.head.isEmpty)           // zero quota drops everything
    // whitelist: dom3 never appears at any quota
    val all = graft.operators.TrainingData.mixToQuotas(docs, "doc_id", "dom",
      Map("dom0" -> 500L, "dom1" -> 500L, "dom2" -> 500L))
    assert(all.where(col("dom") === "dom3").count() == 0)
  }

  test("chunkDocs reassembles to the original token stream on fuzzed docs") {
    // stride == chunk (no overlap): concatenating a doc's chunks in
    // chunk_idx order must reproduce its exact token sequence
    val texts = sample(Gen.chooseNum(0, 40), 60).zipWithIndex.map {
      case (n, i) => (i.toLong, (1 to n).map(j => s"t${i}_$j").mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    val out = graft.operators.TrainingData
      .chunkDocs(df, "doc_id", "text", chunk = 7, stride = 7)
      .collect().groupBy(_.getLong(0))
    texts.foreach { case (id, text) =>
      if (text.trim.isEmpty) assert(!out.contains(id))
      else {
        val rebuilt = out(id).sortBy(_.getInt(1))
          .map(_.getAs[String]("chunk_text")).mkString(" ")
        assert(rebuilt == text, s"doc $id")
      }
    }
  }

  test("lmQualityScore: per-doc NLL bounds and token accounting on fuzzed corpora") {
    val vocabGen = Gen.oneOf("the", "cat", "sat", "on", "mat",
      "dog", "ran", "far", "qqq", "zzz")
    val docsSeq = (1 to 120).map { i =>
      val n = 1 + (i * 7) % 12
      (i.toLong, sample(vocabGen, n).mkString(" "))
    }
    val df = docsSeq.toDF("doc_id", "text")
    val v = 5
    val alpha = 0.5
    val out = graft.operators.TrainingData
      .lmQualityScore(df, "doc_id", "text", df, "text", vocabSize = v, alpha = alpha)
      .collect()
    // local LM arithmetic: every doc's mean NLL must sit inside the
    // [most-frequent-token NLL, OOV NLL] envelope, and OOV counts must
    // never exceed token counts
    val toks = docsSeq.flatMap(_._2.split("\\s+")).filter(_.nonEmpty)
    val total = toks.size
    val maxCount = toks.groupBy(identity).values.map(_.size).max
    val denom = total + alpha * (v + 1)
    val lo = -math.log((maxCount + alpha) / denom) - 1e-6
    val hi = -math.log(alpha / denom) + 1e-6
    out.foreach { r =>
      val (nTok, nOov, avg) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(nOov >= 0 && nOov <= nTok, r.toString)
      assert(avg >= lo && avg <= hi, s"$avg outside [$lo, $hi]: $r")
    }
    assert(out.map(_.getLong(1)).sum == total) // every token scored once
  }

  test("decontaminateBloom == exact decontamination on fuzzed corpora and fpp") {
    val rnd = new scala.util.Random(29)
    // corpus: half original docs, half docs sharing 3-gram spans with the
    // eval slice (real contamination), plus pure noise
    val base = (1 to 150).map { i =>
      val words = (0 until 8).map(j => s"w${rnd.nextInt(40)}_$j")
      (i.toLong, words.mkString(" "))
    }
    val contaminatedCopies = base.take(30).map { case (id, t) =>
      (id + 1000L, t.split(" ").take(5).mkString(" ") + s" tail${id}")
    }
    val df = (base ++ contaminatedCopies).toDF("doc_id", "text")
    val evalSet = df.where(col("doc_id") <= 40)
    val exact = graft.operators.Dedup
      .decontaminate(df, evalSet, "doc_id", "text", ngram = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    for (fpp <- Seq(0.3, 0.01)) {
      val bloom = graft.operators.Dedup
        .decontaminateBloom(df, evalSet, "doc_id", "text", ngram = 3, fpp = fpp)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(bloom == exact, s"fpp=$fpp")
    }
  }

  test("dedupSegmentsGlobal conserves exactly the distinct-segment mass") {
    // on fuzzed corpora: kept segments == distinct segments of the whole
    // corpus (first-occurrence semantics drop repeats, nothing else)
    val segGen = Gen.oneOf("alpha beta", "gamma delta", "epsilon zeta",
      "eta theta", "iota kappa")
    val docGen = Gen.nonEmptyListOf(segGen).map(_.mkString(". "))
    val rows = sample(docGen, 60).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val df = rows.toDF("doc_id", "text")
    val out = graft.operators.TrainingData
      .dedupSegmentsGlobal(df, "doc_id", "text")
    val keptTotal = out.agg(sum("n_kept")).head().getLong(0)
    val distinctSegs = rows.flatMap(_._2.split("\\. ")).map(_.trim)
      .filter(_.nonEmpty).distinct.size
    assert(keptTotal == distinctSegs.toLong, s"$keptTotal vs $distinctSegs")
  }

  test("Expectations.validate equals naive driver-side counting on fuzzed frames") {
    import graft.operators.Expectations._
    val rowGen = Gen.zip(Gen.chooseNum(1L, 20L), Gen.option(Gen.chooseNum(1L, 8L)),
      Gen.oneOf("OK", "BAD", "ok"), Gen.chooseNum(-50.0, 150.0))
    val rows = sample(rowGen, 200)
    val df = rows.toDF("id", "fk", "status", "price")
    val ref = Seq(1L, 2L, 3L, 4L).toDF("k")
    val got = graft.operators.Expectations.validate(df, Seq(
      NotNull("fk"), InRange("price", 0.0, 100.0), InSet("status", Seq("OK")),
      Unique(Seq("id")), RefIntegrity("fk", ref, "k")))
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got("not_null") == rows.count(_._2.isEmpty).toLong)
    assert(got("in_range") == rows.count(r => r._4 < 0.0 || r._4 > 100.0).toLong)
    assert(got("in_set") == rows.count(_._3 != "OK").toLong)
    assert(got("unique") ==
      (rows.size - rows.map(_._1).distinct.size).toLong)
    assert(got("ref_integrity") ==
      rows.count(r => r._2.exists(v => v > 4L)).toLong)
  }

  test("GifCodec: encode→decode is the identity on fuzzed palettes, " +
      "dims, and interlacing") {
    val rnd = new scala.util.Random(101)
    val cases = for {
      _ <- 1 to 40
    } yield {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(24)
      val palSize = 1 + rnd.nextInt(256)
      val pal = Array.fill(palSize)(rnd.nextInt(1 << 24))
      // mix noise with runs so both literal-heavy and dictionary-heavy
      // LZW streams appear
      val idx = Array.fill(w * h)(
        if (rnd.nextBoolean()) rnd.nextInt(palSize) else 0)
      (w, h, pal, idx, rnd.nextBoolean())
    }
    cases.foreach { case (w, h, pal, idx, inter) =>
      val got = graft.multimodal.GifCodec.decode(
        graft.multimodal.GifCodec.encode(w, h, pal, idx, interlaced = inter))
      assert(got.isDefined, s"$w x $h pal=${pal.length} inter=$inter")
      val (gw, gh, ch, gs) = got.get
      assert((gw, gh, ch) == (w, h, 3))
      val want = idx.flatMap(c => Array((pal(c) >> 16) & 0xff,
        (pal(c) >> 8) & 0xff, pal(c) & 0xff)).toSeq
      assert(gs.toSeq == want, s"$w x $h pal=${pal.length} inter=$inter")
    }
  }

  test("PcmCodec: encode→decode is the identity on fuzzed depth/" +
      "channels/counts, both containers") {
    val rnd = new scala.util.Random(103)
    (1 to 60).foreach { _ =>
      val bits = Seq(8, 16, 24)(rnd.nextInt(3))
      val ch = 1 + rnd.nextInt(3)
      val frames = 1 + rnd.nextInt(50) // odd byte counts hit the pad path
      val lim = 1 << (bits - 1)
      val s = Array.fill(frames * ch)(rnd.nextInt(2 * lim) - lim)
      val rate = 8000 + rnd.nextInt(40000)
      val wav = graft.multimodal.PcmCodec.decode(
        graft.multimodal.PcmCodec.encodeWav(ch, rate, bits, s))
      assert(wav.exists(p => p.channels == ch && p.sampleRate == rate &&
        p.bits == bits && p.samples.toSeq == s.toSeq),
        s"wav bits=$bits ch=$ch n=${s.length}")
      val aiff = graft.multimodal.PcmCodec.decode(
        graft.multimodal.PcmCodec.encodeAiff(ch, rate, bits, s))
      assert(aiff.exists(p => p.channels == ch && p.sampleRate == rate &&
        p.bits == bits && p.samples.toSeq == s.toSeq),
        s"aiff bits=$bits ch=$ch n=${s.length}")
    }
  }

  test("VideoMetaExpr: parsed fields equal encoder arguments on fuzzed " +
      "containers") {
    val rnd = new scala.util.Random(107)
    (1 to 50).foreach { _ =>
      if (rnd.nextBoolean()) {
        val (w, h) = (rnd.nextInt(4096), rnd.nextInt(4096))
        val ts = 1 + rnd.nextInt(90000)
        val dur = rnd.nextInt(1 << 30).toLong
        val tracks = rnd.nextInt(5)
        val m = graft.functions.VideoMetaExpr.parseHeader(
          graft.multimodal.VideoFixture.encodeMp4(w, h, ts, dur, tracks))
        assert(m != null, s"mp4 $w x $h ts=$ts")
        assert(m.getUTF8String(0).toString == "mp4")
        // dims come from the first track; a 0-track file has none
        assert(m.getInt(1) == (if (tracks > 0) w else 0))
        assert(m.getInt(2) == (if (tracks > 0) h else 0))
        assert(m.getLong(3) == dur * 1000L / ts)
        assert(m.getInt(4) == tracks)
      } else {
        val (w, h) = (rnd.nextInt(8192), rnd.nextInt(8192))
        val usf = 1 + rnd.nextInt(100000)
        val frames = rnd.nextInt(100000)
        val streams = rnd.nextInt(10)
        val m = graft.functions.VideoMetaExpr.parseHeader(
          graft.multimodal.VideoFixture.encodeAvi(w, h, usf, frames, streams))
        assert(m != null, s"avi $w x $h")
        assert(m.getUTF8String(0).toString == "avi")
        assert(m.getInt(1) == w && m.getInt(2) == h)
        assert(m.getLong(3) == frames.toLong * usf / 1000L)
        assert(m.getInt(4) == streams)
      }
    }
  }

  test("htmlToText: scripts drop with contents, entities single-decode, " +
      "hostile markup never throws") {
    def clean(s: String): String =
      Seq(s).toDF("h")
        .select(TextExprs.htmlToText(col("h")).as("c"))
        .collect().head.getString(0)
    assert(clean("<p>hello <b>world</b></p>") == "hello world")
    // script/style contents vanish even when they contain markup
    assert(clean("<script>var a = \"<p>evil</p>\";</script>keep") == "keep")
    assert(clean("<STYLE media=x>p { }</STYLE>keep") == "keep") // case-insensitive
    assert(clean("a<script>\nmulti\nline\n</script>b") == "a b")
    // entities: single decode, &amp; last — the double-encoded survives
    assert(clean("&lt;tag&gt; &amp;amp; &quot;q&quot; &#39;s&#39;") ==
      "<tag> &amp; \"q\" 's'")
    // comments fall to the tag rule; whitespace collapses; trim
    assert(clean("  x <!-- note --> \n\t y  ") == "x y")
    // hostile fragments: unbalanced, truncated — never throw
    assert(clean("<script>never closed") == "<script>never closed"
      .replaceAll("<[^>]*>", " ").trim) // no </script>: span rule can't fire
    assert(clean("<<<>>>") == ">>") // greedy <...> eats "<<<>", rest literal
    assert(clean("") == "")
  }

  test("htmlTitle/htmlMetaContent/htmlCanonicalUrl: attribute-order and " +
      "quote-style matrix, entity decode, absent -> NULL, injection " +
      "refusal, hostile markup never throws") {
    def ext(s: String): (String, String, String) =
      Seq(s).toDF("h").select(
        TextExprs.htmlTitle(col("h")).as("t"),
        TextExprs.htmlMetaContent(col("h"), "description").as("d"),
        TextExprs.htmlCanonicalUrl(col("h")).as("c"))
        .collect().map(r => (r.getString(0), r.getString(1),
          r.getString(2))).head
    // all four syntax variants extract identically
    val want = ("T & t", "a \"b\"", "https://e.x/?a=1&b=2")
    assert(ext("<title>T &amp; t</title>" +
      "<meta name=\"description\" content=\"a &quot;b&quot;\">" +
      "<link rel=\"canonical\" href=\"https://e.x/?a=1&amp;b=2\">") == want)
    assert(ext("<TITLE lang=en>T &amp; t</TITLE>" +
      "<meta name='description' content='a &quot;b&quot;'>" +
      "<link rel='canonical' href='https://e.x/?a=1&amp;b=2'>") == want)
    assert(ext("<title> T &amp;\n t </title>" + // whitespace collapses
      "<META content=\"a &quot;b&quot;\" NAME=\"description\">" +
      "<LINK href=\"https://e.x/?a=1&amp;b=2\" rel=canonical>") == want)
    assert(ext("<title>T &amp; t</title>" +
      "<meta content='a &quot;b&quot;' name=description>" +
      "<link href='https://e.x/?a=1&amp;b=2' rel='canonical'>") == want)
    // absent, empty, or wrong-name metadata -> NULL, never ""
    assert(ext("<body>no head</body>") == ((null, null, null)))
    assert(ext("<title>  </title><meta name=\"keywords\" content=\"k\">" +
      "<link rel=\"next\" href=\"/2\">") == ((null, null, null)))
    // first title wins; truncated/hostile markup never throws
    assert(ext("<title>one</title><title>two</title>")._1 == "one")
    assert(ext("<title>never closed")._1 == null)
    assert(ext("<meta name=\"description\" content=\"unclosed")._2 == null)
    // the name parameter refuses regex injection
    intercept[IllegalArgumentException] {
      Seq("x").toDF("h")
        .select(TextExprs.htmlMetaContent(col("h"), "a|b)("))
    }
  }

  test("htmlBlocks/htmlMainText: nav rails die by link density, stubs " +
      "die by word count, content with an inline link survives, hostile " +
      "markup never throws") {
    def blocks(s: String): Seq[(String, Int, Double, Boolean)] =
      Seq(s).toDF("h")
        .select(explode(TextExprs.htmlBlocks(col("h"))).as("b"))
        .select("b.text", "b.n_words", "b.link_density", "b.is_boilerplate")
        .collect().map(r => (r.getString(0), r.getInt(1),
          r.getDouble(2), r.getBoolean(3))).toSeq
    // the kept-content projection q154 computes: non-boilerplate block
    // texts joined with newlines
    def main(s: String): String =
      Seq(s).toDF("h")
        .select(array_join(transform(
          filter(TextExprs.htmlBlocks(col("h")),
            b => !b.getField("is_boilerplate")),
          b => b.getField("text")), "\n").as("m"))
        .collect().head.getString(0)
    val page = "<body><nav><a href=\"/\">Home</a> <a href=\"/a\">About</a> " +
      "<a href=\"/c\">Contact</a> <a href=\"/x\">Careers</a> " +
      "<a href=\"/b\">Blog</a></nav>" +
      "<h1>Short heading</h1>" +
      "<p>This long paragraph talks about engines and links to " +
      "<a href=\"/s\">one page</a> among many other words.</p>" +
      "<p>© 2026</p></body>"
    val bs = blocks(page)
    assert(bs.map(_._1) == Seq(
      "Home About Contact Careers Blog",
      "Short heading",
      "This long paragraph talks about engines and links to one page " +
        "among many other words.",
      "© 2026"))
    // nav: 5 words (passes the length rule) but density ~0.87 kills it
    assert(bs(0)._2 == 5 && bs(0)._3 > 0.33 && bs(0)._4)
    // heading: density 0 but 2 words kill it
    assert(bs(1)._2 == 2 && bs(1)._3 == 0.0 && bs(1)._4)
    // content: 15 words, link "one page" = 8 of 85 chars -> kept
    assert(bs(2)._2 == 15 && bs(2)._3 < 0.33 && !bs(2)._4)
    assert(bs(3)._4)
    assert(main(page) == bs(2)._1)
    // inline markup inside a link counts its CLEANED chars only
    val b2 = blocks("<p><a href=\"/x\"><b>Bold</b> link</a> word</p>")
    assert(b2.head._1 == "Bold link word")
    assert(math.abs(b2.head._3 - 9.0 / 14.0) < 1e-12)
    // hostile: unclosed tags, empty input, all-chrome pages
    assert(blocks("").isEmpty)
    assert(main("<nav><a href=\"/\">Only</a> <a href=\"/b\">Links</a></nav>") == "")
    // unclosed <a>: the link span can't match (no </a>), so density 0;
    // the 2-word fragment still dies by word count — and nothing throws
    assert(blocks("<p><a href=x>never closed") ==
      Seq(("never closed", 2, 0.0, true)))
    assert(main("<div>one two three four five</div>") ==
      "one two three four five")
  }

  test("robots parser hostility: random directive soup never throws, " +
    "every emitted rule is non-empty, and parsing is deterministic") {
    val frag = Gen.oneOf(
      "User-agent: *", "User-agent: graftbot", "user-agent:", "User-agent: A",
      "Disallow: /a", "Allow: /b", "Disallow:", "Allow: ", "allow: /c$",
      "Disallow: /*.pdf$", "# comment", "", "   ", "no colon here",
      ":", "::", "Crawl-delay: 3", "Sitemap: http://x/map", "\t Allow: /d",
      "USER-AGENT: GRAFTBOT", "Disallow: /e # tail")
    val bodyGen = Gen.listOfN(12, frag).map(_.mkString("\n"))
    val bodies = sample(bodyGen, 120).zipWithIndex
      .map { case (b, i) => (i.toLong, b) }
    val df = bodies.toDF("id", "body")
    def parse() = graft.operators.CrawlPolicy
      .rulesFromRobots(df.select(concat(lit("h"), $"id").as("host"), $"body"),
        "host", "body", "graftbot")
      .collect().map(r => (r.getString(0), r.getString(1), r.getBoolean(2)))
      .toSeq.sorted
    val r1 = parse()
    assert(r1.forall(_._2.nonEmpty)) // empty-value rules never leak
    assert(r1 == parse())            // deterministic
  }

  test("IDN host fold is idempotent on fuzzed hosts and never throws") {
    val label = Gen.oneOf("ascii", "büch", "пример", "例", "xn--bcher-kva",
      "UPPER", "MÜnch", "a-b", "", "ü" * 70, "mix3d9")
    val hostGen = Gen.listOfN(3, label).map(_.mkString("."))
    val hosts = sample(hostGen, 150).zipWithIndex
      .map { case (h, i) => (i.toLong, s"https://$h/p") }
    val once = hosts.toDF("id", "url")
      .select($"id", graft.functions.UrlExprs.canonicalizeUrl($"url").as("c1"))
    val twice = once.select($"id", $"c1",
      graft.functions.UrlExprs.canonicalizeUrl($"c1").as("c2"))
    twice.collect().foreach { r =>
      val c1 = if (r.isNullAt(1)) null else r.getString(1)
      val c2 = if (r.isNullAt(2)) null else r.getString(2)
      assert(c1 == c2, s"IDN fold not a fixed point: $c1 -> $c2")
    }
  }

  test("codec hostility: every prefix and random corruption of valid " +
      "containers decodes to None or a value, never throws") {
    // the 100 TB crawl contract: a truncated upload or a bit-flipped
    // payload must decline inside the kernel, not kill the task
    val rnd = new scala.util.Random(211)
    val png = graft.multimodal.PngCodec.encode(9, 7, 3,
      Array.fill(9 * 7 * 3)(rnd.nextInt(256)))
    val gif = graft.multimodal.GifCodec.encode(9, 7,
      Array.tabulate(16)(_ * 0x111111), Array.fill(63)(rnd.nextInt(16)))
    val jpg = graft.multimodal.JpegCodec.encodeColor(16, 16,
      Array.fill(16 * 16 * 3)(rnd.nextInt(256)))
    val j420 = graft.multimodal.JpegCodec.encodeColor420(16, 16,
      Array.fill(16 * 16 * 3)(rnd.nextInt(256)))
    val jprog = graft.multimodal.JpegCodec.encodeProgressive(16, 16,
      Array.fill(16 * 16)(rnd.nextInt(256)))
    val jsa = graft.multimodal.JpegCodec.encodeProgressiveSA(16, 16,
      Array.fill(16 * 16)(rnd.nextInt(256)))
    val jp420 = graft.multimodal.JpegCodec.encodeProgressive420(16, 16,
      Array.fill(16 * 16 * 3)(rnd.nextInt(256)), sa = true)
    val wav = graft.multimodal.PcmCodec.encodeWav(2, 8000, 24,
      Array.fill(20)(rnd.nextInt(1 << 24) - (1 << 23)))
    val mp4 = graft.multimodal.VideoFixture.encodeMp4(64, 48, 1000, 5000L, 2)
    def assaults(full: Array[Byte]): Iterator[Array[Byte]] =
      full.indices.iterator.map(full.take) ++ // every prefix
        (1 to 40).iterator.map { _ =>         // random single-byte flips
          val c = full.clone()
          c(rnd.nextInt(c.length)) = rnd.nextInt(256).toByte
          c
        }
    assaults(png).foreach(b => graft.multimodal.PngCodec.decode(b))
    assaults(gif).foreach(b => graft.multimodal.GifCodec.decode(b))
    assaults(jpg).foreach(b => graft.multimodal.JpegCodec.decode(b))
    assaults(j420).foreach(b => graft.multimodal.JpegCodec.decode(b))
    assaults(jprog).foreach(b => graft.multimodal.JpegCodec.decode(b))
    assaults(jsa).foreach(b => graft.multimodal.JpegCodec.decode(b))
    assaults(jp420).foreach(b => graft.multimodal.JpegCodec.decode(b))
    assaults(wav).foreach(b => graft.multimodal.PcmCodec.decode(b))
    assaults(mp4).foreach(b => graft.functions.VideoMetaExpr.parseHeader(b))
    // full payloads still decode after the fuzz pass (no shared state)
    assert(graft.multimodal.PngCodec.decode(png).isDefined)
    assert(graft.multimodal.GifCodec.decode(gif).isDefined)
    assert(graft.multimodal.JpegCodec.decode(jpg).isDefined)
    assert(graft.multimodal.JpegCodec.decode(j420).isDefined)
    assert(graft.multimodal.JpegCodec.decode(jprog).isDefined)
    assert(graft.multimodal.JpegCodec.decode(jsa).isDefined)
    assert(graft.multimodal.JpegCodec.decode(jp420).isDefined)
    assert(graft.multimodal.PcmCodec.decode(wav).isDefined)
  }

  test("upsampleToQuota output per domain is exactly derivable from counts") {
    val quota = 37L
    val rows = sample(Gen.chooseNum(1L, 1000L), 80).distinct
      .map(id => (id, "d"))
    val df = rows.toDF("doc_id", "dom")
    val cnt = rows.size.toLong
    val out = graft.operators.TrainingData
      .upsampleToQuota(df, "doc_id", "dom", Map("d" -> quota))
    val full = quota / cnt
    // full epochs contribute exactly cnt rows each; the partial epoch is
    // threshold-selected, so bound it rather than pin it
    val n = out.count()
    assert(n >= full * cnt && n <= (full + 1) * cnt, s"n=$n cnt=$cnt")
    // every doc appears in every full epoch
    assert(out.where(col("epoch") < full).count() == full * cnt)
  }

  test("canonicalizeUrl is idempotent on fuzzed URLs: canonical output " +
    "is a fixed point, and garbage is stably NULL") {
    val scheme = Gen.oneOf("http", "HTTPS", "Http", "ftp")
    val host = Gen.oneOf("Ex.COM", "www.ex.com", "WWW.a-b.ORG", "h99.net",
      "ex.com.", "e%78.com")
    val port = Gen.oneOf("", ":80", ":443", ":8080", ":0443")
    val path = Gen.oneOf("", "/", "/a", "/a//b/", "/a/b//", "//x",
      "/%7euser", "/a%2fb", "/p%41ge", "/x%zz", "/y%")
    val query = Gen.oneOf("", "?", "?b=2&a=1", "?utm_source=x&a=1",
      "?a=1&&b=2", "?gclid=9", "?z=%20&a=1", "?%62=1&a=%2f", "?k=%7E%")
    val frag = Gen.oneOf("", "#f", "#a?b=1")
    val urlGen = for {
      s <- scheme; h <- host; po <- port; pa <- path; q <- query; f <- frag
    } yield s"$s://$h$po$pa$q$f"
    val urls = (sample(urlGen, 250) ++ Seq("", "no-scheme/path", "a:b"))
      .zipWithIndex.map { case (u, i) => (i.toLong, u) }
    val df = urls.toDF("id", "url")
    val once = df.select($"id",
      graft.functions.UrlExprs.canonicalizeUrl($"url").as("c1"))
    val twice = once.select($"id",
      $"c1", graft.functions.UrlExprs.canonicalizeUrl($"c1").as("c2"))
    val rows = twice.collect()
    rows.foreach { r =>
      val c1 = if (r.isNullAt(1)) null else r.getString(1)
      val c2 = if (r.isNullAt(2)) null else r.getString(2)
      assert(c1 == c2, s"not a fixed point: $c1 -> $c2")
    }
    // garbage (no scheme://) is NULL, not a fabricated canonical
    val bad = Seq((0L, ""), (1L, "no-scheme/path"), (2L, "a:b")).toDF("id", "url")
      .select(graft.functions.UrlExprs.canonicalizeUrl($"url").as("c"))
    assert(bad.collect().forall(_.isNullAt(0)))
  }

  test("progressive JPEG == baseline JPEG decode on fuzzed images, band " +
    "splits, sampling shapes, and both scan scripts") {
    import graft.multimodal.JpegCodec
    val rnd = new scala.util.Random(4242)
    // random band tilings of 1..63
    def randomBands(): Seq[(Int, Int)] = {
      val cuts = Seq.fill(rnd.nextInt(3))(1 + rnd.nextInt(62)).distinct.sorted
      val edges = (0 +: cuts) :+ 63
      edges.sliding(2).map { case Seq(a, b) => (a + 1, b) }.toSeq
    }
    for (_ <- 1 to 12) {
      val w = 1 + rnd.nextInt(40)
      val h = 1 + rnd.nextInt(40)
      val gray = Array.fill(w * h)(rnd.nextInt(256))
      val base = JpegCodec.decode(JpegCodec.encode(w, h, gray)).get._4.toSeq
      val bands = randomBands()
      val sp = JpegCodec.decode(
        JpegCodec.encodeProgressive(w, h, gray, bands, rnd.nextBoolean())).get
      assert(sp._4.toSeq == base, s"spectral ${w}x$h $bands")
      val sa = JpegCodec.decode(
        JpegCodec.encodeProgressiveSA(w, h, gray, bands)).get
      assert(sa._4.toSeq == base, s"sa ${w}x$h $bands")
    }
    for (_ <- 1 to 6) {
      val w = 2 * (1 + rnd.nextInt(20))
      val h = 2 * (1 + rnd.nextInt(20))
      val rgb = Array.fill(w * h * 3)(rnd.nextInt(256))
      val base = JpegCodec.decode(JpegCodec.encodeColor420(w, h, rgb)).get._4.toSeq
      val p = JpegCodec.decode(JpegCodec.encodeProgressive420(w, h, rgb,
        bands = randomBands(), sa = rnd.nextBoolean())).get
      assert(p._4.toSeq == base, s"420 ${w}x$h")
    }
  }
}
