package graft

import graft.operators.{StoreSwap, TrainingData}
import org.apache.spark.sql.functions._

/** Corpus-prep operator invariants beyond the oracle checks. */
class TrainingDataSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = Tables.documents(spark, sf)

  test("dedupSubstringsGlobal: non-first copies of every >=L-token span " +
    "are removed (first occurrence kept), mid-sentence and cross-doc; " +
    "short docs and unique text pass through normalized; a fully " +
    "duplicated doc empties; brute-force reference on real docs") {
    import spark.implicits._
    // hand-built corpus, L = 3: doc 1 owns the span; doc 2 repeats it
    // mid-text; doc 3 IS the span plus a unique tail; doc 4 repeats
    // doc 1 entirely; doc 5 is too short to ever match
    val d = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "intro words the quick brown fox jumps and a tail"),
      (3L, "quick brown fox jumps elsewhere"),
      (4L, "the quick brown fox jumps"),
      (5L, "the quick")).toDF("doc_id", "text")
    val out = TrainingData.dedupSubstringsGlobal(d, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("the quick brown fox jumps", 0L)) // first copy kept
    // doc 2: tokens 2..6 ("the...jumps") duplicated; 3..6 also windows
    // of doc 1's span — removed as one merged interval
    assert(out(2L) == ("intro words and a tail", 5L))
    // doc 3: "quick brown fox jumps" duplicates doc 1's suffix windows
    assert(out(3L) == ("elsewhere", 4L))
    assert(out(4L) == ("", 5L)) // whole doc duplicated -> empty
    assert(out(5L) == ("the quick", 0L)) // shorter than L: untouched
    // whitespace normalization: tabs/doubles collapse to single spaces
    val norm = TrainingData.dedupSubstringsGlobal(
      Seq((9L, "a\tb   c")).toDF("doc_id", "text"), "doc_id", "text", 3)
      .collect().head
    assert(norm.getString(1) == "a b c" && norm.getLong(2) == 0L)
    // real documents vs a brute-force reference at L = 8
    val L = 8
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val tokd = rows.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty) }
    val firstPos = scala.collection.mutable.Map.empty[String, (Long, Int)]
    for ((id, ts) <- tokd; p <- 0 to ts.length - L) {
      val w = ts.slice(p, p + L).mkString(" ")
      if (!firstPos.contains(w)) firstPos(w) = (id, p)
      else firstPos(w) = Seq(firstPos(w), (id, p)).min
    }
    val counts = scala.collection.mutable.Map.empty[String, Int]
      .withDefaultValue(0)
    for ((_, ts) <- tokd; p <- 0 to ts.length - L)
      counts(ts.slice(p, p + L).mkString(" ")) += 1
    val expected = tokd.map { case (id, ts) =>
      val covered = Array.fill(ts.length)(false)
      for (p <- 0 to ts.length - L) {
        val w = ts.slice(p, p + L).mkString(" ")
        if (counts(w) >= 2 && firstPos(w) != ((id, p)))
          (p until p + L).foreach(covered(_) = true)
      }
      id -> (ts.zipWithIndex.collect { case (t, i) if !covered(i) => t }
        .mkString(" "), covered.count(identity).toLong)
    }.toMap
    val got = TrainingData.dedupSubstringsGlobal(docs, "doc_id", "text", L)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got.keySet == expected.keySet)
    val diffs = got.keys.filter(k => got(k) != expected(k))
    assert(diffs.isEmpty, s"mismatch for ${diffs.take(3)}: " +
      diffs.take(1).map(k => s"got=${got(k)._2} want=${expected(k)._2}"))
    assert(got.values.exists(_._2 > 0L),
      "no span was removed on real documents — the gate is vacuous")
  }

  test("redactEvalSpans: shared >=L spans vanish mid-document, clean " +
    "text passes through normalized, eval members redact to empty, " +
    "spans shorter than L survive") {
    import spark.implicits._
    val evalSet = Seq((100L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "start alpha beta gamma delta end of it"), // contains the span
      (2L, "totally unrelated training words here"),  // clean
      (3L, "alpha beta gamma only"),                  // 3-token overlap < L
      (4L, "alpha beta gamma delta")                  // IS the eval text
    ).toDF("doc_id", "text")
    val out = TrainingData.redactEvalSpans(corpus, evalSet,
      "doc_id", "text", minTokens = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("start end of it", 4L))
    assert(out(2L) == ("totally unrelated training words here", 0L))
    assert(out(3L) == ("alpha beta gamma only", 0L)) // below L: kept
    assert(out(4L) == ("", 4L))
    // real documents: eval members redact to empty; redaction count on
    // the rest matches windows shared with the eval slice (non-vacuous)
    val evalReal = docs.where(col("doc_id") < 20)
    val real = TrainingData.redactEvalSpans(docs, evalReal,
      "doc_id", "text", minTokens = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    evalReal.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      assert(real(id)._1 == "" || real(id)._2 == 0L && {
        // an eval member shorter than 8 tokens has no window to match
        // (same filtered tokenization the operator uses)
        docs.where(col("doc_id") === id)
          .select(size(filter(split(col("text"), "\\s+"),
            t => length(t) > 0))).head.getInt(0) < 8
      }, s"eval member $id not fully redacted: ${real(id)}")
    }
    assert(real.size == docs.count())
    assert(real.exists { case (id, (_, n)) => id >= 20 && n > 0 },
      "no non-eval doc shared a span with the eval slice — vacuous")
  }

  test("eval-hash store: persisted suite redacts exactly like the " +
    "direct union; retiring a source is one flip that re-admits its " +
    "spans; duplicate source refuses; empty suite passes through; " +
    "snapshot pins a historical suite; vacuum reclaims") {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_evalstore_${System.nanoTime()}").getAbsolutePath
    val benchA = docs.where(col("doc_id") < 10)
    val benchB = docs.where(col("doc_id") >= 10 && col("doc_id") < 20)
    // the sources the current manifest carries
    def evalSources(): Seq[String] =
      StoreSwap.latestManifest(StoreSwap.fsOf(spark, path), path).get._2
        .filter(_.startsWith("hashes/src="))
        .map(_.stripPrefix("hashes/src=").takeWhile(_ != '/'))
        .distinct.sorted
    TrainingData.saveEvalHashStore(benchA, "doc_id", "text", path,
      "benchA", minTokens = 8) // v1
    TrainingData.appendEvalSource(benchB, "doc_id", "text", path,
      "benchB") // v2
    assert(evalSources() == Seq("benchA", "benchB"))
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val both = toMap(TrainingData.redactAgainstStore(docs, "doc_id",
      "text", path))
    assert(both == toMap(TrainingData.redactEvalSpans(docs,
      docs.where(col("doc_id") < 20), "doc_id", "text", 8)),
      "store-backed redaction != direct redaction over the union suite")
    assert(both.values.exists(_._2 > 0L), "vacuous: nothing redacted")
    // suite updates are explicit: a live source refuses to re-append
    val e = intercept[IllegalArgumentException] {
      TrainingData.appendEvalSource(benchA, "doc_id", "text", path, "benchA")
    }
    assert(e.getMessage.contains("purgeEvalSource"))
    // retire benchA: pure manifest flip, spans it alone suppressed return
    assert(TrainingData.purgeEvalSource(spark, path, "benchA")) // v3
    assert(!TrainingData.purgeEvalSource(spark, path, "benchA"),
      "purging a retired source must be a no-op")
    assert(evalSources() == Seq("benchB"))
    val onlyB = toMap(TrainingData.redactAgainstStore(docs, "doc_id",
      "text", path))
    assert(onlyB == toMap(TrainingData.redactEvalSpans(docs, benchB,
      "doc_id", "text", 8)))
    assert(onlyB.exists { case (id, (_, n)) =>
      n < both(id)._2 }, "no span was re-admitted by the retirement")
    // snapshot: the historical two-bench suite is still pinnable
    assert(toMap(TrainingData.redactAgainstStore(docs, "doc_id", "text",
      path, asOfVersion = Some(2))) == both)
    // vacuum reclaims benchA's unlisted partition; the pin then refuses
    assert(TrainingData.vacuumEvalHashStore(spark, path) > 0L)
    intercept[IllegalArgumentException] {
      TrainingData.redactAgainstStore(docs, "doc_id", "text", path,
        asOfVersion = Some(2))
    }
    // fully-retired suite: normalized pass-through, zero redactions
    assert(TrainingData.purgeEvalSource(spark, path, "benchB")) // v4
    val none = toMap(TrainingData.redactAgainstStore(docs, "doc_id",
      "text", path))
    assert(none.values.forall(_._2 == 0L))
    assert(none.keySet == both.keySet)
  }

  test("eval-hash store re-created at a DIFFERENT minTokens: the save " +
    "is staged (v1's files survive) and a pinned historical redaction " +
    "probes at the OLD window length — the versioned-layout floor rule") {
    import spark.implicits._
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_evalstore_relen_${System.nanoTime()}").getAbsolutePath
    // hand-built so the two window lengths provably differ: doc 2
    // shares a SIX-token span with the benchmark (redacts at L=5,
    // survives at L=8), doc 3 quotes the full ten tokens (both)
    val corpus = Seq(
      (1L, "a b c d e f g h i j"),
      (2L, "x1 x2 a b c d e f x3 x4"),
      (3L, "y1 y2 y3 a b c d e f g h i j y4")).toDF("doc_id", "text")
    val bench = corpus.where(col("doc_id") === 1)
    def toMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    TrainingData.saveEvalHashStore(bench, "doc_id", "text", path,
      "benchA", minTokens = 8) // v1, L=8
    val v1 = toMap(TrainingData.redactAgainstStore(corpus, "doc_id",
      "text", path))
    assert(v1(2L)._2 == 0L && v1(3L)._2 > 0L, s"L=8 shape wrong: $v1")
    // re-create the suite at L=5 — a staged save continuing the chain
    TrainingData.saveEvalHashStore(bench, "doc_id", "text", path,
      "benchA", minTokens = 5) // v2, L=5
    val latest = toMap(TrainingData.redactAgainstStore(corpus, "doc_id",
      "text", path))
    assert(latest == toMap(TrainingData.redactEvalSpans(corpus, bench,
      "doc_id", "text", 5)), "latest must redact at the NEW L")
    assert(latest(2L)._2 == 6L, s"the 6-token span must redact at L=5: $latest")
    // the pinned v1 redaction still probes at L=8 with v1's hashes —
    // the unversioned-_layout design probed v1 hashes at L=5 and
    // silently missed every span
    assert(toMap(TrainingData.redactAgainstStore(corpus, "doc_id", "text",
      path, asOfVersion = Some(1))) == v1,
      "pinned redaction diverged — layout not resolved at the pin")
  }

  test("deterministic sample: stable, subset-monotonic in permille") {
    val s200 = TrainingData.deterministicSample(docs, "doc_id", 200)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s500 = TrainingData.deterministicSample(docs, "doc_id", 500)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val again = TrainingData.deterministicSample(docs, "doc_id", 200)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(s200 == again)            // reproducible
    assert(s200.subsetOf(s500))      // growing the rate only adds rows
    val n = docs.count().toDouble
    assert(math.abs(s200.size / n - 0.2) < 0.1, s"${s200.size} of $n")
    assert(TrainingData.deterministicSample(docs, "doc_id", 0).count() == 0)
    assert(TrainingData.deterministicSample(docs, "doc_id", 1000).count() == n)
  }

  test("splitCorpus: disjoint, exhaustive, boundary-monotone, narrow") {
    val out = TrainingData.splitCorpus(docs, "doc_id",
      Seq("train" -> 900, "val" -> 50, "test" -> 50))
    // exhaustive: every row lands in exactly one split (the column is a
    // total function of the key)
    assert(out.count() == docs.count())
    assert(out.where(col("split").isNull).count() == 0)
    val byName = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    val n = docs.count().toDouble
    assert(math.abs(byName("train") / n - 0.9) < 0.1)
    // split equals the sampling key contract: the train split IS the
    // 900-permille deterministic sample (shared key space, so holdouts
    // and splits compose without overlap surprises)
    val det = TrainingData.deterministicSample(docs, "doc_id", 900)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val train = out.where(col("split") === "train")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(train == det)
    // boundary-monotone: growing train to 950 absorbs exactly val
    val wider = TrainingData.splitCorpus(docs, "doc_id",
      Seq("train" -> 950, "test" -> 50))
    val train950 = wider.where(col("split") === "train")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val valIds = out.where(col("split") === "val")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(train950 == train ++ valIds)
    // narrow: no exchange in the plan (raw scan — Tables.documents
    // injects a round-robin fan-out that would mask the operator's own
    // zero-exchange claim)
    val raw = TrainingData.splitCorpus(
      spark.read.parquet(s"$sf/documents.parquet"), "doc_id",
      Seq("train" -> 900, "val" -> 50, "test" -> 50))
    val plan = raw.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"split must stay scan-side:\n$plan")
    // refuse paths: weights not summing to 1000, dup names, non-positive
    intercept[IllegalArgumentException] {
      TrainingData.splitCorpus(docs, "doc_id", Seq("a" -> 900))
    }
    intercept[IllegalArgumentException] {
      TrainingData.splitCorpus(docs, "doc_id", Seq("a" -> 500, "a" -> 500))
    }
    intercept[IllegalArgumentException] {
      TrainingData.splitCorpus(docs, "doc_id",
        Seq("a" -> 1100, "b" -> -100))
    }
  }

  test("stratified sample: per-stratum rates, subset of the flat sample") {
    val strat = TrainingData.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 0), defaultPermille = 300)
    assert(strat.where(col("lang") === "en").count() == 0) // rate 0 excludes
    val flat = TrainingData.deterministicSample(docs, "doc_id", 300)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val ids = strat.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(flat)) // same hash key — strata nest inside the flat rate
    intercept[IllegalArgumentException] {
      TrainingData.stratifiedSample(docs, "doc_id", "lang", Map("en" -> 2000), 100)
    }
  }

  test("sequence packing: bins contiguous per shard, filled to budget") {
    val budget = 1024
    val packed = TrainingData.packSequences(docs, "lang", "doc_id", "text", budget)
    val perBin = packed.groupBy(col("lang"), col("bin"))
      .agg(sum(col("n_tokens")).as("toks"), max(col("n_tokens")).as("mx"))
      .collect()
    perBin.foreach { r =>
      // a bin exceeds the budget by at most its own last doc (greedy cut)
      assert(r.getAs[Long]("toks") < budget + r.getAs[Int]("mx"),
        s"${r.getAs[String]("lang")}/${r.getAs[Long]("bin")}")
    }
    // bins are contiguous 0..max per shard
    val bins = packed.groupBy("lang")
      .agg(countDistinct("bin").as("n"), max("bin").as("mx")).collect()
    bins.foreach(r => assert(r.getAs[Long]("n") == r.getAs[Long]("mx") + 1))
  }

  test("pii redaction leaves no matchable spans and counts what it removed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pii").toFile
    dir.deleteOnExit()
    Seq(
      (1L, "mail a.b+c@x-y.example.org and 12 monkeys on 2024-01-02"),
      (2L, "no pii here at all"),
      (3L, "two addrs: a@b.co c@d.io"))
      .toDF("id", "text").write.mode("overwrite").parquet(dir.getAbsolutePath)
    val red = TrainingData.redactPii(spark.read.parquet(dir.getAbsolutePath), "text")
    val rows = red.orderBy("id").collect()
    assert(red.where(col("redacted").rlike(TrainingData.EmailPattern)).count() == 0)
    assert(red.where(col("redacted").rlike(TrainingData.NumberPattern)).count() == 0)
    assert(rows.map(_.getAs[Int]("n_emails")).toSeq == Seq(1, 0, 2))
    assert(rows(0).getAs[Int]("n_numbers") == 4) // 12, 2024, 01, 02
    assert(rows(0).getAs[String]("redacted") ==
      "mail <EMAIL> and <NUM> monkeys on <NUM>-<NUM>-<NUM>")
  }

  test("ntileBuckets equals the ntile window on the documents table") {
    import org.apache.spark.sql.expressions.Window
    val expected = docs
      .withColumn("decile",
        ntile(10).over(Window.orderBy(col("n_chars"), col("doc_id"))))
      .select(col("doc_id"), col("decile"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = TrainingData.ntileBuckets(docs, 10, "n_chars", "doc_id", "decile")
      .select(col("doc_id"), col("decile"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == expected)
  }

  test("ntileBuckets: heavy ties, N%n!=0, N<n all match the window answer") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    def check(rows: Seq[(Long, Long)], n: Int): Unit = {
      val df = rows.toDF("id", "v").repartition(4)
      val expected = df
        .withColumn("b", ntile(n).over(Window.orderBy(col("v"), col("id"))))
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      val got = TrainingData.ntileBuckets(df, n, "v", "id", "b")
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(got == expected, s"n=$n rows=${rows.size}")
    }
    // one value owns several buckets; boundaries inside tie groups
    check((1L to 97L).map(i => (i, (i % 3) * 10)), 10)
    // all rows identical order value
    check((1L to 23L).map(i => (i, 7L)), 4)
    // fewer rows than buckets -> one row per leading bucket
    check((1L to 5L).map(i => (i, i)), 10)
    // exact multiples
    check((1L to 40L).map(i => (i, i % 7)), 10)
  }

  test("ntileBuckets: high-cardinality order key trips the guard loudly") {
    import spark.implicits._
    // a unique-valued (continuous-like) order key makes |histogram| ==
    // |rows| and would silently rebuild the global serialized window —
    // the guard must fail with an actionable message instead
    val unique = (1L to 500L).map(i => (i, i * 31 + 7)).toDF("id", "v")
    val e = intercept[IllegalArgumentException] {
      TrainingData.ntileBuckets(unique, 10, "v", "id", "b", maxDistinct = 100L)
    }
    assert(e.getMessage.contains("maxDistinct"), e.getMessage)
    // binned to coarse values, the same data passes under the same cap
    val binned = unique.withColumn("v", (col("v") / 1000L).cast("long"))
    val ok = TrainingData.ntileBuckets(binned, 10, "v", "id", "b",
      maxDistinct = 100L)
    assert(ok.count() == 500L)
  }

  test("dedupSpans: keep-first across AND within docs, order preserved") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("alpha beta", "common footer", "gamma")),
      (2L, Seq("common footer", "delta", "common footer")), // cross + self dup
      (3L, Seq("common footer")))                           // everything drops
      .toDF("doc_id", "spans")
    val out = TrainingData.dedupSpans(df, "doc_id", "spans")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 3L, "alpha beta common footer gamma"))) // first owner keeps
    assert(out(2L) == ((3L, 1L, "delta")))       // both occurrences drop
    assert(out(3L) == ((1L, 0L, "")))            // fully deduped doc stays, empty
  }

  test("qualityFilter: each rule trips independently and audits why") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // clean -> keep
      (2L, "hi"),                                          // too few words
      (3L, "the " + "pneumonoultramicroscopics " * 10),    // mean word len high
      (4L, "the ####### $$$$$$$ @@@@@@@ !!!!!!!"),         // symbol ratio
      (5L, "purple monkey dishwasher banana elephant"),    // no stopwords
      (6L, "the end " * 50))                               // repetition
      .toDF("doc_id", "text")
    val out = TrainingData.qualityFilter(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Boolean]("keep"))
    assert(!out(2L).getAs[Boolean]("keep") && out(2L).getAs[Long]("n_words") == 1)
    assert(!out(3L).getAs[Boolean]("keep") &&
      out(3L).getAs[Double]("mean_word_len") > 12.0)
    assert(!out(4L).getAs[Boolean]("keep") &&
      out(4L).getAs[Double]("symbol_ratio") > 0.2)
    assert(!out(5L).getAs[Boolean]("keep") && out(5L).getAs[Long]("stop_hits") == 0)
    assert(!out(6L).getAs[Boolean]("keep") &&
      out(6L).getAs[Double]("rep_ratio") > 0.6)
  }

  test("vocabulary: descending counts, lexicographic ties, k rows max") {
    val v = TrainingData.vocabulary(docs, "text", 10).collect()
    assert(v.length <= 10)
    val pairs = v.map(r => (r.getAs[Long]("n"), r.getAs[String]("token")))
    val sorted = pairs.sortBy { case (n, t) => (-n, t) }.toSeq
    assert(pairs.toSeq == sorted)
  }

  test("mixToQuotas: whitelist, zero-quota drop, over-ask keeps all, ~quota") {
    val counts = docs.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val some = counts.keys.toSeq.sorted.take(3)
    val (a, b, c) = (some(0), some(1), some(2))
    val out = TrainingData.mixToQuotas(docs, "doc_id", "source",
      Map(a -> counts(a) / 2, b -> 0L, c -> (counts(c) * 10)))
    val got = out.groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet.subsetOf(Set(a, c)))      // whitelist + zero-quota drop
    assert(!got.contains(b))
    assert(got(c) == counts(c))                 // over-ask -> rate caps at 1000
    // half-quota lands near half (hash-uniform, small-sample slack)
    val frac = got.getOrElse(a, 0L).toDouble / counts(a)
    assert(frac > 0.2 && frac < 0.8, s"$frac of ${counts(a)}")
    // deterministic: re-run is identical
    val again = TrainingData.mixToQuotas(docs, "doc_id", "source",
      Map(a -> counts(a) / 2, b -> 0L, c -> counts(c) * 10))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == again)
    intercept[IllegalArgumentException] {
      TrainingData.mixToQuotas(docs, "doc_id", "source", Map(a -> -1L))
    }
  }

  test("mixToQuotas: sub-permille quota selects ~quota docs, not zero") {
    import spark.implicits._
    // quota 50 from a 100k-doc domain = rate 0.0005 — the case the old
    // permille floor zeroed (floor(1000*50/100000) = 0). The 63-bit
    // threshold must land near 50 (hash-uniform: +-4 sigma ~ +-28).
    val big = (1L to 100000L).map(i => (i, "web")).toDF("doc_id", "dom")
    val got = TrainingData.mixToQuotas(big, "doc_id", "dom", Map("web" -> 50L))
      .count()
    assert(got > 20 && got < 80, s"quota=50 over 100k docs kept $got")
    // and a quota of 1 from 100k still has a fighting chance of >= 0 docs
    // without ever erroring; determinism across runs
    val again = TrainingData.mixToQuotas(big, "doc_id", "dom", Map("web" -> 50L))
      .count()
    assert(got == again)
    // quota-monotonic: a larger quota keeps a SUPERSET (thresholds grow,
    // the 63-bit keys don't move) — retuning the mix never churns the
    // already-selected docs
    def ids(q: Long) = TrainingData
      .mixToQuotas(big, "doc_id", "dom", Map("web" -> q))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val s50 = ids(50L); val s500 = ids(500L); val s5000 = ids(5000L)
    assert(s50.subsetOf(s500) && s500.subsetOf(s5000),
      s"${s50.size}/${s500.size}/${s5000.size}")
    assert(s500.size > s50.size && s5000.size > s500.size)
    // a NUMERIC domain column resolves against the string-keyed spec
    val numDom = (1L to 900L).map(i => (i, i % 3)).toDF("doc_id", "dom")
    val kept = TrainingData
      .mixToQuotas(numDom, "doc_id", "dom", Map("0" -> 10000L, "1" -> 0L))
      .groupBy("dom").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept == Map(0L -> 300L)) // over-ask keeps all; 0-quota + unlisted drop
  }

  test("mixToQuotasExact: exact counts, hash-prefix supersets, no window") {
    import spark.implicits._
    val big = (1L to 5000L).map(i => (i, s"s${i % 3}")).toDF("doc_id", "dom")
    def run(q: Map[String, Long]) =
      TrainingData.mixToQuotasExact(big, "doc_id", "dom", q)
    // exactly min(quota, count) per listed domain; unlisted drops
    val got = run(Map("s0" -> 40L, "s1" -> 100000L))
      .groupBy("dom").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("s0" -> 40L, "s1" -> 1667L), got.toString)
    // fixed hash order => larger quota keeps a strict superset
    def ids(q: Long) = run(Map("s0" -> q))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(10L); val b = ids(200L)
    assert(a.size == 10 && b.size == 200 && a.subsetOf(b))
    // determinism across runs
    assert(ids(10L) == a)
    // the plan is the custom bounded-heap operator, not a rank window
    val plan = run(Map("s0" -> 40L)).queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan.take(500))
    assert(!plan.contains("Window"), plan.take(500))
    // zero-quota mix selects nothing; negative and over-int quotas throw
    assert(run(Map("s0" -> 0L)).count() == 0L)
    intercept[IllegalArgumentException] { run(Map("s0" -> -1L)) }
    intercept[IllegalArgumentException] { run(Map("s0" -> (Int.MaxValue + 1L))) }
    // the heap-memory guard is enforced, not doc-only: default
    // maxExactQuota (10M) rejects 10M+1 with the rate-variant advice,
    // and a deliberate raise admits the same quota (hard cap Int.MaxValue)
    val over = intercept[IllegalArgumentException] {
      run(Map("s0" -> 10000001L))
    }
    assert(over.getMessage.contains("mixToQuotas"), over.getMessage)
    val raised = TrainingData.mixToQuotasExact(big, "doc_id", "dom",
      Map("s0" -> 10000001L), maxExactQuota = 20000000L)
    assert(raised.groupBy("dom").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap == Map("s0" -> 1666L))
    intercept[IllegalArgumentException] {
      TrainingData.mixToQuotasExact(big, "doc_id", "dom",
        Map("s0" -> (Int.MaxValue + 1L)), maxExactQuota = Long.MaxValue)
    }
  }

  test("selectToTokenBudget: greedy prefix per domain, overshoot <= one doc") {
    import spark.implicits._
    val df = Seq(
      ("d1", 1L, "a b c d", 40L),   // 4 tokens, longest first by n_chars
      ("d1", 2L, "a b c", 30L),     // cumulative 7
      ("d1", 3L, "a b", 20L),       // prior 7 >= 6 -> dropped
      ("d2", 4L, "x", 10L))         // other domain unaffected
      .toDF("dom", "doc_id", "text", "n_chars")
    val kept = TrainingData
      .selectToTokenBudget(df, "dom", "doc_id", "text", "n_chars", budget = 6L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L, 4L))
    // real corpus: every domain's kept tokens stay under budget + max doc
    val out = TrainingData
      .selectToTokenBudget(docs, "source", "doc_id", "text", "n_chars", 500L)
    val agg = out.groupBy("source")
      .agg(sum("n_tokens").as("toks"), max("n_tokens").as("mx")).collect()
    agg.foreach(r => assert(
      r.getAs[Long]("toks") < 500L + r.getAs[Long]("mx"),
      r.getAs[String]("source")))
    intercept[IllegalArgumentException] {
      TrainingData.selectToTokenBudget(docs, "source", "doc_id", "text",
        "n_chars", 0L)
    }
  }

  test("selectToTokenBudget: one domain holding ~all rows stays exact " +
    "(the distribution that serialized the old per-domain window)") {
    import spark.implicits._
    // 5000 docs in one hot domain with heavy order-value ties (50 distinct
    // scores) — boundary-group resolution must cut INSIDE a tie group;
    // 5 docs in a cold domain whose total is under budget (no boundary).
    val rows = (1 to 5000).map(i =>
      ("hot", i.toLong, Seq.fill(i % 7 + 1)("w").mkString(" "), (i % 50).toLong)) ++
      (1 to 5).map(i => ("cold", 10000L + i, "a b c", 5L))
    val df = rows.toDF("dom", "doc_id", "text", "score")
    val out = TrainingData
      .selectToTokenBudget(df, "dom", "doc_id", "text", "score", budget = 300L)
      .select("dom", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // local greedy-prefix oracle, same (score DESC, doc_id) order
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (dom, rs) =>
      var run = 0L
      rs.sortBy(r => (-r._4, r._2)).flatMap { r =>
        val keep = run < 300L
        run += r._3.split("\\s+").length.toLong
        if (keep) Some((dom, r._2)) else None
      }
    }.toSet
    assert(out == expected)
    assert(out.count(_._1 == "cold") == 5) // under-budget domain kept whole
    assert(out.count(_._1 == "hot") < 5000) // hot domain actually cut
  }

  test("selectToTokenBudget == the naive running-sum window on random corpora") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // the histogram-cutoff protocol must reproduce the per-domain greedy
    // prefix EXACTLY — pin it against the formulation it replaced, over
    // randomized domains / token counts / heavy order-value ties
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val rows = (1 to 400).map { i =>
        ("d" + rnd.nextInt(5), i.toLong,
          Seq.fill(rnd.nextInt(6) + 1)("t").mkString(" "),
          rnd.nextInt(8).toLong)
      }
      val df = rows.toDF("dom", "doc_id", "text", "score").repartition(7)
      val budget = 40L + rnd.nextInt(100)
      val w = Window.partitionBy(col("dom"))
        .orderBy(col("score").desc, col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val naive = df
        .withColumn("n_tokens",
          graft.functions.TextExprs.tokenCount(col("text")).cast("long"))
        .withColumn("__prior", sum(col("n_tokens")).over(w) - col("n_tokens"))
        .where(col("__prior") < budget)
        .select("dom", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val got = TrainingData
        .selectToTokenBudget(df, "dom", "doc_id", "text", "score", budget)
        .select("dom", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got == naive, s"trial=$trial budget=$budget")
    }
  }

  test("selectToTokenBudget: null text counts as 0 tokens in histogram " +
    "AND keep filter (window parity)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // null-text docs interleaved everywhere: inside a wholly-kept group,
    // at a boundary group, and in a wholly-dropped tail. A null n_tokens
    // would vanish from the histogram sums yet pass the keep filter in
    // kept groups (and poison the window's running sum) — the operator
    // pins null text = 0 tokens, so the 0-coalesced window formulation
    // must agree exactly
    val rnd = new scala.util.Random(13)
    val rows = (1 to 300).map { i =>
      ("d" + rnd.nextInt(4), i.toLong,
        if (rnd.nextInt(10) == 0) null
        else Seq.fill(rnd.nextInt(5) + 1)("t").mkString(" "),
        rnd.nextInt(6).toLong)
    }
    val df = rows.toDF("dom", "doc_id", "text", "score").repartition(5)
    val budget = 30L
    val w = Window.partitionBy(col("dom"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df
      .withColumn("n_tokens", coalesce(
        graft.functions.TextExprs.tokenCount(col("text")).cast("long"), lit(0L)))
      .withColumn("__prior", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .where(col("__prior") < budget)
      .select("dom", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val got = TrainingData
      .selectToTokenBudget(df, "dom", "doc_id", "text", "score", budget)
      .select("dom", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == naive)
    // and the null-text docs really are present in the output when their
    // prior is under budget (0-token docs are free to keep)
    assert(got.nonEmpty)
  }

  test("selectToTokenBudget: a NULL domain is its own partition, budget applies") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // null domain over budget (5 docs x 3 tokens vs budget 7) plus a
    // normal domain — parity with the window formulation, where null is
    // just another partition; a null-unsafe domain match would exempt
    // the null rows from the budget entirely
    val df = Seq(
      (Option.empty[String], 1L, "a b c", 5L),
      (Option.empty[String], 2L, "a b c", 4L),
      (Option.empty[String], 3L, "a b c", 3L),
      (Option.empty[String], 4L, "a b c", 2L),
      (Option.empty[String], 5L, "a b c", 1L),
      (Some("d"), 6L, "x y", 9L),
      (Some("d"), 7L, "x y", 8L))
      .toDF("dom", "doc_id", "text", "score")
    val w = Window.partitionBy(col("dom"))
      .orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = df
      .withColumn("n_tokens",
        graft.functions.TextExprs.tokenCount(col("text")).cast("long"))
      .withColumn("__prior", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .where(col("__prior") < 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = TrainingData
      .selectToTokenBudget(df, "dom", "doc_id", "text", "score", budget = 7L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == naive, s"got=$got naive=$naive")
    assert(got == Set(1L, 2L, 3L, 6L, 7L)) // null domain cut at 9 tokens
  }

  test("selectToTokenBudget: continuous order key trips the maxDistinct guard") {
    import spark.implicits._
    val unique = (1L to 500L).map(i => ("d", i, "t t t", i * 13 + 1))
      .toDF("dom", "doc_id", "text", "score")
    val e = intercept[IllegalArgumentException] {
      TrainingData.selectToTokenBudget(unique, "dom", "doc_id", "text",
        "score", budget = 100L, maxDistinct = 100L)
    }
    assert(e.getMessage.contains("maxDistinct"), e.getMessage)
  }

  test("deterministicShuffle: a permutation, reproducible, decorrelated") {
    val out = TrainingData.deterministicShuffle(docs, "doc_id", numShards = 8)
    val n = docs.count()
    assert(out.count() == n) // nothing dropped or duplicated
    // (shard, pos) is a dense rank within each shard: a valid read order
    val perShard = out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx")).collect()
    assert(perShard.nonEmpty)
    perShard.foreach(r => assert(r.getAs[Long]("n") == r.getAs[Int]("mx")))
    // reproducible across runs
    val a = out.select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val b = TrainingData.deterministicShuffle(docs, "doc_id", 8)
      .select("doc_id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(a == b)
    // decorrelated: consecutive input ids do not stay adjacent — the first
    // shard's first 10 positions are not 10 consecutive doc_ids
    val firstShard = a.filter(_._2 == 0).toSeq.sortBy(_._3).take(10).map(_._1)
    val consecutive = firstShard.sorted.sliding(2)
      .count { case Seq(x, y) => y == x + 1; case _ => false }
    assert(consecutive < 8, s"shuffle left ids nearly consecutive: $firstShard")
    intercept[IllegalArgumentException] {
      TrainingData.deterministicShuffle(docs, "doc_id", 0)
    }
  }

  test("chunkDocs: coverage, overlap, short tail, empty docs emit nothing") {
    import spark.implicits._
    val df = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6"), // 7 tokens
      (2L, "a b"),                  // shorter than one chunk
      (3L, "   "),                  // whitespace-only -> no chunks
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = TrainingData.chunkDocs(df, "doc_id", "text", chunk = 4, stride = 2)
      .collect().groupBy(_.getLong(0))
    // doc 1: starts 0,2,4,6 -> 4 chunks; tails shrink
    val c1 = out(1L).sortBy(_.getInt(1))
    assert(c1.map(_.getAs[String]("chunk_text")).toSeq == Seq(
      "t0 t1 t2 t3", "t2 t3 t4 t5", "t4 t5 t6", "t6"))
    assert(c1.map(_.getAs[Long]("n_tokens")).toSeq == Seq(4L, 4L, 3L, 1L))
    assert(out(2L).map(_.getAs[String]("chunk_text")).toSeq == Seq("a b"))
    assert(!out.contains(3L) && !out.contains(4L))
    // every token of every doc appears in at least one chunk (coverage)
    val total = TrainingData.chunkDocs(docs, "doc_id", "text", 32, 16)
    val perDoc = total.groupBy("doc_id").agg(max("n_tokens").as("mx")).collect()
    assert(perDoc.forall(_.getAs[Long]("mx") <= 32))
    intercept[IllegalArgumentException] {
      TrainingData.chunkDocs(df, "doc_id", "text", 0, 2)
    }
  }

  test("chunkDocs: segment width bounds the row peak; output identical " +
    "for any chunksPerSegment; multi-MB doc chunks correctly") {
    import spark.implicits._
    // equivalence: same doc, radically different segmentation -> same rows
    val doc = (0 until 533).map(i => s"t$i").mkString(" ")
    val one = Seq((1L, doc)).toDF("doc_id", "text")
    def rows(seg: Int) = TrainingData
      .chunkDocs(one, "doc_id", "text", chunk = 32, stride = 16, chunksPerSegment = seg)
      .collect().map(r => (r.getInt(1), r.getLong(2), r.getString(3))).toSet
    val a = rows(1); val b = rows(3); val c = rows(64); val d = rows(1000)
    assert(a == b && b == c && c == d)
    // expected count: starts 0,16,...,<=532 -> floor(532/16)+1 = 34 chunks
    assert(a.size == 34)
    assert(a.map(_._1) == (0 until 34).toSet)
    // a multi-MB document (1M tokens, ~2.9 MB text): the old formulation
    // materialized tokens + all chunks in ONE row (~2x doc * chunk/stride);
    // segment-first keeps the widest row ~2x the doc and completes
    val big = Seq((9L, (0 until 1000000).map(i => s"x$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TrainingData
      .chunkDocs(big, "doc_id", "text", chunk = 512, stride = 256)
    val stats = out.agg(count(lit(1)), max("chunk_idx"), min("n_tokens"),
      max("n_tokens")).head()
    // starts 0,256,...,<=999999 -> floor(999999/256)+1 = 3907 chunks
    assert(stats.getLong(0) == 3907L, stats.toString)
    assert(stats.getInt(1) == 3906, stats.toString)
    assert(stats.getLong(3) == 512L, stats.toString)
    // tail chunk: start 3906*256 = 999936 -> 64 tokens remain
    assert(stats.getLong(2) == 64L, stats.toString)
  }

  test("diffCorpora: all four statuses, content-based change detection") {
    import spark.implicits._
    val v1 = Seq(
      (1L, "same text"),
      (2L, "will change"),
      (3L, "will be removed"),
      (4L, "whitespace   only")).toDF("doc_id", "text")
    val v2 = Seq(
      (1L, "same text"),
      (2L, "has changed"),
      (4L, "whitespace only"),   // normalization-equal -> unchanged
      (5L, "brand new")).toDF("doc_id", "text")
    val got = TrainingData.diffCorpora(v1, v2, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "unchanged", 5L -> "added"))
    // diff against self is all-unchanged (the no-op retrain signal)
    val self = TrainingData.diffCorpora(docs, docs, "doc_id", "text")
    assert(self.where(col("status") =!= "unchanged").count() == 0)
  }

  test("corpusReport: facets reconcile with each other and the corpus") {
    val rows = TrainingData
      .corpusReport(docs, "doc_id", "text", "lang", "source", "n_chars")
      .collect()
    def metric(m: String): Map[String, Double] = rows
      .filter(_.getString(0) == m)
      .map(r => r.getString(1) -> r.getDouble(2)).toMap
    val n = docs.count().toDouble
    assert(metric("docs_total")("") == n)
    // composition facets each sum back to the total
    assert(metric("docs_by_lang").values.sum == n)
    assert(metric("docs_by_source").values.sum == n)
    // mean * count == token total (all integer-exact doubles)
    val tokens = metric("tokens_total")("")
    assert(math.abs(metric("mean_doc_tokens")("") - tokens / n) < 1e-4)
    val dup = metric("dup_rate_exact")("")
    assert(dup >= 0.0 && dup < 1.0)
  }

  test("sentenceSegments: split, stable indices, empty fragments dropped") {
    import spark.implicits._
    val df = Seq(
      (1L, "One two. Three! Four?"),   // trailing empty fragment dropped
      (2L, "No punctuation here"),
      (3L, "!! leading. and... runs"), // leading empty keeps later indices
      (4L, "   "),                     // whitespace-only -> no rows
      (5L, "a.b"))                     // no space after period still splits
      .toDF("doc_id", "text")
    val out = TrainingData.sentenceSegments(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2),
        r.getLong(3)))
    val byDoc = out.groupBy(_._1)
    assert(byDoc(1L).sortBy(_._2).map(x => (x._3, x._4)).toSeq ==
      Seq(("One two", 2L), ("Three", 1L), ("Four", 1L)))
    assert(byDoc(2L).toSeq == Seq((2L, 0, "No punctuation here", 3L)))
    // doc 3 splits as ["", " leading", " and", " runs"]: index 0 is the
    // dropped empty, surviving indices start at 1
    assert(byDoc(3L).sortBy(_._2).map(x => (x._2, x._3)).toSeq ==
      Seq((1, "leading"), (2, "and"), (3, "runs")))
    assert(!byDoc.contains(4L))
    assert(byDoc(5L).sortBy(_._2).map(_._3).toSeq == Seq("a", "b"))
  }

  test("lmQualityScore: OOV counts, smoothing arithmetic, fluency ordering") {
    import spark.implicits._
    // reference: 'the' x6, 'cat' x3, 'sat' x1 -> N=10; vocab top-2 = the, cat
    val ref = Seq((1L, "the the the cat sat"), (2L, "the the the cat cat"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (10L, "the cat"),         // fully in-vocab, frequent tokens
      (11L, "sat zzz"),         // fully OOV ('sat' fell outside top-2)
      (12L, "the zzz"))         // mixed
      .toDF("doc_id", "text")
    val out = TrainingData
      .lmQualityScore(docs, "doc_id", "text", ref, "text",
        vocabSize = 2, alpha = 0.5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // hand arithmetic: denom = 10 + 0.5*3 = 11.5
    //   nll(the) = -ln(6.5/11.5), nll(cat) = -ln(3.5/11.5), oov = -ln(0.5/11.5)
    def r6(x: Double) = // Spark round() is HALF_UP, not rint's HALF_EVEN
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // the operator's exact integer mean: half-up((sum of micro-NLLs)/n)
    def mean6(vs: Seq[Double]) = {
      val micro = vs.map(v => math.round(v * 1e6)).sum
      ((micro * 2 + vs.size) / (vs.size * 2L)).toDouble / 1e6
    }
    val nThe = r6(-math.log(6.5 / 11.5))
    val nCat = r6(-math.log(3.5 / 11.5))
    val nOov = r6(-math.log(0.5 / 11.5))
    assert(out(10L) == ((2L, 0L, mean6(Seq(nThe, nCat)))), out(10L).toString)
    assert(out(11L) == ((2L, 2L, mean6(Seq(nOov, nOov)))), out(11L).toString)
    assert(out(12L) == ((2L, 1L, mean6(Seq(nThe, nOov)))), out(12L).toString)
    // fluent text scores lower than OOV soup
    assert(out(10L)._3 < out(12L)._3 && out(12L)._3 < out(11L)._3)
    intercept[IllegalArgumentException] {
      TrainingData.lmQualityScore(docs, "doc_id", "text", ref, "text", 0)
    }
  }

  test("trainQualityLm: saved-LM scoring == retrained scoring (parquet round trip)") {
    val lm = TrainingData.trainQualityLm(docs, "text", vocabSize = 300)
    // the LM table contract: vocab rows + exactly ONE null-token OOV row
    assert(lm.where(col("token").isNull).count() == 1L)
    assert(lm.count() <= 301L)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_lmrt_${System.nanoTime()}")
    try {
      lm.write.mode("overwrite").parquet(dir.getAbsolutePath)
      val loaded = spark.read.parquet(dir.getAbsolutePath)
      def scores(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => r.getLong(0) ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      val retrained = scores(TrainingData
        .lmQualityScore(docs, "doc_id", "text", docs, "text", vocabSize = 300))
      val viaSaved = scores(TrainingData
        .lmQualityScore(docs, "doc_id", "text", loaded))
      assert(viaSaved == retrained) // exact, not approximate
      assert(retrained.nonEmpty)
      // an LM stripped of its OOV row fails LOUDLY, not silently
      val noOov = intercept[IllegalArgumentException] {
        TrainingData.lmQualityScore(docs, "doc_id", "text",
          loaded.where(col("token").isNotNull))
      }
      assert(noOov.getMessage.contains("OOV"), noOov.getMessage)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("sampleExact: exactly k, hash-order supersets, bounded-heap plan, guard") {
    import spark.implicits._
    val df = (1L to 3000L).map(i => (i, s"t$i")).toDF("doc_id", "text")
      .repartition(7)
    def ids(k: Int) = TrainingData.sampleExact(df, "doc_id", k)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val a = ids(50); val b = ids(400)
    assert(a.size == 50 && b.size == 400 && a.subsetOf(b))
    assert(ids(50) == a) // deterministic across runs
    // k >= corpus keeps everything
    assert(ids(5000).size == 3000)
    // matches the rate formulation's ordering: the k smallest hash keys
    val expected = df
      .withColumn("__k", graft.functions.StableId63.stableId63(
        col("doc_id").cast("string")))
      .orderBy(col("__k"), col("doc_id")).limit(50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(a == expected)
    // the plan is the custom bounded-heap operator, not a global sort
    val plan = TrainingData.sampleExact(df, "doc_id", 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan.take(500))
    intercept[IllegalArgumentException] {
      TrainingData.sampleExact(df, "doc_id", 0)
    }
    val over = intercept[IllegalArgumentException] {
      TrainingData.sampleExact(df, "doc_id", 10000001)
    }
    assert(over.getMessage.contains("deterministicSample"), over.getMessage)
  }

  test("bpeTopPairs: vocab-weighted adjacent pair counts, deterministic top-k") {
    import spark.implicits._
    // ab x3 (two docs), cd x1, xyz x1, single-char 'a' contributes nothing
    val df = Seq("ab ab cd", "ab xyz", "a").toDF("text")
    val out = TrainingData.bpeTopPairs(df, "text", k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // pair counts: ab->3, cd->1, xy->1, yz->1; ties break alphabetically
    assert(out == Seq(("ab", 3L), ("cd", 1L)), out.toString)
    val all = TrainingData.bpeTopPairs(df, "text", k = 10).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(all == Seq(("ab", 3L), ("cd", 1L), ("xy", 1L), ("yz", 1L)))
    // top-k plans as TakeOrdered, not a global sort
    val plan = TrainingData.bpeTopPairs(df, "text", 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    intercept[IllegalArgumentException] {
      TrainingData.bpeTopPairs(df, "text", 0)
    }
  }

  test("tfidfTopTerms: k per doc, rank order, corpus-wide terms score low") {
    import spark.implicits._
    val df = Seq(
      (1L, "common rare1 rare1 common"),
      (2L, "common rare2"),
      (3L, "common other"))
      .toDF("doc_id", "text")
    val out = TrainingData.tfidfTopTerms(df, "doc_id", "text", k = 2)
    val byDoc = out.collect().groupBy(_.getLong(0))
    assert(byDoc.values.forall(_.length <= 2))
    // within a doc, rank follows (tfidf desc, term asc)
    byDoc.values.foreach { rows =>
      val ordered = rows.sortBy(_.getInt(1))
      val scores = ordered.map(r => (-r.getAs[Double]("tfidf"),
        r.getAs[String]("term")))
      assert(scores.sameElements(scores.sorted))
    }
    // the everywhere-term never outranks a doc's distinctive term
    val d1 = byDoc(1L).sortBy(_.getInt(1)).map(_.getAs[String]("term"))
    assert(d1.head == "rare1")
    // df counts documents, not occurrences
    val dfOfCommon = out.where(col("term") === "common")
      .select("df").head().getLong(0)
    assert(dfOfCommon == 3L)
  }

  test("dedupSegmentsGlobal: first occurrence wins, empty docs vanish, no Window") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta. gamma delta. unique one"),
      (2L, "gamma delta. fresh two"),
      (3L, "alpha beta. gamma delta"))
      .toDF("doc_id", "text")
    val out = TrainingData.dedupSegmentsGlobal(df, "doc_id", "text")
    val rows = out.collect().map(r => r.getLong(0) ->
      (r.getAs[String]("text_dedup"), r.getAs[Long]("n_kept"))).toMap
    // doc 1 owns every first occurrence, reassembled in original order
    assert(rows(1L) == ("alpha beta. gamma delta. unique one", 3L))
    // doc 2 loses the repeat, keeps its fresh segment
    assert(rows(2L) == ("fresh two", 1L))
    // doc 3 is repeats-only -> no surviving segments -> absent
    assert(!rows.contains(3L))
    // deterministic: winner is min (doc_id, seg_idx), not partition luck
    val again = TrainingData.dedupSegmentsGlobal(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getAs[String]("text_dedup")).toMap
    assert(again == rows.map { case (k, v) => k -> v._1 })
    // the vote + reassembly never needs a Window over the corpus
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(800))
  }

  test("mixByTemperature: T=1 natural, high T flattens, superset, narrow plan") {
    import spark.implicits._
    val skewed = ((1L to 80L).map(i => (i, "head")) ++
      (81L to 100L).map(i => (i, "tail"))).toDF("doc_id", "dom")
    // T=1, target=total: shares are exact micro weights, every quota
    // equals its count -> the whole corpus survives
    assert(TrainingData.mixByTemperature(skewed, "doc_id", "dom",
      temperature = 1.0, targetDocs = 100L).count() == 100L)
    def keptByDom(t: Double, target: Long): Map[String, Long] =
      TrainingData.mixByTemperature(skewed, "doc_id", "dom", t, target)
        .groupBy("dom").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // high temperature flattens toward uniform: the tail's share of the
    // sample grows (at T=4 its quota caps at its full count)
    val t1 = keptByDom(1.0, 50L)
    val t4 = keptByDom(4.0, 50L)
    assert(t4.getOrElse("tail", 0L) > t1.getOrElse("tail", 0L),
      s"T=1 $t1 vs T=4 $t4")
    assert(t4("tail") == 20L) // quota 20 >= count -> whole domain kept
    // growing the target keeps a strict superset (thresholds only grow)
    def ids(target: Long): Set[Long] =
      TrainingData.mixByTemperature(skewed, "doc_id", "dom", 2.0, target)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val small = ids(30L)
    assert(small.subsetOf(ids(60L)) && small.nonEmpty)
    // the returned plan is a narrow filter: no join, no exchange
    val plan = TrainingData.mixByTemperature(skewed, "doc_id", "dom", 2.0, 50L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      plan.take(800))
    intercept[IllegalArgumentException] {
      TrainingData.mixByTemperature(skewed, "doc_id", "dom", 0.0, 50L)
    }
  }

  test("upsampleToQuota: full epochs + partial, contiguous, monotone, narrow") {
    import spark.implicits._
    val corpus = ((1L to 10L).map(i => (i, "low")) ++
      (11L to 40L).map(i => (i, "high"))).toDF("doc_id", "dom")
    def rows(quotas: Map[String, Long]): Seq[(Long, String, Int)] =
      TrainingData.upsampleToQuota(corpus, "doc_id", "dom", quotas)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSeq
    // quota 35 over 10 docs: 3 full epochs for everyone + ~5 partial
    val up = rows(Map("low" -> 35L))
    val byDoc = up.groupBy(_._1).view.mapValues(_.map(_._3).sorted).toMap
    assert(byDoc.size == 10)
    assert(byDoc.values.forall(es => es == (0 until es.length)), // contiguous
      byDoc.toString)
    assert(byDoc.values.forall(es => es.length == 3 || es.length == 4))
    assert(up.size >= 30 && up.size <= 40)
    // exact multiple: no partial epoch at all
    assert(rows(Map("low" -> 20L)).size == 20)
    // quota below count: one partial epoch, a strict subset of the docs
    val down = rows(Map("high" -> 10L))
    assert(down.forall(_._3 == 0) && down.size < 30 && down.nonEmpty)
    // monotone in quota: (doc, epoch) rows only ever get added
    assert(rows(Map("low" -> 20L)).toSet.subsetOf(rows(Map("low" -> 35L)).toSet))
    // whitelist: unlisted domain drops entirely
    assert(rows(Map("low" -> 5L)).forall(_._2 == "low"))
    // narrow plan: the replication is explode-in-scan, no join/exchange
    val plan = TrainingData.upsampleToQuota(corpus, "doc_id", "dom",
      Map("low" -> 35L)).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"), plan.take(800))
    intercept[IllegalArgumentException] {
      TrainingData.upsampleToQuota(corpus, "doc_id", "dom", Map("low" -> -1L))
    }
    // the fan-out guard fires at maxReplication+1 and a deliberate raise passes
    intercept[IllegalArgumentException] {
      TrainingData.upsampleToQuota(corpus, "doc_id", "dom",
        Map("low" -> (10L * 1001L)))
    }
    assert(TrainingData.upsampleToQuota(corpus, "doc_id", "dom",
      Map("low" -> (10L * 1001L)), maxReplication = 1001L).count() == 10010L)
  }

  test("perplexityBuckets: exact thirds, ties stay together, no Window") {
    import spark.implicits._
    // 9 docs, one domain: doc i carries i copies of its own rare token,
    // so every doc's MEAN NLL is distinct (different common/rare mix) and
    // the thirds are exact
    val docs = (1L to 9L).map { i =>
      (i, ("common " * 8) + (s"rare$i " * i.toInt).trim, "d")
    }.toDF("doc_id", "text", "dom")
    val lm = TrainingData.trainQualityLm(docs, "text", vocabSize = 4)
    val out = TrainingData.perplexityBuckets(docs, "doc_id", "text", "dom", lm)
    val buckets = out.collect()
      .map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(buckets.size == 9)
    assert(buckets.values.count(_ == "head") == 3)
    assert(buckets.values.count(_ == "middle") == 3)
    assert(buckets.values.count(_ == "tail") == 3)
    // identical docs share an NLL value — a value never splits across
    // buckets, so 6 clones + 3 distinct = clones all in one bucket set
    val tied = ((1L to 6L).map(i => (i, "same text here", "d")) ++
      (7L to 9L).map(i => (i, ("x " * 6) + s"u$i", "d")))
      .toDF("doc_id", "text", "dom")
    val lmT = TrainingData.trainQualityLm(tied, "text", vocabSize = 4)
    val outT = TrainingData.perplexityBuckets(tied, "doc_id", "text", "dom", lmT)
      .collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    val cloneBuckets = (1L to 6L).map(outT).toSet
    assert(cloneBuckets.size == 1, s"tied docs split: $outT")
    // null-domain rows drop
    val withNull = docs.union(Seq((99L, "common x", null: String))
      .toDF("doc_id", "text", "dom"))
    assert(!TrainingData.perplexityBuckets(withNull, "doc_id", "text", "dom", lm)
      .collect().map(_.getLong(0)).contains(99L))
    // assignment is a broadcast when-chain over the checkpointed scores:
    // no Window, no sort-merge join in the returned plan
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window") && !plan.contains("SortMergeJoin"),
      plan.take(800))
  }

  test("perplexityBuckets two-phase cutoff: adversarial all-distinct NLL " +
      "density matches brute-force thirds for every binWidth") {
    import spark.implicits._
    // 120 docs across 2 domains, every doc a distinct common/rare token
    // mix -> near-unique micro-NLL per doc (the density that made the
    // one-phase histogram collect ~one row per document at scale)
    val docs = (1L to 120L).map { i =>
      val dom = if (i % 2 == 0) "a" else "b"
      (i, ("common " * 9) + (s"w${i % 7} " * (1 + (i % 11)).toInt) +
        (s"rare " * (i % 13).toInt).trim, dom)
    }.toDF("doc_id", "text", "dom")
    val lm = TrainingData.trainQualityLm(docs, "text", vocabSize = 8)
    // brute-force reference over the operator's OWN scores: per domain,
    // sort micros, cut at ceil(n/3)/ceil(2n/3), ties stay low
    def reference(rows: Seq[(Long, String, Long)]): Map[Long, String] =
      rows.groupBy(_._2).flatMap { case (_, rs) =>
        val sorted = rs.sortBy(_._3)
        val n = sorted.size
        val k1 = (n + 2) / 3; val k2 = (2 * n + 2) / 3
        val c1 = sorted(k1 - 1)._3; val c2 = sorted(k2 - 1)._3
        rs.map { case (doc, _, m) =>
          doc -> (if (m <= c1) "head" else if (m <= c2) "middle" else "tail")
        }
      }
    // binWidth 1: every value its own bin (fine pass trivial); 8192: the
    // default; 10^5: cuts land mid-bin; 10^12: ONE bin per domain, the
    // fine pass degenerates to the full exact histogram — the cutoffs
    // must be IDENTICAL in all four
    Seq(1L, 8192L, 100000L, 1000000000000L).foreach { bw =>
      val got = TrainingData.perplexityBuckets(
          docs, "doc_id", "text", "dom", lm, binWidth = bw)
        .collect().map(r => (r.getLong(0), r.getString(1),
          Math.round(r.getDouble(4) * 1000000.0), r.getString(5)))
      val want = reference(got.map(t => (t._1, t._2, t._3)).toSeq)
      got.foreach { case (doc, _, _, b) =>
        assert(b == want(doc), s"binWidth=$bw doc=$doc: got $b want ${want(doc)}")
      }
      assert(got.length == 120)
    }
    // distinct micros really are adversarial (no accidental mass ties)
    val microsByDom = TrainingData.perplexityBuckets(
        docs, "doc_id", "text", "dom", lm)
      .collect().groupBy(_.getString(1))
      .map { case (d, rs) =>
        d -> rs.map(r => Math.round(r.getDouble(4) * 1000000.0)).distinct.length }
    assert(microsByDom.values.sum > 100, s"fixture lost density: $microsByDom")
  }

  test("histogramDrift: identical -> exactly 0, disjoint buckets -> " +
    "exactly 1, hand-computed mixed case, NULLs shrink a side, " +
    "one-version groups absent, boundary validation") {
    import spark.implicits._
    val a = Seq(
      ("g1", 5.0), ("g1", 15.0), ("g1", 25.0), ("g1", 25.0), // buckets 0,1,2,2
      ("g2", 5.0), ("g2", 5.0),                              // all bucket 0
      ("g3", 5.0),                                           // only in A
      ("g4", 5.0), ("g4", 15.0))
      .toDF("grp", "v")
    val b = Seq(
      ("g1", Some(5.0)), ("g1", Some(15.0)),
      ("g1", Some(25.0)), ("g1", Some(25.0)), // identical
      ("g2", Some(25.0)), ("g2", Some(25.0)), // fully moved
      ("g4", Some(5.0)), ("g4", Option.empty[Double]))
      .toDF("grp", "v")
    val out = TrainingData.histogramDrift(a, b, "grp", "v", Seq(10.0, 20.0))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out.keySet == Set("g1", "g2", "g4")) // g3 inner-joins away
    assert(out("g1") == ((4L, 4L, 0.0)))  // identical distribution
    assert(out("g2") == ((2L, 2L, 1.0)))  // disjoint buckets
    // g4: A = {b0:1, b1:1} of 2; B = {b0:1} of 1 (NULL dropped)
    // TV = 1/2 (|1*1-1*2| + |1*1-0*2|) / (2*1) = (1+1)/4 = 0.5
    assert(out("g4") == ((2L, 1L, 0.5)))
    intercept[IllegalArgumentException] {
      TrainingData.histogramDrift(a, b, "grp", "v", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TrainingData.histogramDrift(a, b, "grp", "v", Seq(20.0, 10.0))
    }
  }

  test("topNgramsPerGroup: exact counts, lexicographic tie-break, short " +
    "docs excluded, k bounds, native TopKPerKey plan") {
    import spark.implicits._
    val df = Seq(
      ("en", "a b c a b c a b"),  // "a b c"x2, "b c a"x2, "c a b"x2
      ("en", "z z z z"),          // "z z z"x2
      ("en", "x y"),              // < 3 tokens: contributes nothing
      ("de", "m n o"))            // one trigram
      .toDF("lang", "text")
    val out = TrainingData.topNgramsPerGroup(df, "lang", "text", ngram = 3, k = 2)
    val rows = out.collect()
      .map(r => (r.getString(0), r.getInt(1)) -> ((r.getString(2), r.getLong(3))))
      .toMap
    // en: four trigrams all count 2 -> lexicographic picks "a b c", "b c a"
    assert(rows(("en", 1)) == (("a b c", 2L)))
    assert(rows(("en", 2)) == (("b c a", 2L)))
    assert(rows(("de", 1)) == (("m n o", 1L)))
    assert(rows.size == 3) // de has only one trigram; k=2 doesn't pad
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), "must use the native operator")
    // review regression: empty/whitespace-only docs at ngram=1 must not
    // surface "" as a top token (split of an empty string yields [""])
    val withEmpties = Seq(
      ("en", "tok tok other"), ("en", ""), ("en", "   \t "))
      .toDF("lang", "text")
    val uni = TrainingData.topNgramsPerGroup(withEmpties, "lang", "text",
      ngram = 1, k = 3)
      .collect().map(r => (r.getInt(1), r.getString(2), r.getLong(3)))
    assert(uni.toSeq == Seq((1, "tok", 2L), (2, "other", 1L)))
  }

  test("trainBpeMerges: hand-computed merge sequence, tie-break, early " +
    "stop below frequency 2, and the encoder reproduces the trainer's " +
    "segmentations exactly") {
    import spark.implicits._
    val docs = Seq((1L, "banana banana band")).toDF("doc_id", "text")
    // round 1: (a,n) x5 wins; round 2: (b,an) x3; round 3: tie at 2
    // between (an,a) and (ban,an) -> lexicographic picks (an,a);
    // round 4: (ban,ana) x2; round 5: only (ban,d) x1 -> dry stop
    val merges = TrainingData.trainBpeMerges(docs, "text", nMerges = 10)
    assert(merges == Seq("a" -> "n", "b" -> "an", "an" -> "a", "ban" -> "ana"))
    // encoder consistency: replaying the learned table reproduces the
    // trainer's final segmentations
    val toks = docs.select(
      graft.functions.BpeEncode.bpeEncode(lower(col("text")), merges).as("t"))
      .head().getSeq[String](0)
    assert(toks == Seq("banana", "banana", "ban", "d"))
    // early stop: every pair unique -> no merge reaches frequency 2
    val uniq = Seq((1L, "ab cd ef")).toDF("doc_id", "text")
    assert(TrainingData.trainBpeMerges(uniq, "text", 5).isEmpty)
    // maxWords truncation: keeping only the most frequent word type
    // ('banana') drops 'band', so without band's (b,an) contribution
    // round 2 is a three-way tie at 2 that lexicographic resolves to
    // (an,a) -- the merge sequence genuinely changes with the cutoff
    val trunc = TrainingData.trainBpeMerges(docs, "text", 10, maxWords = 1)
    assert(trunc == Seq("a" -> "n", "an" -> "a", "an" -> "ana", "b" -> "anana"))
    intercept[IllegalArgumentException] {
      TrainingData.trainBpeMerges(docs, "text", 0)
    }
  }

  test("BPE merge persistence: save/load round trip preserves rank " +
    "order; corrupted rank sequences and empty components refuse") {
    import spark.implicits._
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bpe_spec_${System.nanoTime()}")
    dir.deleteOnExit()
    val docs = Seq((1L, "banana banana band")).toDF("doc_id", "text")
    val merges = TrainingData.trainBpeMerges(docs, "text", 10)
    TrainingData.saveBpeMerges(spark, merges, dir.getAbsolutePath)
    val loaded = TrainingData.loadBpeMerges(spark, dir.getAbsolutePath)
    assert(loaded == merges)
    // loaded table drives the encoder identically
    val toks = docs.select(
      graft.functions.BpeEncode.bpeEncode(lower(col("text")), loaded).as("t"))
      .head().getSeq[String](0)
    assert(toks == Seq("banana", "banana", "ban", "d"))
    // corrupt: gap in ranks
    val bad = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bpe_bad_${System.nanoTime()}")
    bad.deleteOnExit()
    Seq((0, "a", "n"), (2, "b", "an")).toDF("rank", "left", "right")
      .write.mode("overwrite").parquet(bad.getAbsolutePath)
    intercept[IllegalArgumentException] {
      TrainingData.loadBpeMerges(spark, bad.getAbsolutePath)
    }
    intercept[IllegalArgumentException] {
      TrainingData.saveBpeMerges(spark, Seq.empty, dir.getAbsolutePath)
    }
  }

  test("blocklistFilter: punctuation/case-insensitive hits with " +
    "multiplicity, token-less docs survive, threshold semantics") {
    import spark.implicits._
    val d = Seq(
      (1L, "Clean words only here"),
      (2L, "Spill, SPILL and spill!"),     // 3 hits via case + edge punct
      (3L, "a slow day"),                  // 1 hit
      (4L, ""),                            // token-less: 0/0, keep
      (5L, "nospill spillage"),            // substrings must NOT hit
      (6L, "... !!")                       // punctuation-only tokens: 0/0
    ).toDF("doc_id", "text")
    val out = TrainingData.blocklistFilter(d, "doc_id", "text",
      Seq("spill", "slow"), maxHits = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((4L, 0L, true)))
    assert(out(2L) == ((4L, 3L, false)))   // multiplicity counts, > maxHits
    assert(out(3L) == ((3L, 1L, true)))    // at the threshold keeps
    assert(out(4L) == ((0L, 0L, true)))
    assert(out(5L) == ((2L, 0L, true)))
    assert(out(6L) == ((0L, 0L, true)))
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L)) // every doc appears
  }

  test("blocklistFilter refusals: empty list, phrase/case entries, " +
    "negative maxHits") {
    import spark.implicits._
    val d = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      TrainingData.blocklistFilter(d, "doc_id", "text", Seq.empty)
    }
    intercept[IllegalArgumentException] {
      TrainingData.blocklistFilter(d, "doc_id", "text", Seq("two words"))
    }
    intercept[IllegalArgumentException] {
      TrainingData.blocklistFilter(d, "doc_id", "text", Seq("Upper"))
    }
    intercept[IllegalArgumentException] {
      TrainingData.blocklistFilter(d, "doc_id", "text", Seq("ok"),
        maxHits = -1)
    }
  }

  test("quantilesByKey: hand-checked type-1 quantiles, tie mass, " +
    "independent keys, null exclusion") {
    import spark.implicits._
    val rows =
      (1 to 10).map(v => ("A", v.toLong)) ++ // uniform 1..10
        Seq(("B", 1L), ("B", 1L), ("B", 1L), ("B", 9L)) ++ // tie mass
        Seq((null.asInstanceOf[String], 5L), ("C", 7L))
    val df = rows.toDF("src", "len")
      .unionByName(Seq(("C", Option.empty[Long])).toDF("src", "len"))
    val out = TrainingData.quantilesByKey(df, "src", "len",
      Seq(100, 250, 500, 750, 1000))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    // A: n=10; ranks ceil(q*10/1000) = 1,3,5,8,10 -> values 1,3,5,8,10
    assert(out(("A", 100L)) == (10L, 1L))
    assert(out(("A", 250L)) == (10L, 3L))
    assert(out(("A", 500L)) == (10L, 5L))
    assert(out(("A", 750L)) == (10L, 8L))
    assert(out(("A", 1000L)) == (10L, 10L))
    // B: n=4, values 1,1,1,9; ranks 1,1,2,3,4 -> 1,1,1,1,9
    assert(out(("B", 500L)) == (4L, 1L))
    assert(out(("B", 750L)) == (4L, 1L))
    assert(out(("B", 1000L)) == (4L, 9L))
    // C: the null value row dropped -> n=1, every quantile 7
    assert(out(("C", 500L)) == (1L, 7L))
    assert(!out.keySet.exists(_._1 == null))
    intercept[IllegalArgumentException] {
      TrainingData.quantilesByKey(df, "src", "len", Nil)
    }
    intercept[IllegalArgumentException] {
      TrainingData.quantilesByKey(df, "src", "len", Seq(0))
    }
    intercept[IllegalArgumentException] {
      TrainingData.quantilesByKey(df, "src", "len", Seq(500, 500))
    }
    intercept[IllegalArgumentException] { // histogram cap refusal
      TrainingData.quantilesByKey(df, "src", "len", Seq(500),
        maxHistRows = 2L)
    }
  }

  test("vocabGrowth: token birth batches, new-token counts, cumulative") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b"), (1L, "b c"),        // batch 0: births a, b, c
      (2L, "c d"), (3L, "a d"),        // batch 1: birth d
      (4L, "E e"), (5L, "b"))          // batch 2: birth e (case-folded)
      .toDF("doc_id", "text")
    val out = graft.operators.TrainingData
      .vocabGrowth(docs, "doc_id", "text", batchSize = 2L)
      .orderBy("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((0L, 3L, 3L), (1L, 1L, 4L), (2L, 1L, 5L)),
      out.mkString(","))
    // a batch with no new tokens is ABSENT (birth attribution, not a
    // per-batch scan): shift the last doc to its own batch of rehashes
    val flat = docs.union(Seq((6L, "a b c")).toDF("doc_id", "text"))
    val out2 = graft.operators.TrainingData
      .vocabGrowth(flat, "doc_id", "text", 2L).orderBy("batch").collect()
    assert(out2.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    intercept[IllegalArgumentException] {
      graft.operators.TrainingData.vocabGrowth(docs, "doc_id", "text", 0L)
    }
    // n=2: phrase novelty — "a b" (doc 0), "b c" (1), "c d"/"a d" (2/3),
    // "e e" (4); doc 5 is a single token -> no bigram
    val out3 = graft.operators.TrainingData
      .vocabGrowth(docs, "doc_id", "text", 2L, n = 2)
      .orderBy("batch").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out3.toSeq == Seq((0L, 2L, 2L), (1L, 2L, 4L), (2L, 1L, 5L)),
      out3.mkString(","))
  }

  test("tokenLabelPmi: presence-based counts, ratio-ordered ranks, " +
    "exact supports") {
    import spark.implicits._
    val docs = Seq(
      (0L, "en", "the cat"), (1L, "en", "the dog"),
      (2L, "de", "der hund"), (3L, "de", "der cat"))
      .toDF("doc_id", "lang", "text")
    val out = graft.operators.TrainingData
      .tokenLabelPmi(docs, "doc_id", "text", "lang", minBoth = 1L, topK = 10)
      .orderBy("label", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getInt(6)))
    // N=4, 2 docs per label. Ratios: label-exclusive single-doc token
    // (dog/hund) r = 1*4/(1*2) = 2; label-exclusive two-doc token
    // (the/der) r = 2*4/(2*2) = 2; cross-label token (cat) r = 1.
    // Ties at r=2 break by token.
    val ln2 = math.rint(math.log(2.0) * 1e6) / 1e6
    assert(out.toSeq == Seq(
      ("de", "der", 2L, 2L, 2L, ln2, 1),
      ("de", "hund", 1L, 1L, 2L, ln2, 2),
      ("de", "cat", 1L, 2L, 2L, 0.0, 3),
      ("en", "dog", 1L, 1L, 2L, ln2, 1),
      ("en", "the", 2L, 2L, 2L, ln2, 2),
      ("en", "cat", 1L, 2L, 2L, 0.0, 3)), out.mkString("\n"))
    // a doc repeating a token still counts ONCE (presence)
    val burst = docs.union(Seq((4L, "en", "spam spam spam"))
      .toDF("doc_id", "lang", "text"))
    val sp = graft.operators.TrainingData
      .tokenLabelPmi(burst, "doc_id", "text", "lang", 1L, 10)
      .where(col("token") === "spam").collect()
    assert(sp.length == 1 && sp(0).getLong(2) == 1L)
  }

  test("weightedSystematicSample: exact integer protocol, multiplicity, " +
    "partitioning invariance") {
    import spark.implicits._
    // W=10, k=5 -> stride 2; cums 5,6,7,8,10
    val df = Seq((1L, 5L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 2L))
      .toDF("id", "w")
    val out = graft.operators.TrainingData
      .weightedSystematicSample(df, "id", "w", k = 5)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 5L, 2L), (2L, 1L, 1L), (4L, 1L, 1L),
      (5L, 2L, 1L)), out.mkString(","))
    assert(out.map(_._3).sum == 5L) // total multiplicity == k exactly here
    // zero-weight rows never selected; result invariant to input layout
    val shuffled = df.union(Seq((6L, 0L)).toDF("id", "w")).repartition(7)
    val out2 = graft.operators.TrainingData
      .weightedSystematicSample(shuffled, "id", "w", 5)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out2.toSeq == out.toSeq, out2.mkString(","))
    intercept[IllegalArgumentException] {
      graft.operators.TrainingData.weightedSystematicSample(
        Seq((1L, -2L)).toDF("id", "w"), "id", "w", 2)
    }
  }

  test("kFoldAssign/Report: deterministic hash folds in [0,k), " +
    "partitioning-invariant, shares sum to 1 per stratum") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, s"lang${i % 3}")).toDF("id", "lang")
    val folds = graft.operators.TrainingData.kFoldAssign(df, "id", 5)
    assert(folds.where(col("fold") < 0 || col("fold") >= 5).count() == 0)
    val a = folds.orderBy("id").collect().map(_.getLong(2))
    val b = graft.operators.TrainingData
      .kFoldAssign(df.repartition(11), "id", 5)
      .orderBy("id").collect().map(_.getLong(2))
    assert(a.toSeq == b.toSeq)
    val rep = graft.operators.TrainingData.kFoldReport(df, "id", "lang", 5)
    val byStratum = rep.groupBy("stratum")
      .agg(sum("n").as("n"), sum("share").as("s")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    byStratum.foreach { case (st, n, s) =>
      assert(n > 0 && math.abs(s - 1.0) < 1e-4, s"$st $n $s")
    }
    intercept[IllegalArgumentException] {
      graft.operators.TrainingData.kFoldAssign(df, "id", 1)
    }
  }

  test("collocations: directed bigram PMI, ratio-ordered, min-count guard") {
    import spark.implicits._
    val docs = Seq((1L, "new york new york"), (2L, "new york city"))
      .toDF("doc_id", "text")
    val out = graft.operators.TrainingData
      .collocations(docs, "doc_id", "text", minCount = 1L, topK = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    // events: (new,york)x3, (york,new)x1, (york,city)x1 -> N=5
    // ratios: york->city 5/2=2.5, york->new 2.5, new->york 15/9
    def pmi(r: Double) = new java.math.BigDecimal(math.log(r))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue
    assert(out.toSeq == Seq(
      ("york", "city", 1L, 2L, 1L, pmi(2.5)),
      ("york", "new", 1L, 2L, 1L, pmi(2.5)),
      ("new", "york", 3L, 3L, 3L, pmi(5.0/ 3.0))), out.mkString("\n"))
    // min-count kills the hapax pairs
    val mc = graft.operators.TrainingData
      .collocations(docs, "doc_id", "text", 2L, 10).collect()
    assert(mc.length == 1 && mc(0).getString(0) == "new")
  }

  test("winsorizeByGroup: exact permille bounds clip, flags, passthrough") {
    import spark.implicits._
    val df = (1 to 10).map(i => ("g", i.toLong)).toDF("k", "x")
    // n=10: lo 200‰ -> rank ceil(2)=2 -> 2; hi 800‰ -> rank 8 -> 8
    val out = graft.operators.TrainingData
      .winsorizeByGroup(df, "k", "x", 200, 800)
      .orderBy("x").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 2L, "low"), (2L, 2L, "none"), (3L, 3L, "none"), (4L, 4L, "none"),
      (5L, 5L, "none"), (6L, 6L, "none"), (7L, 7L, "none"), (8L, 8L, "none"),
      (9L, 8L, "high"), (10L, 8L, "high")), out.mkString(","))
    intercept[IllegalArgumentException] {
      graft.operators.TrainingData.winsorizeByGroup(df, "k", "x", 800, 200)
    }
  }

  test("normalizeByGroup: exact closed-form z per group, zero-variance " +
    "group yields null") {
    import spark.implicits._
    val df = Seq(("g1", 1L), ("g1", 2L), ("g1", 3L),
      ("g2", 7L), ("g2", 7L)).toDF("g", "x")
    val out = graft.operators.TrainingData
      .normalizeByGroup(df, "g", "x")
      .orderBy("g", "x").collect()
      .map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else Double.box(r.getDouble(2))))
    // g1: z = (3x - 6)/sqrt(3*14 - 36) = (3x-6)/sqrt(6)
    assert(out.toSeq == Seq(
      ("g1", 1L, Double.box(-1.224745)),
      ("g1", 2L, Double.box(0.0)),
      ("g1", 3L, Double.box(1.224745)),
      ("g2", 7L, null), ("g2", 7L, null)), out.mkString(","))
    intercept[IllegalArgumentException] {
      graft.operators.TrainingData.normalizeByGroup(df, "g", "x",
        maxGroups = 1)
    }
  }

  test("normalizeByGroup: null value/group rows are excluded from the " +
    "moments AND the output — z of the surviving rows is unchanged") {
    import spark.implicits._
    val clean = Seq(("g1", 1L), ("g1", 2L), ("g1", 3L)).toDF("g", "x")
    val dirty = Seq(
      (Option("g1"), Option(1L)), (Option("g1"), Option(2L)),
      (Option("g1"), Option(3L)),
      (Option("g1"), Option.empty[Long]),   // null value in a live group
      (Option.empty[String], Option(9L)))   // null group
      .toDF("g", "x")
    def zs(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TrainingData.normalizeByGroup(df, "g", "x")
        .orderBy("x").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    // pre-fix, the null value inflated n to 4 and corrupted every z
    assert(zs(dirty) == zs(clean), s"${zs(dirty)} vs ${zs(clean)}")
  }

  test("vocabGrowthApprox: cumulative HLL estimates track the exact " +
    "curve within 10% at every batch on real documents; bounds refuse") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val exact = graft.operators.TrainingData
      .vocabGrowth(docs, "doc_id", "text", batchSize = 10L, n = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val approx = graft.operators.TrainingData
      .vocabGrowthApprox(docs, "doc_id", "text", batchSize = 10L, n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // exact emits only batches that BIRTHED a token; approx emits every
    // batch with grams (an estimate can't prove zero-new) — so approx's
    // batch set covers exact's
    assert(exact.keySet.subsetOf(approx.map(_._1).toSet), "batch gap")
    approx.filter(a => exact.contains(a._1)).foreach { case (b, _, cum) =>
      val e = exact(b)
      assert(math.abs(cum - e) <= e * 0.10, s"batch $b: approx $cum exact $e")
    }
    // n_new differences telescope back to the cumulative estimates
    assert(approx.map(_._2).sum == approx.map(_._3).max)
    intercept[IllegalArgumentException] {
      graft.operators.TrainingData.vocabGrowthApprox(docs, "doc_id", "text",
        batchSize = 10L, n = 2, lgConfigK = 2)
    }
  }

  test("collocations: empty corpus / all-single-token docs yield an " +
    "empty frame, not an NPE on the null SUM") {
    import spark.implicits._
    val empty = graft.operators.TrainingData.collocations(
      Seq.empty[(Long, String)].toDF("doc_id", "text"),
      "doc_id", "text", 1L, 10)
    assert(empty.count() == 0L)
    val singles = graft.operators.TrainingData.collocations(
      Seq((1L, "alpha"), (2L, "beta")).toDF("doc_id", "text"),
      "doc_id", "text", 1L, 10)
    assert(singles.count() == 0L)
  }
}
