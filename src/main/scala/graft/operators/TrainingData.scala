package graft.operators

import graft.functions.{StableId63, TextExprs}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a training-data pipeline needs beyond
  * dedup/similarity: reproducible sampling, sequence packing, PII
  * redaction, vocabulary building. All are narrow or single-shuffle
  * declarative plans — no UDFs, no driver-side state.
  */
object TrainingData {

  /** Deterministic sampling: keep a row iff its md5-derived 63-bit id key
    * lands under `permille` of 1000. Engine-portable (any system that can
    * md5 reproduces the exact subset), uniform per id, and NARROW — a
    * filter in the scan, no RNG state, no shuffle, stable across re-runs
    * and cluster sizes. The train/holdout split you can re-derive two
    * years later. */
  def deterministicSample(df: DataFrame, idCol: String, permille: Int): DataFrame = {
    require(permille >= 0 && permille <= 1000, s"permille out of range: $permille")
    df.where(pmod(StableId63.stableId63(col(idCol).cast("string")), lit(1000))
      < lit(permille))
  }

  /** EXACT-k deterministic sample: the k rows with the smallest
    * md5-derived 63-bit keys (id tie-break) — [[deterministicSample]]
    * lands NEAR its rate (binomial spread); this lands exactly, for the
    * "hold out exactly 10k eval docs" contract. Same determinism
    * properties: engine-portable, re-runs identical, and a larger k
    * keeps a strict SUPERSET (the selection order is the fixed hash),
    * so growing the holdout never churns docs already in it.
    *
    * Runs on the [[graft.plans.TopK]] bounded-heap operator with a
    * constant grouping key: each task's partial heap emits ≤ k rows, so
    * the single final partition sees ≤ tasks·k rows — a global
    * "ORDER BY hash LIMIT k" without ever sorting the corpus (the same
    * physical shape as TakeOrdered, but reusable mid-pipeline and
    * spilling nothing). `maxExactK` bounds the per-task heap the same
    * way [[mixToQuotasExact]]'s guard does. */
  def sampleExact(df: DataFrame, idCol: String, k: Int,
                  maxExactK: Long = 10000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    require(k <= maxExactK,
      s"k=$k > maxExactK=$maxExactK — exact selection holds a per-task " +
        "heap of k rows; use deterministicSample for rate-scale holdouts " +
        "or raise maxExactK deliberately")
    val keyed = df
      .withColumn("__skey", StableId63.stableId63(col(idCol).cast("string")))
      .withColumn("__one", lit(0))
    graft.plans.TopK.perKey(keyed, Seq("__one"),
      Seq(graft.plans.TopK.Sort("__skey"), graft.plans.TopK.Sort(idCol)),
      k, "__srank")
      .drop("__skey", "__one", "__srank")
  }

  /** Deterministic NAMED split (train/val/test): the permille space of
    * the same md5-derived 63-bit key partitions by cumulative weights —
    * `splits = Seq("train" -> 900, "val" -> 50, "test" -> 50)` sends
    * bucket 0..899 to train, 900..949 to val, 950..999 to test. Same
    * guarantees as [[deterministicSample]]: narrow (a scan-side
    * when-chain, no shuffle, no RNG state), engine-portable, re-runs
    * identical; splits are DISJOINT and EXHAUSTIVE by construction, and
    * reweighting moves only boundary buckets (growing train never churns
    * rows already in it). Weights must sum to exactly 1000 — a partial
    * split is a silent data loss, refused loudly. Appends `splitCol`. */
  def splitCorpus(df: DataFrame, idCol: String,
                  splits: Seq[(String, Int)],
                  splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "splitCorpus: no splits named")
    require(splits.forall(_._2 > 0),
      s"splitCorpus: non-positive weight in $splits")
    require(splits.map(_._1).distinct.size == splits.size,
      s"splitCorpus: duplicate split names in $splits")
    require(splits.map(_._2).sum == 1000,
      s"splitCorpus: weights must sum to 1000 permille, got " +
        s"${splits.map(_._2).sum} — a partial split silently drops data")
    val bucket = pmod(StableId63.stableId63(col(idCol).cast("string")),
      lit(1000))
    val bounds = splits.scanLeft(0) { case (acc, (_, w)) => acc + w }.tail
    val expr = splits.zip(bounds).init.foldRight(
      lit(splits.last._1): org.apache.spark.sql.Column) {
      case (((name, _), bound), acc) => when(bucket < bound, name).otherwise(acc)
    }
    df.withColumn(splitCol, expr)
  }

  /** Stratified deterministic sampling: a per-stratum rate (permille) on
    * top of the same md5-derived key — the "rebalance the language mix"
    * primitive (downsample the dominant language, keep the rest). Same
    * guarantees as [[deterministicSample]]: narrow, engine-portable,
    * subset-monotonic per stratum, no RNG state. Strata missing from
    * `rates` fall back to `defaultPermille`. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Int], defaultPermille: Int): DataFrame = {
    (rates.values.toSeq :+ defaultPermille).foreach(p =>
      require(p >= 0 && p <= 1000, s"permille out of range: $p"))
    DomainLookup.attach(df, col(stratumCol),
        org.apache.spark.sql.types.StringType,
        rates.toSeq.map { case (k, p) => (k: Any, Seq[Any](p)) },
        Seq(("__rate", org.apache.spark.sql.types.IntegerType)))
      .where(pmod(StableId63.stableId63(col(idCol).cast("string")), lit(1000))
        < coalesce(col("__rate"), lit(defaultPermille)))
      .drop("__rate")
  }

  /** Greedy sequence packing: documents ordered by `idCol` within a shard
    * are laid head-to-tail and cut into `budget`-token bins —
    * bin = floor(exclusive-running-token-sum / budget), the streaming
    * first-fit used to build fixed-length training batches.
    *
    * The running sum is a window per shard, so the shard column is the
    * parallelism unit at scale (date, source, language, hash-bucket of
    * id): one shuffle on the shard key, sequential scan within. A single
    * global pack would serialize through one task — deliberately not
    * offered. */
  def packSequences(docs: DataFrame, shardCol: String, idCol: String,
                    textCol: String, budget: Int): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(col(shardCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .select(col(shardCol), col(idCol),
        TextExprs.tokenCount(col(textCol)).as("n_tokens"))
      .withColumn("bin",
        floor((sum(col("n_tokens")).over(w) - col("n_tokens")) / budget))
  }

  /** Email-looking spans → `<EMAIL>`, digit runs → `<NUM>`. The character
    * classes are the RE2-safe subset, so the same pattern byte-for-byte
    * runs on Java regex and RE2-family engines (the oracle's). */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val NumberPattern = "[0-9]+"

  /** PII scrub: redacted text plus per-row match counts (the audit trail a
    * compliance pass needs). Narrow, codegen'd regexp — no UDF. */
  def redactPii(df: DataFrame, textCol: String): DataFrame = df
    .withColumn("n_emails", regexp_count(col(textCol), lit(EmailPattern)))
    .withColumn("__no_email",
      regexp_replace(col(textCol), EmailPattern, "<EMAIL>"))
    .withColumn("n_numbers", regexp_count(col("__no_email"), lit(NumberPattern)))
    .withColumn("redacted",
      regexp_replace(col("__no_email"), NumberPattern, "<NUM>"))
    .drop("__no_email")

  /** Gopher-style repetition signal: the fraction of a document's word
    * n-grams that are repeats (1 - distinct/total). Highly repetitive
    * machine-generated or boilerplate text scores near 1 and gets
    * filtered before training. Shingles are hashed to ints before the
    * counts (identical collisions cross-engine, 8-byte shuffle keys);
    * total and distinct counts run as two lean aggregates — fusing them
    * into one groupBy would plan countDistinct as an Expand (every
    * posting duplicated, see q48). Docs shorter than n tokens drop out
    * (no n-grams to judge). */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    val sh = docs.select(col(idCol).as("doc"),
      explode(graft.functions.ShingleHash32.shingleHash32(col(textCol), n)).as("hv"))
    val tot = sh.groupBy(col("doc")).agg(count(lit(1)).as("n_ngrams"))
    val dis = sh.distinct().groupBy(col("doc")).agg(count(lit(1)).as("n_distinct"))
    tot.join(dis, Seq("doc"))
      .select(col("doc"), col("n_ngrams"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams"), 6)
          .as("rep_ratio"))
  }

  /** Exact per-key quantiles over a BOUNDED DISCRETE value domain —
    * the filter-threshold primitive ("p50/p95 document length per
    * source decides each source's length cut") computed without any
    * per-row window. Type-1 (lower) quantile at permille q: the
    * smallest value whose cumulative count reaches rank
    * ⌈q·n/1000⌉ = (q·n + 999) DIV 1000 — all-integer, so the result
    * is exact and engine-portable.
    *
    * Scale shape (100 TB): ONE corpus scan into a (key, value)-keyed
    * HashAggregate (map-side combine); the cumulative window runs on
    * that HISTOGRAM partitioned BY KEY — never the base table — and
    * the quantile probes explode |permille| rows per histogram row.
    * The [[ntileBuckets]] guard discipline applies: a continuous
    * value domain makes the histogram corpus-sized; `maxHistRows`
    * fails that loudly (bin first, or raise deliberately).
    *
    * @return (key, q_permille, n, value), one row per key × permille;
    *         null keys/values are excluded from the population. */
  def quantilesByKey(df: DataFrame, keyCol: String, valCol: String,
                     permille: Seq[Int],
                     maxHistRows: Long = 4194304L): DataFrame = {
    require(permille.nonEmpty && permille.forall(q => q >= 1 && q <= 1000),
      s"quantilesByKey: permille must be non-empty in [1, 1000]: $permille")
    require(permille.distinct.size == permille.size,
      s"quantilesByKey: duplicate permille: $permille")
    val hist = df
      .where(col(keyCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(keyCol).as("key"), col(valCol).cast("long").as("v"))
      .agg(count(lit(1)).as("__cnt"))
      .localCheckpoint()
    val histRows = hist.limit((maxHistRows + 1).toInt).count()
    require(histRows <= maxHistRows,
      s"quantilesByKey: histogram exceeds maxHistRows=$maxHistRows — " +
        s"'$valCol' looks continuous; bin it first or raise the cap " +
        "deliberately")
    val wCum = Window.partitionBy(col("key")).orderBy(col("v"))
    val wAll = Window.partitionBy(col("key"))
    hist
      .withColumn("__cum", sum(col("__cnt")).over(wCum))
      .withColumn("__n", sum(col("__cnt")).over(wAll))
      .select(col("key"), col("v"), col("__cum"), col("__n"),
        explode(typedLit(permille.map(_.toLong))).as("q_permille"))
      .where(col("__cum") >= expr("(q_permille * __n + 999) DIV 1000"))
      .groupBy(col("key"), col("q_permille"))
      .agg(max(col("__n")).as("n"), min(col("v")).as("value"))
  }

  /** Exact NTILE(`n`) over (`orderCol`, `tieCol`) WITHOUT a global sort —
    * the scale-safe length-decile assigner. A partition-less ntile window
    * funnels the whole table through ONE task; instead:
    *
    *  1. histogram of `orderCol` (one shuffle, |distinct values| rows);
    *  2. cumulative ends over that aggregated frame (the single-partition
    *     window runs on the histogram, never the base table — SCALE.md);
    *  3. the n-1 bucket cut ranks are located in the histogram; where a
    *     cut falls strictly inside a value group, the tie-breaking
    *     `tieCol` at the cut offset is resolved with a window partitioned
    *     BY VALUE over only the boundary values' rows (< n values);
    *  4. the collected boundary list (≤ n-1 rows — bounded driver state,
    *     never data) becomes a broadcast when-chain: bucket assignment is
    *     a NARROW projection on the base table.
    *
    * Same answer as `ntile(n).over(Window.orderBy(orderCol, tieCol))` for
    * non-null keys and distinct (orderCol, tieCol) pairs — NTILE bucket
    * sizes are ceil/floor(N/n) with the first N%n buckets one larger.
    * Skew note: step 3 sorts each boundary value's group in one task; a
    * single value owning a whole decile's worth of ties is the worst
    * case, and only the ≤ n-1 boundary values ever pay it.
    *
    * Guard: the protocol is sound only while the HISTOGRAM is small — a
    * continuous-valued `orderCol` makes |distinct| ≈ |rows| and step 2's
    * single-partition window silently rebuilds the global sort this
    * operator exists to avoid. `maxDistinct` fails that case loudly:
    * round/bin the key first (or raise the cap deliberately for a known
    * machine). */
  def ntileBuckets(df: DataFrame, n: Int, orderCol: String, tieCol: String,
                   bucketCol: String, maxDistinct: Long = 1000000L): DataFrame = {
    require(n >= 1, s"bucket count must be >= 1: $n")
    val spark = df.sparkSession
    import spark.implicits._
    // one base scan builds the histogram; it feeds two bounded actions
    // (total, cut location) before being dropped
    val hist = df.groupBy(col(orderCol)).agg(count(lit(1)).as("__cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one job yields both the guard cardinality and the row total
      val head = hist.agg(count(lit(1)),
        coalesce(sum(col("__cnt")), lit(0L))).head()
      val nDistinct = head.getLong(0)
      require(nDistinct <= maxDistinct,
        s"ntileBuckets: $nDistinct distinct '$orderCol' values exceed " +
          s"maxDistinct=$maxDistinct — the histogram cumulative would " +
          "serialize through one task; bin the order key (round it to a " +
          "fixed precision) or raise maxDistinct deliberately")
      val total = head.getLong(1)
      if (total == 0L || n == 1) return df.withColumn(bucketCol, lit(1))
      val cumW = Window.orderBy(col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cum = hist
        .withColumn("__cum_end", sum(col("__cnt")).over(cumW))
        .withColumn("__cum_start", col("__cum_end") - col("__cnt"))
      val base = total / n
      val rem = total % n
      // global rank of the LAST row of bucket j (first `rem` buckets get
      // base+1 rows); cuts collapse onto rank `total` when total < n
      val cuts = (1 until n).map(j => (j, j * base + math.min(j, rem)))
        .toDF("__j", "__k")
      // ≤ n-1 rows: (j, boundary value, offset inside its group, group n)
      val bounds = cum.join(broadcast(cuts),
          col("__cum_start") < col("__k") && col("__k") <= col("__cum_end"))
        .select(col("__j"), col(orderCol).as("__v"),
          (col("__k") - col("__cum_start")).as("__m"), col("__cnt").as("__vcnt"))
        .collect()
        .sortBy(_.getInt(0))
      // tie value at offset __m inside each strictly-cut group; cuts
      // landing on a group's end need no tie (condition is `<= value`).
      // The literal isin filter pushes to the scan — only the (< n)
      // boundary values' rows are read and ranked, each in its own
      // by-value window partition.
      val strict = bounds.filter(r => r.getLong(2) < r.getLong(3))
      val ties: Map[(Any, Long), Any] =
        if (strict.isEmpty) Map.empty
        else {
          val vals = strict.map(_.get(1)).distinct.toSeq
          val wanted = strict.map(r => (r.get(1), r.getLong(2))).toSet
          val rnW = Window.partitionBy(col(orderCol)).orderBy(col(tieCol))
          val need = strict.map(r =>
            col("__rv") === lit(r.get(1)) && col("__rn") === lit(r.getLong(2)))
            .reduce(_ || _)
          df.filter(col(orderCol).isin(vals: _*))
            .select(col(orderCol).as("__rv"), col(tieCol).as("__rt"),
              row_number().over(rnW).cast("long").as("__rn"))
            .filter(need)
            .collect()
            .map(r => (r.get(0), r.getLong(2)) -> r.get(1))
            .toMap.filter { case (k, _) => wanted.contains(k) }
        }
      val bucket = bounds.foldRight(lit(n)) { (r, acc) =>
        val cond =
          if (r.getLong(2) >= r.getLong(3)) col(orderCol) <= lit(r.get(1))
          else col(orderCol) < lit(r.get(1)) ||
            (col(orderCol) === lit(r.get(1)) &&
              col(tieCol) <= lit(ties((r.get(1), r.getLong(2)))))
        when(cond, lit(r.getInt(0))).otherwise(acc)
      }
      df.withColumn(bucketCol, bucket)
    } finally hist.unpersist(blocking = false)
  }

  /** Cross-corpus span (line/paragraph) dedup, keep-first-occurrence:
    * the sub-document granularity pass (boilerplate headers, repeated
    * paragraphs) that document-level dedup can't touch. Input is a
    * pre-split array column (the caller owns the notion of "line" —
    * newline split, fixed-width token chunks, sentence split); every
    * occurrence of a span after its global first — ordered by
    * (`idCol`, position) — is dropped.
    *
    * Scale shape: spans explode to postings keyed by an 8-byte xxhash64
    * fingerprint (the span text itself never shuffles twice); one
    * aggregate finds each fingerprint's keeper, one shuffled join marks
    * survivors; surviving spans reassemble per doc in position order.
    *
    * @return (idCol, n_spans, n_kept, kept_text) one row per input doc
    *         (docs whose spans all drop keep n_kept=0 and empty text). */
  def dedupSpans(docs: DataFrame, idCol: String, spansCol: String): DataFrame = {
    val posts = docs
      .select(col(idCol).as("doc"), posexplode(col(spansCol)).as(Seq("idx", "span")))
      .withColumn("fp", xxhash64(col("span")))
    val keepers = posts
      .groupBy(col("fp"))
      .agg(min(struct(col("doc"), col("idx"))).as("keeper"))
      .select(col("fp"), col("keeper.doc").as("kdoc"), col("keeper.idx").as("kidx"))
    posts.join(keepers, Seq("fp"))
      .withColumn("kept", col("doc") === col("kdoc") && col("idx") === col("kidx"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("idx"), col("span"))))),
          x => x.getField("span")), " ").as("kept_text"))
      .withColumnRenamed("doc", idCol)
  }

  /** Gopher-style quality-filter composite: the document-level keep/drop
    * decision with a per-rule audit trail (a compliance pass needs to
    * know WHY a doc dropped, and a pipeline needs per-rule drop rates to
    * tune thresholds). Rules — word-count bounds, mean word length
    * bounds, symbol ratio, stopword evidence, 2-gram repetition — are
    * all narrow arithmetic over the scan except the repetition signal,
    * which reuses [[repetitionStats]] (one shuffle) and joins back.
    *
    * Thresholds default to the published Gopher ranges adapted to
    * word-soup corpora; all overridable. */
  def qualityFilter(docs: DataFrame, idCol: String, textCol: String,
                    minWords: Int = 3, maxWords: Int = 100000,
                    minMeanWordLen: Double = 2.0, maxMeanWordLen: Double = 12.0,
                    maxSymbolRatio: Double = 0.2,
                    minStopwordHits: Int = 1,
                    maxRepRatio: Double = 0.6,
                    stopwords: Seq[String] = Seq("the", "be", "to", "of",
                      "and", "that", "have", "with")): DataFrame = {
    val toks = TextExprs.tokens(lower(trim(col(textCol))))
    val nWords = size(toks)
    val lettersOnly = regexp_replace(trim(col(textCol)), "\\s+", "")
    val symbols = regexp_replace(lettersOnly, "[A-Za-z0-9]", "")
    val stats = docs.select(
      col(idCol).as("doc"),
      nWords.cast("long").as("n_words"),
      round(length(lettersOnly).cast("double") /
        greatest(nWords, lit(1)), 4).as("mean_word_len"),
      round(length(symbols).cast("double") /
        greatest(length(lettersOnly), lit(1)), 4).as("symbol_ratio"),
      size(array_intersect(toks,
        array(stopwords.map(lit): _*))).cast("long").as("stop_hits"))
    val rep = repetitionStats(docs, idCol, textCol, n = 2)
      .select(col("doc"), col("rep_ratio"))
    stats.join(rep, Seq("doc"), "left")
      .withColumn("rep_ratio", coalesce(col("rep_ratio"), lit(0.0)))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
          col("mean_word_len").between(minMeanWordLen, maxMeanWordLen) &&
          col("symbol_ratio") <= maxSymbolRatio &&
          col("stop_hits") >= minStopwordHits &&
          col("rep_ratio") <= maxRepRatio)
  }

  /** Blocklist (bad-words) filtering — the C4 cleaning step (Raffel et
    * al., "Exploring the Limits of Transfer Learning with a Unified
    * Text-to-Text Transformer", JMLR 2020, §2.2: pages containing any
    * word on a public blocklist are dropped — public literature). A
    * token matches when its lowercased, edge-punctuation-trimmed form
    * equals a blocklist entry, so "Spill," and "SPILL" both hit
    * "spill"; single-token entries only (phrase entries belong to a
    * substring scan, a different cost model — refused loudly).
    *
    * Scale shape (100 TB): tokens explode NARROW ((doc, token) only —
    * the text column never shuffles), the blocklist broadcasts
    * (list-sized by contract), the hit test is one broadcast hash
    * join, and the per-doc roll-up partial-aggregates map-side. No
    * per-row array allocation, no regex alternation that grows with
    * the list.
    *
    * Output: (doc, n_tokens, n_flagged, keep) — every input doc
    * appears (token-less docs count 0/0); keep = n_flagged <= maxHits
    * (default 0 = C4's drop-on-any-hit). */
  def blocklistFilter(docs: DataFrame, idCol: String, textCol: String,
                      blocklist: Seq[String], maxHits: Int = 0): DataFrame = {
    require(blocklist.nonEmpty, "blocklistFilter: empty blocklist")
    require(maxHits >= 0, s"blocklistFilter: maxHits must be >= 0: $maxHits")
    blocklist.foreach { w =>
      require(w.nonEmpty && w == w.toLowerCase(java.util.Locale.ROOT) &&
        !w.exists(_.isWhitespace),
        s"blocklistFilter: entries must be nonempty lowercase single " +
          s"tokens: '$w' (phrases need a substring scan, not this operator)")
    }
    val spark = docs.sparkSession
    import spark.implicits._
    val bl = broadcast(blocklist.distinct.toDF("__bl_word"))
    val toks = docs
      .select(col(idCol).as("doc"),
        explode_outer(TextExprs.tokens(lower(trim(col(textCol)))))
          .as("__raw"))
      .select(col("doc"),
        regexp_replace(col("__raw"), "^[^a-z0-9]+|[^a-z0-9]+$", "")
          .as("__tok"))
    toks
      .join(bl, col("__tok") === col("__bl_word"), "left")
      .groupBy(col("doc"))
      .agg(
        sum(when(col("__tok").isNotNull && col("__tok") =!= "", 1L)
          .otherwise(0L)).as("n_tokens"),
        sum(when(col("__bl_word").isNotNull, 1L).otherwise(0L))
          .as("n_flagged"))
      .withColumn("keep", col("n_flagged") <= maxHits)
  }

  /** Frequency vocabulary: top-`k` lowercased whitespace tokens by global
    * count (ties → lexicographic). Classic two-phase aggregate: partial
    * counts map-side, one shuffle on token, TakeOrdered for the top-k —
    * the 100 TB shape for "build the tokenizer's seed vocab". */
  def vocabulary(docs: DataFrame, textCol: String, k: Int): DataFrame = docs
    .select(explode(TextExprs.tokens(lower(col(textCol)))).as("token"))
    .where(col("token") =!= "")
    .groupBy(col("token")).agg(count(lit(1)).as("n"))
    .orderBy(col("n").desc, col("token"))
    .limit(k)

  /** Vocabulary-growth curve (Heaps'-law audit): how many NEW distinct
    * tokens each successive ingest batch contributes. A healthy crawl
    * keeps discovering vocabulary (sub-linear but growing); a curve
    * that flattens to ~0 says the frontier is re-crawling the same
    * content (diversity stall), and one that spikes says an encoding
    * or boilerplate regression is minting junk tokens — both cheaper
    * to catch here than after tokenizer training. Batch = `idCol DIV
    * batchSize` (ingest order proxy); a token's BIRTH batch is
    * `min(batch)` over its occurrences, exact.
    *
    * Scale shape: one explode → grams hash to a 63-bit md5 key IN THE
    * SCAN (engine-portable [[graft.functions.StableId63]]; the only
    * corpus-sized shuffle then carries (8-byte key, batch) instead of
    * gram strings — measured 10.1 → 5.4 s at sf1.0 bigrams) → one
    * map-side-combined min-aggregate → a per-batch count (≤ |batches|
    * rows) → one cumulative window over that TINY aggregate
    * (documented single-partition-over-aggregate exception, q40's
    * shape). 63-bit collisions under-count new grams by ~|grams|²/2⁶⁴
    * — identical on every engine (same hash), negligible and
    * deterministic.
    *
    * `n` is the gram order: 1 audits raw vocabulary (flattens once the
    * base lexicon is seen), higher orders audit PHRASE novelty — the
    * sharper diversity signal on a corpus whose word list saturates
    * early but whose combinations shouldn't.
    *
    * @return (batch, n_new_tokens, cum_tokens) ordered by batch. */
  /** n-gram column over a STAGED token-array attribute (q154 lesson,
    * r19: a lambda-captured tokenizer EXPRESSION re-evaluates per
    * element — the size/element_at captures re-ran the whole regex
    * tokenize once per token, O(len²) per document. Callers must pass
    * a projected attribute, never the tokenizer expression itself). */
  private def gramsOfStaged(tkAttr: Column, n: Int): Column =
    if (n == 1) tkAttr
    else filter(
      transform(tkAttr, (t, i) =>
        when(i <= size(tkAttr) - n,
          concat_ws(" ", (0 until n).map(j =>
            element_at(tkAttr, i + j + 1)): _*))),
      g => g.isNotNull)

  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  batchSize: Long, n: Int = 1): DataFrame = {
    require(batchSize >= 1, s"vocabGrowth: batchSize must be >= 1: $batchSize")
    require(n >= 1 && n <= 8, s"vocabGrowth: n must be in [1, 8]: $n")
    val tk = TextExprs.tokens(lower(col(textCol)))
    val birth = docs
      .select(col(idCol).cast("long").as("__id"), tk.as("__tk"))
      .select(col("__id"),
        explode(gramsOfStaged(col("__tk"), n)).as("token"))
      .where(col("token") =!= "")
      .select(expr(s"__id DIV ${batchSize}L").as("batch"),
        graft.functions.StableId63.stableId63(col("token")).as("__hv"))
      .groupBy(col("__hv")).agg(min(col("batch")).as("batch"))
    val perBatch = birth.groupBy(col("batch"))
      .agg(count(lit(1)).as("n_new_tokens"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("batch"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perBatch.withColumn("cum_tokens", sum(col("n_new_tokens")).over(w))
  }

  /** [[vocabGrowth]]'s sketch path — the 100 TB answer to the exact
    * curve's honest limit (round-13 verdict missing #5): the exact
    * variant's min-aggregate shuffle carries ONE ROW PER DISTINCT GRAM
    * (63-bit key + batch), and distinct-gram mass is corpus-sized by
    * the heavy tail (measured 4.1× rows for 10× data at sf1.0 bigrams
    * — super-linear because replicas mint new grams). Here each
    * partition folds its grams into PER-BATCH HLL SKETCHES map-side
    * (q48's machinery, Spark's datasketches HLL), so the only shuffle
    * carries ≤ |partitions|·|batches| fixed-size sketch buffers —
    * independent of how many distinct grams exist. The cumulative
    * union then runs on the DRIVER over the collected ≤ `maxBatches`
    * per-batch sketches (4 KB each — bounded driver state, loudly
    * guarded, the [[graft.operators.IvfIndex.train]] sample-collect
    * discipline; the first cut's distributed ≤|batches|² sketch
    * self-join moved 8 GB of sketch bytes through one join at 2000
    * batches — measured 14.3 s vs exact's 4.6 at sf1.0 — for a fold a
    * single core does in milliseconds). The per-batch NEW count is the
    * difference of successive cumulative estimates — which can be
    * slightly negative on a flat batch (estimate jitter); it is
    * reported as-is, not clamped, so the error is visible (the q48
    * discipline: sketches carry error bars, never silently pose as
    * exact; [[vocabGrowth]] remains the oracle companion at audit
    * scale).
    *
    * Emits EVERY batch that contains grams — unlike [[vocabGrowth]],
    * which emits only batches that birthed a token (an estimate cannot
    * prove a batch contributed zero new grams, so suppressing rows
    * would hide the error bar).
    *
    * @param lgConfigK HLL precision (2^lgK registers; 12 ≈ 1.6% rsd,
    *                  4 KB per sketch)
    * @return (batch, n_new_approx, cum_approx) ordered by batch. */
  def vocabGrowthApprox(docs: DataFrame, idCol: String, textCol: String,
                        batchSize: Long, n: Int = 1,
                        lgConfigK: Int = 12,
                        maxBatches: Int = 16384): DataFrame = {
    require(batchSize >= 1,
      s"vocabGrowthApprox: batchSize must be >= 1: $batchSize")
    require(n >= 1 && n <= 8, s"vocabGrowthApprox: n must be in [1, 8]: $n")
    require(lgConfigK >= 4 && lgConfigK <= 21,
      s"vocabGrowthApprox: lgConfigK must be in [4, 21]: $lgConfigK")
    require(maxBatches >= 1,
      s"vocabGrowthApprox: maxBatches must be >= 1: $maxBatches")
    val spark = docs.sparkSession
    import spark.implicits._
    val tk = TextExprs.tokens(lower(col(textCol)))
    val sk = docs
      .select(col(idCol).cast("long").as("__id"), tk.as("__tk"))
      .select(col("__id"),
        explode(gramsOfStaged(col("__tk"), n)).as("token"))
      .where(col("token") =!= "")
      .select(expr(s"__id DIV ${batchSize}L").as("batch"),
        graft.functions.StableId63.stableId63(col("token")).as("__hv"))
      .groupBy(col("batch"))
      .agg(hll_sketch_agg(col("__hv"), lit(lgConfigK)).as("__sk"))
      .collect() // ≤ |batches| rows of ~2^lgK bytes each, guarded below
    require(sk.length <= maxBatches,
      s"vocabGrowthApprox: ${sk.length} batches exceeds the driver-fold " +
        s"bound $maxBatches (~${(1 << lgConfigK)} B/sketch) — raise " +
        "maxBatches deliberately or use a larger batchSize")
    val union = new org.apache.datasketches.hll.Union(lgConfigK)
    var prev = 0L
    val rows = sk.sortBy(_.getLong(0)).map { r =>
      union.update(org.apache.datasketches.hll.HllSketch.heapify(
        r.getAs[Array[Byte]](1)))
      val cum = math.round(union.getEstimate)
      val out = (r.getLong(0), cum - prev, cum)
      prev = cum
      out
    }
    rows.toSeq.toDF("batch", "n_new_approx", "cum_approx")
  }

  /** Deterministic stratified k-fold assignment — cross-validation
    * folds from the id hash, so every engine, every re-run, and every
    * node of a 1000-executor cluster assigns the SAME fold without
    * coordination (no RNG, no shuffle for the assignment itself:
    * `fold = stable63(id) mod k`, a narrow projection). Stratification
    * is a property to AUDIT, not enforce: the hash is independent of
    * the stratum, so folds are balanced in expectation, and the audit
    * aggregate this returns alongside per-row assignment
    * ([[kFoldReport]]) is the check.
    *
    * @return input rows + `fold` ∈ [0, k). */
  def kFoldAssign(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 2 && k <= 1000, s"kFoldAssign: k must be in [2, 1000]: $k")
    df.withColumn("fold",
      pmod(graft.functions.StableId63.stableId63(
        col(idCol).cast("string")), lit(k.toLong)))
  }

  /** The fold-balance audit: per (stratum, fold) counts and the fold's
    * share within its stratum — one map-side aggregate over
    * [[kFoldAssign]]'s narrow projection. */
  def kFoldReport(df: DataFrame, idCol: String, stratumCol: String,
                  k: Int): DataFrame = {
    val folded = kFoldAssign(df, idCol, k)
      .select(col(stratumCol).as("stratum"), col("fold"))
      .groupBy(col("stratum"), col("fold"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val totals = folded.groupBy(col("stratum"))
      .agg(sum(col("n")).as("__t"))
    folded.join(totals, Seq("stratum"))
      .withColumn("share",
        round(col("n").cast("double") / col("__t").cast("double"), 6))
      .select(col("stratum"), col("fold"), col("n"), col("share"))
  }

  /** Collocation extraction by pointwise mutual information over
    * DIRECTED adjacent-token events (Church & Hanks 1990): word pairs
    * that co-occur far above chance — multi-word expressions, named
    * entities, domain terms — the phrase inventory a tokenizer or
    * quality pipeline wants to know about. PMI(a→b) =
    * ln(c_ab·N / (c_a·c_b)) where c_a / c_b are the LEFT / RIGHT
    * marginals of the bigram event table and N its total.
    *
    * Exactness: the sort key is the double likelihood ratio (exact
    * integer inputs, correctly-rounded IEEE ops, [[tokenLabelPmi]]'s
    * protocol) — ln only decorates the output. `minCount` kills the
    * hapax pairs whose PMI is degenerately high.
    *
    * Scale shape: one scan → one (a,b)-keyed map-side count; both
    * marginals and N are SECOND-LEVEL aggregates of that result;
    * global top-k is a TakeOrderedAndProject. */
  def collocations(docs: DataFrame, idCol: String, textCol: String,
                   minCount: Long, topK: Int): DataFrame = {
    require(minCount >= 1, s"collocations: minCount must be >= 1: $minCount")
    require(topK >= 1 && topK <= 100000,
      s"collocations: topK must be in [1, 100000]: $topK")
    val tk = TextExprs.tokens(lower(col(textCol)))
    // LAZY checkpoint (r19, the trick of Dedup's convergence loops): the
    // total-count collect right below is the action that materializes
    // the bigram blocks, so checkpoint materialization and the N
    // aggregate share ONE driver job instead of two; every later
    // consumer (both marginals + the join's probe side) reads blocks.
    // tk STAGED as an attribute before the lambda (q154 lesson, r19:
    // the size/element_at captures re-ran the tokenizer per ELEMENT —
    // O(len²) per document)
    val bigrams = docs
      .select(tk.as("__tk"))
      .select(explode(filter(
        transform(col("__tk"), (t, i) =>
          when(i < size(col("__tk")) - 1,
            struct(t.as("a"), element_at(col("__tk"), i + 2).as("b")))),
        p => p.isNotNull)).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .where(col("a") =!= "" && col("b") =!= "")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
      .localCheckpoint(false)
    val left = bigrams.groupBy(col("a")).agg(sum(col("n_ab")).as("n_a"))
    val right = bigrams.groupBy(col("b")).agg(sum(col("n_ab")).as("n_b"))
    // SUM over zero bigram rows is null (corpus empty or all docs
    // single-token) — with n = 0 the joins below are empty, so the
    // result is the empty frame, not an NPE (the apportionBudget
    // isNullAt discipline)
    val nRow = bigrams.agg(sum(col("n_ab"))).collect()(0)
    val n = if (nRow.isNullAt(0)) 0L else nRow.getLong(0)
    // No join hints here (r19 audit): the checkpointed bigram frame
    // PRESERVES its pre-checkpoint stats (Spark 4 LogicalRDD), so the
    // planner already broadcasts both vocab-sized marginals
    // (plans/r19/q221_collocations_before.txt: 2× BroadcastHashJoin) —
    // a shuffle_hash hint would DOWNGRADE them to shuffles.
    bigrams.join(left, Seq("a")).join(right, Seq("b"))
      .where(col("n_ab") >= minCount)
      .withColumn("__r", col("n_ab").cast("double") * n.toDouble /
        (col("n_a").cast("double") * col("n_b").cast("double")))
      .orderBy(col("__r").desc, col("a"), col("b"))
      .limit(topK)
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        round(log(col("__r")), 6).as("pmi"))
  }

  /** Group-wise winsorization: clip a signal at exact per-group
    * permille bounds — the outlier guard that runs BEFORE moments
    * (one pathological 500 MB "document" otherwise owns the group's
    * mean and std, making [[normalizeByGroup]]'s z-scores garbage).
    * Bounds are [[quantilesByKey]]'s exact histogram quantiles (value
    * at the smallest cum ≥ ⌈p·n/1000⌉), so clipping is deterministic
    * and engine-replayable — no approximate percentile sketch
    * anywhere.
    *
    * Scale shape: the quantile pass is histogram-shaped (its own
    * loudly-guarded contract); bounds are ≤ |groups| rows broadcast
    * back; the clip itself is a narrow projection — the corpus never
    * shuffles. Null-key/null-value rows are excluded (the quantile
    * frame has no bound for them — documented, not silent).
    *
    * @return (keyCol, valCol, winsorized, clipped ∈ {low, high,
    *         none}). */
  def winsorizeByGroup(df: DataFrame, keyCol: String, valCol: String,
                       loPermille: Int, hiPermille: Int): DataFrame = {
    require(loPermille >= 1 && hiPermille <= 1000 &&
      loPermille < hiPermille,
      s"winsorizeByGroup: need 1 <= lo < hi <= 1000: " +
        s"$loPermille, $hiPermille")
    val qs = quantilesByKey(df, keyCol, valCol,
      Seq(loPermille, hiPermille))
    val lo = qs.where(col("q_permille") === loPermille)
      .select(col("key"), col("value").as("__lo"))
    val hi = qs.where(col("q_permille") === hiPermille)
      .select(col("key"), col("value").as("__hi"))
    df.where(col(keyCol).isNotNull && col(valCol).isNotNull)
      .select(col(keyCol), col(valCol).cast("long").as(valCol))
      .join(broadcast(lo), col(keyCol) === lo("key")).drop("key")
      .join(broadcast(hi), col(keyCol) === hi("key")).drop("key")
      .withColumn("winsorized",
        when(col(valCol) < col("__lo"), col("__lo"))
          .when(col(valCol) > col("__hi"), col("__hi"))
          .otherwise(col(valCol)))
      .withColumn("clipped",
        when(col(valCol) < col("__lo"), lit("low"))
          .when(col(valCol) > col("__hi"), lit("high"))
          .otherwise(lit("none")))
      .select(col(keyCol), col(valCol), col("winsorized"), col("clipped"))
  }

  /** Group-wise z-score normalization — put a quality signal on a
    * common scale ACROSS domains before a global threshold cuts it
    * (raw length/score distributions differ per source; a global
    * cutoff would otherwise just rank domains). Exactness protocol:
    * per-group moments are exact decimal sums of the quantized
    * integer values; each row's score is the closed form
    * z = (n·x − S) / √(n·SS − S²) — algebraically (x − mean)/σ_pop,
    * but stated as the same short chain of correctly-rounded IEEE ops
    * on exactly-representable aggregates on both engines, so they
    * agree bit-for-bit; rounded at 6. Null z for zero-variance groups
    * (no information, not a fake 0).
    *
    * Scale shape: one map-side-combined aggregate to ≤ |groups| rows,
    * broadcast back over the corpus — the corpus itself never
    * shuffles. Group cardinality is loudly bounded (broadcast-sized).
    *
    * Null contract (the [[winsorizeByGroup]] exclusion discipline):
    * null-group / null-value rows are excluded — from the MOMENTS
    * (a null value would otherwise inflate n while the null-skipping
    * sums miss it, silently corrupting every z in the group) and from
    * the OUTPUT (no moment contract exists for them; the inner
    * broadcast join drops them rather than emitting a fake z).
    *
    * @return complete input rows + `z` (quantization at `scale`
    *         digits, as [[Stats.featureCorrelations]]). */
  def normalizeByGroup(df: DataFrame, groupCol: String, valCol: String,
                       scale: Int = 0, maxGroups: Int = 1000000): DataFrame = {
    require(scale >= 0 && scale <= 9,
      s"normalizeByGroup: scale must be in [0, 9]: $scale")
    val factor = math.pow(10.0, scale)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val q = floor(col(valCol).cast("double") * factor).cast("long")
    val complete =
      df.where(col(groupCol).isNotNull && col(valCol).isNotNull)
    val moments = complete
      .select(col(groupCol).as("__g"), q.cast(d38).as("__q"))
      .groupBy(col("__g"))
      .agg(count(lit(1)).as("__n"), sum(col("__q")).as("__s"),
        sum(col("__q") * col("__q")).as("__ss"))
      // LAZY: the guard count below materializes the moments — one
      // driver job for checkpoint + guard instead of two (r19)
      .localCheckpoint(false)
    val nGroups = moments.count()
    require(nGroups <= maxGroups,
      s"normalizeByGroup: $nGroups groups exceeds broadcast bound " +
        s"$maxGroups — raise deliberately or pre-bucket the group column")
    val n = col("__n").cast("double")
    val s = col("__s").cast("double")
    val ss = col("__ss").cast("double")
    val den = sqrt(n * ss - s * s)
    complete.join(broadcast(moments), complete(groupCol) === moments("__g"))
      .withColumn("z",
        when(den === 0.0, lit(null).cast("double"))
          .otherwise(round((n * q.cast("double") - s) / den, 6)))
      .select(df.columns.map(col) :+ col("z"): _*)
  }

  /** Weighted systematic sampling — draw ~`k` rows with inclusion
    * probability proportional to an integer weight (quality score,
    * token count), DETERMINISTICALLY (Madow & Madow, "On the theory of
    * systematic sampling", Ann. Math. Stat. 1944 — public literature;
    * the classic PPS-systematic design, with the random start replaced
    * by a fixed origin so re-runs and engines agree). Rows are laid on
    * a line in id order, each occupying its weight; a point every
    * `stride = max(1, W DIV k)` units selects the row under it. Heavy
    * rows can cover several points — `multiplicity` reports how many
    * (an upsampling signal, same contract as [[upsampleToQuota]]);
    * zero-weight rows are never selected.
    *
    * All arithmetic is exact integer (cumulative long sums, floor
    * divisions) — no RNG, no floats, engine-portable by construction.
    *
    * Scale shape: the global prefix sum is ONE range exchange on the
    * id + a per-partition window (never a single-partition global
    * window) + per-partition totals collected as bounded driver state
    * (one long per partition — [[graft.operators.Upsert.withSurrogateKeys]]'
    * offset discipline) broadcast back as start offsets.
    *
    * @param df ids must be unique (sampling frame identity); equal-id
    *           rows would make the prefix order ambiguous
    * @return (idCol, weightCol, multiplicity) for selected rows. */
  def weightedSystematicSample(df: DataFrame, idCol: String,
                               weightCol: String, k: Int): DataFrame = {
    require(k >= 1, s"weightedSystematicSample: k must be >= 1: $k")
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).cast("long").as("__id"),
        col(weightCol).cast("long").as("__w"))
      // LAZY: the weight-total collect below materializes the snapshot
      // (one driver job for checkpoint + guard instead of two, r19)
      .localCheckpoint(false)
    val t = base.agg(sum(col("__w")), min(col("__w"))).collect()(0)
    require(!t.isNullAt(0) && t.getLong(0) >= 1,
      "weightedSystematicSample: total weight must be >= 1")
    require(t.getLong(1) >= 0,
      s"weightedSystematicSample: negative weight ${t.getLong(1)}")
    val stride = math.max(1L, t.getLong(0) / k)
    val parts = base.repartitionByRange(col("__id"))
      .withColumn("__pid", spark_partition_id())
      // LAZY: the per-partition offset collect below materializes it
      .localCheckpoint(false)
    var acc = 0L
    val offsets = parts.groupBy(col("__pid")).agg(sum(col("__w")).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
      .map { case (pid, s) => val o = acc; acc += s; (pid, o) }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__pid")).orderBy(col("__id"), col("__w"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    parts
      .join(broadcast(offsets.toSeq.toDF("__pid", "__off")), Seq("__pid"))
      .withColumn("__cum", col("__off") + sum(col("__w")).over(w))
      .withColumn("multiplicity",
        expr(s"__cum DIV ${stride}L - (__cum - __w) DIV ${stride}L"))
      .where(col("multiplicity") >= 1)
      .select(col("__id").as(idCol), col("__w").as(weightCol),
        col("multiplicity"))
  }

  /** Token↔label pointwise mutual information — the feature-selection
    * table behind a bag-of-words quality/language classifier (Church &
    * Hanks, "Word Association Norms, Mutual Information, and
    * Lexicography", CL 1990 — public literature): which tokens are
    * most over-represented in each label's documents. PMI(t, l) =
    * ln(P(t,l) / (P(t)·P(l))) over document PRESENCE (a doc counts a
    * token once — burstiness would otherwise let one spammy doc crown
    * a token).
    *
    * Exactness protocol: the selection ORDER KEY is the raw likelihood
    * ratio `(double(n_both)·N) / (double(n_token)·n_label)` — every
    * step a correctly-rounded IEEE op on exactly-representable integer
    * inputs, stated in the same shape on both engines (doubles, not
    * integer products, so the protocol survives counts past 2^53·/N
    * overflow territory), so top-k membership and order are engine-
    * portable with NO transcendental in the sort; ln() touches only
    * the REPORTED pmi, rounded at 6.
    *
    * Scale shape: one explode + one composite-key dedup shuffle
    * (presence), one (token,label) count-aggregate; n_token is a
    * SECOND-LEVEL aggregate over that result (each doc has one label —
    * never re-scans the corpus); label totals are a broadcast-sized
    * frame collected to the driver (bounded by |labels|). Top-k per
    * label through the native bounded-heap TopKPerKey when installed,
    * window fallback otherwise.
    *
    * @return (label, token, n_both, n_token, n_label, pmi, rank) —
    *         top `topK` per label by (ratio desc, token). */
  def tokenLabelPmi(docs: DataFrame, idCol: String, textCol: String,
                    labelCol: String, minBoth: Long, topK: Int): DataFrame = {
    require(minBoth >= 1, s"tokenLabelPmi: minBoth must be >= 1: $minBoth")
    require(topK >= 1 && topK <= 100000,
      s"tokenLabelPmi: topK must be in [1, 100000]: $topK")
    val pairs = docs
      .select(col(idCol).as("__id"),
        col(labelCol).cast("string").as("label"),
        explode(TextExprs.tokens(lower(col(textCol)))).as("token"))
      .where(col("token") =!= "")
      .dropDuplicates("__id", "label", "token")
    val ctl = pairs.groupBy(col("token"), col("label"))
      .agg(count(lit(1)).as("n_both"))
      .localCheckpoint()
    val ct = ctl.groupBy(col("token")).agg(sum(col("n_both")).as("n_token"))
    val labelCounts = docs
      .groupBy(col(labelCol).cast("string").as("label"))
      .agg(count(lit(1)).as("n_label"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    require(labelCounts.length <= 100000,
      s"tokenLabelPmi: ${labelCounts.length} labels — label cardinality " +
        "must stay broadcast-sized; bucket the label column first")
    val n = labelCounts.map(_._2).sum
    val spark = docs.sparkSession
    import spark.implicits._
    val cl = labelCounts.toSeq.toDF("label", "n_label")
    val scored = ctl.join(ct, Seq("token")).join(broadcast(cl), Seq("label"))
      .where(col("n_both") >= minBoth)
      .withColumn("__r", col("n_both").cast("double") * n.toDouble /
        (col("n_token").cast("double") * col("n_label").cast("double")))
    val native = scored.sparkSession.sessionState.planner.strategies
      .contains(graft.plans.TopKStrategy)
    val ranked =
      if (native)
        graft.plans.TopK.perKey(scored, Seq("label"),
          Seq(graft.plans.TopK.Sort("__r", desc = true),
            graft.plans.TopK.Sort("token")), topK)
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("label")).orderBy(col("__r").desc, col("token"))
        scored.withColumn("rank", row_number().over(w))
          .where(col("rank") <= topK)
      }
    ranked.select(col("label"), col("token"), col("n_both"), col("n_token"),
      col("n_label"), round(log(col("__r")), 6).as("pmi"), col("rank"))
  }

  /** Domain-mixing sampler: downsample each domain toward a target DOCUMENT
    * quota (the "30% web / 30% code / 40% books" mixing spec), deterministic.
    * Unlike [[stratifiedSample]] (fixed per-stratum RATES), the rate here is
    * DERIVED from the corpus — keep a doc iff its 63-bit md5-derived key
    * lands under ⌊quota_d·2^63/count_d⌋ — so the output lands near quota
    * docs per domain however the corpus is distributed, and a re-run after
    * the corpus grows re-targets automatically. Domains absent from
    * `quotas` drop: the mixing spec is the whitelist.
    *
    * The threshold is 63-bit, NOT permille: a permille floor zeroes any
    * quota under count/1000 ("50 docs from a 1M-doc domain" selects
    * nothing), while ⌊quota·2^63/count⌋ resolves rates down to 2^-63.
    * It is computed on the driver in exact BigInt arithmetic (no float
    * rounding; engine-portable — the oracle's HUGEINT division is the
    * same integer floor), from one lean count aggregate whose result is
    * ≤ |quotas| rows: the same bounded driver state as the mixing spec
    * itself. The keep test is a narrow when-chain filter in the scan —
    * no join, no shuffle, no RNG (PlanShapeSpec-gated). */
  def mixToQuotas(df: DataFrame, idCol: String, domainCol: String,
                  quotas: Map[String, Long]): DataFrame = {
    require(quotas.nonEmpty, "empty mixing spec")
    quotas.foreach { case (dom, q) =>
      require(q >= 0, s"negative quota for '$dom': $q") }
    val doms = quotas.keys.toSeq
    // keep the RAW domain value for the filter literals (a numeric source
    // id column compares against a same-typed lit, not a string), and
    // match quotas by its string form — the spec is human-written strings
    val counts = df.where(col(domainCol).isin(doms: _*))
      .groupBy(col(domainCol)).agg(count(lit(1)).as("__cnt"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    quotaKeep(df, idCol, domainCol, counts,
      dom => quotas(String.valueOf(dom)))
  }

  /** The quota-mixing keep test shared by [[mixToQuotas]] and
    * [[mixByTemperature]]: per-domain 63-bit threshold
    * ⌊quota·2^63/count⌋ over the stable id key, attached via
    * [[DomainLookup.attach]] — a narrow when-chain at hand-written spec
    * sizes, a broadcast lookup join above the threshold; no shuffle, no
    * RNG either way. Domains outside `counts` yield null attributes,
    * which the keep predicate treats as drop (the spec is the
    * whitelist). */
  private def quotaKeep(df: DataFrame, idCol: String, domainCol: String,
                        counts: Map[Any, Long],
                        quotaOf: Any => Long): DataFrame = {
    val rows = counts.toSeq.map { case (dom, cnt) =>
      val q = quotaOf(dom)
      // over-ask keeps the whole domain; otherwise
      // floor(quota * 2^63 / count) < 2^63 — fits a signed long
      val thr: Any = if (q >= cnt) null else ((BigInt(q) << 63) / cnt).toLong
      (dom, Seq[Any](q >= cnt, thr))
    }
    DomainLookup.attach(df, col(domainCol), df.schema(domainCol).dataType,
        rows, Seq(("__keepAll", org.apache.spark.sql.types.BooleanType),
          ("__thr", org.apache.spark.sql.types.LongType)))
      // null __keepAll/__thr (unlisted domain) -> false || null = null -> drop
      .where(coalesce(col("__keepAll"), lit(false)) ||
        (StableId63.stableId63(col(idCol).cast("string")) < col("__thr")))
      .drop("__keepAll", "__thr")
  }

  /** Temperature-scaled domain mixing (the multilingual-sampling rule of
    * Conneau & Lample, "Cross-lingual Language Model Pretraining", 2019):
    * sample domain d toward share s_d ∝ (count_d/total)^(1/T). T=1 keeps
    * the corpus' natural proportions; T>1 flattens toward uniform,
    * up-weighting low-resource domains; T<1 sharpens toward the head.
    * `targetDocs` scales the shares into per-domain document quotas
    * (capped at the domain's own count), which then select via the same
    * deterministic 63-bit keep test as [[mixToQuotas]] — so a larger
    * target keeps a strict superset, and re-runs after corpus growth
    * re-derive the mix automatically.
    *
    * Engine portability: float arithmetic appears ONLY in pow(share,
    * 1/T), immediately rounded half-up to 6 decimals into integer micro
    * weights (the q87 micro-unit rule); normalization and the
    * quota split stay in exact BigInt arithmetic, because a float Σw
    * would depend on engine summation order. Driver state is one count
    * row per domain; the returned plan is a narrow filter — no join, no
    * shuffle, no RNG. Σquota can undershoot targetDocs by < |domains|
    * (floor loss) plus any mass capped at count_d. */
  def mixByTemperature(df: DataFrame, idCol: String, domainCol: String,
                       temperature: Double, targetDocs: Long): DataFrame = {
    require(temperature > 0.0 && !temperature.isInfinite,
      s"temperature must be finite and > 0: $temperature")
    require(targetDocs >= 0L, s"negative targetDocs: $targetDocs")
    val counts = df.where(col(domainCol).isNotNull)
      .groupBy(col(domainCol)).agg(count(lit(1)).as("__cnt"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    if (counts.isEmpty || targetDocs == 0L) return df.limit(0)
    val total = counts.values.sum
    val micro: Map[Any, Long] = counts.map { case (dom, c) =>
      dom -> (BigDecimal(Math.pow(c.toDouble / total.toDouble,
          1.0 / temperature))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP)
        * BigDecimal(1000000L)).toLongExact
    }
    val sumMicro = micro.values.map(BigInt(_)).sum
    require(sumMicro > 0,
      s"every temperature weight rounded to zero at T=$temperature — " +
        "the 6-decimal micro-weight contract cannot express this mix")
    val quotas: Map[Any, Long] = counts.map { case (dom, c) =>
      dom -> ((BigInt(targetDocs) * micro(dom)) / sumMicro)
        .min(BigInt(c)).toLong
    }
    quotaKeep(df, idCol, domainCol, counts, quotas)
  }

  /** Upsampling by replication — the half of the mixing problem
    * [[mixToQuotas]] can't reach: a quota ABOVE a domain's count
    * replicates every doc ⌊quota/count⌋ times (tagged with an `epoch`
    * column, 0-based, so the training loader can interleave epochs) and
    * fills the remainder with one partial epoch selected by the same
    * deterministic 63-bit threshold. Quotas below the count degrade to
    * exactly [[mixToQuotas]]'s behavior (zero full epochs, one partial).
    * Domains absent from `quotas` drop; output size per domain lands at
    * ~quota docs. Selection is quota-monotone: raising a quota only adds
    * (doc, epoch) rows, never churns existing ones.
    *
    * Scale shape: the count aggregate is one lean job (≤ |quotas| rows
    * of driver state); the replication itself is a narrow
    * explode(sequence(0, n-1)) in the scan — no join, no shuffle, and
    * the fan-out is exactly the requested oversampling factor, applied
    * where the data lives rather than in the loader. */
  def upsampleToQuota(df: DataFrame, idCol: String, domainCol: String,
                      quotas: Map[String, Long],
                      maxReplication: Long = 1000L): DataFrame = {
    require(quotas.nonEmpty, "empty upsampling spec")
    require(maxReplication >= 1, s"maxReplication must be >= 1: $maxReplication")
    quotas.foreach { case (dom, q) =>
      require(q >= 0, s"negative quota for '$dom': $q") }
    val doms = quotas.keys.toSeq
    val counts = df.where(col(domainCol).isin(doms: _*))
      .groupBy(col(domainCol)).agg(count(lit(1)).as("__cnt"))
      .collect().map(r => r.get(0) -> r.getLong(1)).toMap
    // the fan-out bound is ENFORCED: a quota orders of magnitude above a
    // domain's count means a mis-sized spec (or a collapsed domain), and
    // silently exploding count×10^6 rows is the wrong way to find out
    counts.foreach { case (dom, cnt) =>
      val q = quotas(String.valueOf(dom))
      require(q / cnt <= maxReplication,
        s"upsampleToQuota: domain '$dom' would replicate ${q / cnt}× " +
          s"(quota $q over $cnt docs) > maxReplication=$maxReplication — " +
          "raise maxReplication deliberately if this oversampling is intended") }
    // per-domain (full epochs, partial-epoch threshold), exact integers;
    // attached narrow (chain) or via broadcast lookup (DomainLookup)
    val key = StableId63.stableId63(col(idCol).cast("string"))
    val rows = counts.toSeq.map { case (dom, cnt) =>
      val q = quotas(String.valueOf(dom))
      val rem = q % cnt
      val thr: Any = if (rem == 0L) null else ((BigInt(rem) << 63) / cnt).toLong
      (dom, Seq[Any]((q / cnt).toInt, thr))
    }
    DomainLookup.attach(df, col(domainCol), df.schema(domainCol).dataType,
        rows, Seq(("__full", org.apache.spark.sql.types.IntegerType),
          ("__uthr", org.apache.spark.sql.types.LongType)))
      .withColumn("__n", coalesce(
        col("__full") +
          when(col("__uthr").isNotNull && key < col("__uthr"), 1).otherwise(0),
        lit(0)))
      .where(col("__n") > 0)
      .withColumn("epoch", explode(sequence(lit(0), col("__n") - 1)))
      .drop("__n", "__full", "__uthr")
  }

  /** Exact-count domain quotas: [[mixToQuotas]] lands NEAR its quota (a
    * rate-based narrow filter — binomial spread around the target); this
    * variant selects EXACTLY min(quota_d, count_d) docs per domain,
    * deterministically, ordered by the same engine-portable 63-bit key
    * (id as tie-break). Because the selection order is a fixed hash, a
    * larger quota keeps a strict superset — retuning the mix never churns
    * already-selected docs, same as the rate variant.
    *
    * The per-domain top-k runs on the [[graft.plans.TopK]] custom
    * physical operator: bounded per-(task, domain) heaps BEFORE the
    * exchange, so each partial task emits ≤ |domains|·maxQuota rows (the
    * exchange as a whole carries ≤ tasks·|domains|·maxQuota — still
    * independent of corpus size) and no domain ever sorts its full
    * corpus — the plan a per-domain row_number window could not produce.
    * Heap memory per (task, domain) grows to min(rows seen, maxQuota):
    * use the rate variant for rate-scale quotas, this one when the
    * mixing spec must be met exactly. Domains absent from `quotas` drop
    * (the spec is the whitelist). */
  def mixToQuotasExact(df: DataFrame, idCol: String, domainCol: String,
                       quotas: Map[String, Long],
                       maxExactQuota: Long = 10000000L): DataFrame = {
    require(quotas.nonEmpty, "empty mixing spec")
    require(maxExactQuota >= 1, s"maxExactQuota must be >= 1: $maxExactQuota")
    quotas.foreach { case (dom, q) =>
      require(q >= 0, s"negative quota for '$dom': $q")
      // the heap bound is ENFORCED, not just documented: each (task,
      // domain) heap grows to min(rows seen, quota), so a 10^9 quota
      // means a ~2-billion-row heap per task — raise maxExactQuota only
      // when that memory is deliberate
      require(q <= math.min(maxExactQuota, Int.MaxValue.toLong),
        s"quota for '$dom' is $q > maxExactQuota=$maxExactQuota — exact " +
          "selection holds a per-(task, domain) heap of quota rows; use " +
          "mixToQuotas for rate-scale quotas, or raise maxExactQuota " +
          "deliberately (hard cap Int.MaxValue)") }
    val maxQ = quotas.values.max
    if (maxQ == 0L) return df.limit(0)
    val doms = quotas.keys.toSeq
    val keyed = df.where(col(domainCol).isin(doms: _*))
      .withColumn("__mixkey", StableId63.stableId63(col(idCol).cast("string")))
    val ranked = graft.plans.TopK.perKey(keyed, Seq(domainCol),
      Seq(graft.plans.TopK.Sort("__mixkey"),
        graft.plans.TopK.Sort(idCol)),
      maxQ.toInt, "__mixrank")
    DomainLookup.attach(ranked, col(domainCol).cast("string"),
        org.apache.spark.sql.types.StringType,
        quotas.toSeq.map { case (dom, q) => (dom: Any, Seq[Any](q)) },
        Seq(("__quota", org.apache.spark.sql.types.LongType)))
      .where(col("__mixrank") <= coalesce(col("__quota"), lit(0L)))
      .drop("__mixkey", "__mixrank", "__quota")
  }

  /** Quality-ordered token-budget selection: within each domain take
    * documents in (`orderCol` DESC, `idCol`) order until `budget` tokens
    * are reached — a doc is kept iff the tokens BEFORE it are under budget
    * (the greedy prefix; the budget may overshoot by at most one document).
    * The "fill each domain's slice of the training mix" primitive when the
    * budget is tokens, not documents ([[mixToQuotas]]).
    *
    * The naive formulation — a running token sum over
    * `Window.partitionBy(domain)` — serializes each domain through ONE
    * task (tens of TB per task when a training mix has 5–20 domains), so
    * this uses the [[ntileBuckets]] histogram protocol instead:
    *
    *  1. per-(domain, order value) token sums — one lean aggregate (the
    *     histogram; two 8-byte columns per row, never text);
    *  2. a per-domain cumulative over that AGGREGATED frame locates each
    *     domain's boundary order value: the first group (best first) whose
    *     cumulative token count crosses the budget. Groups before it are
    *     wholly kept, groups after wholly dropped;
    *  3. the boundary groups' rows (one order value per domain — a literal
    *     filter that pushes to the scan) are resolved exactly with a
    *     running sum over only those rows, yielding one cut id per domain.
    *     Both collects are ≤ |domains| rows — bounded driver state, never
    *     data;
    *  4. the RETURNED plan is scan → n_tokens → when-chain filter: narrow,
    *     zero exchanges, no Window, no Sort over the base docs
    *     (PlanShapeSpec-gated).
    *
    * Skew note (same as [[ntileBuckets]]): step 2's window scans each
    * domain's distinct order values in one task — fine for discrete keys
    * (lengths, scores at fixed precision); bin a continuous key first.
    * `maxDistinct` guards that contract the same way ntileBuckets' does:
    * a continuous-valued order key makes |histogram| ≈ |rows| and would
    * silently rebuild the serialized scan this protocol exists to avoid.
    * Null order values sort last (both engines' DESC default). */
  def selectToTokenBudget(docs: DataFrame, domainCol: String, idCol: String,
                          textCol: String, orderCol: String,
                          budget: Long, maxDistinct: Long = 1000000L): DataFrame = {
    require(budget > 0, "budget must be positive")
    // null text counts as 0 tokens, EXPLICITLY: a null n_tokens would
    // silently vanish from the histogram sums yet survive the keep
    // filter in wholly-kept groups (and in the window formulation this
    // replaces, a null poisons the running sum and drops every later
    // row of its domain) — coalescing pins one semantics for both
    val withTok = docs.withColumn("n_tokens",
      coalesce(TextExprs.tokenCount(col(textCol)).cast("long"), lit(0L)))
    val hist = withTok
      .groupBy(col(domainCol).as("__dom"), col(orderCol).as("__v"))
      .agg(sum(col("n_tokens")).as("__gsum"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bounds = try {
      val nDistinct = hist.count()
      require(nDistinct <= maxDistinct,
        s"selectToTokenBudget: $nDistinct distinct ($domainCol, $orderCol) " +
          s"groups exceed maxDistinct=$maxDistinct — the per-domain " +
          "cumulative would serialize through one task; bin the order key " +
          "(round it to a fixed precision) or raise maxDistinct deliberately")
      val cumW = Window.partitionBy(col("__dom")).orderBy(col("__v").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // ≤ one boundary row per domain: __cum_start < budget <= __cum_end
      hist
        .withColumn("__cum_end", sum(col("__gsum")).over(cumW))
        .withColumn("__cum_start", col("__cum_end") - col("__gsum"))
        .where(col("__cum_start") < budget && col("__cum_end") >= budget)
        .select(col("__dom"), col("__v"), col("__cum_start"))
        .collect()
    } finally hist.unpersist(blocking = false)
    // boundary attributes ride DomainLookup (null-SAFE domain matches
    // throughout: a null domain is its own partition in the window
    // formulation this replaces, and a null-unsafe === would silently
    // exempt it from the budget): a narrow when-chain at hand-written
    // mix sizes, a broadcast lookup join above the threshold — either
    // way no exchange lands on the corpus side
    val domType = withTok.schema(domainCol).dataType
    val orderType = withTok.schema(orderCol).dataType
    val idType = withTok.schema(idCol).dataType
    // exact cut inside each boundary group: the first row in id order has
    // prior = __cum_start < budget, so every boundary domain keeps >= 1 row
    // and the kept set is the id-prefix ending at __cut
    val cutIds: Map[Any, Any] =
      if (bounds.isEmpty) Map.empty
      else {
        val wb = Window.partitionBy(col(domainCol)).orderBy(col(idCol))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        DomainLookup.attach(withTok, col(domainCol), domType,
            bounds.toSeq.map(r =>
              (r.get(0), Seq[Any](r.get(1), r.getLong(2), true))),
            Seq(("__bv", orderType),
              ("__bstart", org.apache.spark.sql.types.LongType),
              ("__bm", org.apache.spark.sql.types.BooleanType)))
          .where(coalesce(col("__bm"), lit(false)) &&
            (col(orderCol) <=> col("__bv")))
          .withColumn("__prior",
            col("__bstart") + sum(col("n_tokens")).over(wb) - col("n_tokens"))
          .where(col("__prior") < budget)
          .groupBy(col(domainCol)).agg(max(col(idCol)).as("__cut"))
          .collect().map(r => (r.get(0), r.get(1))).toMap
      }
    if (bounds.isEmpty) withTok
    else DomainLookup.attach(withTok, col(domainCol), domType,
        bounds.toSeq.map { r =>
          (r.get(0), Seq[Any](r.get(1), cutIds.getOrElse(r.get(0), null), true))
        },
        Seq(("__bv", orderType), ("__bcut", idType),
          ("__bm", org.apache.spark.sql.types.BooleanType)))
      // groups strictly better than the boundary value are wholly kept
      // (a null boundary — nulls sort last — keeps every non-null group);
      // the boundary group keeps the id-prefix; unlisted domains keep all
      .where(when(coalesce(col("__bm"), lit(false)),
          when(col("__bv").isNull, col(orderCol).isNotNull)
            .otherwise(col(orderCol) > col("__bv")) ||
          ((col(orderCol) <=> col("__bv")) && col(idCol) <= col("__bcut")))
        .otherwise(lit(true)))
      .drop("__bv", "__bcut", "__bm")
  }

  /** Deterministic corpus shuffle: the reproducible global reordering a
    * training run needs (decorrelate adjacent source documents) WITHOUT an
    * RNG or a global sort. Each row's md5-derived key assigns a shard
    * (`pmod(key, numShards)`) and its rank within the shard
    * (`row_number` ordered by (key, id)); reading shards 0..n-1 in pos
    * order replays the identical permutation on any engine, any cluster
    * size, any day.
    *
    * One exchange on the shard id; each shard sorts independently, so
    * `numShards` is the parallelism unit — size it like shuffle
    * partitions (a few × cores at 100 TB), never 1 (that would be the
    * global sort this operator exists to avoid). */
  def deterministicShuffle(df: DataFrame, idCol: String,
                           numShards: Int): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1: $numShards")
    val key = StableId63.stableId63(col(idCol).cast("string"))
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("__key"), col(idCol))
    df.withColumn("__key", key)
      .withColumn("shard", pmod(col("__key"), lit(numShards)).cast("int"))
      .withColumn("pos", row_number().over(w))
      .drop("__key")
  }

  /** Sliding-window token chunking: cut each document into `chunk`-token
    * windows starting every `stride` tokens (overlap = chunk - stride) —
    * the context-window prep step before packing/training. Start offsets
    * are 0, stride, 2·stride, … while they land inside the document, so
    * the tail chunk may be short; empty docs emit nothing.
    *
    * NARROW (zero shuffles, no UDF), and — crucially — ROW-WIDTH BOUNDED:
    * chunking directly would materialize a doc's token array plus ALL its
    * overlapping chunks in one row before the explode (~chunk/stride ×
    * amplification on a 100 MB document). Instead the token array is first
    * cut into fixed-width SEGMENTS of `chunksPerSegment` chunks each
    * (segment width = (chunksPerSegment-1)·stride + chunk tokens, adjacent
    * segments overlapping by chunk-stride so every chunk is contained in
    * exactly one segment) and exploded; the widest row ever built is
    * tokens + segments ≈ 2× the doc. Chunks are then cut WITHIN each
    * exploded segment, whose width is a constant independent of document
    * size. Output is byte-identical for any `chunksPerSegment`. */
  def chunkDocs(docs: DataFrame, idCol: String, textCol: String,
                chunk: Int, stride: Int, chunksPerSegment: Int = 64): DataFrame = {
    require(chunk >= 1, s"chunk must be >= 1: $chunk")
    require(stride >= 1, s"stride must be >= 1: $stride")
    require(chunksPerSegment >= 1,
      s"chunksPerSegment must be >= 1: $chunksPerSegment")
    val segTok = (chunksPerSegment - 1) * stride + chunk // tokens per segment
    val segStride = chunksPerSegment.toLong * stride     // start-to-start gap
    docs
      .where(trim(col(textCol)) =!= "") // also rejects null text
      .select(col(idCol), TextExprs.tokens(col(textCol)).as("__tk"))
      // stage 1: explode bounded-width segments (row ≈ 2× doc, then 1 seg)
      .select(col(idCol),
        posexplode(expr(
          s"""transform(sequence(0, cast(floor((size(__tk) - 1) / $segStride) as int)),
              i -> slice(__tk, cast(i * $segStride + 1 as int), $segTok))"""))
          .as(Seq("__seg_idx", "__seg")))
      // stage 2: chunk within the segment; starts past chunksPerSegment-1
      // belong to the NEXT segment (overlap region) and are dropped
      .select(col(idCol), col("__seg_idx"),
        posexplode(expr(
          s"""transform(sequence(0, cast(floor((size(__seg) - 1) / $stride) as int)),
              i -> array_join(slice(__seg, i * $stride + 1, $chunk), ' '))"""))
          .as(Seq("__in_idx", "chunk_text")))
      .where(col("__in_idx") < chunksPerSegment)
      .select(col(idCol),
        (col("__seg_idx").cast("long") * chunksPerSegment + col("__in_idx"))
          .cast("int").as("chunk_idx"),
        TextExprs.tokenCount(col("chunk_text")).cast("long").as("n_tokens"),
        col("chunk_text"))
  }

  /** Sentence-ish segmentation: split on terminal-punctuation runs
    * (`[.!?]+`), keep the original split position as the segment index,
    * drop whitespace-only fragments AFTER indexing (so indices are stable
    * whether or not a doc ends in punctuation). The unit-of-text operator
    * under span dedup, per-sentence quality scoring, and seq2seq pair
    * mining. Narrow (explode only — no shuffle); output order is
    * (doc, seg_idx) recoverable, never relied upon. */
  def sentenceSegments(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        posexplode(split(col(textCol), "[.!?]+")).as(Seq("seg_idx", "__raw")))
      .select(col(idCol), col("seg_idx"), trim(col("__raw")).as("seg"))
      .where(length(col("seg")) > 0)
      .select(col(idCol), col("seg_idx"), col("seg"),
        TextExprs.tokenCount(col("seg")).cast("long").as("n_tokens"))

  /** Corpus-wide segment dedup (the C4/CCNet "drop duplicated lines
    * across the whole corpus" pass): segment every document with
    * [[sentenceSegments]], keep only the globally FIRST occurrence of
    * each distinct segment (first = minimal `(doc id, seg_idx)` — a total
    * order, so the survivor set is deterministic on any cluster), and
    * reassemble each document from its surviving segments in original
    * order. Documents whose every segment is a repeat disappear from the
    * output (their reassembled text would be empty).
    *
    * Scale shape: the WINNER decision shuffles only
    * `(16-byte md5 fingerprint, id, seg_idx)` — segment text stays out of
    * the vote. Text then moves exactly twice, both unavoidable for an
    * operator whose OUTPUT is rewritten text: once joining survivors back
    * to their content, once regrouping kept segments by document. No
    * window/sort over the corpus — the reassembly orders only within one
    * document's collected segment array (bounded by doc length). */
  def dedupSegmentsGlobal(docs: DataFrame, idCol: String, textCol: String,
                          sep: String = ". "): DataFrame = {
    val segs = sentenceSegments(docs, idCol, textCol)
      .withColumn("__fp", TextExprs.fingerprint(col("seg")))
    val winners = segs
      .groupBy(col("__fp"))
      .agg(min(struct(col(idCol), col("seg_idx"))).as("__w"))
      .select(col("__fp").as("__wfp"),
        col("__w").getField(idCol).as("__wid"),
        col("__w").getField("seg_idx").as("__widx"))
    segs
      .join(winners,
        segs("__fp") === col("__wfp") &&
          segs(idCol) === col("__wid") &&
          segs("seg_idx") === col("__widx"))
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
            s => s.getField("seg")),
          sep).as("text_dedup"),
        count(lit(1)).as("n_kept"),
        sum(col("n_tokens")).as("n_tokens_kept"))
  }

  /** Corpus-wide exact-substring dedup (Lee, Ippolito, Nystrom, Zhang,
    * Eck, Callison-Burch & Carlini, "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499 — public literature):
    * remove every duplicated token span of at least `minTokens`
    * whitespace tokens ANYWHERE in the corpus. Survivors are chosen
    * PER WINDOW: each duplicated L-window keeps exactly its first
    * occurrence (minimal (doc id, position) — a total order, so the
    * survivor set is deterministic on any cluster). For a long
    * duplicated span this is WEAKER than the suffix-array guarantee of
    * one intact copy of the whole span: when a sub-window of the span
    * also occurs EARLIER in some third document, that sub-window's
    * range is removed from the span's own first occurrence too, so no
    * intact copy of the longer span may survive — every duplicated
    * window keeps one occurrence somewhere, but possibly spread across
    * documents. (The tests and the q251 oracle encode exactly this
    * window-level semantics.) Where
    * [[dedupSegmentsGlobal]] is sentence-aligned (the C4 line pass),
    * this catches duplicated spans that cross sentence boundaries or
    * start mid-sentence — the boilerplate/quotation shape the paper
    * measures.
    *
    * Window-hash formulation instead of the paper's suffix array
    * (which is a single-machine structure): every length-`minTokens`
    * token window is fingerprinted (md5 over the space-joined window —
    * engine-portable, collision odds negligible), a window hash seen
    * at ≥ 2 positions marks every NON-FIRST occurrence's token range
    * for removal, and each document reassembles from its surviving
    * tokens. Any duplicated span of length ≥ `minTokens` contains only
    * duplicated windows, so its non-first copies are fully removed.
    * Whitespace is normalized to single spaces in the output (tokens
    * are the unit, exactly as in the paper).
    *
    * Returns every input document as (idCol, text_dedup, n_removed):
    * `text_dedup` may be empty when a document was entirely duplicated
    * spans; `n_removed` counts removed tokens.
    *
    * Scale shape (100 TB): the winner vote shuffles only (16-byte
    * hash, id, pos) per window — corpus-token-sized, same class as
    * [[dedupSegmentsGlobal]]'s fingerprint shuffle; a hyper-duplicated
    * boilerplate window is a hot hash key whose min/count aggregate
    * combines map-side. Text moves twice (unavoidable for an operator
    * whose output is rewritten text). Per-doc removal intervals are
    * MERGED (sorted fold) before the coverage filter, so a heavily
    * duplicated document costs O(tokens · disjoint-intervals), not
    * O(tokens · duplicated-windows). */
  def dedupSubstringsGlobal(docs: DataFrame, idCol: String, textCol: String,
                            minTokens: Int = 50): DataFrame = {
    require(minTokens >= 2, s"dedupSubstringsGlobal: minTokens < 2: $minTokens")
    val L = minTokens
    val base = docs.select(col(idCol), tokenArray(textCol).as("__toks"))
    val windows = tokenWindows(base, idCol, L).localCheckpoint()
    val winners = windows.groupBy(col("__h"))
      .agg(count(lit(1)).as("__c"),
        min(struct(col(idCol), col("__pos"))).as("__win"))
      .where(col("__c") >= 2)
      .select(col("__h"),
        col("__win").getField(idCol).as("__wid"),
        col("__win").getField("__pos").as("__wpos"))
    // non-first occurrences' token ranges, merged per doc
    val intervals = mergedIntervals(
      windows.join(winners, Seq("__h"))
        .where(!(col(idCol) === col("__wid") && col("__pos") === col("__wpos"))),
      idCol, L)
    removeCovered(base, intervals, idCol, "text_dedup", "n_removed")
  }

  /** Whitespace token array (empty tokens dropped — the paper's unit;
    * output text is reassembled with single spaces). */
  private def tokenArray(textCol: String): Column =
    filter(split(col(textCol), "\\s+"), t => length(t) > 0)

  /** Every length-`L` token window of a (idCol, __toks) frame as
    * (idCol, __pos, __h) — md5 over the space-joined window, the
    * engine-portable span fingerprint. Docs shorter than L emit none. */
  private def tokenWindows(base: DataFrame, idCol: String, L: Int): DataFrame =
    base.where(size(col("__toks")) >= L)
      .select(col(idCol), explode(transform(
        sequence(lit(0), size(col("__toks")) - lit(L)),
        i => struct(i.as("pos"),
          md5(concat_ws(" ", slice(col("__toks"), i + 1, lit(L))))
            .as("h")))).as("__w"))
      .select(col(idCol), col("__w.pos").as("__pos"), col("__w.h").as("__h"))

  /** Per-doc merged [s, e] token intervals of a window frame — sorted
    * fold over overlapping-or-adjacent ranges, so downstream coverage
    * checks cost O(tokens · disjoint-intervals). */
  private def mergedIntervals(windowRows: DataFrame, idCol: String,
                              L: Int): DataFrame =
    windowRows
      .select(col(idCol), col("__pos").as("s"), (col("__pos") + lit(L - 1)).as("e"))
      .groupBy(col(idCol))
      .agg(aggregate(
        array_sort(collect_list(struct(col("s"), col("e")))),
        array().cast("array<struct<s:int,e:int>>"),
        (acc, iv) => when(size(acc) > 0 &&
            element_at(acc, -1).getField("e") >= iv.getField("s") - 1,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(struct(
              element_at(acc, -1).getField("s").as("s"),
              greatest(element_at(acc, -1).getField("e"), iv.getField("e"))
                .as("e")))))
          .otherwise(concat(acc, array(iv)))).as("__ivs"))

  /** Reassemble each doc from the tokens its intervals do NOT cover:
    * (idCol, <outText>, <outCount>) over EVERY base row (docs with no
    * intervals pass through whitespace-normalized). */
  private def removeCovered(base: DataFrame, intervals: DataFrame,
                            idCol: String, outText: String,
                            outCount: String): DataFrame =
    base.join(intervals, Seq(idCol), "left_outer")
      .withColumn("__ivs", coalesce(col("__ivs"),
        array().cast("array<struct<s:int,e:int>>")))
      .select(col(idCol),
        array_join(filter(
          transform(col("__toks"),
            (t, p) => when(exists(col("__ivs"),
              iv => iv.getField("s") <= p && p <= iv.getField("e")),
              lit(null).cast("string")).otherwise(t)),
          t => t.isNotNull), " ").as(outText),
        aggregate(col("__ivs"), lit(0),
          (acc, iv) => acc + (iv.getField("e") - iv.getField("s") + lit(1)))
          .cast("long").as(outCount))

  /** Surgical decontamination (the span-level companion to
    * [[graft.operators.Dedup.decontaminate]]'s drop-the-document rule,
    * and the n-gram-overlap filter GPT-3's appendix made standard —
    * Brown et al., arXiv:2005.14165 use 13-grams): REDACT every token
    * span of at least `minTokens` that appears anywhere in the eval
    * set, keeping the rest of the document. Where the drop rule
    * discards a 10k-token document over one quoted benchmark item,
    * this removes the quotation and keeps the training signal.
    *
    * Returns every corpus document as (idCol, text_redacted,
    * n_redacted); a document that IS an eval member redacts to empty.
    * Same window-hash machinery as [[dedupSubstringsGlobal]]: any
    * shared span of length ≥ `minTokens` is fully covered by shared
    * L-windows. The eval side reduces to a DISTINCT hash set that
    * semi-joins the corpus window stream; AQE broadcasts it when small
    * (the usual case — eval sets are tiny next to a 100 TB corpus), so
    * the corpus is scanned once and only matching windows shuffle. */
  def redactEvalSpans(corpus: DataFrame, evalSet: DataFrame, idCol: String,
                      textCol: String, minTokens: Int = 13): DataFrame = {
    require(minTokens >= 2, s"redactEvalSpans: minTokens < 2: $minTokens")
    val L = minTokens
    val base = corpus.select(col(idCol), tokenArray(textCol).as("__toks"))
    val evalHashes = tokenWindows(
        evalSet.select(col(idCol), tokenArray(textCol).as("__toks")), idCol, L)
      .select(col("__h")).distinct()
    val contaminated = tokenWindows(base, idCol, L)
      .join(evalHashes, Seq("__h"), "left_semi")
    removeCovered(base, mergedIntervals(contaminated, idCol, L),
      idCol, "text_redacted", "n_redacted")
  }

  // ------------------------------------------------------------------
  // Persisted eval-hash store: the decontamination artifact. A
  // production pipeline redacts EVERY ingest batch against the same
  // benchmark suite — recomputing the suite's window hashes per batch
  // wastes exactly the work this store persists once. Layout under
  // `path`: `hashes/` (h) PARTITIONED BY `src` (the benchmark name the
  // caller supplies), so retiring a benchmark is a pure manifest
  // unlist — no rewrite, its files become vacuum garbage; `_layout.v<N>`
  // pins the window length L every verb must agree on (a store queried
  // at a different L would silently miss spans). Shares [[StoreSwap]]'s
  // manifest isolation: copy-on-write, ONE flip per verb, CAS commit,
  // vacuum retention.
  // ------------------------------------------------------------------

  private def requireEvalStore(fs: org.apache.hadoop.fs.FileSystem,
                               path: String, verb: String): (Int, Seq[String]) =
    StoreSwap.latestManifest(fs, path)
      .getOrElse(throw new IllegalArgumentException(
        s"$verb: $path is not an eval-hash store (no store manifest)"))

  /** Window length resolved VERSIONED at the manifest version being
    * read ([[StoreSwap.readLayoutAt]]'s floor rule): a pinned
    * historical redaction probes at the L its hashes were computed
    * with, even if the store was later re-created at a different
    * minTokens. */
  private def evalStoreL(fs: org.apache.hadoop.fs.FileSystem,
                         path: String, asOf: Int, verb: String): Int =
    StoreSwap.readLayoutAt(fs, path, asOf).getOrElse("L",
      throw new IllegalArgumentException(
        s"$verb: $path has no L in its layout — not an eval-hash store"))

  /** Create the store from one benchmark: its distinct window hashes
    * land under `src=<source>`, the manifest flip is the commit point
    * (a torn save reads as no store and is re-run).
    *
    * STAGED like every mutation verb — never an overwrite into the
    * live dir: re-creating a store (e.g. at a different `minTokens`)
    * continues the version chain with a manifest listing ONLY the new
    * hashes, while every retained older version keeps its complete
    * files; L commits as a VERSIONED layout, so a pinned historical
    * redaction still probes at the window length its hashes were
    * computed with. */
  def saveEvalHashStore(evalSet: DataFrame, idCol: String, textCol: String,
                        path: String, source: String,
                        minTokens: Int = 13): Unit = {
    require(minTokens >= 2, s"saveEvalHashStore: minTokens < 2: $minTokens")
    require(source.nonEmpty, "saveEvalHashStore: empty source name")
    val spark = evalSet.sparkSession
    val fs = StoreSwap.fsOf(spark, path)
    val version = StoreSwap.manifestVersions(fs, path).lastOption
      .getOrElse(0) + 1
    val tag = s"s${java.util.UUID.randomUUID().toString.take(8)}_"
    val staged = StoreSwap.stageAndMoveIn(fs, path, "hashes", "save", tag)(
      root => tokenWindows(evalSet.select(col(idCol),
          tokenArray(textCol).as("__toks")), idCol, minTokens)
        .select(col("__h").as("h")).distinct()
        .withColumn("src", lit(source))
        .repartition(1).write.mode("overwrite").partitionBy("src")
        .parquet(root))
    val lc = StoreSwap.commitLayout(fs, path, version,
      Seq("L" -> minTokens))
    StoreSwap.commitManifest(fs, path, version, staged,
      layoutCommitted = true, layoutCreated = lc)
  }

  /** Append another benchmark's hashes under its own `src` partition
    * (copy-on-write; re-running a torn append is the recovery). A
    * source that already exists refuses — retire it first
    * ([[purgeEvalSource]]) so suite updates are explicit, never silent
    * unions of stale and fresh hashes. */
  def appendEvalSource(evalSet: DataFrame, idCol: String, textCol: String,
                       path: String, source: String): Unit = {
    require(source.nonEmpty, "appendEvalSource: empty source name")
    val spark = evalSet.sparkSession
    val fs = StoreSwap.fsOf(spark, path)
    val (mfVersion, mfFiles) = requireEvalStore(fs, path, "appendEvalSource")
    require(!mfFiles.exists(_.startsWith(s"hashes/src=$source/")),
      s"appendEvalSource: source '$source' already in the store — " +
        "purgeEvalSource it first (suite updates are explicit)")
    val l = evalStoreL(fs, path, mfVersion, "appendEvalSource")
    val tag = s"a${java.util.UUID.randomUUID().toString.take(8)}_"
    val tmpRoot = new org.apache.hadoop.fs.Path(path, s".append_stage_$tag")
    fs.delete(tmpRoot, true)
    tokenWindows(evalSet.select(col(idCol),
        tokenArray(textCol).as("__toks")), idCol, l)
      .select(col("__h").as("h")).distinct()
      .withColumn("src", lit(source))
      .repartition(1).write.mode("overwrite").partitionBy("src")
      .parquet(tmpRoot.toString)
    val added = StoreSwap.moveStagedIn(fs, path, "hashes", tmpRoot, tag)
    StoreSwap.commitManifest(fs, path, mfVersion + 1, mfFiles ++ added)
  }

  /** Retire a benchmark: ONE manifest flip unlists its `src` partition
    * — no rewrite, no scan; the files become [[vacuumEvalHashStore]]
    * garbage. Later redactions stop removing its spans (text they
    * alone suppressed comes back — keep/redact is derived, exactly as
    * in the other artifact families). Unknown sources are a REAL
    * no-op.
    *
    * @return true iff the source was present. */
  def purgeEvalSource(spark: SparkSession, path: String,
                      source: String): Boolean = {
    val fs = StoreSwap.fsOf(spark, path)
    val (mfVersion, mfFiles) = requireEvalStore(fs, path, "purgeEvalSource")
    val prefix = s"hashes/src=$source/"
    val keep = mfFiles.filterNot(_.startsWith(prefix))
    if (keep.length == mfFiles.length) return false
    StoreSwap.commitManifest(fs, path, mfVersion + 1, keep)
    true
  }

  /** Drop every file no retained manifest lists — the retention verb. */
  def vacuumEvalHashStore(spark: SparkSession, path: String,
                          keepVersions: Int = 1, graceMs: Long = 0L): Long = {
    requireEvalStore(StoreSwap.fsOf(spark, path), path, "vacuumEvalHashStore")
    StoreSwap.vacuumManifested(spark, path, Seq("hashes"),
      "vacuumEvalHashStore", keepVersions, graceMs)
  }

  /** [[redactEvalSpans]] against the PERSISTED suite: the corpus is
    * scanned once, the store's hash set (union of live sources, read
    * through the manifest) semi-joins the windows, and L comes
    * from the store's `_layout.v<N>` — the one the hashes were computed
    * with, so a caller can never probe at a mismatched window length.
    * `asOfVersion` pins a retained manifest (redact exactly as the
    * suite stood at a past version — reproducing a historical
    * training run's decontamination). */
  def redactAgainstStore(corpus: DataFrame, idCol: String, textCol: String,
                         path: String,
                         asOfVersion: Option[Int] = None): DataFrame = {
    val spark = corpus.sparkSession
    val fs = StoreSwap.fsOf(spark, path)
    val (mfV, mfFiles) = asOfVersion
      .map(v => StoreSwap.manifestAt(fs, path, v))
      .getOrElse(requireEvalStore(fs, path, "redactAgainstStore"))
    val l = evalStoreL(fs, path, mfV, "redactAgainstStore")
    val base = corpus.select(col(idCol), tokenArray(textCol).as("__toks"))
    // a fully-retired suite redacts nothing (normalized pass-through)
    if (!mfFiles.exists(_.startsWith("hashes/")))
      return base.select(col(idCol),
        array_join(col("__toks"), " ").as("text_redacted"),
        lit(0L).as("n_redacted"))
    val hashes = StoreSwap.readStoreDir(spark, path, "hashes", mfFiles)
      .select(col("h").as("__h"))
    val contaminated = tokenWindows(base, idCol, l)
      .join(hashes, Seq("__h"), "left_semi")
    removeCovered(base, mergedIntervals(contaminated, idCol, l),
      idCol, "text_redacted", "n_redacted")
  }

  /** Corpus snapshot diff: classify every document across two corpus
    * versions as added / removed / changed / unchanged — the audit that
    * decides whether an incremental retrain is warranted and what the
    * delta batch is. Content identity is the same normalized md5
    * fingerprint the dedup family uses, so "changed" means the TEXT
    * changed, not merely metadata.
    *
    * One shuffle per side on the id (the join key); only (id, 16-byte
    * digest) ever moves — never document text. */
  def diffCorpora(oldDocs: DataFrame, newDocs: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    def fps(df: DataFrame, side: String) = df.select(
      col(idCol).as(s"__id_$side"),
      TextExprs.fingerprint(col(textCol)).as(s"__fp_$side"))
    fps(oldDocs, "old").join(fps(newDocs, "new"),
        col("__id_old") === col("__id_new"), "full_outer")
      .select(
        coalesce(col("__id_old"), col("__id_new")).as(idCol),
        when(col("__fp_old").isNull, "added")
          .when(col("__fp_new").isNull, "removed")
          .when(col("__fp_old") =!= col("__fp_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Corpus report — the "dataset card" numbers published with a training
    * set: totals, per-language and per-source composition, token/char
    * volume, exact-dup rate, mean document length. Long format
    * (metric, key, value) so new facets append without schema changes;
    * values are doubles (exact for counts below 2^53).
    *
    * ONE corpus scan: a narrow per-doc projection (lang, source, n_chars,
    * n_tokens, fingerprint) persists, then each facet is a lean aggregate
    * over it — the scan never re-runs, and nothing wider than the five
    * columns is ever held. */
  def corpusReport(docs: DataFrame, idCol: String, textCol: String,
                   langCol: String, sourceCol: String,
                   charsCol: String): DataFrame = {
    val base = docs.select(
      col(langCol).as("lang"), col(sourceCol).as("source"),
      col(charsCol).cast("double").as("n_chars"),
      TextExprs.tokenCount(col(textCol)).cast("double").as("n_tokens"),
      TextExprs.fingerprint(col(textCol)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = base.agg(
        count(lit(1)).cast("double").as("docs"),
        sum(col("n_tokens")).as("tokens"),
        sum(col("n_chars")).as("chars"),
        round(avg(col("n_tokens")), 6).as("mean_tokens"))
      val head = total.select(explode(map(
        lit("docs_total"), col("docs"),
        lit("tokens_total"), col("tokens"),
        lit("chars_total"), col("chars"),
        lit("mean_doc_tokens"), col("mean_tokens"))).as(Seq("metric", "value")))
        .select(col("metric"), lit("").as("key"), col("value"))
      val byLang = base.groupBy(col("lang"))
        .agg(count(lit(1)).cast("double").as("value"))
        .select(lit("docs_by_lang").as("metric"), col("lang").as("key"),
          col("value"))
      val bySource = base.groupBy(col("source"))
        .agg(count(lit(1)).cast("double").as("value"))
        .select(lit("docs_by_source").as("metric"), col("source").as("key"),
          col("value"))
      // two-level distinct (no Expand, see the countDistinct lesson):
      // group by fingerprint first, then count groups
      val dupRate = base.groupBy(col("fp")).agg(count(lit(1)).as("__n"))
        .agg(round(lit(1.0) -
          count(lit(1)).cast("double") / sum(col("__n")), 6).as("value"))
        .select(lit("dup_rate_exact").as("metric"), lit("").as("key"),
          col("value"))
      val out = head.unionByName(byLang).unionByName(bySource)
        .unionByName(dupRate)
      // materialize while `base` is still persisted (the caller's action
      // would otherwise re-run the scan after unpersist)
      out.localCheckpoint()
    } finally base.unpersist(blocking = false)
  }

  /** Per-document TF-IDF top-`k` terms (smoothed idf = ln((N+1)/(df+1))+1):
    * the "what is this document about" signal used for topic-balanced
    * sampling and near-dup triage. tf and df both derive from ONE exploded
    * (doc, term) aggregate — df is a re-aggregation of the tf frame, not a
    * second corpus scan; N rides along as a broadcast one-row scalar; the
    * per-doc top-k is a row_number over the (doc) partition, so shuffles
    * move (doc, term, counts) and never document text. Scores are rounded
    * to 6 decimals BEFORE ranking so the ordering (and therefore the kept
    * set) is engine-portable: a sub-ulp ln() difference cannot flip ranks.
    *
    * Hot-term skew: `tf ⋈ dfreq` on `term` concentrates stopword postings
    * ("the" appears in ~every doc) onto single shuffle keys. Two regimes,
    * both handled WITHOUT a code path change and both plan-gated:
    *  - bounded vocabulary (≲ tens of millions of terms — any natural
    *    corpus): dfreq aggregates to megabytes, and AQE's runtime size
    *    check collapses the join to a broadcast, so the skewed side never
    *    shuffles on term at all (PlanShapeSpec "q74 skew" gate);
    *  - open vocabulary (ids/hashes in text): the join stays sort-merge
    *    and AQE's skew-join split carves the stopword partitions
    *    (SkewJoinSpec's runtime skew gate pins that machinery). */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val tf = docs
      .select(col(idCol).as("doc"),
        explode(TextExprs.tokens(lower(col(textCol)))).as("term"))
      .where(col("term") =!= "")
      .groupBy(col("doc"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy(col("doc"))
      .orderBy(col("tfidf").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") *
        (log((col("n_docs") + 1).cast("double") / (col("df") + 1)) + 1), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc"), col("rank"), col("term"), col("tf"), col("df"),
        col("tfidf"))
  }

  /** CCNet-style language-model quality score (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data",
    * LREC 2020): each document's mean token negative-log-likelihood under
    * a unigram LM trained on a REFERENCE corpus — low avg_nll means
    * fluent/in-domain text, high means gibberish or off-distribution,
    * and the n_oov column exposes the vocabulary-miss half of that
    * signal separately. The classic "perplexity filter" pass between
    * heuristic quality rules and dedup.
    *
    * LM: top-`vocabSize` reference tokens by count (ties lexicographic —
    * the [[vocabulary]] contract) with add-`alpha` smoothing over
    * vocabSize+1 classes (all OOV tokens share one class):
    * p(t) = (c_t + α) / (N + α·(V+1)), p(oov) = α / (N + α·(V+1)).
    *
    * Scale shape: the LM is ONE two-phase aggregate + TakeOrdered top-V
    * over the reference (shuffle carries (token, count), never text) and
    * broadcasts as ≤ V rows; scoring is a narrow scan → broadcast-hash
    * lookup — the corpus never shuffles on token, so stopword skew
    * cannot exist — followed by one lean per-doc aggregate. Per-token
    * NLLs are rounded to 6 decimals THEN summed as exact decimals
    * (engine-portable: a sub-ulp ln() divergence cannot leak into the
    * sum), and the 6-decimal mean is computed half-up in exact INTEGER
    * micro-NLL arithmetic — a double `round(sum/n, 6)` was observed
    * flipping the last digit between engines on boundary values. Docs
    * with no tokens emit nothing. */
  def lmQualityScore(docs: DataFrame, idCol: String, textCol: String,
                     reference: DataFrame, refTextCol: String,
                     vocabSize: Int, alpha: Double = 0.5): DataFrame =
    lmQualityScore(docs, idCol, textCol,
      trainQualityLm(reference, refTextCol, vocabSize, alpha))

  /** Train the [[lmQualityScore]] reference LM once and REUSE it: the
    * returned frame is a plain 2-column table — one row per vocab token
    * `(token, nll)` plus exactly ONE out-of-vocabulary row with
    * `token = NULL` carrying the shared OOV class's nll — that survives
    * any parquet save/load round trip, so a week of scoring runs prices
    * tokens against the same model instead of re-tokenizing the
    * reference every run.
    *
    * Scale shape (unchanged from the fused path): one two-phase
    * aggregate + TakeOrdered top-V over the reference; the result is
    * ≤ vocabSize+1 rows and is materialized here (localCheckpoint) so
    * nothing downstream can re-trigger the reference scan. */
  def trainQualityLm(reference: DataFrame, refTextCol: String,
                     vocabSize: Int, alpha: Double = 0.5): DataFrame = {
    require(vocabSize > 0, s"vocabSize must be positive: $vocabSize")
    require(alpha > 0, s"alpha must be positive: $alpha")
    val denomAdd = alpha * (vocabSize + 1)
    // ONE reference scan: N is the sum of the grouped counts, so the
    // per-token aggregate (persisted across its two bounded consumers)
    // serves both the total and the top-V — the reference is never
    // tokenized twice
    val grouped = reference
      .select(explode(TextExprs.tokens(lower(col(refTextCol)))).as("token"))
      .where(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("__c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = grouped.agg(coalesce(sum(col("__c")), lit(0L)).as("__N"))
      .localCheckpoint()
    val lm = grouped
      .orderBy(col("__c").desc, col("token")).limit(vocabSize)
      .crossJoin(broadcast(n))
      .select(col("token"),
        round(-log((col("__c") + lit(alpha)) / (col("__N") + lit(denomAdd))), 6)
          .cast("decimal(18,6)").as("nll"))
      .unionAll(n.select(
        lit(null).cast("string").as("token"),
        round(-log(lit(alpha) / (col("__N") + lit(denomAdd))), 6)
          .cast("decimal(18,6)").as("nll")))
      .localCheckpoint()
    grouped.unpersist(blocking = false)
    lm
  }

  /** Score against a SAVED (or just-trained) LM table — the
    * [[trainQualityLm]] contract: vocab rows `(token, nll)` + one
    * `token IS NULL` OOV row. Identical output to the train-and-score
    * overload on the same reference (spec-pinned): scoring is a narrow
    * scan → broadcast-hash token lookup (the corpus never shuffles on
    * token) → one lean per-doc aggregate, with the same exact integer
    * micro-NLL half-up mean. */
  def lmQualityScore(docs: DataFrame, idCol: String, textCol: String,
                     lm: DataFrame): DataFrame = {
    // the OOV class is load-bearing: a saved LM missing its NULL row
    // would silently score every OOV token as null and drop it from the
    // sums — fail loudly instead (1-row collect, bounded driver state)
    val oovRows = lm.where(col("token").isNull)
      .select(col("nll").cast("decimal(18,6)")).collect()
    require(oovRows.length == 1,
      s"LM table must carry exactly ONE OOV row (token IS NULL, shared " +
        s"nll for all out-of-vocab tokens): found ${oovRows.length} — " +
        "train with trainQualityLm or add the OOV row")
    val oovNll = oovRows(0).getDecimal(0)
    val vocab = lm.where(col("token").isNotNull)
      .select(col("token"), col("nll").cast("decimal(18,6)").as("__nll"))
    docs
      .select(col(idCol).as("doc"),
        explode(TextExprs.tokens(lower(col(textCol)))).as("token"))
      .where(col("token") =!= "")
      .join(broadcast(vocab), Seq("token"), "left")
      .select(col("doc"), col("__nll").isNotNull.as("__in_vocab"),
        coalesce(col("__nll"), lit(oovNll).cast("decimal(18,6)")).as("__t_nll"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(!col("__in_vocab"), 1L).otherwise(0L)).as("n_oov"),
        (sum(col("__t_nll")) * 1000000).cast("long").as("__sum_micro"))
      .select(col("doc"), col("n_tokens"), col("n_oov"),
        // half-up mean at 6 decimals, exactly: (2a + n) DIV 2n on longs,
        // then ONE exact IEEE division by 10^6 — no double rounding
        (expr("(__sum_micro * 2 + n_tokens) DIV (n_tokens * 2)")
          .cast("double") / lit(1000000.0)).as("avg_nll"))
  }

  /** CCNet-style per-domain perplexity bucketing (Wenzek et al., LREC
    * 2020 §4.3): rank every document by its [[lmQualityScore]] mean NLL
    * within its domain and cut the ranking into head / middle / tail
    * thirds — the curation signal CCNet filters Common Crawl with
    * (train on head+middle, drop or re-weight tail).
    *
    * Exact-cutoff protocol, TWO-PHASE (round-9: the one-phase exact
    * histogram collected every distinct `(domain, micro-NLL)` pair, and
    * a 6-decimal mean NLL is near-unique per document — the "histogram"
    * was ≈ one driver row per doc, refusing corpora past maxDistinct):
    *
    *  1. COARSE: aggregate `(domain, __micro DIV binWidth)` — the
    *     collected set is bounded by nll-range/binWidth bins per domain
    *     (≈ a few thousand for any real LM score) regardless of corpus
    *     size. The driver walks each domain's cumulative bin counts in
    *     integer arithmetic to find the BOUNDARY BIN holding each rank
    *     cut ⌈k·n/3⌉, plus the exact cumulative count below that bin.
    *  2. FINE: aggregate exact micros ONLY inside boundary bins (a
    *     when-chain filter, ≤ 2 bins per domain), then resolve cut_k =
    *     smallest NLL whose cumulative count reaches ⌈k·n/3⌉ inside the
    *     bin. Distinct values collected ≤ 2·binWidth per domain by
    *     pigeonhole — bounded by CONSTRUCTION, not by corpus behavior.
    *
    * Identical cutoffs to the one-phase protocol (bins partition the
    * sorted micro axis, so below-bin cumulative + in-bin walk is the
    * same prefix sum; ties still land in the lower bucket together — a
    * value is never split). Bucket assignment stays a broadcast
    * when-chain in the scan; no domain ever sorts its corpus.
    * `maxDistinct` still guards both collected sets. The scored frame is
    * materialized once (localCheckpoint) so the corpus is not tokenized
    * twice for histogram + assignment. */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        domainCol: String, lm: DataFrame,
                        maxDistinct: Int = 2000000,
                        binWidth: Long = 8192): DataFrame = {
    require(binWidth >= 1, s"binWidth must be >= 1: $binWidth")
    val scored = docs
      .select(col(idCol).as("doc"), col(domainCol).as("__dom"))
      .where(col("__dom").isNotNull)
      .join(lmQualityScore(docs, idCol, textCol, lm), Seq("doc"))
      // exact micro-NLL: avg_nll IS micro/10^6 (one exact IEEE divide),
      // so round(avg_nll * 10^6) recovers the integer exactly. Micro is
      // >= 0 by construction (an average of -ln p, p <= 1), so integer
      // DIV here and floorDiv on the driver agree.
      .withColumn("__micro",
        round(col("avg_nll") * lit(1000000.0)).cast("long"))
      // LAZY: the coarse-histogram collect below materializes the scored
      // frame; the fine pass then reads blocks (r19 — was eager)
      .localCheckpoint(false)
    val coarse = scored
      .groupBy(col("__dom"), expr(s"__micro DIV $binWidth").as("__bin"))
      .agg(count(lit(1)).as("__c")).collect()
    require(coarse.length <= maxDistinct,
      s"perplexityBuckets: ${coarse.length} coarse (domain, bin) pairs > " +
        s"maxDistinct=$maxDistinct — raise it or widen binWidth")
    // per domain: for each cut, the boundary bin + exact count below it
    case class Boundary(bin: Long, below: Long, k: Long)
    val boundaries: Map[Any, Seq[Boundary]] = coarse.groupBy(_.get(0)).map {
      case (dom, rows) =>
        val sorted = rows.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
        val n = sorted.iterator.map(_._2).sum
        val ks = Seq((n + 2) / 3, (2 * n + 2) / 3) // ceil(n/3), ceil(2n/3)
        dom -> ks.map { k =>
          var cum = 0L
          var found: Boundary = null
          sorted.foreach { case (b, c) =>
            if (found == null) {
              if (cum + c >= k) found = Boundary(b, cum, k)
              else cum += c
            }
          }
          found
        }
    }
    // ≤ 2 boundary bins per domain ride DomainLookup as one array
    // attribute: membership is an O(1) array_contains either way, and
    // past the chain threshold the bins arrive by broadcast lookup join
    // instead of a |domains|-branch literal filter
    val domType = scored.schema("__dom").dataType
    val binsOf: Seq[(Any, Seq[Any])] = boundaries.toSeq.map { case (dom, bs) =>
      (dom, Seq[Any](bs.map(_.bin).distinct))
    }
    val fine = DomainLookup.attach(scored, col("__dom"), domType, binsOf,
        Seq(("__bbins", org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))))
      .where(array_contains(col("__bbins"), expr(s"__micro DIV $binWidth")))
      .groupBy(col("__dom"), col("__micro"))
      .agg(count(lit(1)).as("__c")).collect()
    require(fine.length <= maxDistinct,
      s"perplexityBuckets: ${fine.length} fine (domain, nll) pairs > " +
        s"maxDistinct=$maxDistinct — raise it deliberately")
    val fineByDom = fine.groupBy(_.get(0)).map { case (dom, rows) =>
      dom -> rows.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    }
    val cuts: Map[Any, (Long, Long)] = boundaries.map { case (dom, bs) =>
      val micros = fineByDom(dom)
      val resolved = bs.map { bd =>
        val inBin = micros.filter(m => Math.floorDiv(m._1, binWidth) == bd.bin)
        var cum = bd.below
        var cut = Long.MaxValue
        inBin.foreach { case (m, c) =>
          if (cut == Long.MaxValue) { cum += c; if (cum >= bd.k) cut = m }
        }
        cut
      }
      dom -> (resolved(0), resolved(1))
    }
    val bucket = when(col("__cut1").isNotNull,
      when(col("__micro") <= col("__cut1"), "head")
        .when(col("__micro") <= col("__cut2"), "middle")
        .otherwise("tail"))
    DomainLookup.attach(scored, col("__dom"), domType,
        cuts.toSeq.map { case (dom, (c1, c2)) => (dom, Seq[Any](c1, c2)) },
        Seq(("__cut1", org.apache.spark.sql.types.LongType),
          ("__cut2", org.apache.spark.sql.types.LongType)))
      .select(col("doc"), col("__dom").as(domainCol), col("n_tokens"),
        col("n_oov"), col("avg_nll"), bucket.as("bucket"))
  }

  /** BPE merge-pair statistics — the counting core of byte-pair-encoding
    * tokenizer training: adjacent symbol-pair frequencies over the word
    * VOCABULARY, each pair weighted by its word's corpus frequency. The
    * top pair is the next BPE merge; [[trainBpeMerges]] runs that
    * iteration to completion. This exposes one full counting round, the
    * part that touches the corpus.
    *
    * Scale shape: the corpus collapses to the word vocabulary FIRST
    * (one aggregate — the only pass over the text; the shuffle carries
    * (word, count), never documents), then pairs explode over the
    * VOCAB — |vocab| × avg word length rows, corpus-size-independent —
    * into a second lean aggregate and a TakeOrdered top-k. Later BPE
    * rounds recount over the vocab alone, never re-touching the corpus:
    * exactly why real tokenizer trainers count over word types too. */
  def bpeTopPairs(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val vocab = docs
      .select(explode(TextExprs.tokens(lower(col(textCol)))).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("__nw"))
    vocab
      .where(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, length(w) - 2), i -> substring(w, i + 1, 2))"))
        .as("pair"), col("__nw"))
      .groupBy(col("pair")).agg(sum(col("__nw")).as("pair_count"))
      .orderBy(col("pair_count").desc, col("pair")).limit(k)
  }

  /** Learn a BPE merge table from the corpus — the training loop whose
    * one-round counting core is [[bpeTopPairs]] and whose apply side is
    * [[graft.functions.BpeEncode]]: Sennrich's algorithm at its
    * scalable shape. ONE distributed pass collapses the corpus to the
    * word-frequency table, TRUNCATED to the `maxWords` most frequent
    * word types (ties → lexicographic) — the standard practice that
    * bounds driver state by vocabulary, not corpus (the tail word types
    * it drops carry negligible pair mass). The merge iterations then
    * run over that small table: count adjacent symbol pairs weighted by
    * word frequency, take the argmax (ties → lexicographically smallest
    * pair, deterministic), merge it into every word's segmentation with
    * the SAME left-to-right resume-after-replacement pass the encoder
    * applies per rank, repeat. Stops early when no pair occurs twice.
    *
    * Consistency contract, spec-pinned: running
    * `bpeEncode(word, trainBpeMerges(...))` on any trained-on word
    * reproduces the trainer's final segmentation of it. */
  def trainBpeMerges(docs: DataFrame, textCol: String, nMerges: Int,
                     maxWords: Int = 50000): Seq[(String, String)] = {
    require(nMerges >= 1, s"trainBpeMerges: bad nMerges $nMerges")
    require(maxWords >= 1, s"trainBpeMerges: bad maxWords $maxWords")
    val words = docs
      .select(explode(TextExprs.tokens(lower(col(textCol)))).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w"))
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    trainBpeMergesFromCounts(words.toSeq, nMerges)
  }

  /** The pure merge loop behind [[trainBpeMerges]] — word-ORDER
    * insensitive (counts accumulate in a map; ties break
    * deterministically), so any independently-derived word-frequency
    * table yields the identical merge sequence. Exposed so an oracle
    * can replay training from first principles (q152 computes it at
    * registry-build time from the literal training corpus). */
  def trainBpeMergesFromCounts(words: Seq[(String, Long)],
                               nMerges: Int): Seq[(String, String)] = {
    require(nMerges >= 1, s"trainBpeMergesFromCounts: bad nMerges $nMerges")
    var segs: Array[(Array[String], Long)] = words.toArray.map { case (w, f) =>
      (w.toCharArray.map(_.toString), f)
    }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var dry = false
    while (round < nMerges && !dry) {
      val counts = scala.collection.mutable.HashMap
        .empty[(String, String), Long]
      segs.foreach { case (syms, f) =>
        var i = 0
        while (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      val best = counts.filter(_._2 >= 2).toSeq
        .sortBy { case ((a, b), n) => (-n, a, b) }.headOption
      best match {
        case None => dry = true
        case Some(((a, b), _)) =>
          merges += ((a, b))
          val ab = a + b
          segs = segs.map { case (syms, f) =>
            // the encoder's per-rank pass: left to right, resume AFTER
            // each replacement so a merged symbol never re-pairs
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < syms.length) {
              if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
                out += ab
                i += 2
              } else {
                out += syms(i)
                i += 1
              }
            }
            (out.toArray, f)
          }
      }
      round += 1
    }
    merges.toSeq
  }

  /** Persist a learned merge table (the q93 LM / q121 BM25 pattern for
    * the tokenizer): (rank, left, right) parquet, so `bpeEncode` jobs
    * reuse a trained tokenizer without re-touching the training
    * corpus. */
  def saveBpeMerges(spark: org.apache.spark.sql.SparkSession,
                    merges: Seq[(String, String)], path: String): Unit = {
    require(merges.nonEmpty, "saveBpeMerges: empty merge table")
    import spark.implicits._
    merges.zipWithIndex.map { case ((a, b), i) => (i, a, b) }
      .toDF("rank", "left", "right")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  /** Load a persisted merge table, validating contiguous ranks 0..n-1
    * and non-empty components — a corrupted table fails HERE, not as
    * silently-wrong tokenization. */
  def loadBpeMerges(spark: org.apache.spark.sql.SparkSession,
                    path: String): Seq[(String, String)] = {
    val rows = org.apache.spark.sql.graftshim.ManifestRelation
      .readParquet(spark, path)
      .select(col("rank").cast("int"), col("left"), col("right"))
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    require(rows.map(_._1).toSeq == rows.indices.toSeq,
      s"loadBpeMerges: non-contiguous ranks in $path")
    require(rows.forall(r => r._2 != null && r._2.nonEmpty &&
      r._3 != null && r._3.nonEmpty),
      s"loadBpeMerges: empty merge component in $path")
    rows.map(r => (r._2, r._3)).toSeq
  }

  /** Top-k most frequent word n-grams per group — the corpus-statistics
    * query behind stop-phrase discovery, boilerplate spotting, and
    * tokenizer-vocabulary sanity checks, per language/source. Returns
    * the n-gram TEXT (unlike the hashed posting machinery, which trades
    * the string away for shuffle width): one narrow scan explodes
    * n-grams, a partial-aggregated `groupBy(group, ngram)` counts them
    * (map-side combine eats the heavy duplication before the exchange),
    * and the per-group top-k runs through the native [[graft.plans.TopK]]
    * operator — bounded heaps BEFORE the final exchange, so the rank
    * stage shuffles ≤ |groups|·k rows, never the full n-gram
    * distribution. Ties break lexicographically (deterministic).
    * Docs shorter than `ngram` tokens contribute nothing — including
    * empty/whitespace-only docs at ngram = 1, whose split yields the
    * [""] singleton that the empty-ngram filter drops. */
  def topNgramsPerGroup(docs: DataFrame, groupCol: String, textCol: String,
                        ngram: Int, k: Int): DataFrame = {
    require(ngram >= 1, s"topNgramsPerGroup: bad ngram $ngram")
    require(k >= 1, s"topNgramsPerGroup: bad k $k")
    val parts = (0 until ngram).map(j => s"tk[i + $j]").mkString(", ")
    val counts = docs
      .select(col(groupCol).as("label"),
        TextExprs.tokens(col(textCol)).as("tk"))
      .where(size(col("tk")) >= ngram)
      .select(col("label"), explode(expr(
        s"transform(sequence(0, size(tk) - $ngram), i -> concat_ws(' ', $parts))"))
        .as("ngram"))
      .where(col("ngram") =!= "")
      .groupBy(col("label"), col("ngram"))
      .agg(count(lit(1)).as("cnt"))
    graft.plans.TopK.perKey(counts, Seq("label"),
      Seq(graft.plans.TopK.Sort("cnt", desc = true),
        graft.plans.TopK.Sort("ngram")), k)
      .select(col("label"), col("rank"), col("ngram"), col("cnt"))
  }

  /** Per-group distribution drift of a SCALAR feature between two
    * corpus versions — [[Similarity.embeddingDrift]]'s sibling for
    * lengths, quality scores, token counts (the data-validation check a
    * pipeline runs between crawls or after a filter): bucketize the
    * feature at FIXED boundaries, then per group the total-variation
    * distance `TV = ½ Σ_bucket |p_a − p_b|` between the two bucket
    * distributions. TV is 0 for identical distributions, 1 for
    * disjoint, and — unlike KL/PSI — needs no logarithms, so the whole
    * statistic is exact rational arithmetic until one final IEEE
    * divide: the numerator folds as `Σ |c_a·n_b − c_b·n_a|` in
    * DECIMAL(19)×DECIMAL(19) products (exact, order-independent,
    * overflow-proof where long×long is not at count² ≈ 2^60+ scale).
    *
    * Bucket `i` = number of boundaries ≤ v (boundaries ascending):
    * below-first → 0, ≥ last → |boundaries|. NULL features land in no
    * bucket and reduce that side's total — by design: a filter that
    * NULLs a feature IS distribution drift.
    *
    * Scale shape: one narrow bucketize scan per side, the heavy
    * aggregates are (group, bucket)-keyed partial hash aggregates, the
    * final reduce is |groups|×|buckets| rows regardless of corpus
    * size. Groups present in only one version are absent (inner join
    * on the group totals), matching embeddingDrift's contract. */
  def histogramDrift(a: DataFrame, b: DataFrame, groupCol: String,
                     valueCol: String, boundaries: Seq[Double]): DataFrame = {
    require(boundaries.nonEmpty, "histogramDrift: no bucket boundaries")
    require(boundaries == boundaries.sorted && boundaries.distinct == boundaries,
      s"histogramDrift: boundaries not strictly ascending: $boundaries")
    def bucket(v: Column): Column =
      boundaries.foldLeft(lit(0))((acc, bnd) =>
        acc + when(v >= bnd, 1).otherwise(0))
    // one aggregation per side; totals derive from the bucket counts
    // ONCE (not re-joined through a distinct, which would recompute the
    // same aggregate a second time)
    def counts(df: DataFrame, cName: String): DataFrame =
      df.select(col(groupCol).as("label"),
          bucket(col(valueCol).cast("double")).as("bucket"))
        .where(col(valueCol).isNotNull)
        .groupBy(col("label"), col("bucket"))
        .agg(count(lit(1)).as(cName))
    val d19 = org.apache.spark.sql.types.DecimalType(19, 0)
    val ca = counts(a, "ca").localCheckpoint()
    val cb = counts(b, "cb").localCheckpoint()
    val na = ca.groupBy(col("label")).agg(sum(col("ca")).as("na"))
    val nb = cb.groupBy(col("label")).agg(sum(col("cb")).as("nb"))
    // full outer on buckets (a bucket emptied by the filter still
    // drifts) but inner on group totals (embeddingDrift's contract)
    val joined = ca
      .join(cb, Seq("label", "bucket"), "full_outer")
      .join(na, Seq("label"))
      .join(nb, Seq("label"))
      .select(col("label"), col("na"), col("nb"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    joined
      .groupBy(col("label"))
      .agg(
        sum(abs(col("ca").cast(d19) * col("nb").cast(d19) -
          col("cb").cast(d19) * col("na").cast(d19))).as("__num"),
        max(col("na")).as("n_a"), max(col("nb")).as("n_b"))
      .select(col("label"), col("n_a"), col("n_b"),
        (col("__num").cast("double") /
          (lit(2.0) * col("n_a").cast("double") * col("n_b").cast("double")))
          .as("tv_dist"))
  }

  /** DSIR-style importance weights (Xie, Santurkar, Ma & Liang, "Data
    * Selection for Language Models via Importance Resampling", NeurIPS
    * 2023 — public literature): weight(doc) = log p_target(doc) −
    * log p_raw(doc) under two add-alpha unigram LMs ([[trainQualityLm]]
    * tables — the paper's hashed-ngram feature LMs reduced to this
    * repo's exact engine-portable unigram protocol). Positive weight =
    * the document reads more like the TARGET distribution (the curated
    * domain you want more of) than the raw crawl it came from.
    *
    * Scale shape: ONE corpus scan — both vocabularies broadcast
    * (≤ V+1 rows each), two broadcast-hash lookups per token in the
    * same plan, one per-doc aggregate. Per-token nlls are the LM
    * tables' already-rounded decimals, so the weight is exact decimal
    * arithmetic end to end: weight = (Σ nll_raw − Σ nll_target)/10⁶ on
    * long micros. Token-less documents emit nothing ([[lmQualityScore]]
    * rule). Output: (doc, n_tokens, weight). */
  def dsirWeights(docs: DataFrame, idCol: String, textCol: String,
                  targetLm: DataFrame, rawLm: DataFrame): DataFrame =
    dsirWeightsMicro(docs, idCol, textCol, targetLm, rawLm)
      .select(col("doc"), col("n_tokens"),
        col("__w_micro").cast("double").divide(lit(1000000.0))
          .as("weight"))

  private def lmVocabAndOov(lm: DataFrame, which: String)
  : (DataFrame, java.math.BigDecimal) = {
    val oovRows = lm.where(col("token").isNull)
      .select(col("nll").cast("decimal(18,6)")).collect()
    require(oovRows.length == 1,
      s"$which LM table must carry exactly ONE OOV row (token IS NULL): " +
        s"found ${oovRows.length} — train with trainQualityLm")
    (lm.where(col("token").isNotNull)
      .select(col("token"), col("nll").cast("decimal(18,6)")),
      oovRows(0).getDecimal(0))
  }

  private def dsirWeightsMicro(docs: DataFrame, idCol: String,
                               textCol: String, targetLm: DataFrame,
                               rawLm: DataFrame): DataFrame = {
    val (tv, tOov) = lmVocabAndOov(targetLm, "target")
    val (rv, rOov) = lmVocabAndOov(rawLm, "raw")
    docs
      .select(col(idCol).as("doc"),
        explode(TextExprs.tokens(lower(col(textCol)))).as("token"))
      .where(col("token") =!= "")
      .join(broadcast(tv.withColumnRenamed("nll", "__t")), Seq("token"), "left")
      .join(broadcast(rv.withColumnRenamed("nll", "__r")), Seq("token"), "left")
      .select(col("doc"),
        coalesce(col("__t"), lit(tOov).cast("decimal(18,6)")).as("__t"),
        coalesce(col("__r"), lit(rOov).cast("decimal(18,6)")).as("__r"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"),
        ((sum(col("__r")) - sum(col("__t"))) * 1000000).cast("long")
          .as("__w_micro"))
  }

  /** DSIR importance RESAMPLING, reproducibly: Gumbel-top-k over the
    * [[dsirWeights]] log-ratios — `key = weight + Gumbel(doc)` where the
    * Gumbel draw derives from the document's md5 63-bit key (the
    * [[sampleExact]] protocol), so the "random" sample is deterministic,
    * engine-portable, and stable under re-runs and repartitioning.
    * Gumbel-top-k of (log-weight + noise) IS sampling without
    * replacement proportional to the softmax of the weights — the
    * paper's resampling step with the RNG replaced by the id-hash.
    *
    * The noise rounds at 6 decimals and joins the weight in exact long
    * micros; selection is the native bounded-heap top-k by
    * (key desc, doc asc). Output: (doc, n_tokens, weight) of the k
    * selected documents. */
  def dsirResample(docs: DataFrame, idCol: String, textCol: String,
                   targetLm: DataFrame, rawLm: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"dsirResample: k must be >= 1: $k")
    val w = dsirWeightsMicro(docs, idCol, textCol, targetLm, rawLm)
    val skey = StableId63.stableId63(col("doc").cast("string"))
    // u in (0, 1): the +0.5 keeps 0 out; the least() keeps the handful
    // of keys whose long->double conversion rounds UP to 2^63 from
    // producing u = 1 (-ln(-ln(1)) = +inf)
    val u = least(
      (skey.cast("double") + lit(0.5)) / lit(9.223372036854775808e18),
      lit(0.999999999999))
    val gMicro = (round(-log(-log(u)), 6).cast("decimal(18,6)") * 1000000)
      .cast("long")
    val keyed = w.withColumn("__key", col("__w_micro") + gMicro)
      .withColumn("__one", lit(0))
    graft.plans.TopK.perKey(keyed, Seq("__one"),
      Seq(graft.plans.TopK.Sort("__key", desc = true),
        graft.plans.TopK.Sort("doc")), k, "__drank")
      .select(col("doc"), col("n_tokens"),
        col("__w_micro").cast("double").divide(lit(1000000.0))
          .as("weight"))
  }
}
