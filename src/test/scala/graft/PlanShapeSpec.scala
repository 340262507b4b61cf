package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Physical-plan shape assertions for the properties that matter at
  * 100 TB: filters reach the parquet scan, reads are column-pruned,
  * dims broadcast, fact probes don't shuffle, whole-stage codegen covers
  * the hot paths. A plan that silently loses one of these still returns
  * correct rows — only these tests notice. */
class PlanShapeSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Execute (finalizes AQE), then return the full physical tree. */
  private def finalPlan(df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.execution.SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
  }

  /** Collect scans across the AQE-finalized tree: QueryStageExec nodes are
    * leaf-like wrappers whose materialized subtree only shows via `.plan`,
    * so a plain `collect` over the top tree misses every scan after AQE
    * re-planning — recurse into them (and subqueries) explicitly. */
  private def collectScans(p: org.apache.spark.sql.execution.SparkPlan)
  : Seq[FileSourceScanExec] = {
    val here = p.collect {
      case s: FileSourceScanExec => Seq(s)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectScans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
        collectScans(r.child)
    }.flatten
    here ++ p.subqueries.flatMap(collectScans)
  }

  private def scans(df: org.apache.spark.sql.DataFrame): Seq[FileSourceScanExec] =
    collectScans(finalPlan(df))

  /** A session with [[graft.plans.SinglePartitionReads]], which the shared
    * test session carries only when a `GraftExtensions` suite built it. */
  private lazy val oneSplitSpark = {
    val s = spark.newSession()
    s.experimental.extraOptimizations =
      Seq(graft.plans.SinglePartitionReads(s))
    s
  }

  /** A data directory holding `tables` as two-file parquet directories
    * (the fixture's rows, split by Spark), so each read is more than one
    * split and does not plan as a single partition. */
  private def twoFileCopy(tables: String*): String = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_planspec_two")
    tables.foreach(t => spark.read.parquet(s"$sf/$t.parquet").repartition(2)
      .write.mode("overwrite").parquet(s"$dir/$t.parquet"))
    dir.toString
  }

  /** SortMergeJoinExec nodes across the AQE-finalized tree (recursing
    * into query stages) — the "did this join avoid a shuffle-by-key"
    * assertion shared by the skew gates. */
  private def collectSmj(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    p.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        Seq(j.toString.take(200))
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectSmj(q.plan)
    }.flatten

  test("q30: predicate pushdown + column pruning reach the lineitem scan") {
    val df = Queries.queries("q30_pushdown_scan")(spark, sf)
    val scan = scans(df).head
    val meta = scan.metadata
    assert(meta("PushedFilters").contains("GreaterThanOrEqual(l_shipdate"),
      meta("PushedFilters"))
    assert(meta("PushedFilters").contains("GreaterThanOrEqual(l_discount"),
      meta("PushedFilters"))
    // only the three referenced columns are read, not the 16-column table
    val read = scan.requiredSchema.fieldNames.toSet
    assert(read == Set("l_shipdate", "l_discount", "l_extendedprice"), read)
  }

  test("q06: small dims broadcast; no dim-side shuffle of the fact probe") {
    val plan = Queries.queries("q06_star_join_revenue")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(500))
    assert(!plan.contains("CartesianProduct"))
  }

  test("q01: agg is partial+final hash aggregate (map-side combine)") {
    // over a one-split read no exchange and one job; over two files the
    // exchange and the map-side combine remain
    val q01 = Queries.queries("q01_pricing_summary")
    // the fixture's lineitem is one split: the read reports
    // SinglePartition, so both aggregate levels run in the scan's task
    val one = q01(oneSplitSpark, sf)
    val plan1 = one.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan1).size >= 2, plan1.take(800))
    assert(!plan1.contains("Exchange"), plan1.take(800))
    var rows1: Seq[String] = Nil
    assert(jobsDuring {
      rows1 = one.collect().map(_.toString).sorted.toSeq
    } == 1)
    assert(!finalPlan(one).toString.contains("Exchange"))
    // two HashAggregate levels around one Exchange: shuffle carries groups
    val two = q01(oneSplitSpark, twoFileCopy("lineitem"))
    val plan2 = two.queryExecution.executedPlan.toString
    assert("HashAggregate".r.findAllIn(plan2).size >= 2, plan2.take(800))
    assert("Exchange".r.findAllIn(plan2).size >= 1, plan2.take(800))
    assert(plan2.contains("partial_sum"), plan2.take(800))
    assert(two.collect().map(_.toString).sorted.toSeq == rows1)
  }

  test("q03: top-k plans as TakeOrderedAndProject, not a global sort") {
    val plan = Queries.queries("q03_topk_parts")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
  }

  test("as-of join: exactly one exchange pair (key co-partitioning), no join node") {
    val ev = Tables.events(spark, sf)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("pts"), col("value"))
    val plan = graft.operators.AsOfJoin
      .backward(clicks, purch, Seq("user_id"), "ts", "pts", Seq("value"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(800))
    assert(plan.contains("Window"), plan.take(300))
  }

  test("q51: persisted fact read is partition-pruned by the year filter") {
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_wh_planspec").getAbsolutePath
    graft.sources.WarehouseStore.save(
      graft.etl.ReferenceShapedData.warehouse(spark, sf), path)
    val pruned = graft.sources.WarehouseStore.loadFactYear(spark, path, 1995)
      .groupBy(col("p_month")).count()
    val scan = scans(pruned).head
    val pf = scan.metadata("PartitionFilters")
    assert(pf.contains("p_year"), pf)
    // only 1995's ≤12 month directories are read, not the 1992-1998 layout
    val nPart = scan.metrics("numPartitions").value
    assert(nPart > 0 && nPart <= 12, s"numPartitions=$nPart")
  }

  test("q52: deterministic sample is a narrow filter — zero exchanges") {
    // read the raw file (Tables.documents splits on read, which IS an
    // exchange, for scan parallelism over single-row-group fixtures);
    // the operator itself must add nothing
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.operators.TrainingData
      .deterministicSample(docs, "doc_id", 200)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(500))
  }

  test("q53: sequence packing has exactly one exchange (the shard key)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.operators.TrainingData
      .packSequences(docs, "lang", "doc_id", "text", 2048)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(800))
  }

  test("q55: vocabulary top-k plans as TakeOrderedAndProject over a partial agg") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.operators.TrainingData.vocabulary(docs, "text", 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(500))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(500))
  }

  test("q60: bucketed join reads co-located buckets — no exchange below the join") {
    val df = Queries.queries("q60_bucketed_join")(spark, sf)
    val plan = finalPlan(df)
    // the only exchange allowed is the one ABOVE the join (final groupBy);
    // the join's children must consume bucket layout directly
    def findJoin(p: org.apache.spark.sql.execution.SparkPlan)
    : Option[org.apache.spark.sql.execution.SparkPlan] = {
      val here = p.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => Seq(j)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          findJoin(q.plan).toSeq
      }.flatten
      here.headOption
    }
    val join = findJoin(plan)
    assert(join.isDefined, plan.toString.take(800))
    assert(!join.get.toString.contains("Exchange"), join.get.toString.take(800))
  }

  test("q67: decile assignment has no window and no global sort on the base table") {
    // boundary resolution runs as bounded side jobs during construction;
    // the RETURNED plan must be scan -> narrow when-chain -> groupBy only
    val plan = Queries.queries("q67_length_deciles")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(800))
    assert(!plan.contains("Sort"), plan.take(800))
    // the when-chain decile assignment reached the plan
    assert(plan.contains("CASE WHEN") || plan.contains("decile"), plan.take(800))
  }

  test("q70: embedding decontamination = broadcast anti probe, corpus unshuffled") {
    val plan = Queries.queries("q70_embedding_decontam")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") && plan.contains("LeftAnti"),
      plan.take(600))
    // the corpus side must not shuffle by key (read-split round robin is fine)
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(600))
  }

  test("dynamic partition pruning: a dim-side year filter prunes the fact scan") {
    // the BI pattern at scale: the year constraint lives on the calendar
    // dim, not the fact — Spark must inject a runtime (dynamicpruning)
    // filter on the fact's partition column from the broadcast dim side
    val path = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_wh_planspec_dpp").getAbsolutePath
    graft.sources.WarehouseStore.save(
      graft.etl.ReferenceShapedData.warehouse(spark, sf), path)
    // manifest-resolved reads (the deterministic dir accumulates
    // superseded unlisted files across JVMs — a raw dir read would see
    // them; the manifest is the isolation boundary)
    val fact = graft.sources.WarehouseStore.loadFact(spark, path)
    // the filter constrains date_id, NOT the join key: a `year = 1995`
    // equality would constant-fold into a static partition filter (tested
    // above via q51) — here pruning can only happen at runtime
    val years = graft.sources.WarehouseStore.load(spark, path).dimDate
      .where(col("date_id").between("1995-01-01", "1995-12-31"))
      .select(col("year").as("p_year")).distinct()
    val q = fact.join(years, Seq("p_year")).groupBy(col("p_month")).count()
    val scan = scans(q).find(_.toString.contains("fact_sales")).get
    val pf = scan.metadata("PartitionFilters")
    assert(pf.contains("dynamicpruning"), pf)
    // and the runtime effect is real: only 1995's ≤12 month dirs were read
    val nPart = scan.metrics("numPartitions").value
    assert(nPart > 0 && nPart <= 12, s"numPartitions=$nPart")
  }

  test("q72: domain mixing is a narrow when-chain filter — no join, no exchange") {
    // thresholds resolve to literals during construction (one bounded
    // count job); the RETURNED plan must add nothing to the scan
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.operators.TrainingData
      .mixToQuotas(docs, "doc_id", "source",
        Map("src0" -> 10L, "src1" -> 5L, "src2" -> 100000L, "src3" -> 0L))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(800))
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("q73: token-budget selection returns a narrow plan — no window, sort, " +
    "or exchange over the base docs") {
    // boundary cutoffs resolve as bounded side jobs during construction
    // (the q67 histogram protocol); the RETURNED plan is scan -> n_tokens
    // -> when-chain filter
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.operators.TrainingData
      .selectToTokenBudget(docs, "source", "doc_id", "text", "n_chars", 600L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(800))
    assert(!plan.contains("Sort"), plan.take(800))
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("q74 skew: stopword-heavy corpus — AQE collapses the hot-term join " +
    "to a runtime broadcast (no sort-merge on term)") {
    import spark.implicits._
    // every doc contains the same stopwords: df('the') = |corpus|, the
    // classic hot shuffle key. dfreq aggregates to a few KB, so AQE's
    // runtime size check must broadcast it — the skewed tf side then never
    // shuffles on term at all.
    val docs = (1 to 2000)
      .map(i => (i.toLong, s"the of and is to unique$i tok${i % 97} w${i % 13}"))
      .toDF("doc_id", "text")
    val df = graft.operators.TrainingData.tfidfTopTerms(docs, "doc_id", "text", 3)
    val plan = finalPlan(df)
    assert(collectSmj(plan).isEmpty, collectSmj(plan).mkString("\n"))
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString.take(800))
  }

  test("q76: deterministic shuffle adds exactly one exchange (the shard key)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.operators.TrainingData
      .deterministicShuffle(docs, "doc_id", 8)
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(800))
  }

  test("q77: token chunking is narrow — zero exchanges") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val plan = graft.operators.TrainingData
      .chunkDocs(docs, "doc_id", "text", 32, 16)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(800))
  }

  test("q74: tf-idf N-scalar rides a broadcast, never a cartesian product") {
    val df = Queries.queries("q74_tfidf_topk")(spark, sf)
    val plan = finalPlan(df).toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"), plan.take(800))
  }

  test("q87: LM scoring is a broadcast lookup — the corpus never joins by token shuffle") {
    // the reference-side LM build legitimately aggregates by token; the
    // SCORING join must be broadcast-hash (the corpus token stream keeps
    // its scan partitioning), never a sort-merge join — so stopword skew
    // has no shuffle key to land on
    val df = Queries.queries("q87_lm_quality")(spark, sf)
    val plan = finalPlan(df)
    assert(collectSmj(plan).isEmpty, collectSmj(plan).mkString("\n"))
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString.take(800))
  }

  test("q95: overlap matrix shuffles hashes and group keys only — text never") {
    // the contamination matrix's exchanges may carry (grp, hv) pairs and
    // pair counts; a text column in any shuffle would mean the corpus
    // payload crosses the network — the exact failure mode the distinct
    // hash projection exists to prevent
    def collectShuffles(p: org.apache.spark.sql.execution.SparkPlan)
    : Seq[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec] =
      p.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => Seq(e)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          collectShuffles(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          collectShuffles(r.child)
      }.flatten
    val df = graft.operators.Dedup.overlapMatrix(
      Tables.documents(spark, sf), "source", "text", ngram = 3, eager = false)
    // Tables.load round-robins the tiny test parquet for parallelism —
    // a scan-side fixture artifact that disappears on a real multi-split
    // file. The operator's own exchanges are the KEY (hash) shuffles.
    val keyShuffles = collectShuffles(finalPlan(df)).filter(
      _.outputPartitioning.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(keyShuffles.nonEmpty) // the distinct + hash join genuinely shuffle
    keyShuffles.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        e.output.map(_.name).mkString(","))
    }
  }

  test("q96: SCD2 apply is broadcast-only — the dimension never shuffles") {
    val df = Queries.queries("q96_scd2_dimension")(spark, sf)
    val plan = finalPlan(df)
    assert(collectSmj(plan).isEmpty, collectSmj(plan).mkString("\n"))
    def shuffleCount(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collect {
        case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => 1
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          shuffleCount(q.plan)
      }.sum
    assert(shuffleCount(plan) == 0, plan.toString.take(800))
    assert(plan.toString.contains("BroadcastHashJoin"), plan.toString.take(800))
  }

  test("q154: boilerplate block pipeline is a narrow scan — zero exchanges, " +
      "and the block array is evaluated once (single Project chain)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val page = org.apache.spark.sql.functions.concat(
      org.apache.spark.sql.functions.lit("<p>body words here for blocks "),
      org.apache.spark.sql.functions.col("text"),
      org.apache.spark.sql.functions.lit("</p><nav><a href=x>A</a></nav>"))
    val out = docs
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.TextExprs.htmlBlocks(page).as("__b"))
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.col("__b")).as("n_blocks"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(500))
  }

  test("q138/q155: URL canonicalization is scan-side — the only exchange " +
      "is the canonical-string groupBy (escape + IDN folds add none)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = docs
      .select(org.apache.spark.sql.functions.col("doc_id"),
        graft.functions.UrlExprs.canonicalizeUrl(
          org.apache.spark.sql.functions.concat(
            org.apache.spark.sql.functions.lit("https://bücher"),
            (org.apache.spark.sql.functions.col("doc_id") % 7)
              .cast("string"),
            org.apache.spark.sql.functions.lit(".Example.com:443/a%2fb/%7Eu")))
          .as("c"))
      .groupBy("c").count()
    val plan = finalPlan(out).toString
    assert("Exchange".r.findAllIn(plan).size == 1, plan.take(800))
    assert(!plan.contains("SortAggregate"), plan.take(800))
  }

  test("q175 blocklist: the list rides a broadcast join; text never " +
    "shuffles (exchange carries only doc/token-derived columns)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val out = graft.operators.TrainingData.blocklistFilter(
      docs, "doc_id", "text", Seq("spill", "slow"))
    val plan = finalPlan(out).toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
    // the only exchange feeds the per-doc roll-up — no text column in it
    assert(!"Exchange hashpartitioning\\([^)]*text".r
      .findFirstIn(plan).isDefined, plan.take(800))
  }

  test("q179 classifier scoring: weights are a plan literal — no " +
    "weights-table join; one doc-keyed aggregate pair") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val m = graft.operators.QualityClassifier.Model(8, 5L,
      Array.tabulate(8)(_.toLong))
    val out = graft.operators.QualityClassifier.score(
      docs, "doc_id", "text", m)
    val plan = finalPlan(out).toString
    // exactly one join: scored dots back onto the doc spine (left)
    assert("Join".r.findAllIn(plan).size <= 2, plan.take(800))
    assert(!plan.contains("SortAggregate"), plan.take(800))
  }

  test("q180 scheduler: ONE parquet scan (no double canonicalization " +
    "branch) and the politeness cut is the native TopKPerKey") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    import spark.implicits._
    val rules = Seq(("site0.example.com", "/private", false))
      .toDF("host", "prefix", "allow")
    val auth = Seq(("site0.example.com", 0.5)).toDF("host", "rank")
    val cand = docs.select(concat(lit("https://site"),
      (col("doc_id") % 7).cast("string"),
      lit(".example.com/p/"), col("doc_id").cast("string")).as("url"))
    val out = graft.operators.CrawlPolicy.prioritizedFetchList(
      cand, "url", rules, auth, perHostK = 3)
    val p = finalPlan(out)
    assert(collectScans(p).size == 1, p.toString.take(800))
    assert(p.toString.contains("TopKPerKey"), p.toString.take(800))
  }

  test("graph family (triangles/reciprocity): keyed joins only — no " +
    "cartesian product, no nested-loop join, no sort aggregate") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val edges = docs.select(
      concat(lit("h"), (col("doc_id") % 97).cast("string")).as("src"),
      concat(lit("h"), ((col("doc_id") * 31 + 7) % 97).cast("string"))
        .as("dst"))
    for (out <- Seq(
      graft.operators.LinkGraph.triangles(edges, "src", "dst"),
      graft.operators.LinkGraph.reciprocity(edges, "src", "dst"))) {
      out.collect()
      val plan = out.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      assert(!plan.contains("CartesianProduct"), plan.take(800))
      assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
      assert(!plan.contains("SortAggregate"), plan.take(800))
    }
  }

  test("q198/q205/q210: every window is keyed — no single-partition " +
    "window over corpus-sized data") {
    // q198's RANGE frame partitions by the customer key; q205/q210's
    // global prefix-sum/rank run per range-partition with broadcast
    // offsets — a SinglePartition exchange anywhere in these plans
    // means the distributed formulation silently regressed
    for (name <- Seq("q198_rolling_window", "q205_weighted_sample",
      "q210_budget_apportion")) {
      val plan = finalPlan(Queries.queries(name)(spark, sf)).toString
      assert(!plan.contains("SinglePartition"), s"$name:\n${plan.take(800)}")
    }
    // the keyed window keeps its keyed exchange over the one-split
    // fixture read (SinglePartitionReads leaves it alone) and over a
    // multi-file read
    for (d <- Seq(sf, twoFileCopy("orders"))) {
      val plan = finalPlan(Queries.queries("q198_rolling_window")(
        oneSplitSpark, d)).toString
      assert(plan.contains("hashpartitioning(o_custkey"), plan.take(1200))
      assert(!plan.contains("SinglePartition"), plan.take(1200))
    }
  }

  test("one-split reads keep their exchange under a DISTINCT aggregate, " +
    "a union and a join, where it spreads the work") {
    // q11's two DISTINCT counts aggregate in three levels; q225 unions two
    // global aggregates, and a union of single-partition children runs
    // them in one task; q48 joins an aggregate of events to a broadcast
    // one, and its own stage runs while the broadcast side's stages do
    for (name <- Seq("q11_conditional_counts", "q225_table_fingerprint",
      "q48_approx_sketches")) {
      val plan = finalPlan(Queries.queries(name)(oneSplitSpark, sf)).toString
      assert(plan.contains("Exchange"), s"$name:\n${plan.take(1200)}")
      assert(!plan.contains("Coalesce"), s"$name:\n${plan.take(1200)}")
    }
  }

  test("q204: per-label top-k routes through the native TopKPerKey heaps") {
    val exp = spark.experimental
    exp.synchronized {
      if (!exp.extraStrategies.contains(graft.plans.TopKStrategy))
        exp.extraStrategies = exp.extraStrategies :+ graft.plans.TopKStrategy
    }
    val plan = finalPlan(
      Queries.queries("q204_token_label_pmi")(spark, sf)).toString
    assert(plan.contains("TopKPerKey"), plan.take(800))
  }

  test("searchFiltered on a persisted index: the postings scan keeps " +
    "cell PartitionFilters (the n_id semi-join must not defeat probe " +
    "pruning) and the allow-set rides a broadcast join") {
    val emb = Tables.embeddings(spark, sf)
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_planspec_filtered_${System.nanoTime()}")
    dir.deleteOnExit()
    val model = graft.operators.IvfIndex.train(emb, "vec_id", "embedding", k = 8)
    graft.operators.IvfIndex.saveIndex(model,
      graft.operators.IvfIndex.assign(emb, "vec_id", "embedding", model),
      dir.getAbsolutePath)
    val (loaded, postings) =
      graft.operators.IvfIndex.loadIndex(spark, dir.getAbsolutePath)
    val df = graft.operators.IvfIndex.searchFiltered(postings,
      emb.where(col("vec_id") < 10).limit(10), "vec_id", "embedding",
      loaded, k = 5, nProbe = 2,
      allowed = emb.where(col("label") % 3 === 1), allowedIdCol = "vec_id")
    val plan = finalPlan(df)
    // the postings scan is partition-filtered on cell (dynamic pruning
    // from the probe side) even with the semi-join inserted below it
    val postScan = collectScans(plan).filter(_.metadata
      .get("Location").exists(_.contains("postings")))
    assert(postScan.nonEmpty, plan.toString.take(800))
    assert(postScan.exists(s =>
      s.metadata.get("PartitionFilters").exists(_.contains("cell"))),
      postScan.map(_.metadata.getOrElse("PartitionFilters", "?")).mkString("; "))
    // the allow-set joins broadcast (never a corpus shuffle for a small
    // filter), and as a semi join (no duplicate scoring)
    def joins(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.collect {
        case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec =>
          Seq(j.joinType.toString)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          joins(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
          joins(r.child)
      }.flatten
    assert(joins(plan).exists(_.contains("LeftSemi")),
      plan.toString.take(800))
  }

  test("whole-stage codegen covers the cleaning scan (native exprs fused)") {
    val synth = graft.etl.ReferenceShapedData.syntheticOrders(spark, sf)
    val stg = graft.etl.OrderEtl.toStaging(graft.etl.OrderEtl.cleanOrders(synth))
    // AQE-finalized plans print fused stages as `*(n)` markers, not the
    // node name — collect the actual WholeStageCodegenExec nodes instead.
    def codegenSpans(p: org.apache.spark.sql.execution.SparkPlan): Int =
      p.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => 1
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          codegenSpans(q.plan)
      }.sum
    assert(codegenSpans(finalPlan(stg)) >= 1, finalPlan(stg).toString.take(500))
  }
}
