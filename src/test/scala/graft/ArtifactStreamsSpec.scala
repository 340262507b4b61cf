package graft

import graft.operators.{IvfIndex, StoreSwap, TextSearch}
import graft.streaming.ArtifactStreams
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming ingest for the BM25-stats and IVF-index artifact families:
  * micro-batched growth equals the one-shot batch build, and the
  * batch-tagged replay cleanup makes re-applied batches exactly-once. */
class ArtifactStreamsSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")
  private lazy val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")

  test("bm25StatsIngest: bootstrap + append batches merge to exactly the " +
    "one-shot stats; a replayed batch (drop + re-apply) changes nothing") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_stream_spec_${System.nanoTime()}")
    base.deleteOnExit()
    val rows = docs.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().sortBy(_._1)
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, String)]
    val q = ArtifactStreams.bm25StatsIngest(
      mem.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$base/stats", s"$base/ckpt", availableNow = false)
    try {
      mem.addData(b0.toIndexedSeq: _*); q.processAllAvailable() // bootstrap
      mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable() // append
    } finally q.stop()
    val terms = Seq("spark", "vector", "join")
    def topK() = TextSearch.bm25TopKIndexed(docs, "doc_id", "text",
        s"$base/stats", terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    TextSearch.saveCorpusStats(docs, "doc_id", "text", s"$base/oneshot")
    val want = TextSearch.bm25TopKIndexed(docs, "doc_id", "text",
        s"$base/oneshot", terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(topK() == want)
    // the replay pair through the production path: batch 1 re-enters
    // bm25Batch — drop + re-apply under the same lineage tag; scores
    // must not move (a blind re-append would double-count every odd doc)
    val oddDf = docs.where(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text"))
    ArtifactStreams.bm25Batch(oddDf, 1L, "doc_id", "text",
      s"$base/stats", s"$base/ckpt")
    assert(topK() == want, "replayed append double-counted")
    // BOOTSTRAP replay (crash between the save's manifest commit and
    // the checkpoint commit): batch 0 re-enters via bm25Batch with
    // statsReady true — the store consists solely of b0-tagged files,
    // so the production path must RE-BOOTSTRAP (a drop + append here
    // would delete the store's only data and wedge on the empty
    // manifest)
    val evenDf = docs.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"), col("text"))
    val soloBase = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_bm25_solo_${System.nanoTime()}")
    soloBase.deleteOnExit()
    ArtifactStreams.bm25Batch(evenDf, 0L, "doc_id", "text",
      s"$soloBase/stats", s"$soloBase/ckpt") // bootstrap, only batch
    val soloWant = TextSearch.bm25TopKIndexed(docs, "doc_id", "text",
        s"$soloBase/stats", terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    ArtifactStreams.bm25Batch(evenDf, 0L, "doc_id", "text",
      s"$soloBase/stats", s"$soloBase/ckpt") // the replay, still only batch
    val soloGot = TextSearch.bm25TopKIndexed(docs, "doc_id", "text",
        s"$soloBase/stats", terms, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(soloGot == soloWant,
      "only-batch bootstrap replay must re-bootstrap identically")
    // and the cleanup verb refuses the delete-everything footgun
    intercept[IllegalArgumentException] {
      TextSearch.dropAppendPartials(spark, s"$base/stats", "")
    }
  }

  test("factIngest: bootstrap + append equal the batch-built fact " +
    "table; a replayed batch (drop + re-apply) changes nothing") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_fact_stream_spec_${System.nanoTime()}")
    base.deleteOnExit()
    def d(s: String) = java.sql.Date.valueOf(s)
    val rows = Seq(
      (1L, d("2024-01-01"), 10L, 2), (2L, d("2024-02-15"), 11L, 1),
      (3L, d("2025-01-03"), 12L, 3), (4L, d("2024-01-20"), 13L, 5),
      (5L, d("2024-02-02"), 10L, 7), (6L, d("2025-03-09"), 11L, 4))
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val cols = Seq("fact_id", "date_id", "product_id", "units")
    val mem = MemoryStream[(Long, java.sql.Date, Long, Int)]
    val q = ArtifactStreams.factIngest(
      mem.toDF().toDF(cols: _*), s"$base/wh", s"$base/ckpt",
      availableNow = false)
    try {
      mem.addData(b0.toIndexedSeq: _*); q.processAllAvailable() // bootstrap
      mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable() // append
    } finally q.stop()
    def factRows(path: String) =
      graft.sources.WarehouseStore.loadFact(spark, path)
        .orderBy("fact_id").collect().map(_.toSeq).toSeq
    val streamed = factRows(s"$base/wh")
    assert(streamed.length == 6)
    // micro-batched growth ≡ the one-shot batch save
    graft.sources.WarehouseStore.saveFact(rows.toDF(cols: _*), s"$base/batch")
    assert(streamed == factRows(s"$base/batch"),
      "streamed fact table diverged from the batch build")
    // the replay pair through the production path: batch 1 re-enters
    // factBatch — drop + re-apply under the same lineage tag; content
    // must not move (a blind re-append would double every odd row)
    graft.streaming.ArtifactStreams.factBatch(b1.toDF(cols: _*), 1L,
      s"$base/wh", s"$base/ckpt")
    assert(factRows(s"$base/wh") == streamed, "replayed append double-counted")
    // BOOTSTRAP replay as the ONLY committed batch: the fact files are
    // all b0-tagged, so the production path re-bootstraps (Overwrite)
    // instead of dropping to an empty fact list first
    val soloWh = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_fact_solo_${System.nanoTime()}")
    soloWh.deleteOnExit()
    graft.streaming.ArtifactStreams.factBatch(b0.toDF(cols: _*), 0L,
      s"$soloWh/wh", s"$soloWh/ckpt") // bootstrap, only batch
    val soloRows = factRows(s"$soloWh/wh")
    graft.streaming.ArtifactStreams.factBatch(b0.toDF(cols: _*), 0L,
      s"$soloWh/wh", s"$soloWh/ckpt") // the replay
    assert(factRows(s"$soloWh/wh") == soloRows,
      "only-batch bootstrap replay must re-bootstrap identically")
    // and the cleanup verb refuses the delete-everything footgun
    intercept[IllegalArgumentException] {
      graft.sources.WarehouseStore.dropAppendPartials(spark, s"$base/wh", "")
    }
  }

  test("ivfIngest: bootstrap trains on the first batch, appends assign " +
    "against frozen centroids; equals the batch-built index; replayed " +
    "append (drop + re-apply) changes nothing") {
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_stream_spec_${System.nanoTime()}")
    base.deleteOnExit()
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, Array[Double])]
    val q = ArtifactStreams.ivfIngest(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$base/index", s"$base/ckpt", k = 8, availableNow = false)
    try {
      mem.addData(b0.toIndexedSeq: _*); q.processAllAvailable() // bootstrap
      mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable() // append
    } finally q.stop()
    val (model, postings) = IvfIndex.loadIndex(spark, s"$base/index")
    assert(postings.count() == emb.count())
    assert(postings.select("n_id").distinct().count() == emb.count())
    // same protocol in batch: train on the even half, assign everything
    val even = emb.where(col("vec_id") % 2 === 0)
    val batchModel = IvfIndex.train(even, "vec_id", "embedding", k = 8)
    batchModel.centroids.zip(model.centroids).foreach { case (a, b) =>
      assert(a.toSeq == b.toSeq, "streamed centroids differ from batch-trained")
    }
    val queries = emb.where(col("vec_id") < 10)
    def rows6(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("n_id"), r.getAs[Double]("cos"))).sorted.toSeq
    val want = rows6(IvfIndex.search(
      IvfIndex.assign(emb, "vec_id", "embedding", batchModel),
      queries, "vec_id", "embedding", batchModel, k = 5, nProbe = 8))
    def got() = rows6(IvfIndex.search(
      IvfIndex.loadIndex(spark, s"$base/index")._2,
      queries, "vec_id", "embedding", model, k = 5, nProbe = 8))
    assert(got() == want)
    // the replay pair through the production path: batch 1 re-enters
    // ivfBatch — drop + re-apply under the same lineage tag
    val odd = emb.where(col("vec_id") % 2 === 1)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    ArtifactStreams.ivfBatch(odd, 1L, "vec_id", "embedding",
      s"$base/index", s"$base/ckpt", 8, 2000, 8)
    assert(got() == want, "replayed append duplicated postings")
    assert(IvfIndex.loadIndex(spark, s"$base/index")._2.count() == emb.count())
    // BOOTSTRAP replay as the ONLY committed batch: the store's
    // postings are all b0-tagged, so the production path must
    // RE-BOOTSTRAP — a drop + append here would delete every posting,
    // then wedge at loadIndex on the postings-less manifest
    val evenCast = even.select(col("vec_id"),
      col("embedding").cast("array<double>").as("embedding"))
    val soloBase = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ivf_solo_${System.nanoTime()}")
    soloBase.deleteOnExit()
    def soloSearch() = {
      val (m, p) = IvfIndex.loadIndex(spark, s"$soloBase/index")
      rows6(IvfIndex.search(p, queries, "vec_id", "embedding", m,
        k = 5, nProbe = 8))
    }
    ArtifactStreams.ivfBatch(evenCast, 0L, "vec_id", "embedding",
      s"$soloBase/index", s"$soloBase/ckpt", 8, 2000, 8) // bootstrap
    val soloWant = soloSearch()
    val nSolo = IvfIndex.loadIndex(spark, s"$soloBase/index")._2.count()
    ArtifactStreams.ivfBatch(evenCast, 0L, "vec_id", "embedding",
      s"$soloBase/index", s"$soloBase/ckpt", 8, 2000, 8) // the replay
    assert(IvfIndex.loadIndex(spark, s"$soloBase/index")._2.count() == nSolo,
      "only-batch bootstrap replay must re-bootstrap identically")
    assert(soloSearch() == soloWant,
      "re-bootstrapped index must search identically")
    intercept[IllegalArgumentException] {
      IvfIndex.dropAppendPartials(spark, s"$base/index", "")
    }
  }

  test("empty first micro-batch does NOT bootstrap any family's store " +
    "(save(empty) would commit a manifest that bricks later reads " +
    "while ready() reports true); the next non-empty batch bootstraps") {
    import graft.operators.SemanticStore
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_empty_boot_spec_${System.nanoTime()}")
    base.deleteOnExit()
    def basis(i: Int) = Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)
    val model = IvfIndex.Model(Array(basis(0), basis(1), basis(2)))
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    // drive the production batch body with an EMPTY batch first
    val empty = spark.emptyDataset[(Long, Array[Double])]
      .toDF("vec_id", "embedding")
    ArtifactStreams.semanticBatch(empty, 0L, "vec_id", "embedding",
      s"$base/store", s"$base/verdicts", tau = 0.35, model = Some(model),
      k = 8, sampleSize = 2000, iters = 8)
    assert(!SemanticStore.ready(spark, s"$base/store"),
      "empty batch bootstrapped a store")
    assert(!new java.io.File(s"$base/verdicts/batch=0").exists(),
      "empty batch wrote a verdict partition")
    // the next (non-empty) batch bootstraps normally and is queryable
    ArtifactStreams.semanticBatch(rows.toIndexedSeq.toDF("vec_id", "embedding"),
      1L, "vec_id", "embedding", s"$base/store", s"$base/verdicts",
      tau = 0.35, model = Some(model), k = 8, sampleSize = 2000, iters = 8)
    assert(SemanticStore.ready(spark, s"$base/store"))
    assert(spark.read.parquet(s"$base/verdicts/batch=1").count() == emb.count())
    // the MinHash streaming body has the same contract
    val emptyDocs = spark.emptyDataset[(Long, String)].toDF("doc_id", "text")
    graft.streaming.DocStreams.processBatch(emptyDocs, 0L, "doc_id", "text",
      s"$base/mh", s"$base/pairs", threshold = 0.4, bands = 4, ngram = 3)
    assert(!graft.operators.Dedup.minhashStoreReady(spark, s"$base/mh"),
      "empty batch bootstrapped the MinHash store")
  }

  test("semanticIngest: bootstrap + ingest batches build the semantic " +
    "store; the verdict log equals whole-store verdicts; a replayed " +
    "batch rewrites the identical verdict partition") {
    import graft.operators.SemanticStore
    implicit val sqlCtx = spark.sqlContext
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_sem_stream_spec_${System.nanoTime()}")
    base.deleteOnExit()
    def basis(i: Int) = Array.tabulate(64)(j => if (j == i) 1.0 else 0.0)
    val model = IvfIndex.Model(Array(basis(0), basis(1), basis(2)))
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val (b0, b1) = rows.partition(_._1 % 2 == 0)
    val mem = MemoryStream[(Long, Array[Double])]
    val q = ArtifactStreams.semanticIngest(
      mem.toDF().toDF("vec_id", "embedding"), "vec_id", "embedding",
      s"$base/store", s"$base/verdicts", s"$base/ckpt", tau = 0.35,
      model = Some(model), availableNow = false)
    try {
      mem.addData(b0.toIndexedSeq: _*); q.processAllAvailable() // bootstrap
      mem.addData(b1.toIndexedSeq: _*); q.processAllAvailable() // ingest
    } finally q.stop()
    def toMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc", "kept").collect()
        .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val logged = toMap(spark.read.parquet(s"$base/verdicts"))
    // the log covers the whole corpus and equals store-derived verdicts
    // (arrival-order dominance means later batches can never flip an
    // earlier batch's verdict — the log is time-consistent)
    val want = toMap(SemanticStore.verdictsForIds(spark, s"$base/store",
      emb.select(col("vec_id")), "vec_id", 0.35))
    assert(logged.size == emb.count())
    assert(logged == want)
    assert(logged.values.exists(v => !v), "nothing was dropped — vacuous")
    // exactly-once replay: wipe batch 1's partition, re-drive the same
    // batch through the production body — identical content comes back
    val before = toMap(spark.read.parquet(s"$base/verdicts/batch=1"))
    val fs = new org.apache.hadoop.fs.Path(s"$base/verdicts")
      .getFileSystem(spark.sessionState.newHadoopConf())
    fs.delete(new org.apache.hadoop.fs.Path(s"$base/verdicts/batch=1"), true)
    val store = s"$base/store"
    val vBefore = StoreSwap.manifestVersions(StoreSwap.fsOf(spark, store), store)
    ArtifactStreams.semanticBatch(b1.toIndexedSeq.toDF("vec_id", "embedding"),
      1L, "vec_id", "embedding", s"$base/store", s"$base/verdicts",
      tau = 0.35, model = Some(model), k = 8, sampleSize = 2000, iters = 8)
    assert(toMap(spark.read.parquet(s"$base/verdicts/batch=1")) == before,
      "replayed batch did not rewrite the identical verdict partition")
    assert(StoreSwap.manifestVersions(StoreSwap.fsOf(spark, store), store) == vBefore,
      "replayed batch committed a new store version")
  }

  test("a fresh checkpoint ingesting into a store holding another " +
    "instance's b0_-tagged files appends, never deleting or " +
    "re-bootstrapping over them") {
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_lineage_gate_${System.nanoTime()}")
    base.deleteOnExit()
    // warehouse with ANOTHER instance's b0_ files
    def d(s: String) = java.sql.Date.valueOf(s)
    val cols = Seq("fact_id", "date_id", "product_id", "units")
    val other = Seq((1L, d("2024-01-01"), 10L, 2),
      (2L, d("2024-02-15"), 11L, 1)).toDF(cols: _*)
    val wh = s"$base/wh"
    graft.sources.WarehouseStore.saveFact(other, wh,
      org.apache.spark.sql.SaveMode.Overwrite, Some("b0_"))
    // new instance, fresh checkpoint, batch 0 into the same store: its
    // lineage-scoped tag matches none of the other instance's files, so
    // neither the replay drop nor the re-bootstrap check may fire
    val mine = Seq((10L, d("2025-03-01"), 12L, 4)).toDF(cols: _*)
    ArtifactStreams.factBatch(mine, 0L, wh, s"$base/ckptNew")
    val after = graft.sources.WarehouseStore.loadFact(spark, wh)
      .select("fact_id").as[Long].collect().sorted.toSeq
    assert(after == Seq(1L, 2L, 10L),
      s"another instance's b0_ batch was clobbered: $after")
  }

  test("retainVersions bounds manifest link files under a long ingest " +
    "run while time travel spans the retained window") {
    val base = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_retain_${System.nanoTime()}")
    base.deleteOnExit()
    def d(s: String) = java.sql.Date.valueOf(s)
    val cols = Seq("fact_id", "date_id", "product_id", "units")
    val wh = s"$base/wh"
    (0 until 12).foreach { i =>
      val batch = Seq((i.toLong, d("2024-01-01"), 10L, 1)).toDF(cols: _*)
      ArtifactStreams.factBatch(batch, i.toLong, wh, s"$base/ckpt",
        retainVersions = 3)
    }
    val versions = StoreSwap.manifestVersions(StoreSwap.fsOf(spark, wh), wh)
    assert(versions.length == 3 && versions.last == 12,
      s"12 batches must leave exactly 3 link files: $versions")
    // every retained version resolves, with monotone content
    val counts = versions.map(v =>
      graft.sources.WarehouseStore.loadFact(spark, wh, Some(v)).count())
    assert(counts == Seq(10L, 11L, 12L), s"retained window reads: $counts")
  }
}
