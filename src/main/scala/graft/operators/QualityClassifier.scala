package graft.operators

import graft.functions.{StableId63, TextExprs}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Supervised document-quality classification — the "train a small
  * classifier on a curated positive set, score the crawl" step of the
  * LLM-data playbook (CCNet's and LLaMA's wiki-reference quality
  * filters, fastText's linear bag-of-features model — Joulin et al.,
  * "Bag of Tricks for Efficient Text Classification", EACL 2017,
  * public literature). This is the repo's only SUPERVISED scorer; it
  * complements the unsupervised LM-likelihood family
  * ([[TrainingData.lmQualityScore]], DSIR) with a
  * train-on-labels/score-everything loop.
  *
  * Model: logistic-style linear classifier over HASHED token-count
  * features (fastText's hashing trick): feature j of a document is the
  * count of its tokens whose 63-bit md5 hash lands in bucket
  * j = hash % dim. The link is the HARD sigmoid σ(z) = clamp(z/4 +
  * 1/2, 0, 1) (Courbariaux et al., "BinaryConnect", NeurIPS 2015 —
  * the standard piecewise-rational sigmoid of the quantized-training
  * literature), chosen deliberately: with it the ENTIRE protocol —
  * margins, activations, errors, gradients, updates — is exact
  * integer-micros arithmetic (the [[LinkGraph]] discipline), so
  * training is bit-reproducible across partitionings AND a SQL oracle
  * replays every iteration hash-exact. No float accumulates anywhere.
  *
  * Full-batch gradient descent, fixed iterations: with weights w
  * (micros), bias b, features x, label y ∈ {0,1}:
  *
  *   p  = clamp(margin DIV 4 + 500000, 0, 10⁶)   margin = b + Σ wⱼxⱼ
  *   err = p − y·10⁶
  *   gⱼ  = Σ_docs err·xⱼ        g_b = Σ_docs err
  *   wⱼ ← wⱼ − gⱼ DIV (n·lrDiv)   (all DIV truncate toward zero —
  *                                 both engines' integer semantics)
  *
  * Scale shape (100 TB): features build ONCE — tokens explode narrow
  * ((doc, j) only, text never shuffles), one map-side-combined
  * (doc, j) count. Per iteration: one doc-keyed aggregate for margins
  * (weights ride the plan as a dim-bounded literal array — no join
  * against a weights table), one doc-keyed join feeding a j-keyed
  * aggregate (≤ dim keys, partial map-side), and a ≤ dim+1-row
  * collect (the KMeans centroid discipline — gradients are
  * model-sized, never data-sized). Iterations are a bounded driver
  * loop over localCheckpointed inputs. */
object QualityClassifier {

  val MaxDim = 4096

  /** Trained model: dim hashed-feature weights + bias, in exact long
    * micros (1.0 = 1,000,000). */
  case class Model(dim: Int, biasMicro: Long, weightsMicro: Array[Long]) {
    require(dim >= 2 && dim <= MaxDim,
      s"QualityClassifier.Model: dim must be in [2, $MaxDim]: $dim")
    require(weightsMicro.length == dim,
      s"QualityClassifier.Model: ${weightsMicro.length} weights for dim $dim")
  }

  /** Hashed token-count features: (doc, j, x), j = stable63(token) %
    * dim over lowercased whitespace tokens. Token-less docs emit no
    * rows (they contribute through the bias alone). */
  def featurize(docs: DataFrame, idCol: String, textCol: String,
                dim: Int): DataFrame = {
    require(dim >= 2 && dim <= MaxDim,
      s"QualityClassifier: dim must be in [2, $MaxDim]: $dim")
    docs
      .select(col(idCol).as("doc"),
        explode(TextExprs.tokens(lower(col(textCol)))).as("__tok"))
      .where(col("__tok") =!= "")
      .select(col("doc"),
        (StableId63.stableId63(col("__tok")) % dim).cast("int").as("j"))
      .groupBy(col("doc"), col("j")).agg(count(lit(1)).as("x"))
  }

  /** margin_micro column for a feature frame joined per doc:
    * b + Σ element_at(w, j+1)·x — weights as a literal array. */
  private def dotPerDoc(f: DataFrame, weightsMicro: Array[Long]): DataFrame = {
    val wLit = typedLit(weightsMicro.toSeq)
    f.groupBy(col("doc"))
      .agg(sum(element_at(wLit, col("j") + 1) * col("x")).as("__dot"))
  }

  /** m DIV 4 truncating toward zero on either sign — `m − m % 4` is
    * exactly divisible (Spark `%` keeps the dividend's sign, Java
    * semantics), so the double division is exact for |m| < 2⁵³, far
    * above any reachable margin. Matches DuckDB's `//`. */
  private def divTrunc4(m: Column): Column =
    ((m - (m % 4L)) / 4L).cast("long")

  /** Train on `labelCol` ∈ {0,1} (validated loudly). Deterministic:
    * same inputs → bit-identical model, any partitioning. */
  def train(docs: DataFrame, idCol: String, textCol: String,
            labelCol: String, dim: Int = 64, iters: Int = 3,
            lrDiv: Int = 4): Model = {
    require(iters >= 1 && iters <= 30,
      s"QualityClassifier: iters must be in [1, 30]: $iters — each " +
        "iteration is a full pass; raise deliberately if needed")
    require(lrDiv >= 1, s"QualityClassifier: lrDiv must be >= 1: $lrDiv")
    // LAZY checkpoint + ONE combined shape aggregate (r19, the
    // ckpt+action job-merge mechanism): the label-validity probe and
    // the row count read the same snapshot, so they share one driver
    // job that also materializes the checkpoint (3 jobs → 1). The
    // validity scan gives up the old limit(1) short-circuit — the full
    // count pass was being paid anyway for n.
    val lab = docs.select(col(idCol).as("doc"),
        col(labelCol).cast("long").as("y"))
      .localCheckpoint(false)
    val shape = lab.agg(count(lit(1)).as("__n"),
      count(when(col("y").isNull || !col("y").isin(0L, 1L), 1)).as("__bad"))
      .collect()(0)
    require(shape.getLong(1) == 0L,
      s"QualityClassifier: $labelCol must be 0/1 and non-null")
    val n = shape.getLong(0)
    require(n > 0L, "QualityClassifier: empty training set")
    // f stays EAGER: every iteration reads it twice (margins +
    // gradient join) — the multi-consumer rule from the r19 merge
    // sweep (a lazy flavor would double-compute the tokenize inside
    // the first gradient job)
    val f = featurize(docs, idCol, textCol, dim).localCheckpoint()
    var w = Array.fill(dim)(0L)
    var b = 0L
    val denom = n * lrDiv
    for (_ <- 1 to iters) {
      val errs = lab
        .join(dotPerDoc(f, w), Seq("doc"), "left")
        .select(col("doc"),
          (clampP(lit(b) + coalesce(col("__dot"), lit(0L)))
            - col("y") * 1000000L).as("__err"))
        .localCheckpoint()
      // ONE gradient pass (r19): the bias gradient rides as bucket
      // j = −1 beside the feature buckets — one collect per iteration
      // instead of two, with bit-identical sums (exact longs, the
      // per-branch expressions unchanged: Σ err and Σ err·x)
      val grads = errs
        .select(lit(-1).as("j"), col("__err").as("__contrib"))
        .unionByName(errs.join(f, Seq("doc"))
          .select(col("j"), (col("__err") * col("x")).as("__contrib")))
        .groupBy(col("j"))
        .agg(sum(col("__contrib")).cast("long").as("__g"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val w2 = w.clone()
      grads.foreach { case (j, g) =>
        if (j >= 0) w2(j) = w2(j) - g / denom }
      w = w2
      b = b - grads.getOrElse(-1, 0L) / denom
    }
    Model(dim, b, w)
  }

  /** p_micro = clamp(margin DIV 4 + 500000, 0, 10⁶) — the hard
    * sigmoid in micros. */
  private def clampP(marginMicro: Column): Column =
    least(greatest(divTrunc4(marginMicro) + 500000L, lit(0L)),
      lit(1000000L))

  /** Score every document: (doc, score ∈ [0,1] at micro precision,
    * pred = score ≥ 0.5). One featurize pass + one doc aggregate —
    * token-less docs score at the bias. */
  def score(docs: DataFrame, idCol: String, textCol: String,
            model: Model): DataFrame = {
    val f = featurize(docs, idCol, textCol, model.dim)
    docs.select(col(idCol).as("doc"))
      .join(dotPerDoc(f, model.weightsMicro), Seq("doc"), "left")
      .select(col("doc"),
        clampP(lit(model.biasMicro) + coalesce(col("__dot"), lit(0L)))
          .as("__p"))
      .select(col("doc"),
        col("__p").cast("double").divide(lit(1000000.0)).as("score"),
        (col("__p") >= 500000L).as("pred"))
  }

  /** Persist a model as a tiny parquet of (j, w_micro) with the bias
    * at j = −1 ([[PqIndex.saveModel]]'s shape). */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: Model,
                path: String): Unit = {
    import spark.implicits._
    val rows = (-1, model.biasMicro) +:
      model.weightsMicro.toSeq.zipWithIndex.map { case (w, j) => (j, w) }
    rows.toDF("j", "w_micro").coalesce(1)
      .write.mode("overwrite").parquet(path)
  }

  /** Load + structural validation: exactly one bias row, contiguous
    * feature ids 0..dim-1. */
  def loadModel(spark: org.apache.spark.sql.SparkSession,
                path: String): Model = {
    val rows = org.apache.spark.sql.graftshim.ManifestRelation
      .readParquet(spark, path)
      .select(col("j").cast("int"), col("w_micro").cast("long"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    require(rows.nonEmpty && rows.head._1 == -1,
      s"QualityClassifier.loadModel: no bias row (j = -1) at $path")
    val ws = rows.tail
    val dim = ws.length
    require(ws.map(_._1).sameElements(0 until dim),
      s"QualityClassifier.loadModel: non-contiguous feature ids at $path")
    Model(dim, rows.head._2, ws.map(_._2))
  }
}
