package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Link-graph authority for crawl prioritization — fixed-iteration
  * damped PageRank (Page, Brin, Motwani & Winograd, "The PageRank
  * Citation Ranking", Stanford tech report 1999 — public literature)
  * over an edge list, the signal a frontier uses to decide WHICH of
  * the billion known-but-unfetched URLs to spend fetch budget on
  * (composes with [[graft.streaming.UrlFrontier]] and the
  * [[CrawlPolicy]] gate: frontier supplies candidates, robots filters,
  * authority orders).
  *
  * Exact integer protocol (engine-portable by construction — no float
  * accumulates across iterations): ranks live as long MICROS starting
  * at 1.000000 per node; each iteration a node's contribution per
  * out-edge is `rank_micro DIV out_degree` (integer division), and the
  * new rank is `(100−d)·10⁴ + (d · Σ contribs) DIV 100` for damping
  * percent d — every step is integer arithmetic both engines state
  * verbatim, so a 3-iteration oracle matches hash-exact. Dangling-node
  * mass evaporates (the standard simplification; ranks are relative
  * authority, not a normalized distribution — documented, not hidden).
  *
  * Scale shape (100 TB): per iteration ONE src-keyed join (ranks ⋈
  * edges ⋈ out-degrees) and ONE dst-keyed partial-aggregated shuffle —
  * the contribution sum combines map-side, so the exchange carries
  * ≤ |nodes| rows per partition, never |edges|. Iterations are a
  * BOUNDED driver loop with localCheckpoint between rounds (the
  * connected-components discipline: lineage stays O(1), each round's
  * shuffle is independent). Edges dedupe once up front (multi-edges
  * would double-count contributions). */
object LinkGraph {

  /** Fixed-iteration loops (pageRank/personalizedPageRank/
    * labelPropagation) chain rounds LAZILY and only localCheckpoint
    * every CkptEvery-th round (r18): no driver decision happens inside
    * those loops and each round's frame has exactly one consumer, so
    * the per-round eager materialization was pure barrier cost; the
    * periodic checkpoint keeps lineage/plan depth bounded for the loud
    * 50-iteration cap. */
  val CkptEvery: Int = 8

  /** @param edges any frame with `srcCol`/`dstCol` (cast to string);
    *              null endpoints drop, duplicates collapse
    * @param iters fixed iteration count (bounded loudly — authority
    *              ranking stabilizes in a few rounds; convergence
    *              detection would cost an action per round)
    * @param dampingPct damping factor as an integer percent (85 = the
    *              canonical 0.85) so the protocol stays integer-exact
    * @return (node, rank) — rank in units of the 1.0 initial mass */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && iters <= 50,
      s"pageRank: iters must be in [1, 50]: $iters — each iteration is " +
        "a full shuffle round; raise the bound deliberately if needed")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"pageRank: dampingPct must be in [0, 100]: $dampingPct")
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    // out-degree folds INTO the edge frame once, pre-partitioned on
    // src — the loop pays one join per iteration instead of two, and
    // the repartition-then-localCheckpoint preserves HashPartitioning
    // through the LogicalRDD, so each round's src-join re-shuffles
    // only the |nodes|-row rank frame, never the edge list
    // (interleaved same-JVM A/B at 1M nodes / 8M edges / 3 iters:
    // 22.1 → 7.3 s, 3.0× — SCALE.md round 14; the edge re-shuffle per
    // round was the dominant cost, not the extra join)
    val ed = e
      .join(e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
        .hint("shuffle_hash"), Seq("src"))
      .repartition(col("src"))
      .localCheckpoint()
    val baseMicro = (100L - dampingPct) * 10000L
    var rank = nodes.select(col("node"), lit(1000000L).as("__rm"))
    // shuffle_hash on the node-sized side of the degree join and both
    // per-round joins: unhinted, AQE broadcasts these small frames, one
    // broadcast job per join per round. sf0.1 A/B (4 cores, 3 runs a
    // side, warm median): q174 0.72 s hinted vs 0.90 s unhinted, traced
    // build_jobs 8 vs 9; q194 (personalizedPageRank) 0.77 vs 0.90 s.
    //
    // Periodic (not per-round) checkpoint (r18): this loop makes NO
    // driver decision, and rank_{i-1} has exactly ONE consumer in
    // rank_i's plan — so rounds chain LAZILY without recompute and the
    // per-round materialization barrier (an eager driver job each
    // iteration) collapses into one job per CkptEvery rounds. The
    // checkpoint every 8th round still bounds lineage/plan depth for
    // iters up to the loud cap of 50. hopDistance cannot do this (dist
    // feeds BOTH union sides — lazy chaining would recompute 2^k times);
    // HITS cannot (per-half-step driver max); components cannot (per-2-hop
    // driver checksum decides convergence).
    for (i <- 1 to iters) {
      val contrib = ed
        .join(rank.select(col("node").as("src"), col("__rm"))
          .hint("shuffle_hash"), Seq("src"))
        .select(col("dst"), expr("__rm DIV __deg").as("__c"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__s"))
      val next = nodes
        .join(contrib.select(col("dst").as("node"), col("__s"))
          .hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          (lit(baseMicro) +
            expr(s"($dampingPct * coalesce(__s, 0L)) DIV 100"))
            .as("__rm"))
      rank = if (i % CkptEvery == 0 && i < iters) next.localCheckpoint()
             else next
    }
    rank.select(col("node"),
      col("__rm").cast("double").divide(lit(1000000.0)).as("rank"))
  }

  /** Per-node link reciprocity: how much of a node's out-linking is
    * returned (Garlaschelli & Loffredo, "Patterns of Link Reciprocity
    * in Directed Networks", PRL 2004 — public literature). Organic
    * web linking is weakly reciprocal; near-1.0 reciprocity across a
    * host cluster is the mutual-admiration link-scheme smell, the
    * directed complement of [[triangles]]' undirected density.
    *
    * Exact: dedup directed edges, drop self-loops; an edge u→v is
    * reciprocated iff v→u exists (ONE left-semi self-join on the
    * reversed edge list); per-node out-degree, reciprocated count,
    * and ratio (the only float). Every shuffle keyed; nothing wider
    * than the edge list.
    *
    * @return (node, out_degree, n_reciprocated, reciprocity). */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String)
  : DataFrame = {
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    val recip = e.join(
      e.select(col("dst").as("src"), col("src").as("dst")),
      Seq("src", "dst"), "left_semi")
    e.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("out_degree"))
      .join(recip.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("n_reciprocated")), Seq("node"), "left")
      .select(col("node"), col("out_degree"),
        coalesce(col("n_reciprocated"), lit(0L)).as("n_reciprocated"))
      .withColumn("reciprocity",
        col("n_reciprocated").cast("double") /
          col("out_degree").cast("double"))
  }

  /** Minimum DIRECTED hop distance from a seed set, bounded at
    * `maxHops` — the crawl-depth primitive ("fetch nothing more than
    * k clicks from the seeds", the depth cut every focused crawler
    * pairs with [[personalizedPageRank]]'s authority cut). Plain
    * bulk-synchronous BFS: distance 0 at the seeds, each round every
    * reached node relaxes its out-neighbors to dist+1, min wins;
    * exactly `maxHops` rounds, so the result is deterministic and an
    * unrolled SQL oracle replays it. Nodes not reached within the
    * bound are ABSENT (the crawler's drop set), including seeds that
    * never appear in the edge list (documented: the output is graph
    * reachability, not seed echo).
    *
    * Scale shape: per round one src-keyed join of the REACHED set
    * against the edge list + one min-combining HashAggregate
    * (≤ |reached| rows per shuffle), bounded driver loop,
    * localCheckpoint per round. This re-relaxes the whole reached set
    * each round (simple, exact); for deep bounds a frontier-delta
    * variant saves work, but crawl depth cuts are small (≤ ~6) and
    * the re-relax keeps the round a pure idempotent min — documented
    * trade, not an accident. */
  def hopDistance(edges: DataFrame, srcCol: String, dstCol: String,
                  seeds: Seq[String], maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 20,
      s"hopDistance: maxHops must be in [1, 20]: $maxHops — each hop " +
        "is a shuffle round; raise the bound deliberately if needed")
    require(seeds.nonEmpty && seeds.size <= 10000,
      s"hopDistance: seed set must be non-empty and <= 10000 " +
        s"(got ${seeds.size}) — it broadcasts as a literal")
    require(seeds.distinct.size == seeds.size,
      "hopDistance: duplicate seeds")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      // src-partitioned before the checkpoint so each relax round
      // re-shuffles only the reached set, never the edge list (the
      // pageRank 3.0× lesson, SCALE.md round 14)
      .repartition(col("src"))
      .localCheckpoint()
    val inGraph = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    var dist = inGraph.where(col("node").isin(seeds: _*))
      .select(col("node"), lit(0L).as("dist"))
      .localCheckpoint()
    for (_ <- 1 to maxHops) {
      val relaxed = e
        .join(dist.select(col("node").as("src"), col("dist")), Seq("src"))
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
      dist = dist.unionAll(relaxed)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** Personalized PageRank (Page et al. 1999 §6; Haveliwala,
    * "Topic-Sensitive PageRank", WWW 2002 — public literature): the
    * same damped iteration as [[pageRank]] but ALL teleport mass
    * returns to a seed set — authority relative to a topic anchor,
    * the signal a focused crawl ranks its frontier by ("pages the
    * seed cluster endorses, transitively") where global PageRank
    * ranks by the whole web's endorsement.
    *
    * Exact integer protocol, identical to [[pageRank]] except the
    * base term: seeds get `(100−d)·10⁴ + (d·Σ) DIV 100`, everything
    * else `(d·Σ) DIV 100`; seed ranks start at 1.000000, others 0.
    * Seeds ride as a broadcast literal IN-list, loudly bounded —
    * never a join.
    *
    * Scale shape: identical to [[pageRank]] — per iteration one
    * src-keyed join + one dst-keyed partial-aggregated shuffle,
    * bounded driver loop, localCheckpoint per round. */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
      dstCol: String, seeds: Seq[String], iters: Int,
      dampingPct: Int = 85): DataFrame = {
    require(iters >= 1 && iters <= 50,
      s"personalizedPageRank: iters must be in [1, 50]: $iters")
    require(dampingPct >= 0 && dampingPct <= 100,
      s"personalizedPageRank: dampingPct must be in [0, 100]: " +
        dampingPct)
    require(seeds.nonEmpty && seeds.size <= 10000,
      s"personalizedPageRank: seed set must be non-empty and <= " +
        s"10000 (got ${seeds.size}) — it broadcasts as a literal")
    require(seeds.distinct.size == seeds.size,
      "personalizedPageRank: duplicate seeds")
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    // degree folded into the edge frame once — [[pageRank]]'s shape
    val ed = e
      .join(e.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
        .hint("shuffle_hash"), Seq("src"))
      .repartition(col("src"))
      .localCheckpoint()
    val isSeed = col("node").isin(seeds: _*)
    val baseMicro = (100L - dampingPct) * 10000L
    var rank = nodes.select(col("node"),
      when(isSeed, lit(1000000L)).otherwise(lit(0L)).as("__rm"))
    // shuffle_hash + periodic checkpoint — [[pageRank]]'s rationale and
    // sf0.1 A/B
    for (i <- 1 to iters) {
      val contrib = ed
        .join(rank.select(col("node").as("src"), col("__rm"))
          .hint("shuffle_hash"), Seq("src"))
        .select(col("dst"), expr("__rm DIV __deg").as("__c"))
        .groupBy(col("dst")).agg(sum(col("__c")).as("__s"))
      val next = nodes
        .join(contrib.select(col("dst").as("node"), col("__s"))
          .hint("shuffle_hash"), Seq("node"), "left")
        .select(col("node"),
          (when(isSeed, lit(baseMicro)).otherwise(lit(0L)) +
            expr(s"($dampingPct * coalesce(__s, 0L)) DIV 100"))
            .as("__rm"))
      rank = if (i % CkptEvery == 0 && i < iters) next.localCheckpoint()
             else next
    }
    rank.select(col("node"),
      col("__rm").cast("double").divide(lit(1000000.0)).as("rank"))
  }

  /** HITS hubs and authorities (Kleinberg, "Authoritative Sources in
    * a Hyperlinked Environment", JACM 1999 — public literature) —
    * PageRank's complement for crawl curation: PageRank scores global
    * endorsement, HITS separates PAGES THAT POINT WELL (hubs — link
    * directories, index pages a frontier mines for URLs) from PAGES
    * POINTED AT WELL (authorities — what the corpus wants fetched).
    *
    * Exact integer protocol: hubs start at 1.000000 (micros); each
    * iteration, authority_raw(v) = Σ_{u→v} hub(u) (exact long sum),
    * rescaled to ≤ 10⁶ by TRUNCATING division with the ceiling scale
    * factor `max(1, ⌈max_raw/10⁶⌉)` — computed as `(max_raw + 10⁶−1)
    * DIV 10⁶`, integer arithmetic both engines state verbatim — then
    * hub_raw(u) = Σ_{u→v} authority(v) rescaled the same way. The L∞
    * rescale replaces the classical L2 normalize so no float ever
    * enters the loop; relative order within each side is preserved
    * exactly (a monotone map), which is what a scheduler consumes.
    * Overflow envelope: values ≤ 10⁶, so a sum needs ≥ 2⁴³ in-edges
    * on one node to overflow — documented, not checked.
    *
    * Scale shape: identical to [[pageRank]] — per half-step ONE
    * src-or-dst-keyed join + one partial-aggregated shuffle carrying
    * ≤ |nodes| rows, a bounded driver loop with localCheckpoint
    * between rounds; the per-half-step max is a 1-row collect off an
    * already-aggregated frame. */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50,
      s"hits: iters must be in [1, 50]: $iters — each iteration is " +
        "two shuffle rounds; raise the bound deliberately if needed")
    val e = edges
      .select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .localCheckpoint()
    require(e.limit(1).count() == 1L, "hits: empty edge set")
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
      .localCheckpoint()
    // one pre-partitioned copy per join orientation: the repartition-
    // then-localCheckpoint preserves HashPartitioning through the
    // LogicalRDD ([[pageRank]]'s measured 3.0× lesson, SCALE.md r14),
    // so each half-step re-shuffles only the ≤|nodes|-row score frame,
    // never the edge list
    val eSrc = e.repartition(col("src")).localCheckpoint()
    val eDst = e.repartition(col("dst")).localCheckpoint()
    def rescaled(raw0: DataFrame, valCol: String): DataFrame = {
      // lazy-checkpoint the half-step aggregate BEFORE the max collect
      // (r18): `raw` has two consumers — the max and the rescale join —
      // and un-materialized it RAN TWICE per half-step (the edge⋈score
      // join and its aggregate, re-derived for each consumer). The lazy
      // flavor caches during the max job itself, so the fix costs zero
      // extra driver jobs: max reads as it materializes, the join reads
      // the cached blocks.
      val raw = raw0.localCheckpoint(false)
      val mx = raw.agg(max(col(valCol))).collect()(0).getLong(0)
      val denom = math.max(1L, (mx + 999999L) / 1000000L)
      nodes.join(raw.withColumnRenamed(valCol, "__raw"),
          Seq("node"), "left")
        .select(col("node"),
          expr(s"coalesce(__raw, 0L) DIV $denom").as(valCol))
        .localCheckpoint(false)
    }
    var hub = nodes.select(col("node"), lit(1000000L).as("__hm"))
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      auth = rescaled(
        eSrc.join(hub.select(col("node").as("src"), col("__hm")), Seq("src"))
          .groupBy(col("dst")).agg(sum(col("__hm")).as("__am"))
          .withColumnRenamed("dst", "node"), "__am")
      hub = rescaled(
        eDst.join(auth.select(col("node").as("dst"), col("__am")), Seq("dst"))
          .groupBy(col("src")).agg(sum(col("__am")).as("__hm"))
          .withColumnRenamed("src", "node"), "__hm")
    }
    hub.join(auth, Seq("node"))
      .select(col("node"),
        col("__hm").cast("double").divide(lit(1000000.0)).as("hub"),
        col("__am").cast("double").divide(lit(1000000.0))
          .as("authority"))
  }

  /** Synchronous label propagation for community detection (Raghavan,
    * Albert & Kumara, Phys. Rev. E 76, 2007 — public literature),
    * made DETERMINISTIC: labels start as the node's own id; each
    * round every node adopts the most frequent label among its
    * NEIGHBORS, ties broken toward the lexicographically smallest
    * label; a fixed iteration count (classic LPA's stochastic
    * update order and random tie-breaks are replaced by the
    * bulk-synchronous min-tie rule, so the result is partitioning-
    * invariant and oracle-replayable). Communities are the label
    * groups — the mutual-link ring a crawl curator wants to treat as
    * ONE entity, where [[Dedup]]'s connected components merge
    * anything touching and [[kCorePeel]] keeps only the dense part.
    *
    * Mode-with-deterministic-tie is computed without any max_by
    * (whose ties are nondeterministic in a distributed agg): per
    * round, (node, label) vote counts, then ONE argmax-min aggregate —
    * `min(struct(−count, label))` is a total order (largest count,
    * then smallest label), so it is deterministic where max_by is not
    * and replaces the earlier per-node-max + join-back + min(label)
    * chain (one aggregate instead of two aggregates and a join, and
    * `votes` becomes single-consumer so the per-round materialization
    * barrier goes too; interleaved same-JVM A/B at 1M nodes / 8M
    * edges / 2 iters: 30.2 → 21.2 s — SCALE.md round 14, separate-
    * session medians were ±15% ambient and could not resolve it).
    * The neighbor join runs over a both-direction adjacency
    * built and hash-partitioned on the neighbor key ONCE before the
    * loop (the [[graft.operators.Dedup]] directedEdges discipline).
    * Every shuffle keyed and ≤ |edge-endpoint| rows; bounded driver
    * loop, localCheckpoint per round. */
  def labelPropagation(edges: DataFrame, srcCol: String,
                       dstCol: String, iters: Int): DataFrame = {
    require(iters >= 1 && iters <= 50,
      s"labelPropagation: iters must be in [1, 50]: $iters")
    val e = undirected(edges, srcCol, dstCol)
    val adj = e.select(col("u").as("nbr"), col("v").as("node"))
      .unionAll(e.select(col("v").as("nbr"), col("u").as("node")))
      .repartition(col("nbr"))
      .localCheckpoint()
    val nodes = adj.select(col("node")).distinct().localCheckpoint()
    var lab = nodes.select(col("node"), col("node").as("label"))
    // lazy round chaining + periodic checkpoint — [[pageRank]]'s r18
    // rationale (fixed iters, single consumer per round)
    for (i <- 1 to iters) {
      val next = adj
        .join(lab.select(col("node").as("nbr"), col("label")), Seq("nbr"))
        .select(col("node"), col("label"))
        .groupBy(col("node"), col("label"))
        .agg(count(lit(1)).as("__c"))
        .groupBy(col("node"))
        .agg(min(struct((-col("__c")).as("nc"), col("label").as("l")))
          .as("__b"))
        .select(col("node"), col("__b").getField("l").as("label"))
      lab = if (i % CkptEvery == 0 && i < iters) next.localCheckpoint()
            else next
    }
    lab.select(col("node"), col("label").as("community"))
  }

  /** One peeling pass of the k-core iteration, `rounds` times: each
    * round drops every node whose CURRENT degree is below k along
    * with its incident edges (Seidman, "Network structure and minimum
    * degree", Social Networks 1983; the Batagelj–Zaveršnik peel as a
    * bounded bulk-synchronous loop). Fixed round count makes the
    * result deterministic and SQL-oracle-replayable whether or not
    * the peel has converged. Dense cores survive peeling — link farms and mutual-
    * admiration rings hold high k-cores while organically-linked
    * pages shed early, making core number the third crawl-curation
    * graph signal next to [[pageRank]]/[[hits]] (endorsement) and
    * [[triangles]] (local density).
    *
    * Scale shape: the edge list is hash-partitioned on `u` ONCE at
    * entry; per round ONE degree aggregation (map-side combined,
    * ≤ |nodes| rows shuffle) + two BROADCAST anti-joins against the
    * round's dead node set — the edge frame itself never re-shuffles
    * (the per-round dead delta is node-sized and usually tiny; a
    * mass-extinction round past the broadcast cap falls back to
    * alive-semi-joins and re-partitions once). Bounded driver loop,
    * localCheckpoint per round. Exact integer degrees; no floats
    * anywhere.
    *
    * @return (node, degree) — nodes still alive after `rounds` peels,
    *         with their degree in the surviving subgraph. */
  def kCorePeel(edges: DataFrame, srcCol: String, dstCol: String,
                k: Int, rounds: Int): DataFrame = {
    require(k >= 1, s"kCorePeel: k must be >= 1: $k")
    require(rounds >= 1 && rounds <= 100,
      s"kCorePeel: rounds must be in [1, 100]: $rounds")
    var e = undirected(edges, srcCol, dstCol, partitionOnU = true)
    for (_ <- 1 to rounds) e = peelOnce(e, k)
    degrees(e)
  }

  /** Link prediction by shared neighborhood — common-neighbor count
    * and the resource-allocation index (Zhou, Lü & Zhang, "Predicting
    * missing links via local information", Eur. Phys. J. B 2009 —
    * public literature; the degree-penalized cousin of Adamic–Adar):
    * for a non-adjacent pair (a, b), RA = Σ_{v ∈ N(a)∩N(b)} 1/deg(v).
    * For a crawl curator this surfaces the host pairs the link graph
    * "almost" connects — related-domain suggestion, and (run on the
    * TOP of the score range) the mutual-neighborhood smell that
    * precedes a link farm's next edge. RA over Adamic–Adar is a
    * deliberate protocol choice: 1/deg needs no logarithm, so the
    * per-neighbor term is exact integer micros (`1000000 DIV deg`)
    * and the pair score an exact integer SUM — engine-portable with
    * no libm-ulp risk, same ranking behavior.
    *
    * Scale: wedges are generated from their CENTER v, so the fan-out
    * is Σ deg(v)² — quadratic in hub degree on a web graph. `maxDeg`
    * drops hub centers LOUDLY (a super-hub's endorsement is the
    * weakest evidence anyway — RA scores it 1/deg ≈ 0 — so capping
    * trades negligible score mass for the quadratic bound; capped
    * centers are simply absent from every pair's sum, documented).
    * Existing edges anti-join away; the global top-k is a
    * TakeOrderedAndProject, never a full sort.
    *
    * @return (node_a, node_b, common_neighbors, ra_micro) — canonical
    *         a < b, top `topK` by (ra_micro desc, common desc, a, b). */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     maxDeg: Int, topK: Int): DataFrame = {
    require(maxDeg >= 2 && maxDeg <= 1000000,
      s"linkPrediction: maxDeg must be in [2, 1000000]: $maxDeg")
    require(topK >= 1 && topK <= 1000000,
      s"linkPrediction: topK must be in [1, 1000000]: $topK")
    val e = undirected(edges, srcCol, dstCol)
    val deg = degrees(e).localCheckpoint()
    // neighbor lists keyed by the wedge CENTER, center degree bounded
    val nbr = e.select(col("u").as("c"), col("v").as("n"))
      .unionAll(e.select(col("v").as("c"), col("u").as("n")))
      .join(deg.select(col("node").as("c"), col("degree")), Seq("c"))
      .where(col("degree") <= maxDeg)
      .select(col("c"), col("n"),
        expr("1000000 DIV degree").as("__ra"))
    val pairs = nbr.select(col("c"), col("n").as("a"), col("__ra"))
      .join(nbr.select(col("c"), col("n").as("b")), Seq("c"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common_neighbors"),
        sum(col("__ra")).as("ra_micro"))
    pairs
      .join(e.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
      .select(col("a").as("node_a"), col("b").as("node_b"),
        col("common_neighbors"), col("ra_micro"))
      .orderBy(col("ra_micro").desc, col("common_neighbors").desc,
        col("node_a"), col("node_b"))
      .limit(topK)
  }

  /** `partitionOnU` hash-partitions the canonical edge list on `u`
    * INSIDE the same materialization job (one extra exchange after the
    * distinct, zero extra passes) — the peel loop's entry shape: the
    * partitioning survives localCheckpoint, so every later
    * u-keyed filter of the edge frame reuses it instead of
    * re-shuffling the edges (the round-14 iterative-graph discipline,
    * extended to the one graph op whose edge set MUTATES per round). */
  private def undirected(edges: DataFrame, srcCol: String,
                         dstCol: String,
                         partitionOnU: Boolean = false): DataFrame = {
    val canonical = edges
      .select(col(srcCol).cast("string").as("u"),
        col(dstCol).cast("string").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    (if (partitionOnU) canonical.repartition(col("u")) else canonical)
      .localCheckpoint()
  }

  private def degrees(e: DataFrame): DataFrame =
    e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))

  /** Drop sub-k nodes and their incident edges, once. The DEAD node
    * set — the per-round delta, usually tiny — drives the edge filter,
    * not the alive set: dead broadcasts, so both incident-edge filters
    * are broadcast anti-joins that keep the edge frame IN PLACE (no
    * edge shuffle, u-partitioning preserved through the checkpoint for
    * the next round's degree aggregation). A round that kills more
    * nodes than the broadcast cap falls back to alive-semi-joins and
    * restores the u-partitioning behind them — correct either way, and
    * on a converged round (no dead nodes) the frame passes through
    * untouched. */
  private def peelOnce(e: DataFrame, k: Int): DataFrame = {
    val deg = degrees(e)
    // LAZY checkpoint (r19, same trick as Dedup's convergence loops): the
    // count right below is the action that materializes the dead set, so
    // checkpoint materialization and the converged?/broadcastable?
    // decision share ONE driver job instead of two per round
    val dead = deg.where(col("degree") < k).select(col("node"))
      .localCheckpoint(false)
    // one count serves both decisions (converged? broadcastable?) —
    // a separate isEmpty + limit-probe pair costs two driver jobs per
    // round, which dominates on small graphs
    val nDead = dead.count()
    if (nDead == 0) return e // converged: nothing to rewrite
    // the surviving edge frame is also checkpointed LAZILY: its first
    // consumer is always a single driver action (the next round's
    // dead.count(), whose plan reads this frame exactly once), so the blocks cache during
    // that job and every later consumer (degrees + both join sides)
    // reads blocks, never recomputes. 2 driver jobs/round → 1.
    if (nDead <= IvfIndex.MaxBroadcastQueries) {
      e.join(broadcast(dead.select(col("node").as("u"))), Seq("u"), "left_anti")
        .join(broadcast(dead.select(col("node").as("v"))), Seq("v"), "left_anti")
        .select(col("u"), col("v"))
        .localCheckpoint(false)
    } else {
      val alive = deg.where(col("degree") >= k).select(col("node"))
      e.join(alive.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(alive.select(col("node").as("v")), Seq("v"), "left_semi")
        .select(col("u"), col("v"))
        .repartition(col("u"))
        .localCheckpoint(false)
    }
  }

  /** Per-node triangle counts and local clustering coefficient over
    * the UNDIRECTED link graph — the community-structure signal a
    * crawl curator uses to spot link farms (dense mutual-link cliques
    * → clustering ≈ 1 at scale is a spam smell) and to weight
    * authority flows. Degree-ordered enumeration (Cohen, "Graph
    * Twiddling in a MapReduce World", Computing in Science &
    * Engineering 2009; Suri & Vassilvitskii, WWW 2011 — public
    * literature): orient every undirected edge from its canonically
    * smaller endpoint — (degree, node) lexicographic — so each
    * triangle is generated EXACTLY ONCE from its smallest vertex, and
    * the wedge fan-out per node is bounded by its ORIENTED out-degree
    * (O(√|E|) on any graph: a node of degree d only points at nodes
    * of degree ≥ d, and there can't be many of those). That bound is
    * the 100 TB story: the wedge join's shuffle is Σ outdeg², which
    * degree-ordering caps, where naive wedge generation is Σ deg² —
    * quadratic in the hub degree on a power-law web graph.
    *
    * Exactness: counts are exact integers; `clustering` =
    * 2T/(d·(d−1)) is the only float (one IEEE expression, 0.0 when
    * d < 2). Direction, multiplicity, and self-loops are collapsed
    * before counting.
    *
    * Shape: edge dedup + two degree joins + one wedge self-join +
    * one closing-edge join + a 3-way explode into a node-keyed
    * count — every shuffle keyed and partial-aggregated, nothing
    * corpus-sized beyond the edge list itself. */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String)
  : DataFrame = {
    val und = undirected(edges, srcCol, dstCol)
    val deg = degrees(und).localCheckpoint()
    // canonical order: (degree, node); orient low -> high
    def lt(d1: Column, n1: Column, d2: Column, n2: Column): Column =
      d1 < d2 || (d1 === d2 && n1 < n2)
    val withDeg = und
      .join(deg.select(col("node").as("u"), col("degree").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("degree").as("dv")), Seq("v"))
    val oriented = withDeg.select(
      when(lt(col("du"), col("u"), col("dv"), col("v")), col("u"))
        .otherwise(col("v")).as("a"),
      when(lt(col("du"), col("u"), col("dv"), col("v")), col("v"))
        .otherwise(col("u")).as("b"),
      when(lt(col("du"), col("u"), col("dv"), col("v")), col("dv"))
        .otherwise(col("du")).as("db"))
      .localCheckpoint()
    // wedges from each smallest vertex: (a; b1 < b2 canonically) —
    // the closing edge, if present, is oriented exactly b1 -> b2
    val e1 = oriented.select(col("a"), col("b").as("b1"),
      col("db").as("db1"))
    val e2 = oriented.select(col("a"), col("b").as("b2"),
      col("db").as("db2"))
    val wedges = e1.join(e2, Seq("a"))
      .where(lt(col("db1"), col("b1"), col("db2"), col("b2")))
    val tri = wedges.join(
      oriented.select(col("a").as("b1"), col("b").as("b2")),
      Seq("b1", "b2"))
      .select(col("a"), col("b1"), col("b2"))
    val perNode = tri
      .select(explode(array(col("a"), col("b1"), col("b2"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("clustering",
        when(col("degree") < 2L, lit(0.0))
          .otherwise(col("n_triangles").cast("double") * 2.0 /
            (col("degree").cast("double") *
              (col("degree").cast("double") - 1.0))))
  }
}
